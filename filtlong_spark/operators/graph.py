"""Host-graph link analysis: integer PageRank over the crawl's
host-to-host link graph — the classic 'rank domains by link authority'
signal a web pipeline feeds into host-level quality gates (alongside
partitioning.host_quality_gate, which ranks by content).

Design for cross-engine exactness: PageRank in FLOATING POINT cannot be
oracle-checked bit-for-bit (grouped double sums re-associate differently
across engines/partitionings), so ranks are fixed-point INTEGERS at
SCALE = 10^12: r0 = SCALE // n_hosts, and each of the K synchronous
iterations computes

    r'(v) = (15 * SCALE) // (100 * n) + (85 * sum_{u->v} (r(u) // deg(u))) // 100

— floor division and exact int64 sums only (max rank < 10^12 and
85 * sum < 10^13 << 2^63), so Spark, DuckDB (mirrored as an unrolled
CTE chain), and plain Python agree exactly. The floor truncation loses
mass (<1 unit per edge per iteration), as do sink hosts with no
outlinks (no dangling-mass redistribution) — both irrelevant for a
ranking signal and the price of determinism; total mass only ever
decreases (pytest-asserted).

Scale shape: the host graph is tiny relative to the corpus (one row per
distinct host, one per distinct host-pair edge), built by one
doc-grain-to-host-grain aggregate; each iteration is one equi-join
(ranks x edges on src) + one hash aggregate on dst — both at HOST
grain. Lineage is truncated with an eager localCheckpoint every
iteration, so the plan never grows with K (the dedup_groups
pointer-jumping precedent, operators/dedup.py). Analog slot: the
reference has no graph stage; this is the web-pipeline extension the
host gate's 'derive domain quality from data' idea completes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 10 ** 12


def host_edges(docs: DataFrame, host_col: str = "source",
               key: str = "doc_id") -> DataFrame:
    """Deterministic host->host edge table derived from the documents
    table (the testdata carries no html/outlinks, so the edge for each
    doc points at the host selected by the doc key's md5 over the
    sorted distinct host list — a fixed, engine-mirrorable stand-in for
    parsed outlinks; swap in a real (src_host, dst_host) extraction
    when html is present). Returns DISTINCT (src, dst) pairs."""
    hosts = (docs.select(F.col(host_col).alias("dst")).distinct())
    from pyspark.sql import Window
    w = Window.orderBy("dst")
    idx = hosts.withColumn("idx", F.row_number().over(w) - 1)
    n = idx.count()
    pick = (F.conv(F.substring(
                F.md5(F.col(key).cast("string").cast("binary")), 1, 15),
                16, 10).cast("long") % n)
    doc_edges = docs.select(F.col(host_col).alias("src"),
                            pick.alias("idx"))
    return (doc_edges.join(F.broadcast(idx), "idx")
            .select("src", "dst").distinct())


def pagerank_int(edges: DataFrame, iterations: int = 10,
                 checkpoint_every: int = 4) -> DataFrame:
    """Synchronous integer PageRank over DISTINCT (src, dst) edges.
    Every host appearing as src or dst is a node. Returns
    (host, rank) with rank the fixed-point integer after
    ``iterations`` steps. Deterministic: identical across runs,
    partitionings, and engines (mirrored by the host_rank oracle's
    recursive CTE)."""
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    edges = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (edges.select(F.col("src").alias("host"))
             .unionByName(edges.select(F.col("dst").alias("host")))
             .distinct().localCheckpoint(eager=True))
    n = nodes.count()
    # deg is loop-invariant: attach it to the edge table ONCE instead
    # of re-joining it inside every iteration (10 broadcast joins ->
    # one pre-joined, materialized table; inner join is lossless here
    # because every edge's src has a degree row by construction); an
    # eager checkpoint is a Spark job, so skip it when no round reads it
    if iterations:
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        edges_deg = (edges.join(deg, "src").select("src", "dst", "deg")
                     .localCheckpoint(eager=True))
    base = (15 * PR_SCALE) // (100 * n)
    ranks = nodes.withColumn("rank", F.lit(PR_SCALE // n))
    for it in range(iterations):
        # `div`, never `/`: long / long in Spark is a DOUBLE divide and
        # its correctly-rounded result can cross an integer boundary
        # that exact floor division does not — `div` stays integral
        contrib = (ranks.join(edges_deg, ranks["host"] == edges_deg["src"])
                   .select(F.col("dst").alias("host"),
                           F.expr("rank div deg").alias("share"))
                   .groupBy("host").agg(F.sum("share").alias("inflow")))
        ranks = (nodes.join(contrib, "host", "left")
                 .na.fill({"inflow": 0})
                 .select("host",
                         (F.lit(base)
                          + F.expr("(85 * inflow) div 100"))
                         .alias("rank")))
        # truncate lineage every few rounds: K iterations must not
        # stack K joins into one plan, but an EAGER checkpoint is a
        # full job — at host grain the iteration latency was dominated
        # by the 8 sequential checkpoint jobs, so truncate every
        # checkpoint_every rounds (plan depth stays bounded by that
        # constant; eager also keeps any upstream Observation sane)
        if (it + 1) % checkpoint_every == 0 or it == iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks
