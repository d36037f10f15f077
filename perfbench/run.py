"""filtlong_spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload web_intrinsic --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The benchmark generates its input from
the seed (cached under .perfbench_work/), starts a local[nproc/2] Spark
session in this process, sets it up (session start, Python worker
spawn, an untimed warm-up leg on a small slice) and then repeats the
workload's iteration (workloads.py) for --seconds. Each iteration's
survivors are fingerprinted and checked; see README.md for the metrics.

--trace 0 prints the end-to-end metrics, --trace 1 alternates untraced
and traced iterations and prints the per-layer metrics. The last line
of standard output is the JSON result.
"""

from __future__ import annotations

T_PROCESS = __import__("time").time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(HERE, "expected.json")
WARM_DOCS = 100        # size of the warm-up (and oracle-checked) slice
WARM_LEGS = 1          # untimed warm-up legs on that slice
RESUME_MIN_S = 4.0     # resume legs per iteration add up to at least this
ORACLE_COLUMNS = ["url", "n_chars", "mean_q", "window_q", "final_score",
                  "text"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="store this seed's survivor count, fingerprint and "
                        "drop counts in expected.json")
    return p.parse_args(argv)


def build_session(slots: int):
    """bench.py's session settings, with every scratch path inside the
    work directory and a 1.5 GB driver heap."""
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master(f"local[{slots}]")
             .appName("filtlong_spark_perfbench")
             .config("spark.sql.shuffle.partitions", str(slots))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                     "true")
             .config("spark.sql.autoBroadcastJoinThreshold", "64m")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
             .config("spark.sql.files.maxPartitionBytes", "16m")
             .config("spark.driver.memory", "1536m")
             .config("spark.driver.extraJavaOptions", "-Xms1536m")
             .config("spark.local.dir", os.path.join(WORK, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def survivor_rows(path: str, columns: list[str]):
    """Rows (tuples of ``columns``) of a survivor table written with
    output_ordering='partitioned': its part files, read in name order, are
    globally ordered."""
    import pyarrow.parquet as pq
    for name in sorted(f for f in os.listdir(path) if f.startswith("part-")):
        t = pq.read_table(os.path.join(path, name), columns=columns)
        yield from zip(*(t.column(c).to_pylist() for c in columns))


def fingerprint(path: str) -> tuple[int, str]:
    """(rows, sha256 over url, child_start, text in output order)."""
    h, rows = hashlib.sha256(), 0
    for url, start, text in survivor_rows(path,
                                          ["url", "child_start", "text"]):
        h.update(f"{url}\x1f{start}\x1f{text}\x1e".encode())
        rows += 1
    return rows, h.hexdigest()


def run_iteration(spark, wl, inp, jvm_pid: int, ck: str, tracer=None,
                  resume: bool = True,
                  resume_min_s: float = RESUME_MIN_S) -> dict:
    """A fresh leg, then resume legs from the snapshot it committed until
    they add up to ``resume_min_s`` (at least one), each through the
    survivor write into the run directory ``ck``. Wall, CPU and peak RSS
    are per leg; ``legs["resume"]`` is the resume leg of median wall."""
    import procstat
    from filtlong_spark.plans.pipeline import run_filter
    cfg = wl.config()
    span = tracer.span if tracer else (lambda name: nullcontext())

    def run_leg(leg):
        cpu0, rss = procstat.cpu_seconds(jvm_pid), \
            procstat.PeakRss(jvm_pid).start()
        t0 = time.perf_counter()
        with span(leg):
            with span("sources.read"):
                pages = spark.read.parquet(inp["path"])
            res = run_filter(spark, pages, cfg,
                             ref_pages=wl.ref_pages(pages),
                             checkpoint_dir=os.path.join(ck, "snapshot"))
            with span("output.survivor_write"):
                res.kept.write.mode("overwrite").parquet(
                    os.path.join(ck, f"survivors-{leg}"))
        return {"wall_s": time.perf_counter() - t0, "peak_rss": rss.stop(),
                "cpu_s": procstat.cpu_seconds(jvm_pid) - cpu0,
                "resumed": res.resumed}, res

    fresh, res = run_leg("fresh")
    out = {"legs": {"fresh": fresh}, "metrics": res.metrics,
           "fresh_result": res}
    resumes = []
    while resume and (not resumes or sum(r["wall_s"] for r in resumes)
                      < resume_min_s):
        resumes.append(run_leg("resume")[0])
    if resumes:
        median = sorted(resumes, key=lambda r: r["wall_s"])[
            (len(resumes) - 1) // 2]
        out["legs"]["resume"] = dict(
            median, resumed=all(r["resumed"] for r in resumes))
        out["resume_walls"] = [r["wall_s"] for r in resumes]
    return out


def check_iteration(wl, ck: str, out: dict) -> None:
    """Fingerprint the fresh survivors into ``out``; raise unless the
    resume leg resumed and reproduced them (and, on gated input, no
    boilerplate line survived)."""
    if out["legs"]["fresh"]["resumed"] or not out["legs"]["resume"]["resumed"]:
        raise RuntimeError("resume leg did not resume from the snapshot")
    out["survivors"], out["fingerprint"] = fingerprint(
        os.path.join(ck, "survivors-fresh"))
    if fingerprint(os.path.join(ck, "survivors-resume")) != (
            out["survivors"], out["fingerprint"]):
        raise RuntimeError("resumed survivors differ from fresh ones")
    if wl.input_kind == "gated":
        check_boilerplate_removed(os.path.join(ck, "survivors-fresh"))
    out["snapshot_rows"] = sum(
        p["n_docs"] for p in out["metrics"]["partitions"].values())


def count_drops(it: dict) -> None:
    """Quarantined ingest rows by reason and langid rejects of the fresh
    leg (two Spark jobs; run outside the timed and traced windows)."""
    from pyspark.sql import functions as F
    res = it["fresh_result"]
    # the filter prunes the gates' quarantine branches from the plan
    it["quarantine"] = {r["reason"]: r["count"] for r in
                        res.quarantine.filter(F.col("reason").isin(
                            *INGEST_REASONS)).groupBy("reason").count()
                        .collect()}
    it["langid_rejected"] = res.lang_rejected.count()


INGEST_REASONS = ("empty_text", "null_text", "duplicate_url",
                  "duplicate_canonical_url")


def new_run_dir() -> str:
    return tempfile.mkdtemp(prefix="iter-", dir=os.path.join(WORK, "runs"))


def check_boilerplate_removed(path: str) -> None:
    import inputs
    boiler = set(inputs.BOILERPLATE)
    for (text,) in survivor_rows(path, ["text"]):
        if boiler & set(text.split("\n")):
            raise RuntimeError("a boilerplate line survived line dedup")


def drops(it: dict) -> dict:
    """Rows each gate dropped in one fresh leg (after count_drops)."""
    m, q = it["metrics"], it["quarantine"]
    return {"ingest": sum(q.values()),
            "blocklist": m.get("blocklist_dropped") or 0,
            "near_dup": m.get("near_dup_dropped") or 0,
            "classifier": m.get("clf_dropped") or 0,
            "langid": it["langid_rejected"]}


def check_drops(wl, inp, it: dict) -> list[str]:
    """Every gate of web_gated must drop a nonzero share near what the
    generator planted (loose bounds; the default seed is checked exactly
    against expected.json)."""
    if wl.input_kind != "gated":
        return []
    t, d = inp["truth"], drops(it)
    planted = t["planted"]
    want = {"ingest": planted.get("empty_text", 0)
            + planted.get("duplicate_url", 0) + planted.get("url_variant", 0),
            "blocklist": t["blocklisted_host_rows"],
            "near_dup": planted.get("near_copy", 0),
            "classifier": planted.get("spam", 0),
            "langid": planted.get("german", 0)}
    return [f"{k}: dropped {d[k]}, planted ~{want[k]}" for k in want
            if not (0 < d[k] and 0.5 * want[k] <= d[k] <= 1.5 * want[k] + 10)]


def oracle_check(wl, warm, got: list | None) -> list[str]:
    """Row-for-row comparison of the warm-up's survivors (``got``, in
    ORACLE_COLUMNS order) with oracle.py on the same slice."""
    if got is None:
        return []
    from filtlong_spark import oracle

    import inputs
    rows = inputs.read_rows(warm["path"], WARM_DOCS)
    exp = [(d.url, d.n_chars, d.mean_q, d.window_q, d.final_score, d.text)
           for d in oracle.run_pipeline(
               rows, wl.config(),
               ref_rows=rows if wl.self_reference else None).kept]
    if not exp:
        return ["oracle kept nothing on the slice"]
    return [] if got == exp else [
        f"oracle slice mismatch: spark kept {len(got)}, oracle {len(exp)}"]


def expected_check(wl, seed: int, its: list[dict], counted: dict,
                   record: bool) -> list[str]:
    """All iterations agree; at a recorded seed they match expected.json."""
    keys = [(it["survivors"], it["fingerprint"],
             json.dumps(it["metrics"]["partitions"], sort_keys=True))
            for it in its]
    errors = [] if len(set(keys)) == 1 else [
        "survivors differ between iterations"]
    book = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            book = json.load(f)
    entry = {"docs": wl.docs, "survivors": its[0]["survivors"],
             "fingerprint": its[0]["fingerprint"], "drops": drops(counted)}
    key = f"{wl.name}/seed{seed}"
    if record:
        book[key] = entry
        with open(EXPECTED, "w") as f:
            json.dump(book, f, indent=2, sort_keys=True)
            f.write("\n")
    elif key in book and book[key]["docs"] == wl.docs and book[key] != entry:
        errors.append(f"{key}: got {entry}, expected {book[key]}")
    return errors


def end_to_end(wl, setup_s: float, its: list[dict]) -> dict:
    fresh = [it["legs"]["fresh"] for it in its]
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (statistics.median(wl.docs / f["wall_s"]
                                         for f in fresh), "1/s"),
        "cpu_s_per_kdoc": (statistics.median(f["cpu_s"] / (wl.docs / 1e3)
                                  for f in fresh), "s/kdoc"),
        "resume_s": (statistics.median(it["legs"]["resume"]["wall_s"]
                                       for it in its),
                     "s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "filtlong_spark", "plans",
                                       "pipeline.py")):
        print(f"error: no filtlong_spark package under {ROOT}; run from "
              "the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    for sub in ("tmp", "runs", "inputs", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # the JVMs (spark-submit's launcher too) and the Python workers
    # inherit these: no scratch or perf-data files outside WORK
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    tempfile.tempdir = None

    import inputs
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    t = time.time()
    inp = inputs.materialize(os.path.join(WORK, "inputs"), wl.input_kind,
                             wl.docs, args.seed)
    warm = inputs.materialize(os.path.join(WORK, "inputs"), wl.input_kind,
                              WARM_DOCS, args.seed + 1_000_003)
    gen_s = time.time() - t

    cpus = len(os.sched_getaffinity(0))
    # a task of a Python node keeps its JVM thread and its Python worker
    # busy at once, so half as many task slots as cores fill the cores
    slots = max(1, cpus // 2)
    spark = None
    try:
        spark = build_session(slots)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        # with --trace 1 the first, untraced iteration stands in for the
        # warm-up leg
        warm_s, kept = warm_up(spark, wl, warm, jvm_pid,
                               WARM_LEGS - args.trace)
        setup_s = time.time() - T_PROCESS - gen_s
        result = measure(spark, wl, inp, jvm_pid, args,
                         oracle_check(wl, warm, kept))
    finally:
        if spark is not None:
            stop(spark)
    its = result.pop("its")
    if args.trace:
        metrics = result.pop("layers")
    else:   # no metrics when every iteration failed
        metrics = end_to_end(wl, setup_s, its) if its else {}
    result["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in metrics.items()}
    print(f"# {wl.name} seed={args.seed} docs={wl.docs} cpus={cpus} "
          f"task_slots={slots} "
          f"input_gen_s={gen_s:.2f} setup_s={setup_s:.2f} "
          f"warm_up_s={warm_s:.2f}")
    print(f"# fresh_s over {len(its)} untraced iterations: "
          f"{[round(it['legs']['fresh']['wall_s'], 3) for it in its]}")
    print(f"# resume legs' wall per iteration: "
          f"{[[round(w, 3) for w in it['resume_walls']] for it in its]}")
    print(json.dumps(result))
    return 0


def warm_up(spark, wl, warm, jvm_pid: int,
            legs: int) -> tuple[float, list | None]:
    """``legs`` untimed fresh legs of the workload's own configuration
    (every gate included) on the small slice, so that the timed legs run
    warm. Returns their wall and, for the oracle check, the last leg's
    survivors."""
    warm_s, kept = 0.0, None
    for _ in range(legs):
        ck = new_run_dir()
        try:
            warm_s += run_iteration(spark, wl, warm, jvm_pid, ck,
                                    resume=False)["legs"]["fresh"]["wall_s"]
            kept = list(survivor_rows(os.path.join(ck, "survivors-fresh"),
                                      ORACLE_COLUMNS)) if wl.oracle else None
        finally:
            shutil.rmtree(ck, ignore_errors=True)
    return warm_s, kept


def candidate_pairs(docs_df, inp) -> tuple[int, float]:
    """(LSH candidate pairs, share of them inside a planted near-copy
    family) over the pages the near-dup gate saw."""
    from filtlong_spark.operators import dedup
    docs = docs_df.select("url", dedup.url_doc_key("url").alias("doc_id"),
                          "text")
    urls = docs.select("doc_id", "url")
    pairs = (dedup.lsh_candidate_pairs(docs, shingle_n=3)
             .join(urls.toDF("doc_a", "url_a"), "doc_a")
             .join(urls.toDF("doc_b", "url_b"), "doc_b")
             .select("url_a", "url_b").collect())
    family = inp["truth"]["near_copy_family"]
    same = sum(1 for a, b in pairs
               if a in family and family.get(a) == family.get(b))
    return len(pairs), (same / len(pairs) if pairs else 0.0)


def measure(spark, wl, inp, jvm_pid: int, args, errors: list[str]) -> dict:
    """Timed iterations for --seconds (at least one; with --trace 1
    alternating untraced and traced, at least one of each), then the
    checks, which add to ``errors``."""
    import traceback

    from tracing import StatusStore, Tracer, layer_metrics
    store = StatusStore(spark)
    deadline = time.time() + args.seconds
    its, traced, failed = [], [], 0
    attempted, counted = 0, None
    while attempted < 2 * args.trace or time.time() < deadline \
            or attempted == 0:
        tracer = Tracer(spark.sparkContext) \
            if args.trace and attempted % 2 else None
        attempted += 1
        if args.trace:
            job0, exec0 = store.last_job_id(), store.last_execution_id()
        ck = new_run_dir()
        try:
            if tracer:
                tracer.install()
            try:
                # traced runs do a fixed amount of work per iteration (one
                # resume leg), so action counts and per-layer sums compare
                it = run_iteration(
                    spark, wl, inp, jvm_pid, ck, tracer,
                    resume_min_s=0.0 if args.trace else RESUME_MIN_S)
            finally:
                if tracer:
                    tracer.uninstall()
            check_iteration(wl, ck, it)
            if args.trace:
                it["actions"] = store.actions(job0, exec0)
                it["jobs"] = store.jobs(job0) if tracer else []
            if counted is None:   # once per run
                count_drops(it)
                counted = it
        except Exception as exc:  # a failed run counts; keep measuring
            failed += 1
            errors.append(f"iteration {attempted}: {exc}")
            traceback.print_exc()
            continue
        finally:
            shutil.rmtree(ck, ignore_errors=True)
        if tracer:
            stage_ids = [s for j in it["jobs"] for s in j["stages"]]
            it["layers"], it["detail"] = layer_metrics(
                tracer.finish(), it["jobs"], store.stages(stage_ids),
                store.executions(exec0))
            it["spans"] = [vars(s) for s in tracer.spans]
            it["tracer_s"] = tracer.overhead_s
            if "gate.near_dup" in tracer.captured and not traced:
                it["pairs"] = candidate_pairs(
                    tracer.captured["gate.near_dup"], inp)
            traced.append(it)
        else:
            its.append(it)
        it.pop("fresh_result")
    if counted is not None:
        errors += check_drops(wl, inp, counted)
        errors += expected_check(wl, args.seed, its + traced, counted,
                                 args.record)
    result = {"correct": not errors and failed == 0,
              "attempted": attempted, "failed": failed}
    for e in errors:
        print(f"# check failed: {e}", file=sys.stderr)
    result["its"] = its
    if not args.trace:
        return result
    if not (its and traced):
        result["layers"] = {}
        return result
    result["layers"] = trace_report(wl, args, its, traced, counted, errors)
    result["correct"] = result["correct"] and not errors
    return result


def trace_report(wl, args, its, traced, counted, errors) -> dict:
    """Median per-layer metrics over the traced iterations, the
    self-checks and the trace file."""
    def walls(xs):
        return statistics.median(
            sum(leg["wall_s"] for leg in it["legs"].values()) for it in xs)

    print("# traced iteration walls: "
          f"{[round(walls([it]), 3) for it in traced]}")

    layers = {k: (statistics.median(it["layers"][k][0] for it in traced), u)
              for k, (_, u) in traced[0]["layers"].items()}
    extra = max(it["actions"] for it in traced) - min(
        it["actions"] for it in its)
    layers["trace.extra_jobs"] = (extra, "count")
    # the tracer's own bookkeeping; the traced-minus-untraced wall is
    # printed too, but a later iteration of a process runs faster (the
    # JVM is still warming), so that difference is mostly order
    layers["trace.overhead_s"] = (statistics.median(
        it["tracer_s"] for it in traced), "s")
    print(f"# traced minus untraced iteration wall: "
          f"{walls(traced) - walls(its):.3f} s")
    layers["runtime.peak_rss_mb"] = (statistics.median(
        max(leg["peak_rss"] for leg in it["legs"].values())
        for it in traced) / 2 ** 20, "MB")
    d = drops(counted)
    layers["ingest.quarantined_rows"] = (d.pop("ingest"), "count")
    for k, v in d.items():
        layers[f"gate.dropped_rows.{k}"] = (v, "count")
    pairs = traced[0].get("pairs", (0, 0.0))
    layers["dedup.candidate_pairs"] = (pairs[0], "count")
    layers["dedup.pair_yield"] = (pairs[1], "ratio")
    layers["scorer.rows_out_per_in"] = (traced[0]["snapshot_rows"] / wl.docs,
                                        "ratio")
    if extra:
        errors.append(f"traced iteration ran {extra} more Spark actions")
    # a timing ratio, not an output check: reported, but `correct` stays
    coverage = layers["trace.coverage"][0]
    if wl.input_kind == "web" and coverage < 0.9:
        print(f"# self-check failed: the trace accounts for {coverage:.1%} "
              "of the iteration wall (< 90%)")
    path = os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed,
                   "metrics": {k: v for k, (v, _) in layers.items()},
                   "iterations": [{k: it[k] for k in
                                   ("legs", "detail", "spans", "jobs")}
                                  for it in traced]}, f, indent=1)
    for k, v in sorted(traced[0]["detail"]["span_self_s"].items()):
        print(f"# span self_s {k}: {v:.3f}")
    print(f"# trace file: {os.path.relpath(path, ROOT)}")
    return layers


def stop(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python daemon
    and workers) has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
