import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder
         .master("local[4]")
         .appName("filtlong_spark_tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                 "true")
         .config("spark.sql.autoBroadcastJoinThreshold", "64m")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fastx_set(tmp_path_factory, spark):
    """A small seeded FASTX set for the CLI, error and sink checks, written
    here so that no input comes from outside the repository:

    - ``asm``: ``asm.fasta``, 20,000 random ACGT bases (80-column lines);
    - ``fastq``: ``reads.fastq``, five reads cut from the assembly,
      13,000 bases in all, each at its own constant Phred level; reads 2
      and 4 carry a planted 60-base random span that is not in the
      assembly, and two reads carry a header comment;
    - ``fasta``: ``reads.fasta``, the same reads as FASTA;
    - ``bad``: ``bad.fastq``, one record whose quality line is shorter
      than its sequence;
    - ``short_1``/``short_2``: ``short_{1,2}.fastq.gz``, a gzipped
      short-read pair tiling the assembly: 150-base reads every 25 bases
      (clipped at the ends), forward in ``short_1`` and reverse
      complemented in ``short_2``, so every assembly 16-mer occurs 10-12
      times over both strands.

    Returns the paths as attributes. The checks that use the set only mean
    something if ``--split 25`` makes children against the assembly and
    ``--target_bases 10k`` drops a read in Phred mode, so both are asserted
    here."""
    import gzip
    import random
    import types

    from filtlong_spark.config import FilterConfig
    from filtlong_spark.plans import fastx_pipeline as fp
    from filtlong_spark.sources import fastx

    rng = random.Random(9)
    d = tmp_path_factory.mktemp("fastx_set")
    paths = types.SimpleNamespace(
        asm=str(d / "asm.fasta"), fastq=str(d / "reads.fastq"),
        fasta=str(d / "reads.fasta"), bad=str(d / "bad.fastq"),
        short_1=str(d / "short_1.fastq.gz"),
        short_2=str(d / "short_2.fastq.gz"))

    def bases(n):
        return "".join(rng.choice("ACGT") for _ in range(n))

    asm = bases(20_000)
    with open(paths.asm, "w") as f:
        f.write(">contig_1\n" + "".join(
            asm[i:i + 80] + "\n" for i in range(0, len(asm), 80)))

    # (length, Phred level, planted span, comment)
    specs = [(3000, 30, False, "sample=a"), (2500, 12, True, ""),
             (2000, 25, False, ""), (3500, 18, True, "sample=b"),
             (2000, 8, False, "")]
    reads = []
    for i, (n, phred, planted, comment) in enumerate(specs, 1):
        start = rng.randrange(len(asm) - n)
        seq = asm[start:start + n]
        if planted:
            mid = n // 2
            seq = seq[:mid] + bases(60) + seq[mid + 60:]
        reads.append((f"read_{i}", comment, seq, chr(33 + phred) * n))
    with open(paths.fastq, "w") as fq, open(paths.fasta, "w") as fa:
        for name, comment, seq, qual in reads:
            header = name + (" " + comment if comment else "")
            fq.write(f"@{header}\n{seq}\n+\n{qual}\n")
            fa.write(f">{header}\n{seq}\n")
    with open(paths.bad, "w") as f:
        f.write("@bad_1\nACGTACGTACGT\n+\nIIIIIIII\n")
    revcomp = str.maketrans("ACGT", "TGCA")
    with gzip.open(paths.short_1, "wt") as r1, \
            gzip.open(paths.short_2, "wt") as r2:
        for i, start in enumerate(range(-125, len(asm), 25)):
            seq = asm[max(start, 0):start + 150]
            r1.write(f"@short_{i}/1\n{seq}\n+\n{'I' * len(seq)}\n")
            rc = seq.translate(revcomp)[::-1]
            r2.write(f"@short_{i}/2\n{rc}\n+\n{'I' * len(rc)}\n")

    fq_df = fastx.read_fastx(spark, paths.fastq)
    split = fp.run_filtlong(spark, fq_df,
                            FilterConfig(split=25, mode="refset"),
                            assembly=fastx.read_fastx(spark, paths.asm))
    assert split.reads2.filter("passed AND is_child").count() > 0
    budget = fp.run_filtlong(spark, fq_df, FilterConfig(target_chars=10_000))
    assert budget.reads2.filter("NOT passed").count() > 0
    return paths


# deep property-test profile: HYPOTHESIS_PROFILE=deep python -m pytest ...
try:
    from hypothesis import HealthCheck, settings as _hyp_settings
    _hyp_settings.register_profile(
        "deep", max_examples=3000, deadline=None,
        suppress_health_check=list(HealthCheck))
    import os as _os
    if _os.environ.get("HYPOTHESIS_PROFILE"):
        _hyp_settings.load_profile(_os.environ["HYPOTHESIS_PROFILE"])
except ImportError:
    pass


def read_fastx_output(out_dir: str) -> str:
    """Concatenate a write_fastx output dir in part-filename order."""
    import glob
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    return "".join(open(p, encoding="ascii").read() for p in parts)
