"""FASTX parity tests, in two kinds.

Golden tests run this engine on the REFERENCE'S OWN test fixtures (the
files of Filtlong's ``test/`` directory, read from ``REF``) with the
reference's own flag combinations and assert the exact outputs its test
suite asserts (test/test_sort.py, test_trim.py, test_split.py): TestParser,
TestTrimParity, TestSplitParity and every TestSortParity case but
``test_fasta_without_reference_errors``. A Filtlong user could switch
engines and re-run these workloads unchanged. They skip where ``REF`` is
absent, and run unchanged wherever it is present.

The error checks (TestErrorParity, TestSortParity's
``test_fasta_without_reference_errors``), the distributed-sink checks
(TestDistributedSink) and the gzip / short-read reference checks
(TestSeededReadReference) depend on no golden value; they run
everywhere, on the seeded read set that the ``fastx_set`` fixture
(tests/conftest.py) writes."""

import os

import numpy as np
import pytest

from filtlong_spark.config import FilterConfig
from filtlong_spark.plans import fastx_pipeline as fp
from filtlong_spark.sources import fastx

from conftest import read_fastx_output

REF = "/root/reference/test"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF),
    reason=f"Filtlong's test fixture directory {REF} is absent")


@pytest.fixture(scope="module")
def sort_reads(spark):
    return fastx.read_fastx(spark, f"{REF}/test_sort.fastq").cache()


@pytest.fixture(scope="module")
def sort_fasta(spark):
    return fastx.read_fastx(spark, f"{REF}/test_sort.fasta").cache()


@pytest.fixture(scope="module")
def assembly(spark):
    return fastx.read_fastx(spark, f"{REF}/test_reference.fasta").cache()


@pytest.fixture(scope="module")
def illumina(spark):
    return fastx.read_fastx(spark, [f"{REF}/test_reference_1.fastq.gz",
                                    f"{REF}/test_reference_2.fastq.gz"]).cache()


@pytest.fixture(scope="module")
def seeded_reads(spark, fastx_set):
    return fastx.read_fastx(spark, fastx_set.fastq).cache()


@pytest.fixture(scope="module")
def seeded_fasta(spark, fastx_set):
    return fastx.read_fastx(spark, fastx_set.fasta).cache()


@pytest.fixture(scope="module")
def seeded_assembly(spark, fastx_set):
    return fastx.read_fastx(spark, fastx_set.asm).cache()


@pytest.fixture(scope="module")
def seeded_short_reads(spark, fastx_set):
    return fastx.read_fastx(spark, [fastx_set.short_1,
                                    fastx_set.short_2]).cache()


def kept_names(res):
    return [r["name"] for r in res.kept.collect()]


@needs_ref
class TestParser:
    def test_fastq_records(self, spark, sort_reads):
        rows = sort_reads.collect()
        assert [r["name"] for r in rows] == ["test_sort_1", "test_sort_2",
                                             "test_sort_3"]
        assert all(len(r["seq"]) == 5000 and len(r["qual"]) == 5000
                   for r in rows)
        assert all(r["fmt"] == "fastq" for r in rows)

    def test_fasta_and_gzip(self, spark, sort_fasta, illumina):
        assert sort_fasta.count() == 3
        assert illumina.count() > 1000  # two gzipped read files


class TestSortParity:
    """reference test/test_sort.py sweep: Phred ranking (2,3,1) inverts to
    (1,3,2) under either reference type; budget boundaries incl. overshoot."""

    @needs_ref
    @pytest.mark.parametrize("target,expect_phred,expect_ref", [
        (100_000, ["test_sort_1", "test_sort_2", "test_sort_3"],
                  ["test_sort_1", "test_sort_2", "test_sort_3"]),
        (10_001, ["test_sort_1", "test_sort_2", "test_sort_3"],
                 ["test_sort_1", "test_sort_2", "test_sort_3"]),
        (10_000, ["test_sort_2", "test_sort_3"],
                 ["test_sort_1", "test_sort_3"]),
        (5_001, ["test_sort_2", "test_sort_3"],
                ["test_sort_1", "test_sort_3"]),
        (5_000, ["test_sort_2"], ["test_sort_1"]),
        (1, ["test_sort_2"], ["test_sort_1"]),
    ])
    def test_budget_sweep(self, spark, sort_reads, assembly, target,
                          expect_phred, expect_ref):
        cfg = FilterConfig(target_chars=target)
        assert kept_names(fp.run_filtlong(spark, sort_reads, cfg)) \
            == expect_phred
        assert kept_names(fp.run_filtlong(spark, sort_reads, cfg,
                                          assembly=assembly)) == expect_ref

    @needs_ref
    def test_read_reference_mode(self, spark, sort_reads, illumina):
        cfg = FilterConfig(target_chars=10_000)
        assert kept_names(fp.run_filtlong(spark, sort_reads, cfg,
                                          ref_reads=illumina)) \
            == ["test_sort_1", "test_sort_3"]

    @needs_ref
    def test_fasta_input_with_assembly(self, spark, sort_fasta, assembly):
        cfg = FilterConfig(target_chars=10_000)
        res = fp.run_filtlong(spark, sort_fasta, cfg, assembly=assembly)
        assert kept_names(res) == ["test_sort_1", "test_sort_3"]
        # FASTA in -> FASTA out (src/main.cpp:132-134)
        lines = fp.to_fastx_lines(res)
        assert lines[0].startswith(">test_sort_1")

    def test_fasta_without_reference_errors(self, spark, seeded_fasta):
        with pytest.raises(ValueError, match="FASTA input not supported"):
            fp.run_filtlong(spark, seeded_fasta, FilterConfig(target_chars=1))


@needs_ref
class TestTrimParity:
    """reference test/test_trim.py: names, lengths, first/last 8 bases."""

    def test_trim(self, spark, assembly):
        reads = fastx.read_fastx(spark, f"{REF}/test_trim.fastq")
        cfg = FilterConfig(trim=True, mode="refset")
        res = fp.run_filtlong(spark, reads, cfg, assembly=assembly)
        rows = res.kept.collect()
        assert res.total_bases == 4901
        got = [(r["name"], len(r["seq"]), r["seq"][:8], r["seq"][-8:],
                len(r["qual"])) for r in rows]
        assert got == [
            ("test_trim_1", 1300, "GCCCTGGC", "GGGTCCAG", 1300),
            ("test_trim_2_21-701", 681, "GATTTATA", "ATGGCGAC", 681),
            ("test_trim_3_1-970", 970, "CTTGAACA", "TCCTCCAG", 970),
            ("test_trim_4_13-1885", 1873, "CCTTTCTT", "TGATCACC", 1873),
        ]
        assert sum(x[1] for x in got) == 4824


@needs_ref
class TestSplitParity:
    """reference test/test_split.py threshold sweep + names."""

    @pytest.mark.parametrize("thr,n_reads,total", [
        (250, 4, 11_600), (201, 4, 11_600), (200, 5, 11_400),
        (175, 5, 11_400), (75, 6, 11_300), (51, 6, 11_300),
        (50, 7, 11_250), (25, 7, 11_250),
    ])
    def test_split_sweep(self, spark, assembly, thr, n_reads, total):
        reads = fastx.read_fastx(spark, f"{REF}/test_split.fastq")
        cfg = FilterConfig(split=thr, mode="refset")
        res = fp.run_filtlong(spark, reads, cfg, assembly=assembly)
        rows = res.kept.collect()
        assert len(rows) == n_reads
        assert sum(len(r["seq"]) for r in rows) == total

    def test_split_names(self, spark, assembly):
        reads = fastx.read_fastx(spark, f"{REF}/test_split.fastq")
        cfg = FilterConfig(split=25, mode="refset")
        res = fp.run_filtlong(spark, reads, cfg, assembly=assembly)
        assert kept_names(res) == [
            "test_split_1", "test_split_2_1-1000", "test_split_2_1051-2900",
            "test_split_3_1-1000", "test_split_3_1101-2900",
            "test_split_4_1-1000", "test_split_4_1201-2900"]

    def test_split_read_reference(self, spark, illumina):
        reads = fastx.read_fastx(spark, f"{REF}/test_split.fastq")
        cfg = FilterConfig(split=25, mode="refset")
        res = fp.run_filtlong(spark, reads, cfg, ref_reads=illumina)
        assert len(kept_names(res)) == 7


class TestErrorParity:
    def test_bad_fastq(self, spark, fastx_set):
        with pytest.raises(Exception, match="incorrect FASTQ format"):
            fastx.read_fastx(spark, fastx_set.bad).collect()

    def test_duplicate_names(self, spark, seeded_reads):
        dup = seeded_reads.union(seeded_reads.limit(1))
        with pytest.raises(ValueError, match="duplicate read name"):
            fp.run_filtlong(spark, dup, FilterConfig(target_chars=1))

    def test_trim_without_reference(self, spark, seeded_reads):
        # src/arguments.cpp:299-306 / test/test_error_messages.py:134-143
        with pytest.raises(ValueError, match=(
                r"Error: assembly or read reference is required to use "
                r"--trim")):
            fp.run_filtlong(spark, seeded_reads, FilterConfig(trim=True))

    def test_split_without_reference(self, spark, seeded_reads):
        with pytest.raises(ValueError, match=(
                r"Error: assembly or read reference is required to use "
                r"--split")):
            fp.run_filtlong(spark, seeded_reads, FilterConfig(split=250))


class TestDistributedSink:
    def test_write_fastx_matches_driver_formatter(self, spark, fastx_set,
                                                  seeded_assembly, tmp_path):
        """Multi-partition distributed write == the driver-side stdout
        formatter byte-for-byte (parts concatenated in filename order),
        incl. children ordered by (file, rec_idx, child_start)."""
        reads = fastx.read_fastx(spark, fastx_set.fastq)
        cfg = FilterConfig(split=25, mode="refset")
        res = fp.run_filtlong(spark, reads, cfg, assembly=seeded_assembly)
        expected = "".join(fp.to_fastx_lines(res))
        out = str(tmp_path / "fastx_out")
        fp.write_fastx(res, out, n_partitions=4)
        import glob as _glob
        assert len(_glob.glob(out + "/part-*")) >= 1
        assert read_fastx_output(out) == expected

    def test_write_fastx_fasta_format(self, spark, seeded_fasta,
                                      seeded_assembly, tmp_path):
        cfg = FilterConfig(min_length=1, mode="refset")
        res = fp.run_filtlong(spark, seeded_fasta, cfg,
                              assembly=seeded_assembly)
        out = str(tmp_path / "fasta_out")
        fp.write_fastx(res, out, n_partitions=3)
        text = read_fastx_output(out)
        assert text == "".join(fp.to_fastx_lines(res))
        assert text.startswith(">")

    def test_sink_plan_single_exchange_and_sort(self, spark, fastx_set,
                                                seeded_assembly):
        """The sink plan must pay exactly ONE exchange (the range
        partitioning) and ONE sort (within output tasks): consuming the
        globally-ordered `kept` here would bake a second range exchange
        + sort under the repartitionByRange (the round-2 double sort)."""
        reads = fastx.read_fastx(spark, fastx_set.fastq)
        cfg = FilterConfig(split=25, mode="refset")
        res = fp.run_filtlong(spark, reads, cfg, assembly=seeded_assembly)
        plan = (fp.sink_df(res, n_partitions=4)
                ._jdf.queryExecution().optimizedPlan().toString())
        # the upstream budget window contributes its own exchanges; the
        # SINK itself must add exactly one range repartition and one sort
        # (the old plan had Sort x2: global orderBy + sortWithinPartitions)
        import re
        n_range = plan.count("RepartitionByExpression")
        n_sort = len(re.findall(r"\bSort \[", plan))
        assert n_range == 1, plan
        assert n_sort == 1, plan

    def test_missing_file(self, spark):
        # src/arguments.cpp:310-322 / test/test_error_messages.py:68-88
        with pytest.raises(FileNotFoundError,
                           match=r"Error: cannot find file: BAD_FILENAME"):
            fastx.read_fastx(spark, "BAD_FILENAME")


class TestSeededReadReference:
    """The gzip reader and the short-read reference mode (-1/-2) on the
    seeded gzipped pair that tiles the seeded assembly."""

    def test_gzip_pair_parses(self, spark, fastx_set, seeded_short_reads):
        import gzip
        with gzip.open(fastx_set.short_1, "rt") as f:
            lines = f.read().splitlines()
        with fastx.open_fastx(fastx_set.short_1) as f:
            recs = list(fastx.parse_fastx(f, fastx_set.short_1))
        assert [r["name"] for r in recs] == [h[1:] for h in lines[0::4]]
        assert [r["seq"] for r in recs] == lines[1::4]
        assert [r["qual"] for r in recs] == lines[3::4]
        rows = seeded_short_reads.collect()
        assert len(rows) == 2 * len(recs)
        assert {r["fmt"] for r in rows} == {"fastq"}

    def test_kmer_set_required_copies(self, spark, seeded_short_reads):
        """build_kmer_set keeps exactly the 16-mers seen at least
        ``required_copies`` times over both strands of the reads."""
        from collections import Counter
        revcomp = str.maketrans("ACGT", "TGCA")
        counts = Counter()
        for r in seeded_short_reads.select("seq").collect():
            for s in (r["seq"], r["seq"].translate(revcomp)[::-1]):
                counts.update(s[i:i + 16] for i in range(len(s) - 15))
        sizes = []
        for copies in (1, 4, 11, 13):
            got = fp.build_kmer_set(spark, seeded_short_reads, copies)
            assert len(got) == len(set(got.tolist()))
            sizes.append(len(got))
            assert len(got) == sum(1 for c in counts.values()
                                   if c >= copies)
        # the tiling gives every assembly 16-mer 10-12 copies
        assert sizes[0] == sizes[1] > sizes[2] > sizes[3] == 0

    def test_read_reference_mode(self, spark, seeded_reads,
                                 seeded_short_reads, seeded_assembly):
        """Short reads that cover the assembly at least
        ``required_copies`` times rank the long reads as the assembly
        does, and not as their Phred scores do."""
        cfg = FilterConfig(target_chars=10_000)
        by_reads = kept_names(fp.run_filtlong(spark, seeded_reads, cfg,
                                              ref_reads=seeded_short_reads))
        assert by_reads == kept_names(fp.run_filtlong(
            spark, seeded_reads, cfg, assembly=seeded_assembly))
        assert by_reads != kept_names(fp.run_filtlong(spark, seeded_reads,
                                                      cfg))
