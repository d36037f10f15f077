"""Filtlong-compatible CLI: same flags, same stdout/stderr contract.

None of these checks needs Filtlong's own ``test/`` fixture directory: the
FASTX cases run on the seeded read set that the ``fastx_set`` fixture
(tests/conftest.py) writes, and compare the CLI with the library pipeline
on the same files. Filtlong's golden outputs are checked in
tests/test_fastx_parity.py, which skips them where that directory is
absent."""

import pytest

from filtlong_spark import cli
from filtlong_spark.config import FilterConfig
from filtlong_spark.plans import fastx_pipeline as fp
from filtlong_spark.sources import fastx

from conftest import read_fastx_output


def test_version(capsys):
    assert cli.main(["--version"]) == 0
    assert "filtlong_spark" in capsys.readouterr().out


def test_no_input(capsys):
    assert cli.main(["--min_length", "1"]) == 1
    assert "Error: no input reads" in capsys.readouterr().err


def test_no_thresholds_error(capsys, spark, fastx_set):
    assert cli.main([fastx_set.fastq]) == 1
    err = capsys.readouterr().err
    assert err.startswith("Error: no thresholds set")


def test_missing_file_error(capsys, spark):
    assert cli.main(["--min_length", "1", "NOT_A_FILE.fastq"]) == 1
    assert "Error: cannot find file: NOT_A_FILE.fastq" in \
        capsys.readouterr().err


def test_cli_matches_library_phred_mode(capsys, spark, fastx_set):
    """CLI stdout == the library pipeline's driver formatter for the
    same flags (unit-suffix parsing included)."""
    rc = cli.main(["--min_length", "0.01k", "--target_bases", "10k",
                   fastx_set.fastq])
    out, err = capsys.readouterr()
    assert rc == 0
    reads = fastx.read_fastx(spark, fastx_set.fastq)
    cfg = FilterConfig(min_length="0.01k", target_chars="10k",
                       mode="intrinsic")
    res = fp.run_filtlong(spark, reads, cfg)
    assert out == "".join(fp.to_fastx_lines(res))
    assert "Filtering long reads" in err       # summary on stderr
    assert "target: 10,000 bp" in err


def test_cli_refset_trim_split_and_out_dir(capsys, spark, tmp_path,
                                           fastx_set):
    """Reference mode (-a) + --trim/--split through the CLI; --out_dir
    writes the distributed sink byte-identically to stdout mode."""
    out_dir = str(tmp_path / "cli_out")
    rc = cli.main(["--min_length", "1", "-a", fastx_set.asm,
                   "--split", "25", "--out_dir", out_dir,
                   fastx_set.fastq])
    assert rc == 0
    reads = fastx.read_fastx(spark, fastx_set.fastq)
    assembly = fastx.read_fastx(spark, fastx_set.asm)
    cfg = FilterConfig(min_length=1, split=25, mode="refset")
    res = fp.run_filtlong(spark, reads, cfg, assembly=assembly)
    assert read_fastx_output(out_dir) == "".join(fp.to_fastx_lines(res))


def test_cli_verbose_blocks(capsys, spark, fastx_set):
    rc = cli.main(["--min_length", "1", "--verbose", "--split", "25", "-a",
                   fastx_set.asm, fastx_set.fastq])
    out, err = capsys.readouterr()
    assert rc == 0
    lines = err.splitlines()
    assert "mean quality" in err  # per-read verbose block on stderr
    # the per-read block names each post-scrub record right above its
    # metrics line; the score table that follows has one row per record,
    # in the same order
    records = [lines[i - 1] for i, ln in enumerate(lines)
               if ln.startswith("            length = ")]
    # --split made children, named <parent>_<start>-<end>
    assert any("-" in name for name in records)
    head = lines.index("Read name\tLength score\tMean quality score\t"
                       "Window quality score\tFinal score")
    table = [ln.split("\t") for ln in lines[head + 1:]]
    assert [row[0].rstrip() for row in table] == records
    assert all(len(row) == 5 for row in table)


def test_web_subcommand_end_to_end(capsys, spark, tmp_path):
    """The north_rule production surface: pages parquet in, survivor
    parquet out, metrics JSON on stderr, checkpoint committed + resumed."""
    import json
    import os

    from filtlong_spark import fixtures as fx
    src = str(tmp_path / "pages_in")
    fx.to_spark_df(spark, fx.volume(sf=0.0002)).write.parquet(src)
    out = str(tmp_path / "web_out")
    ck = str(tmp_path / "web_ck")
    rc = cli.main(["web", src, "--out_dir", out, "--checkpoint", ck,
                   "--min_length", "100", "--keep_percent", "80",
                   "--trim", "--split", "40", "--pii_scrub",
                   "--langid", "en"])
    err = capsys.readouterr().err
    assert rc == 0
    m = json.loads(err.strip().splitlines()[-1])
    assert m["kept_docs"] > 0 and m["resumed"] is False
    assert os.path.exists(os.path.join(ck, "lineage.json"))
    n1 = spark.read.parquet(out).count()
    # resume: same checkpoint skips scoring, same survivors
    rc = cli.main(["web", src, "--out_dir", out, "--checkpoint", ck,
                   "--min_length", "100", "--keep_percent", "80",
                   "--trim", "--split", "40", "--pii_scrub",
                   "--langid", "en"])
    err = capsys.readouterr().err
    assert rc == 0
    m2 = json.loads(err.strip().splitlines()[-1])
    assert m2["resumed"] is True and m2["kept_docs"] == n1


def test_dataset_subcommand_all_ops(capsys, spark, tmp_path):
    """`python -m filtlong_spark dataset <op>`: the dataset-construction
    operators are reachable from the production CLI — split, quality
    buckets (approx default), sequence packing, and mixture sampling all
    write parquet and report a JSON line on stderr."""
    import json
    src = str(tmp_path / "docs_in")
    rows = [(i, "en" if i % 2 else "de",
             " ".join(f"w{j}" for j in range(3 + i % 9)),
             float(i % 17)) for i in range(60)]
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string, score double"
    ).write.parquet(src)

    def run(args, out_name):
        out = str(tmp_path / out_name)
        rc = cli.main(["dataset", *args, "--input", src,
                       "--out_dir", out])
        err = capsys.readouterr().err
        assert rc == 0, err
        m = json.loads(err.strip().splitlines()[-1])
        assert m["rows"] > 0
        return spark.read.parquet(out)

    sp = run(["split"], "o_split")
    assert set(sp.columns) == {"doc_id", "bucket", "split"}
    bu = run(["buckets", "--score_col", "score"], "o_buckets")
    assert {r["label"] for r in bu.collect()} <= {"head", "middle", "tail"}
    pk = run(["pack", "--capacity", "16"], "o_pack")
    assert pk.filter("last_seq > first_seq").count() > 0  # straddles
    mx = run(["mixture", "--shares", "en=0.5,de=0.25",
              "--token_budget", "100"], "o_mix")
    assert mx.filter("sampled").count() > 0
    # error contract: missing required op params -> exit 1 + Error:
    rc = cli.main(["dataset", "buckets", "--input", src,
                   "--out_dir", str(tmp_path / "o_err")])
    assert rc == 1
    assert capsys.readouterr().err.startswith("Error:")
