"""Checkpoint/resume semantics (north_rule: resumable from the last
committed snapshot, with persisted lineage)."""

import os
import shutil

from filtlong_spark import fixtures as fx
from filtlong_spark.config import FilterConfig
from filtlong_spark.operators import output as output_op
from filtlong_spark.plans.pipeline import run_filter


def _cfg(**kw):
    kw.setdefault("mode", "intrinsic")
    kw.setdefault("vocab", fx.VOCAB)
    return FilterConfig(**kw)


def test_resume_skips_scoring_and_matches(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    rows = fx.volume(sf=0.0002)
    df = fx.to_spark_df(spark, rows)
    cfg = dict(min_length=100, keep_percent=70.0, trim=True, split=40)

    r1 = run_filter(spark, df, _cfg(**cfg), checkpoint_dir=ckpt)
    kept1 = [(r["url"], r["text"], r["final_score"])
             for r in r1.kept.collect()]
    assert not r1.resumed
    assert output_op.is_committed(os.path.join(ckpt, "reads2"))
    assert output_op.read_lineage(ckpt)["total_input_chars"] == \
        r1.total_input_chars

    # resume: same checkpoint dir + same input (the source table is always
    # re-read at output time for text, like the reference's second pass) —
    # scoring must be skipped and results identical
    r2 = run_filter(spark, df, _cfg(**cfg), checkpoint_dir=ckpt)
    assert r2.resumed
    assert r2.total_input_chars == r1.total_input_chars
    kept2 = [(r["url"], r["text"], r["final_score"])
             for r in r2.kept.collect()]
    assert kept1 == kept2


def test_resume_with_changed_scoring_config_refused(spark, tmp_path):
    """Resuming a snapshot scored under a different scoring config must
    refuse (stale scores would silently mislabel); budget-only changes
    are applied post-snapshot and remain legal."""
    import pytest

    from filtlong_spark.config import ConfigError
    ckpt = str(tmp_path / "ckpt3")
    rows = fx.volume(sf=0.0002)
    df = fx.to_spark_df(spark, rows)
    run_filter(spark, df, _cfg(min_length=100, trim=True),
               checkpoint_dir=ckpt)
    with pytest.raises(ConfigError, match="trim"):
        run_filter(spark, df, _cfg(min_length=100, trim=False, split=40),
                   checkpoint_dir=ckpt)
    # budget knobs change post-snapshot: resume stays legal
    r = run_filter(spark, df, _cfg(min_length=100, trim=True,
                                   keep_percent=50.0), checkpoint_dir=ckpt)
    assert r.resumed
    # explicit resume=False re-scores under the new config
    r2 = run_filter(spark, df, _cfg(min_length=100, split=40),
                    checkpoint_dir=ckpt, resume=False)
    assert not r2.resumed


def test_fresh_run_after_cleanup(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    rows = fx.sort_suite()
    df = fx.to_spark_df(spark, rows)
    r1 = run_filter(spark, df, _cfg(target_chars=10_000), checkpoint_dir=ckpt)
    n1 = r1.kept.count()
    shutil.rmtree(ckpt)
    r2 = run_filter(spark, df, _cfg(target_chars=10_000), checkpoint_dir=ckpt)
    assert not r2.resumed and r2.kept.count() == n1


def test_snapshot_chain_across_commits(spark, tmp_path):
    """Two commits to the same checkpoint dir chain their snapshots
    (Iceberg snapshot-log rendering): commit 2's parent is commit 1's id,
    the manifest records per-file row counts, and resume verifies both
    the chain and the manifest."""
    ckpt = str(tmp_path / "ckpt5")
    rows = fx.volume(sf=0.0002)
    df = fx.to_spark_df(spark, rows)
    cfg = dict(min_length=100, keep_percent=70.0)
    run_filter(spark, df, _cfg(**cfg), checkpoint_dir=ckpt)
    lin1 = output_op.read_lineage(ckpt)
    assert lin1["snapshots"][-1]["parent_snapshot_id"] is None
    assert sum(lin1["snapshots"][-1]["files"].values()) > 0

    run_filter(spark, df, _cfg(**cfg), checkpoint_dir=ckpt, resume=False)
    lin2 = output_op.read_lineage(ckpt)
    assert len(lin2["snapshots"]) == 2
    assert (lin2["snapshots"][1]["parent_snapshot_id"]
            == lin1["snapshot_id"])
    assert lin2["snapshot_id"] == lin2["snapshots"][1]["snapshot_id"]
    # chained checkpoint still resumes cleanly
    r = run_filter(spark, df, _cfg(**cfg), checkpoint_dir=ckpt)
    assert r.resumed


def test_resume_refuses_manifest_mismatch(spark, tmp_path):
    """A committed data file vanishing (torn/tampered commit) must refuse
    resume instead of silently relabeling from partial data."""
    import glob

    import pytest
    ckpt = str(tmp_path / "ckpt6")
    rows = fx.volume(sf=0.0002)
    df = fx.to_spark_df(spark, rows)
    run_filter(spark, df, _cfg(min_length=100), checkpoint_dir=ckpt)
    victim = sorted(glob.glob(os.path.join(ckpt, "reads2", "part-*")))[0]
    os.remove(victim)
    with pytest.raises(RuntimeError, match="manifest"):
        run_filter(spark, df, _cfg(min_length=100), checkpoint_dir=ckpt)


def test_resume_refuses_corpus_manifest_mismatch(spark, tmp_path):
    """With a gate on, resume reattaches survivor text from the committed
    corpus; a corpus part file vanishing must refuse resume instead of
    silently dropping the survivors whose text it held."""
    import glob

    import pytest
    ckpt = str(tmp_path / "ckpt8")
    df = fx.to_spark_df(spark, fx.volume(sf=0.0002))
    cfg = _cfg(min_length=100, line_dedup_min_df=2)
    run_filter(spark, df, cfg, checkpoint_dir=ckpt)
    victim = sorted(glob.glob(os.path.join(ckpt, "corpus", "part-*")))[0]
    os.remove(victim)
    with pytest.raises(RuntimeError, match="corpus data files do not match "
                       "the committed manifest"):
        run_filter(spark, df, cfg, checkpoint_dir=ckpt)


def test_resume_refuses_torn_commit(spark, tmp_path):
    """A committed reads2 without the rest of its commit — lineage.json
    (the budget's raw-char base) or, with gates on, the verdict table
    and the gated corpus — must refuse resume, not budget against a
    zero input or re-derive the gate decisions."""
    import pytest
    ckpt = str(tmp_path / "ckpt7")
    df = fx.to_spark_df(spark, fx.volume(sf=0.0002))
    cfg = _cfg(min_length=100, keep_percent=50.0, line_dedup_min_df=2,
               blocklist_words=("no-such-word",))
    run_filter(spark, df, cfg, checkpoint_dir=ckpt)
    for member in ("lineage.json", "verdicts", "corpus"):
        path = os.path.join(ckpt, member)
        os.rename(path, path + ".away")
        with pytest.raises(RuntimeError, match="cannot resume.*"
                           "use a new checkpoint_dir or resume=False"):
            run_filter(spark, df, cfg, checkpoint_dir=ckpt)
        os.rename(path + ".away", path)
    assert run_filter(spark, df, cfg, checkpoint_dir=ckpt).resumed


def test_lineage_has_per_partition_counters(spark, tmp_path):
    """north_rule: per-partition lineage rows — counters per language
    partition persisted with the committed snapshot."""
    ckpt = str(tmp_path / "ckpt4")
    rows = fx.volume(sf=0.0002)
    r = run_filter(spark, fx.to_spark_df(spark, rows),
                   _cfg(min_length=100, langid_enabled=True),
                   checkpoint_dir=ckpt)
    lin = output_op.read_lineage(ckpt)
    parts = lin["partitions"]
    assert len(parts) >= 1
    assert sum(p["n_docs"] for p in parts.values()) == r.reads2.count()
    assert all(set(p) == {"n_docs", "chars", "hard_passed_docs"}
               for p in parts.values())
