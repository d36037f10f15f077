"""Event analytics: windowed rollup, sessionization, streaming parity."""

import datetime as dt

from filtlong_spark import fixtures as fx
from filtlong_spark.config import FilterConfig
from filtlong_spark.operators import events as ev_op
from filtlong_spark.operators import refset as refset_op
from filtlong_spark.operators import score as score_op


def _ev(spark, rows):
    return spark.createDataFrame(rows, ev_op.EVENTS_SCHEMA)


def _t(minute, sec=0):
    return dt.datetime(2024, 1, 1, 0, minute, sec)


def test_windowed_rollup_hourly(spark):
    rows = [
        (0, dt.datetime(2024, 1, 1, 0, 5), 1, "click", 1.25, "{}"),
        (1, dt.datetime(2024, 1, 1, 0, 55), 2, "click", 2.50, "{}"),
        (2, dt.datetime(2024, 1, 1, 1, 5), 1, "view", 0.75, "{}"),
    ]
    out = {(r["win_start_us"], r["event_type"]): (r["n_events"],
                                                  r["value_cents"])
           for r in ev_op.windowed_rollup(_ev(spark, rows)).collect()}
    h0 = int(dt.datetime(2024, 1, 1, 0, 0)
             .replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    h1 = h0 + 3600 * 1_000_000
    assert out == {(h0, "click"): (2, 375), (h1, "view"): (1, 75)}


def test_sessionize_gap_rule(spark):
    rows = [
        (0, _t(0), 7, "click", 1.0, "{}"),
        (1, _t(10), 7, "click", 1.0, "{}"),   # same session (10 min gap)
        (2, _t(50), 7, "click", 1.0, "{}"),   # 40 min gap -> new session
        (3, _t(55), 7, "click", 1.0, "{}"),
        (4, _t(0), 8, "view", 2.0, "{}"),     # other user: own session
    ]
    out = sorted((r["user_id"], r["session_idx"], r["n_events"])
                 for r in ev_op.sessionize(_ev(spark, rows),
                                           gap_minutes=30).collect())
    assert out == [(7, 1, 2), (7, 2, 2), (8, 1, 1)]


def test_streaming_rollup_equals_batch(spark, tmp_path):
    """availableNow watermarked stream rollup == the batch rollup."""
    from filtlong_spark.streaming import stream as st
    src = str(tmp_path / "events_src")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("overwrite").parquet(src)

    batch = {(r["win_start_us"], r["event_type"]): (r["n_events"],
                                                    r["value_cents"])
             for r in ev_op.windowed_rollup(
                 spark.read.schema(ev_op.EVENTS_SCHEMA).parquet(src))
             .collect()}

    out_dir = str(tmp_path / "rollup_out")
    ck = str(tmp_path / "ck")
    q = (st.events_stream_rollup(spark, src)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["win_start_us"], r["event_type"]): (r["n_events"],
                                                  r["value_cents"])
           for r in spark.read.parquet(out_dir).collect()}
    # append mode emits a window only once the watermark passes its end:
    # every emitted window must match batch exactly, and the only windows
    # withheld are those still inside the 2h watermark horizon of the
    # final event time (standard Structured Streaming semantics)
    assert len(got) > 0 and set(got) <= set(batch)
    assert all(got[k] == batch[k] for k in got)
    last_win_start = max(k[0] for k in batch)
    horizon = last_win_start - 2 * 3600 * 1_000_000
    assert all(k[0] >= horizon for k in set(batch) - set(got))


def test_streaming_sessions_equal_batch(spark, tmp_path):
    """availableNow watermarked session_window stream == the batch
    gap-sessionizer on every emitted (closed) session."""
    from filtlong_spark.streaming import stream as st
    src = str(tmp_path / "events_src2")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .write.mode("overwrite").parquet(src)

    batch = {(r["user_id"], r["start_us"]):
             (r["end_us"], r["n_events"], r["value_cents"])
             for r in ev_op.sessionize(
                 spark.read.schema(ev_op.EVENTS_SCHEMA).parquet(src),
                 gap_minutes=30).collect()}

    out_dir = str(tmp_path / "sessions_out")
    ck = str(tmp_path / "ck2")
    q = (st.events_stream_sessions(spark, src)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], r["start_us"]):
           (r["end_us"], r["n_events"], r["value_cents"])
           for r in spark.read.parquet(out_dir).collect()}
    # append mode emits only sessions the watermark has closed; every
    # emitted session must match batch exactly
    assert len(got) > 0 and set(got) <= set(batch)
    assert all(got[k] == batch[k] for k in got)
    # the withheld sessions are exactly those near the final event time
    horizon = (max(v[0] for v in batch.values())
               - 2 * 3600 * 1_000_000 - 30 * 60 * 1_000_000)
    assert all(v[0] >= horizon
               for k, v in batch.items() if k not in got)


def test_streaming_dedup_by_url(spark, tmp_path):
    """Watermarked streaming dropDuplicates: a re-crawled url inside the
    horizon is emitted exactly once."""
    import datetime
    from filtlong_spark.streaming import stream as st
    src = str(tmp_path / "pages_src")
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [("https://a.test/1", t0, None, "one", None),
            ("https://a.test/1", t0 + datetime.timedelta(minutes=5),
             None, "one again", None),
            ("https://a.test/2", t0, None, "two", None)]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string").write.parquet(src)
    out_dir = str(tmp_path / "dedup_out")
    ck = str(tmp_path / "ck3")
    q = (st.pages_stream_dedup(spark, src)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r["url"] for r in spark.read.parquet(out_dir).collect())
    assert got == ["https://a.test/1", "https://a.test/2"]


def test_streaming_near_dedup_by_simhash(spark, tmp_path):
    """Streaming NEAR-dup dedup: a re-crawl with an identical token
    multiset (different url, reordered whitespace) collapses onto the
    same 60-bit simhash and is emitted once; distinct content and
    token-less docs pass through."""
    import datetime
    from filtlong_spark.streaming import stream as st
    src = str(tmp_path / "near_src")
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        ("https://a.test/1", t0, None, "the quick brown fox", None),
        # same token multiset, different url + spacing -> same simhash
        ("https://b.test/1", t0 + datetime.timedelta(minutes=5),
         None, "the  quick  brown  fox", None),
        ("https://a.test/2", t0, None, "completely different text", None),
        ("https://a.test/empty", t0, None, "   ", None),  # no tokens
    ]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string").write.parquet(src)
    out_dir = str(tmp_path / "near_out")
    ck = str(tmp_path / "ck_near")
    q = (st.pages_stream_near_dedup(spark, src)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r["url"] for r in spark.read.parquet(out_dir).collect())
    # exactly one of the near-dup pair survives (microbatch order picks
    # which); the distinct + token-less docs always pass
    assert len(got) == 3
    assert "https://a.test/2" in got and "https://a.test/empty" in got
    assert len({u for u in got if u.endswith("/1")}) == 1


def test_streaming_clf_gate_matches_batch(spark, tmp_path):
    """Streaming classifier gate: the map-only feature pass runs under
    availableNow and produces EXACTLY the batch classifier's rows
    (features, logit, keep)."""
    import datetime
    from filtlong_spark.operators import classifier as clf
    from filtlong_spark.streaming import stream as st
    vocab = ("alpha", "beta", "gamma")
    src = str(tmp_path / "clf_src")
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        ("https://a.test/good", t0, None,
         "alpha beta the gamma of alpha is beta prose words here", None),
        ("https://a.test/junk", t0, None, "$$$$ %%%% ^^^^ " * 8, None),
        ("https://a.test/empty", t0, None, "", None),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    df.write.parquet(src)
    out_dir = str(tmp_path / "clf_out")
    ck = str(tmp_path / "ck_clf")
    q = (st.pages_stream_clf_gate(spark, src, vocab, threshold=-2.0)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    batch = {tuple(r) for r in clf.quality_classifier(
        df, sorted(vocab), threshold=-2.0, key="url").collect()}
    assert streamed == batch and len(streamed) == 3
    kept = {r[0] for r in streamed if r[-1]}
    assert "https://a.test/junk" not in kept
    assert "https://a.test/good" in kept


def _cfg(**kw):
    kw.setdefault("mode", "intrinsic")
    kw.setdefault("vocab", fx.VOCAB)
    return FilterConfig(**kw)


def test_stream_matches_batch(spark, tmp_path):
    """availableNow streaming scoring == batch scoring on the same input."""
    from filtlong_spark.streaming.stream import run_available_now

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    rows = fx.volume(sf=0.0001)
    fx.to_spark_df(spark, rows).write.parquet(src)

    cfg = _cfg(min_length=100, min_mean_q=50.0, split=40)
    run_available_now(spark, src, cfg, sink, ckpt)
    streamed = {(r["url"], r["n_chars"], r["mean_q"], r["window_q"],
                 r["hard_passed"])
                for r in spark.read.parquet(sink).collect()}

    bc = refset_op.build_broadcast(spark, cfg, None)
    batch = {(r["url"], r["n_chars"], r["mean_q"], r["window_q"],
              r["hard_passed"])
             for r in score_op.score_and_scrub(
                 spark.read.parquet(src), cfg, bc).collect()}
    assert streamed == batch
    assert len(streamed) > 0
