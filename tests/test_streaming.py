"""Streaming semantics the batch oracle can't check: watermark late-data
dropping, dropDuplicatesWithinWatermark, stream-stream joins.

Sources are crafted multi-file directories so events arrive across
several micro-batches (maxFilesPerTrigger=1) and the watermark advances
between batches — the only way to observe late-data behavior.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F


def _write_batches(spark, rows_per_batch, schema):
    """Each element of rows_per_batch becomes one parquet file = one
    micro-batch (with maxFilesPerTrigger=1, files process in name order)."""
    src = tempfile.mkdtemp(prefix="stream_src_")
    for i, rows in enumerate(rows_per_batch):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        df.write.mode("overwrite").parquet(f"{src}/staging_{i}")
        import glob
        import shutil

        part = glob.glob(f"{src}/staging_{i}/part-*.parquet")[0]
        shutil.move(part, f"{src}/batch_{i:03d}.parquet")
        shutil.rmtree(f"{src}/staging_{i}")
        # file source orders by modification time: force strict ordering so
        # each file is its own micro-batch in list order
        import os

        t = 1_700_000_000 + i * 60
        os.utime(f"{src}/batch_{i:03d}.parquet", (t, t))
    return src


def _run(stream_df, output_mode):
    name = f"t_{uuid.uuid4().hex[:10]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return stream_df.sparkSession.table(name)


def test_watermark_closes_windows_and_drops_late_events(spark):
    """Watermark contract in append mode: a window is emitted exactly once
    after the watermark passes its end, and an event arriving after that
    emission is dropped — it neither changes the count nor re-emits the
    window.  (Watermark advancement lags one micro-batch, hence two
    advancing batches before the late one.)"""
    schema = "ts string, k string"
    batches = [
        [("2026-01-01 10:00:00", "a"), ("2026-01-01 10:05:00", "a")],
        [("2026-01-01 12:00:00", "a")],  # max ts 12:00 -> wm will reach 11:50
        [("2026-01-01 13:00:00", "a")],  # wm 11:50 active: 10:00-window evicted, emitted
        [("2026-01-01 10:07:00", "a")],  # late: window already closed+emitted
    ]
    src = _write_batches(spark, batches, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(F.to_timestamp("ts").alias("ts"), "k")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "k", "n")
    )
    rows = _run(agg, "append").collect()
    out = {}
    for r in rows:
        key = (r["start"].isoformat(), r["k"])
        assert key not in out, f"window {key} emitted more than once"
        out[key] = r["n"]
    # closed window holds the on-time events only; late 10:07 dropped
    assert out[("2026-01-01T10:00:00", "a")] == 2
    # open windows (12:00, 13:00) are not emitted in append mode
    assert ("2026-01-01T12:00:00", "a") not in out
    assert ("2026-01-01T13:00:00", "a") not in out


def test_drop_duplicates_within_watermark(spark):
    schema = "ts string, k string"
    batches = [
        [("2026-01-01 10:00:00", "k1"), ("2026-01-01 10:00:30", "k1")],  # dup within wm
        [("2026-01-01 10:20:00", "k2"), ("2026-01-01 10:20:10", "k1")],  # k1 again, still within
        [("2026-01-01 13:00:00", "k3")],  # watermark jumps far ahead
        [("2026-01-01 13:10:00", "k4")],  # extra batch: wm (lagging one batch) now 12:30
        [("2026-01-01 13:00:05", "k1")],  # k1 after its state expired -> re-emitted
    ]
    src = _write_batches(spark, batches, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(F.to_timestamp("ts").alias("ts"), "k")
    )
    dedup = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(["k"])
    rows = _run(dedup, "append").collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r["k"], []).append(r["ts"].isoformat())
    assert per_key["k2"] == ["2026-01-01T10:20:00"]
    assert per_key["k3"] == ["2026-01-01T13:00:00"]
    # k1: first occurrence kept; in-watermark dups suppressed; post-expiry
    # occurrence emitted again (bounded-state semantics, SURVEY.md 7)
    assert per_key["k1"][0] == "2026-01-01T10:00:00"
    assert "2026-01-01T10:00:30" not in per_key["k1"]
    assert "2026-01-01T10:20:10" not in per_key["k1"]
    assert per_key["k1"][-1] == "2026-01-01T13:00:05"


def test_stream_stream_interval_join(spark):
    """Clicks joined to views within [0, 10 min] after the view —
    watermarked interval join, state bounded on both sides."""
    views_schema = "ts string, user string, page string"
    clicks_schema = "ts string, user string, target string"
    views = [("2026-01-01 10:00:00", "u1", "home"), ("2026-01-01 10:30:00", "u2", "search")]
    clicks = [
        ("2026-01-01 10:04:00", "u1", "buy"),      # within 10 min of u1 view -> match
        ("2026-01-01 10:55:00", "u2", "logout"),   # 25 min after u2 view -> no match
    ]
    vsrc = _write_batches(spark, [views], views_schema)
    csrc = _write_batches(spark, [clicks], clicks_schema)
    v = (
        spark.readStream.schema(views_schema).parquet(vsrc)
        .select(F.to_timestamp("ts").alias("view_ts"), F.col("user"), "page")
        .withWatermark("view_ts", "1 hour")
    )
    c = (
        spark.readStream.schema(clicks_schema).parquet(csrc)
        .select(F.to_timestamp("ts").alias("click_ts"), F.col("user").alias("c_user"), "target")
        .withWatermark("click_ts", "1 hour")
    )
    joined = v.join(
        c,
        (F.col("user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("interval 10 minutes")),
    ).select("user", "page", "target")
    rows = sorted((r["user"], r["page"], r["target"]) for r in _run(joined, "append").collect())
    assert rows == [("u1", "home", "buy")]


def test_rate_source_synthetic_stream(spark):
    """S4 streaming variant: rate-source-driven transaction generator."""
    from realtime_change_data_capture_streaming_spark.sources.generator import synthetic_transactions_stream

    stream = synthetic_transactions_stream(spark, rows_per_second=500)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_tx")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 30
    n = 0
    while time.time() < deadline:
        n = spark.table("rate_tx").count()
        if n >= 100:
            break
        time.sleep(1)
    q.stop()
    assert n >= 100, f"rate stream produced only {n} rows"
    row = spark.table("rate_tx").limit(1).collect()[0]
    assert row["transaction_id"].count("-") == 4
    assert row["currency"] in ("EUR", "USD")


def test_tws_matches_apply_in_pandas_with_state(spark):
    """Parity: transformWithStateInPandas (Spark 4 typed-state API) and
    applyInPandasWithState compute identical per-user running totals.
    transformWithStateInPandas imports google.protobuf at worker init
    (StateMessage_pb2); the skip is environmental, not semantic — if
    protobuf ever lands in the image, this pins the two APIs to each
    other (and stream_tws_user_totals self-registers with the driver,
    see streaming/transform_state.py).
    """
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs google.protobuf (absent from container)",
    )
    from realtime_change_data_capture_streaming_spark.streaming.stateful import (
        stream_stateful_user_totals,
    )
    from realtime_change_data_capture_streaming_spark.streaming.transform_state import (
        stream_tws_user_totals,
    )

    sf = "/root/testdata/sf0.001"
    tws = {
        r["user_id"]: (r["n_events"], r["sum_value_cents"])
        for r in stream_tws_user_totals(spark, sf).collect()
    }
    aip = {
        r["user_id"]: (r["n_events"], r["sum_value_cents"])
        for r in stream_stateful_user_totals(spark, sf).collect()
    }
    assert tws == aip


def test_txn_gate_compaction_bounds_pending_without_changing_final_state(spark):
    """The txn pending store is BOUNDED: each batch rewrites only its
    touched txn-hash buckets, dropping released transactions' rows.  The
    final table must equal the batch gate's (``cdc_txn_consistent_apply``),
    and the ending store must hold ONLY the permanently-incomplete
    transactions' events (the %_TXN_DROP updates that never arrive)."""
    from pyspark.sql import functions as F

    from realtime_change_data_capture_streaming_spark.cdc.queries import (
        cdc_txn_consistent_apply,
        txn_change_events,
    )
    from realtime_change_data_capture_streaming_spark.cdc.bucketed import read_bucketed
    from realtime_change_data_capture_streaming_spark.session import scratch_dir
    from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import _run_txn_stream

    sf_dir = "/root/testdata/sf0.001"
    events, meta = txn_change_events(spark, sf_dir)
    op = F.get_json_object(F.col("value"), "$.op")
    frames = [events.filter(op == "c"), events.filter(op != "c")]

    base = cdc_txn_consistent_apply(spark, sf_dir)
    got, paths = _run_txn_stream(spark, frames, meta, scratch_dir(prefix="txn_cpt_"))
    assert base.exceptAll(got).count() == 0 and got.exceptAll(base).count() == 0
    assert got.count() > 0

    # the compacted store holds exactly the incomplete transactions
    from realtime_change_data_capture_streaming_spark.cdc.decode import parse_envelope

    parsed = parse_envelope(events, decimal_mode="string", capture_txn=True)
    arrived = (
        parsed.select("txn_id", "key", "lsn").distinct().groupBy("txn_id")
        .agg(F.count(F.lit(1)).alias("n_arrived"))
    )
    incomplete = set(
        r["txn_id"]
        for r in arrived.join(meta, "txn_id")
        .filter(F.col("n_arrived") < F.col("n_expected"))
        .select("txn_id")
        .collect()
    )
    assert incomplete, "fixture must have permanently-incomplete transactions"
    pend_schema = parsed.withColumn("tb", F.lit(0).cast("bigint")).schema
    pend = read_bucketed(spark, paths["pending"], "tb", pend_schema)
    held = set(r["txn_id"] for r in pend.select("txn_id").distinct().collect())
    assert held == incomplete, (sorted(held)[:5], sorted(incomplete)[:5])
    # bounded: far fewer rows than the full feed
    assert pend.count() < events.count()
