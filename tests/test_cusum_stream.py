"""Streaming CUSUM monitor pins: the cross-batch state machinery must be
invisible — ANY contiguous split of the monitored feed yields the batch
closed form — and the versioned state store must be replay-safe.

The monitor is the package's first ORDER-SENSITIVE cross-batch state
(every other store is counters/sketches/latest-wins); these tests pin
exactly the property that makes that sound: the closed form's prefix
decomposition."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
from realtime_change_data_capture_streaming_spark.streaming.cusum import (
    _CUT_1,
    _CUT_2,
    _advance_touched,
    _commit_state,
    _history_k,
    _monitored,
    _prep,
    _read_state,
    _summarize,
    cusum_monitor_batch,
)

SF = "/root/testdata/sf0.001"


def _rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def _drive_split(spark, store: str, cuts: list[str]):
    """Hand-drive the state machinery over the contiguous split defined
    by ``cuts`` (timestamps), committing one batch per segment."""
    kref = _history_k(spark, SF)
    mon = _prep(_monitored(spark, SF), kref)
    bounds = [None, *cuts, None]
    for bid in range(len(bounds) - 1):
        lo, hi = bounds[bid], bounds[bid + 1]
        b = mon
        if lo is not None:
            b = b.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi is not None:
            b = b.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
        days = [r["day_key"] for r in b.select("day_key").distinct().collect()]
        st = _read_state(spark, store, day_keys=days)
        _commit_state(store, _advance_touched(st, b), bid, days)
    return _summarize(_read_state(spark, store), kref)


def test_any_contiguous_split_equals_batch_closed_form(spark, tmp_path):
    """One batch, the registered 3-batch mid-day split, a 5-batch split
    with different cut points, and a split containing an EMPTY segment:
    all must produce the identical summary."""
    want = _rows_of(cusum_monitor_batch(spark, SF))
    splits = [
        [],  # single batch
        [_CUT_1, _CUT_2],  # the registered split
        [  # five batches, other mid-day cuts
            "2024-01-13 07:30:00",
            "2024-01-16 18:00:00",
            "2024-01-21 03:15:00",
            "2024-01-27 22:45:00",
        ],
        [  # middle segment empty (consecutive cuts inside one quiet second)
            "2024-01-19 12:00:00",
            "2024-01-19 12:00:00",
            "2024-01-25 09:00:00",
        ],
    ]
    for i, cuts in enumerate(splits):
        got = _rows_of(_drive_split(spark, str(tmp_path / f"store{i}"), cuts))
        assert got == want, (cuts, got, want)


def test_replay_of_applied_batch_is_a_noop(spark, tmp_path):
    """Re-delivering an already-committed batch id (foreachBatch's
    at-least-once contract) must leave the state byte-identical, even
    when the re-delivery carries rows."""
    store = str(tmp_path / "store")
    _drive_split(spark, store, [_CUT_1, _CUT_2])
    before = _rows_of(_read_state(spark, store))
    seq_before = table_commit.read_manifest(store)["seq"]

    kref = _history_k(spark, SF)
    replayed = _prep(_monitored(spark, SF), kref)  # the whole feed again
    days = [r["day_key"] for r in replayed.select("day_key").distinct().collect()]
    st = _read_state(spark, store)
    _commit_state(store, _advance_touched(st, replayed), 2, days)  # bid 2 applied
    assert _rows_of(_read_state(spark, store)) == before
    assert table_commit.read_manifest(store)["seq"] == seq_before


def test_state_chain_is_bounded(spark, tmp_path, monkeypatch):
    """The state store rides the shared version-chain bound: with the
    bound lowered to 2, a 4-batch drive keeps the chain at or under 2
    version dirs (one batch's days would otherwise pin its version
    forever), and the collapse changes no state — the summary equals an
    unbounded drive's."""
    cuts = ["2024-01-13 07:30:00", "2024-01-16 18:00:00", "2024-01-21 03:15:00"]
    monkeypatch.setattr(table_commit, "MAX_CHAIN_VERSIONS", 2)
    bounded = _rows_of(_drive_split(spark, str(tmp_path / "bounded"), cuts))
    m = table_commit.read_manifest(str(tmp_path / "bounded"))
    assert len(set(m["buckets"].values())) <= 2, m["buckets"]
    assert m["seq"] > len(cuts), "the bound never tripped a collapse"

    monkeypatch.setattr(table_commit, "MAX_CHAIN_VERSIONS", 10_000)
    unbounded = _rows_of(_drive_split(spark, str(tmp_path / "unbounded"), cuts))
    m_u = table_commit.read_manifest(str(tmp_path / "unbounded"))
    assert len(set(m_u["buckets"].values())) > 2, "fixture too small to grow a chain"
    assert bounded == unbounded


def test_registered_cuts_split_days_across_batches(spark):
    """The registered cut points must cut MID-DAY — at least one
    (event_type, day) must have events on both sides of each cut, or the
    prefix continuation would never be exercised by the registered
    query."""
    mon = _monitored(spark, SF)
    for cut in (_CUT_1, _CUT_2):
        c = F.lit(cut).cast("timestamp")
        day = F.to_date(F.lit(cut).cast("timestamp"))
        on_day = mon.filter(F.to_date("ts") == day)
        both = (
            on_day.groupBy("event_type")
            .agg(
                F.sum(F.when(F.col("ts") < c, 1).otherwise(0)).alias("pre"),
                F.sum(F.when(F.col("ts") >= c, 1).otherwise(0)).alias("post"),
            )
            .filter((F.col("pre") > 0) & (F.col("post") > 0))
        )
        assert both.count() > 0, f"cut {cut} does not split any series mid-day"


def test_touched_day_pruned_commits(spark, tmp_path):
    """A later batch touching only late days must NOT rewrite earlier
    days' partitions: their bucket-map entries keep pointing at the
    version dir that wrote them."""
    store = str(tmp_path / "store")
    _drive_split(spark, store, [_CUT_1, _CUT_2])
    m = table_commit.read_manifest(store)
    buckets = m["buckets"]
    versions = {v for v in buckets.values()}
    assert len(versions) == 3, f"expected 3 version dirs serving buckets, got {versions}"
    # days strictly before the first cut were written by batch 0 and
    # never touched again
    import datetime as dt

    first_cut_day = (dt.date(2024, 1, 17) - dt.date(1970, 1, 1)).days
    early = {k: v for k, v in buckets.items() if int(k) < first_cut_day}
    assert early and set(early.values()) == {"v00000000"}, early


def test_cusum_restart_from_checkpoint_replays_batch(spark):
    """Kill-and-restart for the day-keyed state store: the driver dies
    after batch 0's state commit but before its checkpoint commit; the
    restarted run (fresh closures) replays batch 0 — the applied-bid
    guard inside _commit_state must skip the double-advance — then
    finishes the remaining batches to the crash-free summary."""
    import pytest
    from pyspark.sql import functions as F

    from realtime_change_data_capture_streaming_spark.session import scratch_dir
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table
    from realtime_change_data_capture_streaming_spark.streaming._drive import drive_staged_stream
    from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import stage_ordered_batches
    from realtime_change_data_capture_streaming_spark.streaming.cusum import (
        _CUT_1,
        _CUT_2,
        _advance_batch,
        _history_k,
        _monitored,
        _read_state,
        _summarize,
        stream_cusum_monitor,
    )

    sf_dir = "/root/testdata/sf0.001"
    want = sorted(tuple(r) for r in stream_cusum_monitor(spark, sf_dir).collect())

    kref = _history_k(spark, sf_dir)
    work = scratch_dir(prefix="rs_cusum_")
    store = f"{work}/state_store"
    mon = _monitored(spark, sf_dir)
    c1, c2 = F.lit(_CUT_1).cast("timestamp"), F.lit(_CUT_2).cast("timestamp")
    in_dir = stage_ordered_batches(
        [
            mon.filter(F.col("ts") < c1),
            mon.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
            mon.filter(F.col("ts") >= c2),
        ],
        f"{work}/staged",
    )
    schema = load_table(spark, sf_dir, "events").schema

    def run(crash=None):
        def gate(batch, bid):
            _advance_batch(store, kref, batch, bid)
            if crash is not None and bid >= crash:
                raise RuntimeError(f"injected crash after batch {bid}")

        drive_staged_stream(spark, in_dir, schema, gate, f"{work}/ckpt")

    with pytest.raises(Exception, match="injected crash|Query .* terminated"):
        run(crash=0)
    run()
    got = sorted(tuple(r) for r in _summarize(_read_state(spark, store), kref).collect())
    assert got == want
