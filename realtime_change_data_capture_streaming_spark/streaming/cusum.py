"""Streaming CUSUM drift monitor: the Page changepoint statistic
maintained EXACTLY across micro-batches.

``operators.quality.events_cusum_changepoint`` is the batch tier; a
production monitor watches a live feed.  CUSUM is ORDER-SENSITIVE — the
statistic is a prefix recursion, unlike every other cross-batch store in
this package (counters, sketches, latest-wins folds are all
order-independent) — so the cross-batch state is the per-(series, day)
prefix TRIPLE ``(C_last, min C, max C)`` plus the summary counters, and
the continuation is exact because the closed form
``S_t = C_t - min(0, running-min C)`` decomposes over any CONTIGUOUS
split: for a batch starting after prefix state (c0, m0, x0),

    C_t        = c0 + batch-prefix-sum_t
    runmin_t   = min(m0, c0 + batch-running-min_t)      (m0 folds the 0 baseline)
    S_t        = C_t - runmin_t                          (upward; downward mirrored)

The reference level k is fit ONCE on the history split and FROZEN — the
frozen-model discipline of ``streaming.semantic`` / ``ann_maintain``
(production CUSUM always runs against a fixed target, and the freeze is
what makes the final state oracle-replayable).

State lives in a versioned-dir store (``cdc/commit.py``) with the
manifest's bucket map keyed by EPOCH DAY: a micro-batch rewrites only
the day partitions it touched (untouched days keep serving from their
older version dirs — the ``BucketedParquetSink`` merge I/O model, with
the same version-chain bound), and the applied-batch-id replay guard
makes at-least-once re-delivery a no-op.  At 100 TB the monitored unit is (series, day): state rows scale
with series x days — metadata-scale next to the feed — and per-batch
work is one partition-sorted window pass over the batch plus an
equi-join against the touched days' state.

Contract: the stream must EQUAL the batch closed form on any contiguous
split of the feed (micro-batch boundaries may cut MID-DAY — that is the
continuation the state exists for); out-of-order delivery ACROSS batches
is out of contract, the standard watermark caveat for order-sensitive
statistics.  Pinned in ``tests/test_cusum_stream.py`` (multiple split
shapes, replay, mid-day-cut coverage).

Reference parity: the reference has no monitoring surface; §2.5
data-quality extension, streaming tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_change_data_capture_streaming_spark.cdc.bucketed import (
    publish_bucketed_version,
    read_bucketed,
)
from realtime_change_data_capture_streaming_spark.operators.quality import (
    _CUSUM_CENTS_SQL,
    _CUSUM_H,
    _cusum_cents,
    cusum_oracle_sql,
)
from realtime_change_data_capture_streaming_spark.session import scratch_dir
from realtime_change_data_capture_streaming_spark.streaming._drive import drive_staged_stream
from realtime_change_data_capture_streaming_spark.sources.tables import load_table
from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import (
    stage_ordered_batches,
)
from realtime_change_data_capture_streaming_spark.streaming.sketches import (
    _already_applied,
)

#: history split: events before this day fit the frozen reference level;
#: events at/after it arrive via the stream and are monitored.
CUSUM_SPLIT_DAY = "2024-01-11"

#: micro-batch cut points — deliberately MID-DAY so the cut days span two
#: batches and the prefix continuation is genuinely exercised.
_CUT_1 = "2024-01-17 11:00:00"
_CUT_2 = "2024-01-24 05:00:00"

_STATE_SCHEMA = (
    "event_type string, day_key int, c_last bigint, min_c bigint, max_c bigint, "
    "n bigint, up_alarms bigint, dn_alarms bigint, max_su bigint, max_sd bigint"
)


def _history_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen per-type reference level: truncating-DIV mean of integer
    cents over the HISTORY split, eagerly checkpointed (series-count rows
    of model state) so the per-batch joins and the final summary never
    re-run the history scan — the same pin-the-fitted-state discipline
    as ``semantic``/``ann_maintain``."""
    e = load_table(spark, sf_dir, "events")
    hist = e.filter(F.to_date("ts") < F.lit(CUSUM_SPLIT_DAY).cast("date"))
    return (
        hist.select("event_type", _cusum_cents(F.col("value")).alias("vc"))
        .groupBy("event_type")
        .agg(F.expr("CAST(sum(vc) DIV count(*) AS BIGINT)").alias("k_cents"))
        .localCheckpoint(eager=True)
    )


def _monitored(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.filter(F.to_date("ts") >= F.lit(CUSUM_SPLIT_DAY).cast("date"))


def _prep(rows: DataFrame, kref: DataFrame) -> DataFrame:
    """(event_type, day_key, ts, event_id, d): deviations from the frozen
    reference, day keyed as epoch days (int — the state store's bucket
    ids).  Types never seen in history have no reference level and are
    out of monitoring scope (inner join — documented contract)."""
    return (
        rows.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day_key"),
            "ts",
            "event_id",
            _cusum_cents(F.col("value")).alias("vc"),
        )
        .join(F.broadcast(kref), "event_type")
        .withColumn("d", F.col("vc") - F.col("k_cents"))
    )


def _advance_touched(state: DataFrame, batch_rows: DataFrame) -> DataFrame:
    """One exact state transition: per touched (event_type, day_key) the
    new prefix triple + accumulated counters, from one window pass over
    the batch and a left join against the carried state.

    ``state`` must hold every state row for the batch's DAYS (the commit
    granularity): rows whose (event_type, day_key) the batch does not
    touch are carried forward UNCHANGED into the output — a day
    partition rewrite must not drop the day's other series (a batch can
    contain one series' tail of a day without the others'; caught by the
    5-split pin in ``tests/test_cusum_stream.py``)."""
    w = (
        Window.partitionBy("event_type", "day_key")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cw = batch_rows.withColumn("bc", F.sum("d").over(w))
    x = cw.select(
        "event_type",
        "day_key",
        "d",
        "bc",
        F.min("bc").over(w).alias("brmin"),
        F.max("bc").over(w).alias("brmax"),
    )
    st = state.select(
        "event_type",
        "day_key",
        F.col("c_last").alias("c0"),
        F.col("min_c").alias("m0"),
        F.col("max_c").alias("x0"),
        F.col("n").alias("n0"),
        F.col("up_alarms").alias("up0"),
        F.col("dn_alarms").alias("dn0"),
        F.col("max_su").alias("msu0"),
        F.col("max_sd").alias("msd0"),
    )
    j = x.join(st, ["event_type", "day_key"], "left").na.fill(
        0, ["c0", "m0", "x0", "n0", "up0", "dn0", "msu0", "msd0"]
    )
    su = (F.col("c0") + F.col("bc")) - F.least(F.col("m0"), F.col("c0") + F.col("brmin"))
    sd = F.greatest(F.col("x0"), F.col("c0") + F.col("brmax")) - (F.col("c0") + F.col("bc"))
    h = F.lit(_CUSUM_H).cast("bigint")
    r = j.select(
        "event_type", "day_key", "d", "bc", "c0", "m0", "x0",
        "n0", "up0", "dn0", "msu0", "msd0",
        su.alias("su"), sd.alias("sd"),
    )
    advanced = r.groupBy("event_type", "day_key").agg(
        (F.max("c0") + F.sum("d")).cast("bigint").alias("c_last"),
        F.least(F.max("m0"), F.max("c0") + F.min("bc")).cast("bigint").alias("min_c"),
        F.greatest(F.max("x0"), F.max("c0") + F.max("bc")).cast("bigint").alias("max_c"),
        (F.max("n0") + F.count(F.lit(1))).cast("bigint").alias("n"),
        (F.max("up0") + F.sum(F.when(F.col("su") > h, 1).otherwise(0)))
        .cast("bigint")
        .alias("up_alarms"),
        (F.max("dn0") + F.sum(F.when(F.col("sd") > h, 1).otherwise(0)))
        .cast("bigint")
        .alias("dn_alarms"),
        F.greatest(F.max("msu0"), F.max("su")).cast("bigint").alias("max_su"),
        F.greatest(F.max("msd0"), F.max("sd")).cast("bigint").alias("max_sd"),
    )
    carried = state.join(
        batch_rows.select("event_type", "day_key").distinct(),
        ["event_type", "day_key"],
        "left_anti",
    )
    return advanced.unionByName(carried)


def _read_state(spark: SparkSession, store: str, day_keys: list | None = None) -> DataFrame:
    """Manifest-driven read of the state store, optionally path-pruned to
    a day subset (the one bucket-mapped reader: ``cdc/bucketed.py``)."""
    return read_bucketed(spark, store, "day_key", _STATE_SCHEMA, ids=day_keys)


def _commit_state(store: str, touched_state: DataFrame, bid: int, touched: list[int]) -> None:
    """One micro-batch state commit: replay-guarded on the batch id,
    rewriting ONLY the ``touched`` day partitions (untouched days keep
    their manifest-mapped older version dirs; the shared chain bound
    collapses the smallest ones).  ``touched`` is the batch's day set,
    already discovered by the caller — by construction it equals
    ``touched_state``'s day set (advanced days plus carried same-day
    series)."""
    if _already_applied(store, bid):
        return
    touched = sorted(touched)
    if not touched:
        return
    publish_bucketed_version(
        store, touched_state.localCheckpoint(eager=True), "day_key", touched, {"applied_bid": bid}
    )


def _summarize(state: DataFrame, kref: DataFrame) -> DataFrame:
    """Per-type monitoring summary over the live state — the exact output
    schema of the batch tier (k here is the frozen history level)."""
    day = F.date_add(F.lit("1970-01-01").cast("date"), F.col("day_key"))
    g = state.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("max_su").alias("max_up_stat"),
        F.max("max_sd").alias("max_dn_stat"),
        F.sum("up_alarms").cast("bigint").alias("up_alarms"),
        F.sum("dn_alarms").cast("bigint").alias("dn_alarms"),
        F.min(F.when(F.col("up_alarms") > 0, day)).alias("first_up_alarm_day"),
        F.min(F.when(F.col("dn_alarms") > 0, day)).alias("first_dn_alarm_day"),
    )
    return g.join(F.broadcast(kref), "event_type").select(
        "event_type",
        "n_events",
        "n_days",
        "k_cents",
        "max_up_stat",
        "max_dn_stat",
        "up_alarms",
        "dn_alarms",
        "first_up_alarm_day",
        "first_dn_alarm_day",
    )


def cusum_monitor_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch closed form: the whole monitored split as ONE batch from
    empty state — the reference result any contiguous micro-batch split
    must reproduce exactly."""
    kref = _history_k(spark, sf_dir)
    empty = spark.createDataFrame([], _STATE_SCHEMA)
    return _summarize(
        _advance_touched(empty, _prep(_monitored(spark, sf_dir), kref)), kref
    )


def stream_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitored feed replayed as THREE contiguous micro-batches with
    mid-day cut points; each batch advances the replay-guarded day-keyed
    state store; output = the summary over the final live state."""
    kref = _history_k(spark, sf_dir)
    work = scratch_dir(prefix="cusumstream_")
    store = f"{work}/state_store"
    mon = _monitored(spark, sf_dir)
    c1 = F.lit(_CUT_1).cast("timestamp")
    c2 = F.lit(_CUT_2).cast("timestamp")
    in_dir = stage_ordered_batches(
        [
            mon.filter(F.col("ts") < c1),
            mon.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
            mon.filter(F.col("ts") >= c2),
        ],
        f"{work}/staged",
    )
    e = load_table(spark, sf_dir, "events")

    def _advance(batch_df: DataFrame, batch_id: int) -> None:
        _advance_batch(store, kref, batch_df, batch_id)

    drive_staged_stream(spark, in_dir, e.schema, _advance, f"{work}/ckpt")
    return _summarize(_read_state(spark, store), kref)


def _advance_batch(store: str, kref: DataFrame, batch_df: DataFrame, bid: int) -> None:
    """One micro-batch of the day-keyed state advance (module-level so
    the kill-and-restart test can drive it with a fault hook).  All
    state lives in the store — the day-keyed bucket map, the applied
    batch id (replay guard inside ``_commit_state``) — so a restarted
    driver with fresh closures resumes correctly from the checkpoint."""
    sp = batch_df.sparkSession
    rows = _prep(batch_df, kref).localCheckpoint(eager=True)
    # bounded collect: one id per day in the batch — the state store's
    # bucket map granularity (metadata-scale, like merge's bucket
    # discovery); the same list keys the state read AND the commit
    days = [r["day_key"] for r in rows.select("day_key").distinct().collect()]
    st = _read_state(sp, store, day_keys=days)
    _commit_state(store, _advance_touched(st, rows), bid, days)


#: the streaming oracle: the SAME closed-form body as the batch tier
#: (one template — a fix can never reach one oracle and miss the other),
#: with the reference level fit on the history split and the monitored
#: rows filtered to the stream's feed.
_STREAM_CUSUM_SQL = cusum_oracle_sql(
    k_from=(
        f"(SELECT event_type, {_CUSUM_CENTS_SQL} AS vc FROM events "
        f"WHERE CAST(ts AS DATE) < DATE '{CUSUM_SPLIT_DAY}')"
    ),
    v_where=f" WHERE CAST(ts AS DATE) >= DATE '{CUSUM_SPLIT_DAY}'",
)


QUERIES = {"stream_cusum_monitor": stream_cusum_monitor}
ORACLE = {"stream_cusum_monitor": _STREAM_CUSUM_SQL}
