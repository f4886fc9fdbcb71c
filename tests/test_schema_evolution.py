"""Schema evolution on the CDC path (reference flow: ALTER TABLE ... ADD,
``/root/reference/README.md:211``): envelopes carrying fields the fixed
StructType does not know must not be silently dropped, and the sink must
widen on first sight instead of failing the merge."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from realtime_change_data_capture_streaming_spark.cdc import apply_changes_batch, parse_envelope
from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
from realtime_change_data_capture_streaming_spark.cdc.apply_changes import (
    BucketedParquetSink,
    compact_sink,
)
from realtime_change_data_capture_streaming_spark.sources import synthetic_change_events


def _with_extra_field(events, field: str, value: str):
    """Inject an unknown field into the after image of every envelope —
    string surgery on the JSON, as an upstream producer would emit it."""
    return events.withColumn(
        "value",
        F.regexp_replace(
            F.col("value"), r'"after":\{', f'"after":{{"{field}":"{value}",'
        ),
    )


def test_capture_extras_routes_unknown_fields(spark):
    events = _with_extra_field(
        synthetic_change_events(spark, 20, updates_per_key=0, delete_every=0), "channel", "web"
    )
    parsed = parse_envelope(events, "string", capture_extras=True)
    assert "_extra" in parsed.columns
    rows = parsed.select("key", F.element_at("_extra", "channel").alias("ch")).collect()
    assert all(r["ch"] == "web" for r in rows)
    # the typed image is unaffected, and known fields never leak into _extra
    known_leak = parsed.filter(F.map_contains_key("_extra", "transaction_id")).count()
    assert known_leak == 0
    assert parsed.filter(F.col("after.amount").isNull()).count() == 0


def test_capture_extras_off_is_unchanged(spark):
    events = synthetic_change_events(spark, 5, updates_per_key=0, delete_every=0)
    assert "_extra" not in parse_envelope(events, "string").columns


def test_apply_changes_carries_extras_latest_wins(spark):
    # v1 inserts, evolved updates: the update's extras must win; keys never
    # updated after the evolution must show null (widened-table semantics)
    base = synthetic_change_events(spark, 30, updates_per_key=1, delete_every=0)
    evolved = _with_extra_field(base.filter(F.col("value").contains('"op":"u"')), "channel", "web")
    v1 = base.filter(~F.col("value").contains('"op":"u"'))
    parsed = parse_envelope(v1.unionByName(evolved), "string", capture_extras=True)
    final = apply_changes_batch(parsed)
    assert final.filter(F.element_at("_extra", "channel") == "web").count() == 30


def test_sink_widens_on_first_sight(spark, tmp_path):
    """Merge a pre-evolution batch, then an evolved batch: the union must
    widen (null map for old rows), not fail; and the reverse direction
    (evolved table, v1 batch) must also merge."""
    sink = BucketedParquetSink(spark, str(tmp_path / "esink"), n_buckets=4)
    base = synthetic_change_events(spark, 40, updates_per_key=0, delete_every=0)
    first = parse_envelope(base, "string")  # no _extra column at all
    sink.merge(first)

    updates = _with_extra_field(
        synthetic_change_events(spark, 40, updates_per_key=1, delete_every=0).filter(
            F.col("value").contains('"op":"u"')
        ),
        "channel",
        "store",
    )
    sink.merge(parse_envelope(updates, "string", capture_extras=True))
    live = sink.read()
    assert "_extra" in live.columns
    assert live.count() == 40
    assert live.filter(F.element_at("_extra", "channel") == "store").count() == 40

    # reverse: a later v1 batch (no _extra) against the widened table
    fresh = parse_envelope(
        synthetic_change_events(spark, 5, updates_per_key=0, delete_every=0, seed=99), "string"
    )
    sink.merge(fresh)
    assert sink.read().count() == 45
    assert sink.read().filter(F.col("_extra").isNotNull()).count() == 40


def _bucket(n: int):
    return F.pmod(F.hash(F.col("key")), F.lit(n))


def _evolved_sink(spark, root):
    """A 32-bucket sink (the bucket-discovery merge path) whose buckets
    0-7 took an evolved update carrying an ``_extra`` channel, while
    every other bucket still holds its pre-evolution files.  Returns the
    sink, the raw change events and the evolved keys."""
    events = synthetic_change_events(spark, 64, updates_per_key=2, delete_every=0)
    sink = BucketedParquetSink(spark, root, n_buckets=32)
    sink.merge(parse_envelope(events.filter(F.col("value").contains('"op":"c"')), "string"))
    updates = events.filter(F.col("value").contains('"op":"u"'))
    evolved = _with_extra_field(updates.filter(_bucket(32) < 8), "channel", "web")
    sink.merge(parse_envelope(evolved, "string", capture_extras=True))
    keys = sorted(r[0] for r in evolved.select("key").distinct().collect())
    assert 0 < len(keys) < 64
    return sink, events, keys


def _pre_evolution_updates(events):
    """The v1-shaped updates of the keys in buckets 16-23 (no extras)."""
    in_b = (_bucket(32) >= 16) & (_bucket(32) < 24)
    return parse_envelope(events.filter(F.col("value").contains('"op":"u"') & in_b), "string")


def _assert_evolved_values(sink, keys):
    live = sink.read()
    assert live.count() == 64
    web = live.filter(F.element_at("_extra", "channel") == "web")
    assert sorted(r[0] for r in web.select("key").collect()) == keys
    got = sink.lookup(keys[:3]).select("key", F.element_at("_extra", "channel")).collect()
    assert sorted(got) == [(k, "web") for k in keys[:3]]


def test_partial_rewrites_keep_evolved_columns(spark, tmp_path):
    """Reads use the manifest's schema, so that schema must stay the
    union: a merge and a partial compaction that rewrite only
    pre-evolution buckets must not narrow it and drop the evolved column
    from the buckets that still carry it."""
    sink, events, keys = _evolved_sink(spark, str(tmp_path / "wide"))
    sink.merge(_pre_evolution_updates(events))
    compact_sink(sink, purge_tombstones_through_lsn=0, max_buckets=4)
    assert "_extra" in sink._manifest()["schema_json"]
    _assert_evolved_values(sink, keys)


def _edit_manifest(sink, edit) -> None:
    """Rewrite the live ``_CURRENT`` in place, as older code left it."""
    path = os.path.join(sink.path, table_commit.MANIFEST)
    with open(path) as f:
        m = json.load(f)
    edit(m)
    with open(path, "w") as f:
        json.dump(m, f)


def _narrow_unstamped(m) -> None:
    """Older writers recorded only the schema of the buckets they wrote
    (here: pre-evolution ones, no ``_extra``) and no completeness stamp."""
    schema = json.loads(m["schema_json"])
    schema["fields"] = [f for f in schema["fields"] if f["name"] != "_extra"]
    m["schema_json"] = json.dumps(schema)
    del m["schema_complete"]


def test_legacy_manifests_fall_back_to_inference(spark, tmp_path):
    """Older code left manifests with no recorded schema, or with one
    lacking the completeness stamp that may be narrower than the table
    (it covered only the pre-evolution buckets a merge or partial
    compaction rewrote).  Reads, merges and partial compactions must
    infer from the files for both and then record the WHOLE table's
    schema, or they would drop or null out the evolved column."""
    sink, events, keys = _evolved_sink(spark, str(tmp_path / "legacy"))
    _edit_manifest(sink, lambda m: (m.pop("schema_json"), m.pop("schema_complete")))
    _assert_evolved_values(sink, keys)
    sink.merge(_pre_evolution_updates(events))
    assert sink._manifest()["schema_complete"]
    assert "_extra" in sink._manifest()["schema_json"]
    _assert_evolved_values(sink, keys)

    _edit_manifest(sink, _narrow_unstamped)
    _assert_evolved_values(sink, keys)
    # an at-least-once redelivery of the first (stale) updates into the
    # evolved buckets: every row there is read back and rewritten
    first = F.get_json_object("value", "$.source.lsn").cast("long") % 4 == 1
    stale = events.filter(F.col("value").contains('"op":"u"') & first & (_bucket(32) < 8))
    sink.merge(parse_envelope(stale, "string", capture_extras=True))
    assert "_extra" in sink._manifest()["schema_json"]
    _assert_evolved_values(sink, keys)

    _edit_manifest(sink, _narrow_unstamped)
    # everything but the newest bucket: the evolved buckets are rewritten
    n_live = len(sink._manifest()["buckets"])
    compact_sink(sink, purge_tombstones_through_lsn=0, max_buckets=n_live - 1)
    assert "_extra" in sink._manifest()["schema_json"]
    _assert_evolved_values(sink, keys)
