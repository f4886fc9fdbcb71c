"""Scale contracts of the bucketed sink (the 100 TB story, measured):

1. merge I/O is proportional to the batch's touched buckets, not table
   size — with uuid-style keys at a realistic bucket count;
2. compaction publishes atomically: a reader holding the pre-compaction
   version keeps working, and the pointer flip is all-or-nothing;
3. compaction re-buckets toward ``target_bucket_bytes`` so bucket size
   (and therefore per-touched-bucket merge I/O) stays pinned as the
   table grows.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
from realtime_change_data_capture_streaming_spark.cdc import parse_envelope
from realtime_change_data_capture_streaming_spark.cdc.apply_changes import (
    BucketedParquetSink,
    compact_sink,
)
from realtime_change_data_capture_streaming_spark.cdc.bucketed import (
    publish_bucketed_version,
    read_bucketed,
)
from realtime_change_data_capture_streaming_spark.sources import synthetic_change_events


def _sorted_rows(df, cols=("transaction_id", "amount")):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def big_parsed(spark):
    # 8192 uuid-style keys, inserts only: the adversarial case from round 1
    # (uniform hash over unique keys — zero bucket locality)
    events = synthetic_change_events(spark, 8192, updates_per_key=0, delete_every=0, seed=11)
    return parse_envelope(events, decimal_mode="string").cache()


def _snapshot_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _d, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_merge_io_proportional_to_touched_buckets(spark, big_parsed, tmp_path):
    """A 20-key batch against an 8192-key table at 128 buckets must rewrite
    ~E[touched]=128*(1-(1-1/128)^20)≈19 buckets ≈ 15% of table bytes — not
    the whole table (round-1 failure mode: n_buckets=64 fixed => any few-
    hundred-key batch rewrote 100%)."""
    sink = BucketedParquetSink(spark, str(tmp_path / "sink"), n_buckets=128)
    sink.merge(big_parsed)
    v0 = sink.data_dir()
    before = _snapshot_files(v0)
    table_bytes = sink.table_bytes()

    batch = (
        big_parsed.orderBy("key")
        .limit(20)
        .withColumn("lsn", F.col("lsn") + 10_000_000)
        .withColumn(
            "after", F.col("after").withField("amount", F.lit("1234.56").cast("decimal(18,2)"))
        )
    )
    sink.merge(batch)

    # MVCC: the merge staged a NEW version holding ONLY touched buckets...
    v1 = sink.data_dir()
    assert v1 != v0
    written = _snapshot_files(v1)
    touched_buckets = {p.split(os.sep)[0] for p in written if p.startswith("_bucket=")}
    rewritten = sum(meta[0] for p, meta in written.items() if p.startswith("_bucket="))
    # ...and left the previous version byte-for-byte untouched (immutable
    # snapshot for any reader that resolved the old manifest)
    assert _snapshot_files(v0) == before

    assert 0 < len(touched_buckets) <= 20, touched_buckets
    assert rewritten <= 0.3 * table_bytes, (
        f"merge rewrote {rewritten}/{table_bytes} bytes "
        f"({rewritten / table_bytes:.0%}) — not O(batch)"
    )
    # the manifest serves untouched buckets from v0 and touched from v1
    m = table_commit.read_manifest(sink.path)
    vnames = set(m["buckets"].values())
    assert {os.path.basename(v0), os.path.basename(v1)} == vnames
    # and it was still a correct merge
    assert sink.read().filter(F.col("amount") == 1234.56).count() == 20
    assert sink.read().count() == 8192


def test_compaction_is_atomic_for_concurrent_readers(spark, big_parsed, tmp_path):
    sink = BucketedParquetSink(spark, str(tmp_path / "asink"), n_buckets=8)
    sink.merge(big_parsed.limit(500))
    want = _sorted_rows(sink.read())

    old_reader = sink.read()  # resolves the pre-compaction version dir
    compact_sink(sink, purge_tombstones_through_lsn=10**9)
    # the old version is retained as the reader grace window
    assert _sorted_rows(old_reader) == want
    # the flipped-to version agrees
    assert _sorted_rows(sink.read()) == want
    # a second commit GCs the oldest version: exactly live + previous remain
    compact_sink(sink, purge_tombstones_through_lsn=10**9)
    versions = [e for e in os.listdir(sink.path) if e.startswith("v")]
    assert len(versions) == 2, versions
    assert _sorted_rows(sink.read()) == want


def test_gc_honors_prior_manifest_references(spark, big_parsed, tmp_path):
    """A reader holding the PREVIOUS manifest may reference arbitrarily old
    version dirs through its bucket map (v0 still serving untouched
    buckets).  A compaction must not GC those dirs for at least one commit
    — the grace window is manifest-based, not sequence-number-based."""
    sink = BucketedParquetSink(spark, str(tmp_path / "gsink"), n_buckets=16)
    sink.merge(big_parsed.limit(600))  # v0: every bucket
    batch = (
        big_parsed.orderBy("key")
        .limit(5)
        .withColumn("lsn", F.col("lsn") + 10_000_000)
        .withColumn(
            "after", F.col("after").withField("amount", F.lit("42.42").cast("decimal(18,2)"))
        )
    )
    sink.merge(batch)  # v1: a few buckets; most still served from v0
    want = _sorted_rows(sink.read())

    old_reader = sink.read()  # snapshot = manifest seq1 (points into v0 AND v1)
    compact_sink(sink, purge_tombstones_through_lsn=10**9)  # seq2, all -> v2
    # numeric cutoff alone would GC v0 (0 < seq2 - keep); the archived seq1
    # manifest must keep it alive for the concurrent reader
    assert _sorted_rows(old_reader) == want
    assert _sorted_rows(sink.read()) == want
    # one commit later the grace expires and the chain fully collapses
    compact_sink(sink, purge_tombstones_through_lsn=10**9)
    versions = [e for e in os.listdir(sink.path) if e.startswith("v")]
    assert len(versions) == 2, versions
    assert _sorted_rows(sink.read()) == want


def test_partial_compaction_touches_only_oldest_buckets(spark, big_parsed, tmp_path):
    """Incremental compaction: max_buckets=k rewrites only the k buckets
    served from the oldest versions; untouched buckets stay byte-identical
    and readers stay consistent throughout."""
    sink = BucketedParquetSink(spark, str(tmp_path / "psink"), n_buckets=16)
    sink.merge(big_parsed.limit(600))
    batch = (
        big_parsed.orderBy("key")
        .limit(5)
        .withColumn("lsn", F.col("lsn") + 10_000_000)
        .withColumn(
            "after", F.col("after").withField("amount", F.lit("9.99").cast("decimal(18,2)"))
        )
    )
    sink.merge(batch)
    want = _sorted_rows(sink.read())
    m_before = table_commit.read_manifest(sink.path)
    oldest_v = min(m_before["buckets"].values())
    old_buckets = {b for b, v in m_before["buckets"].items() if v == oldest_v}
    k = min(4, len(old_buckets))
    untouched_before = {
        v: _snapshot_files(os.path.join(sink.path, v))
        for v in set(m_before["buckets"].values())
    }

    compact_sink(sink, purge_tombstones_through_lsn=10**9, max_buckets=k)

    m_after = table_commit.read_manifest(sink.path)
    moved = {b for b in m_before["buckets"] if m_after["buckets"][b] != m_before["buckets"][b]}
    # exactly k buckets moved, all from the oldest version
    assert len(moved) == k, (moved, k)
    assert moved <= old_buckets, (moved, old_buckets)
    # every pre-existing version dir is byte-for-byte untouched
    for v, before in untouched_before.items():
        assert _snapshot_files(os.path.join(sink.path, v)) == before, v
    assert _sorted_rows(sink.read()) == want

    # repeated partial runs drain the oldest version entirely
    while oldest_v in set(table_commit.read_manifest(sink.path)["buckets"].values()):
        compact_sink(sink, purge_tombstones_through_lsn=10**9, max_buckets=4)
    assert _sorted_rows(sink.read()) == want


def test_snapshot_time_travel_within_grace(spark, big_parsed, tmp_path):
    """read(at_seq=...) reproduces the table state as of an earlier commit
    (Delta/Iceberg-style time travel over the archived manifests), bounded
    by the GC grace window; past it the read fails loudly."""
    sink = BucketedParquetSink(spark, str(tmp_path / "ttsink"), n_buckets=8)
    sink.merge(big_parsed.limit(300))  # seq 0
    state0 = _sorted_rows(sink.read())
    batch = (
        big_parsed.orderBy("key")
        .limit(7)
        .withColumn("lsn", F.col("lsn") + 10_000_000)
        .withColumn(
            "after", F.col("after").withField("amount", F.lit("11.11").cast("decimal(18,2)"))
        )
    )
    sink.merge(batch)  # seq 1
    state1 = _sorted_rows(sink.read())
    assert state1 != state0
    compact_sink(sink, purge_tombstones_through_lsn=10**12)  # seq 2

    assert sink.snapshots() == [1, 2]  # seq 0 aged out (keep=1 grace)
    assert _sorted_rows(sink.read(at_seq=1)) == state1
    assert _sorted_rows(sink.read(at_seq=2)) == state1  # compaction: same state
    assert _sorted_rows(sink.read()) == state1
    with pytest.raises(KeyError, match="aged out"):
        sink.read(at_seq=0)


def test_change_data_feed_between_snapshots(spark, big_parsed, tmp_path):
    """changes(from, to): insert / update_postimage / delete classified
    against the older snapshot; physical-only rewrites (compaction) and
    purged tombstones emit nothing."""
    sink = BucketedParquetSink(spark, str(tmp_path / "cdfsink"), n_buckets=8)
    base = big_parsed.orderBy("key").limit(100).cache()
    keys = [r["key"] for r in base.select("key").orderBy("key").collect()]
    sink.merge(base)  # seq 0

    upd = (
        base.filter(F.col("key") == keys[0])
        .withColumn("lsn", F.col("lsn") + 10_000_000)
        .withColumn(
            "after", F.col("after").withField("amount", F.lit("55.55").cast("decimal(18,2)"))
        )
    )
    dele = (
        base.filter(F.col("key") == keys[1])
        .withColumn("lsn", F.col("lsn") + 10_000_000)
        .withColumn("op", F.lit("d"))
    )
    fresh = (
        base.filter(F.col("key") == keys[2])
        .withColumn("key", F.concat(F.col("key"), F.lit("_new")))
        .withColumn(
            "after",
            F.col("after").withField("transaction_id", F.concat(F.col("key"), F.lit(""))),
        )
    )
    sink.merge(upd.unionByName(dele).unionByName(fresh))  # seq 1

    cdf = {r["key"]: r["_change_type"] for r in sink.changes(0).collect()}
    assert cdf == {
        keys[0]: "update_postimage",
        keys[1]: "delete",
        keys[2] + "_new": "insert",
    }, cdf
    # post-image payload rides along
    amounts = {r["key"]: r["amount"] for r in sink.changes(0).collect()}
    assert str(amounts[keys[0]]) == "55.55"

    # identical snapshots -> empty feed
    assert sink.changes(1, to_seq=1).count() == 0
    # compaction purges the tombstone but changes no logical state
    compact_sink(sink, purge_tombstones_through_lsn=10**12)  # seq 2
    assert sink.changes(1, to_seq=2).count() == 0

    # delete + purge BETWEEN the compared snapshots: the key is live at
    # from_seq but wholly absent at to_seq (its tombstone was purged), so
    # the new snapshot cannot witness it — the feed must synthesize a
    # delete with a null post-image or a downstream consumer keeps the
    # key alive forever.  keep=2 grace window: from_seq must survive the
    # two commits (delete, purge) between the snapshots.
    sink.keep = 2
    dele2 = (
        base.filter(F.col("key") == keys[3])
        .withColumn("lsn", F.col("lsn") + 20_000_000)
        .withColumn("op", F.lit("d"))
    )
    sink.merge(dele2)  # seq 3
    compact_sink(sink, purge_tombstones_through_lsn=10**13)  # seq 4
    assert sink.read(at_seq=4).filter(F.col("key") == keys[3]).count() == 0
    assert sink.read_raw(at_seq=4).filter(F.col("key") == keys[3]).count() == 0  # purged
    feed = {r["key"]: r for r in sink.changes(2, to_seq=4).collect()}
    assert set(feed) == {keys[3]}, feed
    assert feed[keys[3]]["_change_type"] == "delete"
    assert feed[keys[3]]["amount"] is None  # no post-image exists
    # dead -> purged emits nothing: at seq 3 keys[3] is already a
    # tombstone, so purging it by seq 4 is no logical change
    assert sink.changes(3, to_seq=4).count() == 0


def test_mvcc_survives_random_merge_compact_interleavings(spark, big_parsed):
    """Property: under ANY interleaving of merges, full compactions, and
    partial (max_buckets) compactions, (a) the live table always equals the
    latest-wins model, and (b) a reader that resolved the manifest one
    commit ago still scans ITS snapshot consistently (the manifest-grace GC
    contract) — locking the MVCC design against interleaving regressions."""
    import shutil
    import tempfile
    from decimal import Decimal

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(data=st.data())
    def run(data):
        root = tempfile.mkdtemp(prefix="mvcc_sink_")
        try:
            sink = BucketedParquetSink(spark, os.path.join(root, "t"), n_buckets=8)
            base = big_parsed.orderBy("key").limit(200).cache()
            rows = base.select("key", F.col("after.amount").alias("amount")).collect()
            keys = sorted(r["key"] for r in rows)
            model = {r["key"]: r["amount"] for r in rows}
            sink.merge(base)

            def scan(reader):
                return {
                    r["transaction_id"]: r["amount"]
                    for r in reader.select("transaction_id", "amount").collect()
                }

            assert scan(sink.read()) == model
            prev_reader, prev_model = sink.read(), dict(model)
            lsn = 10_000_000
            for i in range(data.draw(st.integers(3, 6), label="n_ops")):
                op = data.draw(
                    st.sampled_from(["merge", "delete", "compact", "partial"]),
                    label=f"op{i}",
                )
                model_before = dict(model)
                seq_before = sink.snapshots()[-1]
                want_feed: dict[str, str] = {}
                if op == "merge":
                    lo = data.draw(st.integers(0, len(keys) - 2), label=f"lo{i}")
                    hi = data.draw(
                        st.integers(lo + 1, min(lo + 40, len(keys))), label=f"hi{i}"
                    )
                    subset = keys[lo:hi]
                    amount = Decimal(f"{1000 + i}.25")
                    # strictly above every prior lsn for these keys: the
                    # synthetic lsns are < 1e10, and the offset grows per op
                    lsn += 10**10
                    batch = (
                        base.filter(F.col("key").isin(subset))
                        .withColumn("lsn", F.col("lsn") + F.lit(lsn))
                        .withColumn(
                            "after",
                            F.col("after").withField(
                                "amount", F.lit(str(amount)).cast("decimal(18,2)")
                            ),
                        )
                    )
                    sink.merge(batch)
                    # a merged key that was deleted REVIVES (insert); a live
                    # one advances (update_postimage)
                    want_feed = {
                        k: ("update_postimage" if k in model_before else "insert")
                        for k in subset
                    }
                    for k in subset:
                        model[k] = amount
                elif op == "delete":
                    live = sorted(model)
                    if not live:
                        continue
                    lo = data.draw(st.integers(0, len(live) - 1), label=f"dlo{i}")
                    subset = live[lo : lo + 15]
                    lsn += 10**10
                    batch = (
                        base.filter(F.col("key").isin(subset))
                        .withColumn("lsn", F.col("lsn") + F.lit(lsn))
                        .withColumn("op", F.lit("d"))
                    )
                    sink.merge(batch)
                    want_feed = {k: "delete" for k in subset}
                    for k in subset:
                        del model[k]
                elif op == "compact":
                    # the purge bound exceeds every tombstone lsn, so this
                    # PURGES all tombstones — dead->purged must emit nothing
                    compact_sink(sink, purge_tombstones_through_lsn=10**12)
                else:
                    compact_sink(sink, purge_tombstones_through_lsn=10**12, max_buckets=3)
                # live table == latest-wins model after every op
                assert scan(sink.read()) == model, f"live scan diverged after {op}"
                # the one-commit-old reader still serves its full snapshot
                assert scan(prev_reader) == prev_model, f"grace reader broken by {op}"
                # change feed since the pre-op snapshot matches the model
                # diff: merges insert/update exactly the subset keys, deletes
                # tombstone them, compactions change no logical state (a
                # purged tombstone was already dead -> emits nothing)
                feed = {
                    r["transaction_id"]: r["_change_type"]
                    for r in sink.changes(seq_before).collect()
                }
                assert feed == want_feed, f"CDF diverged after {op}: {feed} != {want_feed}"
                prev_reader, prev_model = sink.read(), dict(model)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run()


def test_compaction_rebuckets_to_target_bytes(spark, big_parsed, tmp_path):
    """target_bucket_bytes drives the bucket count: compacting a table that
    outgrew its buckets multiplies n_buckets, state is preserved, and the
    next merge honors the manifest's new count."""
    sink = BucketedParquetSink(spark, str(tmp_path / "rsink"), n_buckets=4)
    sink.merge(big_parsed)
    want = _sorted_rows(sink.read())
    table_bytes = table_commit.dir_bytes(sink.data_dir())

    compact_sink(sink, purge_tombstones_through_lsn=-1, target_bucket_bytes=table_bytes // 30)
    n_new = sink.current_n_buckets()
    assert n_new == 32  # next pow2 above 30
    assert _sorted_rows(sink.read()) == want
    # bucket layout on disk actually matches the manifest count
    buckets = [e for e in os.listdir(sink.data_dir()) if e.startswith("_bucket=")]
    assert len(buckets) > 4

    # merges after the re-bucket route keys by the NEW count (manifest wins
    # over the constructor seed) and stay correct
    batch = (
        big_parsed.orderBy("key")
        .limit(10)
        .withColumn("lsn", F.col("lsn") + 10_000_000)
        .withColumn(
            "after", F.col("after").withField("amount", F.lit("7777.77").cast("decimal(18,2)"))
        )
    )
    sink.merge(batch)
    assert sink.read().filter(F.col("amount") == 7777.77).count() == 10
    assert sink.read().count() == len(want)


def test_merge_rejects_mixed_ordering_mode(spark, big_parsed, tmp_path):
    """__lsn holds WAL ordinals under ("lsn", ...) but log offsets under
    ("offset", ...) — incomparable spaces.  The mode is recorded in the
    manifest on first merge; a later merge with a different order_cols
    (e.g. a pipeline restart whose source schema gained/lost the offset
    column) must raise instead of silently corrupting latest-wins."""
    sink = BucketedParquetSink(spark, str(tmp_path / "ordsink"), n_buckets=4)
    b = big_parsed.orderBy("key").limit(10).withColumn("offset", F.col("lsn"))
    sink.merge(b)  # records ("lsn", "ts_ms")
    assert sink._manifest()["order_cols"] == ["lsn", "ts_ms"]
    with pytest.raises(ValueError, match="order"):
        sink.merge(b, order_cols=("offset", "ts_ms"))
    # the recorded mode survives compaction commits too
    compact_sink(sink, purge_tombstones_through_lsn=0)
    assert sink._manifest()["order_cols"] == ["lsn", "ts_ms"]
    with pytest.raises(ValueError, match="order"):
        sink.merge(b, order_cols=("offset", "ts_ms"))
    # same mode keeps merging fine
    sink.merge(b)


def test_point_lookup_reads_at_most_k_buckets(spark, big_parsed, tmp_path):
    """Serving-tier pin (the reference consumer's PK GET): a k-key
    ``lookup`` must plan a scan over <= k bucket directories — path-level
    pruning via the deterministic bucket arithmetic, never a table scan —
    and return exactly the live rows for those keys (tombstones excluded,
    missing keys absent)."""
    sink = BucketedParquetSink(spark, str(tmp_path / "lk"), n_buckets=128)
    sink.merge(big_parsed)

    some = [r[0] for r in big_parsed.select("key").orderBy("key").limit(3).collect()]
    probe = some + ["no-such-key-xyzzy"]
    df = sink.lookup(probe)

    # plan property: every file the scan will read lives under a probed
    # bucket dir, and the number of distinct bucket dirs is <= k
    files = df.inputFiles()
    assert files, "lookup planned an empty scan"
    bucket_dirs = {f.split("/_bucket=")[1].split("/")[0] for f in files}
    assert len(bucket_dirs) <= len(probe), bucket_dirs
    expected_buckets = {
        str(r[0])
        for r in big_parsed.filter(F.col("key").isin(some))
        .select(F.pmod(F.hash("key"), F.lit(128)))
        .distinct()
        .collect()
    }
    # the miss key adds at most one extra bucket; every hit bucket probed
    assert expected_buckets <= bucket_dirs, (expected_buckets, bucket_dirs)

    # value property: exactly the live rows for the probed keys
    got = sorted(r["transaction_id"] for r in df.collect())
    assert got == sorted(some)
    full = _sorted_rows(sink.read().filter(F.col("transaction_id").isin(some)))
    assert _sorted_rows(df) == full


def test_point_lookup_pins_its_snapshot(spark, big_parsed, tmp_path, monkeypatch):
    """The whole probe — bucket count, schema probe, pruned read — must
    resolve ONE manifest: lookup() pins the live snapshot's seq before
    reading, so a re-bucketing compaction committing mid-probe cannot
    make it prune the NEW layout with bucket ids hashed under the OLD
    count (silently-empty results).  Simulated by committing the
    compaction between the manifest resolve and the pruned read."""
    sink = BucketedParquetSink(spark, str(tmp_path / "pin"), n_buckets=8)
    sink.merge(big_parsed)
    key = big_parsed.select("key").orderBy("key").limit(1).collect()[0][0]

    real_read_raw = BucketedParquetSink.read_raw
    fired = {"done": False}

    def race_read_raw(self, buckets=None, at_seq=None):
        # first pruned read of the probe: a re-bucketing compaction (8 ->
        # 32 buckets) lands right before the read resolves its manifest
        if buckets is not None and not fired["done"]:
            fired["done"] = True
            compact_sink(self, 0, target_bucket_bytes=10**12)  # re-buckets 8 -> 1
            assert self._manifest()["n_buckets"] != 8, "compaction did not re-bucket"
        return real_read_raw(self, buckets=buckets, at_seq=at_seq)

    monkeypatch.setattr(BucketedParquetSink, "read_raw", race_read_raw)
    got = sink.lookup([key]).collect()
    assert fired["done"], "race injection never fired"
    assert len(got) == 1 and got[0]["transaction_id"] == key


def test_fully_tombstoned_compaction_keeps_table_alive(spark, big_parsed, tmp_path):
    """Delete EVERY key, then compact with a full purge: the committed
    snapshot holds zero rows and zero parquet files, but the manifest's
    recorded schema keeps read()/lookup()/merge() working — previously
    this bricked the table (schema inference over a file-less version
    dir) on every subsequent call."""
    sink = BucketedParquetSink(spark, str(tmp_path / "empty"), n_buckets=8)
    small = big_parsed.orderBy("key").limit(6).localCheckpoint(eager=True)
    sink.merge(small)
    max_lsn = small.agg(F.max("lsn")).collect()[0][0]
    deletes = small.withColumn("op", F.lit("d")).withColumn(
        "lsn", F.col("lsn") + F.lit(1_000_000)
    )
    sink.merge(deletes)
    compact_sink(sink, purge_tombstones_through_lsn=max_lsn + 2_000_000)

    assert sink.read().count() == 0
    key = small.select("key").orderBy("key").limit(1).collect()[0][0]
    assert sink.lookup([key]).count() == 0
    # and the table accepts new life after being emptied
    sink.merge(small)
    assert sink.read().count() == 6


def test_maybe_compact_sink_bounds_version_chain(spark, big_parsed, tmp_path, monkeypatch):
    """VERDICT r13 task 4 (sink half): the manifest-tracked trigger —
    at the bound it is a no-op (no commit, False); above it, one
    incremental compact_sink(buckets=...) run rewrites exactly the
    buckets ``commit.chain_collapse`` names and restores the bound, with
    the table state unchanged.  The bound is ``commit.py``'s one constant,
    lowered here."""
    from realtime_change_data_capture_streaming_spark.cdc.apply_changes import maybe_compact_sink

    # small disjoint slices (~10 keys over 64 buckets) so each merge's
    # touched set barely overlaps the earlier ones and the chain grows —
    # big batches touch every bucket and collapse the chain by themselves
    events = synthetic_change_events(spark, 60, updates_per_key=0, delete_every=0, seed=13)
    parsed = parse_envelope(events, decimal_mode="string").cache()
    sink = BucketedParquetSink(spark, str(tmp_path / "sink"), n_buckets=64)
    for i in range(6):
        sink.merge(parsed.filter(F.pmod(F.crc32(F.col("key")), F.lit(6)) == i))
    m = table_commit.read_manifest(sink.path)
    n_versions = len(set(m["buckets"].values()))
    assert n_versions > 3, f"fixture too overlapping to grow a chain: {n_versions}"
    want = _sorted_rows(sink.read())
    seq_before = m["seq"]

    monkeypatch.setattr(table_commit, "MAX_CHAIN_VERSIONS", n_versions)
    assert maybe_compact_sink(sink) is False
    assert table_commit.read_manifest(sink.path)["seq"] == seq_before, "no-op must not commit"

    monkeypatch.setattr(table_commit, "MAX_CHAIN_VERSIONS", 3)
    assert maybe_compact_sink(sink) is True
    m2 = table_commit.read_manifest(sink.path)
    # hysteresis: the trip collapses to the LOW watermark (bound // 2),
    # not back to the bound — so the next merges don't re-trip immediately
    assert len(set(m2["buckets"].values())) <= 1, m2["buckets"]
    assert _sorted_rows(sink.read()) == want
    assert maybe_compact_sink(sink) is False, "re-trip right after compacting"


def test_stream_merge_loop_auto_compacts(spark, tmp_path, monkeypatch):
    """The streaming wire-up: a 6-micro-batch apply_changes_stream with
    the chain bound lowered to 2 must trip the trigger, end with a
    bounded version chain, and hold the batch latest-wins state —
    housekeeping rides the merge loop instead of waiting for an external
    job that never comes."""
    from realtime_change_data_capture_streaming_spark.cdc import apply_changes as ac
    from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import stage_ordered_batches

    raw = synthetic_change_events(spark, 60, updates_per_key=0, delete_every=0, seed=7)
    frames = [
        raw.filter(F.pmod(F.crc32(F.col("key")), F.lit(6)) == i).select("key", "value")
        for i in range(6)
    ]
    in_dir = stage_ordered_batches(frames, str(tmp_path / "staged"))
    monkeypatch.setattr(table_commit, "MAX_CHAIN_VERSIONS", 2)
    trips = []
    real_trigger = ac.maybe_compact_sink
    monkeypatch.setattr(ac, "maybe_compact_sink", lambda s: trips.append(real_trigger(s)))

    stream = (
        spark.readStream.schema("key string, value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    sink = BucketedParquetSink(spark, str(tmp_path / "sink"), n_buckets=64)
    q = ac.apply_changes_stream(
        parse_envelope(stream, decimal_mode="string"),
        sink,
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination()

    assert len(trips) == 6 and any(trips), trips
    m = table_commit.read_manifest(sink.path)
    assert len(set(m["buckets"].values())) <= 2, m["buckets"]
    oracle = ac.apply_changes_batch(parse_envelope(raw.select("key", "value"), decimal_mode="string"))
    assert _sorted_rows(sink.read()) == _sorted_rows(oracle)


def test_concurrent_commit_loses_loudly(tmp_path):
    """Two writers racing one table: the second commit must raise
    ConcurrentCommitError (and clean up its staged dir), never silently
    overwrite the first writer's published manifest."""
    from realtime_change_data_capture_streaming_spark.cdc import commit as tc

    root = str(tmp_path / "t")
    vdir0, seq0 = tc.begin(root)
    tc.commit(root, seq0, meta={"x": 1}, staged=vdir0)

    # both writers snapshot seq0 and stage "the next" version
    vdir_a, seq_a = tc.begin(root)
    tc.commit(root, seq_a, meta={"x": "a"}, expect_prev=seq0, staged=vdir_a)
    vdir_b, seq_b = tc.begin(root)  # allocated AFTER a's commit
    with pytest.raises(tc.ConcurrentCommitError):
        # b's work was computed against seq0 — the CAS must reject it
        tc.commit(root, seq_b, meta={"x": "b"}, expect_prev=seq0, staged=vdir_b)
    m = tc.read_manifest(root)
    assert m["x"] == "a", "loser overwrote the winner"
    assert not os.path.exists(vdir_b), "loser's staged dir not cleaned up"


def test_bucket_map_rule_and_staging_rename(tmp_path):
    """commit.py's bucket-map format, without Spark: written ids point at
    the staged version, ids a write touched but left empty leave the map,
    untouched ids keep their version, and commit() renames the staging
    name in the map to the published ``v<seq>``."""
    from realtime_change_data_capture_streaming_spark.cdc import commit as tc

    root = str(tmp_path / "t")
    vdir0, seq0 = tc.begin(root)
    for b in range(4):
        os.makedirs(os.path.join(vdir0, f"_bucket={b}"))
    written0 = tc.staged_ids(vdir0, "_bucket")
    assert written0 == {0, 1, 2, 3}
    tc.commit(root, seq0, meta={"buckets": tc.next_bucket_map({}, vdir0, written0, [])}, staged=vdir0)

    vdir1, seq1 = tc.begin(root)
    for b in (1, 4):
        os.makedirs(os.path.join(vdir1, f"_bucket={b}"))
    open(os.path.join(vdir1, "_SUCCESS"), "w").close()
    written1 = tc.staged_ids(vdir1, "_bucket")
    assert written1 == {1, 4}
    staged_map = tc.next_bucket_map(tc.read_manifest(root)["buckets"], vdir1, written1, [1, 2])
    sname = os.path.basename(vdir1)
    assert staged_map == {"0": "v00000000", "1": sname, "3": "v00000000", "4": sname}
    tc.commit(root, seq1, meta={"buckets": staged_map}, staged=vdir1)
    m1 = tc.read_manifest(root)
    assert m1["buckets"] == {"0": "v00000000", "1": "v00000001", "3": "v00000000", "4": "v00000001"}
    assert tc.bucket_paths(root, m1) == {
        os.path.join(root, "v00000000"): [0, 3],
        os.path.join(root, "v00000001"): [1, 4],
    }

    # the collapse order: oldest version first, ties by id
    chain = {"0": "v00000002", "1": "v00000000", "2": "v00000001", "3": "v00000000"}
    assert tc.oldest_buckets(chain) == [1, 3, 2, 0]

    # the chain bound: no trip at the bound; above it, the buckets whose
    # rewrite into ONE new version leaves the map spanning half the bound
    assert tc.MAX_CHAIN_VERSIONS == 8
    at_bound = {str(b): f"v{b:08d}" for b in range(8)}
    assert tc.chain_collapse(at_bound) == []
    over = {str(b): f"v{b % 9:08d}" for b in range(18)}  # 9 versions, 2 ids each
    due = tc.chain_collapse(over)
    assert due == [0, 9, 1, 10, 2, 11, 3, 12, 4, 13, 5, 14]  # equal sizes: the 6 oldest
    collapsed = tc.next_bucket_map(over, str(tmp_path / "v00000009"), set(due), due)
    assert len(set(collapsed.values())) == tc.MAX_CHAIN_VERSIONS // 2
    assert tc.chain_collapse(collapsed) == [], "re-trip right after collapsing"
    # fewest-first: the large version the collapse left (12 ids in
    # v00000009) is older than the 5 one-id versions published since, but
    # the next trip merges the small ones and leaves it alone
    grown = {**collapsed, **{str(20 + i): f"v{10 + i:08d}" for i in range(5)}}
    assert len(set(grown.values())) == 9
    due = tc.chain_collapse(grown)
    # the five one-id versions, then the oldest two-id one
    assert {grown[str(b)] for b in due} == {"v00000006"} | {f"v{10 + i:08d}" for i in range(5)}


def _flat_manifest(spark, root, events) -> None:
    """A live version with no bucket map: the flat layout."""
    staged, seq = table_commit.begin(root)
    rows = spark.createDataFrame(
        [("k1", "c", 1, 1, 0)], "key string, op string, __lsn long, __ts_ms long, _bucket int"
    )
    rows.write.mode("overwrite").partitionBy("_bucket").parquet(staged)
    table_commit.commit(root, seq, meta={"n_buckets": 4}, staged=staged)


def _unstamped_manifest(spark, root, events) -> None:
    """A bucket-mapped manifest without the ``schema_complete`` stamp, as
    older writers left it: its recorded schema may cover only the buckets
    one merge or partial compaction wrote."""
    BucketedParquetSink(spark, root, n_buckets=4).merge(events)
    path = os.path.join(root, table_commit.MANIFEST)
    with open(path) as f:
        m = json.load(f)
    del m["schema_complete"]
    with open(path, "w") as f:
        json.dump(m, f)


@pytest.mark.parametrize(
    "make, match",
    [(_flat_manifest, "no 'buckets' map"), (_unstamped_manifest, "schema_complete")],
    ids=["flat", "unstamped"],
)
def test_flat_layout_sink_raises(spark, tmp_path, make, match):
    """A sink manifest in the flat layout (a live version but no bucket
    map) or without a complete recorded schema must raise on every entry
    point rather than be read: the bucket count and serving versions the
    first would have to guess decide which stored row a key's merge
    supersedes, and the second's schema may drop columns other buckets
    still carry."""
    root = str(tmp_path / "old")
    events = parse_envelope(synthetic_change_events(spark, 4, seed=3), decimal_mode="string")
    make(spark, root, events)
    sink = BucketedParquetSink(spark, root, n_buckets=4)
    for call in (
        lambda: sink.read(),
        lambda: sink.lookup(["k1"]),
        lambda: sink.merge(events),
        lambda: compact_sink(sink, purge_tombstones_through_lsn=0),
        lambda: sink.changes(0),
    ):
        with pytest.raises(ValueError, match=match):
            call()


def test_staged_gc_reclaims_doomed_dirs_by_age(tmp_path):
    """VERDICT r13 task 7: a writer that died pre-commit parks its staging
    dir; once its seq can no longer commit AND it has sat untouched past
    the TTL, the next commit's GC walk reclaims it — without waiting for
    the live seq to outrun the wide margin.  A fresh doomed dir (possible
    slow in-flight writer about to fail its CAS loudly) is left alone."""
    from realtime_change_data_capture_streaming_spark.cdc import commit as tc

    root = str(tmp_path / "t")
    vdir0, seq0 = tc.begin(root)
    tc.commit(root, seq0, meta={"x": 0}, staged=vdir0)

    dead, dead_seq = tc.begin(root)  # crashed writer's leftover
    fresh, fresh_seq = tc.begin(root)  # slow writer, same seq, still recent
    assert dead_seq == fresh_seq
    two_hours_ago = time.time() - 2 * 3600
    os.utime(dead, (two_hours_ago, two_hours_ago))

    # a doomed dir whose TOP-LEVEL mtime is stale but whose nested files
    # are fresh is a long Spark write still in flight (files land under
    # _temporary/): it must fail its CAS loudly, not vanish mid-job
    busy, busy_seq = tc.begin(root)
    os.makedirs(os.path.join(busy, "_temporary", "0"), exist_ok=True)
    with open(os.path.join(busy, "_temporary", "0", "part-0"), "w") as f:
        f.write("still writing")
    os.utime(busy, (two_hours_ago, two_hours_ago))

    winner, wseq = tc.begin(root)
    tc.commit(root, wseq, meta={"x": 1}, staged=winner)
    assert not os.path.exists(dead), "stale doomed staging dir not age-swept"
    assert os.path.isdir(fresh), "fresh doomed dir must survive until stale or out-margined"
    assert os.path.isdir(busy), "in-flight deep write age-swept on a stale top-level mtime"


def test_concurrent_commit_same_snapshot_interleaving(tmp_path):
    """The ADVICE r12 (high) interleaving: BOTH writers begin() from the
    same snapshot (same seq), the winner publishes, then the loser's CAS
    fails.  The loser's cleanup must remove only its OWN staging dir —
    never the winner's just-published version dir — and the live manifest
    must keep pointing at an existing directory with the winner's data."""
    from realtime_change_data_capture_streaming_spark.cdc import commit as tc

    root = str(tmp_path / "t")
    vdir0, seq0 = tc.begin(root)
    with open(os.path.join(vdir0, "data.txt"), "w") as f:
        f.write("base")
    tc.commit(root, seq0, meta={"x": 0}, staged=vdir0)

    # both writers snapshot the same manifest -> same allocated seq
    vdir_a, seq_a = tc.begin(root)
    vdir_b, seq_b = tc.begin(root)
    assert seq_a == seq_b, "precondition: the race is same-seq"
    assert vdir_a != vdir_b, "staging dirs must be unique per writer"
    with open(os.path.join(vdir_a, "data.txt"), "w") as f:
        f.write("winner")
    with open(os.path.join(vdir_b, "data.txt"), "w") as f:
        f.write("loser")

    tc.commit(root, seq_a, meta={"x": "a"}, expect_prev=seq0, staged=vdir_a)
    with pytest.raises(tc.ConcurrentCommitError):
        tc.commit(root, seq_b, meta={"x": "b"}, expect_prev=seq0, staged=vdir_b)

    m = tc.read_manifest(root)
    assert m["x"] == "a", "loser overwrote the winner"
    live = tc.resolve(root)
    assert live is not None and os.path.isdir(live), (
        "manifest points at a deleted directory — loser's cleanup destroyed "
        "the winner's published version"
    )
    with open(os.path.join(live, "data.txt")) as f:
        assert f.read() == "winner"
    assert not os.path.exists(vdir_b), "loser's staging dir not cleaned up"


def test_merge_fails_loudly_if_rebucketing_commits_midway(
    spark, big_parsed, tmp_path, monkeypatch
):
    """merge() pins its manifest snapshot; if a re-bucketing compaction
    commits between merge's reads and its commit, the merge must raise
    ConcurrentCommitError with the table left on the compaction's state
    — NOT publish a bucket map computed under the superseded count."""
    from realtime_change_data_capture_streaming_spark.cdc import commit as tc

    sink = BucketedParquetSink(spark, str(tmp_path / "race"), n_buckets=8)
    half = F.pmod(F.crc32(F.col("key")), F.lit(2))
    first = big_parsed.filter(half == 0)
    second = big_parsed.filter(half == 1)
    assert second.limit(1).count() == 1, "second half must be non-empty"
    sink.merge(first)

    real_read_raw = BucketedParquetSink.read_raw
    fired = {"done": False}

    def race_read_raw(self, buckets=None, at_seq=None):
        if not fired["done"]:
            fired["done"] = True
            compact_sink(self, 0, target_bucket_bytes=10**12)  # re-buckets 8 -> 1
        return real_read_raw(self, buckets=buckets, at_seq=at_seq)

    before = _sorted_rows(sink.read())
    monkeypatch.setattr(BucketedParquetSink, "read_raw", race_read_raw)
    with pytest.raises(tc.ConcurrentCommitError):
        sink.merge(second)
    assert fired["done"]
    monkeypatch.undo()
    assert _sorted_rows(sink.read()) == before, "failed merge disturbed the table"
    # the replayed merge (fresh snapshot, as foreachBatch would retry) lands
    sink.merge(second)
    assert sink.read().count() > len(before)


def test_corrupt_manifest_raises_instead_of_recreating(spark, big_parsed, tmp_path):
    """A manifest that exists but does not parse is corruption: treating
    it as 'no table' would let the next merge take the creation path and
    silently replace the table with one batch."""
    sink = BucketedParquetSink(spark, str(tmp_path / "corrupt"), n_buckets=4)
    sink.merge(big_parsed.orderBy("key").limit(5))
    with open(os.path.join(sink.path, "_CURRENT"), "w") as f:
        f.write("{half a manif")
    with pytest.raises(ValueError, match="corrupt table manifest"):
        sink.read()
    with pytest.raises(ValueError, match="corrupt table manifest"):
        sink.merge(big_parsed.orderBy("key").limit(5))


def test_point_lookup_sees_tombstones_and_type_coercion(spark, big_parsed, tmp_path):
    """A deleted key must NOT come back from lookup, and probe keys are
    coerced to the stored key type (int probe on a string-keyed table)."""
    sink = BucketedParquetSink(spark, str(tmp_path / "lk2"), n_buckets=16)
    sink.merge(big_parsed)
    victim = big_parsed.select("key").orderBy("key").limit(1).collect()[0][0]
    tomb = (
        big_parsed.filter(F.col("key") == victim)
        .withColumn("op", F.lit("d"))
        .withColumn("lsn", F.col("lsn") + 10_000_000)
    )
    sink.merge(tomb)
    assert sink.lookup([victim]).count() == 0
    survivor = big_parsed.select("key").orderBy(F.desc("key")).limit(1).collect()[0][0]
    # int-typed probe against the string-keyed table must still hash right
    probe_val = int(survivor) if survivor.isdigit() else survivor
    assert sink.lookup([probe_val]).count() == 1


def test_point_lookup_time_travel(spark, big_parsed, tmp_path):
    """lookup(keys, at_seq) probes an earlier snapshot: after an update
    the live probe sees the new value, the at_seq probe the old one; and
    across a re-bucketing compaction the time-traveled probe hashes with
    the bucket count ITS snapshot was written under."""
    sink = BucketedParquetSink(spark, str(tmp_path / "lktt"), n_buckets=8)
    sink.merge(big_parsed)  # seq 0
    key = big_parsed.select("key").orderBy("key").limit(1).collect()[0][0]
    old_amount = sink.lookup([key]).collect()[0]["amount"]
    upd = (
        big_parsed.filter(F.col("key") == key)
        .withColumn("lsn", F.col("lsn") + 10_000_000)
        .withColumn(
            "after", F.col("after").withField("amount", F.lit("9999.99").cast("decimal(18,2)"))
        )
    )
    sink.merge(upd)  # seq 1
    assert float(sink.lookup([key]).collect()[0]["amount"]) == 9999.99
    assert sink.lookup([key], at_seq=0).collect()[0]["amount"] == old_amount
    # re-bucket 8 -> a different power of two; the live probe uses the new
    # count, the at_seq probe the old count — both must still find the key.
    # A target of 1/32 of the table re-buckets to >= 32 buckets; a 1-byte
    # target would hit the 2^20 clamp and write one file per row
    compact_sink(
        sink, purge_tombstones_through_lsn=0, target_bucket_bytes=max(1, sink.table_bytes() // 32)
    )
    assert sink.current_n_buckets() != 8
    assert float(sink.lookup([key]).collect()[0]["amount"]) == 9999.99
    assert sink.lookup([key], at_seq=1).collect()[0]["amount"] is not None


def test_bucket_arithmetic_matches_repartition_partition_id(spark):
    """The sink's no-second-shuffle write AND the point lookup both rest
    on one claim: `pmod(hash(key), n) == repartition(n, key)'s partition
    id`.  Pin it directly — every row's spark_partition_id must equal
    its computed bucket id."""
    df = (
        spark.range(2000)
        .select(F.concat(F.lit("k"), F.col("id")).alias("key"))
        .repartition(16, "key")
        .select(
            F.spark_partition_id().alias("pid"),
            F.pmod(F.hash(F.col("key")), F.lit(16)).alias("bucket"),
        )
    )
    assert df.filter(F.col("pid") != F.col("bucket")).count() == 0


def _jobs_run_by(spark, fn) -> list[list[str]]:
    """Stage names of every Spark job ``fn`` runs, one list per job —
    read back from ``statusTracker()`` under a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return [
        [st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds if st.getStageInfo(s)]
        for j in sorted(st.getJobIdsForGroup(group))
    ]


def _is_footer_inference(stage_names: list[str]) -> bool:
    # a read without a schema infers it in a job of its own, named after
    # the DataFrameReader.parquet call that planned it
    return any(n.startswith("parquet at ") for n in stage_names)


@pytest.fixture(scope="module")
def versioned_sink(spark, big_parsed, tmp_path_factory):
    """The 8192-key table in 32 buckets (the bucket-discovery merge path)
    with three update merges on top: its buckets span four version dirs."""
    sink = BucketedParquetSink(spark, str(tmp_path_factory.mktemp("ver") / "s"), n_buckets=32)
    sink.merge(big_parsed)
    keys = [r[0] for r in big_parsed.select("key").orderBy("key").limit(30).collect()]
    for i in range(3):
        sink.merge(
            big_parsed.filter(F.col("key").isin(keys[i * 10 : (i + 1) * 10])).withColumn(
                "lsn", F.col("lsn") + 1_000_000 * (i + 1)
            )
        )
    assert len(set(sink._manifest()["buckets"].values())) > 2
    return sink


def test_point_lookup_runs_one_job(spark, big_parsed, versioned_sink):
    """A GET learns the key type from the manifest's schema and computes
    its bucket ids on the driver (an Arrow probe is a local relation), so
    on a multi-version sink the only Spark job is the pruned scan."""
    key = big_parsed.select("key").orderBy(F.desc("key")).limit(1).collect()[0][0]
    got = []
    jobs = _jobs_run_by(spark, lambda: got.extend(versioned_sink.lookup([key]).collect()))
    assert len(jobs) == 1, jobs
    assert [r["transaction_id"] for r in got] == [key]


def test_point_lookup_ten_thousand_keys(big_parsed, versioned_sink):
    """A 10,000-key probe (every stored key plus misses) returns exactly
    the matching rows."""
    stored = sorted(r[0] for r in big_parsed.select("key").collect())
    probe = stored + [f"miss-{i}" for i in range(10_000 - len(stored))]
    assert sorted(r["key"] for r in versioned_sink.lookup(probe).collect()) == stored


def test_discovery_merge_infers_no_schema(spark, big_parsed, versioned_sink):
    """The bucket-discovery merge reads the touched buckets and reads
    back its staged version for ``pre_write`` with known schemas: no
    parquet footer-inference job, however many version dirs it spans."""
    sink = versioned_sink
    # the detector does see an inference job when one runs
    assert any(
        map(_is_footer_inference, _jobs_run_by(spark, lambda: spark.read.parquet(sink.data_dir())))
    )
    keys = [r[0] for r in big_parsed.select("key").orderBy("key").limit(40).collect()]
    batch = big_parsed.filter(F.col("key").isin(keys[::4])).withColumn(
        "lsn", F.col("lsn") + 9_000_000
    )
    seen = []
    jobs = _jobs_run_by(
        spark, lambda: sink.merge(batch, pre_write=lambda old, staged: seen.append(staged.columns))
    )
    assert seen, "pre_write never ran"
    assert not [j for j in jobs if _is_footer_inference(j)], jobs


def test_point_lookup_binary_keys(spark, big_parsed, tmp_path):
    """Bytes probe a binary-keyed table; a str probe is refused, not cast
    (its UTF-8 bytes are not the key the caller meant)."""
    sink = BucketedParquetSink(spark, str(tmp_path / "bin"), n_buckets=16)
    with pytest.raises(FileNotFoundError, match="does not exist yet"):
        sink.lookup([b"k"])
    sink.merge(big_parsed.orderBy("key").limit(50).withColumn("key", F.col("key").cast("binary")))
    key = big_parsed.select("key").orderBy("key").limit(1).collect()[0][0]
    got = sink.lookup([key.encode(), b"no-such-key"]).collect()
    assert [bytes(r["key"]) for r in got] == [key.encode()]
    with pytest.raises(TypeError, match="binary"):
        sink.lookup([key])


def test_point_lookup_key_literals(spark, big_parsed, tmp_path):
    """Keys with quotes, backslashes and non-ASCII characters round-trip
    through the probe, and duplicate probe keys return one row each."""
    odd = ['o"brien', "it's", "back\\slash", "ключ-ü-日本"]
    rows = big_parsed.orderBy("key").limit(len(odd)).withColumn(
        "key",
        F.element_at(
            F.array(*[F.lit(k) for k in odd]),
            F.row_number().over(Window.orderBy("key")).cast("int"),
        ),
    )
    sink = BucketedParquetSink(spark, str(tmp_path / "odd"), n_buckets=32)
    sink.merge(rows)
    assert sorted(r["key"] for r in sink.lookup(odd).collect()) == sorted(odd)
    assert [r["key"] for r in sink.lookup([odd[0], odd[0], odd[0]]).collect()] == [odd[0]]


def test_point_lookup_mixed_key_types_raise(versioned_sink):
    """The probe's type is inferred from the keys themselves, so they
    must share one Python type."""
    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        versioned_sink.lookup([5, "6"])


def test_bucketed_store_read_runs_one_job(spark, tmp_path):
    """A store spanning four version dirs is read by the one bucket-mapped
    reader with its declared schema: one Spark job (the scan), no footer
    inference, and the schema's columns in the schema's order even where
    the partition column sits mid-row."""
    store = str(tmp_path / "store")
    schema = "id bigint, b int, v string"
    for i in range(4):
        rows = spark.createDataFrame([(i * 10 + j, i, f"v{i}") for j in range(3)], schema)
        publish_bucketed_version(store, rows, "b", [i], {"applied_bid": i})
    assert len(set(table_commit.read_manifest(store)["buckets"].values())) == 4
    got = []
    jobs = _jobs_run_by(spark, lambda: got.extend(read_bucketed(spark, store, "b", schema).collect()))
    assert len(jobs) == 1 and not _is_footer_inference(jobs[0]), jobs
    assert sorted(tuple(r) for r in got) == [(i * 10 + j, i, f"v{i}") for i in range(4) for j in range(3)]
    assert got[0].__fields__ == ["id", "b", "v"]
