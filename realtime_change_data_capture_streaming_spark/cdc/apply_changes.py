"""Apply-changes: the reference's core effectively-once contract.

Reference semantics (``/root/reference/transaction_consumer.py``): Kafka
replay from ``earliest`` (``:10``) + per-key ``INSERT ... ON CONFLICT DO
NOTHING`` (``:85-102``) = at-least-once transport with exactly-once effect
on the sink, keyed by ``transaction_id``.

Our generalization is *latest-wins by (lsn, ts_ms)* rather than
first-wins DO NOTHING, because a Spark micro-batch can contain several
changes for one key while the reference consumed them one-by-one
(SURVEY.md section 4, custom work item 2).  Replays and duplicates are
absorbed because the reduction is idempotent; within-key reordering is
absorbed because the WAL order (lsn) — not arrival order — decides.

Scale notes (100 TB):

- The per-key reduction uses ``max_by`` (hash aggregate with map-side
  partial aggregation), NOT a window sort — one shuffle on the key, no
  per-partition global sort, skew handled by AQE.
- The batch MERGE target is hash-bucketed by key; a micro-batch rewrites
  only the buckets it touches (dynamic partition overwrite), so merge cost
  scales with batch size, not table size — the same copy-on-write strategy
  Delta/Hudi use, expressed with plain parquet so it runs anywhere.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructType

from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit


#: the merge skips bucket discovery and merges against the whole table
#: when the table is small on BOTH axes: bytes (everything fits in
#: roughly one scan partition, so the key-distinct discovery job + pruned
#: read cost more than just reading it all — cf. maxPartitionBytes's
#: 128 MB default, halved to stay conservative) and bucket count (the
#: fast path rewrites every live bucket, so it is only cheap while there
#: are few of them; a many-bucket table keeps the I/O-proportional-to-
#: touched-buckets contract regardless of its byte size, which
#: tests/test_sink_scale.py pins).  The result is identical either way.
_DISCOVERY_MIN_TABLE_BYTES = 64 << 20
_DISCOVERY_MIN_BUCKETS = 16


def _recorded_schema(m: dict | None, partial_ok: bool = False) -> StructType | None:
    """The table schema a manifest records.  Only a ``schema_complete``
    manifest records the WHOLE table's schema: older writers recorded the
    schema of just the buckets one merge or partial compaction wrote, so
    reads infer from footers for them (None) unless ``partial_ok``."""
    if not m or not m.get("schema_json") or not (partial_ok or m.get("schema_complete")):
        return None
    return StructType.fromJson(json.loads(m["schema_json"]))


def _widened_schema_json(table: StructType, written: StructType) -> str:
    """``written`` plus every column of ``table`` it lacks.  A merge or
    partial compaction rewrites only some buckets; the manifest schema
    must keep serving the columns the untouched buckets still carry."""
    have = set(written.fieldNames())
    return StructType(written.fields + [f for f in table.fields if f.name not in have]).json()


def _bucket_ids_in(vdir: str) -> list[int]:
    """Bucket ids physically present in a version directory."""
    return sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(vdir)
        if e.startswith("_bucket=")
    )


def latest_per_key(
    events: DataFrame,
    key_col: str = "key",
    order_cols: tuple[str, ...] = ("lsn", "ts_ms"),
) -> DataFrame:
    """One row per key: the change with the greatest (lsn, ts_ms).

    ``max_by`` plans as an aggregate with a PARTIAL phase (map-side
    combine: one row per key per input partition crosses the shuffle),
    which beats ``row_number() over (partition by key ...)`` at scale —
    a window shuffles and sorts every event.  The struct-typed buffer
    makes Spark pick SortAggregate rather than hash, but the partial
    combine — the property that matters at 100 TB — is retained
    (pinned by tests/test_plans.py).
    """
    ordering = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in events.columns])
    return (
        events.groupBy(key_col)
        .agg(F.max_by(payload, ordering).alias("_last"))
        .select("_last.*")
    )


def apply_changes_batch(
    events: DataFrame,
    key_col: str = "key",
    order_cols: tuple[str, ...] = ("lsn", "ts_ms"),
) -> DataFrame:
    """Fold a (possibly duplicated, within-key-reordered) change set into
    final table state: latest non-delete image per key.

    Invariant (property-tested): for any event set E,
    ``apply_changes_batch(E) == apply_changes_batch(shuffle(duplicate(E)))``.

    An ``_extra`` schema-evolution map (``parse_envelope(capture_extras=True)``)
    rides along latest-wins like any other payload column.
    """
    last = latest_per_key(events, key_col, order_cols)
    extras = [F.col("_extra")] if "_extra" in events.columns else []
    return last.filter(F.col("op") != "d").select(F.col(key_col), F.col("after.*"), *extras)


class BucketedParquetSink:
    """Keyed MERGE target over plain parquet, hash-bucketed by key.

    Stand-in for ``DeltaTable.merge`` (K2/K3: ``transaction_consumer.py:22-71``,
    ``:85-102``) that runs with zero extra dependencies.  Layout::

        <path>/_CURRENT                     (manifest: live version + n_buckets)
        <path>/v<seq>/_bucket=<i>/part-*.parquet

    ``merge`` rewrites only buckets present in the incoming batch (dynamic
    partition overwrite inside the live version dir — safe because the
    streaming checkpoint + idempotent merge replays a torn batch).
    Compaction and re-bucketing publish a whole NEW version directory and
    flip the ``_CURRENT`` pointer atomically (see ``commit.py``), so
    readers never observe a missing or half-swapped table.

    Merge I/O model (the 100 TB contract): a batch carrying K distinct
    keys touches ``E = n*(1-(1-1/n)^K) <= min(K, n)`` of the n buckets,
    and rewrites ``E * (table_bytes / n)`` bytes.  With a FIXED small n
    (round-1 flaw: n=64) any K beyond a few hundred uuid keys makes E -> n
    and the merge rewrites the whole table.  The fix is to keep
    ``table_bytes / n`` pinned near a target file size: ``compact_sink``
    re-buckets toward ``target_bucket_bytes`` as the table grows
    (thousands of buckets at 100 TB), so merge I/O is bounded by
    ``K * target_bucket_bytes`` — O(batch), independent of table size.
    The live bucket count is persisted in the manifest; the constructor's
    ``n_buckets`` only seeds table creation.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "key",
        n_buckets: int = 64,
        keep: int = 1,
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.n_buckets = n_buckets  # creation-time seed; manifest wins after
        #: snapshot-GC grace window: how many superseded commits stay
        #: readable (time-travel + concurrent-reader safety).  Production
        #: retention is time-based; count-based here, same contract.
        self.keep = keep

    _META_COLS = ("op", "__lsn", "__ts_ms", "_bucket")

    def _manifest(self) -> dict | None:
        return table_commit.read_manifest(self.path)

    def current_n_buckets(self) -> int:
        m = self._manifest()
        # .get: legacy manifests may predate the n_buckets key (the same
        # fallback lookup() and merge() apply)
        return m.get("n_buckets", self.n_buckets) if m else self.n_buckets

    def data_dir(self) -> str | None:
        """Latest committed version dir (the newest data, not necessarily
        every bucket — see the manifest's bucket map)."""
        return table_commit.resolve(self.path)

    def table_bytes(self, m: dict | None = None) -> int:
        """Live table size: bytes of exactly the (version, bucket) files
        the manifest references (pass ``m`` to size a pinned snapshot)."""
        if m is None:
            m = self._manifest()
        if not m:
            return 0
        if "buckets" not in m:
            return table_commit.dir_bytes(table_commit.resolve(self.path))
        return sum(
            table_commit.dir_bytes(f"{vdir}/_bucket={b}")
            for vdir, bids in table_commit.bucket_paths(self.path, m).items()
            for b in bids
        )

    def _bucket(self, n_buckets: int | None = None) -> Column:
        """Bucket id = ``pmod(murmur3(key), n)`` — the SAME function Spark's
        ``repartition(n, key)`` uses for partition ids, so an explicit
        repartition by key makes shuffle partition i hold exactly bucket i
        and the bucketed write needs no second shuffle (see merge)."""
        n = n_buckets if n_buckets is not None else self.current_n_buckets()
        return F.pmod(F.hash(F.col(self.key_col)), F.lit(n))

    def _schema(self, m: dict | None, buckets: list[int] | None = None) -> StructType:
        """Schema of snapshot ``m``: the manifest's record, or footer
        inference through :meth:`read_raw` (over ``buckets``) for a legacy
        manifest."""
        seq = m["seq"] if m else None
        return _recorded_schema(m) or self.read_raw(buckets=buckets, at_seq=seq).schema

    def exists(self) -> bool:
        return self._manifest() is not None

    def snapshots(self) -> list[int]:
        """Readable snapshot sequence numbers (time-travel horizon): the
        live commit plus archived commits inside the GC grace window."""
        return table_commit.available_seqs(self.path)

    def read(self, at_seq: int | None = None) -> DataFrame:
        """User-facing table state: live rows, metadata columns stripped.
        ``at_seq`` time-travels to an earlier commit still inside the GC
        grace window (see :meth:`snapshots`)."""
        return self.read_raw(at_seq=at_seq).filter(F.col("op") != "d").drop(*self._META_COLS)

    def lookup(self, keys: list, at_seq: int | None = None) -> DataFrame:
        """Keyed point-lookup serving tier — the reference consumer's
        PK GET semantics (``transaction_consumer.py:85-102``) over the
        bucketed table without a full scan.

        The bucket arithmetic is deterministic (``pmod(murmur3(key), n)``,
        see :meth:`_bucket`), so each probe key maps to exactly one bucket
        id; :meth:`read_raw` then prunes at the PATH level — the scan
        never lists the other buckets' directories at all — and the exact
        key + tombstone filters run over the pruned rows only.  A k-key
        probe therefore reads at most ``min(k, n_buckets)`` buckets =
        ``O(k * target_bucket_bytes)`` I/O, independent of table size
        (plan-pinned in ``tests/test_sink_scale.py``).

        Probe keys are cast to the STORED key type from the manifest's
        schema (so ``lookup([5])`` on a string-keyed table hashes ``"5"``,
        not the int), and the bucket ids are computed by the same Catalyst
        expression the writer used, over an Arrow table that Spark plans
        as a driver-local relation: folded and collected with no job.  A
        GET therefore runs exactly one Spark job, the pruned scan.  Probe
        keys must share one Python type (pyarrow infers the probe column's
        type from them): a mixed list such as ``[5, "6"]`` raises.

        ``at_seq`` probes an EARLIER snapshot (same time-travel contract
        as :meth:`read`); the bucket count comes from THAT snapshot's
        manifest, so a probe across a re-bucketing compaction still
        hashes with the bucket count its snapshot was written under.
        """
        import pyarrow as pa

        if not keys:
            raise ValueError("lookup: need at least one key")
        if at_seq is not None:
            m = table_commit.manifest_at(self.path, at_seq)
        else:
            m = self._manifest()
            if m is not None:
                # pin the whole probe to THIS snapshot: n_buckets, the key
                # type and the pruned read must resolve the SAME manifest —
                # re-resolving the live pointer later would let a
                # concurrent re-bucketing compaction commit in between,
                # and the probe would prune the new layout with bucket ids
                # hashed under the old count (silently empty results)
                at_seq = m["seq"]
        n = (m or {}).get("n_buckets", self.n_buckets)
        # a legacy manifest infers the key type from ONE bucket's footers:
        # a GET must not pay O(n_buckets) metadata I/O before any pruning
        one = [int(next(iter(m["buckets"])))] if m and m.get("buckets") else None
        ktype = self._schema(m, buckets=one)[self.key_col].dataType
        probe_keys = pa.array(keys)
        if isinstance(ktype, BinaryType) and not pa.types.is_binary(probe_keys.type):
            # a cast would hash the text's UTF-8 bytes: refuse rather than
            # answer for keys the caller did not mean
            raise TypeError(
                f"lookup: {self.key_col!r} is binary; probe with bytes, not {probe_keys.type}"
            )
        rows = (
            self.spark.createDataFrame(pa.table({self.key_col: probe_keys}))
            .select(F.col(self.key_col).cast(ktype).alias(self.key_col))
            .select(F.col(self.key_col).alias("k"), self._bucket(n).alias("b"))
            .collect()
        )
        bucket_ids = sorted({r["b"] for r in rows})
        typed_keys = [r["k"] for r in rows]
        return (
            self.read_raw(buckets=bucket_ids, at_seq=at_seq)
            .filter(F.col(self.key_col).isin(typed_keys))
            .filter(F.col("op") != "d")
            .drop(*self._META_COLS)
        )

    def read_raw(
        self, buckets: list[int] | None = None, at_seq: int | None = None
    ) -> DataFrame:
        """Stored state including tombstones and merge-ordering metadata,
        optionally restricted to a bucket subset (path-level pruning —
        the scan never lists the other buckets at all).

        Resolves the manifest eagerly and reads the exact (version,
        bucket) files it references, so the returned frame is a CONSISTENT
        SNAPSHOT: merges and compactions committing afterwards write new
        version dirs and cannot disturb these files (GC retains referenced
        versions plus a grace window).

        Every version group is read with the manifest's recorded schema:
        no footer-inference job, and buckets written before a schema
        evolution read the evolved columns as nulls.  A legacy manifest
        without one falls back to inference, unioned by name with null-fill.

        ``at_seq`` reads the snapshot published at that commit instead of
        the live one — Delta/Iceberg-style time travel, bounded by the
        grace window (KeyError past it).
        """
        if at_seq is not None:
            m = table_commit.manifest_at(self.path, at_seq)
        else:
            m = self._manifest()
        vdir_live = os.path.join(self.path, m["version"]) if m else None
        if not m or "buckets" not in m:
            # pre-manifest table (single live dir): runtime bucket filter
            src = vdir_live or table_commit.resolve(self.path)
            if src is None:
                raise FileNotFoundError(
                    f"sink table does not exist yet: {self.path!r} (no "
                    "manifest and no version dir) — merge() a batch first"
                )
            df = self.spark.read.parquet(src)
            if buckets is not None:
                df = df.filter(F.col("_bucket").isin(list(buckets)))
            return df
        schema = _recorded_schema(m)
        want = set(buckets) if buckets is not None else None
        parts = []
        for vdir, bids in table_commit.bucket_paths(self.path, m).items():
            sel = bids if want is None else [b for b in bids if b in want]
            if not sel:
                continue
            reader = self.spark.read.option("basePath", vdir)
            if schema is not None:
                reader = reader.schema(schema)
            parts.append(reader.parquet(*[f"{vdir}/_bucket={b}" for b in sel]))
        if not parts:
            # empty selection: zero rows with the snapshot's schema (the
            # recorded one also covers a fully tombstone-purged table,
            # whose version dir holds no parquet to infer from)
            schema = schema or _recorded_schema(m, partial_ok=True)
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.parquet(vdir_live).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def changes(self, from_seq: int, to_seq: int | None = None) -> DataFrame:
        """Change data feed: row-level changes between two snapshots (the
        Delta-CDF shape) — the sink becomes a CDC *source*, so downstream
        consumers can re-subscribe to this table exactly like the
        reference's Kafka publish side (K1) without replaying the topic.

        Each output row is the post-image at ``to_seq`` (live manifest when
        omitted) with a ``_change_type`` column: ``insert`` (key absent or
        tombstoned at ``from_seq``), ``update_postimage`` (latest-wins
        ordering advanced), or ``delete`` (now a tombstone — or GONE: a key
        live at ``from_seq`` whose delete AND tombstone-purge both happened
        between the snapshots is synthesized as a ``delete`` with a null
        post-image, matching Delta CDF; without it a downstream consumer
        would keep the key alive forever).  Rewrites that do not change
        logical state (compaction, untouched buckets) emit nothing;
        tombstones already dead at ``from_seq`` and purged since emit
        nothing.  Both snapshots must be inside the GC grace window (see
        :meth:`snapshots`).

        Scale shape: one full-outer join of two bucket-aligned snapshots on
        the key — the old side is projected to (key, op, ordering) before
        the join, so the shuffle carries metadata, not payloads.
        """
        k = self.key_col
        new = self.read_raw(at_seq=to_seq)
        old_meta = self.read_raw(at_seq=from_seq).select(
            F.col(k),
            F.col("op").alias("_old_op"),
            F.col("__lsn").alias("_old_lsn"),
            F.col("__ts_ms").alias("_old_ts"),
        )
        # FULL outer: old-side-only keys are tombstones purged after
        # from_seq — the new snapshot cannot witness them, but they are
        # logical deletes and must be emitted.
        j = new.join(old_meta, [k], "full")
        changed = j.filter(
            ~F.col("__lsn").eqNullSafe(F.col("_old_lsn"))
            | ~F.col("__ts_ms").eqNullSafe(F.col("_old_ts"))
            | ~F.col("op").eqNullSafe(F.col("_old_op"))
        )
        was_dead = F.col("_old_op").isNull() | (F.col("_old_op") == "d")
        gone = F.col("op").isNull()  # key absent at to_seq (purged)
        change_type = (
            F.when(gone & ~was_dead, F.lit("delete"))  # null post-image
            .when(gone, F.lit(None))  # dead -> purged: no logical change
            .when(was_dead & (F.col("op") != "d"), F.lit("insert"))
            .when(~was_dead & (F.col("op") == "d"), F.lit("delete"))
            .when(~was_dead & (F.col("op") != "d"), F.lit("update_postimage"))
            .otherwise(F.lit(None))  # dead -> dead: no logical change
        )
        return (
            changed.withColumn("_change_type", change_type)
            .filter(F.col("_change_type").isNotNull())
            .drop("_old_op", "_old_lsn", "_old_ts")
        )

    def merge(
        self,
        events: DataFrame,
        order_cols: tuple[str, ...] = ("lsn", "ts_ms"),
        pre_write=None,
    ) -> None:
        """Latest-wins upsert + delete of the batch's keys into the table.

        Rows carry ``__lsn``/``__ts_ms`` audit columns so a later batch (or
        a replay of this one) can still decide latest-wins against what is
        already in the table — that is what makes the merge idempotent
        under micro-batch replay (foreachBatch may redeliver a batch id).

        Deletes are stored as TOMBSTONES (op='d' rows), not physically
        removed: if a delete's key were dropped, a replayed or reordered
        lower-LSN update arriving in a later batch would resurrect it.
        ``read`` filters tombstones; a compaction job may purge tombstones
        older than the source's maximum out-of-orderness.

        ``pre_write(old_touched, merged)`` folds downstream maintenance
        into the merge transaction: it is called AFTER the merge output is
        staged to the new (still-uncommitted) version dir but BEFORE the
        manifest flip, with the pre-merge rows of the touched buckets
        (None on table creation) and a read-back of the staged files.
        The merge pipeline is therefore evaluated exactly once — by the
        staging write — and the hook re-reads cheap parquet instead of
        recomputing or caching the merge; ``old_touched`` stays readable
        throughout because MVCC staging never rewrites the live version's
        files (the manifest flip is what retires them, and GC retains the
        grace window).  If the hook raises, the manifest is never
        flipped, so the staged dir is invisible and a redelivery of the
        batch re-stages the same seq.
        """
        if len(order_cols) != 2:
            raise ValueError(
                "sink storage carries a 2-column ordering (__lsn, __ts_ms); "
                f"pass exactly two order_cols (lead, tiebreak), got {order_cols!r}"
            )
        # The ordering mode is TABLE state, not per-merge state: __lsn
        # holds WAL ordinals under ("lsn", ...) but log offsets under
        # ("offset", ...), and the two are incomparable.  The mode is
        # recorded in the manifest on first merge and later merges must
        # match — otherwise a restart whose source schema gained/lost an
        # `offset` column would silently mix ordinal spaces in the same
        # column and corrupt latest-wins.
        # THE manifest snapshot for this merge: bucket count, bucket map,
        # ordering mode, pruned reads and the commit CAS all derive from
        # _m0 — resolving the live pointer again mid-merge would let a
        # concurrent re-bucketing compaction change the key->bucket
        # mapping between the discovery read and the written _bucket
        # column (the race lookup() pins against).
        _m0 = self._manifest()
        n0 = _m0.get("n_buckets", self.n_buckets) if _m0 else self.n_buckets
        if _m0 is not None:
            stored_order = _m0.get("order_cols")
            if stored_order is not None and tuple(stored_order) != tuple(order_cols):
                raise ValueError(
                    f"sink {self.path!r} stores ordering {tuple(stored_order)!r}; "
                    f"merging with order_cols={tuple(order_cols)!r} would mix "
                    "incomparable ordinals in __lsn — recreate the sink or pass "
                    "the recorded ordering"
                )
        _extra_t = "map<string,string>"
        has_extra = "_extra" in events.columns
        # NO pre-dedupe of the batch: latest-wins over (existing ∪ raw
        # events) equals latest-wins over (existing ∪ deduped events), so a
        # separate per-batch aggregation before the union would only add a
        # shuffle — duplicates are absorbed by the single merge agg below.
        batch = events.select(
            F.col(self.key_col),
            F.col("op"),
            F.col(order_cols[0]).alias("__lsn"),
            F.col(order_cols[1]).alias("__ts_ms"),
            F.col("after"),
            *([F.col("_extra").cast(_extra_t)] if has_extra else []),
        )
        # NO batch.persist(): bucket discovery below projects only the key
        # column, so Catalyst prunes the envelope parse out of that job (a
        # key-only columnar scan) and the staging write is the single full
        # evaluation of the batch pipeline.  A persist would force the
        # discovery job to materialize every parsed column into cache —
        # an extra full parse per micro-batch locally and a batch-sized
        # memory footprint at scale, to save a scan pruning already made
        # nearly free.
        current_touched: DataFrame | None = None
        touched: list[int] = []
        if _m0 is not None:
            if (
                n0 <= _DISCOVERY_MIN_BUCKETS
                and self.table_bytes(m=_m0) < _DISCOVERY_MIN_TABLE_BYTES
            ):
                # adaptive small-table path: when the whole table fits in
                # roughly one scan partition, the bucket-discovery job +
                # pruned read cost more than merging against everything —
                # skip discovery, union the full table, and let the
                # partitioned write rewrite it (same rows, same result;
                # the manifest's bucket map is derived from what was
                # written either way).  Discovery/pruning engage exactly
                # when they pay: once the table outgrows a partition.
                # Empty batches must still short-circuit HERE (the
                # discovery path decides via `touched`): without this
                # probe an idle trigger would rewrite the whole table as
                # a new committed version plus an empty view-delta slot,
                # churning versions/GC for zero rows.  The probe is a
                # key-only limit(1) scan of the batch — cheap, and only
                # paid on the small-table path.
                if batch.select(self.key_col).limit(1).isEmpty():
                    return
                current_touched = self.read_raw(at_seq=_m0["seq"])
            else:
                touched = [
                    r["_bucket"]
                    for r in batch.select(self._bucket(n0).alias("_bucket")).distinct().collect()
                ]
                if not touched:
                    # empty batch against an existing table: a no-op,
                    # decided by the key-only discovery job — callers don't
                    # need a separate isEmpty() pre-check (which would run
                    # the upstream parse once more per micro-batch)
                    return
                # path-level bucket pruning: only the touched buckets'
                # files are listed/scanned, wherever their live version
                # lives
                current_touched = self.read_raw(buckets=touched, at_seq=_m0["seq"])
            table_has_extra = "_extra" in current_touched.columns
            # schema widening on first sight: a batch carrying the evolution
            # map against a pre-evolution table (or vice versa) null-fills
            # the missing side instead of failing the union
            if has_extra and not table_has_extra:
                current_touched = current_touched.withColumn("_extra", F.lit(None).cast(_extra_t))
            elif table_has_extra and not has_extra:
                batch = batch.withColumn("_extra", F.lit(None).cast(_extra_t))
                has_extra = True
            payload_cols = [
                c
                for c in current_touched.columns
                if c not in self._META_COLS and c not in (self.key_col, "_extra")
            ]
            existing = current_touched.select(
                F.col(self.key_col),
                F.col("op"),
                F.col("__lsn"),
                F.col("__ts_ms"),
                F.struct(*[F.col(c) for c in payload_cols]).alias("after"),
                *([F.col("_extra")] if has_extra else []),
            )
            # shuffle ONCE, aligned with storage: repartition(n, key) gives
            # partition i == bucket i (see _bucket), the latest-wins agg
            # reuses that partitioning (ClusteredDistribution satisfied),
            # and the write below needs no further exchange.  Partial agg
            # is lost on this union, but both sides are already <=1 row per
            # key, so map-side combine could at best halve the shuffle.
            union = existing.unionByName(batch).repartition(n0, F.col(self.key_col))
            merged = latest_per_key(union, self.key_col, ("__lsn", "__ts_ms"))
        else:
            # table creation: same aligned single-agg shape, batch only
            merged = latest_per_key(
                batch.repartition(n0, F.col(self.key_col)), self.key_col, ("__lsn", "__ts_ms")
            )
        final = merged.select(
            F.col(self.key_col),
            F.col("op"),
            F.col("__lsn"),
            F.col("__ts_ms"),
            F.col("after.*"),
            *([F.col("_extra")] if has_extra else []),
        )
        bucketed = final.withColumn("_bucket", self._bucket(n0))
        # MVCC commit, creation and merge alike: stage ONLY this
        # merge's output (the touched buckets) as a fresh immutable
        # version dir, then flip the manifest so each touched bucket
        # points at the new version while untouched buckets keep
        # serving from theirs.  Readers that resolved the previous
        # manifest keep a consistent snapshot — no in-place rewrite,
        # no torn reads, portable to object stores.
        old = _m0 or {}
        old_map = old.get("buckets")
        if old_map is None and old:
            # legacy single-dir manifest (pre-map table or an old
            # compaction): seed the map from the pinned version's layout
            live = os.path.join(self.path, _m0["version"])
            old_map = {str(b): os.path.basename(live) for b in _bucket_ids_in(live)}
        vdir, seq = table_commit.begin(self.path)
        bucketed.write.mode("overwrite").partitionBy("_bucket").parquet(vdir)
        vname = os.path.basename(vdir)
        written = _bucket_ids_in(vdir)
        if not written and not old:
            # empty creation batch (possible now that streaming callers
            # skip the per-batch isEmpty() job): nothing to publish —
            # leave the table nonexistent rather than commit a
            # zero-bucket version that read() could not infer a schema
            # from
            import shutil

            shutil.rmtree(vdir, ignore_errors=True)
            return
        if pre_write is not None and written:
            # staged-but-uncommitted: the hook sees the post-merge rows as
            # a read-back of the files just written (no recompute, no
            # cache) while ``current_touched``'s version is still the live
            # manifest.  Raising here aborts the commit.
            staged = self.spark.read.schema(bucketed.schema).parquet(vdir).drop("_bucket")
            pre_write(current_touched, staged)
        bucket_map = {**(old_map or {}), **{str(b): vname for b in written}}
        table_commit.commit(
            self.path,
            seq,
            {
                "n_buckets": n0,
                "buckets": bucket_map,
                "order_cols": list(order_cols),
                # the table schema rides in the manifest: every read uses
                # it, and a fully-empty snapshot stays readable
                "schema_json": _widened_schema_json(
                    self._schema(_m0) if _m0 else StructType(), bucketed.schema
                ),
                "schema_complete": True,
            },
            keep=self.keep,
            # CAS against the snapshot this merge was computed from: a
            # concurrent commit (e.g. a re-bucketing compaction) fails
            # this merge loudly instead of letting it publish a bucket
            # map built against the superseded layout
            expect_prev=_m0["seq"] if _m0 else None,
            staged=vdir,
        )


def compact_sink(
    sink: BucketedParquetSink,
    purge_tombstones_through_lsn: int,
    target_bucket_bytes: int | None = None,
    max_buckets: int | None = None,
) -> None:
    """Housekeeping job: rewrite table buckets dropping tombstones whose
    lsn is at or below the given bound, and optionally re-bucket toward a
    target bucket size.

    Safe bound = (lowest lsn that can still be replayed) - 1: a tombstone
    may be purged once no replayable event could be older than it.  In
    Kafka terms, the committed-offset low-watermark across consumers; with
    checkpointed Structured Streaming, the checkpoint's start offset.

    ``target_bucket_bytes`` is the scale lever (class docstring): when set,
    the bucket count is recomputed as the power of two that puts each
    bucket near the target, so routine compaction keeps merge I/O O(batch)
    as the table grows.

    ``max_buckets`` makes compaction INCREMENTAL: only the ``max_buckets``
    buckets served from the oldest version dirs are rewritten this run —
    those are exactly the buckets pinning the version chain alive, so each
    partial run shortens the chain while touching O(max_buckets ×
    bucket_bytes) data instead of the whole table.  At 100 TB a full
    compaction is a full-table rewrite in one transaction; a nightly
    ``max_buckets=k`` run amortizes the same housekeeping.  Untouched
    buckets keep serving byte-identical files from their versions.
    Re-bucketing changes the key→bucket mapping globally, so when
    ``target_bucket_bytes`` demands a new count the rewrite must be full
    and ``max_buckets`` is ignored for that run.

    Every rewrite stages a new version directory and publishes it with one
    atomic pointer flip (``commit.py``) — concurrent readers keep the
    snapshot they resolved for a one-commit grace window.
    """
    # one pinned manifest snapshot for the whole run (the merge()/lookup()
    # discipline); the commit CAS-es against it
    m = sink._manifest()
    n_cur = m.get("n_buckets", sink.n_buckets) if m else sink.n_buckets
    n_new = n_cur
    if target_bucket_bytes:
        tbytes = sink.table_bytes(m=m)
        # clamp: 2^20 buckets ≈ 100 TB at 128 MB targets; beyond that the
        # file count itself becomes the metadata bottleneck
        n_new = min(1 << 20, max(1, 2 ** math.ceil(math.log2(max(1.0, tbytes / target_bucket_bytes)))))
    not_tombstone_to_purge = ~(
        (F.col("op") == "d") & (F.col("__lsn") <= F.lit(purge_tombstones_through_lsn))
    )
    partial = (
        max_buckets is not None
        and n_new == n_cur
        and m is not None
        and "buckets" in m
        and max_buckets < len(m["buckets"])
    )
    chosen: list[int] = []
    if partial:
        # oldest-version-first: rewriting the buckets that still point into
        # the oldest dirs is what lets GC collapse the version chain
        by_age = sorted(m["buckets"].items(), key=lambda kv: (kv[1], int(kv[0])))
        chosen = [int(b) for b, _ in by_age[:max_buckets]]
    kept = sink.read_raw(buckets=chosen if partial else None, at_seq=m["seq"] if m else None)
    kept = kept.filter(not_tombstone_to_purge).drop("_bucket")
    staged = kept.withColumn("_bucket", sink._bucket(n_new))
    vdir, seq = table_commit.begin(sink.path)
    staged.repartition("_bucket").write.mode("overwrite").partitionBy("_bucket").parquet(vdir)
    # a partial run keeps the untouched buckets' versions (and the columns
    # only they carry in the schema); a full one collapses the version
    # chain: every bucket serves from the new version, and commit() GCs
    # the superseded ones once the grace window passes.  A rewritten
    # bucket whose every row was a purged tombstone leaves the map — even
    # an EMPTY map stays readable: schema_json serves the zero-row frame.
    bucket_map = {b: v for b, v in m["buckets"].items() if int(b) not in chosen} if partial else {}
    bucket_map.update({str(b): os.path.basename(vdir) for b in _bucket_ids_in(vdir)})
    table_schema = sink._schema(m) if partial else StructType()
    meta = {
        "n_buckets": n_new,
        "buckets": bucket_map,
        "schema_json": _widened_schema_json(table_schema, staged.schema),
        "schema_complete": True,
    }
    if m is not None and m.get("order_cols") is not None:
        meta["order_cols"] = m["order_cols"]
    table_commit.commit(
        sink.path, seq, meta, keep=sink.keep, expect_prev=m["seq"] if m else None, staged=vdir
    )


#: auto-compaction bound for the streaming merge loop: once the sink's
#: bucket map references more than this many distinct version dirs, the
#: loop runs an incremental ``compact_sink`` that rewrites exactly the
#: buckets pinning the oldest versions, restoring the bound in one run.
#: Every merge adds a version; without a wired trigger the chain (and the
#: per-read manifest resolution + GC scan) grows with stream lifetime
#: (VERDICT r13 task 4).  The check is one manifest JSON read per batch.
AUTO_COMPACT_MAX_VERSIONS = 8


def maybe_compact_sink(
    sink: BucketedParquetSink,
    purge_tombstones_through_lsn: int = -1,
    max_versions: int = AUTO_COMPACT_MAX_VERSIONS,
    max_buckets: int | None = None,
) -> bool:
    """Manifest-tracked compaction trigger: when the live bucket map spans
    more than ``max_versions`` version dirs, rewrite the buckets served
    from the oldest versions (``compact_sink(max_buckets=...)``) so the
    chain collapses to the LOW watermark ``max(1, max_versions // 2)``;
    otherwise do nothing.  Returns whether a compaction ran.

    Hysteresis is load-bearing: compacting back to exactly the bound
    would re-trip on the very next merge (every merge adds a version) and
    turn the trigger into a per-batch table rewrite; the half-bound
    watermark means a trip buys ``max_versions - low`` quiet merges
    before the next one.  The rewritten set is exactly the buckets
    pointing into the oldest excess versions, so one run restores the
    watermark while touching O(excess × bucket_bytes) data — never the
    whole table.  The default purge bound (-1) purges no tombstones: the
    safe tombstone horizon needs source knowledge (see ``compact_sink``),
    and file-count hygiene must not wait for it."""
    m = sink._manifest()
    if not m or "buckets" not in m:
        return False
    versions = sorted(set(m["buckets"].values()))
    if len(versions) <= max_versions:
        return False
    if max_buckets is None:
        low = max(1, max_versions // 2)
        oldest = set(versions[: len(versions) - low + 1])
        max_buckets = sum(1 for v in m["buckets"].values() if v in oldest)
    compact_sink(sink, purge_tombstones_through_lsn, max_buckets=max_buckets)
    return True


def apply_changes_stream(
    parsed: DataFrame,
    sink: BucketedParquetSink,
    checkpoint_dir: str,
    trigger: dict | None = None,
    order_cols: tuple[str, ...] = ("lsn", "ts_ms"),
    auto_compact_max_versions: int | None = AUTO_COMPACT_MAX_VERSIONS,
):
    """Streaming apply-changes: parsed change stream -> keyed sink.

    ``foreachBatch`` + checkpointed offsets + idempotent merge reproduces
    the reference's replay-from-earliest recovery model
    (``transaction_consumer.py:10``) with per-micro-batch transactions
    instead of its 1-commit-per-message (``:103``).

    ``auto_compact_max_versions`` bounds the sink's version-chain length
    across the stream's lifetime (``maybe_compact_sink`` after each
    merge); pass None to leave housekeeping to an external job.
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # no isEmpty() pre-check: it would run the upstream parse as an
        # extra job every micro-batch; merge() itself no-ops empty batches
        # from the same job that fills its cache
        sink.merge(batch_df, order_cols)
        if auto_compact_max_versions is not None:
            maybe_compact_sink(sink, max_versions=auto_compact_max_versions)

    writer = (
        parsed.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def dedup_stream_within_watermark(
    parsed: DataFrame,
    event_time_col: str = "event_time",
    delay: str = "10 minutes",
    key_col: str = "key",
) -> DataFrame:
    """Alternative bounded-state dedup mode: watermark + per-key dedup.

    The reference's dedup state is the sink PK index — infinite retention
    (``transaction_consumer.py:88``).  ``dropDuplicatesWithinWatermark``
    bounds state for true-streaming deployments; table-backed MERGE
    (default) matches reference semantics exactly (SURVEY.md section 7).
    """
    return parsed.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark([key_col])
