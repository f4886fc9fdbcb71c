"""Spark-side reader and writers over ``cdc/commit.py``'s bucket-map format.

``cdc/commit.py`` owns the manifest, the GC and the ``buckets`` map
(partition id -> serving version dir) but is deliberately Spark-free;
this module reads and writes partition-keyed streaming stores in that
format (the ANN codes, CUSUM state, txn pending, BM25 erased-set and
near-dup stores).  ``publish_bucketed_version`` is their one writer and
``compact_bucketed_version`` their one compactor: every publish asks
``commit.chain_collapse`` (the chain bound all bucket-mapped tables
share) and collapses the smallest versions when it trips.  Reads
optionally path-prune to an id subset — they touch only the partitions
asked for, in whichever version dir each one is currently served from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit


def read_partitioned_store(
    spark: SparkSession,
    store: str,
    partition_col: str,
    schema: str | StructType,
    ids: list | None = None,
) -> DataFrame:
    """Rows of the live store snapshot, cast to ``schema`` (a DDL string
    or StructType whose column order is the output order), pruned at the
    PATH level to ``ids`` when given (the same ``basePath`` +
    explicit-dirs idiom as the sink's ``read_raw``).  A manifest without a ``buckets`` map raises
    (``commit.bucket_map``)."""
    from pyspark.sql import functions as F

    m = table_commit.read_manifest(store)
    if not m:
        return spark.createDataFrame([], schema)
    want = {int(k) for k in ids} if ids is not None else None
    # Spark's own DDL parser, not string-splitting: parameterized types
    # (decimal(18,2), map<...>) contain commas/spaces a naive split mangles
    col_types = [
        (f.name, f.dataType) for f in spark.createDataFrame([], schema).schema.fields
    ]
    parts = []
    for vdir, served in table_commit.bucket_paths(store, m).items():
        sel = served if want is None else [k for k in served if k in want]
        if not sel:
            continue
        paths = [f"{vdir}/{partition_col}={k}" for k in sel]
        parts.append(
            spark.read.option("basePath", vdir)
            .parquet(*paths)
            .select(*[F.col(c).cast(t).alias(c) for c, t in col_types])
        )
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def publish_bucketed_version(
    store: str, rows: DataFrame, part_col: str, touched: list[int], meta: dict
) -> None:
    """Commit the TOUCHED buckets' full post-image as a new version.
    ``rows`` already carry the bucket id in ``part_col`` (a hash of the
    row id, a day, a model-assigned cluster: the store decides); each row
    is written to that bucket.  Untouched buckets keep serving from the
    versions the manifest already maps them to, and a bucket whose
    post-image is empty leaves the map entirely.  ``meta`` is the
    commit's full meta payload (replay frontier plus any store-specific
    counters) — the updated ``buckets`` map is merged in HERE, so the map
    and the counters flip in ONE atomic manifest write.  Every publish
    then asks ``commit.chain_collapse``, on the map it just committed,
    whether the version chain is due for collapse; only then does
    ``compact_bucketed_version`` re-read the manifest."""
    m = table_commit.read_manifest(store)
    vdir, seq = table_commit.begin(store)
    rows.write.mode("overwrite").partitionBy(part_col).parquet(vdir)
    buckets = table_commit.next_bucket_map(
        table_commit.bucket_map(store, m), vdir, table_commit.staged_ids(vdir, part_col), touched
    )
    table_commit.commit(store, seq, meta={**meta, "buckets": buckets}, staged=vdir)
    if table_commit.chain_collapse(buckets):
        compact_bucketed_version(rows.sparkSession, store, part_col, rows.schema)


def compact_bucketed_version(
    sp: SparkSession, store: str, part_col: str, schema: StructType
) -> None:
    """Collapse a bucket-mapped store's version chain when
    ``commit.chain_collapse`` says it is due, by rewriting ONLY the
    buckets it names into one new version: O(those buckets' bytes),
    never the whole store.  ``schema`` is the stored rows' schema,
    ``part_col`` included, so each row is written back to the bucket it
    was read from; serving rows are unchanged.  Every non-structural
    manifest key (replay frontier, correction counters, refit state, ...)
    is carried forward unchanged."""
    m = table_commit.read_manifest(store)
    chosen = table_commit.chain_collapse(table_commit.bucket_map(store, m))
    if not chosen:
        return
    rows = read_partitioned_store(sp, store, part_col, schema, ids=chosen).localCheckpoint(
        eager=True
    )
    vdir, seq = table_commit.begin(store)
    rows.write.mode("overwrite").partitionBy(part_col).parquet(vdir)
    meta = {k: v for k, v in m.items() if k not in ("version", "seq", "buckets")}
    meta["buckets"] = table_commit.next_bucket_map(
        m["buckets"], vdir, table_commit.staged_ids(vdir, part_col), chosen
    )
    table_commit.commit(store, seq, meta=meta, staged=vdir)
