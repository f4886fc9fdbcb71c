"""Spark-side layer over ``cdc/commit.py``'s bucket-map format.

``cdc/commit.py`` owns the manifest, the GC and the ``buckets`` map
(bucket id -> serving version dir) but is deliberately Spark-free; this
module is the one place Spark reads and writes that format.
:func:`read_bucketed` is the one reader: the sink's ``read_raw`` and
every streaming store (the ANN codes, CUSUM state, txn pending, BM25
erased-set and near-dup stores) read through it, always with a schema
the caller already knows, so no read infers one from parquet footers.
``publish_bucketed_version`` is the stores' one writer and
``compact_bucketed_version`` their one compactor: every publish asks
``commit.chain_collapse`` (the chain bound all bucket-mapped tables
share) and collapses the smallest versions when it trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit


def read_bucketed(
    spark: SparkSession,
    root: str,
    part_col: str,
    schema: str | StructType,
    ids: list | None = None,
    m: dict | None = None,
) -> DataFrame:
    """Rows of a bucket-mapped table's snapshot ``m`` (the live manifest
    when omitted), pruned at the PATH level to the bucket ``ids`` when
    given: each version dir the map serves is read once, over only its
    selected ``<part_col>=<id>`` dirs, so the scan never lists the other
    buckets at all.  ``schema`` (a DDL string or StructType) is the
    stored rows' schema: every group is read with it — no
    footer-inference job, and columns a group's files lack read as nulls
    — and the output columns are its fields in its order (``part_col``
    only when it lists it).  No selected bucket, or no table yet, gives
    an empty frame of ``schema``.  A manifest without a ``buckets`` map
    raises (``commit.bucket_map``)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if m is None:
        m = table_commit.read_manifest(root)
    want = {int(k) for k in ids} if ids is not None else None
    parts = []
    for vdir, served in table_commit.bucket_paths(root, m).items():
        sel = served if want is None else [k for k in served if k in want]
        if sel:
            parts.append(
                spark.read.schema(schema)
                .option("basePath", vdir)
                .parquet(*[f"{vdir}/{part_col}={k}" for k in sel])
            )
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # the scan puts the partition column last (appending it when the
    # schema omits it), so only a schema that does not end with it needs
    # the projection back to its own order
    names = schema.fieldNames()
    return out if names[-1] == part_col else out.select(*names)


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
    was read from; serving rows are unchanged.  The read feeds the one
    staging write directly: the versions it reads stay live until the
    commit below supersedes them.  Every non-structural manifest key
    (replay frontier, correction counters, refit state, ...) is carried
    forward unchanged."""
    m = table_commit.read_manifest(store)
    chosen = table_commit.chain_collapse(table_commit.bucket_map(store, m))
    if not chosen:
        return
    rows = read_bucketed(sp, store, part_col, schema, ids=chosen, m=m)
    vdir, seq = table_commit.begin(store)
    rows.write.mode("overwrite").partitionBy(part_col).parquet(vdir)
    meta = {k: v for k, v in m.items() if k not in ("version", "seq", "buckets")}
    meta["buckets"] = table_commit.next_bucket_map(
        m["buckets"], vdir, table_commit.staged_ids(vdir, part_col), chosen
    )
    table_commit.commit(store, seq, meta=meta, staged=vdir)
