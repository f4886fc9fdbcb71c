"""Shared manifest-driven read for bucket-mapped versioned stores.

``cdc/commit.py`` owns the manifest/GC semantics but is deliberately
Spark-free; this is the one Spark-side reader for stores whose manifest
``buckets`` map keys partition ids to version dirs (the ANN appended-code
store, the CUSUM state store).  Optionally path-prunes to an id subset —
reads touch only the partitions asked for, in whichever version dir each
one is currently served from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit


def read_partitioned_store(
    spark: SparkSession,
    store: str,
    partition_col: str,
    schema: str,
    ids: list | None = None,
) -> DataFrame:
    """Rows of the live store snapshot, cast to ``schema`` (a DDL string
    whose column order is the output order), pruned at the PATH level to
    ``ids`` when given (the same ``basePath`` + explicit-dirs idiom as the
    sink's ``read_raw``).  A manifest without a ``buckets`` map raises."""
    from pyspark.sql import functions as F

    m = table_commit.read_manifest(store)
    if not m:
        return spark.createDataFrame([], schema)
    if "buckets" not in m:
        # a live version but no bucket map: the earlier flat layout.  Read
        # through the (absent) map it would serve as empty, silently
        # dropping every row it holds
        raise ValueError(
            f"store {store!r} (manifest seq {m.get('seq')}) has no 'buckets' map: "
            "it was written in the flat pre-bucket-map layout; rebuild it "
            "in the bucket-mapped layout"
        )
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
    store: str,
    rows: DataFrame,
    id_col: str,
    part_col: str,
    n_buckets: int,
    schema: str,
    touched: list[int],
    meta: dict,
    max_versions: int,
) -> None:
    """Commit the TOUCHED buckets' full post-image (``rows``) as a new
    version; untouched buckets keep serving from the versions the
    manifest already maps them to, and a bucket whose post-image is
    empty leaves the map entirely.  ``meta`` is the commit's full meta
    payload (replay frontier plus any store-specific counters) — the
    updated ``buckets`` map is merged in HERE, so the map and the
    counters flip in ONE atomic manifest write.  Past ``max_versions``
    distinct dirs the version chain auto-compacts (without the bound the
    per-batch bucket rewrites grow the listing forever)."""
    import os

    from pyspark.sql import functions as F

    m = table_commit.read_manifest(store)
    buckets = dict(m.get("buckets", {})) if m else {}
    vdir, seq = table_commit.begin(store)
    rows.withColumn(part_col, F.pmod(F.col(id_col), F.lit(n_buckets))).write.mode(
        "overwrite"
    ).partitionBy(part_col).parquet(vdir)
    written = {
        int(e.split("=", 1)[1]) for e in os.listdir(vdir) if e.startswith(f"{part_col}=")
    }
    vname = os.path.basename(vdir)
    for b in touched:
        if int(b) in written:
            buckets[str(b)] = vname
        else:
            buckets.pop(str(b), None)
    table_commit.commit(store, seq, meta={**meta, "buckets": buckets}, staged=vdir)
    m2 = table_commit.read_manifest(store)
    if len(set(m2.get("buckets", {}).values())) > max_versions:
        compact_bucketed_version(
            rows.sparkSession,
            store,
            id_col,
            part_col,
            n_buckets,
            schema,
            to_versions=max(1, max_versions // 2),
        )


def compact_bucketed_version(
    sp: SparkSession,
    store: str,
    id_col: str,
    part_col: str,
    n_buckets: int,
    schema: str,
    to_versions: int = 1,
) -> None:
    """Collapse a bucket-mapped store's version chain down to
    ``to_versions`` dirs by rewriting ONLY the buckets mapped to the
    oldest excess versions (the ``compact_ann_store`` I/O model —
    O(excess buckets' bytes), never the whole store; serving rows
    unchanged).  Every non-structural manifest key (replay frontier,
    correction counters, ...) is carried forward unchanged."""
    import os

    from pyspark.sql import functions as F

    m = table_commit.read_manifest(store)
    if m is None or not m.get("buckets"):
        return
    versions = sorted(set(m["buckets"].values()))
    if len(versions) <= to_versions:
        return
    oldest = set(versions[: max(1, len(versions) - to_versions + 1)])
    chosen = sorted(int(b) for b, v in m["buckets"].items() if v in oldest)
    rows = read_partitioned_store(sp, store, part_col, schema, ids=chosen).localCheckpoint(
        eager=True
    )
    vdir, seq = table_commit.begin(store)
    rows.withColumn(part_col, F.pmod(F.col(id_col), F.lit(n_buckets))).write.mode(
        "overwrite"
    ).partitionBy(part_col).parquet(vdir)
    written = {
        int(e.split("=", 1)[1]) for e in os.listdir(vdir) if e.startswith(f"{part_col}=")
    }
    vname = os.path.basename(vdir)
    buckets = dict(m["buckets"])
    for b in chosen:
        if b in written:
            buckets[str(b)] = vname
        else:
            buckets.pop(str(b), None)
    meta = {k: v for k, v in m.items() if k not in ("version", "seq", "buckets")}
    meta["buckets"] = buckets
    table_commit.commit(store, seq, meta=meta, staged=vdir)
