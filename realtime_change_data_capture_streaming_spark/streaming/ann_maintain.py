"""Streaming ANN index maintenance: continuous ingestion into the
persisted IVF+PQ serving index.

The persisted ANN indexes (``llm_ops.similarity``) are build-once /
serve-many, but a production corpus ingests continuously — the missing
piece VERDICT r11 named.  This module composes the existing machinery:

- the COARSE QUANTIZER (IVF centroids) and the PQ CODEBOOK are fit ONCE
  on the history split (``ivf_fit`` / ``pq_fit`` — the identical
  fixed-point k-means the batch indexes use) and FROZEN: that is how
  production IVF ingestion works (FAISS ``add`` never refits), and it is
  what makes the maintained index oracle-replayable;
- every micro-batch assigns its new vectors to the broadcast frozen
  centroids, PQ-encodes them against the broadcast frozen codebook, and
  APPENDS the codes to a cluster-mapped versioned table through
  ``cdc/commit.py`` — the same atomic manifest-flip + applied-batch-id
  replay guard as the sketch stores, with the manifest's ``buckets`` map
  keyed by CLUSTER id so an append rewrites ONLY the touched clusters'
  files (untouched clusters keep serving from their older version dirs,
  exactly the ``BucketedParquetSink`` merge I/O model);
- the STALENESS BOUND is plan-visible, not driver-side: per cluster the
  table itself yields ``n_base`` and ``n_appended`` by aggregation, and
  ``needs_refit = 2 * n_appended > n_base`` (integer arithmetic) flags
  clusters whose appended fraction passed 1/3 of rows — the refit
  trigger a production pipeline feeds back into the build tier.

At 100 TB: per batch the work is batch-linear (assign = broadcast cross
join + argmin; encode = broadcast codebook join), the append rewrites
``<= min(batch_clusters, k)`` cluster files, and since the build tier
sizes k proportionally to the corpus (the SemDeDup discipline), bytes
per cluster — and therefore per-append I/O — stays pinned as the table
grows.  Serving composes unchanged: probed-cluster pruning applies to
the base codes AND the appended store through the same cluster layout.

Correctness: the quantizers are frozen and deterministic, so the
streaming run must EQUAL the batch closed form (``ann_index_append_batch``)
on any batch split, and the closed form replays in DuckDB — history-fit
PQ chain, history-fit IVF chain, frozen-quantizer assignment of the
incoming split (``_stream_ann_sql``).  Replay safety and single-cluster
rewrite are pinned in ``tests/test_ann_maintain.py``.

Reference parity note: the reference repo has no ANN surface at all
(it is a 6-file CDC demo); this is part of the §2.5 LLM-data-pipeline
extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
from realtime_change_data_capture_streaming_spark.llm_ops.similarity import (
    EMB_DIM,
    N_IVF_CLUSTERS,
    N_PQ_CODES,
    N_PQ_SUB,
    N_PROBE,
    N_QUERY_VECS,
    PQ_ITERS,
    PQ_SUB_DIM,
    TOP_K,
    _adc_lut,
    _ADC_SCALE,
    _assign,
    _FP_SCALE,
    _index_cache,
    _pq_assign,
    _subvectors,
    ivf_fit,
    pq_fit,
)
from realtime_change_data_capture_streaming_spark.cdc.bucketed import (
    compact_bucketed_version,
    publish_bucketed_version,
    read_bucketed,
)
from realtime_change_data_capture_streaming_spark.operators._util import fp_encode_sql, fp_mean_sql, spread
from realtime_change_data_capture_streaming_spark.session import scratch_dir
from realtime_change_data_capture_streaming_spark.streaming._drive import drive_staged_stream
from realtime_change_data_capture_streaming_spark.sources.tables import load_table
from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import stage_ordered_batches
from realtime_change_data_capture_streaming_spark.streaming.sketches import _already_applied

#: history split: vectors below this id form the corpus the quantizers
#: are fit on (covers the IVF seeds vec_id < 8 and PQ seeds vec_id < 64
#: at every fixture SF); vectors at/above it arrive via the stream.
ANN_HISTORY_MAX_VEC_ID = 256

#: staleness bound: a cluster needs a refit once its appended rows pass
#: half its base rows (2 * appended > base — integer, no division).
REFIT_APPENDED_PER_BASE = 2

_CODES_SCHEMA = "vec_id bigint, s int, code bigint, cluster bigint"

#: refit state the OTHER writers (appends, compaction) must carry through
#: their manifest commits — commit() replaces meta wholesale.
_REFIT_META_KEYS = (
    "refit_bid",
    "cluster_gen",
    "refit_members",
    "local_cb_version",
    "pinned_versions",
)


def _stream_ann_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build once per fixture content: the FROZEN serving index fit on
    the history split — ``centroids`` (coarse quantizer), ``codebook``
    (PQ codewords), and ``codes`` (the history vectors' PQ codes laid
    out by cluster, the base the stream appends AGAINST)."""

    def build(root: str) -> None:
        hist = spread(load_table(spark, sf_dir, "embeddings")).filter(
            F.col("vec_id") < ANN_HISTORY_MAX_VEC_ID
        )
        assigned, cents = ivf_fit(hist)
        subs = _subvectors(hist).repartition(8, "vec_id").localCheckpoint(eager=True)
        codes, cb = pq_fit(subs)
        (
            codes.select("vec_id", "s", "code")
            .join(assigned.select("vec_id", "cluster"), "vec_id")
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(os.path.join(root, "codes"))
        )
        cents.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "centroids"))
        cb.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "codebook"))

    return _index_cache("spark_graft_annstream_", spark, sf_dir, build)


def _load_frozen(spark: SparkSession, root: str):
    """The frozen model tables with PLAN-VISIBLE bounds (the r11 cross-
    join-guard discipline): the coarse centroids are k rows and the
    codebook M*K rows by construction — the limits are semantic no-ops
    that let any plan inspector prove the encode's broadcast cross join
    is model-state-sided, never fact x fact."""
    cents = spark.read.parquet(os.path.join(root, "centroids")).limit(N_IVF_CLUSTERS)
    cb = spark.read.parquet(os.path.join(root, "codebook")).limit(N_PQ_SUB * N_PQ_CODES)
    base = spark.read.parquet(os.path.join(root, "codes"))
    return cents, cb, base


def _encode(vectors: DataFrame, cents: DataFrame, cb: DataFrame) -> DataFrame:
    """Frozen-quantizer encode of new vectors: coarse-assign against the
    broadcast centroids, PQ-encode against the broadcast codebook —
    (vec_id, s, code, cluster), the exact row shape of the base codes."""
    a = _assign(vectors, cents).select("vec_id", "cluster")
    codes = _pq_assign(_subvectors(vectors), cb).select("vec_id", "s", "code")
    return codes.join(a, "vec_id").select("vec_id", "s", "code", "cluster")


def _append_codes(store: str, batch_codes: DataFrame, bid: int) -> None:
    """One micro-batch append into the cluster-mapped versioned store.

    Effectively-once: the manifest records the last applied batch id
    (``_already_applied``), so an at-least-once re-delivery after a
    crash-between-commit-and-checkpoint is skipped, and a re-delivered
    batch that DID commit is a no-op.  The new version dir holds the
    touched clusters' full row sets (previous rows + the batch's);
    untouched clusters keep serving from the version dirs the manifest
    already maps them to — append I/O is O(touched clusters), never
    O(table).  batch_codes is checkpointed BEFORE the write so the
    rewrite cannot lazily re-read version dirs mid-supersede (the
    neardup lesson, r12)."""
    if _already_applied(store, bid):
        return
    sp = batch_codes.sparkSession
    codes_b = batch_codes.localCheckpoint(eager=True)
    touched = sorted(r["cluster"] for r in codes_b.select("cluster").distinct().collect())
    if not touched:
        return
    # carry the refit state through: an append after a partial refit must
    # not reset the refit replay guard, drop the per-cluster generation
    # map, or unpin the committed codebooks (commit() replaces meta
    # wholesale)
    m = table_commit.read_manifest(store) or {}
    publish_bucketed_version(
        store,
        _read_store(sp, store, clusters=touched).unionByName(codes_b),
        "cluster",
        touched,
        {"applied_bid": bid, **{k: m[k] for k in _REFIT_META_KEYS if k in m}},
    )


def _read_erased_vecs(spark: SparkSession, erased_root: str) -> DataFrame | None:
    """The committed erased vec_id set (tombstones), or None when no
    erasure was ever applied."""
    live = table_commit.resolve(erased_root)
    if live is None:
        return None
    return spark.read.schema("vec_id bigint").parquet(live)


def _apply_vec_erasures(erased_root: str, del_ids: DataFrame, bid: int) -> None:
    """One erasure micro-batch into the tombstone store: publish the
    union of the committed set and the batch's ids as a new version
    behind ONE atomic manifest flip (VERDICT r14 task 1 — deletes must
    reach the ANN serving tier, the index-side analog of the reference
    sink's delete handling, ``transaction_consumer.py:85-102``).

    Idempotent by construction: the set union dedups, the
    ``applied_bid`` guard skips fully-applied replays, and a crash
    before the commit publishes nothing.  Unlike BM25 there are no
    correction counters — ADC scoring has no corpus-statistics term, so
    the tombstone set alone makes serving equal the clean
    rebuild-minus-erased.  Erasure is TERMINAL per vec_id (the GDPR
    contract).  At 100 TB the set is a vanishing fraction of the
    corpus; the serve-side anti-join broadcasts it."""
    m = table_commit.read_manifest(erased_root)
    if m is not None and bid <= m.get("applied_bid", -1):
        return
    sp = del_ids.sparkSession
    ids = del_ids.select("vec_id").distinct().localCheckpoint(eager=True)
    if ids.count() == 0:
        return
    prev = _read_erased_vecs(sp, erased_root)
    all_ids = ids if prev is None else prev.unionByName(ids).dropDuplicates(["vec_id"])
    staged, seq = table_commit.begin(erased_root)
    all_ids.coalesce(1).write.mode("overwrite").parquet(staged)
    table_commit.commit(erased_root, seq, meta={"applied_bid": bid}, staged=staged)


def compact_ann_store(spark: SparkSession, store: str, erased_root: str) -> None:
    """The ERASURE-PURGE compaction: every cluster is rewritten with the
    tombstoned vec_ids anti-joined out, so erased vectors physically
    leave the store (bytes shrink to the live corpus and staleness
    counts stop seeing them).  That is a full O(store) rewrite by design
    — it runs on the erasure-GC cadence, not per batch; serving never
    depends on it (the serve-time anti-join stays authoritative).  The
    manifest's ingest/refit frontiers and generation map ride through.
    The version chain itself is bounded by the appends' shared
    auto-compaction (``cdc/bucketed.publish_bucketed_version``)."""
    m = table_commit.read_manifest(store)
    erased = _read_erased_vecs(spark, erased_root)
    if m is None or erased is None:
        return
    chosen = table_commit.oldest_buckets(table_commit.bucket_map(store, m))
    if not chosen:
        return
    rows = _read_store(spark, store, clusters=chosen)
    rows = rows.join(F.broadcast(erased), "vec_id", "left_anti").localCheckpoint(eager=True)
    # a fully-purged cluster writes no partition dir, so it leaves the map
    publish_bucketed_version(
        store,
        rows,
        "cluster",
        chosen,
        {k: v for k, v in m.items() if k not in ("version", "seq", "buckets")},
    )


def _read_store(spark: SparkSession, store: str, clusters: list | None = None) -> DataFrame:
    """Manifest-driven read of the appended-codes store, optionally
    pruned to a cluster subset at the PATH level (the one bucket-mapped
    reader: ``cdc/bucketed.py``)."""
    return read_bucketed(spark, store, "cluster", _CODES_SCHEMA, ids=clusters)


def _with_staleness(appended: DataFrame, base_codes: DataFrame) -> DataFrame:
    """Join the plan-visible refit trigger onto the appended rows: per
    cluster, count base and appended VECTORS (rows where s=0 — one per
    vector) and flag ``2 * n_appended > n_base``.  Both counts come from
    the tables themselves by aggregation — no driver-side state.

    Tombstoned (erased) vectors still count until the erasure-purge
    compaction physically drops them — deliberately CONSERVATIVE: a
    tombstone changes the cluster's live distribution just like an
    append does, so counting it can only trigger a refit EARLIER, never
    mask one.  After a purge the counts read the live rows."""
    base_n = (
        base_codes.filter(F.col("s") == 0)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_base"))
    )
    app_n = (
        appended.filter(F.col("s") == 0)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_appended"))
    )
    flags = app_n.join(base_n, "cluster", "left").select(
        "cluster",
        "n_appended",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        (
            F.lit(REFIT_APPENDED_PER_BASE) * F.col("n_appended")
            > F.coalesce("n_base", F.lit(0))
        ).alias("needs_refit"),
    )
    return appended.join(F.broadcast(flags), "cluster").select(
        "vec_id",
        F.col("s").cast("bigint").alias("s"),
        "code",
        "cluster",
        "n_base",
        "n_appended",
        "needs_refit",
    )


def ann_index_append_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch closed form: every incoming vector encoded at once with
    the frozen quantizers — the reference result the streaming run must
    reproduce exactly on any batch split."""
    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    incoming = spread(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID
    )
    return _with_staleness(_encode(incoming, cents, cb), base)


def stream_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous index ingestion across REAL micro-batches: incoming
    vectors arrive split by vec-id parity (two micro-batches), each
    batch encodes against the frozen quantizers and appends through the
    replay-guarded cluster-mapped store; the final table state (appended
    codes + per-cluster staleness flags) must equal the batch closed
    form — the batch split is invisible."""
    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    work, store = _run_ingest_stream(spark, sf_dir, cents, cb)
    return _with_staleness(_read_store(spark, store), base)


def _run_ingest_stream(spark: SparkSession, sf_dir: str, cents: DataFrame, cb: DataFrame):
    """Drive the two-micro-batch ingestion stream against the frozen
    quantizers; returns (work_dir, appended-codes store path)."""
    work = scratch_dir(prefix="annstream_")
    store = f"{work}/codes_store"
    e = load_table(spark, sf_dir, "embeddings")
    incoming = e.filter(F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID)
    in_dir = stage_ordered_batches(
        [
            incoming.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0),
            incoming.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1),
        ],
        f"{work}/staged",
    )
    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.filter(F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID)
        _append_codes(store, _encode(spread(fresh), cents, cb), batch_id)

    drive_staged_stream(spark, in_dir, e.schema, _ingest, f"{work}/ckpt")
    return work, store


def _publish_generation(
    gen_store: str, cents: DataFrame, cb: DataFrame, codes: DataFrame, generation: int
) -> None:
    """Publish one full index GENERATION (quantizers + cluster-laid-out
    codes) as a new version dir behind the atomic manifest flip.  Readers
    holding the previous generation keep working until GC's grace window
    passes — the same contract as the sink's compaction swap."""
    vdir, seq = table_commit.begin(gen_store)
    codes.write.mode("overwrite").partitionBy("cluster").parquet(os.path.join(vdir, "codes"))
    cents.coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "centroids"))
    cb.coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "codebook"))
    table_commit.commit(gen_store, seq, meta={"generation": generation}, staged=vdir)


def _full_refit(spark: SparkSession, sf_dir: str):
    """Refit BOTH quantizers over the full current corpus — identical
    arithmetic to the batch index build (``ivf_model``/``pq_codebook``),
    which is exactly what makes the post-swap state oracle-replayable.
    At 100 TB the vector source is the corpus store the appends came
    from; here both are the embeddings table."""
    all_v = spread(load_table(spark, sf_dir, "embeddings"))
    assigned, cents = ivf_fit(all_v)
    subs = _subvectors(all_v).repartition(8, "vec_id").localCheckpoint(eager=True)
    codes, cb = pq_fit(subs)
    full_codes = codes.select("vec_id", "s", "code").join(
        assigned.select("vec_id", "cluster"), "vec_id"
    )
    return cents, cb, full_codes


def stream_ann_index_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSUME the staleness trigger — the full ingestion loop: stream
    appends (as ``stream_ann_index_append``), then, when any cluster's
    appended fraction trips ``needs_refit``, refit both quantizers over
    the full current corpus and atomically SWAP in the new index
    generation (``_publish_generation``); serving reads whatever
    generation the manifest points at.  The trigger probe is a 1-row
    bounded collect over the plan-visible flag (the same bounded
    model-state collect class as the probed-cluster discovery).

    Output = the live serving state after the loop: every vector's
    (s, code, cluster) under the live generation.  With the fixture's
    incoming/history ratio the trigger deterministically trips, so the
    oracle replays the FULL-corpus quantizer chains (generation 1); the
    no-trip branch is pinned separately in ``tests/test_ann_maintain.py``.
    """
    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    work, store = _run_ingest_stream(spark, sf_dir, cents, cb)
    state = _with_staleness(_read_store(spark, store), base)

    gen_store = f"{work}/index_gens"
    # evaluate the trigger FIRST and publish only the generation that will
    # actually serve: publishing gen 0 unconditionally and then gen 1 on
    # trip wrote a full cluster-laid-out copy of the maintained table that
    # no reader ever resolved (the fixture always trips).  The live-swap
    # grace-window contract is pinned directly on _publish_generation in
    # tests/test_ann_maintain.py.
    tripped = state.filter(F.col("needs_refit")).limit(1).count() > 0
    if tripped:
        cents2, cb2, full_codes = _full_refit(spark, sf_dir)
        _publish_generation(gen_store, cents2, cb2, full_codes, 1)
    else:
        # generation 0 is the MAINTAINED state (base + appended
        # read-back), not the base alone — the no-trip serving state must
        # still contain every streamed-in vector
        gen0_codes = base.select(
            "vec_id", "s", "code", F.col("cluster").cast("bigint").alias("cluster")
        ).unionByName(_read_store(spark, store).select("vec_id", "s", "code", "cluster"))
        _publish_generation(gen_store, cents, cb, gen0_codes, 0)

    m = table_commit.read_manifest(gen_store)
    live = table_commit.resolve(gen_store)
    return spark.read.parquet(os.path.join(live, "codes")).select(
        "vec_id",
        F.col("s").cast("bigint").alias("s"),
        "code",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.lit(m["generation"]).cast("bigint").alias("generation"),
    )


#: per-cluster PQ re-train sample bound: the incremental refit trains
#: each stale cluster's local codebook on AT MOST this many of its
#: members (lowest vec_ids — deterministic, replayable).  At fixture
#: scale every cluster fits under the cap, so sample == full cluster;
#: at 100 TB the cap bounds the re-train to sample parallelism while
#: the re-ENCODE stays cluster-linear.
PQ_REFIT_SAMPLE_CAP = 4096


def _pq_assign_clustered(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest LOCAL codeword per (cluster, vector, subspace): the
    per-cluster form of ``similarity._pq_assign`` — the codebook join
    carries the cluster key, so each cluster's vectors only ever score
    against their own codewords.  The broadcast side is bounded by
    n_tripped_clusters * M * K rows — model state, never facts."""
    dist = F.aggregate(
        F.zip_with("sub", "cw", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = subs.join(F.broadcast(cb), ["cluster", "s"]).withColumn("dist", dist)
    return (
        scored.groupBy("cluster", "vec_id", "s")
        .agg(F.min_by(F.struct("code", "sub"), F.struct("dist", "code")).alias("m"))
        .select(
            "cluster", "vec_id", "s", F.col("m.code").alias("code"), F.col("m.sub").alias("sub")
        )
    )


def _pq_fit_clustered(csubs: DataFrame) -> DataFrame:
    """Per-cluster local PQ codebooks with the EXACT fixed-point
    arithmetic of ``similarity.pq_fit``, cluster-partitioned: seeds are
    each cluster's first ``N_PQ_CODES`` members by vec_id (code =
    rank-1), then ``PQ_ITERS`` fixed-point mean updates over the
    cluster's TRAINING SAMPLE (rank <= ``PQ_REFIT_SAMPLE_CAP``).
    Returns the final (cluster, s, code, cw) codebooks.  The rank window
    is partitioned by (cluster, s) — cluster-block bounded, never a
    global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster", "s").orderBy("vec_id")
    ranked = csubs.withColumn("rk", F.row_number().over(w))
    train = ranked.filter(F.col("rk") <= PQ_REFIT_SAMPLE_CAP).localCheckpoint(eager=True)
    cb = train.filter(F.col("rk") <= N_PQ_CODES).select(
        "cluster",
        "s",
        (F.col("rk") - 1).cast("bigint").alias("code"),
        F.col("sub").alias("cw"),
    )
    for _ in range(PQ_ITERS):
        assigned = _pq_assign_clustered(train, cb)
        cb = (
            assigned.select("cluster", "s", "code", F.posexplode("sub").alias("dim", "v"))
            .withColumn("iv", F.floor(F.col("v") * F.lit(float(_FP_SCALE))))
            .groupBy("cluster", "s", "code", "dim")
            .agg(F.sum("iv").alias("acc"), F.count(F.lit(1)).alias("n"))
            .withColumn(
                "m", (F.col("acc").cast("double") / F.col("n")) / F.lit(float(_FP_SCALE))
            )
            .groupBy("cluster", "s", "code")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                "cluster",
                "s",
                "code",
                F.transform(F.col("dm"), lambda t: t.getField("m")).alias("cw"),
            )
            # per-iteration lineage truncation (the pq_fit discipline)
            .localCheckpoint(eager=True)
        )
    return cb


def _refit_already_applied(store: str, bid: int) -> bool:
    """Replay guard for REFIT commits, tracked under the manifest's
    ``refit_bid`` key — deliberately separate from the ingest appends'
    ``applied_bid`` frontier.  Sharing one counter silently skipped every
    later ingest batch once a refit committed a large bid (ADVICE r13,
    medium): the append frontier must keep advancing monotonically
    through refits, and refit replays must be judged against refits."""
    m = table_commit.read_manifest(store)
    return m is not None and bid <= m.get("refit_bid", -1)


def _rewrite_refit_clusters(
    store: str, new_codes: DataFrame, tripped: list, bid: int, cb_local: DataFrame | None = None
) -> None:
    """Publish the re-encoded TRIPPED clusters as a new version whose
    bucket map supersedes only those clusters — the per-cluster
    generation swap: untripped clusters keep their manifest entries (and
    their files) untouched, and the manifest's ``cluster_gen`` map
    records which clusters are serving a refreshed local codebook.
    Replay-guarded like the appends, but on the SEPARATE ``refit_bid``
    frontier — the ingest stream's ``applied_bid`` rides through
    unchanged so ingestion can continue past refits.

    The commit also persists what the next round and the serving tier
    need (all model-state scale, in-manifest or in the version dir):

    - ``_local_cb`` — the MERGED local codebooks: this round's tripped
      clusters' plus the surviving previous ones (serving must score
      every generation >= 1 cluster against the codebook that encoded
      it, including after a driver restart — a recomputed codebook on
      the replay path would not match the committed codes);
    - ``refit_members`` — each tripped cluster's member count at refit
      time: the staleness reset the NEXT trigger evaluation computes
      against (after a refit the store holds the cluster's full member
      set, so raw store counts no longer mean "appended")."""
    if _refit_already_applied(store, bid):
        return
    sp = new_codes.sparkSession
    rows = new_codes.select("vec_id", "s", "code", "cluster").localCheckpoint(eager=True)
    m = table_commit.read_manifest(store)
    gens = dict(m.get("cluster_gen", {})) if m else {}
    members = dict(m.get("refit_members", {})) if m else {}
    vdir, seq = table_commit.begin(store)
    rows.write.mode("overwrite").partitionBy("cluster").parquet(vdir)
    buckets = table_commit.next_bucket_map(
        table_commit.bucket_map(store, m), vdir, table_commit.staged_ids(vdir, "cluster"), tripped
    )
    if cb_local is not None:
        prev_cb = _load_local_cb(sp, store)
        cb_all = cb_local.select("cluster", "s", "code", "cw")
        if prev_cb is not None:
            cb_all = cb_all.unionByName(
                prev_cb.filter(~F.col("cluster").isin([int(c) for c in tripped]))
            )
        cb_all.coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "_local_cb"))
    # bounded collect: one member-count row per tripped cluster (<= k)
    for r in (
        rows.filter(F.col("s") == 0).groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    ):
        members[str(r["cluster"])] = int(r["n"])
    for c in tripped:
        gens[str(c)] = int(gens.get(str(c), 0)) + 1
    meta = {
        "refit_bid": bid,
        "buckets": buckets,
        "cluster_gen": gens,
        "refit_members": members,
    }
    if cb_local is not None:
        # the staged dir renames to v<seq> under the commit lock; point
        # the codebook reference at the published name
        meta["local_cb_version"] = table_commit._vname(seq)
    elif m is not None and "local_cb_version" in m:
        meta["local_cb_version"] = m["local_cb_version"]
    if "local_cb_version" in meta:
        # GC keeps only referenced versions alive; the codebook dir must
        # survive even after later appends supersede every cluster the
        # refit version served
        meta["pinned_versions"] = [meta["local_cb_version"]]
    if m is not None and "applied_bid" in m:
        meta["applied_bid"] = m["applied_bid"]
    table_commit.commit(store, seq, meta=meta, staged=vdir)
    if table_commit.chain_collapse(buckets):
        compact_bucketed_version(sp, store, "cluster", rows.schema)


def _load_local_cb(spark: SparkSession, store: str) -> DataFrame | None:
    """The committed local codebooks (cluster, s, code, cw), or None when
    no refit has published any."""
    m = table_commit.read_manifest(store)
    if not m or "local_cb_version" not in m:
        return None
    path = os.path.join(store, m["local_cb_version"], "_local_cb")
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path)


def _partial_refit_state(
    spark: SparkSession, sf_dir: str, store: str, base: DataFrame
) -> DataFrame:
    """The serving state after the incremental refit (see
    :func:`_do_partial_refit` for the mechanics and the scale story)."""
    state, _tripped, _cb_local = _do_partial_refit(spark, sf_dir, store, base)
    return state


def _do_partial_refit(
    spark: SparkSession,
    sf_dir: str,
    store: str,
    base: DataFrame,
    erased_root: str | None = None,
) -> tuple[DataFrame, list, DataFrame | None]:
    """Consume the staleness trigger INCREMENTALLY (VERDICT r12 task 7):
    instead of the full-corpus double-quantizer rebuild
    (``stream_ann_index_refit``), re-train a LOCAL PQ codebook per
    TRIPPED cluster on a bounded sample of its members, re-encode ONLY
    those clusters' rows, and swap them in per cluster.  The coarse
    quantizer stays frozen (FAISS-style: membership never moves, which
    is exactly what makes cluster-local work possible), so untripped
    clusters' codes — and their files — are untouched.

    At 100 TB: the re-train is sample-bounded per cluster, the re-encode
    and rewrite are O(tripped clusters' bytes), and serving keeps working
    through the per-cluster manifest swap — no full-index rebuild on the
    ingest path.

    Rounds compose (the production loop): the refit's idempotency key is
    the ingest frontier it consumed (``bid = applied_bid`` at evaluation
    time), so a crash-replay of the same round no-ops while a round that
    follows NEW appends applies; on the replay/no-progress path the
    committed outcome is RELOADED from the store (generation map +
    persisted ``_local_cb`` codebooks) instead of retrained — a
    recomputed codebook would not match the committed codes, because a
    refit cluster's member multiset looks different once the store holds
    its full re-encoded member set.  For the same reason the staleness
    trigger measures refit clusters against their manifest-recorded
    member count at refit time (``refit_members``), not raw store rows.

    Returns (serving_state, refit_cluster_ids, local_codebooks):
    serving_state = (vec_id, s, code, cluster, refit_gen) for EVERY
    vector — clusters at generation >= 1 carry their locally re-trained
    codes, generation-0 clusters keep the frozen encoding;
    local_codebooks = the generation >= 1 clusters' (cluster, s, code,
    cw) tables (None when nothing has ever tripped) so a
    mixed-generation search can score each cluster against the codebook
    that encoded it."""
    m0 = table_commit.read_manifest(store) or {}
    bid = int(m0.get("applied_bid", -1))
    base_rows = base.select(
        "vec_id",
        F.col("s").cast("bigint").alias("s"),
        F.col("code").cast("bigint").alias("code"),
        F.col("cluster").cast("bigint").alias("cluster"),
    )
    if not _refit_already_applied(store, bid):
        state = _with_staleness(_read_store(spark, store), base)
        refit_members = {int(c): int(n) for c, n in m0.get("refit_members", {}).items()}
        if refit_members:
            # staleness reset for previously-refit clusters: their store
            # rows are full member sets, so "appended since" is the
            # delta over the recorded refit-time member count
            rm = spark.createDataFrame(
                [(c, n) for c, n in refit_members.items()], "cluster bigint, n_refit bigint"
            )
            state = (
                state.join(F.broadcast(rm), "cluster", "left")
                .withColumn(
                    "needs_refit",
                    F.when(
                        F.col("n_refit").isNotNull(),
                        F.lit(REFIT_APPENDED_PER_BASE)
                        * (F.col("n_appended") - F.col("n_refit"))
                        > F.col("n_refit"),
                    ).otherwise(F.col("needs_refit")),
                )
                .drop("n_refit")
            )
        # bounded collect: <= k cluster ids (model-state scale)
        tripped_now = sorted(
            int(r["cluster"])
            for r in state.filter(F.col("needs_refit")).select("cluster").distinct().collect()
        )
        if tripped_now:
            prev_gen = {int(c) for c, g in m0.get("cluster_gen", {}).items() if int(g) > 0}
            # current members of the tripped clusters, one s=0 row per
            # vector: previously-refit clusters' stores already hold the
            # full member set; never-refit clusters = history + appended
            mem = (
                base_rows.filter(
                    (F.col("s") == 0) & ~F.col("cluster").isin([int(c) for c in prev_gen])
                )
                .select("vec_id", "cluster")
                .unionByName(
                    _read_store(spark, store)
                    .filter(F.col("s") == 0)
                    .select("vec_id", "cluster")
                )
                .filter(F.col("cluster").isin(tripped_now))
            )
            if erased_root is not None:
                # GDPR retention through MODEL STATE (r15): tombstoned
                # vectors must not train the local codebooks nor be
                # re-encoded into the refit version — the refit is the
                # moment erased rows leave the store, like the purge
                # compaction.  Without this, an erased vector's data
                # would survive inside the trained codewords.
                erased = _read_erased_vecs(spark, erased_root)
                if erased is not None:
                    mem = mem.join(F.broadcast(erased), "vec_id", "left_anti")
            vecs = spread(load_table(spark, sf_dir, "embeddings")).join(mem, "vec_id")
            csubs = _subvectors(vecs).join(mem, "vec_id").select("cluster", "vec_id", "s", "sub")
            cb_now = _pq_fit_clustered(csubs)
            new_codes = _pq_assign_clustered(csubs, cb_now)
            _rewrite_refit_clusters(store, new_codes, tripped_now, bid, cb_local=cb_now)
    # serving view — ALWAYS reconstructed from the committed store, so
    # the fresh path, the replay path, and a later round all read the
    # same thing: store rows for every ever-refit or appended cluster,
    # frozen base rows for the rest, generations from the manifest
    m1 = table_commit.read_manifest(store) or {}
    gens = {int(c): int(g) for c, g in m1.get("cluster_gen", {}).items() if int(g) > 0}
    refit_ids = sorted(gens)
    cb_local = _load_local_cb(spark, store)
    store_rows = _read_store(spark, store).select(
        "vec_id", F.col("s").cast("bigint").alias("s"), "code", "cluster"
    )
    keep_base = base_rows.filter(~F.col("cluster").isin(refit_ids))
    out = store_rows.unionByName(keep_base)
    gen_expr = F.lit(0).cast("bigint")
    if gens:
        gen_df = spark.createDataFrame(
            [(c, g) for c, g in gens.items()], "cluster bigint, _gen bigint"
        )
        out = out.join(F.broadcast(gen_df), "cluster", "left")
        gen_expr = F.coalesce(F.col("_gen"), F.lit(0).cast("bigint"))
    state_out = out.select(
        "vec_id", "s", "code", "cluster", gen_expr.alias("refit_gen")
    )
    return state_out, refit_ids, cb_local


def stream_ann_index_partial_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming run: ingest across real micro-batches (as
    ``stream_ann_index_append``), then consume the staleness trigger via
    the INCREMENTAL per-cluster refit — sampled local re-train +
    touched-cluster-only rewrite."""
    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    _work, store = _run_ingest_stream(spark, sf_dir, cents, cb)
    return _partial_refit_state(spark, sf_dir, store, base)


def stream_ann_partial_refit_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE an ADC search off the MID-REFIT mixed-generation index
    (VERDICT r13 task 5): ingest across real micro-batches, run the
    incremental per-cluster refit, then answer a top-k search against
    the resulting state — tripped clusters scored with their LOCAL
    re-trained codebooks, untripped clusters with the frozen one, in the
    SAME query.  Serving never blocks on maintenance: this is the
    generalization of the reference consumer's always-on loop
    (``transaction_consumer.py:72-103`` keeps consuming regardless of
    what the rest of the pipeline does), applied to the index tier.

    Search shape: the coarse quantizer is frozen (membership never moves
    mid-refit), so the probe ranking uses the frozen centroids; each
    query scans only its probed clusters' CODES, and every partial
    distance comes from the codebook generation that encoded the cluster
    (the manifest's ``cluster_gen`` contract made queryable).  The output
    ranks by the exact fixed-point ADC score — codes only, no
    full-precision rerank — so the mixed generations are VISIBLE in the
    hashed values, not washed out by an exact rerank.

    At 100 TB: probe pruning bounds the scan to n_probe/k of a
    32x-compressed table; the local-codebook LUT is n_tripped * M * K
    rows and the frozen LUT M * K — both broadcast model state."""
    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    _work, store = _run_ingest_stream(spark, sf_dir, cents, cb)
    state, refit_ids, cb_local = _do_partial_refit(spark, sf_dir, store, base)
    return _serve_adc_mixed(
        spark, sf_dir, cents, cb, state, cb_local, refit_clusters=refit_ids
    )


#: erasure fixture predicate for ``stream_ann_forget_serve``: every fifth
#: vec_id (excluding the query probes) is deleted by the third
#: micro-batch — hitting BOTH frozen-base (history) vectors and
#: just-streamed-in appends, so the anti-join must cover both tiers.
ANN_FORGET_MOD = 5
ANN_FORGET_RESIDUE = 2


def _ann_forget_pred():
    return (F.pmod(F.col("vec_id"), F.lit(ANN_FORGET_MOD)) == ANN_FORGET_RESIDUE) & (
        F.col("vec_id") >= N_QUERY_VECS
    )


def _run_forget_stream(
    spark: SparkSession, sf_dir: str, cents: DataFrame, cb: DataFrame, work: str, erase_pred
) -> tuple[str, str]:
    """Drive the CDC ingestion stream with erasure — two vec-parity
    insert micro-batches, then one DELETE batch (rows matching
    ``erase_pred``, op='d') — through the replay-guarded codes +
    tombstone stores.  Returns (codes_store, erased_root).  Shared by
    ``stream_ann_forget_serve`` and the hybrid forget capstone."""
    store, erased_root = f"{work}/codes_store", f"{work}/erased"
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    incoming = e.filter(F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID).withColumn(
        "op", F.lit("c")
    )
    dels = e.filter(erase_pred).select(
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(None).cast("int").alias("label"),
        F.lit("d").alias("op"),
    )
    in_dir = stage_ordered_batches(
        [
            incoming.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0),
            incoming.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1),
            dels,
        ],
        f"{work}/staged",
    )

    def gate(batch: DataFrame, bid: int) -> None:
        ins = batch.filter(
            (F.col("op").isNull() | (F.col("op") != F.lit("d")))
            & (F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID)
        ).select("vec_id", "embedding", "label")
        _append_codes(store, _encode(spread(ins), cents, cb), bid)
        _apply_vec_erasures(erased_root, batch.filter(F.col("op") == "d"), bid)

    drive_staged_stream(
        spark,
        in_dir,
        "vec_id bigint, embedding array<float>, label int, op string",
        gate,
        f"{work}/ckpt",
    )
    return store, erased_root


def stream_ann_forget_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure through the maintained ANN index (VERDICT r14 task 1):
    incoming vectors ingest across two real micro-batches, then a
    DELETE batch (op='d') tombstones a fifth of the corpus — history
    and freshly-appended vectors alike — through the replay-guarded
    erased-set store; the final ADC search must equal the closed form
    over the SURVIVING corpus (frozen quantizers, so erasure only
    removes candidates — exactly the FAISS remove_ids contract).  An
    erased vector never serves again, from either the frozen base codes
    or the appended store."""
    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    work = scratch_dir(prefix="annforget_")
    store, erased_root = _run_forget_stream(
        spark, sf_dir, cents, cb, work, _ann_forget_pred()
    )
    state = (
        base.select(
            "vec_id",
            F.col("s").cast("bigint").alias("s"),
            F.col("code").cast("bigint").alias("code"),
            F.col("cluster").cast("bigint").alias("cluster"),
        )
        .unionByName(
            _read_store(spark, store).select(
                "vec_id",
                F.col("s").cast("bigint").alias("s"),
                "code",
                "cluster",
            )
        )
        .withColumn("refit_gen", F.lit(0).cast("bigint"))
    )
    erased = _read_erased_vecs(spark, erased_root)
    if erased is not None:
        state = state.join(F.broadcast(erased), "vec_id", "left_anti")
    return _serve_adc_mixed(spark, sf_dir, cents, cb, state, None, refit_possible=False)


def _serve_adc_mixed(
    spark: SparkSession,
    sf_dir: str,
    cents: DataFrame,
    cb: DataFrame,
    state: DataFrame,
    cb_local: DataFrame | None,
    refit_possible: bool = True,
    refit_clusters: list[int] | None = None,
) -> DataFrame:
    """The mixed-generation ADC search core (split out so tests can drive
    it over a hand-built store where only SOME clusters tripped — the
    registered query's fixture trips every cluster).  Callers whose
    state is generation-0 BY CONSTRUCTION (the forget serve: no refit
    ever ran) pass ``refit_possible=False`` to skip the
    missing-codebook consistency probe — that check otherwise costs one
    distributed job on the serve path (r15 review).  Callers that READ
    the manifest pass its gen>=1 cluster ids as ``refit_clusters`` so
    the probe decides driver-side (no refit committed, or none of its
    clusters probed -> no job; ADVICE r15: the probe otherwise scanned
    the full checkpointed state on EVERY healthy no-refit serve before
    concluding nothing was wrong)."""
    from pyspark.sql import Window

    state = state.localCheckpoint(eager=True)
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    qsubs = _subvectors(q)

    # probe the frozen coarse quantizer; ONE evaluation serves both the
    # partition-prune id union and the broadcast probe frame (bounded
    # collect: N_QUERY_VECS * N_PROBE rows, model-state scale)
    l2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wp = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cluster"))
    probe_rows = (
        q.select(F.col("vec_id").alias("query_id"), "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn("dist", l2)
        .withColumn("prk", F.row_number().over(wp))
        .filter(F.col("prk") <= N_PROBE)
        .select("query_id", "cluster")
        .collect()
    )
    probes = spark.createDataFrame(probe_rows, "query_id bigint, cluster bigint")
    probed_ids = sorted({int(r["cluster"]) for r in probe_rows})

    cand = state.filter(
        (F.col("vec_id") >= N_QUERY_VECS) & F.col("cluster").isin(probed_ids)
    ).select(F.col("vec_id").alias("cand_id"), "s", "code", "cluster", "refit_gen")

    dist = F.aggregate(
        F.zip_with("sub", "cw", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    flut = _adc_lut(qsubs, cb)
    pairs = cand.filter(F.col("refit_gen") == 0).join(F.broadcast(flut), ["s", "code"])
    if cb_local is None and refit_possible:
        # a state with generation>=1 clusters but no loadable local
        # codebook (e.g. the pinned _local_cb dir is missing/unreadable)
        # must fail loudly, not silently drop every refit cluster from
        # the search and serve a truncated result set (ADVICE r14).
        # When the caller supplied the manifest's refit-cluster ids, the
        # decision is a driver-side set intersection; the distributed
        # confirm scan runs only when a committed refit cluster is
        # actually among the probed ones (the broken-deployment path).
        may_serve_refit = refit_clusters is None or bool(
            {int(c) for c in refit_clusters} & set(probed_ids)
        )
        if may_serve_refit and cand.filter(F.col("refit_gen") >= 1).limit(1).count() > 0:
            raise RuntimeError(
                "ADC serve: state contains refit_gen>=1 clusters but no "
                "local codebook could be loaded — the committed _local_cb "
                "dir is missing or unreadable; refusing to serve a "
                "silently truncated result"
            )
    if cb_local is not None:
        llut = (
            qsubs.select(F.col("vec_id").alias("query_id"), "s", "sub")
            .join(F.broadcast(cb_local), "s")
            .select(
                "cluster",
                "query_id",
                "s",
                "code",
                F.floor(dist * F.lit(float(_ADC_SCALE))).alias("pfp"),
            )
        )
        pairs_local = cand.filter(F.col("refit_gen") >= 1).join(
            F.broadcast(llut), ["cluster", "s", "code"]
        )
        pairs = pairs.unionByName(pairs_local.select(*pairs.columns))
    scored = (
        pairs.join(F.broadcast(probes), ["query_id", "cluster"], "left_semi")
        .groupBy("query_id", "cand_id")
        .agg(
            F.sum("pfp").alias("adc_fp"),
            F.max("refit_gen").cast("bigint").alias("cand_gen"),
        )
    )
    # final top-k via partial-heads + bounded aggregate, not an 8-key
    # window over every probed (query, cand) ADC sum (r15 plan guard)
    from realtime_change_data_capture_streaming_spark.llm_ops.similarity import _per_query_topk

    return _per_query_topk(scored, TOP_K, "adc_fp", ascending=True, extra=("cand_gen",))


#: shared CTE text shapes for the DuckDB replays (the same fixed-point
#: recipes as similarity._pq_sql/_ivf_sql, parametrized by source)
_PQ_DIST = "list_sum(list_transform(list_zip(a.sub, c.cw), p -> (p[1] - p[2]) * (p[1] - p[2])))"
_IVF_DIST = (
    "list_sum(list_transform(list_zip(e.v, c.centroid), "
    "p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


def _sql_pq_assign(src: str, cbn: str, name: str) -> str:
    return f"""{name} AS (
  SELECT vec_id, s, code, sub FROM (
    SELECT a.vec_id, a.s, c.code, a.sub,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.s ORDER BY {_PQ_DIST} ASC, c.code ASC) AS rk
    FROM {src} a JOIN {cbn} c ON a.s = c.s
  ) WHERE rk = 1
)"""


def _sql_pq_update(assigned: str, name: str) -> str:
    return f"""{name} AS (
  SELECT s, code, list(m ORDER BY dim) AS cw FROM (
    SELECT s, code, dim,
           {fp_mean_sql(float(_FP_SCALE))} AS m
    FROM (
      SELECT a.s, a.code, t.i AS dim,
             {fp_encode_sql('a.sub[t.i]', float(_FP_SCALE))} AS iv
      FROM {assigned} a, UNNEST(range(1, {PQ_SUB_DIM} + 1)) AS t(i)
    ) GROUP BY s, code, dim
  ) GROUP BY s, code
)"""


def _sql_ivf_assign(src: str, cents: str, name: str) -> str:
    return f"""{name} AS (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.v, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_DIST} ASC, c.cluster ASC) AS rk
    FROM {src} e CROSS JOIN {cents} c
  ) WHERE rk = 1
)"""


def _sql_ivf_update(assigned: str, name: str) -> str:
    return f"""{name} AS (
  SELECT cluster, list(m ORDER BY dim) AS centroid FROM (
    SELECT cluster, dim,
           {fp_mean_sql(float(_FP_SCALE))} AS m
    FROM (
      SELECT a.cluster, t.i AS dim,
             {fp_encode_sql('a.v[t.i]', float(_FP_SCALE))} AS iv
      FROM {assigned} a, UNNEST(range(1, {EMB_DIM} + 1)) AS t(i)
    ) GROUP BY cluster, dim
  ) GROUP BY cluster
)"""


def _stream_ann_sql() -> str:
    """DuckDB replay of the closed form: the PQ chain fit on the HISTORY
    subvectors (same seeds, same fixed-point updates as ``_pq_sql``),
    the IVF chain fit on the HISTORY vectors (same shapes as
    ``_ivf_sql``), then frozen-quantizer assignment of the incoming
    split plus the integer staleness flags."""
    HIST = ANN_HISTORY_MAX_VEC_ID
    pq_assign, pq_update = _sql_pq_assign, _sql_pq_update
    ivf_assign, ivf_update = _sql_ivf_assign, _sql_ivf_update

    sql = f"""
WITH vd AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), hsubs AS MATERIALIZED (
  SELECT vec_id, t.s AS s, list_slice(v, t.s * {PQ_SUB_DIM} + 1, t.s * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
  FROM vd, UNNEST(range(0, {N_PQ_SUB})) AS t(s)
  WHERE vec_id < {HIST}
), isubs AS (
  SELECT vec_id, t.s AS s, list_slice(v, t.s * {PQ_SUB_DIM} + 1, t.s * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
  FROM vd, UNNEST(range(0, {N_PQ_SUB})) AS t(s)
  WHERE vec_id >= {HIST}
), cb0 AS (
  SELECT s, vec_id AS code, sub AS cw FROM hsubs WHERE vec_id < {N_PQ_CODES}
)"""
    cbn = "cb0"
    for i in range(PQ_ITERS):
        sql += f", {pq_assign('hsubs', cbn, f'passign{i}')}\n, {pq_update(f'passign{i}', f'cb{i + 1}')}"
        cbn = f"cb{i + 1}"
    sql += f"""
, hvecs AS MATERIALIZED (SELECT vec_id, v FROM vd WHERE vec_id < {HIST})
, ivecs AS (SELECT vec_id, v FROM vd WHERE vec_id >= {HIST})
, icents0 AS (
  SELECT vec_id AS cluster, v AS centroid FROM hvecs WHERE vec_id < {N_IVF_CLUSTERS}
), {ivf_assign("hvecs", "icents0", "iassign0")}
, {ivf_update("iassign0", "icents1")}
, {ivf_assign("hvecs", "icents1", "iassign1")}
, {ivf_update("iassign1", "icents2")}
, {ivf_assign("hvecs", "icents2", "hfinal")}
, {ivf_assign("ivecs", "icents2", "ifinal")}
, {pq_assign("isubs", cbn, "icodes")}
, base_n AS (
  SELECT cluster, COUNT(*) AS n_base FROM hfinal GROUP BY cluster
), app_n AS (
  SELECT cluster, COUNT(*) AS n_appended FROM ifinal GROUP BY cluster
)
SELECT p.vec_id, CAST(p.s AS BIGINT) AS s, CAST(p.code AS BIGINT) AS code,
       CAST(f.cluster AS BIGINT) AS cluster,
       CAST(COALESCE(b.n_base, 0) AS BIGINT) AS n_base,
       CAST(a.n_appended AS BIGINT) AS n_appended,
       ({REFIT_APPENDED_PER_BASE} * a.n_appended > COALESCE(b.n_base, 0)) AS needs_refit
FROM icodes p
JOIN ifinal f ON f.vec_id = p.vec_id
JOIN app_n a ON a.cluster = f.cluster
LEFT JOIN base_n b ON b.cluster = f.cluster
"""
    return sql


def _sql_pq_assign_clustered(src: str, cbn: str, name: str) -> str:
    """Per-cluster nearest-codeword CTE: the clustered form of
    ``_sql_pq_assign`` — codebook join keyed on (cluster, s)."""
    return f"""{name} AS (
  SELECT cluster, vec_id, s, code, sub FROM (
    SELECT a.cluster, a.vec_id, a.s, c.code, a.sub,
           ROW_NUMBER() OVER (PARTITION BY a.cluster, a.vec_id, a.s ORDER BY {_PQ_DIST} ASC, c.code ASC) AS rk
    FROM {src} a JOIN {cbn} c ON a.cluster = c.cluster AND a.s = c.s
  ) WHERE rk = 1
)"""


def _sql_pq_update_clustered(assigned: str, name: str) -> str:
    return f"""{name} AS (
  SELECT cluster, s, code, list(m ORDER BY dim) AS cw FROM (
    SELECT cluster, s, code, dim,
           {fp_mean_sql(float(_FP_SCALE))} AS m
    FROM (
      SELECT a.cluster, a.s, a.code, t.i AS dim,
             {fp_encode_sql('a.sub[t.i]', float(_FP_SCALE))} AS iv
      FROM {assigned} a, UNNEST(range(1, {PQ_SUB_DIM} + 1)) AS t(i)
    ) GROUP BY cluster, s, code, dim
  ) GROUP BY cluster, s, code
)"""


def _partial_refit_chain() -> tuple[str, str, str]:
    """The shared CTE chain for the incremental-refit replays: the
    frozen-quantizer chains of ``_stream_ann_sql`` (history-fit PQ + IVF,
    frozen assignment of the incoming split), the integer staleness
    trigger, the per-tripped-cluster local sampled PQ chain, and the
    final ``serving`` CTE (every vector's live codes + refit_gen).
    Returns (chain_sql, frozen_codebook_cte, local_codebook_cte)."""
    HIST = ANN_HISTORY_MAX_VEC_ID
    sql = f"""
WITH vd AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), hsubs AS MATERIALIZED (
  SELECT vec_id, t.s AS s, list_slice(v, t.s * {PQ_SUB_DIM} + 1, t.s * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
  FROM vd, UNNEST(range(0, {N_PQ_SUB})) AS t(s)
  WHERE vec_id < {HIST}
), isubs AS MATERIALIZED (
  SELECT vec_id, t.s AS s, list_slice(v, t.s * {PQ_SUB_DIM} + 1, t.s * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
  FROM vd, UNNEST(range(0, {N_PQ_SUB})) AS t(s)
  WHERE vec_id >= {HIST}
), cb0 AS (
  SELECT s, vec_id AS code, sub AS cw FROM hsubs WHERE vec_id < {N_PQ_CODES}
)"""
    cbn = "cb0"
    for i in range(PQ_ITERS):
        sql += (
            f", {_sql_pq_assign('hsubs', cbn, f'passign{i}')}\n"
            f", {_sql_pq_update(f'passign{i}', f'cb{i + 1}')}"
        )
        cbn = f"cb{i + 1}"
    sql += f"""
, hvecs AS MATERIALIZED (SELECT vec_id, v FROM vd WHERE vec_id < {HIST})
, ivecs AS (SELECT vec_id, v FROM vd WHERE vec_id >= {HIST})
, icents0 AS (
  SELECT vec_id AS cluster, v AS centroid FROM hvecs WHERE vec_id < {N_IVF_CLUSTERS}
), {_sql_ivf_assign("hvecs", "icents0", "iassign0")}
, {_sql_ivf_update("iassign0", "icents1")}
, {_sql_ivf_assign("hvecs", "icents1", "iassign1")}
, {_sql_ivf_update("iassign1", "icents2")}
, {_sql_ivf_assign("hvecs", "icents2", "hfinal")}
, {_sql_ivf_assign("ivecs", "icents2", "ifinal")}
, {_sql_pq_assign("hsubs", cbn, "hcodes")}
, {_sql_pq_assign("isubs", cbn, "icodes")}
, base_n AS (
  SELECT cluster, COUNT(*) AS n_base FROM hfinal GROUP BY cluster
), app_n AS (
  SELECT cluster, COUNT(*) AS n_appended FROM ifinal GROUP BY cluster
), trip AS (
  SELECT a.cluster FROM app_n a LEFT JOIN base_n b ON b.cluster = a.cluster
  WHERE {REFIT_APPENDED_PER_BASE} * a.n_appended > COALESCE(b.n_base, 0)
), mem AS (
  SELECT vec_id, cluster FROM hfinal UNION ALL SELECT vec_id, cluster FROM ifinal
), csubs AS MATERIALIZED (
  SELECT m.cluster, s.vec_id, s.s, s.sub
  FROM (SELECT * FROM hsubs UNION ALL SELECT * FROM isubs) s
  JOIN mem m ON m.vec_id = s.vec_id
  WHERE m.cluster IN (SELECT cluster FROM trip)
), cranked AS MATERIALIZED (
  SELECT cluster, vec_id, s, sub,
         ROW_NUMBER() OVER (PARTITION BY cluster, s ORDER BY vec_id) AS rk
  FROM csubs
), ctrain AS MATERIALIZED (
  SELECT cluster, vec_id, s, sub FROM cranked WHERE rk <= {PQ_REFIT_SAMPLE_CAP}
), ccb0 AS (
  SELECT cluster, s, CAST(rk - 1 AS BIGINT) AS code, sub AS cw FROM cranked WHERE rk <= {N_PQ_CODES}
)"""
    ccbn = "ccb0"
    for i in range(PQ_ITERS):
        sql += (
            f", {_sql_pq_assign_clustered('ctrain', ccbn, f'cpassign{i}')}\n"
            f", {_sql_pq_update_clustered(f'cpassign{i}', f'ccb{i + 1}')}"
        )
        ccbn = f"ccb{i + 1}"
    sql += f"""
, {_sql_pq_assign_clustered("csubs", ccbn, "cfinal")}
, serving AS (
  SELECT f.vec_id, CAST(f.s AS BIGINT) AS s, CAST(f.code AS BIGINT) AS code,
         CAST(f.cluster AS BIGINT) AS cluster, CAST(1 AS BIGINT) AS refit_gen
  FROM cfinal f
  UNION ALL
  SELECT h.vec_id, CAST(p.s AS BIGINT), CAST(p.code AS BIGINT),
         CAST(h.cluster AS BIGINT), CAST(0 AS BIGINT)
  FROM hcodes p JOIN hfinal h ON h.vec_id = p.vec_id
  WHERE h.cluster NOT IN (SELECT cluster FROM trip)
  UNION ALL
  SELECT f.vec_id, CAST(p.s AS BIGINT), CAST(p.code AS BIGINT),
         CAST(f.cluster AS BIGINT), CAST(0 AS BIGINT)
  FROM icodes p JOIN ifinal f ON f.vec_id = p.vec_id
  WHERE f.cluster NOT IN (SELECT cluster FROM trip)
)"""
    return sql, cbn, ccbn


def _partial_refit_sql() -> str:
    """DuckDB replay of the INCREMENTAL refit's serving state (see
    ``_partial_refit_chain`` for the chains): tripped clusters carry
    locally re-trained codes, untripped keep their frozen encoding."""
    chain, _cbn, _ccbn = _partial_refit_chain()
    return f"""{chain}
SELECT vec_id, s, code, cluster, refit_gen FROM serving
"""


def _partial_refit_serve_sql() -> str:
    """DuckDB replay of the MID-REFIT ADC search: the full incremental-
    refit chain, then — per query — a probe ranking against the FROZEN
    coarse centroids and an ADC scan of the probed clusters' serving
    codes, each partial distance taken from the codebook generation that
    encoded the cluster (local for tripped, frozen otherwise), ranked by
    the exact fixed-point score."""
    chain, cbn, ccbn = _partial_refit_chain()
    return f"""{chain}
, qsubs AS (
  SELECT vec_id, s, sub FROM hsubs WHERE vec_id < {N_QUERY_VECS}
), probes AS (
  SELECT vec_id AS query_id, cluster FROM (
    SELECT e.vec_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_DIST} ASC, c.cluster ASC) AS prk
    FROM (SELECT vec_id, v FROM vd WHERE vec_id < {N_QUERY_VECS}) e CROSS JOIN icents2 c
  ) WHERE prk <= {N_PROBE}
), flut AS (
  SELECT a.vec_id AS query_id, a.s, c.code,
         CAST(FLOOR({_PQ_DIST} * {float(_ADC_SCALE)}) AS BIGINT) AS pfp
  FROM qsubs a JOIN {cbn} c ON a.s = c.s
), llut AS (
  SELECT c.cluster, a.vec_id AS query_id, a.s, c.code,
         CAST(FLOOR({_PQ_DIST} * {float(_ADC_SCALE)}) AS BIGINT) AS pfp
  FROM qsubs a JOIN {ccbn} c ON a.s = c.s
), pairs AS (
  SELECT p.query_id, v.vec_id AS cand_id, l.pfp, v.refit_gen
  FROM serving v
  JOIN probes p ON p.cluster = v.cluster
  JOIN llut l ON l.cluster = v.cluster AND l.s = v.s AND l.code = v.code
             AND l.query_id = p.query_id
  WHERE v.refit_gen = 1 AND v.vec_id >= {N_QUERY_VECS}
  UNION ALL
  SELECT p.query_id, v.vec_id, l.pfp, v.refit_gen
  FROM serving v
  JOIN probes p ON p.cluster = v.cluster
  JOIN flut l ON l.s = v.s AND l.code = v.code AND l.query_id = p.query_id
  WHERE v.refit_gen = 0 AND v.vec_id >= {N_QUERY_VECS}
), adc AS (
  SELECT query_id, cand_id, SUM(pfp) AS adc_fp, MAX(refit_gen) AS cand_gen
  FROM pairs GROUP BY 1, 2
)
SELECT query_id, cand_id, adc_fp, cand_gen, rk FROM (
  SELECT query_id, cand_id, CAST(adc_fp AS BIGINT) AS adc_fp,
         CAST(cand_gen AS BIGINT) AS cand_gen,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp ASC, cand_id ASC) AS BIGINT) AS rk
  FROM adc
) WHERE rk <= {TOP_K}
"""


def _forget_serve_sql() -> str:
    """DuckDB replay of the post-erasure ADC search: the frozen-quantizer
    chains of ``_stream_ann_sql`` (history-fit PQ + IVF, frozen
    assignment of both tiers), the serving union MINUS the erased
    predicate, then the per-query probe ranking and fixed-point ADC
    top-k — the clean rebuild-minus-erased the tombstoned store must
    reproduce."""
    HIST = ANN_HISTORY_MAX_VEC_ID
    sql = f"""
WITH vd AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), hsubs AS MATERIALIZED (
  SELECT vec_id, t.s AS s, list_slice(v, t.s * {PQ_SUB_DIM} + 1, t.s * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
  FROM vd, UNNEST(range(0, {N_PQ_SUB})) AS t(s)
  WHERE vec_id < {HIST}
), isubs AS (
  SELECT vec_id, t.s AS s, list_slice(v, t.s * {PQ_SUB_DIM} + 1, t.s * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
  FROM vd, UNNEST(range(0, {N_PQ_SUB})) AS t(s)
  WHERE vec_id >= {HIST}
), cb0 AS (
  SELECT s, vec_id AS code, sub AS cw FROM hsubs WHERE vec_id < {N_PQ_CODES}
)"""
    cbn = "cb0"
    for i in range(PQ_ITERS):
        sql += (
            f", {_sql_pq_assign('hsubs', cbn, f'passign{i}')}\n"
            f", {_sql_pq_update(f'passign{i}', f'cb{i + 1}')}"
        )
        cbn = f"cb{i + 1}"
    sql += f"""
, hvecs AS MATERIALIZED (SELECT vec_id, v FROM vd WHERE vec_id < {HIST})
, ivecs AS (SELECT vec_id, v FROM vd WHERE vec_id >= {HIST})
, icents0 AS (
  SELECT vec_id AS cluster, v AS centroid FROM hvecs WHERE vec_id < {N_IVF_CLUSTERS}
), {_sql_ivf_assign("hvecs", "icents0", "iassign0")}
, {_sql_ivf_update("iassign0", "icents1")}
, {_sql_ivf_assign("hvecs", "icents1", "iassign1")}
, {_sql_ivf_update("iassign1", "icents2")}
, {_sql_ivf_assign("hvecs", "icents2", "hfinal")}
, {_sql_ivf_assign("ivecs", "icents2", "ifinal")}
, {_sql_pq_assign("hsubs", cbn, "hcodes")}
, {_sql_pq_assign("isubs", cbn, "icodes")}
, live AS (
  SELECT vec_id, s, code, cluster FROM (
    SELECT h.vec_id, p.s, p.code, h.cluster
    FROM hcodes p JOIN hfinal h ON h.vec_id = p.vec_id
    UNION ALL
    SELECT f.vec_id, p.s, p.code, f.cluster
    FROM icodes p JOIN ifinal f ON f.vec_id = p.vec_id
  ) WHERE NOT (vec_id % {ANN_FORGET_MOD} = {ANN_FORGET_RESIDUE} AND vec_id >= {N_QUERY_VECS})
), qsubs AS (
  SELECT vec_id, s, sub FROM hsubs WHERE vec_id < {N_QUERY_VECS}
), probes AS (
  SELECT vec_id AS query_id, cluster FROM (
    SELECT e.vec_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_DIST} ASC, c.cluster ASC) AS prk
    FROM (SELECT vec_id, v FROM vd WHERE vec_id < {N_QUERY_VECS}) e CROSS JOIN icents2 c
  ) WHERE prk <= {N_PROBE}
), flut AS (
  SELECT a.vec_id AS query_id, a.s, c.code,
         CAST(FLOOR({_PQ_DIST} * {float(_ADC_SCALE)}) AS BIGINT) AS pfp
  FROM qsubs a JOIN {cbn} c ON a.s = c.s
), adc AS (
  SELECT p.query_id, v.vec_id AS cand_id, SUM(l.pfp) AS adc_fp
  FROM live v
  JOIN probes p ON p.cluster = v.cluster
  JOIN flut l ON l.s = v.s AND l.code = v.code AND l.query_id = p.query_id
  WHERE v.vec_id >= {N_QUERY_VECS}
  GROUP BY 1, 2
)
SELECT query_id, cand_id, adc_fp, cand_gen, rk FROM (
  SELECT query_id, cand_id, CAST(adc_fp AS BIGINT) AS adc_fp,
         CAST(0 AS BIGINT) AS cand_gen,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_fp ASC, cand_id ASC) AS BIGINT) AS rk
  FROM adc
) WHERE rk <= {TOP_K}
"""
    return sql


def _refit_sql() -> str:
    """DuckDB replay of the post-swap serving state: BOTH quantizer
    chains fit on the FULL corpus (the exact batch-build arithmetic —
    seeds vec_id < k, the same fixed-point updates), every vector coded
    under generation 1."""
    sql = f"""
WITH vd AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), subs AS MATERIALIZED (
  SELECT vec_id, t.s AS s, list_slice(v, t.s * {PQ_SUB_DIM} + 1, t.s * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
  FROM vd, UNNEST(range(0, {N_PQ_SUB})) AS t(s)
), cb0 AS (
  SELECT s, vec_id AS code, sub AS cw FROM subs WHERE vec_id < {N_PQ_CODES}
)"""
    cbn = "cb0"
    for i in range(PQ_ITERS):
        sql += f", {_sql_pq_assign('subs', cbn, f'passign{i}')}\n, {_sql_pq_update(f'passign{i}', f'cb{i + 1}')}"
        cbn = f"cb{i + 1}"
    sql += f"""
, icents0 AS (
  SELECT vec_id AS cluster, v AS centroid FROM vd WHERE vec_id < {N_IVF_CLUSTERS}
), {_sql_ivf_assign("vd", "icents0", "iassign0")}
, {_sql_ivf_update("iassign0", "icents1")}
, {_sql_ivf_assign("vd", "icents1", "iassign1")}
, {_sql_ivf_update("iassign1", "icents2")}
, {_sql_ivf_assign("vd", "icents2", "vfinal")}
, {_sql_pq_assign("subs", cbn, "vcodes")}
SELECT p.vec_id, CAST(p.s AS BIGINT) AS s, CAST(p.code AS BIGINT) AS code,
       CAST(f.cluster AS BIGINT) AS cluster,
       CAST(1 AS BIGINT) AS generation
FROM vcodes p JOIN vfinal f ON f.vec_id = p.vec_id
"""
    return sql


QUERIES = {
    "stream_ann_index_append": stream_ann_index_append,
    "stream_ann_index_refit": stream_ann_index_refit,
    "stream_ann_index_partial_refit": stream_ann_index_partial_refit,
    "stream_ann_partial_refit_serve": stream_ann_partial_refit_serve,
    "stream_ann_forget_serve": stream_ann_forget_serve,
}
ORACLE = {
    "stream_ann_index_append": _stream_ann_sql(),
    "stream_ann_index_refit": _refit_sql(),
    "stream_ann_index_partial_refit": _partial_refit_sql(),
    "stream_ann_partial_refit_serve": _partial_refit_serve_sql(),
    "stream_ann_forget_serve": _forget_serve_sql(),
}
