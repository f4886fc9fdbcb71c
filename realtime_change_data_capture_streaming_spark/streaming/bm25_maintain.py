"""Streaming BM25 index maintenance: continuous ingestion into the
persisted term-bucket inverted index.

The lexical analog of ``streaming/ann_maintain.py`` (VERDICT r11's
"streaming index maintenance" loop, applied to the retrieval tier
``text_bm25_persisted_topk`` serves from): a production corpus ingests
documents continuously, and the inverted index must absorb them without
a rebuild.  BM25's inputs are all ASSOCIATIVE aggregates over immutable
documents — postings rows are (doc, term) grain and append-only, df is a
row count per term, n_docs / sum(dl) are exact integer counters — so the
maintained index can serve scores IDENTICAL to a from-scratch build over
the current corpus.  That is the whole correctness story: the registered
query's oracle is the existing closed-form ``BM25_SQL`` over the full
corpus; the micro-batch split must be invisible.

State layout per micro-batch (foreachBatch):
  1. tokenize the batch (the shared ``tokens()`` recipe, so the oracle's
     regex replays it), derive postings rows (doc_id, dl, term, tf) with
     the md5 term bucket, and APPEND them into the postings dir
     partitioned by bucket — append I/O is batch-linear, never a
     touched-bucket rewrite (a text batch touches most term buckets, so
     the ANN-style rewrite-union would be O(index) per batch);
  2. fold the batch's exact counters (n_docs += batch docs, sum_dl +=
     batch token count) into the stats store's MANIFEST via one
     ``table_commit`` flip — counters are exactly-once (applied-bid
     replay guard), restart-safe (a fresh driver rehydrates them from
     the manifest, nothing lives in closures).

Crash contract: postings append before stats commit.  A replay of a
half-applied batch re-appends the same rows; serving dedups its
query-pruned slice on (doc_id, term) — query-scale cost — and the
counter commit lands once.  A fully-applied replayed batch skips
wholesale on the manifest bid.

Serving (the registered output): route the fixed query's terms to their
md5 buckets driver-side, scan ONLY those postings partitions, df by
aggregation over that slice, n_docs/avgdl from the manifest (no job),
then the identical quantized scoring as ``text_bm25_topk``.

At 100 TB: per batch the work is tokenize + one partitioned append +
one manifest flip; the serving scan reads q/64 of the postings for a
q-bucket query.  The append-log lives in a versioned store's live dir,
so ``compact_bm25_postings`` (segment merging: dedup + rewrite + one
atomic manifest swap, reader grace window) bounds file count and bytes
whenever housekeeping runs — the dedup-at-read contract keeps it
optional for correctness.

ERASURE (VERDICT r14 task 1 — deletes must reach the maintained index,
the retrieval-tier analog of the reference sink's delete semantics,
``/root/reference/transaction_consumer.py:85-102``): a CDC-sourced
corpus sees deletes and right-to-be-forgotten requests, and an erased
document must stop serving WITHOUT a postings rebuild.  The design
keeps every ingest-side counter ADDITIVE and makes erasure an
idempotent set union, so there is no cross-store atomicity to get
wrong:

  - per ingest batch, a tiny per-doc length LEDGER (doc_id, dl) appends
    alongside the postings, partitioned by ``doc_id % N_DOC_BUCKETS`` —
    2 ints per document, the price of later resolving an erased doc's
    length without scanning the whole term-partitioned postings log;
  - an erasure batch (op = 'd') resolves its NEW ids' lengths from the
    bucket-pruned ledger and publishes ONE atomic manifest flip on the
    erased-set store carrying BOTH the updated id set and the
    cumulative (n_erased, dl_erased) correction counters — set and
    counters can never disagree, and the ``applied_bid`` guard makes
    the decrement exactly-once under replay;
  - serving subtracts the correction from the manifest counters
    (n_docs, avgdl shift exactly as a clean rebuild over the surviving
    corpus would) and anti-joins the query-pruned postings slice
    against the erased set, so df, scores, and the ranking all match
    the closed form over ``documents MINUS erased`` — the oracle for
    ``stream_bm25_forget``;
  - compaction physically drops erased docs' postings rows (and their
    ledger rows) during its rewrite; the serve-time anti-join stays
    authoritative, so physical removal remains pure hygiene.

Erasure is TERMINAL per doc_id (the GDPR contract): a later re-insert
of an erased id is anti-joined out at INGEST (so it can never inflate
the corpus counters) and filtered at serve time as defense in depth.
Deletes are assumed to follow their inserts in stream order (the CDC
changelog guarantee).

Reference parity note: the reference repo has no retrieval surface (a
6-file CDC demo); this extends the §2.5 LLM-data-pipeline text tier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
from realtime_change_data_capture_streaming_spark.cdc.bucketed import publish_bucketed_version, read_bucketed
from realtime_change_data_capture_streaming_spark.llm_ops.text import (
    BM25_SQL,
    _bm25_chain_sql,
    _BM25_OUT,
    _BM25_QUERY,
    _BM25_TOP,
    _bm25_fp_columns,
    _term_bucket_col,
    _term_bucket_py,
    with_tokens,
)
from realtime_change_data_capture_streaming_spark.session import scratch_dir
from realtime_change_data_capture_streaming_spark.sources.tables import load_table
from realtime_change_data_capture_streaming_spark.streaming._drive import drive_staged_stream
from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import stage_ordered_batches


def _batch_postings(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings rows with bucket, per-doc lengths) for one batch —
    tokenized ONCE, both outputs derive from the same frame."""
    lens = with_tokens(batch).select(
        "doc_id", F.size("_toks").alias("dl"), F.col("_toks").alias("_toks")
    )
    postings = (
        lens.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", _term_bucket_col(F.col("term")))
    )
    return postings, lens.select("doc_id", "dl")


def _fold_stats(stats_store: str, n_docs: int, sum_dl: int, bid: int) -> None:
    """Exactly-once counter fold: one manifest flip carrying the new
    totals and the applied batch id.  The version dir is empty — the
    manifest IS the state (single-row corpus counters)."""
    m = table_commit.read_manifest(stats_store)
    staged, seq = table_commit.begin(stats_store)
    table_commit.commit(
        stats_store,
        seq,
        meta={
            "applied_bid": bid,
            "n_docs": (m.get("n_docs", 0) if m else 0) + n_docs,
            "sum_dl": (m.get("sum_dl", 0) if m else 0) + sum_dl,
        },
        expect_prev=m["seq"] if m else None,
        staged=staged,
    )


def _stats(stats_store: str) -> tuple[int, int, int]:
    """(applied_bid, n_docs, sum_dl) from the manifest — a driver-side
    JSON read, no Spark job."""
    m = table_commit.read_manifest(stats_store)
    if m is None:
        return -1, 0, 0
    return m.get("applied_bid", -1), m.get("n_docs", 0), m.get("sum_dl", 0)


def _postings_store(postings_root: str):
    """The postings append-log lives INSIDE a versioned store's live dir
    (the ``_PendingStore`` delta-log pattern): per-batch appends land in
    the live version, and ``compact_bm25_postings`` rotates a deduped
    rewrite in behind the atomic manifest flip — Lucene-style segment
    merging with a reader grace window, instead of an uncompactable flat
    dir."""
    from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import _PendingStore

    return _PendingStore(postings_root)


#: doc-length ledger partitions: the erasure path prunes its dl lookup to
#: the erased ids' ``doc_id % N_DOC_BUCKETS`` dirs, so resolving an
#: erasure batch reads ~batch/16 of a 2-int-per-doc table, never the
#: term-partitioned postings log.
N_DOC_BUCKETS = 16


def _doclens_store(doclens_root: str):
    """Per-doc length ledger (doc_id, dl, dbucket): an append-log in a
    versioned store's live dir, same pattern as the postings.  Replay
    re-appends dedup at read on doc_id (pruned-slice scale)."""
    from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import _PendingStore

    return _PendingStore(doclens_root)


def _erased_state(erased_root: str) -> tuple[int, int, int]:
    """(applied_bid, n_erased, dl_erased) from the erased-set store's
    manifest — a driver-side JSON read, no Spark job."""
    m = table_commit.read_manifest(erased_root)
    if m is None:
        return -1, 0, 0
    return m.get("applied_bid", -1), m.get("n_erased", 0), m.get("dl_erased", 0)


#: Broadcast the erased set into the ingest/compact/serve anti-joins only
#: while it is small.  Erasure is terminal, so the set grows
#: monotonically — an unconditional broadcast would eventually outgrow
#: driver/executor memory on the hot ingest path (ADVICE r16).  At 8
#: bytes/id + ~4x hash-relation framing, 4M rows is ~128 MB built — safe
#: on any executor sized for this engine; past it the planner picks the
#: join (shuffle anti-join at scale).
ERASED_BROADCAST_MAX_ROWS = 4_000_000


def _read_erased(
    spark: SparkSession, erased_root: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """The committed erased doc_id set (bucket-mapped on
    ``doc_id % N_DOC_BUCKETS``), path-pruned to a bucket subset when
    given; None when nothing was ever erased.  A manifest in the earlier
    flat layout raises: reading it as "nothing erased" while its
    counters still correct the scores would resurface erased documents."""
    m = table_commit.read_manifest(erased_root)
    if m is None or m.get("buckets") == {}:
        return None
    return read_bucketed(spark, erased_root, "ebucket", "doc_id bigint", ids=buckets, m=m)


def _erased_antijoin_side(spark: SparkSession, erased_root: str) -> DataFrame | None:
    """The erased set shaped for an anti-join: broadcast-hinted while the
    manifest's n_erased counter (a driver-side JSON read, no job) says it
    is small, planner-chosen once it has grown past the threshold."""
    erased = _read_erased(spark, erased_root)
    if erased is None:
        return None
    _bid, n_erased, _dl = _erased_state(erased_root)
    return F.broadcast(erased) if n_erased <= ERASED_BROADCAST_MAX_ROWS else erased


def _apply_erasures(spark: SparkSession, doclens_root: str, erased_root: str,
                    del_ids: DataFrame, bid: int) -> None:
    """One erasure batch into the erased-set store: resolve the NEW ids'
    lengths from the bucket-pruned ledger, then publish id set +
    cumulative correction counters in ONE atomic manifest flip.

    Exactly-once by construction: the set and the (n_erased, dl_erased)
    counters live in the same manifest, so they flip together; the
    ``applied_bid`` guard skips fully-applied replays, and a crash
    before the commit publishes nothing (the staged dir is GC'd).
    Already-erased ids are anti-joined out FIRST, so a double-delete
    (or a replay racing the guard) can never double-decrement.

    The set is id-hash-bucketed (the ``buckets`` manifest map the codes
    and shingle stores already use), so a batch rewrites only its
    TOUCHED buckets — O(touched buckets' ids), never O(total erased)
    (VERDICT r16 item 3); the one-flip set+counters atomicity is
    unchanged because the bucket map rides the same manifest write."""
    applied, n_prev, dl_prev = _erased_state(erased_root)
    if applied >= bid:
        return
    ids = del_ids.select("doc_id").distinct().localCheckpoint(eager=True)
    if ids.count() == 0:
        return
    # bounded collect: <= N_DOC_BUCKETS ids — keys the ledger-partition
    # prune, the prev-set bucket prune, AND the bucket publish below
    buckets = sorted(
        int(r["b"])
        for r in ids.select(F.pmod("doc_id", F.lit(N_DOC_BUCKETS)).alias("b"))
        .distinct()
        .collect()
    )
    # bucket-pruned prev read: an id can only collide with prior erasures
    # inside its own bucket, and the publish only rewrites these buckets
    prev = _read_erased(spark, erased_root, buckets)
    new_ids = ids if prev is None else ids.join(prev, "doc_id", "left_anti")
    new_ids = new_ids.localCheckpoint(eager=True)
    live = _doclens_store(doclens_root).live_dir()
    paths = [p for b in buckets if os.path.isdir(p := f"{live}/dbucket={b}")]
    n_new, dl_new = 0, 0
    if paths:
        present = (
            spark.read.option("basePath", live)
            .parquet(*paths)
            .select("doc_id", "dl")
            .dropDuplicates(["doc_id"])
            .join(F.broadcast(new_ids), "doc_id")
        )
        # ONE bounded collect: the batch's two correction counters (1 row)
        row = present.agg(
            F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
        ).collect()[0]
        n_new, dl_new = int(row["n"]), int(row["s"])
    post = new_ids if prev is None else prev.unionByName(new_ids)
    publish_bucketed_version(
        erased_root,
        post.withColumn("ebucket", F.pmod("doc_id", F.lit(N_DOC_BUCKETS))),
        "ebucket",
        buckets,
        {
            "applied_bid": bid,
            "n_erased": n_prev + n_new,
            "dl_erased": dl_prev + dl_new,
        },
    )


#: auto-compaction cadence: once this many batches have appended since the
#: last segment merge, the ingest loop compacts before returning.  The
#: trigger is manifest-tracked and O(1) per batch — the postings manifest's
#: ``applied_bid`` records the batch the log was last compacted THROUGH, and
#: the stats manifest's ``applied_bid`` is the append frontier; their gap is
#: the uncompacted batch count.  Without a wired trigger the append-log's
#: file count grows without bound and the serving scan's listing degrades
#: long before correctness breaks (VERDICT r13 task 4).
AUTO_COMPACT_BATCHES = 8


def _ingest_batch(postings_root: str, stats_store: str, batch: DataFrame, bid: int) -> None:
    """One micro-batch into the maintained index (module-level so tests
    can replay a batch id against real stores)."""
    if _stats(stats_store)[0] >= bid:
        return  # fully-applied batch replayed after a crash
    store = _postings_store(postings_root)
    postings, lens = _batch_postings(batch)
    postings.write.mode("append").partitionBy("bucket").parquet(store.live_dir())
    # ONE bounded collect: the batch's two corpus counters (1 row)
    row = lens.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    if row["n"] == 0:
        return
    _fold_stats(stats_store, int(row["n"]), int(row["s"]), bid)
    # housekeeping rides the ingest loop: ONE store instance serves both
    # the append above and this manifest read (a second _PendingStore
    # lazily re-read — and on first touch re-committed — the manifest for
    # nothing, ADVICE r14); a crash between the stats fold and the
    # compaction only defers the merge to the next batch (compaction never
    # changes serving results — the dedup-at-read contract keeps it pure
    # hygiene)
    compacted_through = store._manifest().get("applied_bid", -1)
    if bid - compacted_through >= AUTO_COMPACT_BATCHES:
        compact_bm25_postings(batch.sparkSession, postings_root, through_bid=bid)


def _ingest_batch_cdc(
    postings_root: str,
    stats_store: str,
    doclens_root: str,
    erased_root: str,
    batch: DataFrame,
    bid: int,
) -> None:
    """One CDC micro-batch — (doc_id, text, op) rows where op='d' marks
    an erasure — into the maintained index.  The insert side follows
    ``_ingest_batch``'s crash contract (appends before the exactly-once
    counter fold) plus the ledger append; the delete side flows through
    ``_apply_erasures``.  Each side carries its OWN replay frontier
    (stats ``applied_bid`` vs erased-set ``applied_bid``), so a crash
    between them replays only the unapplied side — the same
    separate-frontiers lesson as the ANN refit/ingest collision (r14)."""
    spark = batch.sparkSession
    ins = batch.filter(F.col("op").isNull() | (F.col("op") != F.lit("d"))).select(
        "doc_id", "text"
    )
    # erasure is TERMINAL per doc_id: a re-insert of an already-erased id
    # must not re-enter the index.  Without this anti-join the insert
    # would fold its (1, dl) into n_docs/sum_dl while serving anti-joins
    # the doc out and a repeat delete is anti-joined out of the
    # correction — permanently diverging avgdl/idf from the clean
    # rebuild-minus-erased (ADVICE r15).  Driver-side no-op until the
    # first erasure ever commits (manifest resolve returns None).
    erased = _erased_antijoin_side(spark, erased_root)
    if erased is not None:
        ins = ins.join(erased, "doc_id", "left_anti")
    if _stats(stats_store)[0] < bid:
        store = _postings_store(postings_root)
        postings, lens = _batch_postings(ins)
        lens = lens.localCheckpoint(eager=True)  # one tokenize, two appends
        postings.write.mode("append").partitionBy("bucket").parquet(store.live_dir())
        lens.withColumn(
            "dbucket", F.pmod("doc_id", F.lit(N_DOC_BUCKETS))
        ).write.mode("append").partitionBy("dbucket").parquet(
            _doclens_store(doclens_root).live_dir()
        )
        # ONE bounded collect: the batch's two corpus counters (1 row)
        row = lens.agg(
            F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
        ).collect()[0]
        if row["n"] > 0:
            _fold_stats(stats_store, int(row["n"]), int(row["s"]), bid)
            compacted_through = store._manifest().get("applied_bid", -1)
            if bid - compacted_through >= AUTO_COMPACT_BATCHES:
                compact_bm25_postings(
                    spark, postings_root, through_bid=bid, erased_root=erased_root
                )
    _apply_erasures(spark, doclens_root, erased_root, batch.filter(F.col("op") == "d"), bid)


def compact_bm25_postings(
    spark: SparkSession,
    postings_root: str,
    through_bid: int | None = None,
    erased_root: str | None = None,
) -> None:
    """Segment-merge housekeeping: rewrite the live append-log into one
    deduped (doc, term)-grain layout per bucket and swap it in with one
    manifest flip.  Readers holding the previous version keep working
    through GC's grace window; replay-duplicated rows leave the store so
    the serve-time dedup has nothing left to do.  Runs standalone like any
    compaction job, or from the auto-trigger in ``_ingest_batch`` — the
    maintained index never needs it for correctness, only for
    file-count/bytes hygiene.  ``through_bid`` records the append frontier
    this merge folded in (the auto-trigger's cadence anchor).  A
    standalone run without ``through_bid`` leaves the anchor unchanged,
    so the in-loop trigger may later schedule one redundant (idempotent,
    hygiene-only) merge of the already-compacted log — callers that know
    the stats store's ``applied_bid`` should pass it.  With
    ``erased_root``, the rewrite also physically drops erased docs'
    postings rows (the serve-time anti-join stays authoritative, so the
    drop is hygiene — bytes shrink to the live corpus)."""
    store = _postings_store(postings_root)
    rows = spark.read.parquet(store.live_dir()).dropDuplicates(["doc_id", "term"])
    if erased_root is not None:
        erased = _erased_antijoin_side(spark, erased_root)
        if erased is not None:
            rows = rows.join(erased, "doc_id", "left_anti")
    rows = rows.localCheckpoint(eager=True)
    m = store._manifest()
    bid = m.get("applied_bid", -1) if through_bid is None else through_bid
    store.rotate(rows, m.get("max_lsn"), bid, partition_by="bucket")


def compact_bm25_doclens(spark: SparkSession, doclens_root: str, erased_root: str) -> None:
    """Ledger housekeeping: dedup replay re-appends and drop erased
    docs' length rows (dead weight once their erasure committed — the
    correction counters already folded their dl into the manifest, and
    already-erased ids are anti-joined out of every later erasure
    batch, so nothing ever reads them again)."""
    store = _doclens_store(doclens_root)
    rows = spark.read.parquet(store.live_dir()).dropDuplicates(["doc_id"])
    erased = _erased_antijoin_side(spark, erased_root)
    if erased is not None:
        rows = rows.join(erased, "doc_id", "left_anti")
    rows = rows.localCheckpoint(eager=True)
    m = store._manifest()
    store.rotate(rows, m.get("max_lsn"), m.get("applied_bid", -1), partition_by="dbucket")


def _serve_doc_scores(
    spark: SparkSession, postings_root: str, stats_store: str, erased_root: str | None = None
) -> DataFrame:
    """Per-doc quantized BM25 scores (doc_id, s_fp, n_terms_hit) off the
    maintained index: bucket-pruned postings scan of the live version,
    df from the pruned slice, corpus stats from the manifest.  The
    dropDuplicates bounds at-least-once replay's re-appended rows —
    applied to the QUERY-PRUNED slice only, so its cost is query-scale.
    Shared by ``_serve_topk`` and the maintained-index hybrid fusion.

    With ``erased_root``, serving equals the closed form over the
    SURVIVING corpus: the manifest's (n_erased, dl_erased) correction
    shifts n_docs/avgdl, and the pruned slice anti-joins the erased set
    before df aggregation — so idf, saturation, and the ranking all move
    exactly as a clean rebuild minus the erased docs would.  The erased
    side broadcasts: erasures are a vanishing fraction of a 100 TB
    corpus (a deployment where they are not should bloom-prefilter and
    shuffle-join on doc_id instead)."""
    _bid, n_docs, sum_dl = _stats(stats_store)
    erased = None
    if erased_root is not None:
        _ebid, n_erased, dl_erased = _erased_state(erased_root)
        n_docs, sum_dl = n_docs - n_erased, sum_dl - dl_erased
        erased = _erased_antijoin_side(spark, erased_root)
    live = _postings_store(postings_root).live_dir()
    buckets = sorted({_term_bucket_py(t) for t in _BM25_QUERY})
    # a query term whose bucket never received a posting has no dir —
    # semantically an empty postings list, not an error.  n_docs == 0 is
    # the half-applied crash window (postings append landed, stats commit
    # did not) or a fully-erased corpus: no committed surviving documents,
    # so serving is empty — not a ZeroDivisionError computing avgdl
    # (ADVICE r13, low).
    paths = [p for b in buckets if os.path.isdir(p := f"{live}/bucket={b}")]
    if not paths or n_docs <= 0:
        return spark.createDataFrame([], "doc_id bigint, s_fp bigint, n_terms_hit bigint")
    rows = (
        spark.read.option("basePath", live)
        .parquet(*paths)
        .filter(F.col("term").isin(*_BM25_QUERY))
        .select("doc_id", "dl", "term", "tf")
        .dropDuplicates(["doc_id", "term"])
    )
    if erased is not None:
        rows = rows.join(erased, "doc_id", "left_anti")
    dfreq = rows.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    enriched = (
        rows.join(F.broadcast(dfreq), "term")
        .withColumn("n_docs", F.lit(int(n_docs)))
        .withColumn("avgdl", F.lit(float(sum_dl) / float(n_docs)))
    )
    idf_fp, sat_fp = _bm25_fp_columns()
    return (
        enriched.select("doc_id", (idf_fp * sat_fp).alias("c_fp"))
        .groupBy("doc_id")
        .agg(
            F.sum("c_fp").alias("s_fp"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
    )


def _serve_topk(
    spark: SparkSession, postings_root: str, stats_store: str, erased_root: str | None = None
) -> DataFrame:
    """BM25 top-k off the maintained index (see ``_serve_doc_scores``)."""
    from pyspark.sql import Window

    per_doc = _serve_doc_scores(spark, postings_root, stats_store, erased_root)
    w = Window.orderBy(F.desc("s_fp"), F.asc("doc_id"))
    top = per_doc.orderBy(F.desc("s_fp"), F.asc("doc_id")).limit(_BM25_TOP)
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id",
        "n_terms_hit",
        F.round(F.col("s_fp").cast("double") / F.lit(_BM25_OUT), 6).alias("bm25"),
        F.col("rk").cast("bigint").alias("rk"),
    )


def _run_bm25_stream(
    spark: SparkSession, frames, work: str, _crash_after_bid: int | None = None
) -> dict:
    """Drive the ingestion stream (fresh closures — state rehydrates
    from checkpoint + stores); re-invoking with the same ``work`` is the
    restart path.  Returns the store paths."""
    postings_dir = f"{work}/postings"
    stats_store = f"{work}/stats"
    in_dir = stage_ordered_batches(frames, f"{work}/staged")

    def gate(batch: DataFrame, bid: int) -> None:
        _ingest_batch(postings_dir, stats_store, batch, bid)
        if _crash_after_bid is not None and bid >= _crash_after_bid:
            raise RuntimeError(f"injected crash after batch {bid}")

    drive_staged_stream(spark, in_dir, "doc_id bigint, text string", gate, f"{work}/ckpt")
    return {"postings": postings_dir, "stats": stats_store}


def stream_bm25_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full loop across REAL micro-batches: the corpus arrives split
    by doc-id parity (two micro-batches), each batch appends its
    postings and folds its counters, and the final serving read must
    equal the from-scratch closed form (``BM25_SQL``) — the batch split
    is invisible in the ranking."""
    work = scratch_dir(prefix="bm25stream_")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    paths = _run_bm25_stream(
        spark,
        [
            d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0),
            d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
        ],
        work,
    )
    return _serve_topk(spark, paths["postings"], paths["stats"])


#: erasure fixture predicate: documents with doc_id % 3 == 0 are deleted
#: by the third micro-batch (a third of the corpus — enough to move
#: n_docs, avgdl, df, and the ranking, so the oracle compare is sharp).
FORGET_MOD = 3

#: a delete for a doc_id the corpus never contained — must be a clean
#: no-op (recorded in the set, zero correction), not an error.
_ALIEN_DOC_ID = 999_999_999


def _run_bm25_cdc_stream(spark: SparkSession, frames, work: str, _crash_after_bid=None) -> dict:
    """Drive the CDC ingestion stream — (doc_id, text, op) batches where
    op='d' rows erase — against the four maintained stores; re-invoking
    with the same ``work`` is the restart path."""
    paths = {
        "postings": f"{work}/postings",
        "stats": f"{work}/stats",
        "doclens": f"{work}/doclens",
        "erased": f"{work}/erased",
    }
    in_dir = stage_ordered_batches(frames, f"{work}/staged")

    def gate(batch: DataFrame, bid: int) -> None:
        _ingest_batch_cdc(
            paths["postings"], paths["stats"], paths["doclens"], paths["erased"], batch, bid
        )
        if _crash_after_bid is not None and bid >= _crash_after_bid:
            raise RuntimeError(f"injected crash after batch {bid}")

    drive_staged_stream(
        spark, in_dir, "doc_id bigint, text string, op string", gate, f"{work}/ckpt"
    )
    return paths


def stream_bm25_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure through the maintained index (VERDICT r14 task 1): the
    corpus arrives in two insert micro-batches, then a DELETE batch
    (CDC op='d' — the reference consumer's delete semantics,
    ``transaction_consumer.py:85-102``, applied to the retrieval tier)
    erases a third of the documents plus one id the corpus never held.
    The final serving read must equal the from-scratch closed form over
    the SURVIVING corpus — batch split, erasure mechanism, and the
    alien-id no-op all invisible in the ranking."""
    work = scratch_dir(prefix="bm25forget_")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ins = d.withColumn("op", F.lit("c"))
    dels = d.filter(F.pmod(F.col("doc_id"), F.lit(FORGET_MOD)) == 0).select(
        "doc_id", F.lit(None).cast("string").alias("text"), F.lit("d").alias("op")
    )
    alien = spark.createDataFrame(
        [(_ALIEN_DOC_ID, None, "d")], "doc_id bigint, text string, op string"
    )
    paths = _run_bm25_cdc_stream(
        spark,
        [
            ins.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0),
            ins.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
            dels.unionByName(alien),
        ],
        work,
    )
    return _serve_topk(spark, paths["postings"], paths["stats"], paths["erased"])


#: clean rebuild minus the erased docs — the whole erasure correctness
#: story: the maintained index after deletes must hash-match the closed
#: form over the surviving corpus.
BM25_FORGET_SQL = (
    f"WITH live_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % {FORGET_MOD} != 0)"
    + _bm25_chain_sql("live_docs", lead=",")
    + f"""
SELECT doc_id, n_terms_hit,
       ROUND(CAST(s_fp AS DOUBLE) / {_BM25_OUT}, 6) AS bm25,
       CAST(ROW_NUMBER() OVER (ORDER BY s_fp DESC, doc_id ASC) AS BIGINT) AS rk
FROM per_doc
ORDER BY s_fp DESC, doc_id ASC
LIMIT {_BM25_TOP}
"""
)

QUERIES = {
    "stream_bm25_index_maintain": stream_bm25_index_maintain,
    "stream_bm25_forget": stream_bm25_forget,
}
ORACLE = {
    "stream_bm25_index_maintain": BM25_SQL,
    "stream_bm25_forget": BM25_FORGET_SQL,
}
