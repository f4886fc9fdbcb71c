"""Pins for streaming BM25 index maintenance (streaming/bm25_maintain.py):
stream == from-scratch closed form, replay safety (counters exactly-once,
postings dedup-at-read), kill-and-restart, and bucket-pruned serving."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_change_data_capture_streaming_spark.llm_ops.text import text_bm25_topk
from realtime_change_data_capture_streaming_spark.session import scratch_dir
from realtime_change_data_capture_streaming_spark.sources.tables import load_table
from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
    _ingest_batch,
    _read_erased,
    _serve_topk,
    _stats,
    stream_bm25_index_maintain,
)
from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import stage_ordered_batches


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_maintained_index_equals_from_scratch_build(spark, sf_dir):
    """The whole correctness story: BM25's inputs are associative over
    immutable docs, so the streamed-in index must serve the EXACT
    ranking of a from-scratch build over the same corpus."""
    got = _rows(stream_bm25_index_maintain(spark, sf_dir))
    want = _rows(text_bm25_topk(spark, sf_dir))
    assert got == want
    assert len(got) > 0


def test_ingest_replay_is_exactly_once_for_counters(spark, sf_dir, tmp_path):
    """A fully-applied replayed batch skips on the manifest bid: the
    corpus counters must not double-fold, and the serving output must
    not change (re-appended postings would be deduped anyway, but the
    skip means they are not even written twice)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    pdir, sstore = str(tmp_path / "postings"), str(tmp_path / "stats")
    _ingest_batch(pdir, sstore, d, 0)
    bid0, n0, s0 = _stats(sstore)
    assert (bid0, n0) == (0, 50)
    served = _rows(_serve_topk(spark, pdir, sstore))
    _ingest_batch(pdir, sstore, d, 0)  # re-delivery
    assert _stats(sstore) == (bid0, n0, s0)
    assert _rows(_serve_topk(spark, pdir, sstore)) == served


def test_half_applied_replay_dedups_at_read(spark, sf_dir, tmp_path):
    """Crash between the postings append and the stats commit: the
    replayed batch re-appends the same rows, then commits counters once.
    Serving must dedup the doubled postings — scores identical to the
    clean run, df not inflated."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    clean_p, clean_s = str(tmp_path / "cp"), str(tmp_path / "cs")
    _ingest_batch(clean_p, clean_s, d, 0)
    want = _rows(_serve_topk(spark, clean_p, clean_s))

    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        _batch_postings,
        _postings_store,
    )

    pdir, sstore = str(tmp_path / "postings"), str(tmp_path / "stats")
    postings, _lens = _batch_postings(d)
    # the half-applied prefix: append landed IN THE LIVE DIR, counters
    # did not — the replay then appends the same rows a second time
    postings.write.mode("append").partitionBy("bucket").parquet(
        _postings_store(pdir).live_dir()
    )
    _ingest_batch(pdir, sstore, d, 0)  # the replay (full batch)
    assert _stats(sstore)[1] == 50, "counters folded exactly once"
    # non-vacuous: the log really holds every posting twice
    live = _postings_store(pdir).live_dir()
    raw = spark.read.parquet(live)
    assert raw.count() == 2 * raw.dropDuplicates(["doc_id", "term"]).count()
    assert _rows(_serve_topk(spark, pdir, sstore)) == want


def test_serving_zero_committed_docs_is_empty_not_an_error(spark, sf_dir, tmp_path):
    """ADVICE r13 (low): in the half-applied crash window the postings
    bucket dirs EXIST but the stats commit never landed (n_docs == 0) —
    serving must return the empty frame, not raise ZeroDivisionError
    computing avgdl."""
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        _batch_postings,
        _postings_store,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    pdir, sstore = str(tmp_path / "postings"), str(tmp_path / "stats")
    postings, _lens = _batch_postings(d)
    # the half-applied prefix only: append landed, counters did not
    postings.write.mode("append").partitionBy("bucket").parquet(
        _postings_store(pdir).live_dir()
    )
    assert _stats(sstore) == (-1, 0, 0)
    out = _serve_topk(spark, pdir, sstore)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "n_terms_hit", "bm25", "rk"]


def test_restart_from_checkpoint_replays_batch(spark, sf_dir):
    """Kill-and-restart: the driver dies after batch 0 processed but
    before its checkpoint commit; the restarted run (fresh closures)
    replays it and must converge to the crash-free ranking."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    frames = [
        d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0),
        d.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
    ]
    want = _rows(text_bm25_topk(spark, sf_dir))

    work = scratch_dir(prefix="rs_bm25_")
    in_dir = stage_ordered_batches(frames, f"{work}/staged")
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import _serve_topk

    def run(crash=None):
        postings_dir, stats_store = f"{work}/postings", f"{work}/stats"
        from realtime_change_data_capture_streaming_spark.streaming._drive import drive_staged_stream
        from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import _ingest_batch

        def gate(batch, bid):
            _ingest_batch(postings_dir, stats_store, batch, bid)
            if crash is not None and bid >= crash:
                raise RuntimeError(f"injected crash after batch {bid}")

        drive_staged_stream(spark, in_dir, "doc_id bigint, text string", gate, f"{work}/ckpt")
        return postings_dir, stats_store

    with pytest.raises(Exception, match="injected crash|Query .* terminated"):
        run(crash=0)
    pdir, sstore = run()
    assert _rows(_serve_topk(spark, pdir, sstore)) == want


def test_serving_scan_is_bucket_pruned(spark, sf_dir, tmp_path):
    """The inverted-index seek: the serving read must plan ONLY the
    query terms' md5 buckets (path-level pruning), never the whole
    postings dir."""
    from realtime_change_data_capture_streaming_spark.llm_ops.text import _BM25_QUERY, _term_bucket_py

    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import _postings_store

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdir, sstore = str(tmp_path / "postings"), str(tmp_path / "stats")
    _ingest_batch(pdir, sstore, d, 0)
    want = {f"bucket={_term_bucket_py(t)}" for t in _BM25_QUERY}
    live = _postings_store(pdir).live_dir()
    buckets = sorted({_term_bucket_py(t) for t in _BM25_QUERY})
    rows = spark.read.option("basePath", live).parquet(
        *[f"{live}/bucket={b}" for b in buckets]
    )
    files = rows.inputFiles()
    assert files and all(any(w in f for w in want) for f in files), files[:3]


def test_ingest_loop_auto_compacts_and_ranking_is_unchanged(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r13 task 4: the ingest loop must trigger segment merging
    itself — N small batches past the manifest-tracked cadence
    auto-compact (postings manifest rotates, log file count drops to the
    deduped layout) and the served ranking is identical to an
    untriggered run over the same corpus."""
    import realtime_change_data_capture_streaming_spark.streaming.bm25_maintain as bm

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    batches = [d.filter(F.pmod(F.col("doc_id"), F.lit(6)) == i) for i in range(6)]

    # reference run: triggering disabled (cadence out of reach)
    monkeypatch.setattr(bm, "AUTO_COMPACT_BATCHES", 10_000)
    p0, s0 = str(tmp_path / "p0"), str(tmp_path / "s0")
    for i, b in enumerate(batches):
        bm._ingest_batch(p0, s0, b, i)
    want = _rows(_serve_topk(spark, p0, s0))
    store0 = bm._postings_store(p0)
    assert store0._manifest()["seq"] == 0, "untriggered run must never rotate"

    # triggered run: compaction every 3 applied batches
    monkeypatch.setattr(bm, "AUTO_COMPACT_BATCHES", 3)
    p1, s1 = str(tmp_path / "p1"), str(tmp_path / "s1")
    for i, b in enumerate(batches):
        bm._ingest_batch(p1, s1, b, i)
    store1 = bm._postings_store(p1)
    m1 = store1._manifest()
    assert m1["seq"] >= 2, "cadence 3 over 6 batches must rotate twice"
    assert m1["applied_bid"] == 5, "compaction must record the frontier it folded"
    # the live log is the deduped (doc, term) layout, not a 6-batch append pile
    raw = spark.read.parquet(store1.live_dir())
    assert raw.count() == raw.dropDuplicates(["doc_id", "term"]).count()
    assert _rows(_serve_topk(spark, p1, s1)) == want


def test_random_splits_and_cadences_serve_identically(spark, sf_dir, tmp_path, monkeypatch):
    """Property: for RANDOM doc->batch assignments and RANDOM
    auto-compaction cadences (including every-batch and never), the
    maintained index serves the exact ranking of a clean one-shot
    ingest — batching and housekeeping are jointly invisible."""
    import random

    import realtime_change_data_capture_streaming_spark.streaming.bm25_maintain as bm

    rng = random.Random(1404)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    ref_p, ref_s = str(tmp_path / "refp"), str(tmp_path / "refs")
    monkeypatch.setattr(bm, "AUTO_COMPACT_BATCHES", 10_000)
    bm._ingest_batch(ref_p, ref_s, d, 0)
    want = _rows(_serve_topk(spark, ref_p, ref_s))
    assert want, "reference serve is empty — fixture too small"

    for trial in range(3):
        n_batches = rng.choice([3, 4, 5])
        salt = rng.randrange(1 << 30)
        cadence = rng.choice([1, 2, 10_000])
        monkeypatch.setattr(bm, "AUTO_COMPACT_BATCHES", cadence)
        p, s = str(tmp_path / f"p{trial}"), str(tmp_path / f"s{trial}")
        split = F.pmod(F.crc32(F.concat(F.col("doc_id").cast("string"), F.lit(str(salt)))), F.lit(n_batches))
        for i in range(n_batches):
            bm._ingest_batch(p, s, d.filter(split == i), i)
        got = _rows(_serve_topk(spark, p, s))
        assert got == want, (trial, n_batches, cadence, salt)


def test_forget_serving_matches_clean_rebuild_minus_erased(spark, sf_dir):
    """The erasure contract end-to-end (VERDICT r14 task 1): after the
    delete batch flows through the maintenance loop, serving must equal
    the from-scratch build over the SURVIVING corpus — and must DIFFER
    from the full-corpus ranking (non-vacuous: the erased third
    actually moved n_docs/avgdl/df or removed ranked docs)."""
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        FORGET_MOD,
        _ingest_batch,
        stream_bm25_forget,
    )

    got = _rows(stream_bm25_forget(spark, sf_dir))
    # clean rebuild over the surviving corpus via the non-CDC loop
    work = scratch_dir(prefix="bm25forget_ref_")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    survivors = d.filter(F.pmod(F.col("doc_id"), F.lit(FORGET_MOD)) != 0)
    _ingest_batch(f"{work}/p", f"{work}/s", survivors, 0)
    want = _rows(_serve_topk(spark, f"{work}/p", f"{work}/s"))
    assert got == want
    assert got != _rows(text_bm25_topk(spark, sf_dir)), "erasure did not move the ranking"
    assert all(r[0] % FORGET_MOD != 0 for r in got), "an erased doc is still serving"


def test_erasure_replay_is_exactly_once_for_correction(spark, sf_dir, tmp_path):
    """A replayed erasure batch must not double-decrement the correction
    counters (set + counters flip in ONE manifest), and a double-delete
    of already-erased ids must be a no-op."""
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        _apply_erasures,
        _erased_state,
        _ingest_batch_cdc,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    p, s, dl, er = (str(tmp_path / x) for x in ("p", "s", "dl", "er"))
    _ingest_batch_cdc(p, s, dl, er, d.withColumn("op", F.lit("c")), 0)
    dels = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select("doc_id")
    _apply_erasures(spark, dl, er, dels, 1)
    bid1, n1, dl1 = _erased_state(er)
    assert bid1 == 1 and n1 > 0 and dl1 > 0
    served = _rows(_serve_topk(spark, p, s, er))
    _apply_erasures(spark, dl, er, dels, 1)  # fully-applied replay: bid guard
    assert _erased_state(er) == (bid1, n1, dl1)
    _apply_erasures(spark, dl, er, dels, 2)  # double-delete: anti-join guard
    assert _erased_state(er)[1:] == (n1, dl1)
    assert _rows(_serve_topk(spark, p, s, er)) == served


def test_reinsert_of_erased_id_cannot_inflate_corpus_counters(spark, sf_dir, tmp_path):
    """Erasure is terminal per doc_id: a LATER batch re-inserting an
    erased id must be anti-joined out at ingest (ADVICE r15).  Without
    that, the re-insert folds its (1, dl) into n_docs/sum_dl while
    serving anti-joins the doc out and a repeat delete is anti-joined
    out of the correction — avgdl/idf diverge from the clean
    rebuild-minus-erased forever."""
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        _ingest_batch,
        _ingest_batch_cdc,
        _stats,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    p, s, dl, er = (str(tmp_path / x) for x in ("p", "s", "dl", "er"))
    _ingest_batch_cdc(p, s, dl, er, d.withColumn("op", F.lit("c")), 0)
    erased_pred = F.pmod(F.col("doc_id"), F.lit(5)) == 0
    dels = d.filter(erased_pred).select(
        "doc_id", F.lit(None).cast("string").alias("text"), F.lit("d").alias("op")
    )
    _ingest_batch_cdc(p, s, dl, er, dels, 1)
    n1, s1 = _stats(s)[1:]
    # batch 2: the erased docs come back as inserts — must not re-enter
    _ingest_batch_cdc(p, s, dl, er, d.filter(erased_pred).withColumn("op", F.lit("c")), 2)
    assert _stats(s)[1:] == (n1, s1), "re-insert of erased ids folded into the counters"
    ref_p, ref_s = str(tmp_path / "rp"), str(tmp_path / "rs")
    _ingest_batch(ref_p, ref_s, d.filter(~erased_pred), 0)
    assert _rows(_serve_topk(spark, p, s, er)) == _rows(_serve_topk(spark, ref_p, ref_s))


def test_forget_crash_between_sides_replays_only_unapplied_side(spark, sf_dir, tmp_path):
    """The two frontiers are separate: a batch whose INSERT side folded
    but whose erasure commit crashed replays only the erasure; the
    counters do not double-fold and serving converges to
    clean-minus-erased."""
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        _apply_erasures,
        _ingest_batch,
        _ingest_batch_cdc,
        _stats,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    p, s, dl, er = (str(tmp_path / x) for x in ("p", "s", "dl", "er"))
    _ingest_batch_cdc(p, s, dl, er, d.withColumn("op", F.lit("c")), 0)
    n_after_ins = _stats(s)[1]
    # mixed batch: 10 fresh docs + deletes; simulate the crash window by
    # applying ONLY the insert side (stats frontier advances to bid 1)
    mixed_ins = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") >= 60)
        .limit(10)
        .withColumn("op", F.lit("c"))
    )
    dels = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0).select(
        "doc_id", F.lit(None).cast("string").alias("text"), F.lit("d").alias("op")
    )
    _ingest_batch_cdc(p, s, dl, er, mixed_ins, 1)  # insert side lands, erasure never arrives
    assert _stats(s)[0] == 1
    # the REPLAY delivers the full mixed batch: insert side must skip
    # (stats applied_bid already 1), erasure side must apply
    _ingest_batch_cdc(p, s, dl, er, mixed_ins.unionByName(dels), 1)
    assert _stats(s)[1] == n_after_ins + 10, "insert side double-folded on replay"
    # reference: clean ingest of the surviving corpus
    ref_p, ref_s = str(tmp_path / "rp"), str(tmp_path / "rs")
    survivors = d.unionByName(mixed_ins.select("doc_id", "text")).filter(
        (F.pmod(F.col("doc_id"), F.lit(4)) != 0) | (F.col("doc_id") >= 60)
    )
    _ingest_batch(ref_p, ref_s, survivors, 0)
    assert _rows(_serve_topk(spark, p, s, er)) == _rows(_serve_topk(spark, ref_p, ref_s))


def test_compaction_physically_drops_erased_docs(spark, sf_dir, tmp_path):
    """After erasure, compaction's rewrite must leave ZERO rows of the
    erased docs in the live postings version (and the ledger compact
    drops their length rows), with serving unchanged — bytes shrink to
    the surviving corpus."""
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        _apply_erasures,
        _doclens_store,
        _ingest_batch_cdc,
        _postings_store,
        compact_bm25_doclens,
        compact_bm25_postings,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    p, s, dl, er = (str(tmp_path / x) for x in ("p", "s", "dl", "er"))
    _ingest_batch_cdc(p, s, dl, er, d.withColumn("op", F.lit("c")), 0)
    dels = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select("doc_id")
    _apply_erasures(spark, dl, er, dels, 1)
    want = _rows(_serve_topk(spark, p, s, er))
    erased_ids = {int(r["doc_id"]) for r in dels.collect()}
    assert spark.read.parquet(_postings_store(p).live_dir()).filter(
        F.col("doc_id").isin(list(erased_ids))
    ).count() > 0, "fixture vacuous: erased docs left no postings"

    compact_bm25_postings(spark, p, erased_root=er)
    compact_bm25_doclens(spark, dl, er)
    assert spark.read.parquet(_postings_store(p).live_dir()).filter(
        F.col("doc_id").isin(list(erased_ids))
    ).count() == 0
    assert spark.read.parquet(_doclens_store(dl).live_dir()).filter(
        F.col("doc_id").isin(list(erased_ids))
    ).count() == 0
    assert _rows(_serve_topk(spark, p, s, er)) == want


def test_random_splits_cadences_and_erasures_serve_identically(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r14 task 6 — deletion-aware maintenance invariance: for
    RANDOM doc->batch assignments, RANDOM compaction cadences, and
    RANDOM erasure interleavings (erasure batches interleaved between
    insert batches, erasing only already-inserted docs — the CDC
    ordering contract), the maintained index serves exactly the clean
    rebuild over the surviving corpus under every cadence."""
    import random

    import realtime_change_data_capture_streaming_spark.streaming.bm25_maintain as bm

    rng = random.Random(1515)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(60)
    ids = sorted(int(r["doc_id"]) for r in d.select("doc_id").collect())

    for trial in range(3):
        n_batches = rng.choice([3, 4])
        assign = {i: rng.randrange(n_batches) for i in ids}
        # erase ~a quarter of the docs, each in a random batch AT or
        # AFTER its insert batch (deletes follow inserts in the log)
        erase_at = {
            i: rng.randint(assign[i], n_batches - 1)
            for i in ids
            if rng.random() < 0.25
        }
        cadence = rng.choice([1, 2, 10_000])
        monkeypatch.setattr(bm, "AUTO_COMPACT_BATCHES", cadence)
        p, s, dl, er = (str(tmp_path / f"{x}{trial}") for x in ("p", "s", "dl", "er"))
        for b in range(n_batches):
            ins_ids = [i for i in ids if assign[i] == b]
            del_ids = [i for i in ids if erase_at.get(i) == b]
            batch = d.filter(F.col("doc_id").isin(ins_ids)).withColumn(
                "op", F.lit("c")
            ).unionByName(
                d.filter(F.col("doc_id").isin(del_ids or [-1])).select(
                    "doc_id",
                    F.lit(None).cast("string").alias("text"),
                    F.lit("d").alias("op"),
                )
            )
            bm._ingest_batch_cdc(p, s, dl, er, batch, b)
        got = _rows(_serve_topk(spark, p, s, er))
        # clean rebuild over the survivors
        ref_p, ref_s = str(tmp_path / f"refp{trial}"), str(tmp_path / f"refs{trial}")
        monkeypatch.setattr(bm, "AUTO_COMPACT_BATCHES", 10_000)
        survivors = d.filter(~F.col("doc_id").isin(list(erase_at) or [-1]))
        bm._ingest_batch(ref_p, ref_s, survivors, 0)
        want = _rows(_serve_topk(spark, ref_p, ref_s))
        assert got == want, (trial, n_batches, cadence, len(erase_at))
        assert want, "trial vacuous: surviving corpus served nothing"


def test_compaction_dedups_and_swaps_atomically(spark, sf_dir, tmp_path):
    """Segment-merge housekeeping: after a half-applied replay doubled
    the append-log, compaction must (a) rewrite the live version to
    (doc, term)-grain with no duplicate rows left on disk, (b) leave
    the serving output unchanged, and (c) swap behind the manifest flip
    so a reader holding the pre-compaction version keeps working."""
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        _batch_postings,
        _postings_store,
        compact_bm25_postings,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    pdir, sstore = str(tmp_path / "postings"), str(tmp_path / "stats")
    postings, _lens = _batch_postings(d)
    store = _postings_store(pdir)
    # half-applied prefix + full replay: the log holds every row twice
    postings.write.mode("append").partitionBy("bucket").parquet(store.live_dir())
    _ingest_batch(pdir, sstore, d, 0)
    live0 = store.live_dir()
    raw0 = spark.read.parquet(live0)
    n_log = raw0.count()
    n_unique = raw0.dropDuplicates(["doc_id", "term"]).count()
    assert n_log == 2 * n_unique, (n_log, n_unique)
    want = _rows(_serve_topk(spark, pdir, sstore))
    reader_on_old = spark.read.parquet(live0)

    compact_bm25_postings(spark, pdir)
    live1 = store.live_dir()
    assert live1 != live0, "compaction must publish a NEW version"
    assert spark.read.parquet(live1).count() == n_unique
    assert _rows(_serve_topk(spark, pdir, sstore)) == want
    # grace window: the pre-compaction reader still collects its snapshot
    assert reader_on_old.count() == n_log


def test_hybrid_forget_excludes_erased_on_both_legs(spark, sf_dir):
    """The r15 erasure capstone: after CDC deletes flow through BOTH
    maintenance loops, no erased id reaches the fused hybrid top-k
    through EITHER leg, and the ranking differs from the no-erasure
    fusion (non-vacuous).  Value-exactness vs the clean
    rebuild-minus-erased is the parity mirror's job
    (stream_hybrid_forget_topk's oracle)."""
    from realtime_change_data_capture_streaming_spark.streaming.hybrid_serve import (
        HYBRID_FORGET_MOD,
        HYBRID_FORGET_RESIDUE,
        stream_hybrid_forget_topk,
        stream_hybrid_maintained_topk,
    )

    got = _rows(stream_hybrid_forget_topk(spark, sf_dir))
    assert got, "hybrid forget served nothing"
    assert all(r[0] % HYBRID_FORGET_MOD != HYBRID_FORGET_RESIDUE for r in got), (
        "an erased id reached the fused top-k"
    )
    assert got != _rows(stream_hybrid_maintained_topk(spark, sf_dir)), (
        "erasure did not move the fused ranking"
    )


def test_forget_restart_from_checkpoint_replays_erase_batch(spark, sf_dir):
    """Kill-and-restart through the ERASURE batch: the driver dies after
    the delete batch applied but before its checkpoint commit; the
    restarted run (fresh closures) replays it — the erased-set flip
    skips on its bid guard, counters stay exactly-once, and serving
    converges to clean-minus-erased."""
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        FORGET_MOD,
        _erased_state,
        _ingest_batch,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ins = d.withColumn("op", F.lit("c"))
    dels = d.filter(F.pmod(F.col("doc_id"), F.lit(FORGET_MOD)) == 0).select(
        "doc_id", F.lit(None).cast("string").alias("text"), F.lit("d").alias("op")
    )
    frames = [
        ins.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0),
        ins.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
        dels,
    ]
    # stage ONCE: a restart resumes the SAME staged input from the
    # checkpoint (the Kafka contract — a failed batch replays under its
    # own bid); re-staging would look like a brand-new source
    work = scratch_dir(prefix="rs_forget_")
    in_dir = stage_ordered_batches(frames, f"{work}/staged")
    paths = {
        "postings": f"{work}/postings",
        "stats": f"{work}/stats",
        "doclens": f"{work}/doclens",
        "erased": f"{work}/erased",
    }
    from realtime_change_data_capture_streaming_spark.streaming._drive import drive_staged_stream
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import _ingest_batch_cdc

    def run(crash=None):
        def gate(batch, bid):
            _ingest_batch_cdc(
                paths["postings"], paths["stats"], paths["doclens"], paths["erased"], batch, bid
            )
            if crash is not None and bid >= crash:
                raise RuntimeError(f"injected crash after batch {bid}")

        drive_staged_stream(
            spark, in_dir, "doc_id bigint, text string, op string", gate, f"{work}/ckpt"
        )

    with pytest.raises(Exception, match="injected crash|Query .* terminated"):
        run(crash=2)
    state_after_crash = _erased_state(paths["erased"])
    assert state_after_crash[0] == 2 and state_after_crash[1] > 0, (
        "crash injected AFTER the erase applied — precondition broken"
    )
    run()  # the restart
    assert _erased_state(paths["erased"]) == state_after_crash, (
        "replayed erase batch double-applied"
    )
    ref = scratch_dir(prefix="rs_forget_ref_")
    _ingest_batch(
        f"{ref}/p", f"{ref}/s", d.filter(F.pmod(F.col("doc_id"), F.lit(FORGET_MOD)) != 0), 0
    )
    got = _rows(_serve_topk(spark, paths["postings"], paths["stats"], paths["erased"]))
    assert got == _rows(_serve_topk(spark, f"{ref}/p", f"{ref}/s"))


def test_erasure_rewrites_only_touched_buckets(spark, tmp_path):
    """I/O pin (VERDICT r16 item 3): the erased-set store is bucket-mapped
    on doc_id % N_DOC_BUCKETS — an erasure batch publishes ONLY its ids'
    buckets as a new version, every other bucket keeps serving from the
    version dir that already holds it, and set+counters still flip in the
    same manifest write."""
    from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
    from realtime_change_data_capture_streaming_spark.streaming.bm25_maintain import (
        N_DOC_BUCKETS,
        _apply_erasures,
        _erased_state,
        _ingest_batch_cdc,
        _read_erased,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i + 1} w{i + 2} common words here", "c") for i in range(40)],
        "doc_id bigint, text string, op string",
    )
    p, s, dl, er = (str(tmp_path / x) for x in ("p", "s", "dl", "er"))
    _ingest_batch_cdc(p, s, dl, er, docs, 0)

    def dels(ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")

    # batch 1 erases bucket-0 ids only
    _apply_erasures(spark, dl, er, dels([0, 16]), 1)
    m1 = table_commit.read_manifest(er)
    assert set(m1["buckets"]) == {"0"}
    v1 = m1["buckets"]["0"]
    _b, n1, dl1 = _erased_state(er)
    assert n1 == 2 and dl1 > 0

    # batch 2 erases bucket-1 ids: bucket 0 must KEEP serving from v1
    _apply_erasures(spark, dl, er, dels([1, 17]), 2)
    m2 = table_commit.read_manifest(er)
    assert m2["buckets"]["0"] == v1, "an untouched erased bucket was rewritten"
    assert m2["buckets"]["1"] != v1, "batch 2's bucket did not publish a new version"
    assert _erased_state(er)[1] == 4

    # batch 3 mixes an already-erased id with a new same-bucket id: the
    # double-delete is anti-joined out (counters +1, not +2) and the
    # bucket post-image carries prev + new
    _apply_erasures(spark, dl, er, dels([0, 32]), 3)
    assert _erased_state(er)[1] == 5
    got = sorted(r["doc_id"] for r in _read_erased(spark, er).collect())
    assert got == [0, 1, 16, 17, 32]
    # bucket-pruned read returns exactly bucket 0's ids
    got0 = sorted(r["doc_id"] for r in _read_erased(spark, er, [0]).collect())
    assert got0 == [0, 16, 32]


def test_flat_layout_erased_set_raises(spark, tmp_path):
    """An erased-set manifest from the flat layout (a live version, no
    bucket map) must raise, not read as "nothing erased": its counters
    would still correct the scores while the erased docs came back."""
    root = str(tmp_path / "erased")
    assert _read_erased(spark, root) is None  # never erased anything
    staged, seq = table_commit.begin(root)
    ids = spark.range(3).withColumnRenamed("id", "doc_id").coalesce(1)
    ids.write.mode("overwrite").parquet(staged)
    meta = {"applied_bid": 0, "n_erased": 3, "dl_erased": 30}
    table_commit.commit(root, seq, meta=meta, staged=staged)
    with pytest.raises(ValueError, match="no 'buckets' map"):
        _read_erased(spark, root)
