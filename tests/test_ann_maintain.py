"""Pins for streaming ANN index maintenance (streaming/ann_maintain.py):
replay safety, touched-cluster-only rewrite, order independence, the
plan-visible staleness trigger, and stream == batch-closed-form."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
    _append_codes,
    _read_store,
    _with_staleness,
    ann_index_append_batch,
    stream_ann_index_append,
)

_SCHEMA = "vec_id bigint, s int, code bigint, cluster bigint"


def _codes(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _store_state(spark, store):
    return sorted(tuple(r) for r in _read_store(spark, store).collect())


def test_stream_equals_batch_closed_form(spark, sf_dir):
    b = sorted(tuple(r) for r in ann_index_append_batch(spark, sf_dir).collect())
    s = sorted(tuple(r) for r in stream_ann_index_append(spark, sf_dir).collect())
    assert b == s
    assert len(b) > 0


def test_append_replay_is_idempotent(spark, tmp_path):
    """At-least-once foreachBatch: a re-delivered batch whose commit
    survived must be a no-op (the applied-batch-id guard)."""
    store = str(tmp_path / "store")
    b0 = _codes(spark, [(10, 0, 3, 1), (10, 1, 5, 1), (11, 0, 2, 2)])
    _append_codes(store, b0, 0)
    state = _store_state(spark, store)
    seq = table_commit.read_manifest(store)["seq"]
    _append_codes(store, b0, 0)  # re-delivery
    assert _store_state(spark, store) == state
    assert table_commit.read_manifest(store)["seq"] == seq
    # an older bid after a newer one is also skipped (monotonic guard)
    _append_codes(store, _codes(spark, [(12, 0, 9, 1)]), 1)
    _append_codes(store, b0, 0)
    assert table_commit.read_manifest(store)["applied_bid"] == 1


def test_append_rewrites_only_touched_clusters(spark, tmp_path):
    """Batch 2 touches cluster 2 only: cluster 1's bucket-map entry must
    keep pointing at the batch-1 version dir (untouched files keep
    serving), and the new version dir must hold ONLY cluster 2."""
    store = str(tmp_path / "store")
    _append_codes(store, _codes(spark, [(10, 0, 3, 1), (11, 0, 2, 2)]), 0)
    m0 = table_commit.read_manifest(store)
    v_of_c1 = m0["buckets"]["1"]
    _append_codes(store, _codes(spark, [(12, 0, 7, 2)]), 1)
    m1 = table_commit.read_manifest(store)
    assert m1["buckets"]["1"] == v_of_c1, "untouched cluster was remapped"
    assert m1["buckets"]["2"] == m1["version"]
    new_dirs = [
        e for e in os.listdir(os.path.join(store, m1["version"])) if e.startswith("cluster=")
    ]
    assert new_dirs == ["cluster=2"], new_dirs
    # and the read still sees everything, cluster 2 rows merged
    assert _store_state(spark, store) == [
        (10, 0, 3, 1),
        (11, 0, 2, 2),
        (12, 0, 7, 2),
    ]


def test_append_order_independent(spark, tmp_path):
    """Two batches applied in either order converge to the same state —
    the encode is per-vector against frozen quantizers, so arrival
    order (late batches included) cannot change the final table."""
    b_even = [(10, 0, 3, 1), (12, 0, 7, 2)]
    b_odd = [(11, 0, 2, 2), (13, 0, 4, 1)]
    s1 = str(tmp_path / "s1")
    _append_codes(s1, _codes(spark, b_even), 0)
    _append_codes(s1, _codes(spark, b_odd), 1)
    s2 = str(tmp_path / "s2")
    _append_codes(s2, _codes(spark, b_odd), 0)
    _append_codes(s2, _codes(spark, b_even), 1)
    assert _store_state(spark, s1) == _store_state(spark, s2)


def test_cluster_pruned_store_read(spark, tmp_path):
    """The serving path: a cluster-subset read plans only that cluster's
    directories (path-level pruning, same contract as the sink)."""
    store = str(tmp_path / "store")
    _append_codes(store, _codes(spark, [(10, 0, 3, 1), (11, 0, 2, 2), (12, 0, 7, 3)]), 0)
    df = _read_store(spark, store, clusters=[2])
    assert [tuple(r) for r in df.collect()] == [(11, 0, 2, 2)]
    assert all("cluster=2" in f for f in df.inputFiles()), df.inputFiles()


def test_maintained_index_serves_adc_search_mid_ingestion(spark, sf_dir, tmp_path):
    """The maintained table is SERVABLE between refits: an ADC search
    over (base codes ∪ the APPENDED STORE's read-back) must equal the
    same search over the closed-form frozen-quantizer encoding of the
    full corpus — i.e. the store's write/commit/read path composes with
    the existing serving machinery, not just with the correctness
    check."""
    from realtime_change_data_capture_streaming_spark.llm_ops.similarity import (
        N_QUERY_VECS,
        _adc_lut,
        _adc_search,
        _subvectors,
    )
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        ANN_HISTORY_MAX_VEC_ID,
        _encode,
        _load_frozen,
        _stream_ann_index_dir,
    )

    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    e = load_table(spark, sf_dir, "embeddings")
    incoming = e.filter(F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID)

    # ingest through the real store in two parity batches, then read back
    store = str(tmp_path / "serve_store")
    for bid, par in enumerate((0, 1)):
        batch = incoming.filter(F.pmod(F.col("vec_id"), F.lit(2)) == par)
        _append_codes(store, _encode(batch, cents, cb), bid)
    maintained = base.select("vec_id", "s", "code").unionByName(
        _read_store(spark, store).select("vec_id", "s", "code")
    )
    closed_form = base.select("vec_id", "s", "code").unionByName(
        _encode(incoming, cents, cb).select("vec_id", "s", "code")
    )
    lut = _adc_lut(_subvectors(e.filter(F.col("vec_id") < N_QUERY_VECS)), cb)
    got = sorted(tuple(r) for r in _adc_search(spark, sf_dir, lut, maintained).collect())
    want = sorted(tuple(r) for r in _adc_search(spark, sf_dir, lut, closed_form).collect())
    assert got == want
    assert len({r[0] for r in got}) == N_QUERY_VECS  # every query served


def test_generation_swap_is_atomic_and_grace_windowed(spark, tmp_path):
    """The refit publishes a whole new index generation behind one
    manifest flip: the manifest's generation advances, resolve() moves,
    and the superseded generation stays readable inside the GC grace
    window (a reader holding generation 0 keeps working through the
    swap)."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import _publish_generation

    gen_store = str(tmp_path / "gens")
    cents = spark.createDataFrame([(0, [0.0])], "cluster bigint, centroid array<double>")
    cb = spark.createDataFrame([(0, 0, [0.0])], "s int, code bigint, cw array<double>")
    codes0 = _codes(spark, [(1, 0, 1, 0)])
    _publish_generation(gen_store, cents, cb, codes0, 0)
    v0 = table_commit.resolve(gen_store)
    reader_on_gen0 = spark.read.parquet(os.path.join(v0, "codes"))
    codes1 = _codes(spark, [(1, 0, 2, 0), (2, 0, 3, 0)])
    _publish_generation(gen_store, cents, cb, codes1, 1)
    m = table_commit.read_manifest(gen_store)
    v1 = table_commit.resolve(gen_store)
    assert m["generation"] == 1 and v1 != v0
    assert spark.read.parquet(os.path.join(v1, "codes")).count() == 2
    # grace window: the gen-0 reader still collects its snapshot
    assert reader_on_gen0.count() == 1


def test_refit_trigger_no_trip_branch(spark):
    """When no cluster trips, the serving state must stay on generation
    0 — the branch the registered query's fixture never takes (its
    incoming/history ratio always trips), pinned here directly on the
    trigger arithmetic the branch consumes."""
    base = _codes(spark, [(i, 0, 0, 1) for i in range(10)])
    appended = _codes(spark, [(100, 0, 1, 1)])  # 2*1 > 10 is False
    state = _with_staleness(appended, base)
    assert state.filter(F.col("needs_refit")).limit(1).count() == 0


def test_staleness_trigger_is_integer_and_per_cluster(spark):
    """2 * n_appended > n_base, per cluster: cluster 1 (base 4, appended
    1) stays fresh; cluster 2 (base 1, appended 1) trips; a cluster with
    NO base rows trips on its first append."""
    base = _codes(
        spark,
        [(i, 0, 0, 1) for i in range(4)] + [(100, 0, 0, 2)],
    )
    appended = _codes(spark, [(200, 0, 1, 1), (201, 0, 2, 2), (202, 0, 3, 7)])
    out = {
        r["cluster"]: (r["n_base"], r["n_appended"], r["needs_refit"])
        for r in _with_staleness(appended, base).collect()
    }
    assert out[1] == (4, 1, False)
    assert out[2] == (1, 1, True)
    assert out[7] == (0, 1, True)


def test_partial_refit_rewrites_only_tripped_clusters(spark, tmp_path):
    """The per-cluster generation swap (VERDICT r12 task 7): publishing a
    refit of cluster 2 must leave cluster 1's bucket-map entry (and its
    files) untouched, bump only cluster 2's ``cluster_gen``, and write a
    version dir holding ONLY cluster 2 — the incremental refit's I/O is
    O(tripped clusters), never a full index rebuild."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import _rewrite_refit_clusters

    store = str(tmp_path / "store")
    _append_codes(store, _codes(spark, [(10, 0, 3, 1), (11, 0, 2, 2)]), 0)
    m0 = table_commit.read_manifest(store)
    v_of_c1 = m0["buckets"]["1"]
    refit = _codes(spark, [(11, 0, 7, 2), (12, 0, 1, 2)])  # cluster 2 re-encoded
    _rewrite_refit_clusters(store, refit, [2], bid=1_000)
    m1 = table_commit.read_manifest(store)
    assert m1["buckets"]["1"] == v_of_c1, "untripped cluster was remapped"
    assert m1["buckets"]["2"] == m1["version"]
    assert m1["cluster_gen"] == {"2": 1}
    new_dirs = [
        e for e in os.listdir(os.path.join(store, m1["version"])) if e.startswith("cluster=")
    ]
    assert new_dirs == ["cluster=2"], new_dirs
    # replay of the refit commit is a no-op (at-least-once safety)
    _rewrite_refit_clusters(store, refit, [2], bid=1_000)
    assert table_commit.read_manifest(store)["cluster_gen"] == {"2": 1}
    # the read sees cluster 1 frozen + cluster 2 re-encoded
    assert _store_state(spark, store) == [(10, 0, 3, 1), (11, 0, 7, 2), (12, 0, 1, 2)]


def test_append_loop_auto_compacts_version_chain(spark, tmp_path, monkeypatch):
    """The codes store rides the same r14 housekeeping contract as the
    BM25 postings and the sink: once appends leave the cluster map
    spanning more version dirs than the bound, the append loop collapses
    the chain — state, frontiers, and generations unchanged.  The bound
    is ``commit.py``'s one constant, lowered here."""
    store = str(tmp_path / "store")
    monkeypatch.setattr(table_commit, "MAX_CHAIN_VERSIONS", 3)
    # each batch touches its own cluster -> one new pinned version per append
    for i in range(6):
        _append_codes(store, _codes(spark, [(100 + i, 0, i, i)]), i)
    m = table_commit.read_manifest(store)
    assert len(set(m["buckets"].values())) <= 3, m["buckets"]
    assert m["applied_bid"] == 5, "compaction clobbered the ingest frontier"
    assert _store_state(spark, store) == [(100 + i, 0, i, i) for i in range(6)]

    # without the trigger the same appends pin 6 distinct versions
    store2 = str(tmp_path / "store2")
    monkeypatch.setattr(table_commit, "MAX_CHAIN_VERSIONS", 10_000)
    for i in range(6):
        _append_codes(store2, _codes(spark, [(100 + i, 0, i, i)]), i)
    m2 = table_commit.read_manifest(store2)
    assert len(set(m2["buckets"].values())) == 6
    assert _store_state(spark, store2) == _store_state(spark, store)


def test_ingest_continues_past_a_refit(spark, tmp_path):
    """ADVICE r13 (medium): the refit replay guard must NOT share the
    ingest appends' ``applied_bid`` frontier.  After a refit commit, the
    stream's next micro-batches (bids continuing 0,1,2,...) must still
    apply — and their commits must not drop the refit's ``cluster_gen``
    map or reset its ``refit_bid``."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        _rewrite_refit_clusters,
    )

    store = str(tmp_path / "store")
    _append_codes(store, _codes(spark, [(10, 0, 3, 1), (11, 0, 2, 2)]), 0)
    _rewrite_refit_clusters(store, _codes(spark, [(11, 0, 7, 2)]), [2], bid=0)
    m = table_commit.read_manifest(store)
    assert m["refit_bid"] == 0 and m["cluster_gen"] == {"2": 1}
    assert m["applied_bid"] == 0, "refit moved the ingest frontier"

    # ingestion continues: bid 1 (a NORMAL next batch id) must apply
    _append_codes(store, _codes(spark, [(12, 0, 9, 1)]), 1)
    m2 = table_commit.read_manifest(store)
    assert m2["applied_bid"] == 1, "post-refit ingest batch was silently skipped"
    assert m2["cluster_gen"] == {"2": 1}, "append dropped the refit generations"
    assert m2["refit_bid"] == 0, "append reset the refit frontier"
    assert _store_state(spark, store) == [(10, 0, 3, 1), (11, 0, 7, 2), (12, 0, 9, 1)]
    # a REPLAYED refit (same refit bid) after the append is still a no-op
    _rewrite_refit_clusters(store, _codes(spark, [(11, 0, 5, 2)]), [2], bid=0)
    assert table_commit.read_manifest(store)["cluster_gen"] == {"2": 1}
    # and a SECOND refit round advances its own frontier
    _rewrite_refit_clusters(store, _codes(spark, [(11, 0, 5, 2)]), [2], bid=1)
    m3 = table_commit.read_manifest(store)
    assert m3["refit_bid"] == 1 and m3["cluster_gen"] == {"2": 2}
    assert m3["applied_bid"] == 1


def test_partial_refit_preserves_untripped_codes(spark, sf_dir, tmp_path):
    """Drive ``_partial_refit_state`` with an append that trips SOME
    clusters only: the untripped clusters' output rows must be EXACTLY
    the frozen base codes (refit_gen 0, codes unchanged), and only
    tripped clusters carry refit_gen 1 — the branch the registered
    query's fixture never takes (its ingest volume trips every
    cluster)."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        ANN_HISTORY_MAX_VEC_ID,
        _encode,
        _load_frozen,
        _partial_refit_state,
        _stream_ann_index_dir,
    )
    from realtime_change_data_capture_streaming_spark.operators._util import spread
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table

    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    incoming = spread(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID
    )
    enc = _encode(incoming, cents, cb).localCheckpoint(eager=True)
    # append only ONE cluster's incoming rows — with the fixture's
    # incoming/history ratio that cluster trips and the others cannot
    # (they have no appended rows at all)
    target = enc.groupBy("cluster").count().orderBy(F.desc("count")).first()["cluster"]
    store = str(tmp_path / "store")
    _append_codes(store, enc.filter(F.col("cluster") == target), 0)

    out = _partial_refit_state(spark, sf_dir, store, base)
    tripped = {r["cluster"] for r in out.filter(F.col("refit_gen") == 1).select("cluster").distinct().collect()}
    assert tripped == {target}, tripped
    # untripped clusters: rows identical to the frozen base codes
    frozen = sorted(
        (r["vec_id"], r["s"], r["code"], r["cluster"])
        for r in base.filter(F.col("cluster") != target).collect()
    )
    kept = sorted(
        (r["vec_id"], r["s"], r["code"], r["cluster"])
        for r in out.filter(F.col("refit_gen") == 0).collect()
    )
    assert kept == frozen
    # tripped cluster: full member set (base members + the append) re-encoded
    n_members = base.filter((F.col("cluster") == target) & (F.col("s") == 0)).count() + enc.filter(
        (F.col("cluster") == target) & (F.col("s") == 0)
    ).count()
    assert out.filter((F.col("refit_gen") == 1) & (F.col("s") == 0)).count() == n_members


def test_serve_mid_refit_mixes_codebook_generations(spark, sf_dir, tmp_path):
    """VERDICT r13 task 5: serving never blocks on maintenance.  Over a
    store where exactly ONE cluster tripped (mixed ``cluster_gen``:
    that cluster serves a local re-trained codebook, the rest stay
    frozen), the ADC search must (a) surface candidates from BOTH
    generations when probes span them, and (b) score every untripped
    cluster's candidates IDENTICALLY to a search over the fully-frozen
    (no-refit) state — the refit of one cluster must not perturb any
    other cluster's ranking contribution."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        ANN_HISTORY_MAX_VEC_ID,
        _do_partial_refit,
        _encode,
        _load_frozen,
        _serve_adc_mixed,
        _stream_ann_index_dir,
    )
    from realtime_change_data_capture_streaming_spark.operators._util import spread
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table

    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    incoming = spread(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID
    )
    enc = _encode(incoming, cents, cb).localCheckpoint(eager=True)
    target = enc.groupBy("cluster").count().orderBy(F.desc("count")).first()["cluster"]
    store = str(tmp_path / "store")
    _append_codes(store, enc.filter(F.col("cluster") == target), 0)

    state, tripped, cb_local = _do_partial_refit(spark, sf_dir, store, base)
    assert tripped == [target] and cb_local is not None
    got = _serve_adc_mixed(spark, sf_dir, cents, cb, state, cb_local).collect()
    assert len(got) > 0
    gens = {r["cand_gen"] for r in got}
    assert gens == {0, 1}, f"probes did not span both generations: {gens}"

    # frozen reference: the same corpus state with NO refit applied —
    # base codes plus the frozen-encoded append, everything generation 0
    frozen_state = (
        base.select(
            "vec_id",
            F.col("s").cast("bigint").alias("s"),
            F.col("code").cast("bigint").alias("code"),
            F.col("cluster").cast("bigint").alias("cluster"),
        )
        .unionByName(
            enc.filter(F.col("cluster") == target).select(
                "vec_id",
                F.col("s").cast("bigint").alias("s"),
                F.col("code").cast("bigint").alias("code"),
                F.col("cluster").cast("bigint").alias("cluster"),
            )
        )
        .withColumn("refit_gen", F.lit(0).cast("bigint"))
    )
    frozen = _serve_adc_mixed(spark, sf_dir, cents, cb, frozen_state, None).collect()
    got_untripped = sorted(
        (r["query_id"], r["cand_id"], r["adc_fp"]) for r in got if r["cand_gen"] == 0
    )
    frozen_by_pair = {
        (r["query_id"], r["cand_id"]): r["adc_fp"] for r in frozen
    }
    for qid, cid, fp in got_untripped:
        assert frozen_by_pair.get((qid, cid), fp) == fp, (
            f"untripped candidate ({qid},{cid}) scored differently under the mixed index"
        )


def test_healthy_no_refit_serve_runs_no_distributed_probe(spark, sf_dir, monkeypatch):
    """ADVICE r15: when the caller passes the manifest's refit-cluster
    list (empty: no refit ever committed), a serve with no loadable
    local codebook decides driver-side — the refit_gen consistency
    probe must NOT scan the checkpointed state on every healthy serve."""
    from pyspark.sql import DataFrame

    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        _serve_adc_mixed,
    )

    cents, cb, base, _enc = _frozen_setup(spark, sf_dir)
    frozen_state = base.select(
        "vec_id",
        F.col("s").cast("bigint").alias("s"),
        F.col("code").cast("bigint").alias("code"),
        F.col("cluster").cast("bigint").alias("cluster"),
    ).withColumn("refit_gen", F.lit(0).cast("bigint"))

    def _trip(self):
        raise AssertionError("distributed probe ran on a healthy no-refit serve")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "count", _trip)
        out = _serve_adc_mixed(
            spark, sf_dir, cents, cb, frozen_state, None, refit_clusters=[]
        )
    assert out.count() > 0


def _frozen_setup(spark, sf_dir):
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        ANN_HISTORY_MAX_VEC_ID,
        _encode,
        _load_frozen,
        _stream_ann_index_dir,
    )
    from realtime_change_data_capture_streaming_spark.operators._util import spread
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table

    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    incoming = spread(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID
    )
    enc = _encode(incoming, cents, cb).localCheckpoint(eager=True)
    return cents, cb, base, enc


def test_partial_refit_replay_reloads_committed_codebooks(spark, sf_dir, tmp_path):
    """The crash-replay path: re-running _do_partial_refit with NO new
    ingest progress must not retrain (no new commit) — it reloads the
    committed generation map and the PERSISTED local codebooks, and the
    serve output is byte-identical.  A retrained codebook would not
    match the committed codes: after the rewrite the cluster's member
    multiset looks different, so retraining is not even reproducible."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        _do_partial_refit,
        _serve_adc_mixed,
    )

    cents, cb, base, enc = _frozen_setup(spark, sf_dir)
    target = enc.groupBy("cluster").count().orderBy(F.desc("count")).first()["cluster"]
    store = str(tmp_path / "store")
    _append_codes(store, enc.filter(F.col("cluster") == target), 0)

    state1, ids1, cb1 = _do_partial_refit(spark, sf_dir, store, base)
    seq1 = table_commit.read_manifest(store)["seq"]
    rows1 = sorted(tuple(r) for r in state1.collect())
    cb_rows1 = sorted(
        (r["cluster"], r["s"], r["code"], tuple(r["cw"])) for r in cb1.collect()
    )
    serve1 = sorted(tuple(r) for r in _serve_adc_mixed(spark, sf_dir, cents, cb, state1, cb1).collect())

    state2, ids2, cb2 = _do_partial_refit(spark, sf_dir, store, base)  # replay
    assert table_commit.read_manifest(store)["seq"] == seq1, "replay committed a retrain"
    assert ids2 == ids1
    assert sorted(tuple(r) for r in state2.collect()) == rows1
    cb_rows2 = sorted(
        (r["cluster"], r["s"], r["code"], tuple(r["cw"])) for r in cb2.collect()
    )
    assert cb_rows2 == cb_rows1, "replay path served a codebook that differs from the committed one"
    serve2 = sorted(tuple(r) for r in _serve_adc_mixed(spark, sf_dir, cents, cb, state2, cb2).collect())
    assert serve2 == serve1


def test_second_refit_round_applies_after_new_appends(spark, sf_dir, tmp_path):
    """Rounds compose: after round 1 refits cluster X, new appends into
    cluster Y must trigger a SECOND round that refits Y — while X's
    staleness is measured against its refit-time member count (no
    spurious re-trip) and X's committed codes ride through untouched.
    The merged codebook store covers both generations for serving."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        _do_partial_refit,
    )

    _cents, _cb, base, enc = _frozen_setup(spark, sf_dir)
    by_n = enc.filter(F.col("s") == 0).groupBy("cluster").count().orderBy(F.desc("count")).collect()
    x, y = int(by_n[0]["cluster"]), int(by_n[1]["cluster"])
    store = str(tmp_path / "store")

    _append_codes(store, enc.filter(F.col("cluster") == x), 0)
    state1, ids1, _cb1 = _do_partial_refit(spark, sf_dir, store, base)
    m1 = table_commit.read_manifest(store)
    assert ids1 == [x] and m1["refit_bid"] == 0
    x_codes1 = sorted(
        tuple(r) for r in state1.filter(F.col("cluster") == x).drop("refit_gen").collect()
    )

    _append_codes(store, enc.filter(F.col("cluster") == y), 1)
    state2, ids2, cb2 = _do_partial_refit(spark, sf_dir, store, base)
    m2 = table_commit.read_manifest(store)
    assert ids2 == sorted([x, y]), ids2
    assert m2["refit_bid"] == 1, "second round did not apply"
    assert m2["cluster_gen"] == {str(x): 1, str(y): 1}, "X spuriously re-tripped or Y missed"
    assert {int(r["cluster"]) for r in cb2.select("cluster").distinct().collect()} == {x, y}
    x_codes2 = sorted(
        tuple(r) for r in state2.filter(F.col("cluster") == x).drop("refit_gen").collect()
    )
    assert x_codes2 == x_codes1, "round 2 perturbed round 1's committed codes"


def test_ann_ingest_restart_from_checkpoint_replays_batch(spark, sf_dir):
    """Kill-and-restart for the cluster-mapped codes store: the driver
    dies after batch 0's append commit but before its checkpoint commit;
    the restarted run replays batch 0 (skipped on the manifest bid) and
    finishes batch 1 — final maintained state must equal the batch
    closed form, same as the crash-free run."""
    from realtime_change_data_capture_streaming_spark.operators._util import spread
    from realtime_change_data_capture_streaming_spark.session import scratch_dir
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table
    from realtime_change_data_capture_streaming_spark.streaming._drive import drive_staged_stream
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        ANN_HISTORY_MAX_VEC_ID,
        _append_codes,
        _encode,
        _load_frozen,
        _stream_ann_index_dir,
        _with_staleness,
        ann_index_append_batch,
    )
    from realtime_change_data_capture_streaming_spark.streaming.cdc_stream import stage_ordered_batches

    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    work = scratch_dir(prefix="rs_ann_")
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

    def run(crash=None):
        def gate(batch, bid):
            fresh = batch.filter(F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID)
            _append_codes(store, _encode(spread(fresh), cents, cb), bid)
            if crash is not None and bid >= crash:
                raise RuntimeError(f"injected crash after batch {bid}")

        drive_staged_stream(spark, in_dir, e.schema, gate, f"{work}/ckpt")

    with pytest.raises(Exception, match="injected crash|Query .* terminated"):
        run(crash=0)
    run()
    got = sorted(tuple(r) for r in _with_staleness(_read_store(spark, store), base).collect())
    want = sorted(tuple(r) for r in ann_index_append_batch(spark, sf_dir).collect())
    assert got == want


def test_vec_erasure_replay_and_double_delete_are_idempotent(spark, tmp_path):
    """Erasure tombstones are exactly-once under replay: a fully-applied
    erasure batch skips on the manifest bid, and a double-delete of
    already-tombstoned ids leaves the committed set unchanged."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        _apply_vec_erasures,
        _read_erased_vecs,
    )

    er = str(tmp_path / "erased")
    ids = spark.createDataFrame([(10,), (11,), (12,)], "vec_id bigint")
    _apply_vec_erasures(er, ids, 0)
    m0 = table_commit.read_manifest(er)
    assert m0["applied_bid"] == 0
    got0 = sorted(r["vec_id"] for r in _read_erased_vecs(spark, er).collect())
    assert got0 == [10, 11, 12]
    _apply_vec_erasures(er, ids, 0)  # fully-applied replay
    assert table_commit.read_manifest(er)["seq"] == m0["seq"]
    _apply_vec_erasures(er, ids.union(spark.createDataFrame([(13,)], "vec_id bigint")), 1)
    got1 = sorted(r["vec_id"] for r in _read_erased_vecs(spark, er).collect())
    assert got1 == [10, 11, 12, 13], "double-delete must dedup, new id must land"


def test_forget_serve_excludes_erased_from_both_tiers(spark, sf_dir):
    """The registered query end-to-end: erased vectors — history (frozen
    base codes) and streamed-in appends alike — never appear among the
    served candidates, and the ranking differs from the no-erasure serve
    (non-vacuous)."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        ANN_FORGET_MOD,
        ANN_FORGET_RESIDUE,
        ANN_HISTORY_MAX_VEC_ID,
        stream_ann_forget_serve,
    )

    got = sorted(tuple(r) for r in stream_ann_forget_serve(spark, sf_dir).collect())
    assert got, "forget serve returned nothing"
    assert all(r[1] % ANN_FORGET_MOD != ANN_FORGET_RESIDUE for r in got), (
        "an erased candidate is still serving"
    )
    # non-vacuous: some erased id below AND above the history split would
    # have served without the erasure — check the erased set intersects
    # both tiers in the fixture
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n_hist = e.filter(
        (F.pmod(F.col("vec_id"), F.lit(ANN_FORGET_MOD)) == ANN_FORGET_RESIDUE)
        & (F.col("vec_id") >= 8) & (F.col("vec_id") < ANN_HISTORY_MAX_VEC_ID)
    ).count()
    n_inc = e.filter(
        (F.pmod(F.col("vec_id"), F.lit(ANN_FORGET_MOD)) == ANN_FORGET_RESIDUE)
        & (F.col("vec_id") >= ANN_HISTORY_MAX_VEC_ID)
    ).count()
    assert n_hist > 0 and n_inc > 0, "fixture does not erase from both tiers"


def test_purge_compaction_drops_tombstoned_rows_and_prunes_empty_clusters(spark, tmp_path):
    """The erasure-purge compaction physically removes tombstoned
    vec_ids from the codes store, drops a fully-purged cluster's bucket
    entry (no dangling path), and leaves the surviving state unchanged."""
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        _apply_vec_erasures,
        compact_ann_store,
    )

    store, er = str(tmp_path / "codes"), str(tmp_path / "erased")
    _append_codes(store, _codes(spark, [(1, 0, 5, 0), (2, 0, 6, 1), (3, 0, 7, 1)]), 0)
    _append_codes(store, _codes(spark, [(4, 0, 8, 2)]), 1)
    # tombstone vec 1 (sole member of cluster 0 -> cluster empties) and 3
    _apply_vec_erasures(er, spark.createDataFrame([(1,), (3,)], "vec_id bigint"), 2)
    compact_ann_store(spark, store, erased_root=er)
    m = table_commit.read_manifest(store)
    assert "0" not in m["buckets"], "fully-purged cluster must leave the bucket map"
    assert _store_state(spark, store) == [(2, 0, 6, 1), (4, 0, 8, 2)]
    # idempotent re-purge publishes a fresh (identical) state
    compact_ann_store(spark, store, erased_root=er)
    assert _store_state(spark, store) == [(2, 0, 6, 1), (4, 0, 8, 2)]


def test_partial_refit_after_erasure_excludes_tombstoned_from_model(spark, sf_dir):
    """GDPR retention through model state (r15): a partial refit that
    runs AFTER erasures must neither train its local codebooks on
    tombstoned vectors nor re-encode them into the refit version — the
    refit is a purge point, like compaction.  Pins (a) no erased vec_id
    survives in any refit cluster's store rows, and (b) the committed
    local codebooks equal a re-train over exactly the surviving
    members."""
    from pyspark.sql import functions as F

    from realtime_change_data_capture_streaming_spark.llm_ops.similarity import _subvectors
    from realtime_change_data_capture_streaming_spark.operators._util import spread
    from realtime_change_data_capture_streaming_spark.session import scratch_dir
    from realtime_change_data_capture_streaming_spark.sources.tables import load_table
    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import (
        _do_partial_refit,
        _load_frozen,
        _load_local_cb,
        _pq_fit_clustered,
        _run_forget_stream,
        _stream_ann_index_dir,
    )

    root = _stream_ann_index_dir(spark, sf_dir)
    cents, cb, base = _load_frozen(spark, root)
    work = scratch_dir(prefix="refit_after_erase_")
    pred = (F.pmod(F.col("vec_id"), F.lit(7)) == 3) & (F.col("vec_id") >= 8)
    store, erased_root = _run_forget_stream(spark, sf_dir, cents, cb, work, pred)
    _state, tripped, cb_local = _do_partial_refit(
        spark, sf_dir, store, base, erased_root=erased_root
    )
    assert tripped, "fixture did not trip a refit — the pin is vacuous"
    assert cb_local is not None

    from realtime_change_data_capture_streaming_spark.streaming.ann_maintain import _read_store

    refit_rows = _read_store(spark, store, clusters=tripped)
    n_erased_left = refit_rows.filter(
        (F.pmod(F.col("vec_id"), F.lit(7)) == 3) & (F.col("vec_id") >= 8)
    ).count()
    assert n_erased_left == 0, "tombstoned vectors re-encoded into the refit version"

    # (b) recompute the expected codebooks over exactly the surviving
    # members of the tripped clusters and compare value-for-value
    surviving = refit_rows.filter(F.col("s") == 0).select("vec_id", "cluster")
    vecs = spread(load_table(spark, sf_dir, "embeddings")).join(surviving, "vec_id")
    csubs = _subvectors(vecs).join(surviving, "vec_id").select(
        "cluster", "vec_id", "s", "sub"
    )
    want = sorted(
        (r["cluster"], r["s"], r["code"], tuple(r["cw"]))
        for r in _pq_fit_clustered(csubs).collect()
    )
    got = sorted(
        (r["cluster"], r["s"], r["code"], tuple(r["cw"]))
        for r in _load_local_cb(spark, store).collect()
    )
    assert got == want, "committed local codebooks were not trained on the survivors"
