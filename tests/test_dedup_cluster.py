"""Connected-components clustering over near-dup candidate graphs.

Pinning the semantics the oracle can't isolate: transitive chaining
(a~b, b~c => one cluster even without an a~c edge), multiple components,
and the empty graph.
"""

from __future__ import annotations

from realtime_change_data_capture_streaming_spark.llm_ops.dedup import connected_components


def _components(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    rows = connected_components(df).collect()
    return {r["node"]: r["component"] for r in rows}


def test_chain_merges_transitively(spark):
    # 1-2, 2-3, 3-4: one component labelled by its min node, even though
    # 1 and 4 share no direct edge (the pairwise-min rule would split this)
    got = _components(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components_stay_apart(spark):
    got = _components(spark, [(10, 20), (30, 40), (40, 50)])
    assert got == {10: 10, 20: 10, 30: 30, 40: 30, 50: 30}


def test_empty_graph(spark):
    df = spark.createDataFrame([], "a long, b long")
    assert connected_components(df).count() == 0


def test_long_path_converges(spark):
    # a 12-node path: diameter 11, the worst case for plain min-label
    # propagation — must still converge inside the iteration cap
    edges = [(i, i + 1) for i in range(1, 12)]
    got = _components(spark, edges)
    assert set(got.values()) == {1}


def test_unconverged_raises_not_silently_wrong(spark):
    # with max_iters below the diameter the labels are over-split; the
    # call must fail loudly instead of returning them
    import pytest

    df = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iters=2)


def test_star_contraction_long_path_log_rounds(spark):
    """64-node path (diameter 63 — far past label-propagation's default
    25-round budget): large-star/small-star must converge within a
    log-diameter round budget (12 >> log2(63) ~ 6, << 63) and land on the
    same min-label components."""
    from realtime_change_data_capture_streaming_spark.llm_ops.dedup import _cc_star

    df = spark.createDataFrame([(i, i + 1) for i in range(64)], "a long, b long")
    rows = _cc_star(df, "a", "b", max_rounds=12).collect()
    got = {r["node"]: r["component"] for r in rows}
    assert got == {i: 0 for i in range(65)}


def test_star_algorithm_behind_same_api(spark):
    got = connected_components(
        spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"),
        algorithm="star",
    ).collect()
    assert {r["node"]: r["component"] for r in got} == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_star_empty_graph(spark):
    df = spark.createDataFrame([], "a long, b long")
    assert connected_components(df, algorithm="star").count() == 0


# --- property: min-label fixpoint == true connected components -----------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

edges_strategy = st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=16,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node in component
    return {n: find(n) for n in parent}


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=edges_strategy)
def test_components_match_union_find(spark, edges):
    """For arbitrary small graphs the distributed min-label propagation
    must land on exactly the union-find components (canonical min label).
    Path-compressed union-find can leave stale roots mid-stream, so the
    reference recomputes find() per node at the end."""
    got = _components(spark, edges)
    want = _union_find(edges)
    assert got == want, (edges, got, want)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=edges_strategy)
def test_star_components_match_union_find(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    rows = connected_components(df, algorithm="star").collect()
    got = {r["node"]: r["component"] for r in rows}
    want = _union_find(edges)
    assert got == want, (edges, got, want)


# ----------------------------- substring-level spans -------------------------


def test_substring_spans_exact_boundaries(spark):
    """Constructed corpus with a KNOWN shared 20-token run: the operator
    must report exactly one span with exact start positions and length,
    and a 10-token shared run (< _SPAN_MIN) must report nothing."""
    from realtime_change_data_capture_streaming_spark.llm_ops.dedup import (
        _SPAN_MIN,
        substring_spans_of,
    )

    shared = " ".join(f"common{i}" for i in range(20))
    short = " ".join(f"tiny{i}" for i in range(10))
    doc_a = " ".join(f"aa{i}" for i in range(10)) + " " + shared + " " + " ".join(
        f"az{i}" for i in range(5)
    )
    doc_b = " ".join(f"bb{i}" for i in range(15)) + " " + shared + " " + " ".join(
        f"bz{i}" for i in range(7)
    )
    doc_c = short + " " + " ".join(f"cc{i}" for i in range(20))
    doc_d = " ".join(f"dd{i}" for i in range(20)) + " " + short
    d = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c), (4, doc_d)], "doc_id long, text string"
    )
    rows = substring_spans_of(d).collect()
    assert len(rows) == 1, rows
    (r,) = rows
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["span_tokens"] == 20 >= _SPAN_MIN
    assert r["start_a"] == 10  # after the 10-token prefix of doc 1
    assert r["start_b"] == 15  # after the 15-token prefix of doc 2


def test_substring_spans_boilerplate_cap_drops_hot_anchors(spark):
    """An anchor window repeated across more documents than _SPAN_MAX_OCC
    must be dropped by the occurrence cap (bounding the candidate join),
    while the same window under the cap is reported."""
    from realtime_change_data_capture_streaming_spark.llm_ops.dedup import (
        _SPAN_MAX_OCC,
        substring_spans_of,
    )

    boiler = " ".join(f"hot{i}" for i in range(12))
    hot = [(100 + i, f"u{i}x " + boiler) for i in range(_SPAN_MAX_OCC + 1)]
    cool = [(200, "p0 p1 " + boiler), (201, "q0 q1 q2 " + boiler)]
    got_hot = substring_spans_of(
        spark.createDataFrame(hot, "doc_id long, text string")
    ).count()
    assert got_hot == 0, "cap failed: hot-anchor block produced spans"
    got_cool = substring_spans_of(
        spark.createDataFrame(cool, "doc_id long, text string")
    ).collect()
    assert [(r["doc_a"], r["doc_b"], r["span_tokens"]) for r in got_cool] == [(200, 201, 12)]


def test_span_coverage_merges_overlapping_intervals(spark, monkeypatch, tmp_path):
    """A doc sharing two OVERLAPPING spans with different partners must
    count the union once: spans [10,30) with doc 2 and [25,45) with doc 3
    merge to 35 covered tokens."""
    import realtime_change_data_capture_streaming_spark.llm_ops.dedup as dd

    tok = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    shared_a = tok("sa", 20)   # doc1[10:30], doc2[0:20]
    shared_b = tok("sb", 20)   # doc1[25:45], doc3[5:25] -- overlaps shared_a's tail
    # doc1: 10 unique + sa0..sa19, where sa15..sa19 are REPLACED by sb0..4?
    # Simpler: build doc1 as explicit token list with sb starting at 25:
    d1 = tok("u", 10).split() + shared_a.split()          # positions 0..29
    d1 = d1[:25] + shared_b.split() + ["tail0", "tail1"]  # sb at 25..44
    doc1 = " ".join(d1)
    doc2 = tok("v", 3) + " " + " ".join(d1[10:25])        # 15-token prefix of the overlap region
    doc3 = tok("w", 5) + " " + shared_b
    d = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3)], "doc_id long, text string"
    )
    monkeypatch.setattr(dd, "load_table", lambda spark_, sf_, name: d)
    rows = {r["doc_id"]: r for r in dd.dedup_span_coverage(spark, "ignored").collect()}
    # doc1 intervals: [10,25) shared with doc2, [25,45) shared with doc3 -> [10,45)
    assert rows[1]["covered_tokens"] == 35, rows[1]
    assert rows[1]["n_tokens"] == 47
    assert rows[1]["coverage"] == round(35 / 47, 6)
    assert rows[2]["covered_tokens"] == 15
    assert rows[3]["covered_tokens"] == 20


def test_erase_splits_component_and_drops_edgeless_survivors(spark):
    """The r15 dedup-erasure pin: a 4-doc chain S1-S2-S3-S4 (adjacent
    overlap only) forms ONE component; erasing the bridge S2 must SPLIT
    it — S3-S4 stay a component, S1 loses its only edge and stops being
    a duplicate at all.  An untouched pair keeps its assignment rows;
    erasing a never-duplicated doc is a no-op; a replayed erase batch
    skips on the bid guard."""
    from pyspark.sql import functions as F

    from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
    from realtime_change_data_capture_streaming_spark.session import scratch_dir
    from realtime_change_data_capture_streaming_spark.streaming.neardup import (
        _SYN_DOCS,
        _erase_dedup_components,
        _merge_dedup_components,
        _read_assign,
    )

    work = scratch_dir(prefix="cc_erase_")
    sh_store, as_store = f"{work}/sh", f"{work}/as"
    docs = spark.createDataFrame(
        list(_SYN_DOCS), "doc_id bigint, text string, lang string, source string"
    )
    _merge_dedup_components(sh_store, as_store, docs, 0)

    def assigns():
        return sorted(
            (r["node"], r["component"])
            for r in _read_assign(spark, as_store).collect()
        )

    assert assigns() == [
        (1000001, 1000001),
        (1000002, 1000001),
        (1000003, 1000001),
        (1000004, 1000001),
        (1000005, 1000005),
        (1000006, 1000005),
    ], "precondition: the chain must form ONE component before the erase"

    dels = spark.createDataFrame([(1000002,), (1000007,)], "doc_id bigint")
    _erase_dedup_components(sh_store, as_store, dels, 1)
    after = [
        (1000003, 1000003),
        (1000004, 1000003),
        (1000005, 1000005),
        (1000006, 1000005),
    ]
    assert assigns() == after, "bridge erase must split and drop the edgeless survivor"
    # erased shingles physically gone — read the WHOLE bucket-mapped store
    from realtime_change_data_capture_streaming_spark.streaming.neardup import (
        _read_shingles,
        _sbucket,
    )

    sh = _read_shingles(spark, sh_store)
    assert sh.filter(F.col("doc_id").isin([1000002, 1000007])).count() == 0
    # survivors' shingles all still served
    assert sorted(
        r["doc_id"] for r in sh.select("doc_id").distinct().collect()
    ) == [1000001, 1000003, 1000004, 1000005, 1000006]
    # I/O pin (ADVICE r15): the erase rewrote ONLY the erased ids'
    # buckets — every untouched bucket still serves from the merge-time
    # version dir, and a bucket left empty by the erase drops out of the
    # map instead of dangling
    m = table_commit.read_manifest(sh_store)
    del_buckets = {
        str(r["b"])
        for r in spark.createDataFrame([(1000002,), (1000007,)], "doc_id bigint")
        .select(_sbucket(F.col("doc_id")).alias("b"))
        .collect()
    }
    merge_versions = {v for b, v in m["buckets"].items() if b not in del_buckets}
    assert len(merge_versions) == 1, "an untouched bucket was rewritten by the erase"
    assert not (del_buckets & set(m["buckets"])), (
        "a bucket emptied by the erase still dangles in the map"
    )
    # I/O pin (VERDICT r16 item 2): the ASSIGN store is bucket-mapped the
    # same way — the erase rewrote only the affected component's member
    # buckets (1000001..1000004 -> buckets 1..4: 3,4 relabeled in the new
    # version; 1,2 emptied and gone from the map), while the untouched
    # pair component's buckets (1000005/1000006 -> 5,6) still serve from
    # the merge-time version dir
    am = table_commit.read_manifest(as_store)
    touched_abuckets = {"1", "2", "3", "4"}
    merge_served = {v for b, v in am["buckets"].items() if b not in touched_abuckets}
    erase_served = {v for b, v in am["buckets"].items() if b in touched_abuckets}
    assert len(merge_served) == 1, "an untouched assign bucket was rewritten by the erase"
    assert erase_served and merge_served.isdisjoint(erase_served), (
        "the erase did not publish the affected buckets as a NEW version"
    )
    assert {"1", "2"}.isdisjoint(am["buckets"]), (
        "an assign bucket emptied by the erase still dangles in the map"
    )
    # fully-applied replay: bid guard skips, nothing moves
    seq_before = table_commit.read_manifest(as_store)["seq"]
    _erase_dedup_components(sh_store, as_store, dels, 1)
    assert table_commit.read_manifest(as_store)["seq"] == seq_before
    assert assigns() == after


def test_flat_layout_assign_store_raises(spark, tmp_path):
    """An assignment store whose manifest has a live version but no
    bucket map (the flat layout) must raise instead of reading as empty
    — an empty read would forget every prior component assignment."""
    import pytest

    from realtime_change_data_capture_streaming_spark.cdc import commit as table_commit
    from realtime_change_data_capture_streaming_spark.streaming.neardup import _read_assign

    store = str(tmp_path / "assign")
    assert _read_assign(spark, store).count() == 0  # no store yet
    staged, seq = table_commit.begin(store)
    spark.createDataFrame([(1, 1), (2, 1)], "node bigint, component bigint").coalesce(
        1
    ).write.mode("overwrite").parquet(staged)
    table_commit.commit(store, seq, meta={"applied_bid": 0}, staged=staged)
    with pytest.raises(ValueError, match="no 'buckets' map"):
        _read_assign(spark, store)
