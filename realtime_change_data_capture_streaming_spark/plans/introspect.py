"""Physical-plan introspection: make the scale contract testable.

"Would this plan survive a 100x scale-up?" is a property of the physical
plan, not of the small-data runtime — so we assert it in CI: filters reach
the parquet scan, small dims broadcast, no accidental cartesian products,
shuffle counts stay at the theoretical minimum.  tests/test_plans.py pins
these for every headline query.
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Final physical plan string (AQE-resolved where already executed)."""
    return df._jdf.queryExecution().executedPlan().toString()


def explain_str(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_counts(df: DataFrame) -> dict[str, int]:
    """Occurrences of scale-relevant operators in the physical plan."""
    plan = executed_plan(df)
    return {
        "exchanges": len(re.findall(r"\bExchange (?:hash|range|RoundRobin|SinglePartition)", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "bnl_joins": plan.count("BroadcastNestedLoopJoin"),
        "hash_aggregates": plan.count("HashAggregate") + plan.count("ObjectHashAggregate"),
        "sort_aggregates": plan.count("SortAggregate"),
        "codegen_spans": plan.count("WholeStageCodegen"),
        "python_evals": plan.count("BatchEvalPython") + plan.count("ArrowEvalPython"),
    }


def shuffle_count(df: DataFrame) -> int:
    return executed_plan(df).count("Exchange ")


#: logical operators that always introduce a shuffle above their child —
#: a plan containing any of these has its partition-id domain reset to
#: the shuffle width, so the shuffle-partitions conf bounds it
_SHUFFLE_LOGICAL_TOKENS = (
    "Aggregate [",
    "Window [",
    "Repartition",  # Repartition n + RepartitionByExpression
    "Deduplicate",
    "Intersect",
    "Except",
)
_GLOBAL_SORT_RE = re.compile(r"\bSort \[[^\n]*\], true")
_JOIN_RE = re.compile(r"\bJoin (Cross|Inner|Left|Right|Full)")
_RANGE_SPLITS_RE = re.compile(r"\bRange \([^\n]*splits=Some\((\d+)\)")


def logical_shuffle_free(df: DataFrame) -> bool:
    """True when the ANALYZED logical plan provably introduces no
    shuffle on the main data path: only narrow operators (scan, project,
    filter, union, generate, limit) and joins explicitly hinted
    broadcast.  Ambiguity is resolved to False (an unhinted join may
    plan as a shuffle join).

    FAILURE DIRECTION (do not "fix" this the other way): the token list
    above is deliberately INCOMPLETE — e.g. ``FlatMapGroupsInPandas``,
    ``CoGroup``/``FlatMapCoGroupsInPandas`` and a bare logical
    ``Distribute`` also introduce shuffles but are not listed.  A missed
    shuffle-introducing node makes this return True for a shuffle-FED
    plan, whose only consumer effect is engaging the harmless
    constant-width fold early (``_per_query_topk``) — safe.  Extending
    the JOIN arm to trust UNHINTED joins (auto-broadcast guesses) would
    fail the OTHER way: a join that plans as a shuffle join at scale
    would be declared shuffle-free and the fold gate would trust a
    200-wide conf bound on a 10^5-wide scan domain.  The engine's
    discipline instead is that every serve-path join feeding
    ``_per_query_topk`` carries an explicit ``F.broadcast`` hint
    (audited r17: all similarity.py / ann_maintain.py sites), so the
    auto-broadcast blind spot (ADVICE r16) has no live instance.

    This reads the already-analyzed plan — NO optimization, physical
    planning, or ``.rdd`` conversion, all of which are either expensive
    (re-planning a large lineage per call) or outright execute query
    stages under AQE (``df.rdd`` on a plan with exchanges materializes
    its shuffles; on a broadcast join it builds the broadcast)."""
    s = df._jdf.queryExecution().analyzed().toString()
    if any(tok in s for tok in _SHUFFLE_LOGICAL_TOKENS):
        return False
    if _GLOBAL_SORT_RE.search(s):
        return False
    joins = len(_JOIN_RE.findall(s))
    hints = s.count("ResolvedHint (strategy=broadcast)")
    return joins <= hints


#: (key, value) byte confs already warned about as unparseable
_WARNED_BYTES_CONFS: set[tuple[str, str]] = set()


def _parse_bytes_conf(v: str, default: int, key: str) -> int:
    """Byte-size conf value to bytes, falling back to ``default`` on any
    spelling outside the integer-with-suffix form (fractional sizes,
    "auto", garbage): a conf a user tuned must never fail a QUERY BUILD
    through this metadata helper (ADVICE r16).  The fallback warns once
    per ``key`` and value, so a mistyped setting does not go unnoticed."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", v.lower())
    if not m:
        if (key, v) not in _WARNED_BYTES_CONFS:
            _WARNED_BYTES_CONFS.add((key, v))
            warnings.warn(
                f"{key}={v!r} is not an integer byte size; partition estimates use "
                f"{default} bytes instead",
                stacklevel=2,
            )
        return default
    return int(m.group(1)) * (1024 ** {"": 0, "k": 1, "m": 2, "g": 3, "t": 4, "p": 5}[m.group(2)])


def estimated_scan_partitions(df: DataFrame) -> int:
    """``estimated_scan_partitions_ex`` without the statability flag —
    for callers whose decision does not depend on it."""
    return estimated_scan_partitions_ex(df)[0]


def estimated_scan_partitions_ex(df: DataFrame) -> tuple[int, bool]:
    """Driver-side UPPER-ISH estimate of a narrow plan's partition count:
    Spark's own file-split packing formula over the leaf relations'
    files (``(bytes + n_files * openCostInBytes) / maxPartitionBytes``),
    plus any Range leaf's declared split count.  Metadata only — file
    listing via ``inputFiles()``, no job, no physical planning.

    Returns ``(estimate, all_statable)``.  Local paths stat through the
    OS; every other URI is sized through the JVM Hadoop ``FileSystem``
    for its scheme (HDFS/S3/...) by ONE ``listStatus`` per distinct
    parent dir, not one ``getFileStatus`` RPC per file, so the estimate no longer collapses to
    ~n_files/32 of reality off the local disk (ADVICE r16).  A file
    neither can stat contributes only its open cost and flips
    ``all_statable`` to False — each call site must then take ITS
    conservative branch (the fold gate treats the scan as wide; spread/
    with_tokens keep their repartition), because "conservative" points
    in opposite directions for the two consumers."""
    import math
    import os
    from urllib.parse import urlparse

    conf = df.sparkSession.conf
    max_pb = _parse_bytes_conf(
        conf.get("spark.sql.files.maxPartitionBytes", "128m"),
        128 * 1024 * 1024,
        "spark.sql.files.maxPartitionBytes",
    )
    open_cost = _parse_bytes_conf(
        conf.get("spark.sql.files.openCostInBytes", "4m"),
        4 * 1024 * 1024,
        "spark.sql.files.openCostInBytes",
    )
    jvm = df.sparkSession._jvm
    hconf = df.sparkSession._jsc.hadoopConfiguration()
    total = 0
    n_files = 0
    all_statable = True
    remote: dict[str, tuple[object, list[str]]] = {}  # dir -> (Hadoop Path, file names)
    for uri in df.inputFiles():
        n_files += 1
        scheme = urlparse(uri).scheme
        if scheme in ("", "file"):
            try:
                total += os.path.getsize(urlparse(uri).path or uri)
                continue
            except OSError:
                all_statable = False  # listed-then-vanished local file
                continue
        jpath = jvm.org.apache.hadoop.fs.Path(uri)
        jdir = jpath.getParent()
        remote.setdefault(jdir.toString(), (jdir, []))[1].append(jpath.getName())
    for jdir, names in remote.values():
        # one listing per parent dir, not one stat RPC per file;
        # FileSystem.get is cached per (scheme, authority) inside Hadoop
        try:
            sizes = {
                st.getPath().getName(): st.getLen()
                for st in jdir.getFileSystem(hconf).listStatus(jdir)
            }
        except Exception:
            sizes = {}  # unlistable remote dir: its files cost open cost only
        for name in names:
            if name in sizes:
                total += sizes[name]
            else:
                all_statable = False  # unstatable remote file: open cost only
    est = math.ceil((total + n_files * open_cost) / max_pb) if n_files else 0
    s = df._jdf.queryExecution().analyzed().toString()
    for m in _RANGE_SPLITS_RE.finditer(s):
        est = max(est, int(m.group(1)))
    return est, all_statable


def broadcast_join_count(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastHashJoin")


def has_pushed_filters(df: DataFrame) -> bool:
    """True if at least one data filter reached a parquet scan."""
    plan = explain_str(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column sets actually read from each parquet scan (pruning check)."""
    plan = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


#: logical nodes that preserve (or shrink) their child's row bound, so a
#: limit/1-row-aggregate anywhere below them still bounds the window input
_ROW_PRESERVING = frozenset(
    {
        "Project",
        "Filter",
        "Sort",
        "SubqueryAlias",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "Window",
        "WindowGroupLimit",
        "Deduplicate",
        "Distinct",
        "WithCTE",
        "CTERelationDef",
    }
)


def _simple_name(node) -> str:
    return node.getClass().getSimpleName().rstrip("$")


def _limit_bounded(node) -> bool:
    """True if this logical subtree's row count is bounded independent of
    data scale: a limit, or a global (no-key) aggregate, reached by
    descending through row-preserving unary nodes."""
    name = _simple_name(node)
    if name in ("GlobalLimit", "LocalLimit"):
        return True
    if name == "Aggregate":
        if node.groupingExpressions().isEmpty():
            return True  # global aggregate -> exactly one row
        # keyed aggregate over a bounded input: <= input rows
        return _limit_bounded(node.children().apply(0))
    if name == "Join" and node.children().size() == 2:
        # bounded x bounded is bounded (the broadcast-scalar cross of
        # two 1-row aggregates — the corpus-stats pattern)
        return _limit_bounded(node.children().apply(0)) and _limit_bounded(
            node.children().apply(1)
        )
    if name in _ROW_PRESERVING and node.children().size() == 1:
        return _limit_bounded(node.children().apply(0))
    return False


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Every Window in the optimized logical plan with an EMPTY partition
    spec whose input is NOT provably bounded (by a preceding limit or a
    global aggregate).  An unpartitioned window funnels its whole input
    through one task — the single plan shape guaranteed to fall over at
    100x data — so the engine's discipline is: never emit one unless the
    input is limit-bounded.  ``tests/test_window_guard.py`` enforces this
    over every registered query (with a documented whitelist for
    dim-table-sized inputs, where the bound is a table-cardinality fact
    the plan cannot express)."""
    out: list[str] = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if (
            _simple_name(node) == "Window"
            and node.partitionSpec().isEmpty()
            and not _limit_bounded(node.child())
        ):
            out.append(node.simpleString(120))
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return out


def _bounded_output_ids(root) -> set[int]:
    """ExprIds produced by limit-bounded subtrees anywhere in the plan —
    the provenance set ``low_cardinality_partition_windows`` checks
    partition keys against."""
    out: set[int] = set()
    stack = [root]
    while stack:
        node = stack.pop()
        if _limit_bounded(node):
            attrs = node.output()
            for i in range(attrs.size()):
                out.add(attrs.apply(i).exprId().id())
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return out


def _reference_ids(expr) -> set[int]:
    """ExprIds an expression references (AttributeSet -> python set)."""
    out: set[int] = set()
    it = expr.references().iterator()
    while it.hasNext():
        out.add(it.next().exprId().id())
    return out


def low_cardinality_partition_windows(df: DataFrame) -> list[str]:
    """Every Window whose partition keys ALL provably come from
    limit-bounded subtrees while the window input is NOT bounded — the
    fifth plan-guard class (VERDICT r14 task 3).  A window partitioned
    by, say, the 8 query ids of a ``.limit(8)`` side funnels the whole
    candidate scan through 8 tasks: the same single-task failure as an
    unpartitioned window, hidden behind a non-empty spec (the
    ``ann_cosine_topk`` shape before r15).  The engine's replacement is
    the partial-heads + bounded-aggregate top-k
    (``llm_ops.similarity._per_query_topk``), whose first-phase window
    adds ``spark_partition_id`` to the keys so the partition count grows
    WITH the data — that extra unbounded key is exactly what clears this
    guard.

    Detection is provenance-based, and the provenance is computed from
    the WINDOW'S OWN SUBTREE: an exprId is "bounded" if a limit-bounded
    subtree BENEATH the window outputs it (a limit sitting above the
    window — e.g. the final global top-k — does not bound the key's
    domain at the window, it only truncates afterwards).  A Window trips
    when its partition expressions reference ONLY bounded exprIds (or
    none — literal keys).  Lineage breaks (localCheckpoint) clear the
    provenance, so windows over checkpointed shortlists pass — by then
    the input is shortlist-scale anyway.
    ``tests/test_window_guard.py`` enforces this over every registered
    query with a documented whitelist for inputs that are
    cardinality-bounded by facts the plan cannot express."""
    root = df._jdf.queryExecution().optimizedPlan()
    out: list[str] = []
    stack = [root]
    while stack:
        node = stack.pop()
        if (
            _simple_name(node) == "Window"
            and not node.partitionSpec().isEmpty()
            and not _limit_bounded(node.child())
        ):
            spec = node.partitionSpec()
            refs: set[int] = set()
            for i in range(spec.size()):
                refs |= _reference_ids(spec.apply(i))
            if refs <= _bounded_output_ids(node.child()):
                out.append(node.simpleString(120))
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return out


def assert_no_cartesian(df: DataFrame) -> None:
    c = plan_counts(df)
    assert c["cartesian"] == 0 and c["bnl_joins"] == 0, (
        f"plan contains a cartesian/nested-loop join:\n{executed_plan(df)[:2000]}"
    )


def unbounded_cross_joins(df: DataFrame) -> list[str]:
    """Every condition-less Join in the optimized logical plan where
    NEITHER side is provably bounded (a limit or a no-key global
    aggregate) — the all-pairs |L|x|R| blowup, the third plan shape
    guaranteed to fall over at 100x data (after the unpartitioned
    window and the un-limited global sort).

    A cross join against a 1-row/limit-bounded side is the legitimate
    broadcast-scalar pattern this engine uses everywhere (corpus totals,
    thresholds, model state) and is not flagged.  Joins WITH a
    condition are out of scope: equi-joins shuffle-partition, and theta
    joins are each individually audited at the call site.
    ``tests/test_window_guard.py`` enforces this over every registered
    query, with a documented whitelist for joins whose sides are
    CARDINALITY-bounded by a fact the plan cannot express."""
    out: list[str] = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if _simple_name(node) == "Join" and node.condition().isEmpty():
            left, right = node.children().apply(0), node.children().apply(1)
            if not (_limit_bounded(left) or _limit_bounded(right)):
                out.append(node.simpleString(120))
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return out


def rowwise_python_evals(df: DataFrame) -> list[str]:
    """Every physical node that evaluates Python row-at-a-time — the
    fourth plan-guard class: pickled per-row round trips are the 10-100x
    slow path the whole UDF tier exists to avoid.

    Flags ``BatchEvalPython`` (scalar ``F.udf`` without Arrow).  Allowed
    and NOT flagged: every Arrow-batched surface (``ArrowEvalPython``,
    ``MapInPandas``/``MapInArrow``, ``FlatMapGroupsInPandas``/``...InArrow``,
    ``FlatMapCoGroupsInPandas``, ``...WithState``, ``AggregateInPandas``)
    and Python UDTFs (``BatchEvalPythonUDTF`` — the declared generator
    surface, not a hot-path scalar).  ``tests/test_window_guard.py::
    test_plan_guards`` enforces this over every registered query (one
    construction pass, all four guard classes): "zero row-wise Python
    UDFs" is a plan property, not a grep claim."""
    plan = executed_plan(df)
    return [
        ln.strip()
        for ln in plan.splitlines()
        if re.search(r"\bBatchEvalPython\b", ln)  # \b rejects ...PythonUDTF
    ]


def unbounded_global_sorts(df: DataFrame) -> list[str]:
    """Every global Sort in the optimized logical plan that will NOT
    compile to TakeOrderedAndProject and whose input is not provably
    bounded — the sibling scale smell to the unpartitioned window: a
    full range-shuffle (plus the range-boundary sampling pass) spent
    materializing a total order nobody truncates.

    A global Sort is sanctioned when (a) a Limit sits directly above it
    (optionally through Project/SubqueryAlias — exactly the shape the
    planner turns into TakeOrderedAndProject's per-partition heaps), or
    (b) its child is limit-bounded (sorting an already-bounded set).
    Everything else is flagged; ``tests/test_window_guard.py`` enforces
    the discipline over every registered query with a documented
    whitelist for group-cardinality-bounded outputs the plan cannot
    express."""
    out: list[str] = []

    def walk(node, limited_above: bool) -> None:
        name = _simple_name(node)
        if name == "Sort" and getattr(node, "global")():
            if not limited_above and not _limit_bounded(node.children().apply(0)):
                out.append(node.simpleString(120))
        if name in ("GlobalLimit", "LocalLimit"):
            below = True
        elif name in ("Project", "SubqueryAlias"):
            below = limited_above  # TOAP forms through projection only
        else:
            below = False
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), below)

    walk(df._jdf.queryExecution().optimizedPlan(), False)
    return out
