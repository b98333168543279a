"""EXPLAIN-FORMATTED plan audit helpers.

Plan text (not timings) is the stable surface to assert scale properties
on: a regression that adds a shuffle or drops a pushed filter shows up
identically on any machine, long before it costs wall-clock at real scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def explain_formatted(df: DataFrame) -> str:
    """The EXPLAIN FORMATTED text of a DataFrame's physical plan."""
    spark = df.sparkSession
    jvm = spark._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def count_shuffles(plan: str) -> int:
    """Shuffle Exchange nodes (broadcast exchanges excluded)."""
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def broadcast_joins(plan: str) -> int:
    """BroadcastHashJoin + BroadcastNestedLoopJoin node count."""
    return len(re.findall(r"Broadcast(?:Hash|NestedLoop)Join", plan))


def pushed_filters(plan: str) -> list[str]:
    """Every non-empty PushedFilters list in the plan's scans."""
    return [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]


def scan_schemas(plan: str) -> list[str]:
    """ReadSchema strings — how many columns each scan actually reads."""
    return re.findall(r"ReadSchema: (\S+)", plan)


def has_cartesian(plan: str) -> bool:
    return "CartesianProduct" in plan


def broadcast_hint_subtrees(df: DataFrame) -> list[str]:
    """The analyzed-logical-plan subtree under each explicit broadcast
    hint (``ResolvedHint``) in a DataFrame's plan.

    A forced ``F.broadcast`` bypasses AQE's size check, so the hinted
    subtree must be provably bounded (a dimension table, a top-k, a hot-key
    list) — never proportional to corpus cardinality. Tests scan these
    subtree strings for unbounded shapes (e.g. an aggregate grouped on
    doc_id, one row per document)."""
    tree = df._jdf.queryExecution().analyzed().toString()
    lines = tree.splitlines()

    def indent(line: str) -> int:
        # tree-drawing prefix: ":  ", "+- ", ":- " repeated; the node name
        # starts at the first alphabetic char
        m = re.search(r"[A-Za-z]", line)
        return m.start() if m else len(line)

    subtrees: list[str] = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        base = indent(line)
        sub = []
        for nxt in lines[i + 1:]:
            if indent(nxt) <= base:
                break
            sub.append(nxt)
        subtrees.append("\n".join(sub))
    return subtrees


def audit_workload(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> list[dict]:
    """Plan-shape summary for every (or the named) registered queries.

    Returns one dict per query: shuffle count, broadcast-join count,
    whether any filter was pushed to a scan, and whether a Cartesian
    product appears — the table PLANS.md is maintained from.
    """
    from bayeslite_spark.workload import get_queries

    out = []
    qs = get_queries()
    for name in names or sorted(qs):
        try:
            plan = explain_formatted(qs[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — engine-setup queries may need fixtures
            out.append({"query": name, "error": str(e)[:80]})
            continue
        out.append({
            "query": name,
            "shuffles": count_shuffles(plan),
            "broadcast_joins": broadcast_joins(plan),
            "pushed_filters": bool(pushed_filters(plan)),
            "cartesian": has_cartesian(plan),
        })
    return out


class PlanScaleError(AssertionError):
    """A DataFrame's plan contains a shape known not to survive scale-up."""


def _split_top(s: str) -> list[str]:
    """Split ``s`` on commas at bracket depth 0 (tracking ``()``/``[]``) —
    the balanced splitter a single non-greedy regex cannot be (a window
    whose leading ORDER item is a call like ``coalesce(a, b) ASC`` defeats
    any ``[^,)]*`` pattern; round-6 ADVICE)."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


_ORDER_ITEM = re.compile(r"(?:ASC|DESC)(?: NULLS (?:FIRST|LAST))?$")


def _windowspec_args(text: str) -> list[list[str]]:
    """The top-level argument list of every ``windowspecdefinition(...)``
    in ``text``, balanced-paren parsed."""
    out: list[list[str]] = []
    needle = "windowspecdefinition("
    i = 0
    while True:
        j = text.find(needle, i)
        if j < 0:
            break
        k = j + len(needle)
        depth = 1
        m = k
        while m < len(text) and depth:
            if text[m] == "(":
                depth += 1
            elif text[m] == ")":
                depth -= 1
            m += 1
        out.append(_split_top(text[k:m - 1]))
        i = m
    return out


def _spec_is_global(args: list[str]) -> bool:
    """A windowspecdefinition arg list is (partition cols..., order items
    carrying ASC/DESC, frame). No partition columns <=> the first argument
    is already an order item or the frame itself."""
    if not args:
        return True
    first = args[0]
    return (first.startswith("specifiedwindowframe(")
            or bool(_ORDER_ITEM.search(first)))


# Nodes a Window's required ordering/partitioning passes through unchanged:
# walking down through these reaches the node that actually feeds the window.
_PASSTHRU_NODES = frozenset({
    "Sort", "Exchange", "Project", "Filter", "ShuffleQueryStage",
    "AQEShuffleRead", "InputAdapter", "ColumnarToRow", "Coalesce",
})
# Nodes that bound the window's input regardless of data size: Spark's own
# rank-filter rewrite (row_number <= k compiles to per-partition truncation)
# or an explicit limit.
_BOUNDING_NODES = frozenset({
    "TakeOrderedAndProject", "WindowGroupLimit", "GlobalLimit",
    "CollectLimit",
})

_TREE_LINE = re.compile(r"^[\s:+*-]*([A-Za-z][A-Za-z0-9]*)[^()]*\((\d+)\)\s*$")


def _plan_tree(plan: str) -> list[tuple[int, str, int]]:
    """(indent, node_name, node_id) for every tree line in the formatted
    plan, in preorder — including the ``===== Subqueries =====`` trees
    (a global window inside a scalar subquery must not escape the node
    walk). Detail-section lines never match ``_TREE_LINE`` (they start
    with ``(n)`` or carry no trailing node id), and a new tree's root
    re-starts at minimal indent, which terminates any subtree walk."""
    nodes = []
    for line in plan.splitlines():
        if not line.strip():
            continue
        m = _TREE_LINE.match(line)
        if not m:
            continue
        alpha = re.search(r"[A-Za-z]", line)
        nodes.append((alpha.start(), m.group(1), int(m.group(2))))
    return nodes


def unguarded_global_windows(plan: str) -> list[int]:
    """Node ids of physical ``Window`` nodes whose partition spec is empty
    AND whose input chain has no bounding node — the single-partition
    global sort that serializes data-proportional input on one task.

    A global window whose direct input chain (through sorts/exchanges/
    projections) hits ``TakeOrderedAndProject`` / ``WindowGroupLimit`` /
    a global limit is NOT flagged: Spark's rank-filter rewrite has already
    truncated each partition to k rows, so the final sort sees at most
    k × partitions rows — bounded by construction, not by data."""
    # Which Window nodes carry an empty partition spec (from the details
    # section: "(n) Window" followed by its Arguments line).
    global_ids = set()
    for m in re.finditer(
            r"^\((\d+)\) Window\n(?:(?!\n).*\n)*?Arguments: (.*)$",
            plan, re.M):
        nid, args_line = int(m.group(1)), m.group(2)
        specs = _windowspec_args(args_line)
        if specs and any(_spec_is_global(s) for s in specs):
            global_ids.add(nid)
        elif not specs:
            # WindowExec always prints windowspecdefinition; if absent,
            # fall back to the trailing partition/order argument groups:
            # 2 groups whose last is ASC/DESC items means no partition.
            groups = re.findall(r"\[([^\]]*)\]", args_line)
            if len(groups) == 2 and _ORDER_ITEM.search(groups[-1] or ""):
                global_ids.add(nid)
    if not global_ids:
        return []
    tree = _plan_tree(plan)
    located = {nid for _, name, nid in tree if name == "Window"}
    if not global_ids <= located:
        # The details section names global-window ids the tree walk could
        # not locate (e.g. a future Spark change to node-id printing in
        # the tree header): a partially unparseable tree must fail LOUD,
        # not silently pass the scale lint — flag them all (ADVICE r7).
        return sorted(global_ids)
    unguarded = []
    for i, (indent, name, nid) in enumerate(tree):
        if name != "Window" or nid not in global_ids:
            continue
        guarded = False
        for s_indent, s_name, _sid in tree[i + 1:]:
            if s_indent <= indent:
                break
            if s_name in _BOUNDING_NODES:
                guarded = True
                break
            if s_name not in _PASSTHRU_NODES:
                break  # the real input producer: not a bounding node
        if not guarded:
            unguarded.append(nid)
    return unguarded


# Dimension tables whose cardinality is fixed by the schema, not the data
# scale (TPC-H: region = 5, nation = 25) — broadcasting them unfiltered is
# the canonical correct plan. The analyzed plan's Relation line carries
# only the column list, so fixed dims are recognized by their key column.
_BOUNDED_DIM_KEYS = ("n_nationkey#", "r_regionkey#")


def unbounded_broadcast_subtrees(df: DataFrame) -> list[str]:
    """Explicit broadcast-hint subtrees that are a bare base-table scan
    (no Filter/Aggregate/Limit/Join between the hint and the relation) of
    a non-dimension table — a broadcast whose size is proportional to the
    data scale (the q34 corpus-side-hint bug, machine-checkable)."""
    bad = []
    for sub in broadcast_hint_subtrees(df):
        if not re.search(r"(?<!Local)Relation ?\[", sub):
            continue  # no base scan under the hint (derived/local data)
        if re.search(r"\b(Filter|Aggregate|GlobalLimit|LocalLimit|Join|"
                     r"Deduplicate|Sample)\b", sub):
            continue  # something reduces the relation before broadcast
        if any(k in sub for k in _BOUNDED_DIM_KEYS):
            continue
        bad.append(sub.splitlines()[0].strip() if sub else "<empty hint>")
    return bad


def count_exchanges(plan: str) -> int:
    """Number of shuffle ``Exchange`` nodes in a formatted physical plan,
    subquery trees included.  ``BroadcastExchange`` and ``ReusedExchange``
    are excluded on purpose: a broadcast is size-bounded by construction
    and a reuse adds no new shuffle.  This is the per-query figure the
    sweep's regression baseline records — a plan that silently GAINS an
    Exchange (a lost broadcast, a de-optimized join order) is the class
    of regression the shape rules can't see."""
    return sum(1 for _, name, _ in _plan_tree(plan) if name == "Exchange")


def plan_scale_violations(df: DataFrame,
                          allow: set[str] = frozenset()) -> list[str]:
    """The runtime form of the test-suite's plan discipline: scan a
    DataFrame's plan for the shapes that are fine at sf0.01 and fatal at
    100 TB, BEFORE executing it.

    Rules (each suppressible via ``allow``):

    - ``cartesian``: a CartesianProduct anywhere (data-sized all-pairs).
      Broadcast NLJ over a provably bounded side is not flagged — the
      caller vouches for boundedness by broadcasting.
    - ``global_window``: a window function with an empty PARTITION BY
      whose input is NOT truncated by Spark's rank-filter rewrite — the
      single-partition global sort that serializes the whole input on one
      task (use ``distributed_rank`` instead). Detected on the PHYSICAL
      plan with balanced-paren parsing, so call-expression order keys
      (``coalesce(a, b) ASC``) cannot slip through, and top-k windows the
      optimizer already bounded (TakeOrderedAndProject / WindowGroupLimit)
      are not false-positives.
    - ``python_udf``: row-at-a-time Python evaluation (BatchEvalPython);
      Arrow-batched Pandas UDFs / mapInPandas are allowed.
    - ``data_broadcast``: an explicit broadcast hint sitting directly on
      an unfiltered non-dimension base-table scan — a broadcast that grows
      with the data (the q34/r03/x76 round-6 bug class).
    """
    phys = explain_formatted(df)
    found = []
    if "cartesian" not in allow and has_cartesian(phys):
        found.append("cartesian: CartesianProduct over non-broadcast sides")
    if "global_window" not in allow:
        bad = unguarded_global_windows(phys)
        if bad:
            found.append(
                "global_window: window with empty PARTITION BY and no "
                f"bounding limit (physical node ids {bad}) "
                "(single-partition global sort)")
    if "python_udf" not in allow and "BatchEvalPython" in phys:
        found.append("python_udf: row-at-a-time Python UDF in the plan")
    if "data_broadcast" not in allow:
        for head in unbounded_broadcast_subtrees(df):
            found.append(
                f"data_broadcast: broadcast hint on an unfiltered "
                f"base-table scan ({head[:100]})")
    return found


def assert_scalable(df: DataFrame, allow: set[str] = frozenset()) -> None:
    """Raise :class:`PlanScaleError` if the plan has a known unscalable
    shape — the guard a production job wraps around a dynamically-built
    query before submitting it to a 1000-executor cluster."""
    found = plan_scale_violations(df, allow=allow)
    if found:
        raise PlanScaleError(
            "plan contains shapes that do not survive scale-up:\n  "
            + "\n  ".join(found))
