"""Physical-plan introspection — the engine's scale-discipline gauge.

The 100 TB contract is a property of the PLAN, not the result: a query
that returns the right rows but scans every column, shuffles when it
needn't, or falls back to a cartesian product is wrong at scale even
when it is right at sf0.01. These helpers parse `explain("formatted")`
output into checkable facts so tests can pin the plan shape the same
way the oracle pins the values (SURVEY §4).

Parsing the explain text (rather than walking the JVM plan tree over
py4j) keeps this pure-Python and version-tolerant; the strings matched
("PushedFilters", "BroadcastHashJoin", "Exchange", "CartesianProduct")
are stable public Spark UI vocabulary.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """`explain("formatted")` output as a string (executed plan after
    Catalyst, before AQE runtime re-optimization)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates pushed into the file scans, one string per scan
    in :func:`read_schema_columns` order; empty string means a scan with
    nothing pushed, including a scan that prints no PushedFilters line
    (one reading ``_metadata`` columns). The list runs to the LAST ``]``
    of its line: a pushed filter can hold brackets of its own
    (``In(path, [...])``)."""
    out = []
    for node in re.split(r"\n\(\d+\) ", formatted_plan(df)):
        if re.search(r"^ReadSchema: ", node, re.M):
            m = re.search(r"^PushedFilters: \[(.*)\]", node, re.M)
            out.append(m.group(1).strip() if m else "")
    return out


def _split_top_level(body: str) -> list[str]:
    """Split a struct body on commas at nesting depth 0 only — a naive
    split breaks on the first nested type (array<…>/map<…>/struct<…>)."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column names each parquet scan actually reads (ReadSchema) — the
    column-pruning gauge: a 2-column projection must not read 16.

    Greedy to the line's LAST '>' plus a depth-aware field split: the
    old non-greedy ``struct<(.*?)>`` stopped at the first '>', so every
    column after a nested-typed column silently vanished from the
    report and the pruning assertions went blind there (review r6)."""
    plan = formatted_plan(df)
    out: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<(.*)>", plan):
        fields = _split_top_level(m.group(1))
        # a truncated render ("... N more fields") has no ':' — skip it
        out.append([f.split(":")[0].strip() for f in fields if ":" in f])
    return out


def _node_count(df: DataFrame, op_pattern: str) -> int:
    """Count physical operators by their detail header ``(N) <Op>`` —
    each node appears once there; the tree rendering above would
    double-count."""
    return len(re.findall(rf"\(\d+\) (?:{op_pattern})\b", formatted_plan(df)))


def scan_count(df: DataFrame) -> int:
    """Number of file scans in the plan (re-reads of the same table count
    separately — a gauge for accidental plan duplication)."""
    return _node_count(df, "Scan parquet")


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges. Every one is a full network
    re-partition of its input at 100 TB — the fewer, the better."""
    return _node_count(df, "Exchange")


def broadcast_join_count(df: DataFrame) -> int:
    """Number of broadcast joins (hash or nested-loop). Star-schema dim
    joins must land here, not in sort-merge."""
    return _node_count(df, "BroadcastHashJoin|BroadcastNestedLoopJoin")


def cartesian_product_count(df: DataFrame) -> int:
    """Number of cartesian products — with no join keys AND no broadcast
    this is the O(n*m) disaster switch; anything nonzero should be a
    deliberate, size-bounded choice."""
    return _node_count(df, "CartesianProduct")


def unpartitioned_window_count(df: DataFrame) -> int:
    """Number of WindowExec nodes with an EMPTY partition spec — the
    ones Spark warns "Moving all data to a single partition" about. At
    100 TB such a node serializes the whole input through one task;
    `operators/ranks.py` exists so no registered query needs one.

    Detection: in the physical plan's tree rendering a Window node
    prints its non-empty specs as bracket groups —
    ``Window [exprs], [partitionSpec], [orderSpec]`` fully specified,
    ``Window [exprs], [partitionSpec]`` partition-only (global frame),
    ``Window [exprs], [orderSpec]`` ordered-unpartitioned, and
    ``Window [exprs]`` for a fully-global frame. Three groups is
    always partitioned; with two, the node is unpartitioned iff the
    last group is an ORDER spec (its entries carry ``ASC``/``DESC``
    sort markers, which bare partition columns never do); one group is
    always unpartitioned. Bracket counting is depth-aware (expressions
    nest brackets, e.g. array literals)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = 0
    for line in plan.splitlines():
        # standalone Window node only: "WindowGroupLimit [" does not
        # match (no space between "Window" and "["), and the preceding
        # char must not extend the node name
        m_node = re.search(r"(?<![A-Za-z])Window \[", line)
        if not m_node:
            continue
        idx = m_node.start()
        depth = 0
        groups: list[list[str]] = []
        for ch in line[idx + len("Window "):]:
            if ch == "[":
                if depth == 0:
                    groups.append([])
                depth += 1
            elif ch == "]":
                depth -= 1
            elif depth >= 1 and groups:
                groups[-1].append(ch)
        if len(groups) >= 3:
            continue
        last = "".join(groups[-1]) if groups else ""
        if len(groups) <= 1 or " ASC" in last or " DESC" in last:
            n += 1
    return n


def runtime_bloom_filter_present(df: DataFrame) -> bool:
    """True iff the optimized plan prunes a shuffle-join's probe side
    with a runtime bloom filter (``might_contain`` over a
    ``bloom_filter_agg`` subquery). The 100 TB story: when the dim side
    is too big to broadcast, Spark builds a bloom filter from the
    filtered dim keys and applies it BEFORE the fact side's shuffle, so
    rows that cannot join never cross the network. This inspects the
    final plan string — evaluate it inside the conf scope that enabled
    the filter."""
    return "might_contain" in formatted_plan(df)
