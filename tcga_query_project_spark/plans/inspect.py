"""Physical-plan capture and assertions over public explain output.

Everything reads ``df.explain`` text (public API, stable enough for the
properties asserted here: operator presence, pushed filters, read
schemas, exchange counts). With AQE on, run an action on ``df`` itself
first (``df.collect()``; a sink write runs a separate QueryExecution)
and the captured plan is the *final* adaptive plan — what actually
executed, not the static guess.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


_NODE_ID = re.compile(r"\((\d+)\)(?=,|\s*$)")
_DETAIL_HEADER = re.compile(r"^\((\d+)\) ")


def _final_only(text: str) -> str:
    """Drop every AQE ``Initial Plan`` tree from explain text, and in
    formatted mode the node details only those trees reference. A final
    adaptive plan prints its Final Plan and then its Initial Plan, so
    without this cut each shuffle would be counted twice."""
    kept: list[str] = []
    dropped: set[str] = set()
    cut = None  # indent of the Initial Plan marker being skipped
    for line in text.splitlines():
        indent = len(line) - len(line.lstrip())
        if cut is not None and line.strip() and indent > cut:
            dropped.update(_NODE_ID.findall(line))
            continue
        cut = indent if line.strip() == "+- == Initial Plan ==" else None
        if cut is None:
            kept.append(line)
    dropped -= {i for line in kept for i in _NODE_ID.findall(line)}
    out: list[str] = []
    skipping = False
    for line in kept:
        m = _DETAIL_HEADER.match(line)
        if m:
            skipping = m.group(1) in dropped
        if not skipping:
            out.append(line)
        elif not line.strip():
            skipping = False
    return "\n".join(out) + "\n"


def formatted_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (``mode``: simple / extended /
    formatted / cost). After an action on ``df``, it holds the final
    AQE plan only: the Initial Plan that explain prints after it is
    cut."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return _final_only(buf.getvalue())


def has_operator(df: DataFrame, op: str) -> bool:
    """True if the physical plan contains an operator whose name matches
    ``op`` (substring, e.g. "BroadcastHashJoin", "TakeOrderedAndProject",
    "BroadcastNestedLoopJoin")."""
    return op in formatted_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """Every scan's PushedFilters list, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """Each scan's ReadSchema struct body — what the scan actually
    reads; a projection that doesn't shrink this is not pruning."""
    return [
        m.group(1)
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))
    ]


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (excluding broadcast exchanges and
    AQE's reused/coalesced wrappers) — the number every extra groupBy /
    misaligned join pays for at scale."""
    # simple mode prints the partitioning inline with the node name
    # (formatted mode splits it into an Arguments: line). A final plan
    # prints a reuse as "ReusedExchange [...], Exchange hashpartitioning
    # (...)" on one line; skipping those lines counts each materialized
    # shuffle once.
    return sum(
        len(re.findall(r"\bExchange (?:hash|range)partitioning", line))
        for line in formatted_plan(df, "simple").splitlines()
        if "ReusedExchange" not in line
    )


def scale_lint(df: DataFrame) -> list[str]:
    """Heuristic red flags for the 100 TB path: row-at-a-time Python
    UDFs (BatchEvalPython), cartesian products without a broadcast side,
    and single-partition global sorts/windows. Returns human-readable
    findings (empty = clean)."""
    plan = formatted_plan(df)
    findings = []
    if "BatchEvalPython" in plan:
        findings.append(
            "row-at-a-time Python UDF (BatchEvalPython) — use built-ins "
            "or an Arrow-batched pandas UDF"
        )
    if "CartesianProduct" in plan:
        findings.append(
            "CartesianProduct — neither side broadcast; quadratic shuffle at scale"
        )
    # formatted mode prints the exchange's partitioning in the operator
    # detail footer ("Arguments: SinglePartition, ..."), NOT inline as
    # "Exchange SinglePartition" — so this check reads the simple-mode
    # tree (the formatted text alone is blind to every global
    # window). Flag only a Window whose subtree
    # REACHES a SinglePartition exchange before any other exchange —
    # mere co-occurrence (partitioned window + unrelated global
    # aggregate) is fine.
    simple = formatted_plan(df, mode="simple")
    lines = simple.splitlines()
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow\b", line):
            continue
        for nxt in lines[i + 1 : i + 4]:  # Window → (Sort) → Exchange
            if "Exchange SinglePartition" in nxt:
                findings.append(
                    "window over Exchange SinglePartition — a global "
                    "(unpartitioned) window collapses to one task at scale"
                )
                break
            if "Exchange" in nxt:
                break
        if findings and findings[-1].startswith("window over"):
            break
    return findings
