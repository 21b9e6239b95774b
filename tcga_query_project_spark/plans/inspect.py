"""Physical-plan capture and assertions over public explain output.

Everything reads ``df.explain`` text (public API, stable enough for the
properties asserted here: operator presence, pushed filters, read
schemas, exchange counts). With AQE on, run an action first and the
captured plan is the *final* adaptive plan — what actually executed,
not the static guess.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (``mode``: simple / extended /
    formatted / cost). After an action on ``df``, reflects the final
    AQE plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


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
    # (formatted mode splits it into an Arguments: line); ReusedExchange
    # prints as its own operator, so each materialized shuffle counts once.
    plan = formatted_plan(df, "simple")
    return len(re.findall(r"\bExchange hashpartitioning", plan)) + len(
        re.findall(r"\bExchange rangepartitioning", plan)
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
