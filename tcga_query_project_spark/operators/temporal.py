"""Temporal join operators (beyond the reference surface; SURVEY.md
§2.3 notes the reference has no as-of/range joins — they're part of the
engine's complete surface because event-table workloads need them).

As-of join: for each left event, the most recent right event at or
before it, per key — the time-series primitive DuckDB spells
``ASOF JOIN`` and Spark lacks as a built-in.

Implementation is the union-tag trick, NOT a range theta-join: a theta
join on ``r.ts <= l.ts`` plans as a broadcast nested-loop (quadratic
per key); instead both sides union into one stream, one window sorted
by (key, ts) carries the last right payload forward, and left rows
read it. One shuffle, linear state, scales to any key cardinality —
the same pattern Structured Streaming uses for stream-stream interval
joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tcga_query_project_spark.functions.scalar import qident


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: every ``left`` row gains the ``payload_cols`` of
    the matched ``right`` row with the same ``on`` key, where the match
    is selected by ``direction``:

    - ``"backward"`` (default): latest right row with ``right.ts <=
      left.ts`` — the classic ASOF (kdb ``aj``, DuckDB ``ASOF JOIN``);
    - ``"forward"``: earliest right row with ``right.ts >= left.ts``
      (pandas ``merge_asof(direction='forward')``);
    - ``"nearest"``: whichever of the two is closer in time, ties
      going to the backward match (pandas ``direction='nearest'``).

    Nulls when no matching right row exists on the required side.

    Ties (right.ts == left.ts): the right row counts (``>=``/``<=``
    inclusive on both directions). When several RIGHT rows share the
    exact same (key, ts), the winner is UNDEFINED — the (ts, side-tag)
    sort is not a total order over them, so it can change across
    partitionings/retries; pre-aggregate the right side to unique
    (key, ts) whenever duplicates are possible (the catalog queries
    do).

    The nearest pick compares distances in epoch MICROSECONDS when the
    ts columns are timestamps, else in the columns' own numeric units —
    time arithmetic here is exact-integer for timestamps (a ``double``
    epoch-seconds cast has ~0.24 µs of FP granularity at current
    epochs, enough to flip a nearest-tie).

    All directions stay one shuffle: forward is the backward pass on
    the reversed (ts, side) ordering; nearest evaluates both running
    windows over the SAME hash(key) exchange (Spark inserts one
    exchange and two sorts) and picks per row — never a second shuffle
    or a range theta-join.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction!r}")
    # the _side/_ets/_r_* names are RESERVED (docstring): a left column
    # with one of those names would silently duplicate under the
    # select form (withColumn would replace it) — fail loud instead
    reserved = {"_side", "_ets", *(f"_r_{c}" for c in payload_cols)}
    collisions = sorted(set(left.columns) & reserved)
    if collisions:
        raise ValueError(
            f"asof_join: left columns {collisions} collide with the "
            "reserved _side/_ets/_r_<payload> names — rename them first"
        )
    _ts_is_timestamp = dict(left.dtypes)[left_ts].startswith("timestamp")

    def _num(col: str) -> str:
        # exact time arithmetic: integer micros for timestamps (a
        # double epoch-seconds cast cannot represent µs differences)
        return (
            f"CAST(unix_micros({col}) AS DOUBLE)"
            if _ts_is_timestamp
            else f"CAST({col} AS DOUBLE)"
        )

    # Single-parse SQL expressions (one parse per side
    # instead of a py4j round trip per column; identical plans,
    # hash-checked). Right payloads travel under reserved names so a
    # left column with the same name never conflates with them in the
    # union.
    q = qident
    l_tagged = left.selectExpr(
        "*",
        "1 AS _side",
        f"{q(left_ts)} AS _ets",
        *[f"NULL AS {q(f'_r_{c}')}" for c in payload_cols],
    )
    # SQL equi-join key semantics: a NULL key matches NOTHING. The
    # union-tag window groups NULL keys into one partition (window
    # partitioning treats NULL as a value), so without this filter a
    # NULL-key left row would as-of-match a NULL-key right row — which
    # no JOIN ... ON l.k = r.k (incl. DuckDB/pandas ASOF) ever
    # produces. Dropping NULL-key RIGHT rows makes the NULL-key
    # partition all-left: those rows emit with NULL payloads, exactly
    # the left-join convention (pinned by the NULL-group fuzz grid).
    r_base_cols = {on, "_ets", *(f"_r_{c}" for c in payload_cols), "_side"}
    r_tagged = right.filter(f"{q(on)} IS NOT NULL").selectExpr(
        q(on),
        f"{q(right_ts)} AS _ets",
        *[f"{q(c)} AS {q(f'_r_{c}')}" for c in payload_cols],
        "0 AS _side",
        *[f"NULL AS {q(c)}" for c in left.columns if c not in r_base_cols],
    )
    unioned = l_tagged.unionByName(r_tagged.select(*l_tagged.columns))

    # carry the whole right payload as ONE struct: the struct is
    # non-null for every right row even when individual payload fields
    # are null, so ignorenulls skips left rows only — a null payload in
    # the matched right row is carried faithfully.
    fields = ", ".join(
        ["_ets AS _ts"] + [f"{q(f'_r_{c}')} AS {q(c)}" for c in payload_cols]
    )
    payload_struct = f"CASE WHEN _side = 0 THEN struct({fields}) END"

    def running(desc: bool) -> str:
        # right rows (side 0) sort before left rows at equal ts in BOTH
        # orderings → a right row at exactly left.ts is visible to that
        # left row (inclusive semantics); ascending order carries the
        # latest-at-or-before, descending the earliest-at-or-after
        order = "_ets DESC" if desc else "_ets ASC"
        return (
            f"last({payload_struct}, true) OVER (PARTITION BY {q(on)} "
            f"ORDER BY {order}, _side ASC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )

    if direction == "backward":
        asof = running(desc=False)
    elif direction == "forward":
        asof = running(desc=True)
    else:
        bwd, fwd = running(desc=False), running(desc=True)
        lts = _num("_ets")
        bd = f"({lts} - {_num(f'({bwd})._ts')})"
        fd = f"({_num(f'({fwd})._ts')} - {lts})"
        asof = (
            f"CASE WHEN ({bwd}) IS NULL THEN {fwd} "
            f"WHEN ({fwd}) IS NULL THEN {bwd} "
            f"WHEN {bd} <= {fd} THEN {bwd} "
            f"ELSE {fwd} END"
        )
    carried = unioned.selectExpr(
        *[q(c) for c in left.columns],
        "_side",
        f"{asof} AS _asof",
    )
    out = carried.filter(F.col("_side") == 1).drop("_side")
    return out.selectExpr(
        *[q(c) for c in left.columns],
        "_asof._ts AS asof_ts",
        *[f"_asof.{q(c)} AS {q(f'asof_{c}')}" for c in payload_cols],
    )


def scd2_intervals(
    changes: DataFrame,
    key: str,
    ts: str,
    attr_cols: list[str],
    tiebreak: Column | None = None,
) -> DataFrame:
    """Build SCD-type-2 validity intervals from a change log: one row
    per (key, version) with ``valid_from`` / ``valid_to`` (null = still
    current) and ``is_current`` — the dimension-table companion of the
    catalog's ``cdc_latest_snapshot`` (which keeps only the last
    version; this keeps them all, queryable as-of any time via
    ``valid_from <= t AND (valid_to IS NULL OR t < valid_to)``).

    Consecutive changes that do not alter any of ``attr_cols`` collapse
    into one interval (the standard no-op-change suppression), so the
    output is minimal. Shape: one shuffle keyed by ``key``; two ordered
    windows (lag for change detection, lead for interval close) over
    the same partitioning — Spark reuses the sort.
    """
    order = [F.col(ts).asc()] + ([tiebreak] if tiebreak is not None else [])
    w = Window.partitionBy(key).orderBy(*order)
    changed = F.lit(False)
    for c in attr_cols:
        # null-safe inequality: a null -> value transition is a change
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    versioned = changes.withColumn(
        "_new_version",
        F.when(F.lag(ts).over(w).isNull() | changed, 1).otherwise(0),
    ).filter(F.col("_new_version") == 1)
    w2 = Window.partitionBy(key).orderBy(*order)
    return (
        versioned.withColumn("_next", F.lead(ts).over(w2))
        .select(
            F.col(key),
            *[F.col(c) for c in attr_cols],
            F.col(ts).alias("valid_from"),
            F.col("_next").alias("valid_to"),
            F.col("_next").isNull().alias("is_current"),
        )
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    payload_cols: list[str],
    bucket_width: int = 3600,
) -> DataFrame:
    """Point-in-interval join: every ``points`` row pairs with every
    ``intervals`` row of the same ``on`` key whose
    ``[start_ts, end_ts]`` (inclusive both ends) contains ``point_ts``
    — the temporal-join primitive (with as-of) that SURVEY §2.3 notes
    Spark lacks as a built-in.

    A naive ``ON p.ts BETWEEN i.start AND i.end`` plans as a broadcast
    nested loop (quadratic per key — the scale lint bans it). Instead
    the classic BUCKETIZED range join: timestamps quantize to
    ``bucket_width``-sized bins (``double``-cast units, e.g. seconds);
    each interval EXPLODES to one row per bin it covers, points map to
    their single bin, and the join becomes a hash equi-join on
    (key, bin) + an exact residual filter. Cost: one shuffle on a key
    whose cardinality is (keys x active bins) — no skew funneling —
    and interval fan-out of ceil(span/bucket_width) rows, so pick
    ``bucket_width`` near the TYPICAL interval span: at 100 TB, a
    too-small width multiplies the interval table, a too-large one
    degrades toward per-bin mini cross products (both visible, neither
    quadratic).

    Output: all ``points`` columns + ``start_ts``/``end_ts`` (aliased
    ``range_start``/``range_end``) + ``payload_cols`` (prefixed
    ``r_``). Inner-join semantics: unmatched points drop; left-outer
    callers can anti-join the complement back in.

    ``range_start``, ``range_end``, ``_bin`` and ``r_<payload>`` are
    RESERVED output names; a ``points`` column with any of them is
    rejected up front (silent overwrite of ``_bin`` would corrupt the
    join key; the rest would be ambiguous downstream).
    """
    reserved = {"range_start", "range_end", "_bin"} | {
        f"r_{c}" for c in payload_cols
    }
    clash = reserved & set(points.columns)
    if clash:
        raise ValueError(
            f"points columns collide with reserved range_join names: "
            f"{sorted(clash)}"
        )
    pz = points.withColumn(
        "_bin",
        F.floor(F.col(point_ts).cast("double") / F.lit(float(bucket_width)))
        .cast("long"),
    )
    s_bin = F.floor(
        F.col(start_ts).cast("double") / F.lit(float(bucket_width))
    ).cast("long")
    e_bin = F.floor(
        F.col(end_ts).cast("double") / F.lit(float(bucket_width))
    ).cast("long")
    iz = (
        intervals.filter(F.col(start_ts) <= F.col(end_ts))
        .select(
            F.col(on),
            F.col(start_ts).alias("range_start"),
            F.col(end_ts).alias("range_end"),
            *[F.col(c).alias(f"r_{c}") for c in payload_cols],
            F.explode(F.sequence(s_bin, e_bin)).alias("_bin"),
        )
    )
    return (
        pz.join(iz, [on, "_bin"])
        .filter(
            (F.col(point_ts) >= F.col("range_start"))
            & (F.col(point_ts) <= F.col("range_end"))
        )
        .drop("_bin")
    )


def sessionize(
    events: DataFrame,
    key: str,
    ts: str,
    gap: Column,
) -> DataFrame:
    """Assign a SESSION ID to every event: a new session starts when
    the gap to the previous event of the same ``key`` EXCEEDS ``gap``
    (same-units Column as a ``double`` cast of ``ts``; strict ``>`` —
    verified empirically against Spark's ``session_window``, which
    merges an event arriving exactly ``gap`` after its predecessor, so
    row labels agree with the window aggregate; the agreement is
    pinned by test). The row-level companion of the session-window
    AGGREGATE (streaming/windows): that one yields per-session
    rollups; this one labels the events themselves so arbitrary
    downstream logic (funnels, per-session joins, ordering features)
    can group on ``session_id``.

    ``session_id`` is deterministic and engine-portable: the epoch
    value (double) of the session's FIRST event, composed with the key
    by the caller if a globally unique id is needed. Rows with a NULL
    ``ts`` sort first and land in a session whose id is NULL (min over
    only-nulls) — filter them upstream if null-keyed groupBys would
    silently drop them; NULL ``key`` rows group together per Spark
    window semantics. One shuffle
    (hash(key)), two windows on the same sort (lag for the
    new-session flag, running max… actually a running SUM of flags
    picks the session ordinal, then a grouped min lifts the start) —
    all codegen, no state beyond the sort.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    tsd = F.col(ts).cast("double")
    prev = F.lag(F.col(ts)).over(w).cast("double")
    new_flag = F.when(
        prev.isNull() | ((tsd - prev) > gap), F.lit(1)
    ).otherwise(F.lit(0))
    wsum = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = events.withColumn(
        "_sess_ord", F.sum(new_flag).over(wsum)
    )
    wstart = Window.partitionBy(key, "_sess_ord")
    return flagged.withColumn(
        "session_id", F.min(tsd).over(wstart)
    ).drop("_sess_ord")


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    ts: str,
    op_col: str,
    tiebreak: Column | None = None,
) -> DataFrame:
    """MERGE a keyed snapshot with an I/U/D change log — the batch
    upsert Delta's ``MERGE INTO`` performs, as plain DataFrame ops:

    - keys absent from the log keep their snapshot row;
    - keys whose LATEST log entry (by ``ts``, then ``tiebreak``) is an
      insert/update ('I'/'U') take that entry's attribute values
      (full-row replacement semantics);
    - keys whose latest entry is a delete ('D') disappear.

    ``changes`` must carry the snapshot's schema plus ``ts`` and
    ``op_col``; the output has exactly the snapshot's schema. Shape:
    one window over the log keyed by ``key`` (the log, not the
    snapshot, pays the sort) + one left-anti join + a union — the
    snapshot is never window-sorted, which is the scale asymmetry that
    matters (logs are deltas; snapshots are the 100 TB side). Late
    replays are idempotent: applying the same log twice yields the
    same snapshot (the window picks the same latest entry).

    Companions: ``cdc_latest_snapshot`` (catalog) compacts a pure log
    with no base snapshot; :func:`scd2_intervals` keeps every version
    instead of the last.
    """
    from pyspark.sql.window import Window

    # tiebreak is a complete sort-order expression, used AS GIVEN —
    # the same convention as scd2_intervals (pass .desc() for
    # latest-wins among equal timestamps; wrapping it again would nest
    # SortOrder nodes and crash at execution)
    order = [F.col(ts).desc()] + (
        [tiebreak] if tiebreak is not None else []
    )
    w = Window.partitionBy(key).orderBy(*order)
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # null-safe: only an explicit 'D' deletes. A NULL/unknown op on the
    # latest entry must fall through to upsert — a plain != would
    # evaluate NULL, drop the row from upserts, AND still anti-join the
    # key out of the snapshot: silent data loss from one malformed CDC
    # record
    upserts = latest.filter(
        ~F.col(op_col).eqNullSafe(F.lit("D"))
    ).select(*snapshot.columns)
    untouched = snapshot.join(
        latest.select(key), key, "left_anti"
    )
    return untouched.unionByName(upserts)


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    key: str,
) -> DataFrame:
    """Key-level diff of two snapshots of one table: ``(key, change,
    changed_cols ARRAY<STRING>)`` with ``change`` ∈ {'added',
    'removed', 'changed'} — unchanged keys are absent. The inverse
    companion of :func:`apply_cdc` (which consumes a change log, while
    this RECOVERS one from two table states — regression-testing a
    pipeline rewrite, validating a backfill, or bootstrapping CDC for
    a source that has none).

    One full-outer NULL-SAFE equi-join on ``key`` (the one unavoidable
    shuffle each side; null-safe so a NULL-keyed row diffs against its
    counterpart instead of misreading the join miss as added+removed —
    with the usual keyed-table caveat that several NULL-keyed rows per
    side make the match ambiguous), null-safe per-column comparison
    (NULL → value IS a change, NULL == NULL is not), column set = the
    shared non-key columns. Map-typed columns compare by their sorted
    entry arrays (``<=>`` cannot order maps). Presence is detected via
    marker columns, never key nullability. Schema-drift columns
    present on only one side are ignored here — they are a schema
    diff, not a data diff; compare ``old.columns``/``new.columns``
    directly for that.
    """
    new_cols = set(new.columns)
    attr_cols = [c for c in old.columns if c != key and c in new_cols]
    old_types = dict(old.dtypes)

    def _cmp(c: str, side: str):
        col = F.col(f"_{side}_{c}")
        # eqNullSafe cannot order MapType; sorted entries can
        if old_types.get(c, "").startswith("map<"):
            return F.array_sort(F.map_entries(col))
        return col

    o = old.select(
        F.col(key).alias("_ko"),
        F.lit(True).alias("_po"),
        *[F.col(c).alias(f"_o_{c}") for c in attr_cols],
    )
    n = new.select(
        F.col(key).alias("_kn"),
        F.lit(True).alias("_pn"),
        *[F.col(c).alias(f"_n_{c}") for c in attr_cols],
    )
    joined = o.join(n, F.col("_ko").eqNullSafe(F.col("_kn")), "full_outer")
    changed_cols = F.filter(
        F.array(
            *[
                F.when(
                    ~_cmp(c, "o").eqNullSafe(_cmp(c, "n")),
                    F.lit(c),
                )
                for c in attr_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    change = (
        F.when(F.col("_po").isNull(), F.lit("added"))
        .when(F.col("_pn").isNull(), F.lit("removed"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
    )
    return (
        joined.select(
            F.coalesce(F.col("_ko"), F.col("_kn")).alias(key),
            change.alias("change"),
            F.when(
                change == "changed", changed_cols
            ).otherwise(F.array().cast("array<string>")).alias(
                "changed_cols"
            ),
        )
        .filter(F.col("change").isNotNull())
    )


def maintain_grouped_agg(
    base_agg: DataFrame,
    log: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Incremental maintenance of a grouped count/sum/avg aggregate
    from a CDC change log — the materialized-view maintenance step of
    a streaming warehouse: the base fact is NEVER rescanned; only the
    (delta-sized) log is aggregated and merged into the existing
    aggregate table. At 100 TB base / GB-scale daily deltas this is
    the difference between a seconds-long merge and a full recompute.

    Contract:

    - ``base_agg``: ``(group_cols..., cnt BIGINT, cnt_x BIGINT,
      sum_x DOUBLE)`` — the previously materialized aggregate (as
      produced by :func:`grouped_agg_snapshot` or any equivalent
      groupBy). ``cnt_x`` counts NON-NULL values: without it the
      maintained SUM cannot distinguish "all values NULL" (SQL SUM =
      NULL) from "values cancel to zero" (SUM = 0.0) — pinned by the
      NULL-value fuzz grid (a group whose x column is entirely
      NULL must report sum_x NULL, exactly like a recompute).
    - ``log``: Debezium-shaped rows with before/after images:
      ``op`` in {'I','U','D'}, ``before_<group>``/``before_x`` (valid
      for U/D), ``after_<group>``/``after_x`` (valid for I/U). An
      update contributes -1/-x at its BEFORE group and +1/+x at its
      AFTER group, so group-moving updates maintain correctly.
    - Output: the new ``(group_cols..., cnt, cnt_x, sum_x, avg_x)``
      with zero-count groups dropped (``cnt_x``/``sum_x``/``avg_x``
      NULL-consistent with SQL aggregates over the patched fact) —
      bitwise the aggregate a full recompute would produce (the
      catalog oracle IS that recompute, so the hash match is a
      cross-engine proof of incremental == recompute on integer-exact
      sums). The output is itself a valid ``base_agg`` for the next
      delta.

    Shape: two narrow projections of the log (retractions, additions)
    -> one union -> one groupBy(group) delta aggregate -> one
    full-outer merge with the base aggregate (group-cardinality-sized
    on both sides). No window, no fact scan.
    """
    retract = log.filter(F.col("op").isin("U", "D")).select(
        *[F.col("before_" + g).alias(g) for g in group_cols],
        F.lit(-1).cast("long").alias("_dc"),
        (-F.col("before_x").isNotNull().cast("long")).alias("_dcx"),
        (-F.col("before_x")).alias("_dx"),
    )
    add = log.filter(F.col("op").isin("I", "U")).select(
        *[F.col("after_" + g).alias(g) for g in group_cols],
        F.lit(1).cast("long").alias("_dc"),
        F.col("after_x").isNotNull().cast("long").alias("_dcx"),
        F.col("after_x").alias("_dx"),
    )
    delta = (
        retract.unionByName(add)
        .groupBy(*group_cols)
        .agg(
            F.sum("_dc").alias("_dcnt"),
            F.sum("_dcx").alias("_dcntx"),
            F.sum("_dx").alias("_dsum"),
        )
    )
    # NULL-safe merge: a full_outer join on bare group_cols would never
    # match a NULL-keyed base row to its delta row (NULL = NULL is NULL),
    # leaving two rows for that group — stale base counts plus a
    # delta-only row. Joining on a single struct key instead uses struct
    # equality, which treats NULL fields as equal (the same pattern
    # quantile_strata uses), so NULL-keyed groups merge correctly.
    base_k = base_agg.select(
        F.struct(*[F.col(g) for g in group_cols]).alias("_k"),
        "cnt",
        "cnt_x",
        "sum_x",
    )
    delta_k = delta.select(
        F.struct(*[F.col(g) for g in group_cols]).alias("_k"),
        "_dcnt",
        "_dcntx",
        "_dsum",
    )
    new_cnt_x = (
        F.coalesce(F.col("cnt_x"), F.lit(0))
        + F.coalesce(F.col("_dcntx"), F.lit(0))
    )
    merged = base_k.join(delta_k, "_k", "full_outer").select(
        *[F.col("_k")[g].alias(g) for g in group_cols],
        (
            F.coalesce(F.col("cnt"), F.lit(0))
            + F.coalesce(F.col("_dcnt"), F.lit(0))
        ).alias("cnt"),
        new_cnt_x.alias("cnt_x"),
        # SQL SUM over zero non-NULL values is NULL, not 0.0 — gate
        # the coalesced arithmetic on the maintained non-null count so
        # an all-NULL-x group reports sum_x NULL like a recompute
        F.when(
            new_cnt_x > 0,
            F.coalesce(F.col("sum_x"), F.lit(0.0))
            + F.coalesce(F.col("_dsum"), F.lit(0.0)),
        ).alias("sum_x"),
    )
    return merged.filter(F.col("cnt") > 0).withColumn(
        "avg_x", F.col("sum_x") / F.col("cnt")
    )


def grouped_agg_snapshot(
    fact: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """The base aggregate :func:`maintain_grouped_agg` maintains:
    ``(group_cols..., cnt, sum_x)`` — materialize once over the full
    fact, then maintain from logs forever."""
    return fact.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.count(F.col(value_col)).cast("long").alias("cnt_x"),
        F.sum(F.col(value_col)).alias("sum_x"),
    )


#: Conversion window of :func:`funnel`: 7 days in epoch microseconds.
FUNNEL_SPAN_US = 604_800_000_000


def funnel(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """K-stage event funnel (signup -> click -> purchase ...): for each
    user who performed stage 1, the EARLIEST strictly-increasing chain
    of stage timestamps — the conversion query of every product
    analytics engine (ClickHouse ``windowFunnel``, Amplitude funnels).

    Semantics, stated precisely: ``t1`` is the user's first stage-1
    event; ``t_i`` is the first stage-i event strictly AFTER
    ``t_(i-1)``; a user converts when every stage matched and
    ``t_k - t1 <= FUNNEL_SPAN_US`` (7 days). Earliest-chain is
    deterministic and engine-portable; it is the strict variant of
    funnel matching (a user whose only full chain starts at a LATER
    stage-1 occurrence does not convert — the standard trade the
    greedy funnel makes; re-run with a later analysis window to see
    those).

    Output: one row per stage-1 user — ``(user_col, t1_us..tk_us
    BIGINT nullable, stages_completed BIGINT, converted BOOLEAN)``.
    Timestamps are epoch MICROS (the catalog's engine-portable
    convention), and ``t_i`` NULL implies all later stages NULL.

    Shape: the event stream is filtered to the stage types once, then
    each stage is one user-keyed aggregate joined (left) onto the
    accumulating per-user chain — k-1 co-partitioned user-key joins of
    user-cardinality tables plus k filtered-scan aggregates, no
    windows, no per-user arrays (a collect_list walk would bound state
    by the heaviest user; this form never materializes a user's
    events). Reference analog: none (serves the event-analytics
    surface beside sessionize/asof).
    """
    if len(stages) < 2:
        raise ValueError("funnel needs at least 2 stages")
    ev = events.select(
        F.col(user_col).alias("_u"),
        F.unix_micros(F.col(ts_col)).alias("_ts"),
        F.col(type_col).alias("_tp"),
    ).filter(F.col("_tp").isin(list(stages)))
    cur = (
        ev.filter(F.col("_tp") == stages[0])
        .groupBy("_u")
        .agg(F.min("_ts").alias("t1_us"))
    )
    for i, stage in enumerate(stages[1:], start=2):
        prev_t = f"t{i - 1}_us"
        nxt = (
            ev.filter(F.col("_tp") == stage)
            .join(cur.select("_u", prev_t), "_u")
            .filter(F.col("_ts") > F.col(prev_t))
            .groupBy("_u")
            .agg(F.min("_ts").alias(f"t{i}_us"))
        )
        cur = cur.join(nxt, "_u", "left")
    k = len(stages)
    completed = F.lit(1)
    for i in range(2, k + 1):
        completed = completed + F.col(f"t{i}_us").isNotNull().cast("int")
    last = F.col(f"t{k}_us")
    conv = last.isNotNull() & (last - F.col("t1_us") <= F.lit(FUNNEL_SPAN_US))
    return cur.select(
        F.col("_u").alias(user_col),
        *[F.col(f"t{i}_us") for i in range(1, k + 1)],
        completed.cast("bigint").alias("stages_completed"),
        F.coalesce(conv, F.lit(False)).alias("converted"),
    )


def retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    period_us: int,
) -> DataFrame:
    """Cohort retention matrix — the other half of event analytics
    beside :func:`funnel`: users are cohorted by the period of their
    FIRST activity; for each (cohort, later period) the fraction of
    the cohort still active. Periods are integer indexes
    ``floor(epoch_us / period_us)`` — pure integer arithmetic, so
    both engines bucket identically (calendar date-trunc functions
    have timezone/week-start divergences this deliberately avoids;
    callers wanting calendar weeks pass 7-day ``period_us`` and align
    the epoch themselves).

    Output: ``(cohort_period BIGINT, period_offset BIGINT [0 = the
    cohort's own period], n_active BIGINT, cohort_size BIGINT,
    retention DOUBLE [rounded 6])`` — one row per (cohort, offset)
    with activity; offset-0 retention is 1.0 by construction.

    Shape: one user-keyed min-aggregate (first activity), one
    distinct over (user, period) — both user/user-period-sized — a
    co-partitioned join back on user, then a (cohort, offset) count
    aggregate and a broadcast-sized cohort-size join. No windows; the
    event stream is scanned twice (first-seen, activity), both
    scans column-pruned to (user, ts).
    """
    ev = events.select(
        F.col(user_col).alias("_u"),
        F.floor(F.unix_micros(F.col(ts_col)) / F.lit(int(period_us)))
        .cast("long")
        .alias("_p"),
    )
    first = ev.groupBy("_u").agg(F.min("_p").alias("cohort_period"))
    active = ev.distinct()
    cells = (
        active.join(first, "_u")
        .groupBy(
            "cohort_period",
            (F.col("_p") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    sizes = first.groupBy("cohort_period").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    return cells.join(F.broadcast(sizes), "cohort_period").select(
        "cohort_period",
        "period_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


def transition_matrix(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the path-analysis primitive behind "what do users do
    after X" sankeys, next-step prediction baselines, and bot detection
    (a scripted client's transition rows are near-deterministic while
    organic traffic is diffuse).

    Each user's events are ordered by ``(ts, tiebreak)`` — the caller
    must supply a UNIQUE tiebreak column (event_id) because transition
    pairs under timestamp collisions are otherwise engine-dependent
    (same total-order discipline as every window in this engine).
    Consecutive pairs ``(from_type, to_type)`` are counted across the
    corpus and row-normalized:

    Output: ``(from_type, to_type, n BIGINT, p DOUBLE)`` with
    ``p = round(n / Σ_to n, 6)`` — each from-state's row sums to ~1.
    A NULL event type is a real state (groups as its own row, both
    engines); the sequence END is not a state — last events emit no
    pair (detected via ``lead(TRUE)``, which distinguishes
    "no next row" from "next row's type is NULL").

    Shape: one user-keyed window (high-cardinality partition — sorts
    parallelize across users; within-user state never exceeds that
    user's events) feeding one partial-aggregated ``(from, to)``
    count. The normalizing window runs on the AGGREGATED matrix —
    |states|² rows regardless of corpus size. Nothing else shuffles.
    Reference analog: none (event-analytics surface beside
    funnel/retention/sessionize).
    """
    w = Window.partitionBy(F.col(user_col)).orderBy(
        F.col(ts_col).asc_nulls_first(), F.col(tiebreak_col).asc()
    )
    pairs = (
        events.select(
            F.col(type_col).alias("from_type"),
            F.lead(F.col(type_col)).over(w).alias("to_type"),
            F.lead(F.lit(True)).over(w).alias("_has_next"),
        )
        .filter(F.col("_has_next"))
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_row = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_row), 6).alias("p"),
    )


def resample_periods(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period_us: int,
    *,
    max_periods_per_key: int = 1 << 20,
) -> DataFrame:
    """Per-key time-series regularization (resample + gap-fill): bucket
    events into fixed integer periods, then DENSIFY each key's series
    over its own [first, last] bucket range — the step every
    feature/training pipeline runs before windowed models, because
    "no events that day" must become an explicit zero row (counts) and
    a carried-forward level (gauges), not a silently missing row.

    Integer epoch-bucket arithmetic (``unix_micros div period_us``) —
    the same calendar-free convention as :func:`retention`; pre-1970
    timestamps are out of contract (trunc-vs-floor division would
    disagree across engines there). Rows with a NULL key or NULL
    timestamp are dropped (resampling an unidentified entity/time is
    meaningless — mirror the filter when comparing engines).

    Output, one row per (key, period) in the dense range:
    ``n`` / ``total`` — events and value-sum in the bucket (0 for gap
    rows; a bucket whose events all carry NULL values keeps ``total``
    NULL, so it stays distinguishable from a zero-sum bucket);
    ``carried`` — the last observed bucket's value-sum,
    forward-filled. A bucket whose events ALL have a NULL value sums
    to NULL and carries nothing, so ``carried`` IS NULL until the
    key's first non-NULL-valued bucket (both engines agree; don't
    assume non-NULL unless the value column is) — with a non-null
    value column it is never NULL, since each key's range starts at
    its first observed bucket. ``value_col`` should be an
    exact-integer unit column (cents, tokens) when cross-engine
    stability of sums matters — same contract as ``pack_shards``
    tokens.

    Shape: one (key, bucket) partial-aggregated count shuffle; one
    key-cardinality roll-up for the ranges; the densification is a
    per-key ``sequence()`` explode — generation is embarrassingly
    parallel across keys, but ONE key's whole range materializes in
    one task, so a pathological span/period ratio is a skew bomb:
    ``max_periods_per_key`` (default ~1M) guards in-plan
    (raise_error) rather than letting a mis-set period silently
    produce a corpus-dwarfing dense table. The gap join is a
    co-partitioned (key, bucket) equi-join; the forward fill is a
    per-key window (high-cardinality partitions).

    Reference analog: none (event-analytics surface beside
    retention/funnel/transition_matrix).
    """
    b = F.expr(f"unix_micros({ts_col}) div {int(period_us)}")
    base = events.filter(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(key_col), b.alias("_b"), F.col(value_col).alias("_v"))
    agg = base.groupBy(key_col, "_b").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_v").alias("_t")
    )
    span = F.col("_max") - F.col("_min")
    rng = (
        agg.groupBy(key_col)
        .agg(F.min("_b").alias("_min"), F.max("_b").alias("_max"))
        .select(
            key_col,
            F.when(
                span >= int(max_periods_per_key),
                F.raise_error(
                    F.lit(
                        "resample_periods: a key spans more than "
                        f"{int(max_periods_per_key)} periods — raise "
                        "period_us or max_periods_per_key"
                    )
                ).cast("array<bigint>"),
            )
            .otherwise(F.sequence(F.col("_min"), F.col("_max")))
            .alias("_bs"),
        )
    )
    dense = rng.select(key_col, F.explode("_bs").alias("_b"))
    w = (
        Window.partitionBy(key_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dense.join(agg, [key_col, "_b"], "left")
        .select(
            F.col(key_col),
            F.col("_b").alias("period"),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n"),
            # coalesce only TRUE gap rows (no events: _n IS NULL) to 0;
            # a bucket whose events all carry NULL values keeps total
            # NULL — distinguishable from a genuine zero-sum bucket,
            # matching the documented ``carried`` NULL semantics
            F.when(F.col("_n").isNull(), F.lit(0))
            .otherwise(F.col("_t"))
            .alias("total"),
            F.last("_t", ignorenulls=True).over(w).alias("carried"),
        )
    )
