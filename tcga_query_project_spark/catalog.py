"""Driver-facing query catalog.

One named query per implemented operator from SURVEY.md §2, each bound
to the driver's testdata tables with a DuckDB oracle SQL mirror. The
driver runs both at sf0.01 and compares row count + schema +
order-insensitive value hash (see tests/oracle_harness.py).

Cross-engine determinism conventions (every query in this file follows
them; violating any one breaks the value-hash match):

- **Floats through transcendental/accumulation paths are rounded** on
  both sides — ROUND(x, 4) for money-scale sums, ROUND(x, 6) for
  ratios/statistics — because FP summation order and libm last-ulp
  differences are not portable. Raw parquet doubles pass through
  unrounded (identical bits in both engines).
- **Integer aggregates are cast to BIGINT on both sides** (DuckDB
  ``SUM(BIGINT)`` returns HUGEINT; DuckDB window ranks are BIGINT while
  Spark's are INT).
- **Every window ordering is a total order** (unique-key tiebreak):
  ntile/rank/limit on ties is otherwise engine-dependent.
- **Timestamps never appear in outputs or literals** — epoch
  micro/second integers only (``unix_micros`` / ``epoch_us``), so
  results cannot depend on session timezone.
- **DuckDB ``regexp_replace`` always gets the ``'g'`` flag** (Spark
  replaces globally by default).
- Aggregate/computed column names are aliased identically in the
  DataFrame code and the SQL (driver hashes after sorting columns by
  name).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tcga_query_project_spark.functions.scalar import (
    HASH_SPLIT_BUCKET_SQL,
    SIGNIF_BIN_SQL,
    md5_prefix_long,
    signif_bin,
)
from tcga_query_project_spark.operators import (
    bpe,
    dedup,
    glm,
    graph,
    nested,
    partitioning,
    relational,
    sampling,
    similarity,
    stats,
    survival,
    temporal,
    text,
)
from tcga_query_project_spark.sources.io import read_events, read_table
from tcga_query_project_spark.streaming import windows as stream_windows


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}

#: Queries benchmarked and unit-tested but NOT submitted to the
#: correctness driver (it verifies at most 48 entries, the alphabetical
#: prefix of the registry). Membership in either dict changes WHICH
#: harness attests an oracle, never whether it is attested:
#: tests/test_oracle_parity.py runs every BENCH_ONLY oracle through the
#: same comparison as the driver, and a query moved here keeps its
#: unit/plan/fuzz coverage unchanged.
BENCH_ONLY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, tags)
        return fn

    return deco


def register_bench_only(name: str, oracle: str | None, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        BENCH_ONLY[name] = QuerySpec(name, fn, oracle, tags)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return read_table(spark, sf_dir, name)


# =========================================================================
# Relational core (SURVEY.md §2.1-2.3, §2.6-2.9)
# =========================================================================

# orders/lineitem timestamps are TIMESTAMP_NTZ (wall-clock, no zone) in
# both engines, so NTZ-vs-NTZ-literal comparison is timezone-free.
_Q1_CUTOFF = "2001-09-02 00:00:00"


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order,
           {SIGNIF_BIN_SQL.format(p="ROUND(AVG(l_discount), 6)")} AS disc_signif
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) >= 10
    """,
    tags=("flagship", "A1", "A9", "O1", "P3"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY.md §7 step 1): the reference's core shape —
    filter → grouped cohort aggregate + HAVING (A1,
    vital_status_DESeq.R:47) → significance-style binning (A9,
    vital_status_DESeq.R:93-97) — recast over lineitem (TPC-H Q1-like).
    """
    li = _t(spark, sf_dir, "lineitem")
    avg_disc = F.round(F.avg("l_discount"), 6)
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                4,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            avg_disc.alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
            signif_bin(avg_disc).alias("disc_signif"),
        )
        .filter(F.col("count_order") >= 10)
    )


@register(
    "p3_p5_filters",
    """
    SELECT event_id, event_type, value
    FROM events
    WHERE value IS NOT NULL AND event_type != 'error' AND value > 100.0
    """,
    tags=("P3", "P5"),
)
def p3_p5_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 IS-NOT-NULL + P5 disequality filters
    (``!is.na(...)`` vital_status_DESeq.R:29; ``!= "Stage_X"``
    BRCA_path_stage_DESeq.R:45-46). Both predicates push into the scan.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        F.col("value").isNotNull()
        & (F.col("event_type") != "error")
        & (F.col("value") > 100.0)
    ).select("event_id", "event_type", "value")


@register_bench_only(
    "p4_isin_inlist",
    """
    SELECT p_partkey, p_brand, p_size FROM part
    WHERE p_brand IN ('Brand#13', 'Brand#20') AND p_size >= 5
    """,
    tags=("P4",),
)
def p4_isin_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: literal IN-list membership (``%in% goi``,
    vital_status_DESeq.R:88).

    BENCH_ONLY: its driver slot serves ``a6_poisson_wald`` (the GLM
    cross-check). No verification is lost: this query keeps its oracle
    here (tests/test_oracle_parity.py runs BENCH_ONLY through the
    identical comparison), and the P4 IN-list operator stays
    driver-visible through ``f_scalar_suite``'s IN-list column and
    ``j3_semi_join_dim``'s tags."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#13", "Brand#20") & (F.col("p_size") >= 5))
        .select("p_partkey", "p_brand", "p_size")
    )


@register(
    "j3_semi_join_dim",
    """
    SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13')
    """,
    tags=("J3", "P4"),
)
def j3_semi_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: derived-key semi-join through a broadcast filtered dimension
    (gene_name → gene_id lookup, vital_status_DESeq.R:102-104)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return relational.dim_lookup_semi(
        li, part.withColumnRenamed("p_partkey", "l_partkey"),
        F.col("p_brand") == "Brand#13", "l_partkey"
    ).select("l_orderkey", "l_partkey", "l_quantity")


@register(
    "p6_json_predicate",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
    """,
    tags=("P6",),
)
def p6_json_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: predicate over nested/JSON fields (the treatments OR
    predicate, drug_km_median_exp.R:50, as a JSON-property filter over
    events.props)."""
    ev = _t(spark, sf_dir, "events")
    k = nested.json_int(F.col("props"), "k")
    return ev.select("event_id", k.alias("k_val")).filter(F.col("k_val") > 50)


@register(
    "p7_cohort_semijoin",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
    tags=("P7",),
)
def p7_cohort_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: derived-cohort semi-join (treated-participant subset,
    drug_km_median_exp.R:55-56). Cohort list broadcasts."""
    orders = _t(spark, sf_dir, "orders")
    cohort = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return nested.cohort_semi_join(orders, cohort, "o_custkey").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "j1_left_join_enrich",
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 4) AS total_price,
           ROUND(AVG(c.c_acctbal), 6) AS mean_acctbal
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("J1",),
)
def j1_left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left equi-join fact ⟕ dimension then group
    (``left_join(clinical_data, gene_count, by="barcode")``,
    vital_status_DESeq.R:116). The dimension side is AQE size-decided
    (it broadcasts at any realistic dim size — plan test pins the
    BroadcastHashJoin); customer is SF-scaled, so a FORCED hint here
    would be the q17/q18 100 TB OOM class."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(
            cust,
            orders.o_custkey == cust.c_custkey,
            "left",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
            F.round(F.avg("c_acctbal"), 6).alias("mean_acctbal"),
        )
    )


@register(
    "a1_low_count_filter",
    """
    SELECT l_partkey, ROUND(SUM(l_quantity), 4) AS total
    FROM lineitem GROUP BY l_partkey HAVING SUM(l_quantity) >= 300
    """,
    tags=("A1",),
)
def a1_low_count_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-group sum + HAVING — the low-count gene filter
    (``rowSums(counts(data)) >= 10``, vital_status_DESeq.R:47-48)."""
    li = _t(spark, sf_dir, "lineitem")
    return relational.min_total_filter(li, "l_partkey", "l_quantity", 300.0).select(
        "l_partkey", F.round("total", 4).alias("total")
    )


@register(
    "a8_pairwise_contrasts",
    """
    WITH per_level AS (
      SELECT l_returnflag AS level, ROUND(AVG(l_quantity), 6) AS mean_qty,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT p.pair,
           a.mean_qty AS mean_a, b.mean_qty AS mean_b,
           ROUND(a.mean_qty - b.mean_qty, 6) AS diff,
           a.n AS n_a, b.n AS n_b
    FROM (VALUES ('A','N','A_vs_N'), ('A','R','A_vs_R'), ('N','R','N_vs_R'))
         p(level_a, level_b, pair)
    JOIN per_level a ON a.level = p.level_a
    JOIN per_level b ON b.level = p.level_b
    """,
    tags=("A8",),
)
def a8_pairwise_contrasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: pairwise contrast expansion over per-level partial aggregates
    (``results(..., contrast=c(col, A, B))`` fan-out,
    BRCA_path_stage_DESeq.R:113-122) — one pass over the fact table,
    pair list joined against the tiny per-level aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    per_level = li.groupBy(F.col("l_returnflag").alias("level")).agg(
        F.round(F.avg("l_quantity"), 6).alias("mean_qty"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    pairs = relational.pairwise_contrasts(
        per_level, "level", [("A", "N"), ("A", "R"), ("N", "R")]
    )
    return pairs.select(
        "pair",
        F.col("mean_qty_a").alias("mean_a"),
        F.col("mean_qty_b").alias("mean_b"),
        F.round(F.col("mean_qty_a") - F.col("mean_qty_b"), 6).alias("diff"),
        F.col("n_a"),
        F.col("n_b"),
    )


@register(
    "a10_rollup_totals",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(l_extendedprice) AS max_price,
           MIN(l_extendedprice) AS min_price,
           CAST(SUM(CASE WHEN l_extendedprice > 50000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("A2", "A3", "A10", "grouping-sets"),
)
def a10_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set rollup (beyond the reference surface): subtotals per
    (flag, status), per flag, and grand total in ONE pass — Spark
    ``rollup`` = partial-agg tree, no triple scan. The grand-total row
    carries A2's global max/min (plot-bracket y position,
    vital_status_DESeq.R:142) and A3's filtered count (legend group
    sizes, surv_analysis_median_exp.R:143-144) — the rollup's
    grouping-null row IS the global aggregate, so A2/A3 ride the same
    single pass."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.sum(F.when(F.col("l_extendedprice") > 50000, 1).otherwise(0))
        .cast("long")
        .alias("n_high"),
    )


@register_bench_only(
    "cdc_latest_snapshot",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("cdc", "snapshot"),
)
def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: the latest change per key (the MERGE-INTO
    'current snapshot' emulated engine-side — anti-join-free, one
    window). Total order tiebreak on event_id keeps it deterministic."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )


@register(
    "o1_o4_topk_suite",
    """
    SELECT 'global' AS scope, o_orderkey, o_totalprice FROM (
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    )
    UNION ALL
    SELECT o_orderpriority AS scope, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags=("O1", "O2", "O4", "topk-per-group"),
)
def o1_o4_topk_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2: ORDER BY + LIMIT with a total order (unique-key tiebreak —
    SURVEY.md hard-part #4: the reference's sort-order alignment is not
    portable), planning as TakeOrderedAndProject (per-partition top-k);
    plus O4, its grouped counterpart — top-3 per priority via a rank
    window. One shuffle on the group key for the windowed half; the
    global half never globally sorts (per-partition heaps + driver
    merge)."""
    orders = _t(spark, sf_dir, "orders")
    global_top = relational.topk(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    ).select(F.lit("global").alias("scope"), "o_orderkey", "o_totalprice")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    per_group = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_orderpriority").alias("scope"), "o_orderkey", "o_totalprice"
        )
    )
    return global_top.unionByName(per_group)


@register(
    "u_set_ops_suite",
    """
    SELECT concat('stack_', metric) AS which, n, val FROM (
      SELECT 'qty' AS metric, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(l_quantity), 4) AS val FROM lineitem
      UNION ALL
      SELECT 'price' AS metric, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(l_extendedprice), 4) AS val FROM lineitem
    )
    UNION ALL
    SELECT 'label_high' AS which, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(o_totalprice), 6) AS val
    FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT 'label_low' AS which, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(o_totalprice), 6) AS val
    FROM orders WHERE o_totalprice <= 100000
    UNION ALL
    SELECT 'only_building' AS which, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS val FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    )
    UNION ALL
    SELECT 'both' AS which, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS val FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    )
    """,
    tags=("U1", "U2", "U3", "R3"),
)
def u_set_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation suite, one labeled row per branch:

    - U1/R3 wide→long melt via stack() — the per-gene loop +
      ``do.call(rbind, ...)`` (vital_status_DESeq.R:118-126) as a single
      projection (``stack_qty``/``stack_price`` rows);
    - U2 union of per-contrast tables with a names key
      (``do.call(rbind, res)`` + rownames,
      BRCA_path_stage_DESeq.R:125-139) (``label_high``/``label_low``);
    - U3 set difference + intersection (absent from the reference, free
      from Spark — ``subtract``/``intersect``)
      (``only_building``/``both``).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    # The stack rows come from ONE global aggregate then a melt of the
    # single result row (relational.stack_wide_to_long on the 1-row
    # aggregate): one scan, partial aggregation, no grouped shuffle —
    # and, unlike the previous melt→groupBy(metric) form, it matches
    # the oracle's global-aggregate semantics on EMPTY input too (a
    # grouped aggregate over zero rows yields zero groups; a global
    # aggregate yields its one row — caught by the fuzz parity suite).
    totals = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("stack_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("stack_price"),
    )
    stacked = relational.stack_wide_to_long(
        totals, ["n"], ["stack_qty", "stack_price"], "which", "val"
    ).select("which", "n", "val")

    def agg_of(df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("o_totalprice"), 6).alias("val"),
        )

    high = agg_of(orders.filter(F.col("o_totalprice") > 400000))
    low = agg_of(orders.filter(F.col("o_totalprice") <= 100000))
    labeled = relational.union_labeled(
        [("label_high", high), ("label_low", low)], "which"
    ).select("which", "n", "val")

    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    big = orders.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("k")
    )
    null_val = F.lit(None).cast("double").alias("val")
    only = building.subtract(big).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.lit("only_building").alias("which"), "n", null_val)
    both = building.intersect(big).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.lit("both").alias("which"), "n", null_val)

    return stacked.unionByName(labeled).unionByName(only).unionByName(both)


@register_bench_only(
    "r1_pivot_wide",
    """
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_F,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("R1",),
)
def r1_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: long→wide pivot (matrix transpose ``t(gene_count)``,
    vital_status_DESeq.R:106) with explicit pivot values (static plan,
    deterministic columns)."""
    li = _t(spark, sf_dir, "lineitem")
    out = relational.pivot_wide(
        li, "l_returnflag", "l_linestatus", ["F", "O"], F.sum("l_quantity"), "qty_"
    )
    return out.select(
        "l_returnflag",
        F.round("qty_F", 4).alias("qty_F"),
        F.round("qty_O", 4).alias("qty_O"),
    )


@register(
    "r2_ragged_export",
    """
    WITH flt AS (
      SELECT o_orderstatus AS s, o_totalprice AS v,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
      FROM orders WHERE o_totalprice > 450000
    )
    SELECT rn,
           MAX(CASE WHEN s = 'P' THEN v END) AS v_P,
           MAX(CASE WHEN s = 'O' THEN v END) AS v_O,
           MAX(CASE WHEN s = 'F' THEN v END) AS v_F
    FROM flt GROUP BY rn
    """,
    tags=("R2", "P8"),
)
def r2_ragged_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: the reference's ``cbind.fill`` ragged export
    (vital_status_DESeq.R:147-168): per-group value vectors laid
    side-by-side, NULL-padded to the longest. Sink-layer-only shape."""
    orders = _t(spark, sf_dir, "orders")
    return relational.ragged_export(
        orders.filter(F.col("o_totalprice") > 450000),
        "o_orderstatus",
        ["P", "O", "F"],
        "o_totalprice",
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        "v_",
    ).select("rn", "v_P", "v_O", "v_F")


@register(
    "p2_rename_dim_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_name AS part_name
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
    tags=("P2", "J1"),
)
def p2_rename_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: the reference's gene_id → gene-symbol rename
    (``colnames(gene_count)[tmp] <- gene``, vital_status_DESeq.R:109-113)
    done the long-schema way — a broadcast join against the dimension
    table, aliasing the dim attribute (SURVEY.md §2.2 P2: 'the rename is
    a join with the genes dim — strictly better')."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # part is SF-scaled: AQE size-decides the join (broadcast at any
    # realistic dim size); a forced hint would OOM at 100 TB.
    return li.join(
        part, li.l_partkey == part.p_partkey
    ).select("l_orderkey", "l_linenumber", F.col("p_name").alias("part_name"))


@register(
    "f_scalar_suite",
    """
    SELECT c_custkey, c_name, c_acctbal,
           (upper(substring(c_mktsegment, 1, 3)) || '-' ||
                  CAST(c_custkey AS VARCHAR)) AS cust_tag,
           substring(c_name, 1, 12) AS short_name,
           regexp_replace(c_name, '#', '_', 'g') AS uscore_name,
           CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_flag,
           ROUND(CAST(c_acctbal AS DOUBLE) / 1000.0, 6) AS bal_k,
           lpad(c_mktsegment, 12, '*') AS seg_pad,
           rpad(c_mktsegment, 12, '-') AS seg_rpad,
           translate(c_name, '#0', '_O') AS name_tr,
           CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS seg_lev,
           reverse(c_mktsegment) AS seg_rev
    FROM customer
    """,
    tags=("P1", "F1", "F2", "F3", "F4", "F5", "F8"),
)
def f_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 column projection (clinical-column subset,
    surv_analysis_median_exp.R:107 — c_custkey/c_name/c_acctbal pass
    through raw, and column pruning still reaches the parquet scan) +
    F1-F8 scalar surface: upper (toupper, vital_status_DESeq.R:4),
    concat (paste), substring (substr barcode, drug_km_median_exp.R:47),
    regexp_replace (gsub, BRCA_path_stage_DESeq.R:43-44), 2-way
    conditional (ifelse, surv_analysis_median_exp.R:110), numeric cast
    (sapply as.numeric, surv_analysis_median_exp.R:109)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.concat(
            F.upper(F.substring("c_mktsegment", 1, 3)),
            F.lit("-"),
            F.col("c_custkey").cast("string"),
        ).alias("cust_tag"),
        F.substring("c_name", 1, 12).alias("short_name"),
        F.regexp_replace("c_name", "#", "_").alias("uscore_name"),
        F.when(F.col("c_acctbal") < 0, "neg").otherwise("pos").alias("bal_flag"),
        F.round(F.col("c_acctbal").cast("double") / 1000.0, 6).alias("bal_k"),
        F.lpad("c_mktsegment", 12, "*").alias("seg_pad"),
        F.rpad("c_mktsegment", 12, "-").alias("seg_rpad"),
        F.translate("c_name", "#0", "_O").alias("name_tr"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).cast("long").alias("seg_lev"),
        F.reverse("c_mktsegment").alias("seg_rev"),
    )


# =========================================================================
# Statistical + survival layer (SURVEY.md §2.4 A4-A9, §2.5 W1-W5)
# =========================================================================

from tcga_query_project_spark.functions.scalar import NORMAL_SF_TWO_SIDED_SQL  # noqa: E402


@register(
    "a4_wilcoxon_ranksum",
    f"""
    WITH two AS (
      SELECT l_returnflag AS g, l_linestatus AS lab, l_quantity AS v
      FROM lineitem WHERE l_linestatus IN ('F', 'O')
    ),
    pv AS (
      SELECT g, v, CAST(COUNT(*) AS DOUBLE) AS cnt,
             CAST(SUM(CASE WHEN lab = 'F' THEN 1 ELSE 0 END) AS DOUBLE) AS cnt_a
      FROM two GROUP BY g, v
    ),
    rk AS (
      SELECT *, COALESCE(SUM(cnt) OVER (
                  PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + (cnt + 1.0) / 2.0 AS avg_rank
      FROM pv
    ),
    st AS (
      SELECT g, SUM(cnt_a) AS na, SUM(cnt) - SUM(cnt_a) AS nb,
             SUM(cnt_a * avg_rank) AS ra,
             SUM(cnt * cnt * cnt - cnt) AS tie
      FROM rk GROUP BY g
    ),
    zs AS (
      SELECT g, na, nb,
             ra - na * (na + 1.0) / 2.0 AS u,
             CASE WHEN na * nb / 12.0 * ((na + nb + 1.0)
                    - tie / ((na + nb) * (na + nb - 1.0))) > 0
                  THEN (ra - na * (na + 1.0) / 2.0 - na * nb / 2.0)
                       / SQRT(na * nb / 12.0 * ((na + nb + 1.0)
                              - tie / ((na + nb) * (na + nb - 1.0))))
             END AS z
      FROM st
    )
    SELECT g AS l_returnflag,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(u, 4) AS u_stat, ROUND(z, 6) AS z,
           ROUND({NORMAL_SF_TWO_SIDED_SQL.format(z="z")}, 6) AS p_value
    FROM zs
    """,
    tags=("A4",),
)
def a4_wilcoxon_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-gene two-sample Wilcoxon rank-sum with tie-corrected
    normal approximation (``compare_means(counts ~ group,
    group.by="gene", method="wilcox")``, vital_status_DESeq.R:130) —
    l_returnflag plays the gene, l_linestatus the two-level factor."""
    li = _t(spark, sf_dir, "lineitem")
    out = stats.wilcoxon_rank_sum(
        li, "l_returnflag", "l_linestatus", "l_quantity", "F", "O"
    )
    return out.select(
        "l_returnflag",
        "n_a",
        "n_b",
        F.round("u_stat", 4).alias("u_stat"),
        F.round("z", 6).alias("z"),
        F.round("p_value", 6).alias("p_value"),
    )


@register(
    "a5_size_factors",
    """
    WITH pg AS (
      SELECT l_partkey, COUNT(*) AS n,
             SUM(CASE WHEN l_quantity > 0 THEN 1 ELSE 0 END) AS n_pos,
             AVG(CASE WHEN l_quantity > 0 THEN LN(l_quantity) END) AS lg
      FROM lineitem GROUP BY l_partkey
    ),
    r AS (
      SELECT l.l_suppkey, LN(l.l_quantity) - pg.lg AS lr
      FROM lineitem l JOIN pg ON l.l_partkey = pg.l_partkey
      WHERE pg.n_pos = pg.n
    )
    SELECT l_suppkey, ROUND(EXP(quantile_cont(lr, 0.5)), 6) AS size_factor
    FROM r GROUP BY l_suppkey
    """,
    tags=("A5",),
)
def a5_size_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: DESeq2 median-of-ratios size factors (inside ``DESeq(data)``,
    vital_status_DESeq.R:51) — l_partkey as gene, l_suppkey as sample.
    All-positive-gene exclusion mirrors DESeq2's -inf log-geomean rule.
    """
    li = _t(spark, sf_dir, "lineitem")
    sf = stats.size_factors(li, "l_partkey", "l_suppkey", "l_quantity")
    return sf.select(
        "l_suppkey", F.round("size_factor", 6).alias("size_factor")
    )


_SF_CTE = """
    pg AS (
      SELECT l_partkey, COUNT(*) AS n,
             SUM(CASE WHEN l_quantity > 0 THEN 1 ELSE 0 END) AS n_pos,
             AVG(CASE WHEN l_quantity > 0 THEN LN(l_quantity) END) AS lg
      FROM lineitem GROUP BY l_partkey
    ),
    r AS (
      SELECT l.l_suppkey, LN(l.l_quantity) - pg.lg AS lr
      FROM lineitem l JOIN pg ON l.l_partkey = pg.l_partkey
      WHERE pg.n_pos = pg.n
    ),
    sfac AS (
      SELECT l_suppkey, EXP(quantile_cont(lr, 0.5)) AS size_factor
      FROM r GROUP BY l_suppkey
    )
"""


@register(
    "a7_normalize_vst",
    "WITH "
    + _SF_CTE
    + """,
    q AS (
      SELECT l.l_partkey, l.l_suppkey,
             l.l_quantity / s.size_factor AS qv,
             1.0 / s.size_factor AS inv_sf
      FROM lineitem l JOIN sfac s ON l.l_suppkey = s.l_suppkey
    ),
    pgm AS (
      SELECT l_partkey, AVG(qv) AS mu, VAR_SAMP(qv) AS s2,
             AVG(inv_sf) AS xi
      FROM q GROUP BY l_partkey
    ),
    disp AS (
      SELECT l_partkey, ROUND(mu, 8) AS mu,
             ROUND(GREATEST((s2 - mu * xi) / (mu * mu), 0.0), 8) AS alpha
      FROM pgm
    ),
    dispf AS (
      SELECT * FROM disp WHERE mu > 0 AND alpha IS NOT NULL
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM (SELECT 1.0 / mu AS x, alpha AS y FROM dispf WHERE alpha > 0)
    ),
    trend AS (
      SELECT GREATEST(CASE WHEN n * sxx - sx * sx > 0
                           THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                           ELSE 0.0 END, 0.0) AS a1,
             CASE WHEN n > 0
                  THEN sy / n - GREATEST(
                         CASE WHEN n * sxx - sx * sx > 0
                              THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                              ELSE 0.0 END, 0.0) * sx / n
                  ELSE 0.0 END AS a0
      FROM sums
    )
    SELECT q.l_partkey, q.l_suppkey,
           ROUND(q.qv, 6) AS normalized_count,
           ROUND(LOG2(q.qv + 1.0), 6) AS log_norm,
           ROUND(CASE WHEN t.a0 > 0
                      THEN LOG2((1 + t.a1 + 2 * t.a0 * q.qv
                                 + 2 * SQRT(t.a0 * q.qv
                                            * (1 + t.a1 + t.a0 * q.qv)))
                                / (4 * t.a0))
                      ELSE LOG2(q.qv + 1.0) END, 6) AS vst
    FROM q CROSS JOIN trend t
    """,
    tags=("A5", "A7", "vst-v1", "vst-v2"),
)
def a7_normalize_vst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7, both variants over one normalized-count table (l_partkey
    plays the gene, l_suppkey the sample; composes A5 size factors):

    - v1 ``log_norm = log2(count/sf + 1)`` — the monotone VST stand-in
      (``vst(data, blind=F)``, vital_status_DESeq.R:100-101; divergence
      documented in operators/stats.log_normalize);
    - v2 ``vst`` — the dispersion-aware parametric VST: DESeq2's closed
      form over a fitted alpha(mu) = a0 + a1/mu trend, entirely SQL
      (per-gene moments → least-squares trend → closed-form transform,
      operators/stats.vst_fitted).
    """
    li = _t(spark, sf_dir, "lineitem")
    sf = stats.size_factors(li, "l_partkey", "l_suppkey", "l_quantity")
    out = stats.vst_fitted(
        li, sf, "l_partkey", "l_suppkey", "l_quantity", round_intermediates=8
    )
    return out.select(
        "l_partkey",
        "l_suppkey",
        F.round("normalized_count", 6).alias("normalized_count"),
        F.round(F.log2(F.col("normalized_count") + 1.0), 6).alias("log_norm"),
        F.round("vst", 6).alias("vst"),
    )


@register(
    "a6_nb_glm_wald",
    None,  # iterative IRLS fit — not SQL-expressible; driver rows-only check
    tags=("A6",),
)
def a6_nb_glm_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (v2, DESeq2-fidelity path): per-gene negative-binomial GLM
    Wald contrast via ``applyInPandas`` (``DESeq(data)`` +
    ``results()``, vital_status_DESeq.R:51,89) — l_partkey plays the
    gene, l_suppkey the sample, l_linestatus the two-level condition.
    The registered query runs the full estimateDispersions chain
    (iteratively-refit dispersion trend, Cox-Reid MAP shrinkage,
    Cook's-distance outlier gate), so its schema exposes
    dispersion_mom/dispersion_map/max_cooks/cooks_outlier. Unit-tested
    against closed-form Poisson MLE, prior-pull and Cook's-spike
    goldens in tests/test_glm.py (the driver check here is
    rows-only)."""
    li = _t(spark, sf_dir, "lineitem")
    sf = stats.size_factors(li, "l_partkey", "l_suppkey", "l_quantity")
    fact = li.select(
        "l_partkey",
        F.col("l_suppkey").alias("sample"),
        "l_linestatus",
        "l_quantity",
    )
    return glm.nb_glm_wald_shrunk(
        fact, "l_partkey", "l_linestatus", "l_quantity", sf.withColumnRenamed("l_suppkey", "sample"), "sample", "F", "O"
    )


@register(
    "bh_adjust",
    """
    WITH p AS (
      SELECT o_orderkey, o_orderstatus,
             o_totalprice / MAX(o_totalprice)
               OVER (PARTITION BY o_orderstatus) AS p_raw
      FROM orders
    ),
    r AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
                 PARTITION BY o_orderstatus
                 ORDER BY p_raw ASC, o_orderkey ASC) AS DOUBLE) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS nt
      FROM p
    ),
    adj AS (
      SELECT *, LEAST(1.0, MIN(p_raw * nt / rk) OVER (
                  PARTITION BY o_orderstatus ORDER BY rk DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS padj
      FROM r
    )
    SELECT o_orderkey, o_orderstatus,
           ROUND(p_raw, 6) AS p_val, ROUND(padj, 6) AS padj,
           {p_signif_sql} AS p_signif
    FROM adj
    """.format(p_signif_sql=SIGNIF_BIN_SQL.format(p="ROUND(padj, 6)")),
    tags=("A6-padj", "A9", "F7"),
)
def bh_adjust_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg padj (the adjustment inside ``results()``,
    vital_status_DESeq.R:90): per-status partition, o_totalprice scaled
    into (0,1] plays the raw p-value. The padj then feeds A9/F7's 4-deep
    significance binning (vital_status_DESeq.R:93-97) — exactly the
    reference's composition (bin the *adjusted* p) — with the bin
    decided on the 6-decimal-rounded padj so the boundary choice is
    FP-portable."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus")
    withp = orders.select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") / F.max("o_totalprice").over(w)).alias("p_raw"),
    )
    adj = stats.bh_adjust(
        withp, "p_raw", ["o_orderstatus"], F.col("o_orderkey").asc()
    )
    padj6 = F.round("padj", 6)
    return adj.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("p_raw", 6).alias("p_val"),
        padj6.alias("padj"),
        signif_bin(padj6).alias("p_signif"),
    )


#: independent-filtering theta grid (DESeq2 pvalueAdjustment): 50
#: evenly spaced quantile levels in [0, 0.95]. Shared verbatim between
#: the Spark builder and the oracle VALUES list so both engines see the
#: identical doubles.
_FILTER_THETAS = [0.95 * i / 49 for i in range(50)]


@register_bench_only(
    "a6_filter_grid",
    """
    WITH g AS (
      SELECT l_partkey AS gene, AVG(l_quantity) AS bm,
             MIN(l_extendedprice) AS mp
      FROM lineitem GROUP BY l_partkey
    ),
    gp AS (
      SELECT gene, bm,
             mp / NULLIF((SELECT MAX(mp) FROM g), 0) AS p
      FROM g
      WHERE bm IS NOT NULL
        AND mp / NULLIF((SELECT MAX(mp) FROM g), 0) IS NOT NULL
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM gp),
    ranked AS (
      SELECT bm,
             CAST(ROW_NUMBER() OVER (ORDER BY bm ASC) - 1 AS DOUBLE) AS idx
      FROM gp
    ),
    thetas(ti, theta) AS (VALUES {theta_values}),
    posd AS (
      SELECT t.ti, t.theta, t.theta * (n.n - 1) AS pos
      FROM thetas t CROSS JOIN n
    ),
    -- type-7 interpolated quantile; at integral pos both engines
    -- return the ranked value exactly (Spark percentile special-cases
    -- lower==higher), and fractional cutoffs land strictly between
    -- adjacent bm values, so >= membership is engine-identical
    cuts AS (
      SELECT p.ti, p.theta,
             CASE WHEN lo.bm = hi.bm THEN lo.bm
                  ELSE lo.bm + (p.pos - FLOOR(p.pos)) * (hi.bm - lo.bm)
             END AS cut
      FROM posd p
      JOIN ranked lo ON lo.idx = FLOOR(p.pos)
      JOIN ranked hi ON hi.idx = CEIL(p.pos)
    ),
    kept AS (
      SELECT c.ti, c.cut, gp.p FROM cuts c JOIN gp ON gp.bm >= c.cut
    ),
    r AS (
      SELECT ti, cut, p,
             CAST(ROW_NUMBER() OVER (PARTITION BY ti
                                     ORDER BY p ASC) AS DOUBLE) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY ti) AS DOUBLE) AS nt
      FROM kept
    ),
    adj AS (
      SELECT ti, cut,
             LEAST(1.0, MIN(p * nt / rk) OVER (
               PARTITION BY ti ORDER BY rk DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS padj
      FROM r
    )
    SELECT CAST(ti AS INT) AS ti, ROUND(MAX(cut), 6) AS cutoff,
           CAST(SUM(CASE WHEN padj < 0.1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rej
    FROM adj GROUP BY ti
    """.format(
        theta_values=", ".join(
            f"({i}, {t!r})" for i, t in enumerate(_FILTER_THETAS)
        )
    ),
    tags=("A6-padj", "independent-filtering", "deseq2"),
)
def a6_filter_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent-filtering rejection grid (the SQL-expressible stage
    of DESeq2 ``results()``'s padj optimization, genefilter
    ``filtered_p`` — vital_status_DESeq.R:89 consumes its output;
    ``stats.independent_filter_padj`` adds the non-SQL lowess threshold
    selection on top, unit-differential-tested): per theta in the
    50-point [0, 0.95] grid, the type-7 baseMean quantile cutoff and
    the BH rejection count at alpha=0.1 over the kept genes. Genes =
    l_partkey with bm = AVG(l_quantity) (quarter-valued, so the sum is
    EXACT in binary and order-insensitive) and p = MIN(l_extendedprice)
    scaled by the global max (min/max are aggregation-order-free) —
    every float is engine-identical by construction. The oracle
    replays the quantile interpolation explicitly (ranked join on
    floor/ceil of theta*(n-1)) and BH as rank/cummin windows per
    theta. One percentile aggregate + a theta-sized broadcast grid +
    the rejection count read straight off the per-theta distinct-p
    table (BH step-up: the count is the largest max_rank whose own
    p*m/rank clears alpha — no padj join-back; see
    stats.rejection_grid) — three dimension-sized exchanges, the
    fan-out is over the gene DIMENSION, flat at any fact size."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_partkey").alias("gene")).agg(
        F.avg("l_quantity").alias("bm"),
        F.min("l_extendedprice").alias("_mp"),
    )
    mx = g.agg(F.max("_mp").alias("_mx"))
    gp = (
        g.crossJoin(F.broadcast(mx))
        .select(
            "gene",
            "bm",
            (F.col("_mp") / F.nullif(F.col("_mx"), F.lit(0.0))).alias("p"),
        )
        .filter(F.col("bm").isNotNull() & F.col("p").isNotNull())
    )
    return (
        stats.rejection_grid(gp, "bm", "p", _FILTER_THETAS, alpha=0.1)
        .select(
            F.col("_ti").cast("int").alias("ti"),
            F.round("_cut", 6).alias("cutoff"),
            F.col("_nrej").cast("long").alias("n_rej"),
        )
    )


@register(
    "w1_ntile_extremes",
    """
    WITH t AS (
      SELECT event_id, event_type,
             CAST(ntile(4) OVER (PARTITION BY event_type
                                 ORDER BY value ASC, event_id ASC) AS BIGINT) AS tile
      FROM events
    )
    SELECT event_id, event_type,
           CASE WHEN tile = 1 THEN 'LOW'
                WHEN tile = 4 THEN 'HIGH' ELSE 'MID' END AS stratum
    FROM t WHERE tile IN (1, 4)
    """,
    tags=("W1", "P9"),
)
def w1_ntile_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+P9: ntile stratification, extremes kept, LOW/HIGH labels
    (``ntile(km_plot[gene], n)`` + tiles 1|n filter,
    surv_analysis_median_exp.R:131-141)."""
    ev = _t(spark, sf_dir, "events")
    return survival.ntile_strata(
        ev, "value", 4, ["event_type"], F.col("event_id").asc(), strict=True
    ).select("event_id", "event_type", "stratum")


@register_bench_only(
    "w1_quantile_extremes",
    """
    WITH hist AS (
      SELECT event_type, ROUND(value, 2) AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, ROUND(value, 2)
    ),
    cum AS (
      SELECT event_type, v,
             SUM(c) OVER (PARTITION BY event_type ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cm,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    bounds AS (
      SELECT event_type,
             MIN(CASE WHEN cm >= (n + 3) // 4 THEN v END) AS t_low,
             MIN(CASE WHEN cm >= (3 * n + 3) // 4 THEN v END) AS t_high
      FROM cum GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN e.value IS NULL OR ROUND(e.value, 2) <= b.t_low
                THEN 'LOW'
                WHEN ROUND(e.value, 2) > b.t_high THEN 'HIGH' END AS stratum
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    WHERE e.value IS NULL OR ROUND(e.value, 2) <= b.t_low
       OR ROUND(e.value, 2) > b.t_high
    """,
    tags=("W1", "P9", "scale-path"),
)
def w1_quantile_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+P9, the SCALE form: same LOW/HIGH
    extreme-stratification semantics as ``w1_ntile_extremes``
    (surv_analysis_median_exp.R:131-141) but via
    ``survival.quantile_strata`` — histogram-CDF boundaries + broadcast
    label join, no corpus-sized window partition. This is the
    BENCHMARKED stratification (the ntile form's
    ``PARTITION BY event_type`` ntile was the one superlinear query at
    10x data: one sort task per ~5-value key); the ntile form stays in
    the driver registry as the oracle pin for ntile TIE semantics,
    which this form replaces with an explicit grid-threshold rule
    (ties at t_low all LOW; ties at t_high all MID) that the oracle
    mirrors exactly."""
    ev = _t(spark, sf_dir, "events")
    return survival.quantile_strata(
        ev, "value", 4, ["event_type"], decimals=2
    ).select("event_id", "event_type", "stratum")


# Shared survival-cohort construction: per-user follow-up time (span of
# their events, whole seconds), death = any 'error' event, stratified by
# a median split on ROUND(total value, 2) — the rounding makes the
# ordering key FP-portable (SUM(double) order differs across engines).
_SURV_CTE = """
    subj AS (
      SELECT user_id,
             date_diff('second', MIN(ts), MAX(ts)) AS time_s,
             MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS status,
             ROUND(SUM(value), 2) AS total_value
      FROM events GROUP BY user_id
    ),
    strat AS (
      SELECT user_id, time_s, status,
             CASE WHEN ntile(2) OVER (ORDER BY total_value ASC, user_id ASC) = 1
                  THEN 'LOW' ELSE 'HIGH' END AS stratum
      FROM subj
    )
"""

_KM_CTE = (
    _SURV_CTE
    + """,
    km0 AS (
      SELECT stratum, time_s, CAST(SUM(status) AS DOUBLE) AS d,
             CAST(SUM(1 - status) AS DOUBLE) AS c
      FROM strat GROUP BY stratum, time_s
    ),
    km1 AS (
      SELECT *, SUM(d + c) OVER (PARTITION BY stratum)
              - COALESCE(SUM(d + c) OVER (
                  PARTITION BY stratum ORDER BY time_s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      FROM km0
    ),
    km2 AS (SELECT *, 1.0 - d / n AS factor FROM km1),
    km3 AS (
      SELECT *,
             MAX(CASE WHEN factor <= 0 THEN 1 ELSE 0 END) OVER w AS hit_zero,
             SUM(CASE WHEN factor > 0 THEN LN(factor) ELSE 0 END) OVER w AS logsum,
             SUM(CASE WHEN d > 0 AND n > d THEN d / (n * (n - d)) ELSE 0 END)
               OVER w AS gw_sum
      FROM km2
      WINDOW w AS (PARTITION BY stratum ORDER BY time_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
"""
)


def _survival_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    subj = ev.groupBy("user_id").agg(
        (
            F.expr("unix_micros(max(ts)) DIV 1000000")
            - F.expr("unix_micros(min(ts)) DIV 1000000")
        ).alias("time_s"),
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "status"
        ),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return survival.ntile_strata(
        subj, "total_value", 2, [], F.col("user_id").asc(), strict=True
    ).drop("total_value")


@register(
    "w2_km_curve",
    "WITH "
    + _KM_CTE
    + """
    SELECT stratum, time_s,
           CAST(n AS BIGINT) AS n_at_risk, CAST(d AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS n_censored,
           ROUND(CASE WHEN hit_zero = 1 THEN 0.0 ELSE EXP(logsum) END, 6)
             AS survival,
           CASE WHEN hit_zero = 1 THEN NULL
                ELSE ROUND(EXP(logsum) * EXP(logsum) * gw_sum, 6)
           END AS greenwood_var,
           CASE WHEN hit_zero = 1 THEN NULL
                ELSE ROUND(EXP(logsum) * EXP(-1.959963984540054 * SQRT(gw_sum)), 6)
           END AS ci_lower,
           CASE WHEN hit_zero = 1 THEN NULL
                ELSE ROUND(LEAST(1.0, EXP(logsum) * EXP(1.959963984540054 * SQRT(gw_sum))), 6)
           END AS ci_upper
    FROM km3
    """,
    tags=("W2", "W5", "F5", "F6"),
)
def w2_km_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+W5: Kaplan-Meier product-limit curve with Greenwood variance
    (``survfit(Surv(time, status) ~ stratum)``,
    surv_analysis_median_exp.R:129-150; ``conf.int=T`` :156), cohort
    derived from events (time = follow-up span, death = error event,
    strata = median split on engagement — the W1 shape)."""
    subj = _survival_subjects(spark, sf_dir)
    km = survival.km_curve(subj, "time_s", "status", ["stratum"])
    return km.select(
        "stratum",
        "time_s",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.round("survival", 6).alias("survival"),
        F.round("greenwood_var", 6).alias("greenwood_var"),
        F.round("ci_lower", 6).alias("ci_lower"),
        F.round("ci_upper", 6).alias("ci_upper"),
    )


@register(
    "w3_w4_survival_tests",
    "WITH "
    + _KM_CTE
    + """,
    gt AS (
      SELECT stratum, time_s, CAST(SUM(status) AS DOUBLE) AS d_g,
             CAST(COUNT(*) AS DOUBLE) AS r_g
      FROM strat GROUP BY stratum, time_s
    ),
    grid AS (
      SELECT t.time_s, g.stratum
      FROM (SELECT DISTINCT time_s FROM gt) t
      CROSS JOIN (SELECT DISTINCT stratum FROM gt) g
    ),
    cells AS (
      SELECT grid.time_s, grid.stratum,
             COALESCE(gt.d_g, 0) AS d_g, COALESCE(gt.r_g, 0) AS r_g
      FROM grid LEFT JOIN gt USING (stratum, time_s)
    ),
    ar AS (
      SELECT *, SUM(r_g) OVER (PARTITION BY stratum)
              - COALESCE(SUM(r_g) OVER (
                  PARTITION BY stratum ORDER BY time_s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_g,
             CASE WHEN stratum = MIN(stratum) OVER () THEN 1 ELSE 0 END AS is_g1
      FROM cells
    ),
    pt AS (
      SELECT time_s, SUM(n_g) AS n, SUM(d_g) AS d,
             SUM(n_g * is_g1) AS n1, SUM(d_g * is_g1) AS d1
      FROM ar GROUP BY time_s HAVING SUM(d_g) > 0
    ),
    terms AS (
      SELECT d1 - d * n1 / n AS oe,
             CASE WHEN n > 1 THEN d * (n1 / n) * (1.0 - n1 / n) * (n - d) / (n - 1.0)
                  ELSE 0 END AS v
      FROM pt
    ),
    st AS (SELECT SUM(oe) AS soe, SUM(v) AS sv FROM terms),
    chi AS (
      SELECT CASE WHEN sv > 0 THEN soe * soe / sv END AS chi2_raw FROM st
    ),
    surv AS (
      SELECT stratum, time_s,
             ROUND(CASE WHEN hit_zero = 1 THEN 0.0 ELSE EXP(logsum) END, 6)
               AS survival
      FROM km3
    ),
    med AS (
      SELECT s.stratum, m.median_time_s
      FROM (SELECT DISTINCT stratum FROM surv) s
      LEFT JOIN (
        SELECT stratum, MIN(time_s) AS median_time_s
        FROM surv WHERE survival <= 0.5 GROUP BY stratum
      ) m USING (stratum)
    )
    SELECT med.stratum, med.median_time_s,
           ROUND(chi2_raw, 6) AS chi2,
           ROUND("""
    + NORMAL_SF_TWO_SIDED_SQL.format(z="SQRT(chi2_raw)")
    + """, 6) AS p_value
    FROM med CROSS JOIN chi
    """,
    tags=("W3", "W4"),
)
def w3_w4_survival_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 two-group log-rank (Mantel-Cox) test (``ggsurvplot(s1,
    pval=T)``, surv_analysis_median_exp.R:155) + W4 median survival
    time — first time the KM curve reaches ≤ 0.5
    (``surv.median.line="hv"``, surv_analysis_median_exp.R:158) — on the
    same events-derived cohort as w2_km_curve: one row per stratum
    carrying its median and the (global) test statistic, exactly the
    annotation set a KM plot needs. Median thresholding happens on the
    6-decimal-rounded survival so the boundary decision is FP-portable;
    the scalar test result joins on via a literal-sized cross join.

    The subject table feeds two branches (KM/median and log-rank);
    persisting it computes the events aggregation + stratification once
    instead of per branch — the same role a parquet checkpoint plays at
    cluster scale (a DAG edge reused by two actions re-executes
    otherwise). Lazily populated — the subject table is cheap enough
    that the broadcast-vs-stream first-touch race costs less than a
    dedicated populate job at any measured SF; caching contract
    (lifetime + release valve) in operators/caching.py."""
    from tcga_query_project_spark.operators.caching import materialize_shared

    subj = materialize_shared(_survival_subjects(spark, sf_dir), eager=False)
    km = survival.km_curve(subj, "time_s", "status", ["stratum"]).withColumn(
        "survival", F.round("survival", 6)
    )
    med = survival.median_survival(km, "time_s", ["stratum"]).select(
        "stratum", F.col("median_time").alias("median_time_s")
    )
    lr = survival.logrank_test(subj, "time_s", "status", "stratum").select(
        F.round("chi2", 6).alias("chi2"), F.round("p_value", 6).alias("p_value")
    )
    return med.crossJoin(F.broadcast(lr))


# =========================================================================
# Streaming-symmetric time windows (SURVEY.md §2.10; batch semantics here,
# identical code paths run under readStream + watermark)
# =========================================================================


@register(
    "st_session_sliding",
    """
    WITH e AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 86400000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
      SELECT *, SUM(new_s) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM e
    ),
    sess AS (
      SELECT 'session' AS kind, user_id, epoch_us(MIN(ts)) AS start_us,
             epoch_us(MAX(ts)) + 86400000000 AS end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(SUM(value), 4) AS total_value
      FROM i GROUP BY user_id, island
    ),
    sw AS (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws, value
      FROM events
    ),
    slid AS (
      SELECT 'sliding' AS kind, CAST(NULL AS BIGINT) AS user_id,
             epoch_us(ws) AS start_us,
             epoch_us(ws) + 7200000000 AS end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(SUM(value), 4) AS total_value
      FROM sw GROUP BY ws
    )
    SELECT * FROM sess UNION ALL SELECT * FROM slid
    """,
    tags=("streaming", "session", "sliding"),
)
def st_session_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-symmetric event-time windows, two kinds in one labeled
    result:

    - ``session`` rows: session windows (1-day inactivity gap) per user
      — Spark ``session_window``; the batch oracle is the classic
      gaps-and-islands formulation, which pins down the boundary
      semantics (new session when the gap is >= the timeout);
    - ``sliding`` rows: hopping 2h/1h windows — each event lands in two
      epoch-aligned windows; the oracle materializes both window starts
      per event explicitly.

    Both run the identical code path under readStream + watermark
    (streaming/windows.session_agg / sliding_agg)."""
    ev = _t(spark, sf_dir, "events")
    metrics = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    ]
    sess = stream_windows.session_agg(ev, "ts", "1 day", ["user_id"], metrics).select(
        F.lit("session").alias("kind"),
        "user_id",
        F.col("session_start_us").alias("start_us"),
        F.col("session_end_us").alias("end_us"),
        "n_events",
        "total_value",
    )
    slid = stream_windows.sliding_agg(
        ev, "ts", "2 hours", "1 hour", [], metrics
    ).select(
        F.lit("sliding").alias("kind"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("window_start_us").alias("start_us"),
        (F.col("window_start_us") + F.lit(7_200_000_000)).alias("end_us"),
        "n_events",
        "total_value",
    )
    return sess.unionByName(slid)


@register(
    "tj_asof_join",
    """
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
           epoch_us(r.ts) AS asof_ts_us, r.value AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
    tags=("asof-join",),
)
def tj_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond the reference surface; SURVEY.md §2.3 note):
    each click gains the user's most recent purchase at-or-before it.
    Spark lacks the operator — implemented via the one-shuffle
    union-tag + running-last window (operators/temporal.asof_join),
    checked against DuckDB's native ASOF JOIN."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = temporal.asof_join(
        clicks, purchases, "user_id", "ts", "ts", ["value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("asof_ts").alias("asof_ts_us"),
        F.col("asof_value").alias("asof_value"),
    )


@register(
    "st_rollup_hierarchy",
    """
    WITH m AS (
      SELECT epoch_us(date_trunc('minute', ts)) AS wm_us, event_type,
             CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT wm_us - wm_us % 3600000000 AS window_start_us, event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           ROUND(SUM(sv), 4) AS total_value
    FROM m GROUP BY 1, 2
    """,
    tags=("streaming", "rollup"),
)
def st_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: hourly aggregates computed FROM minute
    partials, not from raw events — the continuous-aggregate pattern
    (each resolution reaggregates the one below; raw data is scanned
    once no matter how many resolutions exist). Batch here; under
    streaming the minute level is the incremental state and coarser
    levels are cheap follow-on jobs."""
    ev = _t(spark, sf_dir, "events")
    minutes = stream_windows.tumbling_agg(
        ev,
        "ts",
        "1 minute",
        ["event_type"],
        [
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("sv"),
        ],
    )
    hour_us = (
        F.col("window_start_us") - F.col("window_start_us") % F.lit(3_600_000_000)
    )
    return (
        minutes.groupBy(hour_us.alias("window_start_us"), "event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.round(F.sum("sv"), 4).alias("total_value"),
        )
    )


# =========================================================================
# North-star: dedup / similarity / text analysis (SURVEY.md §2.10)
# =========================================================================

# shared DuckDB fragments, kept adjacent to the Spark expressions they
# mirror (operators/text.py tokens / dedup.py normalized_text)
_SQL_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_SQL_TOKS_RAW = "string_split_regex(trim(text), '\\s+')"
_SQL_TOKS_NORM = f"string_split_regex(trim({_SQL_NORM}), '\\s+')"

_HEX_CASE = " ".join(
    f"WHEN '{c}' THEN {i}" for i, c in enumerate("0123456789abcdef")
)


@register(
    "dd_doc_signatures",
    f"""
    WITH base AS (
      SELECT doc_id, {_SQL_NORM} AS k, md5({_SQL_NORM}) AS fingerprint
      FROM documents
    ),
    grp AS (
      SELECT doc_id, fingerprint,
             MIN(doc_id) OVER (PARTITION BY k) AS keep_id,
             CAST(COUNT(*) OVER (PARTITION BY k) - 1 AS BIGINT) AS n_dups
      FROM base
    ),
    docs AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS t FROM docs),
    h AS (SELECT doc_id, substring(md5(t), 1, 4) AS h4 FROM tok),
    bits AS (
      SELECT doc_id, h4, unnest(generate_series(0, 15)) AS bit FROM h
    ),
    nib AS (
      SELECT doc_id, bit,
             CASE substring(h4, CAST(FLOOR(bit / 4.0) AS INT) + 1, 1)
                  {{hex_case}} END AS nv
      FROM bits
    ),
    sgn AS (
      SELECT doc_id, bit,
             CASE WHEN CAST(FLOOR(nv / POW(2.0, CAST(3 - bit % 4 AS DOUBLE)))
                       AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END AS s
      FROM nib
    ),
    agg AS (SELECT doc_id, bit, SUM(s) AS ss FROM sgn GROUP BY doc_id, bit),
    sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN ss > 0 THEN POW(2.0, CAST(bit AS DOUBLE))
                           ELSE 0.0 END) AS BIGINT) AS simhash
      FROM agg GROUP BY doc_id
    )
    SELECT g.doc_id, g.fingerprint, g.keep_id, g.n_dups, sim.simhash
    FROM grp g JOIN sim USING (doc_id)
    """.format(hex_case=_HEX_CASE),
    tags=("dedup-exact", "fingerprint", "dedup-simhash"),
)
def dd_doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document signature suite — the three content-hash dedup
    primitives in one row per document:

    - ``fingerprint``: md5 over normalized text (portable across
      engines bit-for-bit; stand-in for a rolling hash);
    - ``keep_id``/``n_dups``: exact-dedup lineage via a window over the
      normalized content (first-arrival keeper + duplicate count,
      kept per-document so the row carries its own dedup verdict);
    - ``simhash``: 16-bit SimHash (portable md5-nibble variant; the
      production path swaps in xxhash64 at 64 bits, same dataflow).

    One content shuffle for the dedup window, one token shuffle for the
    simhash aggregation, joined on doc_id."""
    docs = _t(spark, sf_dir, "documents")
    norm = dedup.normalized_text(F.col("text"))
    base = docs.select(
        F.col("doc_id"), norm.alias("_k"), F.md5(norm).alias("fingerprint")
    )
    w = Window.partitionBy("_k")
    grp = base.select(
        "doc_id",
        "fingerprint",
        F.min("doc_id").over(w).alias("keep_id"),
        (F.count(F.lit(1)).over(w) - 1).cast("long").alias("n_dups"),
    )
    sim = dedup.simhash16(docs, "doc_id", "text")
    return grp.join(sim, "doc_id")


_MINHASH_CTE = f"""
    docs AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks FROM documents),
    sh0 AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
                  ELSE [] END AS sl
      FROM docs
    ),
    sh AS (SELECT DISTINCT doc_id, unnest(sl) AS shingle FROM sh0)
"""


# docs → shingles → minhash → band signatures: shared by the pair
# queries below AND the first-seen gate (dd_band_firstseen).
_MINHASH_BANDS_CTES = (
    _MINHASH_CTE
    + """,
    seeds AS (SELECT unnest(generate_series(1, 8)) AS seed),
    sig AS (
      SELECT doc_id, seed,
             MIN(((2 * seed + 1)
                    * (('0x' || substring(md5(shingle), 1, 8))::BIGINT)
                  + seed * 1000003) % 4294967311) AS mh
      FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(FLOOR((seed - 1) / 2.0) AS BIGINT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_sig
      FROM sig GROUP BY doc_id, band
    )
"""
)


# Everything through verified-Jaccard `pairs` is shared between the
# pair query (dd_minhash_lsh) and the cluster-resolution query
# (dd_dup_clusters) — one hash pipeline, two consumers.
_MINHASH_PAIRS_CTES = (
    _MINHASH_BANDS_CTES
    + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, CAST(COUNT(*) AS DOUBLE) AS i
      FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             ROUND(COALESCE(i.i, 0) / (za.sz + zb.sz - COALESCE(i.i, 0)), 6)
               AS jaccard
      FROM cand c
      LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN sizes za ON za.doc_id = c.id_a
      JOIN sizes zb ON zb.doc_id = c.id_b
    )
"""
)


@register_bench_only(
    "dd_jaccard_prefix_join",
    f"""
    WITH docs AS (SELECT doc_id, {_SQL_TOKS_NORM} AS toks
                  FROM documents),
    sh0 AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(generate_series(1, len(toks) - 2),
                      i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
               ELSE [] END) AS s
      FROM docs
    ),
    d2 AS (SELECT doc_id, s, len(s) AS n FROM sh0 WHERE len(s) > 0),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS i,
             CAST(a.n + b.n AS DOUBLE) AS nn
      FROM d2 a JOIN d2 b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, ROUND(i / (nn - i), 6) AS jaccard
    FROM p WHERE i / (nn - i) >= 0.6
    """,
    tags=("dedup-exact-join", "prefix-filter", "ppjoin"),
)
def dd_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle-set similarity self-join at Jaccard >= 0.6
    (dedup.jaccard_prefix_join — AllPairs/PPJoin prefix filtering,
    Bayardo et al. 2007): the no-false-negative complement to
    dd_minhash_lsh, on the SAME shingle universe that pipeline
    verifies (token sets would be degenerate here: the templated
    corpus shares vocabulary across most documents, making 59% of ALL
    pairs >= 0.6 on bare token sets — an inherently quadratic output
    no candidate rule can save). The ORACLE is deliberately the
    brute-force all-pairs join (quadratic is fine at oracle scale):
    the comparison is adversarial rather than a replay — ANY candidate
    the rarest-first prefix rule misses surfaces as a missing row, and
    any length-filter overreach as an extra one. The Spark side never
    goes all-pairs: candidates come from an equi-join on prefix
    shingles (frequency broadcast, doc-keyed sorted-key aggregate)
    with the O(1) length filter, then an id-keyed array verify."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_join(docs, "doc_id", "text", 0.6, shingle_k=3)


@register(
    "dd_minhash_lsh",
    "WITH "
    + _MINHASH_PAIRS_CTES
    + """
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.2
    """,
    tags=("dedup-minhash-lsh",),
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate detection: word-3-gram shingles → 8
    portable-md5 minhashes → bands of 2 → candidate equi-join → exact
    Jaccard verification ≥ 0.2. The oracle replays the identical hash
    pipeline (md5 ordering is engine-independent).

    Scale-segment diagnosis (the 10x→30x exec ratio of 3.59x on 3x
    data): instrumented candidate pairs and band-bucket occupancy at all
    three points. Root cause was the CURVE'S CORPUS MIX, not the plan:
    the 10x point was then built in ``suffix`` mode (the documented
    planted-high-duplication regime: 416,359 candidate pairs = 214x on
    10x docs BY CONSTRUCTION) while the 30x point used the fair
    ``interleave`` mode (905,825 pairs), so the segment compared a
    near-saturated verify stage against a 3x-larger corpus with a
    different pair regime. Measured like-for-like (both points
    ``interleave``, the construction sf1 now uses): 210,370 → 905,825
    candidates and 2.75s → 7.03s exec — **2.56x time on 3x data,
    sublinear**; per-candidate verify work is flat. The residual
    superlinear CANDIDATE growth on interleave data (0.39/doc at sf0.1 →
    4.2/doc at 10x) is a property of the testdata's closed 31-token
    vocabulary — the word-3-shingle space is ≤31³, so unrelated-doc
    Jaccard is bounded away from 0 and chance band collisions grow ~n² —
    amplified, not created, by vocabulary: ANY corpus accrues chance
    candidates as n²·P(band collision), with P ≈ b·J^r for band width r.
    Measured on the native Heaps/Zipf corpus
    (``tools/gen_native_corpus.py``, 6% planted dups): 0.067 → 0.25 →
    0.68 candidates/doc at 1×/10×/30× under this query's pinned (8
    hashes, r=2); widening to (16, r=4) cuts the chance mass 3×
    (0.038/0.085/0.21). Candidate VOLUME is therefore a corpus+parameter
    property tuned via ``band_size`` (production corpora run r=4–8
    precisely so n²·J^r stays below the planted-dup line); what the
    engine owes — and what the curve shows — is per-candidate cost that
    stays flat (the verify stage is one equi-join + grouped
    intersection, linear in candidates, sublinear segment above) and
    recall on planted dups unaffected by r. Bucket skew is not a factor
    at any point (max occupancy 212 → ≤45k join rows from the worst
    bucket, thousands of buckets per band)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.near_duplicates(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=0.2
    )


@register_bench_only(
    "dd_embedding_lsh_pairs",
    """
    WITH prm AS (
      -- COUNT(embedding), not COUNT(*): the operator filters NULL
      -- vectors before counting (they can never clear the threshold
      -- and would crash the numpy kernel), so bits derive from the
      -- non-NULL corpus on both sides
      SELECT GREATEST(4, LEAST(16,
               CAST(CEIL(LOG2(GREATEST(COUNT(embedding), 1) / 16.0))
                    AS BIGINT))) AS bits
      FROM embeddings
    ),
    tbls AS (SELECT UNNEST(range(4)) AS tbl),
    buckets AS (
      SELECT e.vec_id, t.tbl,
             list_sum([
               CASE WHEN e.embedding[CAST(t.tbl * p.bits + s AS INT)] > 0
                    THEN CAST(POWER(2, p.bits - s) AS BIGINT) ELSE 0 END
               FOR s IN generate_series(1, CAST(p.bits AS INT))
             ]) AS bkt
      FROM embeddings e CROSS JOIN tbls t CROSS JOIN prm p
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
    ),
    norms AS (
      SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id
    ),
    px AS (
      SELECT c.ia, c.ib, unnest(a.embedding) AS xa, unnest(b.embedding) AS xb
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.ia
      JOIN embeddings b ON b.vec_id = c.ib
    ),
    dots AS (
      SELECT ia, ib, SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot
      FROM px GROUP BY ia, ib
    )
    SELECT d.ia AS id_a, d.ib AS id_b,
           ROUND(d.dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.ia
    JOIN norms nb ON nb.vec_id = d.ib
    WHERE ROUND(d.dot / (na.nrm * nb.nrm), 4) >= 0.35
    """,
    tags=("dedup-embedding-lsh",),
)
def dd_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH embedding near-dup with CORPUS-TUNED bucket width — THE
    BENCHMARKED SCALE-SAFE FORM of the embedding-dedup family (as for
    w1, the exact form keeps its slot as the
    semantics pin, the scale-safe form carries the scale evidence).
    ``dd_embedding_neardup`` is the DECLARED exact all-pairs baseline,
    O(n²·d) compute by definition; on the full-set scale curve its
    10×→30× segment reads 8.9× ≈ 3² — the algorithm's own curve once
    fixed overheads amortize, annotated as expected-quadratic in
    BENCH_SCALE.json rather than flagged. Fixed-bits sign-LSH is only a
    constant-factor reduction of that quadratic (bits=4 measured 4.0×
    on the 3× segment), so this query runs
    ``dedup.embedding_near_dup_auto``: bits =
    clamp(4..16, ceil(log2(n/16))) derived from an in-plan broadcast
    count, holding expected bucket occupancy ≈ 16 at any corpus size —
    verify work ≈ n·occupancy·tables, linear. The oracle replays the
    identical rule (count → bits → big-endian sign fold → exact cosine
    verify within buckets → cross-table distinct)."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_auto(
        emb, "vec_id", "embedding", 0.35, n_tables=4
    )


@register(
    "dd_dup_clusters",
    "WITH RECURSIVE "
    + _MINHASH_PAIRS_CTES
    + """,
    good AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.2),
    edges AS (SELECT id_a AS u, id_b AS v FROM good
              UNION SELECT id_b, id_a FROM good),
    reach AS (
      SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
      SELECT e.v AS id, r.comp AS comp
      FROM reach r JOIN edges e ON e.u = r.id
      WHERE r.comp < e.v
    ),
    comp AS (SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id),
    sized AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY component),
    ranked AS (
      SELECT c.doc_id, c.component,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY length(d.text) DESC, c.doc_id) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    keep AS (SELECT component, doc_id AS keep_id FROM ranked WHERE rn = 1)
    SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
           CAST(c.component AS BIGINT) AS component,
           s.cluster_size,
           CAST(k.keep_id AS BIGINT) AS keep_id
    FROM comp c
    JOIN sized s ON s.component = c.component
    JOIN keep k ON k.component = c.component
    """,
    tags=("dedup-clusters", "graph"),
)
def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER resolution — the transitive-closure step
    pair queries cannot express: minhash-LSH pairs (same family and
    threshold as dd_minhash_lsh) → connected components via alternating
    large-star/small-star (operators/graph.py, O(log^2 n) rounds, edge
    list only — documents never shuffle through the graph step) → one
    keeper per component (longest text, tie -> min id). One row per
    document incl. singletons; filter doc_id == keep_id for the
    deduplicated corpus. The oracle replays the identical hash pipeline
    and resolves components with a recursive min-label CTE — a form
    that works at oracle scale but would need diameter-many iterations
    distributed, which is exactly why the engine uses the star
    algorithm instead."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.dup_clusters(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2, threshold=0.2
    )


@register_bench_only(
    "dd_band_firstseen",
    "WITH "
    + _MINHASH_BANDS_CTES
    + """,
    firstseen AS (
      SELECT band, band_sig, MIN(doc_id) AS keep
      FROM bands GROUP BY band, band_sig
    ),
    per_doc AS (
      SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bands,
             MIN(CASE WHEN f.keep = b.doc_id THEN 1 ELSE 0 END) AS af
      FROM bands b
      JOIN firstseen f ON f.band = b.band AND f.band_sig = b.band_sig
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_bands, 0) AS n_bands,
           COALESCE(p.af, 1) = 1 AS passed
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
    tags=("dedup-streaming-gate", "streaming-batch-equivalent"),
)
def dd_band_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming near-dedup admission gate in batch form (bench and
    oracle visibility for streaming/neardup.py's decision rule): a
    document passes iff EVERY LSH band signature is
    first-seen, with arrival order = doc_id. Same minhash family and
    banding as dd_minhash_lsh (the oracle replays the identical hash
    pipeline), but a one-sided gate instead of a verified pair join —
    one (band, band_sig)-keyed aggregation of min-ids, the exact state
    the stream holds per band key."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.band_firstseen_gate(
        docs, "doc_id", "text", k=3, num_hashes=8, band_size=2
    )


@register(
    "dd_decontaminate",
    "WITH "
    + _MINHASH_CTE
    + """,
    seeds AS (SELECT unnest(generate_series(1, 8)) AS seed),
    sigc AS (
      SELECT doc_id, seed,
             MIN(((2 * seed + 1)
                    * (('0x' || substring(md5(shingle), 1, 8))::BIGINT)
                  + seed * 1000003) % 4294967311) AS mh
      FROM sh CROSS JOIN seeds WHERE doc_id % 37 != 0
      GROUP BY doc_id, seed
    ),
    sigr AS (
      SELECT doc_id, seed,
             MIN(((2 * seed + 1)
                    * (('0x' || substring(md5(shingle), 1, 8))::BIGINT)
                  + seed * 1000003) % 4294967311) AS mh
      FROM sh CROSS JOIN seeds WHERE doc_id % 37 = 0
      GROUP BY doc_id, seed
    ),
    bandsc AS (
      SELECT doc_id AS corpus_id,
             CAST(FLOOR((seed - 1) / 2.0) AS BIGINT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed))
               AS band_sig
      FROM sigc GROUP BY doc_id, band
    ),
    bandsr AS (
      SELECT doc_id AS reference_id,
             CAST(FLOOR((seed - 1) / 2.0) AS BIGINT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed))
               AS band_sig
      FROM sigr GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT c.corpus_id, r.reference_id
      FROM bandsc c
      JOIN bandsr r ON r.band = c.band AND r.band_sig = c.band_sig
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS sz
              FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.corpus_id, c.reference_id, CAST(COUNT(*) AS DOUBLE) AS i
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.corpus_id
      JOIN sh sb ON sb.doc_id = c.reference_id
             AND sb.shingle = sa.shingle
      GROUP BY c.corpus_id, c.reference_id
    )
    SELECT i.corpus_id, i.reference_id,
           ROUND(i.i / (za.sz + zb.sz - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.corpus_id
    JOIN sizes zb ON zb.doc_id = i.reference_id
    WHERE ROUND(i.i / (za.sz + zb.sz - i.i), 6) >= 0.2
    """,
    tags=("decontamination", "cross-corpus"),
)
def dd_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (dedup.decontaminate), oracle-visible:
    every 37th document plays the evaluation/reference
    set, the rest the training corpus; pairs at word-3-gram Jaccard >=
    0.2 are the contaminated (training_doc, eval_doc) hits. Same
    portable minhash family as dd_minhash_lsh but a corpus x BROADCAST
    reference band join instead of a self-join — the corpus scans once;
    the only corpus-sized shuffle is its signature aggregation. The
    oracle replays the identical hash pipeline split by the same
    predicate."""
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 37 == 0)
    corp = docs.filter(F.col("doc_id") % 37 != 0)
    return dedup.decontaminate(
        corp, ref, "doc_id", "text",
        k=3, num_hashes=8, band_size=2, threshold=0.2,
    )


@register_bench_only(
    "dd_index_dedup",
    "WITH "
    + _MINHASH_BANDS_CTES
    + """,
    bn AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
    bi AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
    cand AS (
      SELECT DISTINCT n.doc_id AS did, i.doc_id AS matched_id
      FROM bn n JOIN bi i ON i.band = n.band AND i.band_sig = n.band_sig
    )
    SELECT c.did AS doc_id, c.matched_id,
           ROUND(AVG(CASE WHEN sn.mh = si.mh THEN 1.0 ELSE 0.0 END), 6)
             AS est_jaccard
    FROM cand c
    JOIN sig sn ON sn.doc_id = c.did
    JOIN sig si ON si.doc_id = c.matched_id AND si.seed = sn.seed
    GROUP BY c.did, c.matched_id
    HAVING AVG(CASE WHEN sn.mh = si.mh THEN 1.0 ELSE 0.0 END) >= 0.5
    """,
    tags=("dedup-index", "incremental-ingest"),
)
def dd_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED index
    (dedup.build_dedup_index + dedup_against_index), oracle-visible:
    even doc_ids play the already-ingested corpus —
    their MinHash state is materialized as a real parquet index
    (signatures + band-partitioned band sigs) in a fresh temp dir —
    and odd doc_ids play the ingest delta, deduped against that index
    WITHOUT re-reading corpus text. Verify is the unbiased
    signature-agreement estimator (fraction of agreeing minhashes,
    k/8 granularity — exact in FP on both engines), threshold 0.5.
    The oracle replays band collision + agreement over the same hash
    family; the Spark side additionally exercises the index write/
    read-back machinery the SQL cannot see (bench charges the build
    to build-inclusive time, the query to exec)."""
    import hashlib
    import os as _os
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    # one FIXED index location per (pid, sf_dir): bench invokes build()
    # 4x (warmup + 3 timed reps) and tests/plan-audit again — a fresh
    # mkdtemp per call would leak a full parquet index into /tmp each
    # time; rebuilding into the same overwrite-mode path is the
    # operator's normal re-run semantics
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    index_dir = _os.path.join(
        tempfile.gettempdir(),
        f"dedup_index_{_os.getpid()}_{sf_tag}",
    )
    dedup.build_dedup_index(
        docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text",
        index_dir, k=3, num_hashes=8, band_size=2,
    )
    return dedup.dedup_against_index(
        docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text",
        index_dir, k=3, band_size=2, est_threshold=0.5,
    )


@register_bench_only(
    "dd_embedding_neardup",
    """
    WITH px AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             unnest(a.embedding) AS xa, unnest(b.embedding) AS xb
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT ia, ib, SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot
      FROM px GROUP BY ia, ib
    ),
    norms AS (
      SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id
    )
    SELECT d.ia AS id_a, d.ib AS id_b,
           ROUND(d.dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.ia
    JOIN norms nb ON nb.vec_id = d.ib
    WHERE ROUND(d.dot / (na.nrm * nb.nrm), 4) >= 0.35
    """,
    tags=("dedup-embedding-cosine",),
)
def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.35, rounded to
    4 decimals so the threshold decision is FP-portable). Exact
    all-pairs semantics, executed as a distributed blocked matmul
    (disjoint id-blocks x applyInPandas numpy kernel — nothing on the
    driver); dedup.embedding_near_dup_auto (dd_embedding_lsh_pairs) is
    the sub-quadratic sign-LSH variant for corpora where exactness can
    be traded."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup(emb, "vec_id", "embedding", 0.35)


@register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings WHERE vec_id < 10),
    px AS (
      SELECT q.qid, c.vec_id AS cid,
             unnest(q.e) AS xa, unnest(c.embedding) AS xb
      FROM q CROSS JOIN embeddings c
      WHERE c.vec_id != q.qid
    ),
    dots AS (
      SELECT qid, cid, SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot
      FROM px GROUP BY qid, cid
    ),
    norms AS (
      SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id
    ),
    scored AS (
      SELECT d.qid AS query_id, d.cid AS neighbor_id,
             ROUND(d.dot / (nq.nrm * nc.nrm), 4) AS cosine
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nc ON nc.vec_id = d.cid
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
    tags=("ann-topk",),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors against the whole
    embeddings table — the ANN baseline (LSH-bucketed variant in
    operators/similarity.py is the scale path). Ranking happens on the
    4-decimal-rounded cosine so tie order is FP-portable."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(q, emb, "vec_id", "embedding", k=5)


@register_bench_only(
    "emb_array_stats",
    """
    WITH x AS (SELECT vec_id, unnest(embedding) AS v FROM embeddings),
    s AS (
      SELECT vec_id,
             SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS sq,
             SUM(CAST(v AS DOUBLE)) AS tot,
             MIN(CAST(v AS DOUBLE)) AS mn,
             MAX(CAST(v AS DOUBLE)) AS mx,
             CAST(COUNT(*) AS BIGINT) AS dim
      FROM x GROUP BY vec_id
    )
    SELECT vec_id, dim, ROUND(SQRT(sq), 6) AS l2_norm,
           ROUND(tot / CAST(dim AS DOUBLE), 6) AS mean_val,
           ROUND(mn, 6) AS min_val, ROUND(mx, 6) AS max_val,
           ROUND(SQRT(sq / CAST(dim AS DOUBLE)), 6) AS rms
    FROM s
    """,
    tags=("multimodal-array",),
)
def emb_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-array (multimodal) column profile: dim, L2 norm, mean —
    higher-order array functions, no explode on the Spark side."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.array_stats(emb, "vec_id", "embedding")


@register(
    "tx_doc_metrics",
    f"""
    WITH d AS (
      SELECT doc_id, text, {_SQL_TOKS_RAW} AS toks,
             length(regexp_replace(trim(text), '\\s+', '', 'g')) AS chars
      FROM documents
    ),
    m AS (
      SELECT doc_id, text, toks, chars, list_distinct(toks) AS dtoks,
             CAST(len(toks) AS DOUBLE) AS n,
             CAST(len(list_filter(toks,
               t -> t IN ('the','a','and','of','to','in','is','it')))
               AS DOUBLE) AS stop
      FROM d
    )
    SELECT doc_id,
           toks[1] AS first_token,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
                AS BIGINT) AS n_tokens_bpe,
           CAST(len(dtoks) AS BIGINT) AS n_types,
           ROUND(CAST(len(dtoks) AS DOUBLE) / n, 6) AS ttr,
           ROUND(CAST(chars AS DOUBLE) / n, 6) AS mean_token_len,
           ROUND(stop / n, 6) AS stopword_ratio,
           ROUND(0.4 * (CASE WHEN n >= 10 AND n <= 1000 THEN 1.0 ELSE 0.0 END)
                 + 0.3 * LEAST(stop / n * 4.0, 1.0)
                 + 0.3 * (CAST(len(dtoks) AS DOUBLE) / n), 6) AS quality_score,
           CASE WHEN len(list_filter(dtoks, t -> t IN ('the','and','is'))) > 0 THEN 'en'
                WHEN len(list_filter(dtoks, t -> t IN ('le','la','et'))) > 0 THEN 'fr'
                WHEN len(list_filter(dtoks, t -> t IN ('der','und','die'))) > 0 THEN 'de'
                WHEN len(list_filter(dtoks, t -> t IN ('el','los','y'))) > 0 THEN 'es'
                ELSE 'und' END AS pred_lang
    FROM m
    """,
    tags=("text-tokens", "text-quality", "text-langid", "O3"),
)
def tx_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-metric suite (north-star text analysis), one
    fused projection over a single materialized token array
    (operators/text.doc_metrics): token counting + lexical profile,
    heuristic quality score (length band + stopword ratio + repetition
    penalty), marker-word language ID, and the first token (O3 — first
    element of a nested collection, ``treat_tmp$submitter_id[1]``,
    drug_km_median_exp.R:47). Composing the standalone operators by
    join would tokenize 4x and shuffle 3x; the fused form is a pure
    narrow map — no shuffle at all."""
    docs = _t(spark, sf_dir, "documents")
    return text.doc_metrics(docs, "doc_id", "text")


@register(
    "tx_lang_profile",
    f"""
    WITH d AS (
      SELECT lang, CAST(len({_SQL_TOKS_RAW}) AS BIGINT) AS n,
             length(text) AS chars
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           ROUND(AVG(n), 6) AS mean_tokens, ROUND(AVG(chars), 6) AS mean_chars
    FROM d GROUP BY lang
    """,
    tags=("text-profile",),
)
def tx_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per language."""
    docs = _t(spark, sf_dir, "documents")
    return text.lang_profile(docs, "lang", "text")


@register(
    "pp_corpus_clean",
    f"""
    WITH dd AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY {_SQL_NORM}
                                ORDER BY doc_id ASC) AS rn
      FROM documents
    ),
    kept AS (SELECT doc_id, text FROM dd WHERE rn = 1),
    d AS (
      SELECT doc_id, text, {_SQL_TOKS_RAW} AS toks,
             length(regexp_replace(trim(text), '\\s+', '', 'g')) AS chars
      FROM kept
    ),
    m AS (
      SELECT doc_id, text, toks, chars, list_distinct(toks) AS dtoks,
             CAST(len(toks) AS DOUBLE) AS n,
             CAST(len(list_filter(toks,
               t -> t IN ('the','a','and','of','to','in','is','it')))
               AS DOUBLE) AS stop
      FROM d
    ),
    f AS (
      SELECT doc_id,
             toks[1] AS first_token,
             CAST(n AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
                  AS BIGINT) AS n_tokens_bpe,
             CAST(len(dtoks) AS BIGINT) AS n_types,
             ROUND(CAST(len(dtoks) AS DOUBLE) / n, 6) AS ttr,
             ROUND(CAST(chars AS DOUBLE) / n, 6) AS mean_token_len,
             ROUND(stop / n, 6) AS stopword_ratio,
             ROUND(0.4 * (CASE WHEN n >= 10 AND n <= 1000 THEN 1.0 ELSE 0.0 END)
                   + 0.3 * LEAST(stop / n * 4.0, 1.0)
                   + 0.3 * (CAST(len(dtoks) AS DOUBLE) / n), 6) AS quality_score,
             CASE WHEN len(list_filter(dtoks, t -> t IN ('the','and','is'))) > 0 THEN 'en'
                  WHEN len(list_filter(dtoks, t -> t IN ('le','la','et'))) > 0 THEN 'fr'
                  WHEN len(list_filter(dtoks, t -> t IN ('der','und','die'))) > 0 THEN 'de'
                  WHEN len(list_filter(dtoks, t -> t IN ('el','los','y'))) > 0 THEN 'es'
                  ELSE 'und' END AS pred_lang,
             CASE WHEN {HASH_SPLIT_BUCKET_SQL.format(key="doc_id")} < 90 THEN 'train'
                  WHEN {HASH_SPLIT_BUCKET_SQL.format(key="doc_id")} < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM m
    )
    SELECT * FROM f WHERE quality_score >= 0.4 AND pred_lang = 'en'
    """,
    tags=("pipeline-corpus", "dedup-exact", "text-quality", "text-langid"),
)
def pp_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star end-to-end corpus prep (pipelines/corpus_prep): exact
    dedup (first-arrival-wins window on normalized content) → ONE fused
    feature projection (text.doc_metrics — the same code path the
    streaming pipeline runs, so batch and stream share one schema) →
    quality ≥ 0.4, English only → deterministic train/val/test split.
    The composed form has exactly one content shuffle; composing the
    standalone operators by join would tokenize 4x and shuffle 3x."""
    from tcga_query_project_spark.pipelines import corpus_prep

    docs = _t(spark, sf_dir, "documents")
    return corpus_prep.corpus_clean(
        docs, "doc_id", "text", min_quality=0.4, langs=("en",)
    )


def _pagerank_oracle(n_iter: int, damping: float) -> str:
    """Chained-CTE replay of :func:`operators.graph.pagerank` — one CTE
    per synchronous power iteration (fixed iteration count is what
    makes the iterative operator SQL-mirrorable at all). All float
    literals cast to DOUBLE: DuckDB parses bare decimals as DECIMAL,
    whose arithmetic would diverge from Spark's IEEE doubles."""
    d = f"CAST({damping!r} AS DOUBLE)"
    iters = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        # MATERIALIZED: each iteration references its predecessor TWICE
        # (contribution join + dangling-mass subquery); DuckDB inlines
        # plain CTEs, which recomputes r0 2^n_iter times (measured 13 s
        # for 6 iterations over 500 nodes). Materializing makes the
        # oracle linear in n_iter (~0.1 s).
        iters.append(
            f"""r{i} AS MATERIALIZED (
      SELECT nd.node,
             (1.0 - {d}) / nn.n
             + {d} * (COALESCE(c.contrib, 0.0) + dg.dang / nn.n) AS rank
      FROM nodes nd CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / o.od) AS contrib
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
      ) c ON c.node = nd.node
      CROSS JOIN (
        SELECT COALESCE(SUM(r.rank), CAST(0 AS DOUBLE)) AS dang
        FROM {prev} r LEFT JOIN outdeg o ON o.src = r.node
        WHERE o.src IS NULL
      ) dg
    )"""
        )
        prev = f"r{i}"
    return (
        """
    WITH cnt AS (SELECT COUNT(*) AS c FROM documents),
    edges0 AS (
      SELECT d.doc_id AS src,
             ('0x' || substring(md5('pr' || CAST(d.doc_id AS VARCHAR)
                                    || '|' || CAST(k.k AS VARCHAR)), 1, 8)
             )::BIGINT % cnt.c AS dst
      FROM documents d
      CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS k) k
      CROSS JOIN cnt
    ),
    edges AS (SELECT DISTINCT src, dst FROM edges0 WHERE src <> dst),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS od
               FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
           FROM nodes CROSS JOIN nn),
    """
        + ",\n    ".join(iters)
        + f"""
    SELECT node AS doc_id, ROUND(rank, 8) AS pagerank FROM {prev}
    """
    )


@register_bench_only(
    "gq_pagerank",
    _pagerank_oracle(n_iter=6, damping=0.85),
    tags=("graph", "quality-prior"),
)
def gq_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph quality prior (operators/graph.pagerank): 6 power
    iterations of PageRank(d=0.85) over a deterministic synthetic
    citation graph — each document links to the 3 documents selected by
    the portable md5-prefix hash of (doc_id, k) mod corpus size, so
    Spark and DuckDB materialize the IDENTICAL graph and the oracle
    replays the iterations as 6 chained CTEs. Exercises the full
    operator contract: simple-graph normalization, per-iteration
    join + dst-aggregation, in-plan dangling-mass redistribution.
    Real-world shape: Common Crawl's host-level rank used as a
    quality-weighted sampling prior."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("_c"))
    ks = spark.range(3).select(F.col("id").alias("k"))
    edges = (
        docs.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(cnt))
        .select(
            F.col("doc_id").alias("src"),
            (
                md5_prefix_long(
                    F.concat(
                        F.lit("pr"),
                        F.col("doc_id").cast("string"),
                        F.lit("|"),
                        F.col("k").cast("string"),
                    )
                )
                % F.col("_c")
            ).alias("dst"),
        )
    )
    pr = graph.pagerank(edges, damping=0.85, n_iter=6)
    return pr.select(
        F.col("node").alias("doc_id"),
        F.round(F.col("rank"), 8).alias("pagerank"),
    )


@register_bench_only(
    "gq_triangles",
    """
    WITH cnt AS (SELECT COUNT(*) AS c FROM documents),
    e0 AS (
      SELECT d.doc_id AS s,
             ('0x' || substring(md5('tri' || CAST(d.doc_id AS VARCHAR)
                                    || '|' || CAST(k.k AS VARCHAR)), 1, 8)
             )::BIGINT % cnt.c AS t
      FROM documents d
      CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) k
      CROSS JOIN cnt
    ),
    und AS (SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b
            FROM e0 WHERE s <> t),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      GROUP BY node
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM (SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY node
    )
    SELECT d.node, d.degree,
           COALESCE(tn.triangles, 0) AS triangles,
           CASE WHEN d.degree >= 2
                THEN ROUND(CAST(2 AS DOUBLE) * COALESCE(tn.triangles, 0)
                           / (d.degree * (d.degree - 1)), 6)
           END AS clustering
    FROM deg d LEFT JOIN tn USING (node)
    """,
    tags=("graph", "quality-prior"),
)
def gq_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient
    (operators/graph.triangle_counts) over the same deterministic
    md5-hash citation graph family as ``gq_pagerank`` (salt "tri",
    4 out-links per document), so Spark and DuckDB materialize the
    IDENTICAL graph. The Spark side runs the degree-ordered-orientation
    plan (Suri & Vassilvitskii WWW'11 — pivot out-degree bounded by
    O(√m), so the wedge self-join survives power-law hubs); the oracle
    replays the naive x<y<z triple-join, which is affordable at oracle
    scale and counts exactly the same triangles. Real-world shape:
    link-farm detection / neighborhood-density quality priors over a
    crawl graph."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("_c"))
    ks = spark.range(4).select(F.col("id").alias("k"))
    edges = (
        docs.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(cnt))
        .select(
            F.col("doc_id").alias("src"),
            (
                md5_prefix_long(
                    F.concat(
                        F.lit("tri"),
                        F.col("doc_id").cast("string"),
                        F.lit("|"),
                        F.col("k").cast("string"),
                    )
                )
                % F.col("_c")
            ).alias("dst"),
        )
    )
    return graph.triangle_counts(edges)


# =========================================================================
# End-to-end reference pipelines (SURVEY.md §3) over seeded TCGA-shaped
# fixtures — rows-only driver checks (iterative GLM / composed DAGs are
# not single-statement-SQL-expressible); golden-value assertions live in
# tests/test_pipelines.py.
# =========================================================================


from tcga_query_project_spark import fixtures as _fx  # noqa: E402

#: Absolute paths of the committed fixture parquet files — embedded in
#: the pipeline oracles below so DuckDB reads the IDENTICAL bytes the
#: Spark queries read, so the composed TCGA pipelines carry full
#: hash-checked oracles instead of rows-only checks.
_FIXD = _fx.fixtures_parquet_dir()

#: shared oracle CTE prologue over the fixture star schema
_FIX_TABLES = f"""
    expr AS (SELECT gene_id, barcode, "count" AS cnt
             FROM '{_FIXD}/expression.parquet'),
    gn AS (SELECT gene_id, gene_name FROM '{_FIXD}/genes.parquet'),
    smp AS (SELECT * FROM '{_FIXD}/samples.parquet')
"""


@register(
    "tcga_de_pipeline",
    "WITH "
    + _FIX_TABLES
    + """,
    cohort AS (
      SELECT barcode, short_letter_code AS cond FROM smp
      WHERE short_letter_code IS NOT NULL
    ),
    fullx AS (
      SELECT e.* FROM expr e
      WHERE e.barcode IN (SELECT barcode FROM cohort)
    ),
    pg AS (
      SELECT gene_id, COUNT(*) AS n,
             SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS n_pos,
             AVG(CASE WHEN cnt > 0 THEN LN(cnt) END) AS lg
      FROM fullx GROUP BY gene_id
    ),
    sf AS (
      SELECT f.barcode,
             EXP(quantile_cont(LN(f.cnt) - pg.lg, 0.5)) AS size_factor
      FROM fullx f JOIN pg ON f.gene_id = pg.gene_id AND pg.n_pos = pg.n
      GROUP BY f.barcode
    ),
    goi AS (
      SELECT g.gene_name, e.barcode, e.cnt,
             LOG2(e.cnt / s.size_factor + 1.0) AS normalized
      FROM expr e JOIN gn g USING (gene_id)
      JOIN sf s ON e.barcode = s.barcode
      WHERE UPPER(g.gene_name) IN ('ATAT1', 'HDAC6', 'SIRT2')
    ),
    goil AS (
      SELECT goi.gene_name, goi.barcode, c.cond, goi.cnt, goi.normalized
      FROM goi JOIN cohort c USING (barcode)
    ),
    two AS (
      SELECT gene_name AS g, cond AS lab, normalized AS v
      FROM goil WHERE cond IN ('NT', 'TP')
    ),
    pv AS (
      SELECT g, v, CAST(COUNT(*) AS DOUBLE) AS cnt,
             CAST(SUM(CASE WHEN lab = 'NT' THEN 1 ELSE 0 END) AS DOUBLE)
               AS cnt_a
      FROM two GROUP BY g, v
    ),
    rk AS (
      SELECT *, COALESCE(SUM(cnt) OVER (
                  PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + (cnt + 1.0) / 2.0 AS avg_rank
      FROM pv
    ),
    st AS (
      SELECT g, SUM(cnt_a) AS na, SUM(cnt) - SUM(cnt_a) AS nb,
             SUM(cnt_a * avg_rank) AS ra,
             SUM(cnt * cnt * cnt - cnt) AS tie
      FROM rk GROUP BY g
    ),
    zs AS (
      SELECT g,
             CASE WHEN na * nb / 12.0 * ((na + nb + 1.0)
                    - tie / ((na + nb) * (na + nb - 1.0))) > 0
                  THEN (ra - na * (na + 1.0) / 2.0 - na * nb / 2.0)
                       / SQRT(na * nb / 12.0 * ((na + nb + 1.0)
                              - tie / ((na + nb) * (na + nb - 1.0))))
             END AS z
      FROM st
    ),
    wx AS (
      SELECT g AS gene_name,
             ROUND("""
    + NORMAL_SF_TWO_SIDED_SQL.format(z="z")
    + """, 6) AS p_value
      FROM zs
    ),
    bh0 AS (SELECT p_value, COUNT(*) AS c FROM wx GROUP BY p_value),
    bh1 AS (
      SELECT p_value,
             CAST(SUM(c) OVER (ORDER BY p_value ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS max_rank,
             CAST(SUM(c) OVER () AS DOUBLE) AS n_tests
      FROM bh0
    ),
    bh2 AS (
      SELECT p_value, LEAST(1.0, MIN(p_value * n_tests / max_rank) OVER (
               ORDER BY p_value DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS padj
      FROM bh1
    ),
    de AS (
      SELECT wx.gene_name, wx.p_value, ROUND(bh2.padj, 6) AS padj,
             """
    + SIGNIF_BIN_SQL.format(p="ROUND(bh2.padj, 6)")
    + """ AS p_signif
      FROM wx JOIN bh2 USING (p_value)
    )
    SELECT goil.gene_name, goil.barcode, goil.cond,
           goil.cnt AS "count",
           ROUND(goil.normalized, 6) AS normalized,
           de.p_value, de.padj, de.p_signif
    FROM goil JOIN de USING (gene_name)
    """,
    tags=("pipeline-A", "A1", "A4", "A5", "A6-padj", "A7", "A9", "J1", "J3"),
)
def tcga_de_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point A (§3.1), the deterministic DE composition
    (lettercode_DESeq.R recast): sample filter → gene floor → size
    factors (A5) → normalize (A7) → goi presentation join (J1/J3) →
    secondary Wilcoxon (A4, the reference's ``compare_means``
    cross-check) → BH padj → significance bins (A9), all over the
    COMMITTED fixture parquet so the whole composition hash-checks
    against the DuckDB oracle. The NB GLM stage (A6) runs in the
    BENCH_ONLY full pipeline ``tcga_de_full``, which has its own
    oracle, and in its shrunk form in the ``a6_nb_glm_wald`` driver
    slot. ``sf_dir`` unused: the inputs are the reference-shaped star
    schema, not the TPC-H tables.

    Determinism: Wilcoxon p rounds to 6 BEFORE the BH adjustment on
    both sides, so the padj cummin consumes identical floats; the bin
    is decided on the rounded padj (FP-portable boundary)."""
    from tcga_query_project_spark import fixtures
    from tcga_query_project_spark.pipelines import differential_expression as dp

    t = fixtures.read_fixtures_parquet(spark)
    goi_long = dp.goi_counts(
        t["expression"], t["genes"], t["samples"], fixtures.GOI,
        "short_letter_code",
    )
    wx = dp.wilcoxon_secondary(goi_long, "NT", "TP").select(
        "gene_name", F.round("p_value", 6).alias("p_value")
    )
    adj = stats.bh_adjust_distinct(wx, "p_value")
    de = adj.select(
        "gene_name",
        "p_value",
        F.round("padj", 6).alias("padj"),
        signif_bin(F.round("padj", 6)).alias("p_signif"),
    )
    return goi_long.join(F.broadcast(de), "gene_name").select(
        "gene_name",
        "barcode",
        "cond",
        "count",
        F.round("normalized", 6).alias("normalized"),
        "p_value",
        "padj",
        "p_signif",
    )


#: DuckDB mirror of glm._NEWTON_SQL for one level (``{lv}`` = a/b): the
#: same NEWTON_STEPS Newton steps on log q, as a list_reduce whose nested
#: lambdas capture the accumulator ``b`` and the row's alpha.
_NB_NEWTON_SQL = (
    "list_reduce(list_prepend(LN(q_{lv}), list_transform(range("
    + str(glm.NEWTON_STEPS)
    + "), i -> CAST(0 AS DOUBLE))), (b, _) -> b"
    " + list_sum(list_transform(obs_{lv}, o -> (o.y - o.s * EXP(b))"
    " / (1.0 + alpha * o.s * EXP(b))))"
    " / list_sum(list_transform(obs_{lv}, o -> o.s * EXP(b) * (1.0 + alpha * o.y)"
    " / ((1.0 + alpha * o.s * EXP(b)) * (1.0 + alpha * o.s * EXP(b))))))"
)
_NB_WEIGHT_SQL = (
    "list_sum(list_transform(obs_{lv}, o -> o.s * EXP(b_{lv})"
    " / (1.0 + alpha * o.s * EXP(b_{lv}))))"
)


@register_bench_only(
    "tcga_de_full",
    "WITH "
    + _FIX_TABLES
    + """,
    coh AS (
      SELECT barcode, short_letter_code AS cond FROM smp
      WHERE short_letter_code IN ('NT', 'TP')
    ),
    f0 AS (
      SELECT e.gene_id, e.barcode, c.cond, e.cnt
      FROM expr e JOIN coh c USING (barcode)
    ),
    fact AS (
      SELECT * FROM f0 WHERE gene_id IN (
        SELECT gene_id FROM f0 GROUP BY gene_id HAVING SUM(cnt) >= 10)
    ),
    pg AS (
      SELECT gene_id, COUNT(*) AS n,
             SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS n_pos,
             AVG(CASE WHEN cnt > 0 THEN LN(cnt) END) AS lg
      FROM fact GROUP BY gene_id
    ),
    sfac AS (
      SELECT f.barcode,
             EXP(quantile_cont(LN(f.cnt) - pg.lg, 0.5)) AS s
      FROM fact f JOIN pg ON f.gene_id = pg.gene_id AND pg.n_pos = pg.n
      GROUP BY f.barcode
    ),
    ys AS (
      SELECT f.gene_id, f.cond, CAST(f.cnt AS DOUBLE) AS y, sfac.s
      FROM fact f JOIN sfac USING (barcode)
    ),
    lv AS (
      SELECT gene_id, AVG(y / s) AS base_mean,
             COUNT(*) FILTER (WHERE cond = 'NT') AS n_a,
             COUNT(*) FILTER (WHERE cond = 'TP') AS n_b,
             SUM(y) FILTER (WHERE cond = 'NT') AS sy_a,
             SUM(y) FILTER (WHERE cond = 'TP') AS sy_b,
             SUM(s) FILTER (WHERE cond = 'NT') AS ss_a,
             SUM(s) FILTER (WHERE cond = 'TP') AS ss_b,
             SUM(y * y) FILTER (WHERE cond = 'NT') AS syy_a,
             SUM(y * y) FILTER (WHERE cond = 'TP') AS syy_b,
             SUM(y * s) FILTER (WHERE cond = 'NT') AS sys_a,
             SUM(y * s) FILTER (WHERE cond = 'TP') AS sys_b,
             SUM(s * s) FILTER (WHERE cond = 'NT') AS sss_a,
             SUM(s * s) FILTER (WHERE cond = 'TP') AS sss_b,
             LIST({'y': y, 's': s}) FILTER (WHERE cond = 'NT') AS obs_a,
             LIST({'y': y, 's': s}) FILTER (WHERE cond = 'TP') AS obs_b
      FROM ys GROUP BY gene_id
    ),
    q AS (
      SELECT *,
             CASE WHEN sy_a > 0 THEN sy_a / ss_a END AS q_a,
             CASE WHEN sy_b > 0 THEN sy_b / ss_b END AS q_b
      FROM lv
    ),
    disp AS (
      SELECT *,
             CASE WHEN q_a * q_a * sss_a + q_b * q_b * sss_b > 0
                  THEN GREATEST((syy_a - 2.0 * q_a * sys_a + q_a * q_a * sss_a
                                 + syy_b - 2.0 * q_b * sys_b + q_b * q_b * sss_b
                                 - (sy_a + sy_b))
                                / (q_a * q_a * sss_a + q_b * q_b * sss_b), 0.0)
                  ELSE 0.0 END AS alpha
      FROM q
    ),
    nb AS (
      SELECT *, """
    + _NB_NEWTON_SQL.format(lv="a")
    + " AS b_a, "
    + _NB_NEWTON_SQL.format(lv="b")
    + """ AS b_b
      FROM disp
    ),
    wt AS (
      SELECT gene_id, base_mean, n_a, n_b, b_b - b_a AS beta,
             SQRT(1.0 / """
    + _NB_WEIGHT_SQL.format(lv="a")
    + " + 1.0 / "
    + _NB_WEIGHT_SQL.format(lv="b")
    + """) AS se
      FROM nb
    ),
    st AS (
      SELECT *, CASE WHEN se > 0 THEN beta / se END AS wald FROM wt
    ),
    pv AS (
      SELECT *, CASE WHEN wald IS NOT NULL THEN """
    + NORMAL_SF_TWO_SIDED_SQL.format(z="wald")
    + """ END AS pvalue
      FROM st
    ),
    bh AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER (
               ORDER BY pvalue ASC NULLS LAST, gene_id ASC) AS DOUBLE) AS rk,
             CAST(COUNT(pvalue) OVER () AS DOUBLE) AS nt
      FROM pv
    ),
    adj AS (
      SELECT *,
             CASE WHEN pvalue IS NOT NULL THEN
               LEAST(1.0, MIN(pvalue * nt / rk) OVER (
                 ORDER BY rk DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             END AS padj
      FROM bh
    )
    SELECT gene_id, ROUND(base_mean, 6) AS base_mean,
           ROUND(beta / LN(2), 6) AS log2_fold_change,
           ROUND(se / LN(2), 6) AS lfc_se,
           ROUND(wald, 6) AS wald_stat,
           ROUND(pvalue, 6) AS pvalue,
           n_a, n_b,
           ROUND(padj, 6) AS padj,
           """
    + SIGNIF_BIN_SQL.format(p="ROUND(padj, 6)")
    + """ AS p_signif
    FROM adj
    """,
    tags=("pipeline-A", "A1", "A5", "A6", "A9"),
)
def tcga_de_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point A (§3.1), FULL: the complete differential-expression
    pipeline including the per-gene NB GLM Wald stage — sample filter →
    gene floor → size factors → NB GLM Wald → BH → significance bins
    (lettercode_DESeq.R end-to-end), over the committed fixture parquet.
    The oracle runs the same saturated-design fit as
    ``glm._nb_wald_sql``: per-level sums, moment dispersion, a fixed
    count of Newton steps in log q (``list_reduce`` over lambdas), and
    the closed-form standard error. Stats round to 6 decimals and the
    bin is decided on the rounded padj, as in ``tcga_de_pipeline``.
    ``sf_dir`` unused: the inputs are the reference-shaped star schema,
    not the TPC-H tables."""
    from tcga_query_project_spark import fixtures
    from tcga_query_project_spark.pipelines import differential_expression as dp

    t = fixtures.read_fixtures_parquet(spark)
    de = dp.differential_expression(
        t["expression"], t["genes"], t["samples"], "short_letter_code", "NT", "TP"
    )
    padj6 = F.round("padj", 6)
    return de.select(
        "gene_id",
        *(
            F.round(c, 6).alias(c)
            for c in ("base_mean", "log2_fold_change", "lfc_se", "wald_stat", "pvalue")
        ),
        "n_a",
        "n_b",
        padj6.alias("padj"),
        signif_bin(padj6).alias("p_signif"),
    )


@register_bench_only(
    "tcga_de_filtered",
    None,  # lowess theta selection (driver-side) — rows-only; the
    # filtering machinery itself is oracle-checked via a6_filter_grid,
    # goldens live in tests/test_pipelines.py, and the composition
    # through the Wald stage is differentially attested in
    # test_de_full_composition_differential
    tags=("pipeline-A", "A1", "A5", "A6", "A6-filter", "A9"),
)
def tcga_de_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point A (§3.1) with DESeq2 ``results()``'s DEFAULT padj:
    ``independentFiltering=TRUE`` (vital_status_DESeq.R:89 — the
    reference never passes ``independentFiltering=``, so its padj IS
    this lowess-selected baseMean-quantile form). ``tcga_de_full`` and
    the ``tcga_de_pipeline`` driver slot keep filtering OFF so their
    pinned oracles stay byte-stable across rounds; this variant is the
    default-fidelity path — same plan through the Wald stage, then
    :func:`stats.independent_filter_padj` instead of plain BH (one
    extra dimension-sized rejection-grid pass; cost is flat in cohort
    size since samples were already aggregated away)."""
    from tcga_query_project_spark import fixtures
    from tcga_query_project_spark.pipelines import differential_expression as dp

    t = fixtures.read_fixtures_parquet(spark)
    return dp.differential_expression(
        t["expression"], t["genes"], t["samples"],
        "short_letter_code", "NT", "TP", independent_filtering=True,
    )


@register(
    "tcga_drug_km_pipeline",
    "WITH "
    + _FIX_TABLES
    + """,
    kmt AS (
      SELECT barcode,
             CASE vital_status WHEN 'Alive' THEN 0 WHEN 'Dead' THEN 1
             END AS status,
             CASE WHEN vital_status = 'Alive'
                  THEN CAST(paper_days_to_last_followup AS DOUBLE)
                  ELSE CAST(days_to_death AS DOUBLE) END AS t
      FROM smp
    ),
    kmv AS (
      SELECT * FROM kmt WHERE status IS NOT NULL AND t IS NOT NULL
    ),
    keepb AS (SELECT gene_id FROM expr GROUP BY gene_id
              HAVING SUM(cnt) >= 10),
    flb AS (SELECT e.* FROM expr e JOIN keepb USING (gene_id)),
    pgb AS (
      SELECT gene_id, COUNT(*) AS n,
             SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS n_pos,
             AVG(CASE WHEN cnt > 0 THEN LN(cnt) END) AS lg
      FROM flb GROUP BY gene_id
    ),
    sfb AS (
      SELECT f.barcode,
             EXP(quantile_cont(LN(f.cnt) - pg.lg, 0.5)) AS size_factor
      FROM flb f JOIN pgb pg ON f.gene_id = pg.gene_id AND pg.n_pos = pg.n
      GROUP BY f.barcode
    ),
    goib AS (
      SELECT g.gene_name, f.barcode,
             LOG2(f.cnt / s.size_factor + 1.0) AS normalized
      FROM flb f JOIN gn g USING (gene_id)
      JOIN sfb s ON f.barcode = s.barcode
      WHERE UPPER(g.gene_name) = 'ATAT1'
    ),
    stb AS (
      SELECT k.t, k.status, g.gene_name,
             NTILE(2) OVER (PARTITION BY g.gene_name
                            ORDER BY g.normalized ASC, g.barcode ASC)
               AS tile
      FROM kmv k JOIN goib g USING (barcode)
    ),
    labb AS (
      SELECT 'FULL_COHORT' AS drug_class, gene_name,
             CASE WHEN tile = 1 THEN 'LOW' ELSE 'HIGH' END AS stratum,
             t, status
      FROM stb
    ),
    cohc AS (
      SELECT 'Taxane' AS drug_class, SUBSTR(barcode, 1, 12) AS submitter_id
      FROM smp
      WHERE len(list_filter(treatments, x ->
              x.treatment_type = 'Taxane'
              OR x.therapeutic_agents IN ('Paclitaxel', 'Docetaxel'))) > 0
      UNION
      SELECT 'Anthracycline', SUBSTR(barcode, 1, 12) FROM smp
      WHERE len(list_filter(treatments, x ->
              x.treatment_type = 'Anthracycline'
              OR x.therapeutic_agents IN ('Doxorubicin', 'Epirubicin'))) > 0
    ),
    tagc AS (
      SELECT DISTINCT s.barcode, c.drug_class
      FROM smp s JOIN cohc c ON SUBSTR(s.barcode, 1, 12) = c.submitter_id
    ),
    factc AS (
      SELECT e.*, tc.drug_class FROM expr e JOIN tagc tc USING (barcode)
    ),
    keepc AS (
      SELECT drug_class, gene_id FROM factc
      GROUP BY drug_class, gene_id HAVING SUM(cnt) >= 10
    ),
    flc AS (
      SELECT f.* FROM factc f JOIN keepc USING (drug_class, gene_id)
    ),
    pgc AS (
      SELECT drug_class, gene_id, COUNT(*) AS n,
             SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS n_pos,
             AVG(CASE WHEN cnt > 0 THEN LN(cnt) END) AS lg
      FROM flc GROUP BY drug_class, gene_id
    ),
    sfc AS (
      SELECT f.drug_class, f.barcode,
             EXP(quantile_cont(LN(f.cnt) - pg.lg, 0.5)) AS size_factor
      FROM flc f JOIN pgc pg
        ON f.drug_class = pg.drug_class AND f.gene_id = pg.gene_id
       AND pg.n_pos = pg.n
      GROUP BY f.drug_class, f.barcode
    ),
    goic AS (
      SELECT f.drug_class, g.gene_name, f.barcode,
             LOG2(f.cnt / s.size_factor + 1.0) AS normalized
      FROM flc f JOIN gn g USING (gene_id)
      JOIN sfc s ON f.drug_class = s.drug_class AND f.barcode = s.barcode
      WHERE UPPER(g.gene_name) = 'ATAT1'
    ),
    stc AS (
      SELECT tc.drug_class, g.gene_name, k.t, k.status,
             NTILE(2) OVER (PARTITION BY tc.drug_class, g.gene_name
                            ORDER BY g.normalized ASC, g.barcode ASC)
               AS tile
      FROM kmv k
      JOIN tagc tc USING (barcode)
      JOIN goic g ON tc.drug_class = g.drug_class AND k.barcode = g.barcode
    ),
    labc AS (
      SELECT drug_class, gene_name,
             CASE WHEN tile = 1 THEN 'LOW' ELSE 'HIGH' END AS stratum,
             t, status
      FROM stc
    ),
    allsub AS (SELECT * FROM labb UNION ALL SELECT * FROM labc),
    km0 AS (
      SELECT drug_class, gene_name, stratum, t,
             CAST(SUM(status) AS DOUBLE) AS d,
             CAST(SUM(1 - status) AS DOUBLE) AS c
      FROM allsub GROUP BY drug_class, gene_name, stratum, t
    ),
    km1 AS (
      SELECT *, SUM(d + c) OVER (PARTITION BY drug_class, gene_name, stratum)
              - COALESCE(SUM(d + c) OVER (
                  PARTITION BY drug_class, gene_name, stratum ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      FROM km0
    ),
    km2 AS (SELECT *, 1.0 - d / n AS factor FROM km1),
    km3 AS (
      SELECT *,
             MAX(CASE WHEN factor <= 0 THEN 1 ELSE 0 END) OVER w AS hit_zero,
             SUM(CASE WHEN factor > 0 THEN LN(factor) ELSE 0 END) OVER w
               AS logsum,
             SUM(CASE WHEN d > 0 AND n > d THEN d / (n * (n - d)) ELSE 0 END)
               OVER w AS gw_sum
      FROM km2
      WINDOW w AS (PARTITION BY drug_class, gene_name, stratum ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT drug_class, gene_name, stratum, t AS "time",
           CAST(n AS BIGINT) AS n_at_risk, CAST(d AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS n_censored,
           ROUND(CASE WHEN hit_zero = 1 THEN 0.0 ELSE EXP(logsum) END, 6)
             AS survival,
           CASE WHEN hit_zero = 1 THEN NULL
                ELSE ROUND(EXP(logsum) * EXP(logsum) * gw_sum, 6)
           END AS greenwood_var,
           CASE WHEN hit_zero = 1 THEN NULL
                ELSE ROUND(EXP(logsum)
                           * EXP(-1.959963984540054 * SQRT(gw_sum)), 6)
           END AS ci_lower,
           CASE WHEN hit_zero = 1 THEN NULL
                ELSE ROUND(LEAST(1.0, EXP(logsum)
                           * EXP(1.959963984540054 * SQRT(gw_sum))), 6)
           END AS ci_upper
    FROM km3
    """,
    tags=("pipeline-B", "pipeline-C", "P6", "P7", "F4", "J2", "W1", "W2",
          "W5"),
)
def tcga_drug_km_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry points B AND C (§3.2-3.3) in one labeled curve table —
    every KM curve row both survival pipelines produce:

    - ``drug_class='FULL_COHORT'`` rows: entry point B
      (surv_analysis_median_exp.R recast, km_by_median_expression) —
      whole-cohort size factors, median-split strata on normalized
      GOI expression, KM + Greenwood curves. This is pipeline B's
      driver-checked row (previously covered only by unit tests).
    - other ``drug_class`` rows: entry point C (drug_km_median_exp.R
      recast, drug_km) — nested-treatments cohort selection,
      cohort-relative size factors, same B tail per drug class.

    Sharing one registry slot keeps the catalog at the 48-query driver
    cap. Both pipelines build from the COMMITTED fixture
    parquet and the ENTIRE composition — nested-treatments cohort
    selection, cohort-relative median-of-ratios size factors, median
    split, KM + Greenwood + log CIs — is replayed by the DuckDB oracle
    and hash-compared. Floats round to 6 on
    both sides; the ntile ordering (normalized, barcode) is total —
    enforced at RUNTIME (``ntile_strata(strict=True)``
    raises on any duplicate order key, so engine-stability no longer
    depends on fixture luck; the fixture assertion in
    tests/test_pipelines.py remains as the fast signal)."""
    from tcga_query_project_spark import fixtures
    from tcga_query_project_spark.pipelines import survival_analysis as sp

    t = fixtures.read_fixtures_parquet(spark)
    b = sp.km_by_median_expression(
        t["expression"], t["genes"], t["samples"], ["ATAT1"]
    )["curves"].select(
        F.lit("FULL_COHORT").alias("drug_class"), "*"
    )
    c = sp.drug_km(
        t["expression"], t["genes"], t["samples"], fixtures.DRUG_CLASSES, ["ATAT1"]
    )["curves"]
    out = b.unionByName(c)
    return out.select(
        "drug_class",
        "gene_name",
        "stratum",
        "time",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.round("survival", 6).alias("survival"),
        F.round("greenwood_var", 6).alias("greenwood_var"),
        F.round("ci_lower", 6).alias("ci_lower"),
        F.round("ci_upper", 6).alias("ci_upper"),
    )


# =========================================================================
# Join / window / aggregate extensions (beyond the reference surface —
# SURVEY.md §2.3 note "the engine gets these free from Spark"; made
# explicit here so each has an oracle-gated query and a plan worth
# having at 100 TB).
# =========================================================================


@register_bench_only(
    "j5_anti_join",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
    tags=("J5", "anti-join"),
)
def j5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti-join (NOT EXISTS): customers who never placed an urgent
    order. The filter on the right side is pushed below the join, so at
    scale the anti-join probes ~1/5 of orders; AQE picks broadcast-anti
    when the filtered side fits."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


_Q3_CUTOFF = "2001-06-01 00:00:00"


@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{_Q3_CUTOFF}'
      AND l_shipdate > TIMESTAMP '{_Q3_CUTOFF}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    tags=("Q3", "J1", "O1", "O2"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join + grouped top-k (TPC-H Q3 shape): the J1 fact⟕dim
    pattern chained twice. Plan at scale: the filtered customer dim
    is AQE size-decided into a broadcast (no forced hint — customer
    scales with SF and the segment filter keeps 1/5 of it, which is
    still billions of rows at 100 TB), then one shuffle join on
    l_orderkey; top-k is TakeOrderedAndProject on the rounded revenue
    (rounding makes the rank order FP-portable)."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit(_Q3_CUTOFF).cast("timestamp_ntz")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    return relational.topk(
        joined, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10
    ).select(
        "l_orderkey",
        "revenue",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
        "o_orderpriority",
    )


# Value bands for the non-equi range join: a literal dimension, exactly
# the shape of a rate-card / SLA-tier / bucket-boundary lookup.
_VALUE_BANDS = [("low", 0.0, 50.0), ("mid", 50.0, 200.0), ("high", 200.0, 1e18)]


@register_bench_only(
    "tj_range_join",
    """
    SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(e.value), 4) AS total_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 200.0),
                 ('high', 200.0, 1e18)) b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
    tags=("range-join",),
)
def tj_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/band) join: events matched to a value-band
    dimension on ``lo <= value < hi``. No equi-key → Spark plans a
    BroadcastNestedLoopJoin, which IS the right 100 TB plan when the
    band table is small (each fact partition scans k bands in place;
    no shuffle of the fact side)."""
    ev = _t(spark, sf_dir, "events")
    bands = F.broadcast(
        spark.createDataFrame(_VALUE_BANDS, "band STRING, lo DOUBLE, hi DOUBLE")
    )
    return (
        ev.join(bands, (ev.value >= bands.lo) & (ev.value < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register_bench_only(
    "w6_rolling_range",
    """
    SELECT event_id,
           ROUND(SUM(value) OVER w, 4) AS roll_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
           ROUND(AVG(value) OVER w, 6) AS roll_avg,
           MIN(value) OVER w AS roll_min,
           MAX(value) OVER w AS roll_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
    tags=("W6", "rolling-window"),
)
def w6_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range rolling aggregate: per-user trailing-1-hour sum/count
    via ``rangeBetween`` on epoch seconds (value-based frame, so tie
    order among equal timestamps cannot affect the result). One shuffle
    on user_id; the frame is computed in a single sorted pass per
    partition — no self-join."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.expr("unix_micros(ts) DIV 1000000"))
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("roll_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("roll_n"),
        F.round(F.avg("value").over(w), 6).alias("roll_avg"),
        F.min("value").over(w).alias("roll_min"),
        F.max("value").over(w).alias("roll_max"),
    )


@register_bench_only(
    "w7_w8_window_suite",
    """
    SELECT event_id, user_id,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER wu AS gap_prev_us,
           LEAD(epoch_us(ts)) OVER wu - epoch_us(ts) AS gap_next_us,
           CAST(RANK() OVER wt AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER wt AS BIGINT) AS drnk,
           ROUND(PERCENT_RANK() OVER wt, 6) AS prank,
           ROUND(CUME_DIST() OVER wt, 6) AS cdist
    FROM events
    WINDOW wu AS (PARTITION BY user_id
                  ORDER BY ts ASC NULLS FIRST, event_id ASC),
           wt AS (PARTITION BY event_type
                  ORDER BY value ASC NULLS FIRST, event_id ASC)
    """,
    tags=("W7", "W8", "lag-lead", "rank-suite"),
)
def w7_w8_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 lag/lead inter-event gaps per user (the sessionization /
    feature-engineering primitive; integer microsecond arithmetic — no
    FP at all) + W8 rank-function suite (rank, dense_rank, percent_rank,
    cume_dist) per event_type — two window specs over one scan; Spark
    plans them as two window exchanges feeding one projection. Both
    orderings are total (unique tiebreak keys) so neighbor/tie choices
    are engine-independent."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wt = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    us = F.unix_micros("ts")
    return ev.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(wu)).alias("gap_prev_us"),
        (F.lead(us).over(wu) - us).alias("gap_next_us"),
        F.rank().over(wt).cast("long").alias("rnk"),
        F.dense_rank().over(wt).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(wt), 6).alias("prank"),
        F.round(F.cume_dist().over(wt), 6).alias("cdist"),
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    tags=("Q5", "J1", "J3"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table join (TPC-H Q5 shape): revenue by nation where customer
    and supplier share the nation. The fact table (lineitem) is the
    LEFT/stream side of every join: with the original
    ``(customer⋈orders)⋈lineitem`` order Catalyst happily made the
    600k-row lineitem the broadcast build side under the local
    threshold — precisely the plan that dies at 100 TB. With lineitem
    leftmost, size-based planning builds the smaller right side at
    every edge (broadcast while supplier/customer/orders fit their
    thresholds, shuffle join once they don't — they scale with SF, so
    no force-broadcast hints on them; only the bounded nation/region
    dims are hinted). The ``c_nationkey = s_nationkey`` second
    condition rides the customer join, not a separate theta-join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register_bench_only(
    "tx_boilerplate",
    """
    WITH raw AS (
      -- COALESCE each nullable column explicitly: DuckDB concat skips
      -- NULL args but KEEPS the chr(10) separators around them while
      -- Spark concat_ws drops the separator too — the two produce
      -- different LINE STRUCTURES for NULL source/lang unless both
      -- sides pin NULL -> ''
      SELECT doc_id,
             concat(COALESCE(text, ''), chr(10),
                    'footer ' || COALESCE(source, ''),
                    chr(10), COALESCE(lang, '')) AS text
      FROM documents
    ),
    l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM raw),
    lines AS (
      SELECT doc_id,
             unnest(generate_series(1, len(ls))) AS pos,
             unnest(ls) AS line
      FROM l0
    ),
    boiler AS (
      SELECT trim(line) AS key FROM lines WHERE trim(line) != ''
      GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3
    ),
    tagged AS (
      SELECT l.doc_id, l.pos, l.line, b.key IS NOT NULL AS is_b
      FROM lines l LEFT JOIN boiler b ON b.key = trim(l.line)
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN NOT is_b THEN line END,
                               chr(10) ORDER BY pos), '') AS text,
           CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed
    FROM tagged GROUP BY doc_id
    """,
    tags=("boilerplate", "c4-clean"),
)
def tx_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document boilerplate-line removal
    (text.remove_boilerplate_lines), driver-visible. The corpus is made
    multi-line deterministically — each document gains a per-source
    footer line and a language line, which repeat across >= min_docs
    documents and so are removed, while original text lines survive
    unless the same full text occurs in 3+ docs (the corpus's planted
    duplicates). Exercises line splitting, the distinct-doc count gate,
    and order-preserving reassembly; the oracle replays split ->
    count-distinct -> filter -> string_agg."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        # coalesce source/lang explicitly: concat_ws would silently
        # DROP a NULL line (separator included), changing the line
        # structure vs the oracle's concat
        F.concat_ws(
            "\n",
            F.coalesce(F.col("text"), F.lit("")),
            F.concat(
                F.lit("footer "), F.coalesce(F.col("source"), F.lit(""))
            ),
            F.coalesce(F.col("lang"), F.lit("")),
        ).alias("text"),
    )
    return text.remove_boilerplate_lines(docs, "doc_id", "text", min_docs=3)


# Shared DuckDB fragment: per-(doc, term) counts over lowercased
# whitespace tokens — mirrors text.term_frequencies exactly.
_SQL_TF_CTE = """
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+'))
                     AS term
            FROM documents)
      WHERE term != '' GROUP BY doc_id, term
    )
"""


@register(
    "tx_tfidf",
    "WITH "
    + _SQL_TF_CTE
    + """,
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n
           FROM documents),
    dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfq
              FROM tf GROUP BY term)
    SELECT t.doc_id, t.term, t.tf,
           ROUND(t.tf * (LN((nd.n + 1) / (d.dfq + 1)) + 1), 6) AS tfidf
    FROM tf t JOIN dfreq d ON d.term = t.term CROSS JOIN nd
    """,
    tags=("tfidf", "inverted-index"),
)
def tx_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF postings (text.tfidf: smoothed sklearn idf), oracle-
    visible in a driver slot. One explode + term shuffle
    builds the postings; document frequencies are a dimension-sized
    per-term aggregate broadcast back; N attaches as a broadcast
    scalar. The oracle replays the identical tokenize/count/idf
    algebra; the ln() product is rounded to 6 on both sides."""
    docs = _t(spark, sf_dir, "documents")
    out = text.tfidf(docs, "doc_id", "text")
    return out.select(
        "doc_id", "term", "tf", F.round("tfidf", 6).alias("tfidf")
    )


@register_bench_only(
    "tx_perplexity",
    "WITH "
    + _SQL_TF_CTE
    + """,
    t AS (SELECT SUM(tf) AS total FROM tf),
    s AS (
      SELECT doc_id, tf,
             -LN(SUM(tf) OVER (PARTITION BY term)
                 / (SELECT total FROM t)) AS neg_logp
      FROM tf
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           ROUND(SUM(tf * neg_logp) / SUM(tf), 6) AS avg_neg_logp,
           ROUND(EXP(ROUND(SUM(tf * neg_logp) / SUM(tf), 6)), 4) AS ppl
    FROM s GROUP BY doc_id
    """,
    tags=("quality-filter", "perplexity", "ccnet"),
)
def tx_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score (text.unigram_perplexity):
    per-document perplexity under the corpus unigram LM — the
    perplexity-filter tier of the LLM data pipeline (Wenzek et al.
    2020 use a KenLM 5-gram; the unigram form is the same dataflow
    with an in-corpus model). Three exchanges at any corpus size:
    postings build, per-term window counts on the same table, doc
    aggregate; corpus total rides a broadcast scalar. The oracle
    replays tokenize → window term counts → −ln p → per-doc average;
    ppl is exp OF THE ROUNDED average on both sides so the published
    float cannot diverge."""
    docs = _t(spark, sf_dir, "documents")
    return text.unigram_perplexity(docs, "doc_id", "text")


@register_bench_only(
    "tx_bigram_backoff",
    f"""
    WITH docs AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks,
             {HASH_SPLIT_BUCKET_SQL.format(key="doc_id")} < 50 AS is_model
      FROM documents WHERE text IS NOT NULL
    ),
    mtok AS (SELECT unnest(toks) AS w FROM docs WHERE is_model),
    uni AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS uc
            FROM mtok WHERE w != '' GROUP BY w),
    tot AS (SELECT GREATEST(COALESCE(SUM(uc), 0.0), 1.0) AS n FROM uni),
    trans AS (
      SELECT doc_id, is_model,
             unnest(toks[1:len(toks)-1]) AS wp,
             unnest(toks[2:len(toks)]) AS w
      FROM docs WHERE len(toks) >= 2
    ),
    bigc AS (SELECT wp, w, CAST(COUNT(*) AS DOUBLE) AS bc
             FROM trans WHERE is_model GROUP BY wp, w),
    s AS (
      SELECT t.doc_id,
             CASE WHEN b.bc IS NOT NULL THEN b.bc / up.uc
                  WHEN u.uc IS NOT NULL THEN 0.4 * u.uc / tt.n
                  ELSE 0.4 / tt.n END AS sc
      FROM trans t
      LEFT JOIN bigc b ON b.wp = t.wp AND b.w = t.w
      LEFT JOIN uni up ON up.w = t.wp
      LEFT JOIN uni u ON u.w = t.w
      CROSS JOIN tot tt
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
           ROUND(AVG(-LN(sc)), 6) AS avg_neg_logs,
           ROUND(EXP(ROUND(AVG(-LN(sc)), 6)), 4) AS backoff_ppl
    FROM s GROUP BY doc_id
    """,
    tags=("quality-filter", "stupid-backoff", "lm-score"),
)
def tx_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram LM quality score (text.bigram_backoff_score,
    Brants et al. 2007): every document scored against a bigram model
    counted from the deterministic md5 half-split of the corpus
    (hash_split_bucket(doc_id) < 50 — the held-out half genuinely
    exercises both backoff tiers, unlike an in-corpus model where every
    bigram is seen). Transitions come from slice+arrays_zip — a codegen
    projection, no doc-keyed window shuffle; model unigram/bigram
    counts are vocabulary-sized broadcasts; N rides a one-row scalar
    derived from the unigram table. The oracle replays the identical
    split/slice-zip/backoff-CASE algebra; backoff_ppl is exp OF THE
    ROUNDED per-doc average on both engines."""
    docs = _t(spark, sf_dir, "documents")
    from tcga_query_project_spark.functions.scalar import hash_split_bucket

    marked = docs.withColumn("_m", hash_split_bucket(F.col("doc_id")) < 50)
    return text.bigram_backoff_score(marked, "doc_id", "text", "_m")


@register_bench_only(
    "tx_ctfidf_labels",
    """
    WITH tf0 AS (
      SELECT lang, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT lang,
                   unnest(string_split_regex(trim(lower(text)), '\\s+'))
                     AS term
            FROM documents)
      WHERE term != '' GROUP BY lang, term
    ),
    a AS (SELECT SUM(tf) / CAST(COUNT(DISTINCT COALESCE(lang, '__null__'))
                                AS DOUBLE) AS av
          FROM tf0),
    s AS (SELECT lang, term,
                 ROUND(tf * LN(1 + a.av / SUM(tf) OVER (PARTITION BY term)),
                       6) AS ctfidf
          FROM tf0 CROSS JOIN a)
    SELECT lang, term, ctfidf, rank FROM (
      SELECT lang, term, ctfidf,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY ctfidf DESC, term ASC) AS rank
      FROM s) WHERE rank <= 10
    """,
    tags=("ctfidf", "cluster-labeling", "topic-terms"),
)
def tx_ctfidf_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF distinctive terms per language slice
    (text.ctfidf_top_terms, Grootendorst 2022's class-based TF-IDF —
    the standard cluster/topic labeling op): tf inside the class times
    ln(1 + A/f_t) penalizes cross-class-common terms. One inverted-
    index shuffle touches text; f_t is a window over the term
    partition of the SAME dimension-sized (class, term) table; A rides
    a broadcast scalar; the top-10 rank windows over per-class vocab
    (dimension-sized by contract). Rank cuts on the ROUNDED score with
    a term tiebreak so the cut is engine-portable; the oracle replays
    the identical algebra."""
    docs = _t(spark, sf_dir, "documents")
    return text.ctfidf_top_terms(docs, "lang", "text", top_n=10)


@register_bench_only(
    "tx_bm25",
    "WITH "
    + _SQL_TF_CTE
    + """,
    doclen AS (SELECT doc_id, SUM(tf) AS len FROM tf GROUP BY doc_id),
    st AS (SELECT AVG(len) AS avg_len, CAST(COUNT(*) AS DOUBLE) AS n
           FROM doclen),
    matched AS (SELECT * FROM tf
                WHERE term IN ('spark', 'join', 'window', 'filter')),
    dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfq
              FROM matched GROUP BY term)
    SELECT m.doc_id,
           ROUND(SUM(LN(1 + (st.n - d.dfq + 0.5) / (d.dfq + 0.5))
                     * m.tf * (1.2 + 1)
                     / (m.tf + 1.2 * (1 - 0.75
                                      + 0.75 * dl.len / st.avg_len))),
                 6) AS bm25
    FROM matched m
    JOIN dfreq d ON d.term = m.term
    JOIN doclen dl ON dl.doc_id = m.doc_id
    CROSS JOIN st
    GROUP BY m.doc_id
    """,
    tags=("bm25", "ranking"),
)
def tx_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking against a literal query (text.bm25_scores,
    k1=1.2, b=0.75), driver-visible. The
    query broadcast-filters the postings first, so only matching terms
    flow into the per-doc score aggregation; doc lengths and the
    average length come from the postings, not a second text scan. The
    per-doc contribution sum is rounded to 6 on both sides (4-term
    sums — FP order safe at that precision)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.bm25_scores(
        docs, "doc_id", "text", ["spark", "join", "window", "filter"]
    )
    return out.select("doc_id", F.round("bm25", 6).alias("bm25"))


@register_bench_only(
    "tj_diff_snapshots",
    """
    WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                         o_orderpriority FROM orders),
    old AS (SELECT * FROM base WHERE o_orderkey % 7 != 0),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey % 11 = 0 THEN '9-RECHECK'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM base WHERE o_orderkey % 5 != 0
    ),
    j AS (
      SELECT o.o_orderkey AS ko, n.o_orderkey AS kn,
             o.o_orderstatus AS os, n.o_orderstatus AS ns,
             o.o_totalprice AS op, n.o_totalprice AS np,
             o.o_orderpriority AS opr, n.o_orderpriority AS npr
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    ),
    d AS (
      SELECT COALESCE(ko, kn) AS o_orderkey,
             CASE WHEN ko IS NULL THEN 'added'
                  WHEN kn IS NULL THEN 'removed'
                  WHEN os IS DISTINCT FROM ns
                       OR op IS DISTINCT FROM np
                       OR opr IS DISTINCT FROM npr THEN 'changed'
             END AS change,
             CASE WHEN ko IS NOT NULL AND kn IS NOT NULL THEN
               array_to_string(list_filter([
                 CASE WHEN os IS DISTINCT FROM ns THEN 'o_orderstatus' END,
                 CASE WHEN op IS DISTINCT FROM np THEN 'o_totalprice' END,
                 CASE WHEN opr IS DISTINCT FROM npr
                      THEN 'o_orderpriority' END
               ], x -> x IS NOT NULL), ',')
             ELSE '' END AS changed_cols
      FROM j
    )
    SELECT o_orderkey, change, changed_cols FROM d WHERE change IS NOT NULL
    """,
    tags=("snapshot-diff", "cdc-recovery"),
)
def tj_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level snapshot diff (temporal.diff_snapshots), driver-
    visible: two deterministic snapshots
    derived from orders — 'old' drops every 7th key, 'new' drops every
    5th and perturbs price (every 3rd) and priority (every 11th) — so
    the output exercises added / removed / changed(one col) /
    changed(two cols) rows. ``changed_cols`` is compared as a joined
    string (attr-order-stable on both sides); the oracle replays the
    null-safe full-outer compare."""
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    old = base.filter("o_orderkey % 7 != 0")
    new = base.filter("o_orderkey % 5 != 0").selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0D"
        " ELSE o_totalprice END AS o_totalprice",
        "CASE WHEN o_orderkey % 11 = 0 THEN '9-RECHECK'"
        " ELSE o_orderpriority END AS o_orderpriority",
    )
    d = temporal.diff_snapshots(old, new, "o_orderkey")
    return d.selectExpr(
        "o_orderkey",
        "change",
        "array_join(changed_cols, ',') AS changed_cols",
    )


@register(
    "tj_apply_cdc",
    """
    WITH snap AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    ch AS (
      SELECT o_orderkey, o_custkey, 'P' AS o_orderstatus,
             o_totalprice + 1000.0 AS o_totalprice, 1 AS ts,
             CASE WHEN o_orderkey % 15 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'Q', o_totalprice + 2000.0, 2,
             CASE WHEN o_orderkey % 12 = 0 THEN 'D' ELSE 'U' END
      FROM orders WHERE o_orderkey % 6 = 0
    ),
    latest AS (
      SELECT * FROM (
        SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                        ORDER BY ts DESC) AS rn
        FROM ch
      ) WHERE rn = 1
    ),
    merged AS (
      SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice
      FROM snap s
      WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM latest)
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM latest WHERE op IS DISTINCT FROM 'D'
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           ROUND(o_totalprice, 4) AS o_totalprice
    FROM merged
    """,
    tags=("cdc-merge", "upsert"),
)
def tj_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC MERGE (temporal.apply_cdc), oracle-visible in a driver
    slot: snapshot = even order keys; the change log
    carries TWO versions for every 6th key (latest-wins by ts) with
    deletes planted at 15/12-multiples — exercising untouched /
    inserted / updated / deleted and the latest-entry window. Log keys
    absent from the snapshot INSERT (upsert semantics); only an
    explicit latest 'D' deletes."""
    orders = _t(spark, sf_dir, "orders")
    snap = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    ch1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("P").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.lit(1).alias("ts"),
        F.when(F.col("o_orderkey") % 15 == 0, "D")
        .otherwise("U")
        .alias("op"),
    )
    ch2 = orders.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("Q").alias("o_orderstatus"),
        (F.col("o_totalprice") + 2000.0).alias("o_totalprice"),
        F.lit(2).alias("ts"),
        F.when(F.col("o_orderkey") % 12 == 0, "D")
        .otherwise("U")
        .alias("op"),
    )
    out = temporal.apply_cdc(
        snap, ch1.unionByName(ch2), "o_orderkey", "ts", "op"
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 4).alias("o_totalprice"),
    )


@register(
    "tj_sessionize",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    f AS (
      SELECT user_id, ts_us, n_events,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 3600000000.0
                  THEN 1 ELSE 0 END AS nf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    g AS (
      SELECT user_id, ts_us, n_events,
             SUM(nf) OVER (PARTITION BY user_id ORDER BY ts_us
                           ROWS UNBOUNDED PRECEDING) AS so
      FROM f
    )
    SELECT user_id, ts_us, n_events,
           MIN(CAST(ts_us AS DOUBLE)) OVER (PARTITION BY user_id, so)
             AS session_id
    FROM g
    """,
    tags=("sessionize",),
)
def tj_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/temporal.sessionize, 1-hour
    gap) labelling each distinct click instant per user with its
    session's start time — the row-level form of st_session_sliding's
    aggregate (boundary rule pinned against Spark's session_window in
    unit test). Input pre-aggregated to unique (user, ts) so tied
    timestamps cannot order differently across engines."""
    ev = _t(spark, sf_dir, "events")
    e = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.unix_micros("ts").alias("ts_us"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    return temporal.sessionize(
        e, "user_id", "ts_us", F.lit(3_600_000_000.0)
    )


@register_bench_only(
    "tj_point_in_interval",
    """
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS pts
      FROM events WHERE event_type = 'click'
    ),
    i AS (
      SELECT user_id, epoch_us(ts) - 1800000000 AS range_start,
             epoch_us(ts) + 1800000000 AS range_end,
             ROUND(value, 4) AS r_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.pts, i.range_start, i.range_end,
           i.r_value
    FROM p JOIN i ON i.user_id = p.user_id
                 AND p.pts BETWEEN i.range_start AND i.range_end
    """,
    tags=("range-join",),
)
def tj_point_in_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (operators/temporal.range_join):
    every click inside ±30 min of a purchase by the same user, paired
    with that purchase's value. The engine plans the bucketized
    equi-join (bins of 1 h on epoch-micros); the oracle states the
    semantics as the plain BETWEEN theta-join DuckDB can afford at
    oracle scale. BENCH_ONLY (48-slot driver cap); verified by
    tests/test_oracle_parity.py."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("pts")
    )
    half = 1_800_000_000
    i = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (F.unix_micros("ts") - half).alias("s"),
        (F.unix_micros("ts") + half).alias("e"),
        F.round("value", 4).alias("value"),
    )
    return temporal.range_join(
        p, i, "user_id", "pts", "s", "e", ["value"],
        bucket_width=3_600_000_000,
    ).select(
        "event_id", "user_id", "pts", "range_start", "range_end",
        F.col("r_value"),
    )


@register_bench_only(
    "tj_asof_directions",
    """
    WITH l AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, epoch_us(ts) AS rts, ROUND(MAX(value), 4) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    bwd AS (
      SELECT l.event_id, MAX(r.rts) AS bts FROM l
      LEFT JOIN r ON r.user_id = l.user_id AND r.rts <= l.ts_us
      GROUP BY 1
    ),
    fwd AS (
      SELECT l.event_id, MIN(r.rts) AS fts FROM l
      LEFT JOIN r ON r.user_id = l.user_id AND r.rts >= l.ts_us
      GROUP BY 1
    ),
    j AS (
      SELECT l.event_id, l.user_id, l.ts_us, b.bts, f.fts,
             CASE WHEN b.bts IS NULL THEN f.fts
                  WHEN f.fts IS NULL THEN b.bts
                  WHEN l.ts_us - b.bts <= f.fts - l.ts_us THEN b.bts
                  ELSE f.fts END AS nts
      FROM l JOIN bwd b ON b.event_id = l.event_id
             JOIN fwd f ON f.event_id = l.event_id
    )
    SELECT j.event_id, j.user_id, j.ts_us,
           j.bts AS bwd_ts_us, rb.v AS bwd_value,
           j.fts AS fwd_ts_us, rf.v AS fwd_value,
           j.nts AS near_ts_us, rn.v AS near_value
    FROM j
    LEFT JOIN r rb ON rb.user_id = j.user_id AND rb.rts = j.bts
    LEFT JOIN r rf ON rf.user_id = j.user_id AND rf.rts = j.fts
    LEFT JOIN r rn ON rn.user_id = j.user_id AND rn.rts = j.nts
    """,
    tags=("asof-join", "directions"),
)
def tj_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three as-of directions side by side (backward / forward /
    nearest, operators/temporal.asof_join) — each click matched to the
    user's latest prior, earliest later, and time-closest purchase.
    The right side is pre-aggregated to unique (user, ts) per the
    operator's documented tie contract; the oracle computes the same
    three matches with inequality joins. BENCH_ONLY (48-slot driver
    cap); verified by tests/test_oracle_parity.py."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 4).alias("v"))
    )
    outs = {}
    for d, tag in (("backward", "bwd"), ("forward", "fwd"), ("nearest", "near")):
        outs[tag] = temporal.asof_join(
            clicks, purchases, "user_id", "ts", "ts", ["v"], direction=d
        ).select(
            "event_id",
            F.unix_micros("asof_ts").alias(f"{tag}_ts_us"),
            F.col("asof_v").alias(f"{tag}_value"),
        )
    base = clicks.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    return (
        base.join(outs["bwd"], "event_id")
        .join(outs["fwd"], "event_id")
        .join(outs["near"], "event_id")
    )


@register_bench_only(
    "pp_training_full",
    None,  # composed pipeline; each stage is individually
    # oracle-verified (pp_corpus_clean, tx_repetition, tx_pii_scrub,
    # pp_mixture_shards, tx_doc_chunks) and the composition is
    # golden-tested end-to-end in test_pipelines
    tags=("pipeline", "training-corpus"),
)
def pp_training_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL training path: clean → Gopher gate → PII scrub → en/fr/de
    mixture → 64-token chunking → 4k-token shard packing
    (pipelines/corpus_prep.prepare_training_corpus)."""
    from tcga_query_project_spark.pipelines.corpus_prep import (
        prepare_training_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    return prepare_training_corpus(
        docs,
        min_quality=0.4,
        langs=("en", "fr", "de"),
        mixture={"en": 1.0, "fr": 1.5, "de": 0.5},
        max_tokens=64,
        shard_budget=4096,
        block_size=1024,
    )


@register(
    "a12_cube_margins",
    """
    SELECT COALESCE(lang, '(all)') AS lang,
           COALESCE(source, '(all)') AS source,
           CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
    tags=("agg-cube",),
)
def a12_cube_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(lang, source) margins over documents — all four grouping
    levels (detail, per-lang, per-source, grand total) in ONE pass:
    Spark expands grouping sets before the single hash aggregation, so
    the cost is one shuffle regardless of how many margins are
    requested (vs 4 self-unioned GROUP BYs re-scanning the corpus).
    grouping_id disambiguates a real NULL group value from a margin
    row. Complements a10_rollup_totals (ROLLUP)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("(all)")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("(all)")).alias("source"),
            "gid",
            "n_docs",
            "total_chars",
        )
    )


@register_bench_only(
    "tx_vocab",
    """
    WITH tf AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    cnt AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      FROM tf GROUP BY token HAVING COUNT(*) >= 2
    ),
    ranked AS (
      SELECT token, freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1
                  AS BIGINT) AS vocab_id
      FROM cnt
    )
    SELECT token, freq, vocab_id FROM ranked WHERE vocab_id < 100
    """,
    tags=("text-vocab",),
)
def tx_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 frequency vocabulary (min_count=2) over documents —
    operators/text.build_vocab. BENCH_ONLY (48-slot driver cap);
    verified by tests/test_oracle_parity.py."""
    docs = _t(spark, sf_dir, "documents")
    return text.build_vocab(docs, "text", min_count=2, max_size=100)


@register_bench_only(
    "tx_doc_chunks",
    """
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) > 0
    ),
    idx AS (
      SELECT doc_id, toks,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= 32 THEN 0
                    ELSE CAST(CEIL((len(toks) - 32) / 24.0) AS BIGINT)
               END)) AS chunk_idx
      FROM d
    )
    SELECT doc_id, chunk_idx,
           CAST(len(toks[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)])
                AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)],
                           ' ') AS chunk
    FROM idx
    """,
    tags=("text-chunking",),
)
def tx_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking into 32-token training sequences with
    8-token overlap (stride 24) — operators/text.chunk_documents.
    BENCH_ONLY (48-slot driver cap); verified by
    tests/test_oracle_parity.py."""
    docs = _t(spark, sf_dir, "documents")
    return text.chunk_documents(docs, "doc_id", "text", max_tokens=32, stride=24)


@register_bench_only(
    "tx_pii_scrub",
    r"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        AS n_email,
      CAST(len(regexp_extract_all(text,
        '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
      CAST(len(regexp_extract_all(text,
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
      CAST(len(regexp_extract_all(text,
        '\+?\d{1,3}[- ]\(?\d{3}\)?[- ]\d{3}[- ]?\d{4}\b')) AS BIGINT)
        AS n_phone,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
              'g'),
            '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        '\+?\d{1,3}[- ]\(?\d{3}\)?[- ]\d{3}[- ]?\d{4}\b', '<PHONE>', 'g')
        AS scrubbed
    FROM documents
    """,
    tags=("text-pii",),
)
def tx_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit over documents (operators/text.pii_scrub).
    The synthetic corpus contains no PII, so the parity check pins the
    no-hit path (identity text, zero counts); hit behavior is pinned by
    the crafted-docs unit test. BENCH_ONLY (48-slot driver cap);
    verified by tests/test_oracle_parity.py."""
    docs = _t(spark, sf_dir, "documents")
    return text.pii_scrub(docs, "doc_id", "text")


@register_bench_only(
    "pp_mixture_shards",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             CASE lang WHEN 'en' THEN 1.5 WHEN 'fr' THEN 1.0
                       WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.25
                       ELSE 0.0 END AS w,
             (('0x' || substring(md5(concat('mix', CAST(doc_id AS VARCHAR))),
                                 1, 8))::BIGINT % 1000000) / 1000000.0 AS frac
      FROM documents
    ),
    cop AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR(w) AS BIGINT)
               + CASE WHEN frac < w - FLOOR(w) THEN 1 ELSE 0 END AS nc
      FROM d
    ),
    expanded AS (
      SELECT doc_id, n_tokens,
             unnest(generate_series(0, nc - 1)) AS copy_idx
      FROM cop WHERE nc > 0
    ),
    c AS (
      SELECT doc_id, copy_idx, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id, copy_idx
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM expanded
    )
    SELECT doc_id, copy_idx, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(FLOOR((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS shard
    FROM c
    """,
    tags=("sampling", "mixture", "shards"),
)
def pp_mixture_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture re-weighting (en 1.5x oversample, fr 1.0, de 0.5,
    es 0.25 subsample, zh dropped) followed by token-budget shard
    packing at 2048 tokens/shard — operators/sampling. block_size=256
    forces the distributed prefix-sum through multiple blocks even at
    oracle scale, so the block-offset path is what gets verified; the
    oracle's single global window is the semantics, not the plan.
    BENCH_ONLY: verified by tests/test_oracle_parity.py (48-slot driver
    cap)."""
    docs = _t(spark, sf_dir, "documents")
    mixed = sampling.sample_mixture(
        docs,
        "lang",
        {"en": 1.5, "fr": 1.0, "de": 0.5, "es": 0.25},
        "doc_id",
    ).withColumn(
        "_ntok",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long"),
    )
    return sampling.pack_shards(
        mixed,
        "doc_id",
        "_ntok",
        budget=2048,
        block_size=256,
        order_cols=("copy_idx",),
    )


@register_bench_only(
    "tx_repetition",
    f"""
    WITH docs AS (
      SELECT doc_id, text, {_SQL_TOKS_NORM} AS toks,
             CAST(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                  AS DOUBLE) AS total_chars
      FROM documents
    ),
    u AS (
      SELECT doc_id, 'w2' AS kind,
             unnest(CASE WHEN len(toks) >= 2
                    THEN list_transform(generate_series(1, len(toks) - 1),
                         i -> concat(toks[i], ' ', toks[i+1]))
                    ELSE [] END) AS unit
      FROM docs
      UNION ALL
      SELECT doc_id, 'w3',
             unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
                    ELSE [] END)
      FROM docs
      UNION ALL
      SELECT doc_id, 'line',
             unnest(list_filter(
               list_transform(string_split(text, chr(10)), x -> trim(x)),
               x -> x <> ''))
      FROM docs
    ),
    c AS (
      SELECT doc_id, kind, unit, CAST(COUNT(*) AS DOUBLE) AS cnt,
             CAST(length(replace(unit, ' ', '')) AS DOUBLE) AS ulen
      FROM u GROUP BY doc_id, kind, unit
    ),
    m AS (
      SELECT doc_id,
        MAX(CASE WHEN kind = 'w2' THEN cnt * ulen END) AS top2,
        SUM(CASE WHEN kind = 'w2' THEN cnt END) AS w2_tot,
        SUM(CASE WHEN kind = 'w2' AND cnt > 1 THEN cnt END) AS w2_dup,
        MAX(CASE WHEN kind = 'w3' THEN cnt * ulen END) AS top3,
        SUM(CASE WHEN kind = 'w3' THEN cnt END) AS w3_tot,
        SUM(CASE WHEN kind = 'w3' AND cnt > 1 THEN cnt END) AS w3_dup,
        SUM(CASE WHEN kind = 'line' THEN cnt END) AS ln_tot,
        SUM(CASE WHEN kind = 'line' AND cnt > 1 THEN cnt END) AS ln_dup,
        SUM(CASE WHEN kind = 'line' THEN cnt * ulen END) AS ln_chars,
        SUM(CASE WHEN kind = 'line' AND cnt > 1 THEN cnt * ulen END)
          AS ln_dup_chars
      FROM c GROUP BY doc_id
    )
    SELECT d.doc_id,
      COALESCE(ROUND((len(d.toks) - len(list_distinct(d.toks)))
               / NULLIF(CAST(len(d.toks) AS DOUBLE), 0), 6), 0.0)
        AS dup_word_frac,
      COALESCE(ROUND(m.top2 / NULLIF(d.total_chars, 0), 6), 0.0)
        AS top2gram_char_frac,
      COALESCE(ROUND(m.w2_dup / NULLIF(m.w2_tot, 0), 6), 0.0)
        AS dup2gram_frac,
      COALESCE(ROUND(m.top3 / NULLIF(d.total_chars, 0), 6), 0.0)
        AS top3gram_char_frac,
      COALESCE(ROUND(m.w3_dup / NULLIF(m.w3_tot, 0), 6), 0.0)
        AS dup3gram_frac,
      COALESCE(ROUND(m.ln_dup / NULLIF(m.ln_tot, 0), 6), 0.0)
        AS dup_line_frac,
      COALESCE(ROUND(m.ln_dup_chars / NULLIF(m.ln_chars, 0), 6), 0.0)
        AS dup_line_char_frac,
      (COALESCE(ROUND(m.top2 / NULLIF(d.total_chars, 0), 6), 0.0) <= 0.20
       AND COALESCE(ROUND(m.top3 / NULLIF(d.total_chars, 0), 6), 0.0) <= 0.18
       AND COALESCE(ROUND(m.ln_dup / NULLIF(m.ln_tot, 0), 6), 0.0) <= 0.30
       AND COALESCE(ROUND(m.ln_dup_chars / NULLIF(m.ln_chars, 0), 6), 0.0)
             <= 0.20) AS passes_gopher
    FROM docs d LEFT JOIN m ON m.doc_id = d.doc_id
    """,
    tags=("text-quality", "gopher"),
)
def tx_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (operators/text.repetition_metrics) over
    the documents table."""
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_metrics(docs, "doc_id", "text")


@register_bench_only(
    "sk_approx_profile",
    None,  # sketch implementations differ per engine — tolerance-tested
    # against exact answers in tests/test_operators_unit.py instead
    tags=("sketch", "approx"),
)
def sk_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group profile: HLL distinct users + KLL-style
    quartiles of value (operators/sketches.approx_profile). THE
    100 TB form of a11_group_moments: one pass, mergeable sketch state,
    the shuffle carries sketches instead of rows."""
    from tcga_query_project_spark.operators import sketches

    ev = _t(spark, sf_dir, "events")
    prof = sketches.approx_profile(ev, "event_type", "user_id", "value")
    return prof.select(
        "event_type",
        "approx_distinct",
        F.round(F.col("approx_quartiles")[0], 6).alias("q1"),
        F.round(F.col("approx_quartiles")[1], 6).alias("q2"),
        F.round(F.col("approx_quartiles")[2], 6).alias("q3"),
        "n",
    )


@register(
    "a11_group_moments",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(STDDEV_SAMP(value), 4) AS sd_value,
           ROUND(VAR_SAMP(value), 4) AS var_value,
           ROUND(CORR(value, CAST(epoch_us(ts) // 1000000 AS DOUBLE)), 6)
             AS corr_value_time,
           ROUND(quantile_cont(value, 0.5), 6) AS median_value,
           ROUND(skewness(value) * (COUNT(*) - 2)
                 / SQRT(CAST(COUNT(*) * (COUNT(*) - 1) AS DOUBLE)), 6)
             AS skew_value,
           ROUND(kurtosis_pop(value), 6) AS kurt_value
    FROM events GROUP BY event_type
    """,
    tags=("A11", "moments"),
)
def a11_group_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment aggregate suite per group: sample stddev/variance, Pearson
    correlation against time, the exact interpolated median
    (``percentile`` — a single-pass sort-based exact quantile, vs the
    sketch-based ``percentile_approx`` used where 100 TB inputs make
    exactness unaffordable), and third/fourth standardized moments.
    All JVM-side built-ins. Bias conventions differ per engine: Spark's
    skewness/kurtosis are the population (g1) and excess-population
    forms, so the oracle de-biases DuckDB's sample skewness
    (``G1 * (n-2)/sqrt(n(n-1)) = g1``) and uses ``kurtosis_pop``."""
    ev = _t(spark, sf_dir, "events")
    ts_s = F.expr("unix_micros(ts) DIV 1000000").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.round(F.corr(F.col("value"), ts_s), 6).alias("corr_value_time"),
        F.round(F.percentile("value", 0.5), 6).alias("median_value"),
        F.round(F.skewness("value"), 6).alias("skew_value"),
        F.round(F.kurtosis("value"), 6).alias("kurt_value"),
    )


@register_bench_only(
    "a14_group_trend",
    """
    WITH b AS (
      SELECT event_type, epoch_us(ts) // 1000000 AS sec, value FROM events
    ),
    t0 AS (SELECT event_type, MIN(sec) AS t0 FROM b GROUP BY event_type)
    SELECT b.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(value, CAST(b.sec - t0.t0 AS DOUBLE))
                 * 86400, 6) AS slope_per_day,
           ROUND(regr_intercept(value, CAST(b.sec - t0.t0 AS DOUBLE)), 4)
             AS level_at_start,
           ROUND(regr_r2(value, CAST(b.sec - t0.t0 AS DOUBLE)), 6) AS r2
    FROM b JOIN t0 ON b.event_type IS NOT DISTINCT FROM t0.event_type
    GROUP BY b.event_type
    """,
    tags=("A14", "trend"),
)
def a14_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend of value against time — the metric-drift /
    trend-detection query of an observability pipeline ("is this
    event type's value creeping up, and does time explain it"):
    least-squares slope (reported per DAY), fitted level at the
    group's FIRST event, and R². All JVM-side ``regr_*`` built-ins
    (SQL:2023 linear-regression aggregates — single-pass streaming-
    covariance state, partial-agg mergeable, so the shuffle carries 6
    doubles per group), identical NULL conventions in both engines
    (var(x)=0 or n<2 → NULL slope; constant y over varying x → slope
    0, R² 1; pairs with a NULL side skipped — edge shapes pinned by
    the fuzz suite).

    The regression abscissa is anchored per group: ``x = sec −
    min(sec)`` via an exact-integer grouped min joined back (null-
    safe, so a NULL event type stays a group — the quantile_strata
    lesson). Anchoring is not cosmetic: the intercept at raw epoch-
    seconds is the extrapolation to 1970 — |x̄| ≈ 8·10⁸ multiplies
    last-ulp engine differences in the streaming co-moments into
    1e-3-scale intercept divergence (caught by this suite's own fuzz
    before first commit), while the anchored intercept is the level
    at data start: well-conditioned AND the number a drift monitor
    actually wants. The grouped-min side is group-cardinality, hence
    broadcast. The moments sibling of ``a11_group_moments``'s corr."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("unix_micros(ts) DIV 1000000").alias("_sec"),
        "value",
    )
    t0 = (
        base.groupBy("event_type")
        .agg(F.min("_sec").alias("_t0"))
        .withColumnRenamed("event_type", "_g")
    )
    x = (F.col("_sec") - F.col("_t0")).cast("double")
    return (
        base.join(
            F.broadcast(t0),
            F.col("event_type").eqNullSafe(F.col("_g")),
        )
        .drop("_g")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.regr_slope(F.col("value"), x) * 86400, 6).alias(
                "slope_per_day"
            ),
            F.round(F.regr_intercept(F.col("value"), x), 4).alias(
                "level_at_start"
            ),
            F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
        )
    )


@register(
    "mm_binary_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha_hex,
           CASE WHEN octet_length(encode(text)) < 400 THEN 'small'
                WHEN octet_length(encode(text)) < 1200 THEN 'medium'
                ELSE 'large' END AS size_band
    FROM documents
    """,
    tags=("multimodal-binary",),
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing (SURVEY.md §2.10): an opaque
    ``BinaryType`` payload (here: the UTF-8 encoding of the text column
    — the driver testdata ships no real media bytes) plus typed
    metadata derived engine-side: byte length, SHA-256 content hash,
    and a size-band classification — the decode-free projection a media
    pipeline runs to prune/route payloads *before* any codec touches
    them. The query pins the binary schema + metadata path; every
    column is oracle-checkable in SQL."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    n_bytes = F.length(payload).cast("long")
    return docs.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.sha2(payload, 256).alias("sha_hex"),
        F.when(n_bytes < 400, "small")
        .when(n_bytes < 1200, "medium")
        .otherwise("large")
        .alias("size_band"),
    )


@register(
    "ann_lsh_bucketed",
    """
    WITH b AS (
      SELECT vec_id, embedding,
             CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 1 ELSE 0 END
           + CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END
           + CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 4 ELSE 0 END
           + CASE WHEN CAST(embedding[4] AS DOUBLE) > 0 THEN 8 ELSE 0 END AS bkt
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id
    ),
    px AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             unnest(q.embedding) AS xa, unnest(c.embedding) AS xb
      FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id != c.vec_id
      WHERE q.vec_id < 50
    ),
    dots AS (
      SELECT qid, cid, SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot
      FROM px GROUP BY qid, cid
    ),
    scored AS (
      SELECT d.qid AS query_id, d.cid AS neighbor_id,
             ROUND(d.dot / (nq.nrm * nc.nrm), 4) AS cosine
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nc ON nc.vec_id = d.cid
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
    tags=("ann-lsh", "ann-bucketed"),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (LSH) ANN — the scale path next to ann_cosine_topk's
    brute force: deterministic sign-LSH bucket (axis-aligned hyperplanes
    on the leading 4 components, operators/similarity.sign_bucket),
    candidate generation via equi-join on bucket id, exact cosine
    re-rank of candidates only — each of the 50 query vectors scores
    ~1/16th of the corpus instead of all of it. Recall < 1 by
    construction (the ANN trade-off); the bucketing is deterministic and
    mirrored verbatim in the oracle, so the *result* is exact and
    hash-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_bucketed(
        emb,
        "vec_id",
        "embedding",
        k=3,
        bits=4,
        query_filter=F.col("query_id") < 50,
    )


@register_bench_only(
    "tx_bpe_pieces",
    None,  # iterative merge learning — not single-statement SQL; the
    # learner and encoder are differential-tested against a naive
    # recount reference and the driver greedy loop in tests/test_bpe.py
    tags=("bpe", "tokenizer"),
)
def tx_bpe_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE tokenization of the corpus (operators/bpe): train a
    merge table on the distributed word histogram (one shuffle +
    dimension-sized driver learning, Sennrich subword-units recipe),
    then encode every document via broadcast merge ranks in one
    Arrow-batched mapInPandas pass — zero encode-side shuffles.
    Complements tx_vocab (whole-word ids) with the subword path an LLM
    pipeline actually trains on. Output: per-doc piece count plus
    first/last piece (deterministic: the merge sequence is
    tie-broken lexicographically)."""
    docs = _t(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, "text", num_merges=200, max_words=50_000)
    enc = bpe.bpe_encode(docs, merges, "doc_id", "text")
    return enc.select(
        "doc_id",
        "n_pieces",
        F.element_at("pieces", 1).alias("first_piece"),
        F.element_at("pieces", -1).alias("last_piece"),
    )


@register_bench_only(
    "tx_unigram_pieces",
    None,  # EM-trained unigram LM — iterative, not single-statement
    # SQL; forward-backward and Viterbi are enumeration-differential-
    # tested and the pipeline is round-trip-tested in tests/test_unigram.py
    tags=("unigram", "tokenizer"),
)
def tx_unigram_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenization of the corpus
    (operators/unigram, Kudo 2018): EM-train a piece distribution on
    the distributed word histogram (one shuffle + dimension-sized
    driver EM — same contract as tx_bpe_pieces), then
    Viterbi-tokenize every document via a broadcast model in one
    Arrow-batched mapInPandas pass, zero encode-side shuffles. The
    second tokenizer family beside BPE: probabilistic top-down
    segmentation vs greedy bottom-up merges. Output mirrors
    tx_bpe_pieces (deterministic: EM/pruning/Viterbi ties all break
    lexicographically)."""
    from tcga_query_project_spark.operators import unigram as ug

    docs = _t(spark, sf_dir, "documents")
    model = ug.unigram_train(
        docs, "text", vocab_size=300, seed_size=1500, max_words=50_000
    )
    enc = ug.unigram_encode(docs, model, "doc_id", "text")
    return enc.select(
        "doc_id",
        "n_pieces",
        F.element_at("pieces", 1).alias("first_piece"),
        F.element_at("pieces", -1).alias("last_piece"),
    )


@register_bench_only(
    "tx_heavy_tokens",
    r"""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(regexp_extract_all(text,
                    '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS token
      FROM documents
    )
    GROUP BY token
    ORDER BY freq DESC, token ASC
    LIMIT 20
    """,
    tags=("sketch", "heavy-hitters"),
)
def tx_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token heavy hitters via the bounded-state Misra-Gries
    operator (operators/sketches.heavy_hitters): per-partition
    mergeable summaries -> dimension-sized candidate union -> exact
    broadcast-semi-join recount -> TakeOrdered(20). The ORACLE is the
    full-cardinality aggregation — the result is hash-identical
    because every top-20 token's share clears the 1/capacity MG
    guarantee by orders of magnitude, which is exactly the exactness
    contract the operator documents (and the unit suite pins on a
    Zipf corpus with adversarial partitionings)."""
    from tcga_query_project_spark.operators import sketches

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(text.bpe_tokens(F.col("text"))).alias("token")
    )
    return sketches.heavy_hitters(toks, "token", k=20, capacity=4096)


@register_bench_only(
    "qa_orders_audit",
    """
    -- raw metrics feed the verdicts; ROUND only in the reported
    -- metric column — mirroring audit()'s fail-closed contract
    -- (rounding before comparison would pass a sub-5e-7 violation)
    WITH m AS (
      SELECT
        AVG(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END)
          AS null_custkey,
        CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
        CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
        1.0 - CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
              / CAST(COUNT(o_orderkey) AS DOUBLE) AS dup_key,
        AVG(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'), FALSE)
                 THEN 1.0 ELSE 0.0 END) AS status_dom,
        CAST(COUNT(*) AS DOUBLE) AS n_rows
      FROM orders
    )
    SELECT 'not_null' AS check, 'o_custkey' AS "column",
           ROUND(null_custkey, 6) AS metric, 0.0 AS threshold,
           null_custkey <= 0.0 AS passed FROM m
    UNION ALL
    SELECT 'min_at_least', 'o_totalprice', ROUND(min_price, 6), 0.0,
           min_price >= 0.0 FROM m
    UNION ALL
    SELECT 'max_at_most', 'o_totalprice', ROUND(max_price, 6), 1000000.0,
           max_price <= 1000000.0 FROM m
    UNION ALL
    SELECT 'unique', 'o_orderkey', ROUND(dup_key, 6), 0.0,
           dup_key <= 0.0 FROM m
    UNION ALL
    SELECT 'in_set', 'o_orderstatus', ROUND(status_dom, 6), 1.0,
           status_dom >= 1.0 FROM m
    UNION ALL
    SELECT 'row_count_at_least', '*', ROUND(n_rows, 6), 1.0,
           n_rows >= 1.0 FROM m
    """,
    tags=("quality-audit",),
)
def qa_orders_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-pass expectation audit (operators/quality_audit) over
    the orders table — every check one aggregate in ONE job; the oracle
    replays the identical metric algebra as plain SQL, so metric
    values, thresholds AND verdicts hash-match. Mirrors a real ingest
    gate: nullability, price bounds, key uniqueness, status domain,
    batch-size floor."""
    from tcga_query_project_spark.operators import quality_audit as qa

    orders = _t(spark, sf_dir, "orders")
    return qa.audit(
        orders,
        [
            qa.not_null("o_custkey", 0.0),
            qa.in_range("o_totalprice", 0.0, 1_000_000.0),
            qa.unique("o_orderkey"),
            qa.in_set("o_orderstatus", ["O", "F", "P"]),
            qa.row_count(1),
        ],
    )


@register_bench_only(
    "qa_column_profile",
    """
    WITH pairs AS (
      SELECT 'event_id' AS "column", CAST(event_id AS VARCHAR) AS v
      FROM events
      UNION ALL
      SELECT 'ts_us', CAST(epoch_us(ts) AS VARCHAR) FROM events
      UNION ALL
      SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
      UNION ALL
      SELECT 'event_type', event_type FROM events
      UNION ALL
      SELECT 'value_cents',
             CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR)
      FROM events
      UNION ALL
      SELECT 'props', props FROM events
    ),
    counted AS (
      SELECT "column", v, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs GROUP BY "column", v
    ),
    stats AS (
      SELECT "column",
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(COALESCE(SUM(c) FILTER (WHERE v IS NULL), 0) AS BIGINT)
               AS n_null,
             CAST(COUNT(v) AS BIGINT) AS n_distinct,
             CAST(COALESCE(SUM(c) FILTER (WHERE v IS NOT NULL), 0)
                  AS BIGINT) AS nn,
             SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
               FILTER (WHERE v IS NOT NULL) AS slnc,
             MAX(c) FILTER (WHERE v IS NOT NULL) AS maxc
      FROM counted GROUP BY "column"
    ),
    mode AS (
      SELECT c."column", MIN(c.v) AS top_value
      FROM counted c JOIN stats s ON c."column" = s."column"
      WHERE c.v IS NOT NULL AND c.c = s.maxc
      GROUP BY c."column"
    )
    SELECT s."column", s.n, s.n_null, s.n_distinct,
           CASE WHEN s.nn > 0
                THEN ROUND(ln(CAST(s.nn AS DOUBLE)) - s.slnc / s.nn, 6)
           END AS entropy,
           m.top_value,
           CASE WHEN s.nn > 0
                THEN ROUND(CAST(s.maxc AS DOUBLE) / s.nn, 6)
           END AS top_share
    FROM stats s LEFT JOIN mode m ON s."column" = m."column"
    """,
    tags=("profiling", "quality"),
)
def qa_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile (operators/quality_audit.
    column_profile) of events: per column, row/null/distinct counts,
    value-distribution Shannon entropy (via the single-pass
    ``H = ln N − Σ c·ln c / N`` identity), and the modal value + share
    (ties → smallest value — an explicit rule, never max_by's
    engine-dependent winner). Every column reaches the profiler in an
    engine-portable string rendering (integers / epoch micros / exact
    cents); one (column, value) count shuffle + a per-column roll-up +
    a |cols|-row broadcast mode resolution — no per-column window over
    the distribution (the W1 low-cardinality-partition defect)."""
    from tcga_query_project_spark.operators import quality_audit as qa

    ev = _t(spark, sf_dir, "events")
    return qa.column_profile(
        ev,
        {
            "event_id": F.col("event_id"),
            "ts_us": F.unix_micros(F.col("ts")),
            "user_id": F.col("user_id"),
            "event_type": F.col("event_type"),
            "value_cents": F.round(F.col("value") * 100).cast("long"),
            "props": F.col("props"),
        },
    )


def _poisson_case_sql(slice8: str) -> str:
    """The Poisson(1) inverse-CDF CASE chain over the SAME hex-string
    threshold literals the Spark expression uses
    (stats.POISSON1_CDF_HEX) — fixed-width lowercase hex compares
    lexicographically as its integer value in both engines, so both
    draw identical weights from identical digest slices."""
    whens = "\n             ".join(
        f"WHEN {slice8} <= '{t}' THEN {k}"
        for k, t in enumerate(stats.POISSON1_CDF_HEX)
    )
    return (
        f"CASE {whens}\n             ELSE {len(stats.POISSON1_CDF_HEX)} END"
    )


@register_bench_only(
    "a13_bootstrap_ci",
    f"""
    WITH ex AS (
      SELECT event_type, value AS x, g.g * 4 + s.s AS b,
             substring(md5('boot' || CAST(event_id AS VARCHAR)
                           || '|' || CAST(g.g AS VARCHAR)),
                       1 + 8 * s.s, 8) AS sl
      FROM events
      CROSS JOIN (SELECT UNNEST(range(25)) AS g) g
      CROSS JOIN (SELECT UNNEST(range(4)) AS s) s
      WHERE value IS NOT NULL
    ),
    wt AS (
      SELECT event_type, b, x,
             CAST({_poisson_case_sql("sl")} AS DOUBLE) AS w
      FROM ex
    ),
    per_rep AS (
      SELECT event_type, b,
             CASE WHEN SUM(w) > 0 THEN SUM(w * x) / SUM(w) END AS mean_b
      FROM wt GROUP BY event_type, b
    ),
    ci AS (
      SELECT event_type,
             ROUND(quantile_cont(mean_b, 0.025), 6) AS lo,
             ROUND(quantile_cont(mean_b, 0.975), 6) AS hi
      FROM per_rep GROUP BY event_type
    ),
    est AS (
      SELECT event_type, ROUND(AVG(value), 6) AS est
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_type, e.est, c.lo, c.hi, CAST(100 AS BIGINT) AS n_boot
    FROM est e JOIN ci c ON e.event_type IS NOT DISTINCT FROM c.event_type
    """,
    tags=("stats-bootstrap",),
)
def a13_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-bootstrap mean CI per event type
    (operators/stats.bootstrap_ci): 100 Poisson-bootstrap replicates
    whose resample counts come from portable md5 digests of
    (salt, event_id, replicate-group) — one digest feeds FOUR
    replicates via its 8-hex-char slices, weights drawn by direct
    hex-string comparison (no conversions in the hot path) —
    deterministic, layout-independent, and re-sliced identically by
    the oracle, which replays digest -> slice -> weight ->
    per-replicate weighted mean -> percentile interval in plain SQL.
    The map-side partial aggregation keeps the shuffle at (groups x
    replicates) partials regardless of row count."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return stats.bootstrap_ci(
        ev, ["event_type"], "value", "event_id", n_boot=100
    )


@register_bench_only(
    "er_fuzzy_name_pairs",
    """
    WITH names AS (SELECT DISTINCT p_name AS name FROM part
                   WHERE p_name IS NOT NULL)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
    FROM names a JOIN names b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 2
    """,
    tags=("entity-resolution", "fuzzy-join"),
)
def er_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance join without a cartesian product
    (operators/fuzzy.fuzzy_pairs): all part-name pairs within
    Levenshtein 2 via SymSpell deletion-neighborhood blocking — a
    provably complete equi-join on delete-variants plus an exact
    verify on candidates only. The oracle IS the brute-force all-pairs
    theta join the operator refuses to run (fine at oracle scale,
    quadratic suicide at corpus scale), so the hash match is a direct
    proof of blocking completeness on real data."""
    part = _t(spark, sf_dir, "part")
    from tcga_query_project_spark.operators import fuzzy

    return fuzzy.fuzzy_pairs(part, "p_name", max_dist=2)


@register_bench_only(
    "tj_funnel",
    """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
    ),
    s1 AS (SELECT user_id, MIN(ts_us) AS t1_us FROM ev
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts_us) AS t2_us
           FROM ev e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts_us > s1.t1_us
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts_us) AS t3_us
           FROM ev e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2_us
           GROUP BY e.user_id)
    SELECT s1.user_id, s1.t1_us, s2.t2_us, s3.t3_us,
           CAST(1 + CAST(s2.user_id IS NOT NULL AS INT)
                  + CAST(s3.user_id IS NOT NULL AS INT) AS BIGINT)
             AS stages_completed,
           COALESCE(s3.t3_us - s1.t1_us <= 604800000000, FALSE)
             AS converted
    FROM s1
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
    tags=("funnel", "event-analytics"),
)
def tj_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-stage conversion funnel (operators/temporal.funnel): earliest
    strictly-increasing signup -> click -> purchase chain per user,
    converted within a 7-day window — k-1 co-partitioned user-key
    joins of user-sized aggregates, no windows, no per-user event
    materialization. The oracle replays the identical earliest-chain
    recurrence as chained grouped-min CTEs; timestamps compare as
    epoch micros per the catalog convention."""
    ev = _t(spark, sf_dir, "events")
    return temporal.funnel(
        ev,
        "user_id",
        "ts",
        "event_type",
        ["signup", "click", "purchase"],
        max_span_us=604_800_000_000,
    )


@register_bench_only(
    "tj_retention",
    """
    WITH ev AS (
      SELECT DISTINCT user_id AS u,
             CAST(FLOOR(epoch_us(ts) / 86400000000.0) AS BIGINT) AS p
      FROM events
    ),
    first AS (SELECT u, MIN(p) AS cohort_period FROM ev GROUP BY u),
    cells AS (
      SELECT f.cohort_period, e.p - f.cohort_period AS period_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM ev e JOIN first f USING (u)
      GROUP BY 1, 2
    ),
    sizes AS (SELECT cohort_period, CAST(COUNT(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY cohort_period)
    SELECT c.cohort_period, c.period_offset, c.n_active, s.cohort_size,
           ROUND(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM cells c JOIN sizes s USING (cohort_period)
    """,
    tags=("retention", "event-analytics"),
)
def tj_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix (operators/temporal.retention):
    users cohorted by first-activity day (integer epoch-day buckets —
    no calendar/timezone divergence surface), per-(cohort, offset)
    active fraction. Two user-keyed aggregates + a co-partitioned
    join + a cohort-sized broadcast; oracle replays the identical
    integer-bucket algebra."""
    ev = _t(spark, sf_dir, "events")
    return temporal.retention(ev, "user_id", "ts", 86_400_000_000)


@register_bench_only(
    "tj_markov",
    """
    WITH seq AS (
      SELECT event_type AS f,
             LEAD(event_type) OVER w AS t,
             LEAD(TRUE) OVER w AS h
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY epoch_us(ts) ASC NULLS FIRST,
                            event_id ASC NULLS FIRST)
    ),
    m AS (
      SELECT f AS from_type, t AS to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE h GROUP BY f, t
    )
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
    FROM m
    """,
    tags=("markov", "event-analytics"),
)
def tj_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix
    (operators/temporal.transition_matrix): per-user event sequences in
    (ts, event_id) total order — the unique tiebreak makes transition
    pairs deterministic under the testdata's timestamp collisions —
    counted into a row-normalized (from, to) matrix. One user-keyed
    window + one pair-count shuffle; the normalizing window runs on the
    |states|²-row matrix, never the corpus. Sequence end is not a
    state (lead(TRUE) distinguishes no-next-row from NULL-typed next).
    The oracle replays the identical window + normalization."""
    ev = _t(spark, sf_dir, "events")
    return temporal.transition_matrix(
        ev, "user_id", "ts", "event_type", "event_id"
    )


@register_bench_only(
    "tj_resample",
    """
    WITH base AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS b,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    agg AS (
      SELECT user_id, b, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS t
      FROM base GROUP BY user_id, b
    ),
    rng AS (SELECT user_id, MIN(b) AS mn, MAX(b) AS mx
            FROM agg GROUP BY user_id),
    dense AS (SELECT user_id, UNNEST(generate_series(mn, mx)) AS b
              FROM rng)
    SELECT d.user_id, d.b AS period,
           COALESCE(a.n, 0) AS n,
           CASE WHEN a.n IS NULL THEN 0 ELSE a.t END AS total,
           last_value(a.t IGNORE NULLS)
             OVER (PARTITION BY d.user_id ORDER BY d.b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS carried
    FROM dense d
    LEFT JOIN agg a ON d.user_id = a.user_id AND d.b = a.b
    """,
    tags=("resample", "event-analytics"),
)
def tj_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resampling with gap-fill
    (operators/temporal.resample_periods): integer epoch-day buckets,
    densified over each user's [first, last] active day — gap days
    become explicit (n=0, total=0) rows with the last observed day's
    value-sum carried forward (exact integer cents, so the fill is
    FP-portable). One (user, day) count shuffle, a user-cardinality
    range roll-up, a per-user sequence explode (in-plan span guard),
    a co-partitioned gap join, and a per-user forward-fill window.
    The oracle replays the identical densify + IGNORE NULLS fill."""
    ev = _t(spark, sf_dir, "events")
    return temporal.resample_periods(
        ev.select(
            "user_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("_cents"),
        ),
        "user_id",
        "ts",
        "_cents",
        86_400_000_000,
    )


@register_bench_only(
    "tj_incremental_agg",
    """
    WITH patched AS (
      SELECT event_type AS g, value AS x FROM events
      WHERE event_id % 37 <> 0 AND event_id % 5 <> 0
      UNION ALL
      SELECT CASE WHEN event_id % 10 = 0 THEN 'view' ELSE event_type END,
             value + 100
      FROM events WHERE event_id % 37 <> 0 AND event_id % 5 = 0
      UNION ALL
      SELECT 'signup', value * 0.5 FROM events WHERE event_id % 7 = 0
    )
    SELECT g AS event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(x), 4) AS sum_x,
           ROUND(SUM(x) / COUNT(*), 6) AS avg_x
    FROM patched GROUP BY g
    """,
    tags=("cdc", "incremental-view-maintenance"),
)
def tj_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance
    (operators/temporal.maintain_grouped_agg): the per-event-type
    count/sum/avg is maintained from a Debezium-shaped I/U/D change
    log (deletes: id%37=0; updates: id%5=0 with +100 and some rows
    MOVING group; inserts: derived signup rows) — two narrow log
    projections, one delta aggregate, one group-sized full-outer
    merge; the base fact is never rescanned. The oracle is the FULL
    RECOMPUTE over the patched fact, so the hash match is a
    cross-engine proof that incremental maintenance equals recompute
    on this log — counts exactly, sums to the rounding tolerance."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = temporal.grouped_agg_snapshot(ev, ["event_type"], "value")
    deletes = ev.filter("event_id % 37 = 0").selectExpr(
        "'D' AS op",
        "event_type AS before_event_type",
        "value AS before_x",
        "CAST(NULL AS STRING) AS after_event_type",
        "CAST(NULL AS DOUBLE) AS after_x",
    )
    updates = ev.filter(
        "event_id % 37 != 0 AND event_id % 5 = 0"
    ).selectExpr(
        "'U' AS op",
        "event_type AS before_event_type",
        "value AS before_x",
        "CASE WHEN event_id % 10 = 0 THEN 'view'"
        " ELSE event_type END AS after_event_type",
        "value + 100 AS after_x",
    )
    inserts = ev.filter("event_id % 7 = 0").selectExpr(
        "'I' AS op",
        "CAST(NULL AS STRING) AS before_event_type",
        "CAST(NULL AS DOUBLE) AS before_x",
        "'signup' AS after_event_type",
        "value * 0.5D AS after_x",
    )
    log = deletes.unionByName(updates).unionByName(inserts)
    out = temporal.maintain_grouped_agg(base, log, ["event_type"])
    return out.selectExpr(
        "event_type",
        "cnt",
        "round(sum_x, 4) AS sum_x",
        "round(avg_x, 6) AS avg_x",
    )


@register_bench_only(
    "er_entity_clusters",
    """
    WITH RECURSIVE names AS (
      SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL
    ),
    pairs AS (
      SELECT a.name AS na, b.name AS nb
      FROM names a JOIN names b ON a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 2
    ),
    edges AS (SELECT na AS u, nb AS v FROM pairs
              UNION SELECT nb, na FROM pairs),
    reach AS (
      SELECT name AS id, name AS comp FROM names
      UNION
      SELECT e.v AS id, r.comp AS comp
      FROM reach r JOIN edges e ON e.u = r.id
      WHERE r.comp < e.v
    ),
    comp AS (SELECT id AS name, MIN(comp) AS canonical
             FROM reach GROUP BY id),
    sized AS (SELECT canonical, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY canonical)
    SELECT c.name, c.canonical, s.cluster_size
    FROM comp c JOIN sized s USING (canonical)
    """,
    tags=("entity-resolution", "graph"),
)
def er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full entity resolution over the part-name domain
    (operators/fuzzy.resolve_entities): fuzzy pairs (SymSpell
    blocking) -> connected components (large-star/small-star on
    portable-hash node ids) -> lexicographic-min canonical name +
    cluster size per distinct name. The oracle resolves the SAME
    brute-force pair graph with a recursive min-label CTE over the
    name strings themselves — so the hash match checks blocking
    completeness AND transitive-closure agreement in one query."""
    part = _t(spark, sf_dir, "part")
    from tcga_query_project_spark.operators import fuzzy

    return fuzzy.resolve_entities(part, "p_name", max_dist=2)


@register_bench_only(
    "qa_robust_outliers",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ),
    j AS (
      SELECT e.event_id, e.event_type, e.value, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median(abs(value - med)) AS mad
      FROM j GROUP BY event_type
    ),
    scored AS (
      SELECT j.event_id, j.event_type, j.value,
             CASE WHEN d.mad = 0 OR j.value IS NULL THEN NULL
                  ELSE ROUND((j.value - j.med)
                             / (CAST(1.4826 AS DOUBLE) * d.mad), 6)
             END AS robust_z
      FROM j JOIN mad d USING (event_type)
    )
    SELECT event_id, event_type, value, robust_z,
           COALESCE(abs(robust_z) > CAST(3.5 AS DOUBLE), FALSE) AS is_outlier
    FROM scored
    """,
    tags=("quality-outliers",),
)
def qa_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust z-scores per event type
    (operators/stats.robust_outliers) — the distribution-aware anomaly
    gate over the events stream: every row scored against ITS group's
    median and MAD (breakdown point 50%, so the outliers cannot hide
    themselves the way they do in a mean/stddev z-score). Oracle
    replays median -> MAD -> modified-z -> verdict in SQL; values AND
    the |z| > 3.5 verdicts hash-match."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return stats.robust_outliers(ev, ["event_type"], "value")


_PSI_CUTOFF = "1998-01-01 00:00:00"
_PSI_PRICE_EDGES = (50_000.0, 100_000.0, 200_000.0, 300_000.0, 400_000.0)


@register_bench_only(
    "qa_psi_drift",
    f"""
    WITH base AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '{_PSI_CUTOFF}'
                  THEN 1 ELSE 0 END AS is_ref,
             CASE WHEN o_totalprice IS NULL THEN '__null__'
                  ELSE 'b' || CAST(
                    {" + ".join(f"CAST(o_totalprice >= {e!r} AS INT)" for e in _PSI_PRICE_EDGES)}
                  AS VARCHAR) END AS b_price,
             COALESCE(o_orderpriority, '__null__') AS b_prio,
             COALESCE(o_orderstatus, '__null__') AS b_status
      FROM orders
    ),
    ex AS (
      SELECT is_ref, t.f['feature'] AS feature, t.f['bin'] AS bin
      FROM base, UNNEST([
        {{'feature': 'o_totalprice', 'bin': b_price}},
        {{'feature': 'o_orderpriority', 'bin': b_prio}},
        {{'feature': 'o_orderstatus', 'bin': b_status}}]) AS t(f)
    ),
    counts AS (
      SELECT feature, bin,
             CAST(SUM(is_ref) AS DOUBLE) AS ref_n,
             CAST(SUM(1 - is_ref) AS DOUBLE) AS cur_n
      FROM ex GROUP BY feature, bin
    ),
    tot AS (
      SELECT feature, SUM(ref_n) AS rt, SUM(cur_n) AS ct
      FROM counts GROUP BY feature
    ),
    terms AS (
      SELECT c.feature,
             GREATEST(CASE WHEN t.rt > 0 THEN c.ref_n / t.rt
                           ELSE 0.0 END, 1e-6) AS p,
             GREATEST(CASE WHEN t.ct > 0 THEN c.cur_n / t.ct
                           ELSE 0.0 END, 1e-6) AS q
      FROM counts c JOIN tot t USING (feature)
    ),
    agg AS (
      SELECT feature,
             ROUND(SUM((p - q) * ln(p / q)), 6) AS psi,
             CAST(COUNT(*) AS BIGINT) AS n_bins
      FROM terms GROUP BY feature
    )
    SELECT feature, psi, n_bins, psi > 0.2 AS drifted FROM agg
    """,
    tags=("quality-drift",),
)
def qa_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-drift gate (operators/quality_audit.psi_drift): PSI of
    the price distribution and the priority/status mixes between the
    pre-1998 reference window and the current window of orders — the
    month-over-month "did my training-mix assumptions move" check.
    Fixed data-independent bin edges, epsilon-floored shares, verdict
    from the rounded PSI; the oracle replays bins, shares and the PSI
    algebra in plain SQL so values AND verdicts hash-match."""
    orders = _t(spark, sf_dir, "orders")
    cutoff = F.lit(_PSI_CUTOFF).cast("timestamp_ntz")
    ref = orders.filter(F.col("o_orderdate") < cutoff)
    cur = orders.filter(
        F.col("o_orderdate").isNull() | (F.col("o_orderdate") >= cutoff)
    )
    from tcga_query_project_spark.operators import quality_audit as qa

    return qa.psi_drift(
        ref,
        cur,
        numeric={"o_totalprice": list(_PSI_PRICE_EDGES)},
        categorical=["o_orderpriority", "o_orderstatus"],
        epsilon=1e-6,
        threshold=0.2,
    )


#: epoch micros of 2024-01-16 00:00:00 UTC — the KS reference/current
#: split over the events table's 30-day span (integer literal on both
#: engines; calendar functions are the cross-engine trap)
_KS_CUTOFF_US = 1_705_363_200_000_000


@register_bench_only(
    "qa_ks_drift",
    f"""
    WITH src AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < {_KS_CUTOFF_US} THEN 1 ELSE 0 END
               AS is_ref,
             CAST(FLOOR("value") AS BIGINT) AS g
      FROM events WHERE "value" IS NOT NULL
    ),
    counts AS (
      SELECT event_type, g,
             CAST(SUM(is_ref) AS BIGINT) AS ref_n,
             CAST(SUM(1 - is_ref) AS BIGINT) AS cur_n
      FROM src GROUP BY 1, 2
    ),
    cum AS (
      -- totals as full-frame windows over the same partition key, NOT
      -- a joined `tot` CTE: the engine's form keeps NULL group keys (a
      -- null-unsafe USING join would drop them on both sides and
      -- parity could never catch it)
      SELECT event_type, g,
             CAST(SUM(ref_n) OVER (PARTITION BY event_type ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cref,
             CAST(SUM(cur_n) OVER (PARTITION BY event_type ORDER BY g
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ccur,
             CAST(SUM(ref_n) OVER (PARTITION BY event_type)
               AS BIGINT) AS n_ref,
             CAST(SUM(cur_n) OVER (PARTITION BY event_type)
               AS BIGINT) AS n_cur
      FROM counts
    ),
    d AS (
      SELECT event_type,
             MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
             MAX(ABS(CAST(cref AS DOUBLE) / n_ref
                   - CAST(ccur AS DOUBLE) / n_cur)) AS d_raw
      FROM cum
      WHERE n_ref > 0 AND n_cur > 0
      GROUP BY 1
    )
    SELECT event_type, n_ref, n_cur,
           ROUND(d_raw, 6) AS d_stat,
           ROUND(CAST(1.358 AS DOUBLE)
                 * SQRT((n_ref + n_cur) / (n_ref * n_cur)), 6)
             AS d_crit,
           ROUND(d_raw, 6) >
             ROUND(CAST(1.358 AS DOUBLE)
                   * SQRT((n_ref + n_cur) / (n_ref * n_cur)), 6)
             AS drifted
    FROM d
    """,
    tags=("quality-drift", "ks"),
)
def qa_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift gate
    (operators/quality_audit.ks_drift): per event type, the
    sup-norm distance between the value ECDFs of the first and second
    half of the events window, with the large-sample alpha=0.05
    rejection bound — the edge-free complement to qa_psi_drift (PSI
    needs hand-picked bins and measures aggregate share movement; KS
    catches a location shift anywhere in the distribution). Binned-KS
    on the integer floor(value) grid: grid cardinality is bounded by
    the VALUE DOMAIN, not the data size, ECDF cumsums are
    integer-exact, and the verdict compares ROUNDED statistic to
    ROUNDED critical value so the boolean is engine-portable. The
    oracle replays grid, cumulative ECDFs, D and the bound in SQL."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_micros(F.col("ts")).alias("_ts_us")
    )
    from tcga_query_project_spark.operators import quality_audit as qa

    ref = ev.filter(F.col("_ts_us") < _KS_CUTOFF_US)
    # NULL-ts rows land in the CURRENT side (the oracle's CASE ELSE 0
    # branch — same convention as qa_psi_drift's NULL orderdate)
    cur = ev.filter(
        F.col("_ts_us").isNull() | (F.col("_ts_us") >= _KS_CUTOFF_US)
    )
    return qa.ks_drift(ref, cur, "value", ["event_type"])


@register_bench_only(
    "tj_scd2_lookup",
    """
    WITH ch AS (
      SELECT user_id, ts, event_id, value
      FROM events WHERE event_type = 'click'
    ),
    flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR value IS DISTINCT FROM LAG(value) OVER w
                  THEN 1 ELSE 0 END AS is_new
      FROM ch
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    iv AS (
      SELECT user_id, value, ts AS valid_from,
             LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ) AS valid_to
      FROM flagged WHERE is_new = 1
    ),
    p AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id, epoch_us(p.ts) AS ts_us,
           ROUND(iv.value, 4) AS dim_value,
           epoch_us(iv.valid_from) AS dim_from_us
    FROM p LEFT JOIN iv
      ON p.user_id = iv.user_id
     AND iv.valid_from <= p.ts
     AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
    """,
    tags=("temporal", "scd2", "point-in-time"),
)
def tj_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: build SCD2 validity intervals
    from the click change-log (operators/temporal.scd2_intervals,
    no-op changes collapsed, event_id tiebreak for equal timestamps)
    and enrich every purchase with the version valid AT ITS OWN event
    time (streaming/joins.enrich_with_scd2 — the same function the
    streaming path runs; here on batch input). The oracle replays the
    gaps-and-islands interval build + interval-containment join in
    plain SQL. Purchases before a user's first click version keep
    NULLs (left join); the SCD2 tiling guarantee makes each match
    unique, so row count equals the purchase count."""
    from tcga_query_project_spark.streaming.joins import enrich_with_scd2

    ev = _t(spark, sf_dir, "events")
    changes = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    dim = temporal.scd2_intervals(
        changes, "user_id", "ts", ["value"], tiebreak=F.col("event_id").asc()
    ).drop("is_current")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = enrich_with_scd2(purchases, dim, "user_id", "ts")
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value"), 4).alias("dim_value"),
        F.unix_micros("dim_valid_from").alias("dim_from_us"),
    )


@register_bench_only(
    "sv_logrank_cohorts",
    """
    WITH base AS (
      SELECT l_partkey % 25 AS cohort, l_linestatus AS grp,
             CAST(l_quantity AS DOUBLE) AS time_s,
             CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS status
      FROM lineitem
    ),
    gt AS (
      SELECT cohort, grp, time_s, CAST(SUM(status) AS DOUBLE) AS d_g,
             CAST(COUNT(*) AS DOUBLE) AS r_g
      FROM base GROUP BY cohort, grp, time_s
    ),
    grid AS (
      SELECT t.cohort, t.time_s, g.grp
      FROM (SELECT DISTINCT cohort, time_s FROM gt) t
      JOIN (SELECT DISTINCT cohort, grp FROM gt) g USING (cohort)
    ),
    cells AS (
      SELECT grid.cohort, grid.time_s, grid.grp,
             COALESCE(gt.d_g, 0) AS d_g, COALESCE(gt.r_g, 0) AS r_g
      FROM grid LEFT JOIN gt USING (cohort, grp, time_s)
    ),
    ar AS (
      SELECT *, SUM(r_g) OVER (PARTITION BY cohort, grp)
              - COALESCE(SUM(r_g) OVER (
                  PARTITION BY cohort, grp ORDER BY time_s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_g,
             CASE WHEN grp = MIN(grp) OVER (PARTITION BY cohort)
                  THEN 1 ELSE 0 END AS is_g1
      FROM cells
    ),
    pt AS (
      SELECT cohort, time_s, SUM(n_g) AS n, SUM(d_g) AS d,
             SUM(n_g * is_g1) AS n1, SUM(d_g * is_g1) AS d1
      FROM ar GROUP BY cohort, time_s HAVING SUM(d_g) > 0
    ),
    terms AS (
      SELECT cohort, d1 - d * n1 / n AS oe,
             CASE WHEN n > 1
                  THEN d * (n1 / n) * (1.0 - n1 / n) * (n - d) / (n - 1.0)
                  ELSE 0 END AS v
      FROM pt
    ),
    st AS (
      SELECT cohort, SUM(oe) AS soe, SUM(v) AS sv FROM terms GROUP BY cohort
    ),
    ks AS (
      SELECT cohort, CAST(COUNT(DISTINCT grp) - 1 AS BIGINT) AS dof
      FROM gt GROUP BY cohort
    ),
    chi AS (
      SELECT cohort,
             CASE WHEN sv > 0 THEN ROUND(soe * soe / sv, 6) END AS chi2
      FROM st
    )
    SELECT ks.cohort, chi.chi2, ks.dof,
           ROUND("""
    + NORMAL_SF_TWO_SIDED_SQL.format(z="SQRT(chi.chi2)")
    + """, 6) AS p_value
    FROM ks JOIN chi USING (cohort)
    """,
    tags=("W3", "survival", "fan-out"),
)
def sv_logrank_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 at fleet scale: the distributed per-cohort log-rank fan-out
    (``survival.logrank_test_k_by`` — the 100 TB survival path: ONE
    applyInPandas exchange keyed by cohort, no driver loop; shuffle
    budget pinned in tests/test_plans.py) run over 25 l_partkey-hash
    cohorts of lineitem, l_linestatus as the 2-level group, l_quantity
    as survival time, deep-discount as the event. Reference analog:
    surv_analysis_median_exp.R:98-168 looped over genes; this is that
    loop as a single grouped job. The χ² statistic comes from the numpy
    covariance-form kernel (algebraically the SQL soe²/sv form at k=2);
    the display p-value is recomputed from the 6-decimal-ROUNDED χ² via
    the shared Abramowitz-Stegun tail on BOTH sides so the hashed
    floats cannot depend on erfc-vs-polynomial last-ulp divergence."""
    from tcga_query_project_spark.functions.scalar import (
        normal_sf_two_sided,
    )

    li = _t(spark, sf_dir, "lineitem")
    tidy = li.select(
        (F.col("l_partkey") % 25).alias("cohort"),
        F.col("l_linestatus").alias("grp"),
        F.col("l_quantity").cast("double").alias("time_s"),
        (F.col("l_discount") > 0.05).cast("int").alias("status"),
    )
    res = survival.logrank_test_k_by(
        tidy, "time_s", "status", "grp", by=["cohort"]
    )
    chi2r = F.round("chi2", 6)
    return res.select(
        "cohort",
        chi2r.alias("chi2"),
        F.col("df").cast("long").alias("dof"),
        F.round(normal_sf_two_sided(F.sqrt(chi2r)), 6).alias("p_value"),
    )


_RS_K = 10  # repeated-span gram length (tokens) for the catalog slot


@register_bench_only(
    "tx_repeated_spans",
    f"""
    WITH base AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(COALESCE(text, '')),
                          '\\s+', ' ', 'g'), ' ') AS ts
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(t.i AS INT) AS pos,
             array_to_string(ts[t.i:t.i + {_RS_K - 1}], ' ') AS gram
      FROM base, UNNEST(generate_series(1, len(ts) - {_RS_K} + 1)) AS t(i)
      WHERE len(ts) >= {_RS_K}
    ),
    marked AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY gram
                                ORDER BY doc_id, pos) AS rn,
             COUNT(*) OVER (PARTITION BY gram) AS n
      FROM grams
    ),
    cuts AS (SELECT doc_id, pos AS s FROM marked WHERE n > 1 AND rn > 1),
    pcut AS (
      SELECT doc_id, COUNT(*) AS n_grams_cut FROM cuts GROUP BY doc_id
    ),
    tok AS (
      SELECT b.doc_id, CAST(t.i AS INT) AS p, ts[t.i] AS tokv
      FROM base b, UNNEST(generate_series(1, len(b.ts))) AS t(i)
    ),
    keep AS (
      SELECT tok.doc_id, tok.p, tok.tokv,
             EXISTS (SELECT 1 FROM cuts c
                     WHERE c.doc_id = tok.doc_id
                       AND tok.p BETWEEN c.s AND c.s + {_RS_K - 1}) AS cut
      FROM tok
    ),
    reb AS (
      SELECT doc_id,
             string_agg(CASE WHEN NOT cut THEN tokv END, ' '
                        ORDER BY p) AS text2,
             SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS nrem
      FROM keep GROUP BY doc_id
    )
    SELECT r.doc_id, COALESCE(r.text2, '') AS text,
           CAST(r.nrem AS BIGINT) AS n_tokens_removed,
           CAST(COALESCE(p.n_grams_cut, 0) AS BIGINT) AS n_grams_cut
    FROM reb r LEFT JOIN pcut p USING (doc_id)
    """,
    tags=("dedup", "text", "exact-substring"),
)
def tx_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal repeated-span removal (Lee et al. 2022
    ExactSubstr, token-10-gram form — text.remove_repeated_spans):
    every token span ≥ k occurring more than once in the documents
    corpus survives only at its first (id, position) occurrence. The
    oracle replays tokenization, duplicated-gram ranking, coverage and
    reassembly in plain SQL on the gram TEXT (the Spark side groups on
    xxhash64 of the same gram — identical partitioning absent 64-bit
    collisions). Complements line-level boilerplate removal: this is
    the within-corpus exact-substring pass."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.remove_repeated_spans(docs, "doc_id", "text", k=_RS_K)


@register_bench_only(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
    tags=("relational", "semi-join", "tpch-q4"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders with at least
    one late lineitem (shipped > 60 days after the order date —
    adapted to this schema's columns), counted per priority. The
    EXISTS becomes a LEFT SEMI join — the fact side pre-filters and
    pre-DISTINCTs on the join key BEFORE the shuffle, so the exchange
    carries order keys once each, not one row per lineitem. Both
    engines compare NTZ timestamps to NTZ + interval (timezone-free).
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("o_orderkey")
        .distinct()
    )
    return (
        orders.join(late, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


@register_bench_only(
    "q17_small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
           ROUND(SUM(l.l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < pa.half_avg
    """,
    tags=("relational", "correlated-agg", "tpch-q17"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems whose
    quantity is below half their part's average quantity. The
    correlated scalar subquery decorrelates into a WINDOW aggregate
    over ``PARTITION BY l_partkey`` — ONE fact shuffle, no join, no
    broadcast. Alternatives, measured: a forced ``F.broadcast`` on the
    per-part aggregate OOMs at scale (|part| is fact-proportional
    under TPC-H scaling, ~2B rows at 100 TB); merely dropping the hint
    kept a
    size-estimated broadcast whose build cost made the query the one
    superlinear scale point (0.24s→3.0s on 10x data, 12.4x); the
    window form is 0.47s→0.74s (1.6x) because the fact shuffles once
    on a high-cardinality key and the per-part average never exists as
    a separate relation. Partition size = rows per part (~30-60,
    scale-invariant). Global result is a single row (rounded
    money-scale sum); the oracle keeps the equivalent decorrelated-
    join SQL."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("_half", 0.5 * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("_half"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small"),
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
        )
    )


@register(
    "q18_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           ROUND(o.o_totalprice, 4) AS o_totalprice,
           ROUND(s.total_qty, 4) AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey) s
      ON s.l_orderkey = o.o_orderkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
    tags=("relational", "having-semi-join", "tpch-q18"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds a threshold, enriched with customer and
    ranked by price. ONE lineitem aggregation serves both the HAVING
    gate and the reported quantity (the reference SQL's separate
    GROUP BY and HAVING subqueries share the plan's exchange);
    the SF-scaled customer dim is AQE size-decided (a forced broadcast
    is the same latent OOM class as q17's — at 100 TB customer is ~15B
    rows);
    the global order is a TakeOrderedAndProject, never a full sort.
    Unique-key tiebreak (o_orderkey) makes the LIMIT deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    qty = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("_tq")
    )
    big = qty.filter(F.col("_tq") > 250)
    return (
        orders.join(
            big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            F.round("_tq", 4).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register_bench_only(
    "q21_sole_late_supplier",
    """
    WITH li AS (
      SELECT l_orderkey, l_suppkey,
             MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 80 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_orderkey, l_suppkey
    ),
    ord AS (
      SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
      FROM li GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM li
    JOIN ord ON ord.l_orderkey = li.l_orderkey
    JOIN supplier s ON s.s_suppkey = li.l_suppkey
    WHERE li.late = 1 AND ord.n_supp > 1 AND ord.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name LIMIT 50
    """,
    tags=("relational", "exists-not-exists", "tpch-q21"),
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): suppliers
    late on a multi-supplier order where NO other supplier was late.
    The reference SQL's correlated EXISTS (another supplier exists)
    and NOT EXISTS (another late supplier exists) decorrelate into ONE
    per-(order, supplier) aggregate plus a per-order rollup of it —
    the triple lineitem self-join becomes two grouped passes over the
    same derived table (the rollup reuses the first aggregation's
    output, so the fact scans once), then a broadcast supplier join
    and a TakeOrderedAndProject. Late = shipped > 80 days after the
    order date (adapted to this schema's columns)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    # ONE fact exchange (share the exchange):
    # the per-(order, supplier) aggregate, the per-order rollup, and
    # the rollup attachment are ALL keyed by l_orderkey, so the rollup
    # is computed as a WINDOW over the aggregate's own partitioning
    # instead of a groupBy + self-join — the old form planned the li
    # subtree twice (an inferred isnotnull(l_suppkey) on the join
    # branch made the subtrees differ, defeating exchange reuse: 5
    # exchanges + 2 fact scans at plan time -> 1 exchange + 1 scan).
    # Window partitions are per-order (suppliers per order — bounded),
    # never corpus-sized. Late-flag evaluation moves BEFORE the shuffle
    # so the exchange carries (key, key, flag) instead of a date
    # column; same rows, same aggregate values.
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"),
            "l_orderkey",
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 80 DAYS")
            )
            .cast("int")
            .alias("_late_row"),
        )
        # hash(l_orderkey) satisfies BOTH the (l_orderkey, l_suppkey)
        # aggregate clustering and the per-order window below — one
        # exchange serves the whole chain (groupBy alone would insert
        # hash(l_orderkey, l_suppkey), forcing the window to re-shuffle)
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("_late_row").alias("late"))
    )
    w_ord = Window.partitionBy("l_orderkey")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        li.withColumn("n_supp", F.count(F.lit(1)).over(w_ord))
        .withColumn("n_late", F.sum("late").over(w_ord))
        .filter(
            (F.col("late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(50)
    )


@register_bench_only(
    "q22_idle_customers",
    """
    WITH ab AS (
      SELECT ROUND(AVG(c_acctbal), 4) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    ),
    eligible AS (
      SELECT c_custkey, c_nationkey % 10 AS cntry, c_acctbal
      FROM customer, ab WHERE c_acctbal > ab.avg_bal
    )
    SELECT CAST(cntry AS BIGINT) AS cntry,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           ROUND(SUM(c_acctbal), 4) AS total_bal
    FROM eligible e
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = e.c_custkey)
    GROUP BY cntry
    """,
    tags=("relational", "scalar-subquery-anti-join", "tpch-q22"),
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive balance and NO orders, grouped by a country
    code (nationkey mod 10 stands in for the phone prefix). The scalar
    subquery is a one-row broadcast (the global average, ROUNDed to 4
    on both sides so the threshold compare is FP-portable); the NOT
    EXISTS is a left-anti join against the order custkeys; the
    customer table shuffles once (anti-join key), orders reduce to
    their distinct custkeys before the exchange."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    ab = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.join(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, "c_custkey", "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("long").alias("cntry"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
    )


@register(
    "a6_poisson_wald",
    "WITH "
    + _SF_CTE
    + """,
    fact AS (
      SELECT l.l_partkey, l.l_linestatus,
             CAST(l.l_quantity AS DOUBLE) AS y, s.size_factor
      FROM lineitem l JOIN sfac s ON l.l_suppkey = s.l_suppkey
      WHERE l.l_linestatus IN ('F', 'O')
    ),
    pgk AS (
      SELECT l_partkey,
             SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS n_b,
             SUM(CASE WHEN l_linestatus = 'F' THEN y ELSE 0 END) AS ya,
             SUM(CASE WHEN l_linestatus = 'O' THEN y ELSE 0 END) AS yb,
             SUM(CASE WHEN l_linestatus = 'F' THEN size_factor END) AS sa,
             SUM(CASE WHEN l_linestatus = 'O' THEN size_factor END) AS sb,
             AVG(y / size_factor) AS bm
      FROM fact GROUP BY l_partkey
      HAVING SUM(CASE WHEN l_linestatus = 'F' THEN y ELSE 0 END) > 0
         AND SUM(CASE WHEN l_linestatus = 'O' THEN y ELSE 0 END) > 0
    ),
    st AS (
      SELECT CAST(l_partkey AS VARCHAR) AS gene,
             ROUND(bm, 6) AS base_mean,
             (LN(yb / sb) - LN(ya / sa)) / LN(2) AS lfc,
             SQRT(1.0 / ya + 1.0 / yb) / LN(2) AS se,
             (LN(yb / sb) - LN(ya / sa)) / SQRT(1.0 / ya + 1.0 / yb)
               AS wald,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
      FROM pgk
    )
    SELECT gene, base_mean,
           ROUND(lfc, 6) AS log2_fold_change,
           ROUND(se, 6) AS lfc_se,
           ROUND(wald, 6) AS wald_stat,
           ROUND("""
    + NORMAL_SF_TWO_SIDED_SQL.format(z="wald")
    + """, 6) AS pvalue,
           n_a, n_b
    FROM st
    """,
    tags=("A6", "glm", "closed-form"),
)
def a6_poisson_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6's fit, oracle-checked: the Poisson (alpha=0) member of the
    GLM family, run through the SAME SQL fit as the NB path
    (glm.poisson_glm_wald → glm._nb_wald_sql with α pinned to 0) — its
    two-group MLE has a closed form, so the fit's aggregate, Newton
    solve, weights and p-value hash-match a plain SQL oracle. Genes
    with a zero-sum group are excluded on BOTH sides (the MLE diverges
    there — caller contract on poisson_glm_wald). In the driver
    registry, so the driver's correctness check attests the GLM fit."""
    li = _t(spark, sf_dir, "lineitem")
    sf = stats.size_factors(li, "l_partkey", "l_suppkey", "l_quantity")
    fact = li.select(
        "l_partkey",
        F.col("l_suppkey").alias("sample"),
        "l_linestatus",
        "l_quantity",
    )
    pos = (
        fact.groupBy("l_partkey")
        .agg(
            F.sum(
                F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))
                .otherwise(0.0)
            ).alias("_ya"),
            F.sum(
                F.when(F.col("l_linestatus") == "O", F.col("l_quantity"))
                .otherwise(0.0)
            ).alias("_yb"),
        )
        .filter((F.col("_ya") > 0) & (F.col("_yb") > 0))
        .select("l_partkey")
    )
    out = glm.poisson_glm_wald(
        fact.join(pos, "l_partkey", "left_semi"),
        "l_partkey",
        "l_linestatus",
        "l_quantity",
        sf.withColumnRenamed("l_suppkey", "sample"),
        "sample",
        "F",
        "O",
    )
    return out.select(
        "gene",
        F.round("base_mean", 6).alias("base_mean"),
        F.round("log2_fold_change", 6).alias("log2_fold_change"),
        F.round("lfc_se", 6).alias("lfc_se"),
        F.round("wald_stat", 6).alias("wald_stat"),
        F.round("pvalue", 6).alias("pvalue"),
        "n_a",
        "n_b",
    )


# =========================================================================
# TPC-H shape completion (rounds 6-7 added Q1/Q3/Q4/Q5/Q17/Q18/Q21/Q22;
# this block adds the remaining 14 classic shapes, adapted to this
# schema: no partsupp table, so lineitem stands in for the part-supplier
# relationship where needed; no l_shipmode/l_commitdate, so lateness is
# shipdate vs orderdate and l_linestatus stands in for the mode
# dimension. Exactness discipline: any value that feeds an EQUALITY or
# THRESHOLD compare across engines is computed order-insensitively —
# integer-cents BIGINT sums (q11/q15/q20) or MIN of exact doubles (q2) —
# never a rounded FP sum, so the row SET cannot differ between Spark and
# DuckDB; display-only money columns keep the ROUND(4) convention.
# =========================================================================

_Q2_SIZE_LO, _Q2_SIZE_HI = 5, 30


@register_bench_only(
    "q2_min_cost_supplier",
    f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p.p_partkey, p.p_name, eu.s_name, eu.n_name, eu.s_acctbal,
             ps.unit_cost,
             MIN(ps.unit_cost) OVER (PARTITION BY p.p_partkey) AS min_cost
      FROM ps
      JOIN eu ON ps.l_suppkey = eu.s_suppkey
      JOIN part p ON ps.l_partkey = p.p_partkey
      WHERE p.p_size BETWEEN {_Q2_SIZE_LO} AND {_Q2_SIZE_HI}
        AND p.p_type = 'STANDARD'
    )
    SELECT p_partkey, p_name, s_name, n_name, s_acctbal,
           unit_cost AS supplycost
    FROM cand WHERE unit_cost = min_cost
    ORDER BY s_acctbal DESC, p_partkey ASC, s_name ASC
    LIMIT 100
    """,
    tags=("relational", "correlated-min", "tpch-q2"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    the European supplier(s) achieving the minimum unit cost. With no
    partsupp table, the part-supplier cost relation derives from
    lineitem as MIN(l_extendedprice / l_quantity) per (part, supplier)
    — deliberately MIN, not AVG: a one-instruction IEEE division then
    an order-insensitive MIN is bit-exact in both engines, so the
    correlated-minimum EQUALITY (the crux of Q2) compares exact
    doubles, never a rounded FP sum — and the output cost stays
    UNROUNDED for the same reason (it is already exact; a display
    ROUND would reintroduce engine-dependent half-way cases). Plan:
    the (part, supp) aggregation is the ONE fact-sized shuffle and it
    map-side combines, so the wire carries (part, supplier) partials,
    not lineitems; only the bounded nation/region dims carry broadcast
    hints — supplier and part scale with SF, so AQE decides their join
    strategy from measured size (the q17/q5 rule); the per-part
    minimum then re-exchanges ONLY those aggregated pairs onto partkey
    for the window (verified: 2 hash exchanges, both post-combine —
    cheaper at scale than a pre-partitioned single shuffle, which
    would forgo the combine and move raw fact rows); top-k is
    TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.expr("min(l_extendedprice / l_quantity) AS unit_cost")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter("r_name = 'EUROPE'")
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.expr("s_nationkey = n_nationkey"))
        .join(F.broadcast(region), F.expr("n_regionkey = r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = _t(spark, sf_dir, "part").filter(
        f"p_size BETWEEN {_Q2_SIZE_LO} AND {_Q2_SIZE_HI}"
        " AND p_type = 'STANDARD'"
    ).select("p_partkey", "p_name")
    cand = (
        ps.join(eu, F.expr("l_suppkey = s_suppkey"))
        .join(parts, F.expr("l_partkey = p_partkey"))
    )
    return (
        cand.selectExpr(
            "*", "min(unit_cost) OVER (PARTITION BY p_partkey) AS _min_cost"
        )
        .filter("unit_cost = _min_cost")
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            "s_acctbal",
            F.col("unit_cost").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("p_partkey").asc(),
            F.col("s_name").asc(),
        )
        .limit(100)
    )


_Q6_LO = "1997-01-01 00:00:00"
_Q6_HI = "1998-01-01 00:00:00"


@register_bench_only(
    "q6_forecast_revenue",
    f"""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue_effect,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_Q6_LO}'
      AND l_shipdate < TIMESTAMP '{_Q6_HI}'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("relational", "scan-filter-agg", "tpch-q6"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): a pure
    scan-filter-aggregate with NO join and NO group — the canonical
    predicate-pushdown query. All four conjuncts (two timestamp bounds,
    a discount band on raw parquet doubles, a quantity bound) push to
    the parquet scan as PushedFilters, so at 100 TB the row-group
    min/max statistics skip everything outside the ship-year; the agg
    is a two-phase partial/final with a one-row result. Discount bounds
    compare raw stored doubles (bit-identical in both engines)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            f"l_shipdate >= TIMESTAMP_NTZ '{_Q6_LO}'"
            f" AND l_shipdate < TIMESTAMP_NTZ '{_Q6_HI}'"
            " AND l_discount >= 0.05D AND l_discount <= 0.07D"
            " AND l_quantity < 24"
        )
        .agg(
            F.expr(
                "round(sum(l_extendedprice * l_discount), 4)"
                " AS revenue_effect"
            ),
            F.expr("CAST(count(1) AS BIGINT) AS n_items"),
        )
    )


@register_bench_only(
    "q7_volume_shipping",
    """
    WITH nr AS (
      SELECT n_nationkey, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
    )
    SELECT nr_s.r_name AS supp_region, nr_c.r_name AS cust_region,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nr nr_s ON nr_s.n_nationkey = s.s_nationkey
    JOIN nr nr_c ON nr_c.n_nationkey = c.c_nationkey
    WHERE (nr_s.r_name = 'ASIA' AND nr_c.r_name = 'EUROPE')
       OR (nr_s.r_name = 'EUROPE' AND nr_c.r_name = 'ASIA')
    GROUP BY supp_region, cust_region, l_year
    """,
    tags=("relational", "disjunctive-pair", "tpch-q7"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): trade volume between two
    territories in both directions, by ship year. Adapted to regions
    (the synthetic nation dim spreads suppliers too thin at small SF
    for a nation pair to be non-empty). Plan: the nation→region name
    map is built once and broadcast into BOTH the supplier and the
    customer sides (two independent broadcast hash joins, no
    self-join shuffle); the disjunctive pair predicate filters after
    the cheap dim joins; lineitem is leftmost so the fact never
    becomes a build side; one exchange for the final group-by."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nr = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(_t(spark, sf_dir, "region")),
            F.expr("n_regionkey = r_regionkey"),
        )
        .select("n_nationkey", "r_name")
    )
    nr_s = nr.selectExpr(
        "n_nationkey AS _snk", "r_name AS supp_region"
    )
    nr_c = nr.selectExpr(
        "n_nationkey AS _cnk", "r_name AS cust_region"
    )
    return (
        li.join(supp, F.expr("l_suppkey = s_suppkey"))
        .join(orders, F.expr("l_orderkey = o_orderkey"))
        .join(cust, F.expr("o_custkey = c_custkey"))
        .join(F.broadcast(nr_s), F.expr("s_nationkey = _snk"))
        .join(F.broadcast(nr_c), F.expr("c_nationkey = _cnk"))
        .filter(
            "(supp_region = 'ASIA' AND cust_region = 'EUROPE')"
            " OR (supp_region = 'EUROPE' AND cust_region = 'ASIA')"
        )
        .groupBy(
            "supp_region",
            "cust_region",
            F.expr("CAST(year(l_shipdate) AS BIGINT) AS l_year"),
        )
        .agg(
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 4)"
                " AS revenue"
            )
        )
    )


@register_bench_only(
    "q8_market_share",
    """
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = nc.n_regionkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE 0 END) / SUM(volume), 6) AS mkt_share,
           ROUND(SUM(volume), 4) AS total_volume
    FROM vol GROUP BY o_year
    """,
    tags=("relational", "conditional-share", "tpch-q8"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_3's share of
    ECONOMY-part revenue sold into AMERICA, by order year. The share is
    a conditional-sum / total-sum ratio inside ONE aggregation pass
    (never two scans joined back); the bounded nation maps carry the
    only broadcast hints — part/supplier are SF-scaled, AQE
    size-decides them; orders joins on the fact's orderkey; one
    exchange for
    the year group-by. The ratio rounds to 6 (FP-accumulation path);
    the total keeps the money-scale ROUND 4."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").filter("p_type = 'ECONOMY'").select(
        "p_partkey"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter("r_name = 'AMERICA'")
    nc = nation.join(
        F.broadcast(region), F.expr("n_regionkey = r_regionkey")
    ).selectExpr("n_nationkey AS _cnk")
    ns = nation.selectExpr(
        "n_nationkey AS _snk", "n_name AS supp_nation"
    )
    vol = (
        li.join(part, F.expr("l_partkey = p_partkey"))
        .join(supp, F.expr("l_suppkey = s_suppkey"))
        .join(orders, F.expr("l_orderkey = o_orderkey"))
        .join(cust, F.expr("o_custkey = c_custkey"))
        .join(F.broadcast(nc), F.expr("c_nationkey = _cnk"))
        .join(F.broadcast(ns), F.expr("s_nationkey = _snk"))
        .selectExpr(
            "CAST(year(o_orderdate) AS BIGINT) AS o_year",
            "l_extendedprice * (1 - l_discount) AS volume",
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        F.expr(
            "round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume"
            " ELSE 0.0D END) / sum(volume), 6) AS mkt_share"
        ),
        F.expr("round(sum(volume), 4) AS total_volume"),
    )


@register(
    "q9_product_type_profit",
    """
    SELECT ns.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.5 * p.p_retailprice * l.l_quantity), 4)
             AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    """,
    tags=("relational", "profit-rollup", "tpch-q9"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit on red-named parts
    by supplier nation and order year. With no partsupp.ps_supplycost,
    cost is proxied as half the part's retail price per unit — the
    arithmetic shape (revenue minus quantity-scaled cost inside one
    SUM) is Q9's. Only the bounded nation dim is broadcast-hinted; the
    SF-scaled part (LIKE-filtered) and supplier sides are AQE
    size-decided; orders joins on the fact key (the one big exchange
    besides the final group-by)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    part = _t(spark, sf_dir, "part").filter("p_name LIKE '%red%'").select(
        "p_partkey", "p_retailprice"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = _t(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS _snk", "n_name AS nation"
    )
    return (
        li.join(part, F.expr("l_partkey = p_partkey"))
        .join(supp, F.expr("l_suppkey = s_suppkey"))
        .join(orders, F.expr("l_orderkey = o_orderkey"))
        .join(F.broadcast(nation), F.expr("s_nationkey = _snk"))
        .groupBy(
            "nation", F.expr("CAST(year(o_orderdate) AS BIGINT) AS o_year")
        )
        .agg(
            F.expr(
                "round(sum((l_extendedprice * (1 - l_discount))"
                " - ((0.5D * p_retailprice) * l_quantity)), 4)"
                " AS sum_profit"
            )
        )
    )


_Q10_LO = "1997-07-01 00:00:00"
_Q10_HI = "1997-10-01 00:00:00"


@register_bench_only(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '{_Q10_LO}'
      AND o.o_orderdate < TIMESTAMP '{_Q10_HI}'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    tags=("relational", "topk-returned", "tpch-q10"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): the 20 customers who
    lost the most revenue to returns in one quarter. The quarter bound
    prunes orders at the scan; returnflag prunes lineitem at the scan
    (both PushedFilters); the orders⋈lineitem exchange carries only the
    quarter's orders; customer enrichment joins AFTER the fact
    aggregation would be wrong (the group key is the customer), so the
    grouped revenue keys on custkey and the customer/nation dims
    broadcast in before the group-by. Top-k is TakeOrderedAndProject on
    rounded revenue with a unique-key tiebreak."""
    orders = _t(spark, sf_dir, "orders").filter(
        f"o_orderdate >= TIMESTAMP_NTZ '{_Q10_LO}'"
        f" AND o_orderdate < TIMESTAMP_NTZ '{_Q10_HI}'"
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter("l_returnflag = 'R'").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, F.expr("l_orderkey = o_orderkey"))
        .join(cust, F.expr("o_custkey = c_custkey"))
        .join(F.broadcast(nation), F.expr("c_nationkey = n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 4)"
                " AS revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register_bench_only(
    "q11_important_parts",
    """
    WITH pv AS (
      SELECT l.l_partkey,
             SUM(CAST(ROUND(l.l_extendedprice * l.l_quantity * 100, 0)
                      AS BIGINT)) AS value_c
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey
    ),
    tot AS (SELECT SUM(value_c) AS total_c FROM pv)
    SELECT pv.l_partkey, pv.value_c / 100.0 AS part_value
    FROM pv, tot
    WHERE pv.value_c * 1000 > tot.total_c
    """,
    tags=("relational", "global-share-scalar", "tpch-q11"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    European-supplied value exceeds 0.1% of the total. Two exactness
    moves make the cross-engine row SET identical: per-term
    integer-cents conversion BEFORE summation (BIGINT sums are
    order-insensitive; FP sums are not), and the threshold compare as
    an integer cross-multiplication (value_c * 1000 > total_c) instead
    of a float fraction. Plan: ONE fact aggregation; the grand total
    reuses the per-part aggregate (never a second scan) and broadcasts
    as a one-row relation into the filter."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter("r_name = 'EUROPE'")
    eu_supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.expr("s_nationkey = n_nationkey"))
        .join(F.broadcast(region), F.expr("n_regionkey = r_regionkey"))
        .select("s_suppkey")
    )
    pv = (
        li.join(eu_supp, F.expr("l_suppkey = s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.expr(
                "sum(CAST(round((l_extendedprice * l_quantity) * 100, 0)"
                " AS BIGINT)) AS value_c"
            )
        )
    )
    tot = pv.agg(F.expr("sum(value_c) AS total_c"))
    return (
        pv.join(F.broadcast(tot))
        .filter("value_c * 1000 > total_c")
        .selectExpr("l_partkey", "value_c / 100.0D AS part_value")
    )


@register(
    "q12_priority_lateness",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_linestatus
    """,
    tags=("relational", "case-agg", "tpch-q12"),
)
def q12_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): among late
    shipments (shipped > 90 days after the order date — this schema
    has no commit/receipt dates), how many came from high- vs
    low-priority orders, per linestatus (the mode dimension stand-in).
    The priority CASE split happens inside one aggregation pass; the
    only exchanges are the orderkey join and the 2-group final agg."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    return (
        li.join(orders, F.expr("l_orderkey = o_orderkey"))
        .filter("l_shipdate > o_orderdate + INTERVAL 90 DAYS")
        .groupBy("l_linestatus")
        .agg(
            F.expr(
                f"CAST(sum(CAST(({high}) AS INT)) AS BIGINT)"
                " AS high_line_count"
            ),
            F.expr(
                f"CAST(sum(CAST((NOT ({high})) AS INT)) AS BIGINT)"
                " AS low_line_count"
            ),
        )
    )


@register_bench_only(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    tags=("relational", "outer-join-histogram", "tpch-q13"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): a LEFT
    OUTER join whose unmatched side MUST survive (customers with zero
    orders land in the c_count=0 bucket — an inner join silently drops
    the most interesting bar of the histogram), then a two-level
    aggregation: per-customer count, then a count distribution over
    the counts. The order-side predicate lives in the JOIN condition,
    not a WHERE (a post-join WHERE on the right side would turn the
    outer join back into an inner one). Plan: one custkey exchange for
    the join+first agg (partial counts push below the shuffle), then a
    tiny second exchange on the count value."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        "o_orderpriority != '1-URGENT'"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, F.expr("c_custkey = o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.expr("CAST(count(o_orderkey) AS BIGINT) AS c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.expr("CAST(count(1) AS BIGINT) AS custdist")
    )


_Q14_LO = "1997-09-01 00:00:00"
_Q14_HI = "1997-10-01 00:00:00"


@register_bench_only(
    "q14_promo_revenue",
    f"""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
             AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '{_Q14_LO}'
      AND l.l_shipdate < TIMESTAMP '{_Q14_HI}'
    """,
    tags=("relational", "conditional-ratio", "tpch-q14"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): PROMO-typed parts' share of
    one ship-month's revenue. The month bound prunes lineitem at the
    scan; part is SF-scaled so its join is AQE size-decided (no hint);
    numerator and denominator are computed in
    the SAME single aggregation (one pass, no self-join); the ratio
    rounds to 6 as an FP-accumulation path."""
    li = _t(spark, sf_dir, "lineitem").filter(
        f"l_shipdate >= TIMESTAMP_NTZ '{_Q14_LO}'"
        f" AND l_shipdate < TIMESTAMP_NTZ '{_Q14_HI}'"
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(part, F.expr("l_partkey = p_partkey"))
        .agg(
            F.expr(
                "round((100.0D * sum(CASE WHEN p_type = 'PROMO'"
                f" THEN {rev} ELSE 0.0D END)) / sum({rev}), 6)"
                " AS promo_revenue_pct"
            ),
            F.expr("CAST(count(1) AS BIGINT) AS n_items"),
        )
    )


_Q15_LO = "1996-01-01 00:00:00"
_Q15_HI = "1996-04-01 00:00:00"


@register_bench_only(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                      AS BIGINT)) AS revenue_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{_Q15_LO}'
        AND l_shipdate < TIMESTAMP '{_Q15_HI}'
      GROUP BY l_suppkey
    ),
    mx AS (SELECT MAX(revenue_c) AS max_c FROM rev)
    SELECT s.s_suppkey, s.s_name, rev.revenue_c / 100.0 AS total_revenue
    FROM rev JOIN mx ON rev.revenue_c = mx.max_c
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    """,
    tags=("relational", "max-of-aggregate", "tpch-q15"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) with the maximum
    revenue in one quarter — the max-of-an-aggregate EQUALITY that the
    original phrases as a view + scalar subquery. Revenue is summed in
    integer cents (per-term ROUND then BIGINT SUM), so the maximum and
    the equality against it are exact in both engines — a rounded FP
    sum here could disagree in the last ulp and change WHICH supplier
    wins. Plan: one fact aggregation (quarter-pruned at the scan); the
    one-row MAX reuses that aggregate and broadcasts back as the join
    filter (hinted: provably one row); the SF-scaled supplier dim is
    AQE size-decided."""
    # The explicit isNotNull matters for the PLAN, not the data (TPC-H
    # keys are non-null): the later inner join against supplier infers
    # it into the join branch's scan only, which de-canonicalizes the
    # two consumers of `rev` and defeats AQE exchange reuse — the fact
    # scan+aggregate would run twice (pinned:
    # test_aggregate_self_joins_reuse_exchange).
    li = _t(spark, sf_dir, "lineitem").filter(
        f"l_shipdate >= TIMESTAMP_NTZ '{_Q15_LO}'"
        f" AND l_shipdate < TIMESTAMP_NTZ '{_Q15_HI}'"
        " AND l_suppkey IS NOT NULL"
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = li.groupBy("l_suppkey").agg(
        F.expr(
            "sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0)"
            " AS BIGINT)) AS revenue_c"
        )
    )
    mx = rev.agg(F.expr("max(revenue_c) AS max_c"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.expr("revenue_c = max_c"))
        .join(supp, F.expr("l_suppkey = s_suppkey"))
        .selectExpr(
            "s_suppkey",
            "s_name",
            "revenue_c / 100.0D AS total_revenue",
        )
    )


_Q16_SIZES = (1, 5, 9, 14, 19, 23, 36, 45)


@register_bench_only(
    "q16_supplier_part_counts",
    f"""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN {_Q16_SIZES!r}
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("relational", "count-distinct-anti", "tpch-q16"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers ship each (brand, type, size) combination, excluding a
    blacklist (negative-balance suppliers stand in for the original's
    complaint-comment scan; the lineitem join stands in for partsupp).
    The NOT IN is a LEFT ANTI join against the blacklist — never a
    NullAwareAntiJoin pitfall because s_suppkey is non-null; blacklist
    and part are supplier/part-derived (SF-scaled), so neither carries
    a broadcast hint (AQE size-decides — at real SF the ~6%-selective
    blacklist still broadcasts on measured size, the full part dim may
    not); COUNT(DISTINCT) expands to the standard
    two-phase partial-distinct plan on the group keys."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = _t(spark, sf_dir, "supplier").filter("s_acctbal < 0").selectExpr(
        "s_suppkey AS l_suppkey"
    )
    sizes = ", ".join(str(s) for s in _Q16_SIZES)
    part = _t(spark, sf_dir, "part").filter(
        f"p_brand != 'Brand#1' AND p_size IN ({sizes})"
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(bad, "l_suppkey", "left_anti")
        .join(part, F.expr("l_partkey = p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.expr(
                "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt"
            )
        )
    )


@register_bench_only(
    "q19_disjunctive_revenue",
    """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
    tags=("relational", "disjunctive-pushdown", "tpch-q19"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): an OR of three
    brand/size/quantity conjunctions spanning both join sides — the
    canonical disjunctive-predicate query. Catalyst's CNF conversion
    extracts the single-side implications (brand IN the three brands,
    size <= the widest bound, quantity within the union range) and
    pushes them to the respective scans, so each side prunes BEFORE
    the join even though no single conjunct applies globally; the
    residual OR evaluates post-join. Part is SF-scaled — no broadcast
    hint, AQE size-decides; one row out."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    disj = (
        "(p_brand = 'Brand#1' AND (p_size BETWEEN 1 AND 15)"
        " AND (l_quantity BETWEEN 1 AND 20))"
        " OR (p_brand = 'Brand#2' AND (p_size BETWEEN 1 AND 25)"
        " AND (l_quantity BETWEEN 10 AND 30))"
        " OR (p_brand = 'Brand#3' AND (p_size BETWEEN 1 AND 35)"
        " AND (l_quantity BETWEEN 20 AND 40))"
    )
    return (
        li.join(part, F.expr("l_partkey = p_partkey"))
        .filter(disj)
        .agg(
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 4)"
                " AS revenue"
            ),
            F.expr("CAST(count(1) AS BIGINT) AS n_items"),
        )
    )


_Q20_LO = "1997-01-01 00:00:00"
_Q20_HI = "1998-01-01 00:00:00"


@register_bench_only(
    "q20_dominant_suppliers",
    f"""
    WITH ps AS (
      SELECT l.l_partkey, l.l_suppkey,
             SUM(CAST(l.l_quantity AS BIGINT)) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'small%'
        AND l.l_shipdate >= TIMESTAMP '{_Q20_LO}'
        AND l.l_shipdate < TIMESTAMP '{_Q20_HI}'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    tot AS (
      SELECT l_partkey, SUM(qty) AS total_qty FROM ps GROUP BY l_partkey
    ),
    dom AS (
      SELECT DISTINCT ps.l_suppkey
      FROM ps JOIN tot ON ps.l_partkey = tot.l_partkey
      WHERE 2 * ps.qty > tot.total_qty
    )
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    JOIN dom ON dom.l_suppkey = s.s_suppkey
    WHERE r.r_name = 'AFRICA'
    """,
    tags=("relational", "nested-decorrelation", "tpch-q20"),
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): African suppliers
    who shipped more than half of some small-named part's 1997 volume
    — the original's doubly-nested IN/scalar-subquery, decorrelated.
    The per-(part, supplier) aggregate is computed ONCE and reused for
    the per-part total (the second grouping consumes the first's
    output, so the fact scans once); dominance is an exact integer
    compare (quantities are integral, summed as BIGINT — 2*qty >
    total, no 0.5 float); the dominant-supplier set semi-joins into
    the supplier dim, region filter broadcast."""
    small = _t(spark, sf_dir, "part").filter("p_name LIKE 'small%'").select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        f"l_shipdate >= TIMESTAMP_NTZ '{_Q20_LO}'"
        f" AND l_shipdate < TIMESTAMP_NTZ '{_Q20_HI}'"
    ).select("l_partkey", "l_suppkey", "l_quantity")
    ps = (
        li.join(small, F.expr("l_partkey = p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.expr("sum(CAST(l_quantity AS BIGINT)) AS qty"))
    )
    tot = ps.groupBy("l_partkey").agg(F.expr("sum(qty) AS total_qty"))
    dom = (
        ps.join(tot, "l_partkey")
        .filter("2 * qty > total_qty")
        .select("l_suppkey")
        .distinct()
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter("r_name = 'AFRICA'")
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.expr("s_nationkey = n_nationkey"))
        .join(F.broadcast(region), F.expr("n_regionkey = r_regionkey"))
        .join(
            dom.withColumnRenamed("l_suppkey", "s_suppkey"),
            "s_suppkey",
            "left_semi",
        )
        .select("s_name", "n_name")
    )


@register_bench_only(
    "pp_stratified_cap",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY ('0x' || substring(md5('cap' || CAST(doc_id AS VARCHAR)),
                                  1, 8))::BIGINT ASC,
               doc_id ASC) <= 40
    """,
    tags=("sampling", "stratified-cap", "training-mix"),
)
def pp_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document cap (the training-mix balancer every LLM
    corpus pipeline runs: "at most N docs per language/source"), in the
    SCALE-SAFE form — partitioning.stratified_cap_scaled: per-stratum
    counts broadcast, under-cap strata pass through untouched, over-cap
    strata prefilter to an O(cap) survivor prefix of the portable
    md5-order before the exact row_number window, with a deficiency
    fallback that keeps correctness non-probabilistic. The naive form
    (one window over PARTITION BY lang) puts corpus/|langs| in a single
    sort task at 100 TB — the same low-cardinality-partition defect the
    W1 ntile fix removed. The oracle replays the exact keep-set with
    the same md5-prefix order (QUALIFY row_number <= cap); both forms
    and the oracle agree row-for-row
    (tests/test_operators_unit.py::test_stratified_cap_scaled_matches_simple_form).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return partitioning.stratified_cap_scaled(
        docs, ["lang"], cap=40, tiebreak="doc_id", salt="cap"
    )


@register_bench_only(
    "pp_weighted_sample",
    """
    WITH w AS (
      SELECT o_orderkey,
             GREATEST(COALESCE(CAST(ROUND(o_totalprice * 100) AS BIGINT),
                               0), 0) AS wt
      FROM orders WHERE o_orderkey IS NOT NULL
    ),
    c AS (
      SELECT o_orderkey, wt,
             CAST(SUM(wt) OVER (ORDER BY o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum
      FROM w
    ),
    t AS (SELECT CAST(SUM(wt) AS BIGINT) AS total FROM w),
    r AS (SELECT ('0x' || substring(md5('pps7'), 1, 8))::BIGINT % total
               AS rr, total
          FROM t WHERE total > 0)
    SELECT o_orderkey, wt AS weight, cum AS cum_weight,
           CAST((cum * 100 + rr) // total
                - ((cum - wt) * 100 + rr) // total AS BIGINT) AS n_hits
    FROM c CROSS JOIN r
    WHERE (cum * 100 + rr) // total
          - ((cum - wt) * 100 + rr) // total > 0
    """,
    tags=("sampling", "pps"),
)
def pp_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (PPS) systematic sample of orders ∝ price
    (operators/sampling.pps_systematic_sample): exactly k=100 grid
    slots dropped on the cumulative-weight line in o_orderkey order,
    rotated by a deterministic md5 offset — all-BIGINT arithmetic, so
    the sample is bit-identical across engines (the float-key
    Efraimidis-Spirakis form is NOT oracle-portable: pow/log last-ulp
    noise reorders the top-k boundary, which is why weighted sampling
    was deliberately absent until this integer design). Weights are
    exact integer cents. The Spark side computes the global cumsum via
    pack_shards' two-level distributed prefix sum — never a one-task
    global window; the oracle affords the naive window. ``n_hits``
    carries multiplicity for rows heavier than the grid spacing, so
    Σ n_hits = k exactly."""
    from tcga_query_project_spark.operators import sampling

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("_cents"),
    )
    return sampling.pps_systematic_sample(
        orders, "o_orderkey", "_cents", 100, salt="pps7"
    )


@register_bench_only(
    "pp_dsir_select",
    """
    WITH docs AS (
      SELECT doc_id, COALESCE(lang = 'en', FALSE) AS is_t,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    uni AS (
      SELECT doc_id, is_t, feat FROM (
        SELECT doc_id, is_t, unnest(toks) AS feat FROM docs)
      WHERE feat != ''
    ),
    bi AS (
      SELECT doc_id, is_t, wp || ' ' || w AS feat FROM (
        SELECT doc_id, is_t,
               unnest(toks[1:len(toks)-1]) AS wp,
               unnest(toks[2:len(toks)]) AS w
        FROM docs WHERE len(toks) >= 2)
    ),
    feats AS (
      SELECT doc_id, is_t,
             ('0x' || substring(md5(feat), 1, 8))::BIGINT % 1024 AS b
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ),
    bt AS (
      SELECT b, CAST(COUNT(*) AS DOUBLE) AS rawc,
             CAST(COALESCE(SUM(CASE WHEN is_t THEN 1 END), 0) AS DOUBLE)
               AS tgtc
      FROM feats GROUP BY b
    ),
    tt AS (SELECT SUM(rawc) AS r, SUM(tgtc) AS t FROM bt),
    lrt AS (
      SELECT b, LN(((2 * tgtc + 1) * (2 * tt.r + 1024))
                   / ((2 * rawc + 1) * (2 * tt.t + 1024))) AS lr
      FROM bt CROSS JOIN tt
    ),
    sc AS (
      SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
             ROUND(SUM(l.lr), 6) AS log_weight
      FROM feats f JOIN lrt l ON l.b = f.b GROUP BY f.doc_id
    ),
    g AS (
      SELECT doc_id, n_feats, log_weight,
             ROUND(log_weight
                   + ROUND(-LN(-LN(
                       ((('0x' || substring(md5('dsir'
                             || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
                        + 0.5) / 4294967296.0)), 6), 6) AS sel_key
      FROM sc
    )
    SELECT doc_id, n_feats, log_weight, sel_key,
           doc_id IN (SELECT doc_id FROM g
                      ORDER BY sel_key DESC, doc_id LIMIT 100) AS selected
    FROM g
    """,
    tags=("sampling", "dsir", "importance-resampling", "training-mix"),
)
def pp_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (sampling.dsir_select, Xie et al. 2023):
    hashed unigram+bigram features (md5-prefix mod 1024), smoothed
    log-likelihood ratio of the lang='en' target slice vs the raw
    corpus, Gumbel-top-k (k=100) resampling with md5-deterministic
    noise. The feature stream is the only corpus-sized data; the
    bucket table builds raw+target counts in ONE conditional aggregate
    and broadcasts back; the top-k is TakeOrderedAndProject feeding a
    k-row broadcast semi-join — two real exchanges at any corpus size.
    The oracle replays hashing, the integer-ratio ln, the rounded
    Gumbel key, and the LIMIT-k membership; every float is rounded
    before publication on both engines."""
    docs = _t(spark, sf_dir, "documents")
    marked = docs.withColumn("_t", F.col("lang") == "en")
    return sampling.dsir_select(
        marked, "doc_id", "text", "_t", k=100, n_buckets=1024
    )


_PSI_VALUE_BIN_SQL = """CASE WHEN value IS NULL THEN '__null__'
             ELSE 'b' || CAST((CASE WHEN value >= 0 THEN 1 ELSE 0 END)
                           + (CASE WHEN value >= 50 THEN 1 ELSE 0 END)
                           + (CASE WHEN value >= 200 THEN 1 ELSE 0 END)
                           AS VARCHAR) END"""


@register_bench_only(
    "qa_windowed_psi",
    f"""
    WITH ev AS (SELECT ts, event_type, value FROM events
                WHERE ts IS NOT NULL),
    ref AS (SELECT * FROM ev WHERE epoch_us(ts) < {_KS_CUTOFF_US}),
    cur AS (SELECT * FROM ev WHERE epoch_us(ts) >= {_KS_CUTOFF_US}),
    refb AS (
      SELECT feature, bin, CAST(COUNT(*) AS DOUBLE) AS ref_n FROM (
        SELECT 'value' AS feature, {_PSI_VALUE_BIN_SQL} AS bin FROM ref
        UNION ALL
        SELECT 'event_type', COALESCE(event_type, '__null__') FROM ref
      ) GROUP BY feature, bin),
    curb AS (
      SELECT w, feature, bin, CAST(COUNT(*) AS DOUBLE) AS cur_n FROM (
        SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS w,
               'value' AS feature, {_PSI_VALUE_BIN_SQL} AS bin FROM cur
        UNION ALL
        SELECT epoch_us(ts) - epoch_us(ts) % 86400000000,
               'event_type', COALESCE(event_type, '__null__') FROM cur
      ) GROUP BY w, feature, bin),
    wins AS (SELECT DISTINCT w FROM curb),
    refx AS (SELECT wins.w AS w, refb.feature, refb.bin, refb.ref_n
             FROM wins CROSS JOIN refb),
    merged AS (
      SELECT COALESCE(c.w, r.w) AS w,
             COALESCE(c.feature, r.feature) AS feature,
             COALESCE(c.bin, r.bin) AS bin,
             COALESCE(r.ref_n, 0) AS ref_n,
             COALESCE(c.cur_n, 0) AS cur_n
      FROM curb c FULL OUTER JOIN refx r
        ON r.w = c.w AND r.feature = c.feature AND r.bin = c.bin),
    tot AS (SELECT w, feature, SUM(ref_n) AS rt, SUM(cur_n) AS ct
            FROM merged GROUP BY w, feature),
    terms AS (
      SELECT m.w, m.feature,
        GREATEST(CASE WHEN t.rt > 0 THEN m.ref_n / t.rt ELSE 0 END,
                 1e-6) AS p,
        GREATEST(CASE WHEN t.ct > 0 THEN m.cur_n / t.ct ELSE 0 END,
                 1e-6) AS q
      FROM merged m JOIN tot t ON t.w = m.w AND t.feature = m.feature)
    SELECT w AS window_start_us, feature,
           ROUND(SUM((p - q) * LN(p / q)), 6) AS psi,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(SUM((p - q) * LN(p / q)), 6) > 0.2 AS drifted
    FROM terms GROUP BY w, feature
    """,
    tags=("quality-gate", "psi", "windowed-drift", "streaming-batch-form"),
)
def qa_windowed_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed PSI drift report — the BATCH FORM of the streaming
    monitor (streaming/quality.start_windowed_psi), composed from the
    same three shared pieces it runs per micro-batch: binned_features
    projection, a 1-day event-time window count, baseline_counts on
    the pre-cutoff slice, psi_report_for_batch's outer-merge +
    psi_from_counts algebra (stream == batch by shared code —
    tests/test_streaming.py::test_windowed_psi_stream_equals_batch).
    Reference = events before the Jan-16 cutoff (qa_ks_drift's), cur =
    daily windows after; features: event_type (categorical), value
    (edges 0/50/200). NULL ts has no window and drops from both sides;
    NULL values/types bin as '__null__'. One row-scaled shuffle (the
    window count); everything after is bin-cardinality-sized."""
    from tcga_query_project_spark.operators.quality_audit import (
        binned_features,
    )
    from tcga_query_project_spark.streaming import quality as sq

    feats = dict(
        numeric={"value": [0.0, 50.0, 200.0]}, categorical=["event_type"]
    )
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    ref = ev.filter(us < _KS_CUTOFF_US)
    cur = ev.filter(us >= _KS_CUTOFF_US)
    batch_counts = (
        binned_features(
            cur, feats["numeric"], feats["categorical"], extra_cols=["ts"]
        )
        .groupBy(F.window(F.col("ts"), "1 day"), "feature", "bin")
        .agg(F.count(F.lit(1)).cast("double").alias("cur_n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "feature",
            "bin",
            "cur_n",
        )
    )
    return sq.psi_report_for_batch(
        batch_counts, sq.baseline_counts(ref, **feats)
    )


@register_bench_only(
    "ab_cuped",
    f"""
    WITH u AS (
      SELECT user_id,
             COALESCE(SUM(CASE WHEN epoch_us(ts) < {_KS_CUTOFF_US}
                               THEN value END), 0.0) AS x,
             COALESCE(SUM(CASE WHEN epoch_us(ts) >= {_KS_CUTOFF_US}
                               THEN value END), 0.0) AS y,
             CASE WHEN {HASH_SPLIT_BUCKET_SQL.format(key="user_id")} < 50
                  THEN 1.0 ELSE 0.0 END AS a
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    s AS (
      SELECT SUM(a) AS na, SUM(1-a) AS nb, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(x*y) AS sxy,
             SUM(a*x) AS sxa, SUM((1-a)*x) AS sxb,
             SUM(a*y) AS sya, SUM((1-a)*y) AS syb,
             SUM(a*y*y) AS syya, SUM((1-a)*y*y) AS syyb,
             SUM(a*x*x) AS sxxa, SUM((1-a)*x*x) AS sxxb,
             SUM(a*x*y) AS sxya, SUM((1-a)*x*y) AS sxyb
      FROM u
    ),
    t AS (
      SELECT s.*,
             COALESCE((sxy - sx*sy/NULLIF(na+nb, 0))
                      / NULLIF(sxx - sx*sx/NULLIF(na+nb, 0), 0), 0)
               AS theta,
             sx / NULLIF(na+nb, 0) AS xbar
      FROM s
    ),
    m AS (
      SELECT t.*,
        sya/NULLIF(na, 0) AS mya, syb/NULLIF(nb, 0) AS myb,
        sxa/NULLIF(na, 0) AS mxa, sxb/NULLIF(nb, 0) AS mxb,
        (syya - sya*sya/NULLIF(na, 0))/NULLIF(na-1, 0) AS vya,
        (syyb - syb*syb/NULLIF(nb, 0))/NULLIF(nb-1, 0) AS vyb,
        ((syya - sya*sya/NULLIF(na, 0))
         - 2*theta*(sxya - sxa*sya/NULLIF(na, 0))
         + theta*theta*(sxxa - sxa*sxa/NULLIF(na, 0)))
          / NULLIF(na-1, 0) AS vca,
        ((syyb - syb*syb/NULLIF(nb, 0))
         - 2*theta*(sxyb - sxb*syb/NULLIF(nb, 0))
         + theta*theta*(sxxb - sxb*sxb/NULLIF(nb, 0)))
          / NULLIF(nb-1, 0) AS vcb
      FROM t
    ),
    -- clamp float-cancellation negatives (~-1e-12) at 0 but preserve
    -- NULL single-unit-arm variances: CASE WHEN NULL<0 falls to ELSE
    m2 AS (
      SELECT m.* REPLACE (
        CASE WHEN vya < 0 THEN 0 ELSE vya END AS vya,
        CASE WHEN vyb < 0 THEN 0 ELSE vyb END AS vyb,
        CASE WHEN vca < 0 THEN 0 ELSE vca END AS vca,
        CASE WHEN vcb < 0 THEN 0 ELSE vcb END AS vcb)
      FROM m
    ),
    f AS (
      SELECT m2.*, mya - theta*(mxa - xbar) AS mca,
                   myb - theta*(mxb - xbar) AS mcb
      FROM m2
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      ROUND(mya, 6) AS mean_a_raw, ROUND(myb, 6) AS mean_b_raw,
      ROUND(myb - mya, 6) AS lift_raw,
      ROUND((myb - mya) / NULLIF(SQRT(vya/NULLIF(na, 0)
                                      + vyb/NULLIF(nb, 0)), 0), 4)
        AS z_raw,
      ROUND(theta, 6) AS theta,
      ROUND(mca, 6) AS mean_a_cuped, ROUND(mcb, 6) AS mean_b_cuped,
      ROUND(mcb - mca, 6) AS lift_cuped,
      ROUND((mcb - mca) / NULLIF(SQRT(vca/NULLIF(na, 0)
                                      + vcb/NULLIF(nb, 0)), 0), 4)
        AS z_cuped,
      ROUND(100*(1 - (((na-1)*vca + (nb-1)*vcb)/NULLIF(na+nb-2, 0))
                     / NULLIF(((na-1)*vya + (nb-1)*vyb)
                              / NULLIF(na+nb-2, 0), 0)), 4)
        AS var_reduction_pct
    FROM f
    """,
    tags=("ab-test", "cuped", "variance-reduction", "experimentation"),
)
def ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout (stats.cuped_ab — Deng, Xu, Kohavi &
    Walker, WSDM 2013) over events: units are users (NULL user_id
    dropped), arms from the deterministic md5 half-split, the
    pre-period covariate x = per-user value sum before the Jan-16
    cutoff (qa_ks_drift's), the experiment metric y = the sum after;
    NULL-ts events belong to neither period. Two shuffles at any
    event volume: the user-keyed conditional aggregate, then ONE
    single-row power-sum reduction (map-side combined) from which
    theta, both arms' raw and adjusted means/variances, Welch z-stats,
    and the pooled-within-arm variance-reduction percentage all derive
    as expressions. The oracle replays the identical power-sum algebra
    with NULLIF-guarded divisions; floats round before publication."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    from tcga_query_project_spark.functions.scalar import hash_split_bucket

    us = F.unix_micros(F.col("ts"))
    unit = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(us < _KS_CUTOFF_US, F.col("value"))), F.lit(0.0)
        ).alias("x"),
        F.coalesce(
            F.sum(F.when(us >= _KS_CUTOFF_US, F.col("value"))), F.lit(0.0)
        ).alias("y"),
    ).withColumn(
        "_arm",
        F.when(hash_split_bucket(F.col("user_id")) < 50, "A").otherwise("B"),
    )
    return stats.cuped_ab(unit, "user_id", "_arm", "x", "y")
