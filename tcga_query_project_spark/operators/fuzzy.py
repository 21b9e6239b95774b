"""Fuzzy string matching (edit-distance join) without a cartesian
product — SymSpell-style deletion-neighborhood blocking.

Entity resolution at corpus scale ("are these two supplier/author/
product names the same thing?") needs all pairs within Levenshtein
distance ``d``, and the naive formulation is an O(n²) theta join no
cluster survives. The deletion-neighborhood trick (Garbe's SymSpell,
itself the FastSS scheme of Bocek et al. 2007) makes it an EQUI join:

    If lev(s, t) <= d, the edit-script alignment touches at most d
    positions of each string; deleting the touched positions from each
    side leaves a common string. So s and t within distance d ALWAYS
    share at least one member of their "delete up to d chars"
    neighborhoods — blocking on those variants is provably complete
    (no candidate within d is ever missed), and a final exact
    ``levenshtein`` filter removes the false candidates.

Cost model: a string of length L has 1 + L + L(L-1)/2 delete-variants
at d=2 (~70 for a 12-char name) — a bounded, map-side explode. The
only shuffle is the variant equi-join, hash-partitioned like any join;
the exact verify runs on candidates only. Everything is JVM-side
(substring/concat expression codegen + built-in ``levenshtein``) — no
Python in the hot path.

Caveats, stated rather than hidden: the variant count is O(L^d), so
this is for SHORT strings (names, titles, codes — not documents; for
documents use MinHash in :mod:`.dedup`); very common variants (short
strings sharing a 1-char delete) skew the join key, the standard
AQE skew-join regime.

Reference analog: none (serves the entity-resolution surface of the
LLM-data-pipeline brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _delete1_sql(s: str) -> str:
    """Array of all strings obtained by deleting exactly ONE character
    — pure expression form: transform over the position sequence.
    ``s`` is a SQL expression string (one parse instead of a py4j
    round trip per substring op)."""
    return (
        f"CASE WHEN length({s}) <= 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(1, length({s})), "
        f"i -> concat(substr({s}, 1, i - 1), "
        f"substr({s}, i + 1, length({s})))) END"
    )


def delete_variants_sql(s: str, max_dist: int) -> str:
    """The deletion neighborhood of ``s`` (a SQL expression string) up
    to ``max_dist`` deletions (including ``s`` itself), deduplicated.
    ``max_dist`` in {1, 2}: d=2 already covers the typo/OCR regime
    entity resolution targets, and O(L^3) variant counts at d=3 stop
    paying for themselves."""
    if max_dist not in (1, 2):
        raise ValueError("fuzzy deletion neighborhoods support max_dist 1 or 2")
    v0 = f"array({s})"
    v1 = _delete1_sql(s)
    if max_dist == 1:
        return f"array_distinct(concat({v0}, {v1}))"
    # d=2: delete positions i < j of the ORIGINAL string in one
    # expression (substring stitching), avoiding a nested explode.
    pairs = (
        f"flatten(transform(sequence(1, length({s}) - 1), "
        f"i -> transform(sequence(i + 1, length({s})), "
        f"j -> concat(substr({s}, 1, i - 1), "
        f"substr({s}, i + 1, j - i - 1), "
        f"substr({s}, j + 1, length({s}))))))"
    )
    v2 = (
        f"CASE WHEN length({s}) >= 2 THEN {pairs} "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return f"array_distinct(concat({v0}, {v1}, {v2}))"


def _variant_table(
    df: DataFrame, col: str, max_dist: int, out: str
) -> DataFrame:
    from tcga_query_project_spark.functions.scalar import qident

    oq = qident(out)
    return (
        df.select(F.col(col).alias(out))
        .filter(F.col(out).isNotNull())
        .distinct()
        .selectExpr(
            oq,
            f"explode({delete_variants_sql(oq, max_dist)}) AS _variant",
        )
    )


def fuzzy_pairs(df: DataFrame, col: str, max_dist: int) -> DataFrame:
    """All UNORDERED pairs of distinct values of ``col`` within
    Levenshtein distance ``max_dist`` — ``(name_a, name_b, dist)``
    with ``name_a < name_b``, exactly the brute-force all-pairs result
    (the blocking is complete; see module docstring) at equi-join
    cost. Distances are computed once per candidate pair on the
    deduplicated value domain, never per row — join the result back to
    the fact to expand to row pairs."""
    va = _variant_table(df, col, max_dist, "name_a")
    vb = _variant_table(df, col, max_dist, "name_b")
    return (
        va.join(vb, "_variant")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .withColumn(
            "dist",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("bigint"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def resolve_entities(df: DataFrame, col: str) -> DataFrame:
    """Entity resolution over a string key: fuzzy pairs within edit
    distance 2 → connected
    components (transitive closure — 'bolt'~'bolte'~'boltte' is ONE
    entity even though the ends are 2+2 apart) → canonical name per
    cluster (lexicographically smallest, a deterministic and
    engine-portable choice). Returns one row per distinct value:
    ``(name, canonical, cluster_size)``.

    Node ids for the component step are portable md5-prefix hashes of
    the names (:func:`...functions.scalar.md5_prefix_long`), so the
    label algebra stays on BIGINTs (the component operator's contract)
    while names never leave the dataflow; a 32-bit prefix collision
    would merge two clusters — at the name-domain sizes this targets
    (≤ millions) the birthday bound keeps that below ~1e-4, and the
    canonical-name join-back is collision-safe (joins on the name)."""
    from tcga_query_project_spark.functions.scalar import md5_prefix_long
    from tcga_query_project_spark.operators.graph import (
        connected_components,
    )

    names = (
        df.select(F.col(col).alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
        .withColumn("_id", md5_prefix_long(F.col("name")))
    )
    pairs = fuzzy_pairs(df, col, 2)
    edges = (
        pairs.withColumn("_u", md5_prefix_long(F.col("name_a")))
        .withColumn("_v", md5_prefix_long(F.col("name_b")))
        .select("_u", "_v")
    )
    comp = connected_components(edges, "_u", "_v")
    labelled = names.join(
        comp, names["_id"] == comp["id"], "left"
    ).select(
        "name",
        F.coalesce(F.col("component"), F.col("_id")).alias("_comp"),
    )
    canon = labelled.groupBy("_comp").agg(
        F.min("name").alias("canonical"),
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
    )
    return labelled.join(canon, "_comp").select(
        "name", "canonical", "cluster_size"
    )
