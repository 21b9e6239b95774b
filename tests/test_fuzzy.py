"""Fuzzy string matching (operators/fuzzy): the SymSpell
deletion-neighborhood join must equal the brute-force all-pairs
Levenshtein result on ANY input — completeness of the blocking is the
whole point, so the reference implementation here is a plain python
edit-distance over itertools.combinations."""

from __future__ import annotations

import itertools
import random
import string

import pytest

from tcga_query_project_spark.operators import fuzzy


def lev(a: str, b: str) -> int:
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[n]


def brute_pairs(names, d):
    return {
        (a, b, lev(a, b))
        for a, b in itertools.combinations(sorted(set(names)), 2)
        if lev(a, b) <= d
    }


def _pairs_set(spark, names, d):
    df = spark.createDataFrame([(n,) for n in names], "name string")
    return {
        (r["name_a"], r["name_b"], r["dist"])
        for r in fuzzy.fuzzy_pairs(df, "name", d).collect()
    }


@pytest.mark.parametrize("d", [1, 2])
def test_fuzzy_pairs_equals_brute_force_crafted(spark, d):
    names = [
        "bolt", "bolte", "boltte", "red widget", "red wodget",
        "blue bolt", "b", "", "xy", "yx", "small ring", "smallring",
        "gear", "gearr", "gea", "hot gear",
    ]
    assert _pairs_set(spark, names, d) == brute_pairs(names, d)


@pytest.mark.parametrize("seed", [3, 17])
def test_fuzzy_pairs_equals_brute_force_random(spark, seed):
    """Random short strings over a tiny alphabet (maximizes accidental
    near-collisions, the regime where incomplete blocking would show)."""
    rng = random.Random(seed)
    names = [
        "".join(rng.choices("abc", k=rng.randint(0, 6))) for _ in range(60)
    ]
    assert _pairs_set(spark, names, 2) == brute_pairs(names, 2)


def test_fuzzy_pairs_includes_duplicates_once_and_skips_null(spark):
    df = spark.createDataFrame(
        [("ab",), ("ab",), ("ac",), (None,)], "name string"
    )
    got = _pairs_set(spark, ["ab", "ab", "ac"], 1)
    assert got == {("ab", "ac", 1)}
    # NULL keys are dropped, not joined
    rows = fuzzy.fuzzy_pairs(df, "name", 1).collect()
    assert all(r["name_a"] is not None and r["name_b"] is not None for r in rows)


def test_resolve_entities_transitive_chain(spark):
    """'bolt' ~ 'bolte' ~ 'boltte': ends are distance 2 apart pairwise
    chained — one entity through transitive closure; canonical is the
    lexicographic min; unrelated names stay singletons."""
    names = ["bolt", "bolte", "boltte", "zzz widget"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r["name"]: (r["canonical"], r["cluster_size"])
        for r in fuzzy.resolve_entities(df, "name").collect()
    }
    assert got == {
        "bolt": ("bolt", 3),
        "bolte": ("bolt", 3),
        "boltte": ("bolt", 3),
        "zzz widget": ("zzz widget", 1),
    }
