"""Unit tests per operator (SURVEY.md §5 strategy #2): tiny hand-built
inputs with hand-worked expected outputs."""

import math

import pytest
from pyspark.sql import functions as F

from tcga_query_project_spark.functions.scalar import signif_bin
from tcga_query_project_spark.operators import stats, survival


def test_km_curve_hand_worked(spark):
    # Classic product-limit worked example: times 1,2,2,3,4,5 with
    # censoring. Subjects: (t=1,dead),(t=2,dead),(t=2,censored),
    # (t=3,dead),(t=4,censored),(t=5,dead)
    rows = [(1.0, 1), (2.0, 1), (2.0, 0), (3.0, 1), (4.0, 0), (5.0, 1)]
    df = spark.createDataFrame(rows, "time double, status int").withColumn(
        "g", F.lit("all")
    )
    km = {
        r["time"]: r
        for r in survival.km_curve(df, "time", "status", ["g"]).collect()
    }
    # t=1: n=6, d=1 → S=5/6
    assert km[1.0]["n_at_risk"] == 6
    assert abs(km[1.0]["survival"] - 5 / 6) < 1e-12
    # t=2: n=5, d=1, c=1 → S=5/6 * 4/5 = 2/3 (censored at-risk through t)
    assert km[2.0]["n_at_risk"] == 5
    assert km[2.0]["n_events"] == 1 and km[2.0]["n_censored"] == 1
    assert abs(km[2.0]["survival"] - 2 / 3) < 1e-12
    # t=3: n=3, d=1 → S=2/3 * 2/3 = 4/9
    assert km[3.0]["n_at_risk"] == 3
    assert abs(km[3.0]["survival"] - 4 / 9) < 1e-12
    # t=4: censor only; survival unchanged
    assert km[4.0]["n_events"] == 0
    assert abs(km[4.0]["survival"] - 4 / 9) < 1e-12
    # t=5: last subject dies → S=0, Greenwood undefined
    assert km[5.0]["n_at_risk"] == 1
    assert km[5.0]["survival"] == 0.0
    assert km[5.0]["greenwood_var"] is None
    # Greenwood at t=1: S^2 * d/(n(n-d)) = (5/6)^2 * 1/30
    assert abs(km[1.0]["greenwood_var"] - (5 / 6) ** 2 * (1 / 30)) < 1e-12


def test_km_zero_at_risk_tail_and_ties(spark):
    # all die at the same time → one step to 0
    rows = [(3.0, 1)] * 4
    df = spark.createDataFrame(rows, "time double, status int").withColumn(
        "g", F.lit("x")
    )
    out = survival.km_curve(df, "time", "status", ["g"]).collect()
    assert len(out) == 1
    assert out[0]["survival"] == 0.0 and out[0]["n_at_risk"] == 4


def test_size_factors_median_of_ratios(spark):
    # 3 genes x 3 samples; sample B has exactly 2x sample A counts,
    # C has 4x. Geometric structure → size factors proportional 1:2:4,
    # and DESeq2 normalizes nothing further (no unit-mean rescale in
    # the reference path).
    rows = []
    base = {"g1": 4, "g2": 8, "g3": 16}
    for s, mult in [("A", 1), ("B", 2), ("C", 4)]:
        for g, b in base.items():
            rows.append((g, s, float(b * mult)))
    df = spark.createDataFrame(rows, "gene string, sample string, cnt double")
    sf = {
        r["sample"]: r["size_factor"]
        for r in stats.size_factors(df, "gene", "sample", "cnt").collect()
    }
    # geomean per gene g: (b * 2b * 4b)^(1/3) = 2b  → ratios per sample:
    # A: b/2b = 0.5, B: 1.0, C: 2.0 (same for every gene → median = that)
    assert abs(sf["A"] - 0.5) < 1e-12
    assert abs(sf["B"] - 1.0) < 1e-12
    assert abs(sf["C"] - 2.0) < 1e-12


def test_size_factors_excludes_zero_genes(spark):
    rows = [
        ("g1", "A", 4.0), ("g1", "B", 8.0),
        ("g2", "A", 0.0), ("g2", "B", 100.0),  # zero → excluded
    ]
    df = spark.createDataFrame(rows, "gene string, sample string, cnt double")
    sf = {
        r["sample"]: r["size_factor"]
        for r in stats.size_factors(df, "gene", "sample", "cnt").collect()
    }
    # only g1 survives: geomean = sqrt(32) → A: 4/sqrt(32), B: 8/sqrt(32)
    assert abs(sf["A"] - 4 / math.sqrt(32)) < 1e-12
    assert abs(sf["B"] - 8 / math.sqrt(32)) < 1e-12


def test_signif_bin_boundaries(spark):
    vals = [(0.06,), (0.05,), (0.011,), (0.01,), (0.0011,), (0.001,),
            (0.00011,), (0.0001,), (None,)]
    df = spark.createDataFrame(vals, "p double")
    out = [r["s"] for r in df.select(signif_bin(F.col("p")).alias("s")).collect()]
    # boundaries are inclusive on the more-significant side (p > cut)
    assert out == ["ns", "*", "*", "**", "**", "***", "***", "****", None]


def test_bh_adjust_known_values(spark):
    # textbook BH example: p = .01,.02,.03,.04 (n=4)
    # padj = min over j>=i of p_j*n/j → .04,.04,.04,.04
    df = spark.createDataFrame(
        [(1, 0.01), (2, 0.02), (3, 0.03), (4, 0.04)], "id int, p double"
    )
    out = stats.bh_adjust(df, "p", [], F.col("id").asc())
    vals = {r["id"]: r["padj"] for r in out.collect()}
    for i in vals:
        assert abs(vals[i] - 0.04) < 1e-12
    # a dominating small p stays itself
    df2 = spark.createDataFrame(
        [(1, 0.001), (2, 0.5), (3, 0.9)], "id int, p double"
    )
    v2 = {r["id"]: r["padj"] for r in stats.bh_adjust(df2, "p", [], F.col("id").asc()).collect()}
    assert abs(v2[1] - 0.003) < 1e-12      # 0.001*3/1
    assert abs(v2[2] - 0.75) < 1e-12       # 0.5*3/2
    assert abs(v2[3] - 0.9) < 1e-12        # min(0.9*3/3, ...) = 0.9
    # NULL p (untested rows) neither count in n nor take a rank: the
    # tested rows keep the values above, the NULL rows a NULL padj
    df3 = spark.createDataFrame(
        [(1, 0.001), (2, None), (3, 0.5), (4, 0.9), (5, None)], "id int, p double"
    )
    v3 = {r["id"]: r["padj"] for r in stats.bh_adjust(df3, "p", [], F.col("id").asc()).collect()}
    assert v3[2] is None and v3[5] is None
    for i, j in ((1, 1), (3, 2), (4, 3)):
        assert abs(v3[i] - v2[j]) < 1e-12


def test_wilcoxon_matches_closed_form(spark):
    # two groups with no ties: A={1,2,3}, B={4,5,6} → U_A = 0,
    # var = n_a*n_b*(n+1)/12 = 5.25, z = (0 - 4.5)/sqrt(5.25) = -1.96396,
    # two-sided normal-approx p ≈ 0.0495
    rows = [("g", "A", 1.0), ("g", "A", 2.0), ("g", "A", 3.0),
            ("g", "B", 4.0), ("g", "B", 5.0), ("g", "B", 6.0)]
    df = spark.createDataFrame(rows, "gene string, lab string, v double")
    out = stats.wilcoxon_rank_sum(df, "gene", "lab", "v", "A", "B").collect()[0]
    assert out["u_stat"] == 0.0
    assert abs(out["z"] + 1.9639610121239315) < 1e-12
    assert abs(out["p_value"] - 0.0495346) < 1e-4


def test_logrank_identical_groups_is_null_chi2_zero(spark):
    # two identical groups → observed == expected → chi2 == 0
    rows = []
    for g in ["a", "b"]:
        for t, s in [(1.0, 1), (2.0, 1), (3.0, 0), (4.0, 1)]:
            rows.append((g, t, s))
    df = spark.createDataFrame(rows, "grp string, time double, status int")
    out = survival.logrank_test(df, "time", "status", "grp").collect()[0]
    assert abs(out["chi2"]) < 1e-12
    assert out["p_value"] > 0.999
    # a single group is undefined, not "not significant"
    one = df.filter(F.col("grp") == "a")
    deg = survival.logrank_test(one, "time", "status", "grp").collect()[0]
    assert deg["chi2"] is None and deg["p_value"] is None


def test_ntile_strata_median_split(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id int, v double"
    )
    out = survival.ntile_strata(df, "v", 2, [], F.col("id").asc())
    labs = {r["id"]: r["stratum"] for r in out.collect()}
    assert all(labs[i] == "LOW" for i in range(5))
    assert all(labs[i] == "HIGH" for i in range(5, 10))
    # n=4: extremes only — middle dropped
    out4 = survival.ntile_strata(df, "v", 4, [], F.col("id").asc())
    labs4 = {r["id"]: r["stratum"] for r in out4.collect()}
    assert set(labs4) == {0, 1, 2, 8, 9}  # tile sizes 3,3,2,2 → 1st and 4th kept


def test_ntile_strata_strict_guards_duplicate_order_keys(spark):
    """Duplicate (value, tiebreak) order keys must FAIL at runtime —
    ntile assignment on a non-total order is engine-dependent — while
    unique keys (even with tied values, disambiguated by the tiebreak)
    pass."""
    import pytest as _pt
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    # tied values but unique tiebreak -> total order -> tiles by id
    df = spark.createDataFrame(
        [(i, float(i // 2)) for i in range(10)], "id int, v double"
    )
    labs = {
        r["id"]: r["stratum"]
        for r in survival.ntile_strata(df, "v", 2, [], F.col("id").asc()).collect()
    }
    assert labs == {i: "LOW" if i < 5 else "HIGH" for i in range(10)}
    # duplicate full order key -> raise (even though values tie-broken
    # elsewhere): rows (1, 5.0) twice
    dup = spark.createDataFrame(
        [(1, 5.0), (1, 5.0), (2, 7.0), (3, 9.0)], "id int, v double"
    )
    bad = survival.ntile_strata(dup, "v", 2, [], F.col("id").asc())
    with _pt.raises(SparkRuntimeException, match="duplicate"):
        bad.collect()
    # boundary-straddling pair with n=4: the
    # second row of the pair lands in a dropped MID tile — the
    # SURVIVING first row must still carry the flag (lead probe)
    dup2 = spark.createDataFrame(
        [(0, 0.0), (1, 1.0), (1, 1.0), (3, 3.0), (4, 4.0), (5, 5.0),
         (6, 6.0), (7, 7.0)],
        "id int, v double",
    )
    bad2 = survival.ntile_strata(dup2, "v", 4, [], F.col("id").asc())
    with _pt.raises(SparkRuntimeException, match="duplicate"):
        bad2.collect()
    # duplicate pair confined ENTIRELY to a dropped MID tile (n=4,
    # rows 3..4 of 8 land in tile 2): the partition-level lift
    # (round-11 ADVICE) must still raise — a duplicate full key
    # anywhere means the tiebreak is not total, even when this
    # output happens to be unaffected
    dup3 = spark.createDataFrame(
        [(0, 0.0), (1, 1.0), (2, 3.0), (2, 3.0), (4, 4.0), (5, 5.0),
         (6, 6.0), (7, 7.0)],
        "id int, v double",
    )
    bad3 = survival.ntile_strata(dup3, "v", 4, [], F.col("id").asc())
    with _pt.raises(SparkRuntimeException, match="duplicate"):
        bad3.collect()


def test_asof_join_semantics(spark):
    from tcga_query_project_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, None), (1, 1, 50.0), (2, 9, 9.0)],
        "k int, ts int, v double",
    )
    out = {
        r["tag"]: r
        for r in temporal.asof_join(left, right, "k", "ts", "ts", ["v"]).collect()
    }
    # exact-tie: right row at ts=10 matches the left ts=10 (>= semantics)
    assert out["a"]["asof_ts"] == 10 and out["a"]["asof_v"] == 100.0
    # latest prior is the ts=15 row whose payload is NULL — the null must
    # be carried (not skipped for an earlier non-null)
    assert out["b"]["asof_ts"] == 15 and out["b"]["asof_v"] is None
    # plain predecessor
    assert out["c"]["asof_ts"] == 1 and out["c"]["asof_v"] == 50.0
    # right row strictly after left → no match
    assert out["d"]["asof_ts"] is None and out["d"]["asof_v"] is None


def test_bh_adjust_ties_share_one_padj(spark):
    """Tied p-values get one padj whatever the tiebreak ranks them,
    and every padj equals a numpy step-up reference."""
    import random

    import numpy as np

    rng = random.Random(3)
    vals = [round(rng.random(), 2) for _ in range(200)]  # plenty of ties
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, p double"
    )
    got = {r["id"]: r["padj"] for r in stats.bh_adjust(df, "p", [], F.col("id").asc()).collect()}
    p = np.array(vals)
    order = np.argsort(p, kind="stable")
    stepped = p[order] * len(p) / np.arange(1, len(p) + 1)
    ref = np.empty_like(p)
    ref[order] = np.minimum(1.0, np.minimum.accumulate(stepped[::-1])[::-1])
    by_p: dict[float, set[float]] = {}
    for i, v in enumerate(vals):
        by_p.setdefault(v, set()).add(got[i])
        assert abs(got[i] - ref[i]) < 1e-12, (i, got[i], ref[i])
    assert len(by_p) < len(vals)  # the input does have ties
    assert all(len(padjs) == 1 for padjs in by_p.values()), by_p


def test_vst_fitted_monotone_and_log_like(spark):
    """Fitted VST: monotone in the normalized count, and ~log2 spacing
    for large counts (variance-stabilization shape)."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    for g in range(30):
        base = float(rng.uniform(5, 500))
        for s in range(20):
            # overdispersed counts: gamma-poisson
            lam = rng.gamma(4.0, base / 4.0)
            rows.append((f"g{g}", f"s{s}", float(rng.poisson(lam))))
    df = spark.createDataFrame(rows, "gene string, sample string, cnt double")
    sf = spark.createDataFrame(
        [(f"s{s}", 1.0) for s in range(20)], "sample string, size_factor double"
    )
    out = stats.vst_fitted(df, sf, "gene", "sample", "cnt").collect()
    pts = sorted((r["normalized_count"], r["vst"]) for r in out)
    for (q1, v1), (q2, v2) in zip(pts, pts[1:]):
        if q2 > q1:
            assert v2 > v1 - 1e-9  # monotone
    # log-like at the top end: doubling q adds ~1 in vst
    qs = [p[0] for p in pts]
    hi = [p for p in pts if p[0] > np.percentile(qs, 80)]
    q_lo, v_lo = hi[0]
    q_hi, v_hi = hi[-1]
    if q_hi > 2 * q_lo:
        expected = np.log2(q_hi / q_lo)
        assert abs((v_hi - v_lo) - expected) < 0.5


def test_approx_profile_within_tolerance(spark):
    """Sketch aggregates vs exact answers on sf0.001 events: HLL distinct
    within 5% (default rsd), approx quartiles within the value span of
    the adjacent exact quartiles."""
    from tcga_query_project_spark.operators import sketches
    from tcga_query_project_spark.sources.io import read_events

    ev = read_events(spark, "/root/testdata/sf0.001")
    approx = {
        r["event_type"]: r
        for r in sketches.approx_profile(ev, "event_type", "user_id", "value").collect()
    }
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("nd"),
            F.percentile("value", F.lit(0.5)).alias("med"),
        )
        .collect()
    }
    for et, ex in exact.items():
        ap = approx[et]
        assert abs(ap["approx_distinct"] - ex["nd"]) <= max(2, 0.05 * ex["nd"])
        assert abs(ap["approx_quartiles"][1] - ex["med"]) <= 0.05 * max(ex["med"], 1.0)


def test_lsh_candidates_rejects_missing_signature_columns(spark):
    # A long (id, seed, minhash) frame — the pre-wide-refactor schema —
    # must fail loudly, not silently produce zero candidates.
    from tcga_query_project_spark.operators import dedup

    legacy = spark.createDataFrame(
        [(1, 1, 42)], "doc_id long, seed int, minhash long"
    )
    with pytest.raises(ValueError, match="_mh"):
        dedup.lsh_candidates(legacy, "doc_id")


def test_cosine_topk_bucketed_recall_and_exactness(spark):
    """Sign-bucket single-probe ANN: every returned neighbor must be the
    true rank among the query's own-bucket candidates (exact rerank),
    and same-bucket recall of brute-force top-1 must beat the 1/16
    random-bucket baseline (cosine-similar vectors agree on sign bits
    more often than not — on these near-isotropic synthetic embeddings
    the edge is modest, ~2.6x baseline)."""
    from pyspark.sql import functions as F

    from tcga_query_project_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.cosine_topk(emb, emb, "vec_id", "embedding", k=1).collect()
    }
    bucketed = similarity.cosine_topk(
        emb, emb, "vec_id", "embedding", k=1, bits=4
    ).collect()
    got = {r["query_id"]: r["neighbor_id"] for r in bucketed}
    hits = sum(1 for q, n in brute.items() if got.get(q) == n)
    assert hits / len(brute) > 0.10  # 1/16 = 0.0625 random baseline
    # exactness of the rerank: the returned cosine equals the brute
    # cosine for the same pair
    pair_cos = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.cosine_topk(emb, emb, "vec_id", "embedding", k=5).collect()
    }
    for r in bucketed:
        key = (r["query_id"], r["neighbor_id"])
        if key in pair_cos:
            assert abs(pair_cos[key] - r["cosine"]) < 1e-9


def test_cosine_topk_zero_vector_ranks_last(spark, tmp_path):
    """A zero-norm vector's cosine is NULL (0/0 raises DIVIDE_BY_ZERO
    under ANSI; the scorer uses try_divide) and ranks after every scored
    neighbor, brute force and bucketed alike (at bits=2 the zero vector
    shares bucket 0 with vectors 2, 3 and 5). Brute force equals the
    DuckDB oracle over the same frame, where 0/0 is NULL too."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tcga_query_project_spark.catalog import BENCH_ONLY, REGISTRY
    from tcga_query_project_spark.operators import similarity
    from tests.oracle_harness import compare

    vecs = {
        1: [0, 0, 0, 0],
        2: [-1, -2, 3, 1],
        3: [-2, -1, 1, 0],
        4: [1, 2, 0, 1],
        5: [-1, -1, -1, -1],
        6: [2, -1, 1, 1],
    }
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(vecs), pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in v] for v in vecs.values()],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        path,
    )
    emb = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") < 10)
    for bits in (0, 2):
        got = similarity.cosine_topk(
            q, emb, "vec_id", "embedding", k=5, bits=bits
        ).toPandas()
        null = got["cosine"].isna()
        assert null.any() and (~null).any(), bits
        for qid, g in got.groupby("query_id"):
            is_null = g["cosine"].isna()
            if is_null.any() and (~is_null).any():
                assert g.loc[~is_null, "rank"].max() < g.loc[is_null, "rank"].min(), (
                    bits,
                    qid,
                )
        if bits == 0:
            con = duckdb.connect()
            con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
            oracle = {**BENCH_ONLY, **REGISTRY}["ann_cosine_topk"].oracle
            want = con.execute(oracle).df()
            problems = compare(got, want)
            assert not problems, problems


def test_minhash_array_form_equals_exploded_form(spark):
    """The array-native minhash/jaccard dataflow (narrow-map signatures,
    array_intersect verify) must be value-identical to the exploded
    (doc, shingle)-row formulation the DuckDB oracle replays."""
    from decimal import ROUND_HALF_UP, Decimal

    from tcga_query_project_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh_arr = dedup.shingle_array(docs, "doc_id", "text", 3)
    sh_rows = sh_arr.select("doc_id", F.explode("shingles").alias("shingle"))

    sig_old = dedup.minhash_signature(sh_rows, "doc_id", 8)
    sig_new = dedup.minhash_signature_arrays(sh_arr, "doc_id", 8)
    old = {r["doc_id"]: tuple(r[f"_mh{i}"] for i in range(1, 9))
           for r in sig_old.collect()}
    new = {r["doc_id"]: tuple(r[f"_mh{i}"] for i in range(1, 9))
           for r in sig_new.collect()}
    assert old == new

    cand = dedup.lsh_candidates(sig_new, "doc_id", 2)
    sets = {r["doc_id"]: set(r["shingles"]) for r in sh_arr.collect()}

    def exact(a, b):  # |A∩B| / |A∪B|, rounded half-up to 6 places like F.round
        inter = len(sets[a] & sets[b])
        ratio = Decimal(inter) / Decimal(len(sets[a]) + len(sets[b]) - inter)
        return float(ratio.quantize(Decimal("1e-6"), ROUND_HALF_UP))

    jac_old = {(r["id_a"], r["id_b"]): exact(r["id_a"], r["id_b"]) for r in cand.collect()}
    jac_new = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup.jaccard_pairs_arrays(cand, sh_arr, "doc_id").collect()}
    assert jac_old == jac_new


def test_quantile_strata_matches_ntile_when_tie_free(spark):
    """The scale-path n-tile stratification (histogram-CDF boundaries +
    broadcast label, round-7 W1 bench form) agrees with ntile(n)'s
    tiles 1/n exactly on tie-free grid-aligned values — with and
    without partition columns, count divisible by n and not."""
    from tcga_query_project_spark.operators import survival as sv

    for n_rows in (40, 41, 43):
        rows = [
            (i, "g%d" % (i % 2), float((i * 7 % 97) * 4 + (i % 2)))
            for i in range(n_rows)
        ]
        df = spark.createDataFrame(rows, "id int, g string, v double")
        via_ntile = {
            (r["id"], r["stratum"])
            for r in sv.ntile_strata(
                df, "v", 4, ["g"], F.col("id").asc()
            ).collect()
        }
        via_quantile = {
            (r["id"], r["stratum"])
            for r in sv.quantile_strata(df, "v", 4, ["g"]).collect()
        }
        assert via_ntile == via_quantile, n_rows
    # explicit tie rule: boundary ties all LOW at t_low, MID at t_high
    tied = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(
            [1.0, 1.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0])],
        "id int, g string, v double",
    )
    # N=8, n=4: k_low=2 -> t_low=1.0 (cum 3>=2): ids 0,1,2 LOW;
    # k_high=6 -> t_high=4.0 (cum 6>=6): only v>4.0 HIGH (ids 6,7)
    labs = {r["id"]: r["stratum"]
            for r in sv.quantile_strata(tied, "v", 4, ["g"]).collect()}
    assert labs == {0: "LOW", 1: "LOW", 2: "LOW", 6: "HIGH", 7: "HIGH"}
    # NULL value -> LOW (ntile nulls-first agreement); all-null group
    # drops (no definable boundary)
    withnull = spark.createDataFrame(
        [(0, "g", None), (1, "g", 1.0), (2, "g", 2.0), (3, "g", 3.0),
         (4, "g", 4.0), (5, "h", None)],
        "id int, g string, v double",
    )
    out = {r["id"]: r["stratum"]
           for r in sv.quantile_strata(withnull, "v", 4, ["g"]).collect()}
    assert out[0] == "LOW" and 5 not in out


def test_hash_split_bucket_engine_parity_and_proportions(spark):
    """The train/val/test hash split must be bit-identical in DuckDB
    (same md5-prefix construction) and roughly proportional."""
    import duckdb

    from tcga_query_project_spark.functions.scalar import (
        HASH_SPLIT_BUCKET_SQL,
        hash_split_bucket,
        split_label,
    )

    df = spark.range(0, 2000).select(
        F.col("id"),
        hash_split_bucket(F.col("id")).alias("b"),
        split_label(F.col("id")).alias("s"),
    )
    rows = df.collect()
    sp = {r["id"]: r["b"] for r in rows}
    du = dict(
        duckdb.connect().execute(
            "SELECT id, "
            + HASH_SPLIT_BUCKET_SQL.format(key="id")
            + " AS b FROM range(0, 2000) t(id)"
        ).fetchall()
    )
    assert sp == du
    counts = {}
    for r in rows:
        counts[r["s"]] = counts.get(r["s"], 0) + 1
    assert 0.85 < counts["train"] / 2000 < 0.95
    assert counts["val"] + counts["test"] == 2000 - counts["train"]


def test_km_log_ci_hand_worked(spark):
    """95% log-transform CI (survfit conf.type='log' default):
    CI = S * exp(±1.96 * sqrt(cumulative Greenwood sum))."""
    rows = [(1.0, 1), (2.0, 1), (2.0, 0), (3.0, 1), (4.0, 0), (5.0, 1)]
    df = spark.createDataFrame(rows, "time double, status int").withColumn(
        "g", F.lit("all")
    )
    km = {
        r["time"]: r
        for r in survival.km_curve(df, "time", "status", ["g"]).collect()
    }
    z = 1.959963984540054
    # t=1: S=5/6, gw_sum = 1/(6*5) = 1/30
    s, gw = 5 / 6, 1 / 30
    assert abs(km[1.0]["ci_lower"] - s * math.exp(-z * math.sqrt(gw))) < 1e-12
    assert abs(km[1.0]["ci_upper"] - min(1.0, s * math.exp(z * math.sqrt(gw)))) < 1e-12
    # t=2: S=2/3, gw_sum = 1/30 + 1/(5*4) = 1/30 + 1/20
    s, gw = 2 / 3, 1 / 30 + 1 / 20
    assert abs(km[2.0]["ci_lower"] - s * math.exp(-z * math.sqrt(gw))) < 1e-12
    # curve at 0 → CI undefined
    assert km[5.0]["ci_lower"] is None and km[5.0]["ci_upper"] is None


def _brute_force_pairs(rows, threshold):
    """Reference all-pairs cosine in plain numpy (test-local oracle)."""
    import numpy as np

    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    nrm[nrm == 0] = 1.0
    unit = mat / nrm[:, None]
    cos = np.round(unit @ unit.T, 4)
    out = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and cos[i, j] >= threshold:
                out.add((ids[i], ids[j], cos[i, j]))
    return out


def _neardup_fixture():
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        rows.append((i, rng.normal(size=16).tolist()))
    # planted near-identical pairs (tiny perturbation)
    for i in range(60, 70):
        base = np.asarray(rows[i - 60][1])
        rows.append((i, (base + rng.normal(scale=0.01, size=16)).tolist()))
    rows.append((70, [0.0] * 16))  # zero vector: cosine 0 vs all
    rows.append((71, [0.0] * 16))  # two zero vectors: cosine 0 pair
    return rows


def test_embedding_near_dup_blocked_equals_brute_force(spark):
    from tcga_query_project_spark.operators import dedup

    rows = _neardup_fixture()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expect = _brute_force_pairs(rows, 0.8)
    assert len(expect) >= 10  # the planted pairs are in play
    for n_blocks in (1, 3, 8):
        got = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in dedup.embedding_near_dup(
                df, "vec_id", "embedding", 0.8, n_blocks=n_blocks
            ).collect()
        }
        assert got == expect, f"n_blocks={n_blocks}"


def test_embedding_near_dup_empty_partner_blocks_no_duplicates(spark):
    """Regression (round-8 embeddings fuzz): vectors sharing one hash
    block, with that block's off-diagonal partner cells all EMPTY,
    produced duplicate pairs — the all-'a' group was mistaken for a
    diagonal block and self-scored once per empty partner. Four
    identical vectors must yield exactly the 6 unordered pairs, at
    every block count."""
    from tcga_query_project_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, [-1.0]) for i in range(1, 5)],
        "vec_id long, embedding array<double>",
    )
    for n_blocks in (1, 8, 64):
        rows = dedup.embedding_near_dup(
            df, "vec_id", "embedding", 0.35, n_blocks=n_blocks
        ).collect()
        pairs = sorted((r["id_a"], r["id_b"]) for r in rows)
        assert pairs == [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)
        ], f"n_blocks={n_blocks}"


def test_embedding_near_dup_bucketed_subset_with_high_recall(spark):
    """The sign-LSH form at a pinned width (max_bits == 4, the floor): output
    is a subset of the exact all-pairs result with high recall of the
    planted pairs, each pair once."""
    from tcga_query_project_spark.operators import dedup

    rows = _neardup_fixture()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # high threshold: only the planted near-identical pairs qualify
    expect = _brute_force_pairs(rows, 0.95)
    assert len(expect) == 10
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup.embedding_near_dup_auto(
            df, "vec_id", "embedding", 0.95,
            n_tables=4, max_bits=4,
        ).collect()
    }
    # approximate: never a false positive, and the sign-stable planted
    # pairs give high recall at 4 tables x 4 bits
    assert got <= expect
    assert len(got) >= 8
    # pairs found in several tables appear once
    ids = [(a, b) for a, b, _ in got]
    assert len(ids) == len(set(ids))


def test_embedding_near_dup_auto_tunes_bits_and_stays_subset(spark):
    """The corpus-tuned sign-LSH form: a tuned-up width stays a subset
    of the exact all-pairs result and keeps high recall of the planted
    near-identical pairs."""
    from tcga_query_project_spark.operators import dedup

    rows = _neardup_fixture()  # 72 vectors, dim 16
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # high threshold: only the planted near-identical pairs qualify
    expect = _brute_force_pairs(rows, 0.95)
    assert len(expect) == 10
    # tuned-up width on the same corpus (force bits=8 via tiny target):
    # still a subset of exact, planted pairs still found (sign patterns
    # of near-identical vectors agree on almost every component)
    tuned = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup.embedding_near_dup_auto(
            df, "vec_id", "embedding", 0.95,
            n_tables=2, target_occupancy=1, max_bits=8,
        ).collect()
    }
    assert tuned <= expect
    assert len(tuned) >= 7  # 10 planted pairs, recall stays high


def test_embedding_near_dup_auto_zero_norm_vectors_yield_no_pairs(spark):
    """All-zero and dim-0 vectors share every sign bucket, so they reach
    the verify as candidates with a 0/0 cosine. Under ANSI a plain
    division raises DIVIDE_BY_ZERO; the verify must drop them instead,
    as the DuckDB oracle's NULL quotient does."""
    from tcga_query_project_spark.operators import dedup

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    for dim in (0, 8):
        df = spark.createDataFrame(
            [(i, [0.0] * dim) for i in range(1, 5)],
            "vec_id long, embedding array<double>",
        )
        rows = dedup.embedding_near_dup_auto(
            df, "vec_id", "embedding", 0.35
        ).collect()
        assert rows == [], f"dim={dim}"


def test_scd2_intervals_collapse_and_close(spark):
    """SCD2 from a change log: no-op changes collapse, intervals chain
    with valid_to = next valid_from, last version is open/current, and
    null<->value attribute transitions count as changes."""
    from tcga_query_project_spark.operators.temporal import scd2_intervals

    rows = [
        (1, 10, "gold", "eu"),
        (1, 20, "gold", "eu"),    # no-op -> collapses into v1
        (1, 30, "plat", "eu"),    # change
        (1, 40, "plat", None),    # region -> null IS a change
        (2, 15, "silver", "us"),  # single-version key stays open
    ]
    df = spark.createDataFrame(rows, "cust long, ts long, tier string, region string")
    out = scd2_intervals(df, "cust", "ts", ["tier", "region"])
    got = sorted(
        (r["cust"], r["valid_from"], r["valid_to"], r["is_current"], r["tier"], r["region"])
        for r in out.collect()
    )
    assert got == [
        (1, 10, 30, False, "gold", "eu"),
        (1, 30, 40, False, "plat", "eu"),
        (1, 40, None, True, "plat", None),
        (2, 15, None, True, "silver", "us"),
    ]
    # as-of lookup at t=35: key 1 resolves to the plat/eu version
    t = 35
    asof = out.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.lit(t) < F.col("valid_to")))
    )
    r = {x["cust"]: x["tier"] for x in asof.collect()}
    assert r[1] == "plat"


def test_tfidf_hand_worked(spark):
    """TF-IDF against hand-computed smoothed-idf values (sklearn
    convention tf*(ln((N+1)/(df+1))+1)) on a 3-doc corpus."""
    import math

    from tcga_query_project_spark.operators import text

    docs = [(1, "cat sat"), (2, "cat ran"), (3, "dog ran ran")]
    df = spark.createDataFrame(docs, "doc_id long, body string")
    out = {
        (r["doc_id"], r["term"]): r
        for r in text.tfidf(df, "doc_id", "body").collect()
    }
    # 'cat': df=2, N=3 -> idf = ln(4/3)+1; tf=1 in doc 1
    assert abs(out[(1, "cat")]["tfidf"] - (math.log(4 / 3) + 1)) < 1e-9
    # 'ran' in doc 3: tf=2, df=2 -> 2*(ln(4/3)+1)
    assert abs(out[(3, "ran")]["tfidf"] - 2 * (math.log(4 / 3) + 1)) < 1e-9
    # 'sat': df=1 -> idf = ln(2)+1
    assert abs(out[(1, "sat")]["tfidf"] - (math.log(2) + 1)) < 1e-9
    assert (2, "sat") not in out  # absent terms produce no rows


def test_unigram_perplexity_matches_numpy(spark):
    """Perplexity vs a direct numpy recompute on a corpus with
    duplicate texts, an empty doc and a NULL doc (both absent from the
    output), and the p=1 degenerate single-token-vocab subcase."""
    import math
    from collections import Counter

    from tcga_query_project_spark.operators import text

    docs = [
        (1, "a b a c"),
        (2, "a a"),
        (3, ""),
        (4, None),
        (5, "b c d"),
        (6, "a b a c"),  # exact duplicate of doc 1 -> identical ppl
    ]
    df = spark.createDataFrame(docs, "doc_id long, body string")
    out = {
        r["doc_id"]: r
        for r in text.unigram_perplexity(df, "doc_id", "body").collect()
    }
    toks = {i: b.split() for i, b in docs if b}
    corpus = Counter(t for ts in toks.values() for t in ts)
    total = sum(corpus.values())
    for i, ts in toks.items():
        avg = sum(-math.log(corpus[t] / total) for t in ts) / len(ts)
        assert out[i]["n_tokens"] == len(ts)
        assert out[i]["avg_neg_logp"] == round(avg, 6)
        assert out[i]["ppl"] == round(math.exp(round(avg, 6)), 4)
    assert 3 not in out and 4 not in out  # no tokens -> no score
    assert out[1]["ppl"] == out[6]["ppl"]  # duplicate text, same score
    # uniform corpus: every doc's ppl equals the vocabulary size
    uni = spark.createDataFrame(
        [(1, "x y"), (2, "y x")], "doc_id long, body string"
    )
    for r in text.unigram_perplexity(uni, "doc_id", "body").collect():
        assert r["ppl"] == 2.0


def test_bigram_backoff_matches_python(spark):
    """Stupid-Backoff score vs a direct python recompute: all three
    tiers exercised (seen bigram, unigram backoff, OOV floor), NULL /
    empty / single-token docs absent, duplicate texts score identically,
    and non-model docs score against the model slice only."""
    import math
    from collections import Counter

    from tcga_query_project_spark.operators import text

    docs = [
        (1, "a b a c", True),
        (2, "a a", True),
        (3, "", True),
        (4, None, False),
        (5, "b c d z", False),  # 'z' OOV; 'c d' unseen bigram
        (6, "a b a c", False),  # duplicate of model doc 1
        (7, "only", True),  # single token -> no transitions
    ]
    df = spark.createDataFrame(docs, "doc_id long, body string, is_m boolean")
    out = {
        r["doc_id"]: r
        for r in text.bigram_backoff_score(
            df, "doc_id", "body", "is_m"
        ).collect()
    }
    model = [b.split() for _, b, m in docs if m and b]
    uni = Counter(t for ts in model for t in ts)
    n_total = max(sum(uni.values()), 1)
    big = Counter(
        (ts[i], ts[i + 1]) for ts in model for i in range(len(ts) - 1)
    )

    def s(wp, w):
        if big[(wp, w)] > 0:
            return big[(wp, w)] / uni[wp]
        if uni[w] > 0:
            return 0.4 * uni[w] / n_total
        return 0.4 / n_total

    for i, b, _ in docs:
        ts = b.split() if b else []
        if len(ts) < 2:
            assert i not in out
            continue
        sc = [s(ts[k], ts[k + 1]) for k in range(len(ts) - 1)]
        avg = round(sum(-math.log(x) for x in sc) / len(sc), 6)
        assert out[i]["n_transitions"] == len(sc)
        assert out[i]["avg_neg_logs"] == avg
        assert out[i]["backoff_ppl"] == round(math.exp(avg), 4)
    assert out[1]["backoff_ppl"] == out[6]["backoff_ppl"]
    # in-model transitions are likelier than held-out word salad
    assert out[1]["avg_neg_logs"] < out[5]["avg_neg_logs"]
    # empty model slice: every transition scores the alpha floor
    nomodel = spark.createDataFrame(
        [(1, "x y z", False)], "doc_id long, body string, is_m boolean"
    )
    row = text.bigram_backoff_score(
        nomodel, "doc_id", "body", "is_m"
    ).collect()[0]
    assert row["avg_neg_logs"] == round(-math.log(0.4), 6)


def test_bm25_ranks_relevant_docs_first(spark):
    """BM25: a doc saturated with the query term outranks one mention,
    which outranks none; rare terms outweigh common ones; hand-worked
    score for the single-term case."""
    import math

    from tcga_query_project_spark.operators import text

    docs = [
        (1, "spark spark spark engine"),
        (2, "spark is a data engine"),
        (3, "pandas dataframe library"),
        (4, "the the the the the the the the"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, body string")
    ranked = text.bm25_scores(df, "doc_id", "body", ["spark"]).collect()
    ids = [r["doc_id"] for r in ranked]
    assert ids == [1, 2]  # non-matching docs absent; saturation ranks 1 first
    # hand-worked: N=4, df=2 -> idf = ln(1 + 2.5/2.5) = ln 2
    # doc 1: tf=3, len=4, avg_len = (4+5+3+8)/4 = 5
    k1, b = 1.2, 0.75
    norm = 3 + k1 * (1 - b + b * 4 / 5)
    expect = math.log(2.0) * 3 * (k1 + 1) / norm
    assert abs(ranked[0]["bm25"] - expect) < 1e-9
    # two-term query: matching both terms beats matching one
    both = text.bm25_scores(df, "doc_id", "body", ["spark", "engine"]).collect()
    assert [r["doc_id"] for r in both][:2] == [1, 2] or [r["doc_id"] for r in both][:2] == [2, 1]
    top = {r["doc_id"]: r["bm25"] for r in both}
    assert top[1] > 0 and top[2] > 0


def test_decontaminate_cross_corpus(spark):
    """Train/test decontamination: a training doc that near-duplicates
    an eval doc is caught with its exact Jaccard; clean docs produce no
    pairs; the reference side never pairs with itself."""
    from tcga_query_project_spark.operators import dedup

    train = [
        (1, "the quick brown fox jumps over the lazy dog in the park"),
        (2, "a completely unrelated training document about spark engines"),
        (3, "short doc"),  # < k tokens -> never a candidate
    ]
    evals = [
        (100, "the quick brown fox jumps over the lazy dog in the park today"),
        (101, "benchmark questions about astronomy and planetary orbits"),
    ]
    corpus = spark.createDataFrame(train, "doc_id long, text string")
    reference = spark.createDataFrame(evals, "doc_id long, text string")
    out = dedup.decontaminate(corpus, reference, "doc_id", "text").collect()
    pairs = {(r["corpus_id"], r["reference_id"]): r["jaccard"] for r in out}
    assert (1, 100) in pairs          # near-dup across corpora caught
    # hand-check the exact jaccard: shingle sets of the two texts
    ta = "the quick brown fox jumps over the lazy dog in the park".split()
    tb = "the quick brown fox jumps over the lazy dog in the park today".split()
    sa = {" ".join(ta[i:i+3]) for i in range(len(ta) - 2)}
    sb = {" ".join(tb[i:i+3]) for i in range(len(tb) - 2)}
    expect = len(sa & sb) / len(sa | sb)
    assert abs(pairs[(1, 100)] - round(expect, 6)) < 1e-9
    assert all(cid == 1 for cid, _ in pairs)  # 2 and 3 are clean
    # cleaning: anti-join drops exactly the contaminated rows
    contaminated = spark.createDataFrame(
        [(r["corpus_id"],) for r in out], "doc_id long"
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]


def test_repetition_metrics_golden(spark):
    """Hand-worked Gopher rules, incl. the line-duplication family the
    synthetic corpus (no newlines) never exercises."""
    from tcga_query_project_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            # doc 1: "a b a b a" -> tokens 5, types 2; 2-grams:
            # [a b, b a, a b, b a] -> every occurrence duplicated
            (1, "a b a b a"),
            # doc 2: three lines, two identical
            (2, "hello world\nhello world\nsomething else entirely"),
            # doc 3: one token -> no 2-grams at all; ratios zero
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in t.repetition_metrics(docs, "doc_id", "text").collect()
    }
    d1 = rows[1]
    assert d1["dup_word_frac"] == round(1 - 2 / 5, 6)
    assert d1["dup2gram_frac"] == 1.0  # all four 2-gram occurrences repeat
    # top 2-gram "a b" (len 2 no-space) occurs 2x; total chars = 5
    assert d1["top2gram_char_frac"] == round(2 * 2 / 5, 6)
    assert d1["passes_gopher"] is False  # top2 frac 0.8 > 0.2

    d2 = rows[2]
    # lines: [hello world x2, something else entirely x1]
    assert d2["dup_line_frac"] == round(2 / 3, 6)
    # non-space chars: dup lines 2*10; total 2*10 + 21
    assert d2["dup_line_char_frac"] == round(20 / 41, 6)
    assert d2["passes_gopher"] is False  # dup_line_frac 0.67 > 0.3

    d3 = rows[3]
    assert d3["dup_word_frac"] == 0.0
    assert d3["dup2gram_frac"] == 0.0 and d3["top2gram_char_frac"] == 0.0
    assert d3["dup_line_frac"] == 0.0
    assert d3["passes_gopher"] is True


def test_pii_scrub_crafted(spark):
    from tcga_query_project_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk or admin@host.io thanks"),
            (2, "ssn 123-45-6789 phone +1 (555) 123-4567 ip 10.0.255.1"),
            (3, "no pii here, just 3.14 and v1.2.3 and a-b-c"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in t.pii_scrub(docs, "doc_id", "text").collect()}
    assert rows[1]["n_email"] == 2 and rows[1]["n_ssn"] == 0
    assert rows[1]["scrubbed"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert (
        rows[2]["n_ssn"],
        rows[2]["n_phone"],
        rows[2]["n_ipv4"],
        rows[2]["n_email"],
    ) == (1, 1, 1, 0)
    assert rows[2]["scrubbed"] == "ssn <SSN> phone <PHONE> ip <IP>"
    assert (
        rows[3]["n_email"],
        rows[3]["n_ssn"],
        rows[3]["n_ipv4"],
        rows[3]["n_phone"],
    ) == (0, 0, 0, 0)
    assert rows[3]["scrubbed"] == "no pii here, just 3.14 and v1.2.3 and a-b-c"


def test_pii_scrub_oracle_agrees_on_crafted_docs(spark, tmp_path):
    """The synthetic corpus has no PII, so the driver-style parity only
    pins the no-hit path; this re-runs the SAME oracle SQL over crafted
    docs WITH hits to prove the regex strings behave identically under
    Java regex and RE2."""
    import duckdb
    import pandas as pd

    from tcga_query_project_spark.catalog import BENCH_ONLY, REGISTRY
    from tcga_query_project_spark.operators import text as t

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "contact a@b.io and c.d@e-f.org now",
                "123-45-6789 then +44 (020) 555-01234 and 1.2.3.4",
                "plain text only",
            ],
        }
    )
    docs = spark.createDataFrame(pdf)
    spark_out = (
        t.pii_scrub(docs, "doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = (
        con.execute({**BENCH_ONLY, **REGISTRY}["tx_pii_scrub"].oracle)
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    for col in spark_out.columns:
        assert list(spark_out[col]) == list(oracle[col]), col


def test_chunk_documents_golden(spark):
    from tcga_query_project_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
            (2, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = t.chunk_documents(docs, "doc_id", "text", max_tokens=8, stride=4)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk"])
         for r in out.collect())
    )
    # last chunk index = ceil((10-8)/4) = 1: the t5-t10 window reaches
    # the end of the doc, so no fully-contained t9-t10 window is emitted
    assert rows == [
        (1, 0, 8, "t1 t2 t3 t4 t5 t6 t7 t8"),
        (1, 1, 6, "t5 t6 t7 t8 t9 t10"),
        (2, 0, 2, "short doc"),
    ]
    # no-overlap default: disjoint cover
    out2 = t.chunk_documents(docs, "doc_id", "text", max_tokens=4)
    chunks = [r["chunk"] for r in out2.filter(F.col("doc_id") == 1)
              .orderBy("chunk_idx").collect()]
    assert chunks == ["t1 t2 t3 t4", "t5 t6 t7 t8", "t9 t10"]


def test_build_vocab_and_encode(spark):
    from tcga_query_project_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana apple banana durian"),
        ],
        "doc_id long, text string",
    )
    vocab = t.build_vocab(docs, "text")
    rows = [(r["token"], r["freq"], r["vocab_id"]) for r in
            vocab.orderBy("vocab_id").collect()]
    # apple 3, banana 3 (tie -> alpha), cherry/durian freq 1 dropped
    assert rows == [("apple", 3, 0), ("banana", 3, 1)]


def test_asof_join_directions(spark):
    from tcga_query_project_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 14, "b"), (2, 7, "c"), (3, 5, "d")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 8, 80.0), (1, 12, 120.0), (1, 20, 200.0), (2, 7, 7.0)],
        "k int, ts int, v double",
    )

    def run(direction):
        return {
            r["tag"]: (r["asof_ts"], r["asof_v"])
            for r in temporal.asof_join(
                left, right, "k", "ts", "ts", ["v"], direction=direction
            ).collect()
        }

    fwd = run("forward")
    # a(ts=10): earliest right >= 10 is 12; b(14)->20; c: tie at 7
    # counts; d: no right for key 3
    assert fwd["a"] == (12, 120.0)
    assert fwd["b"] == (20, 200.0)
    assert fwd["c"] == (7, 7.0)
    assert fwd["d"] == (None, None)

    near = run("nearest")
    # a(10): back 8 (d=2) vs fwd 12 (d=2) -> tie goes backward
    assert near["a"] == (8, 80.0)
    # b(14): back 12 (d=2) vs fwd 20 (d=6) -> backward
    assert near["b"] == (12, 120.0)
    assert near["c"] == (7, 7.0)
    assert near["d"] == (None, None)

    back = run("backward")
    assert back["a"] == (8, 80.0) and back["b"] == (12, 120.0)
    assert back["d"] == (None, None)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        run("sideways")

    # one exchange regardless of direction (nearest shares the hash(k)
    # exchange between its two orderings)
    from tcga_query_project_spark.plans import inspect as plans

    for d in ("backward", "forward", "nearest"):
        df = temporal.asof_join(
            left, right, "k", "ts", "ts", ["v"], direction=d
        )
        assert plans.count_exchanges(df) <= 1, d


def test_asof_join_directions_random_vs_reference(spark):
    import random

    from tcga_query_project_spark.operators import temporal

    rng = random.Random(17)
    lrows = [
        (rng.randrange(4), rng.randrange(100), i) for i in range(120)
    ]
    # unique (k, ts) on the right (documented tie contract)
    rr = {(rng.randrange(4), rng.randrange(100)) for _ in range(80)}
    rrows = [(k, ts, float(k * 1000 + ts)) for k, ts in sorted(rr)]
    left = spark.createDataFrame(lrows, "k int, ts int, lid int")
    right = spark.createDataFrame(rrows, "k int, ts int, v double")

    def ref(direction):
        out = {}
        for k, ts, lid in lrows:
            cands = [(rts, v) for rk, rts, v in rrows if rk == k]
            back = max(
                ((rts, v) for rts, v in cands if rts <= ts), default=None
            )
            fwd = min(
                ((rts, v) for rts, v in cands if rts >= ts), default=None
            )
            if direction == "backward":
                out[lid] = back
            elif direction == "forward":
                out[lid] = fwd
            else:
                if back is None:
                    out[lid] = fwd
                elif fwd is None:
                    out[lid] = back
                else:
                    out[lid] = back if ts - back[0] <= fwd[0] - ts else fwd
        return out

    for d in ("backward", "forward", "nearest"):
        got = {
            r["lid"]: (
                None
                if r["asof_ts"] is None
                else (r["asof_ts"], r["asof_v"])
            )
            for r in temporal.asof_join(
                left, right, "k", "ts", "ts", ["v"], direction=d
            ).collect()
        }
        assert got == ref(d), d


def test_range_join_matches_brute_force(spark):
    import random

    from tcga_query_project_spark.operators import temporal
    from tcga_query_project_spark.plans import inspect as plans

    rng = random.Random(23)
    pts = [(i, rng.randrange(3), rng.randrange(0, 1000)) for i in range(150)]
    ivs = []
    for j in range(40):
        s = rng.randrange(0, 950)
        ivs.append((j, rng.randrange(3), s, s + rng.randrange(0, 120), float(j)))
    points = spark.createDataFrame(pts, "pid int, k int, ts long")
    intervals = spark.createDataFrame(
        ivs, "iid int, k int, s long, e long, v double"
    )
    for width in (7, 64, 1000):
        out = temporal.range_join(
            points, intervals, "k", "ts", "s", "e", ["iid", "v"],
            bucket_width=width,
        )
        got = sorted(
            (r["pid"], r["r_iid"]) for r in out.collect()
        )
        want = sorted(
            (pid, iid)
            for pid, pk, ts in pts
            for iid, ik, s, e, _ in ivs
            if pk == ik and s <= ts <= e
        )
        assert got == want, width
    # equi-join plan: no BroadcastNestedLoop/cartesian
    assert not plans.scale_lint(out)


def test_range_join_empty_and_degenerate_intervals(spark):
    from tcga_query_project_spark.operators import temporal

    points = spark.createDataFrame([(1, 1, 50)], "pid int, k int, ts long")
    intervals = spark.createDataFrame(
        [(1, 1, 50, 50, 1.0), (2, 1, 60, 40, 2.0)],
        "iid int, k int, s long, e long, v double",
    )
    out = temporal.range_join(
        points, intervals, "k", "ts", "s", "e", ["iid"], bucket_width=10
    ).collect()
    # zero-length interval containing the point matches; inverted
    # (start > end) interval is filtered, not an ANSI sequence error
    assert [(r["pid"], r["r_iid"]) for r in out] == [(1, 1)]


def test_sessionize_golden_and_agrees_with_session_window(spark):
    from tcga_query_project_spark.operators import temporal

    rows = [
        ("u1", 0), ("u1", 10), ("u1", 25),   # gaps 10, 15 < 30 -> one sess
        ("u1", 55),                           # gap exactly 30 -> MERGES
        ("u1", 150),                          # gap 95 > 30 -> new session
        ("u2", 5),
    ]
    ev = spark.createDataFrame(rows, "user string, ts long")
    out = temporal.sessionize(ev, "user", "ts", F.lit(30.0))
    got = {(r["user"], r["ts"]): r["session_id"] for r in out.collect()}
    assert (
        got[("u1", 0)] == got[("u1", 10)] == got[("u1", 25)]
        == got[("u1", 55)] == 0.0
    )
    assert got[("u1", 150)] == 150.0
    assert got[("u2", 5)] == 5.0

    # row labels must partition events exactly like the session_window
    # aggregate: same number of sessions per key, same member counts
    tsev = ev.select(
        "user", F.timestamp_seconds(F.col("ts")).alias("ts")
    )
    agg = (
        tsev.groupBy("user", F.session_window("ts", "30 seconds"))
        .count()
        .collect()
    )
    from collections import Counter

    agg_sizes = Counter((r["user"], r["count"]) for r in agg)
    lbl = (
        out.groupBy("user", "session_id").count().collect()
    )
    lbl_sizes = Counter((r["user"], r["count"]) for r in lbl)
    assert agg_sizes == lbl_sizes


def test_asof_nearest_tie_is_exact_on_timestamps(spark):
    """Equidistant-in-microseconds tie must go backward: the distance
    arithmetic runs in integer micros, not epoch-seconds doubles
    (whose ~0.24us FP granularity flips ties at current epochs)."""
    from tcga_query_project_spark.operators import temporal

    base = 1_700_000_000_000_000  # epoch micros, year-2023 scale
    left = spark.createDataFrame(
        [(1, base + i * 7) for i in range(200)], "k int, us long"
    ).select("k", F.timestamp_micros(F.col("us")).alias("ts"), "us")
    right = spark.createDataFrame(
        [(1, base + i * 7 - 1, 0.0) for i in range(200)]
        + [(1, base + i * 7 + 1, 1.0) for i in range(200)],
        "k int, us long, v double",
    ).select("k", F.timestamp_micros(F.col("us")).alias("ts"), "v")
    out = temporal.asof_join(
        left, right, "k", "ts", "ts", ["v"], direction="nearest"
    )
    vals = [r["asof_v"] for r in out.collect()]
    assert len(vals) == 200
    assert all(v == 0.0 for v in vals), vals[:10]


def test_range_join_rejects_reserved_name_collisions(spark):
    from tcga_query_project_spark.operators import temporal

    points = spark.createDataFrame(
        [(1, 1, 5, 0)], "pid int, k int, ts long, _bin long"
    )
    intervals = spark.createDataFrame(
        [(1, 1, 0, 10, 1.0)], "iid int, k int, s long, e long, v double"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="_bin"):
        temporal.range_join(
            points, intervals, "k", "ts", "s", "e", ["v"]
        )


def test_heavy_hitters_exact_topk_partitioning_invariant(spark):
    from tcga_query_project_spark.operators import sketches

    rows = (
        [("alpha",)] * 500 + [("beta",)] * 300 + [("gamma",)] * 100
        + [(f"tail{i}",) for i in range(2000)]
    )
    df = spark.createDataFrame(rows, "k string")
    expect = [("alpha", 500), ("beta", 300), ("gamma", 100)]
    for parts in (1, 13):
        got = [
            (r["k"], r["freq"])
            for r in sketches.heavy_hitters(
                df.repartition(parts), "k", k=3, capacity=64
            ).collect()
        ]
        assert got == expect, parts


def test_heavy_hitters_matches_full_aggregation_on_zipf(spark):
    import random

    from tcga_query_project_spark.operators import sketches

    rng = random.Random(5)
    # zipf-ish: key i appears ~ 3000/(i+1) times
    rows = [(f"w{i}",) for i in range(60) for _ in range(3000 // (i + 1))]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k string")
    exact = (
        df.groupBy("k").count()
        .orderBy(F.col("count").desc(), F.col("k").asc())
        .limit(10)
        .collect()
    )
    got = sketches.heavy_hitters(df, "k", k=10, capacity=256).collect()
    assert [(r["k"], r["freq"]) for r in got] == [
        (r["k"], r["count"]) for r in exact
    ]


def test_dedup_index_build_query_append(spark, tmp_path):
    """Incremental dedup: history is hashed once into a persisted
    index; deltas dedup against it by band join + signature agreement."""
    from tcga_query_project_spark.operators import dedup

    a = (
        "the quick brown fox jumps over the lazy dog while the careful "
        "reader studies long prose about distributed systems design"
    )
    b = (
        "entirely different content describing benchmark suites and "
        "storage engines with columnar layouts and vectorized readers"
    )
    novel = (
        "a third completely unrelated document text regarding cooking "
        "recipes for sourdough bread and slow fermentation schedules"
    )
    idx = str(tmp_path / "dedup_index")
    corpus = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    dedup.build_dedup_index(corpus, "doc_id", "text", idx)

    delta = spark.createDataFrame(
        [(100, a), (101, novel)], "doc_id long, text string"
    )
    hits = dedup.dedup_against_index(delta, "doc_id", "text", idx).collect()
    got = {(r["doc_id"], r["matched_id"]): r["est_jaccard"] for r in hits}
    assert (100, 1) in got and got[(100, 1)] == 1.0  # exact copy of A
    assert all(i != 101 for i, _ in got)             # novel doc clean


def test_apply_cdc_merge_semantics(spark):
    """Upsert/delete/untouched/insert + latest-wins ordering +
    idempotent replay."""
    from tcga_query_project_spark.operators.temporal import apply_cdc

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double",
    )
    chg = spark.createDataFrame(
        [
            (2, "b2", 21.0, 5, "U"),   # update key 2
            (2, "bX", 22.0, 3, "U"),   # older update — must lose
            (3, None, 0.0, 4, "D"),    # delete key 3
            (4, "d", 40.0, 6, "I"),    # insert new key 4
        ],
        "id long, name string, v double, ts long, op string",
    )
    out = apply_cdc(snap, chg, "id", "ts", "op")
    got = {r["id"]: (r["name"], r["v"]) for r in out.collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 4: ("d", 40.0)}
    assert sorted(out.columns) == sorted(snap.columns)
    # idempotent: applying the same log to the result changes nothing
    again = apply_cdc(out, chg, "id", "ts", "op")
    assert {r["id"]: (r["name"], r["v"]) for r in again.collect()} == got
    # delete-then-reinsert within one log: latest wins
    chg2 = spark.createDataFrame(
        [(1, None, 0.0, 1, "D"), (1, "a2", 11.0, 2, "I")],
        "id long, name string, v double, ts long, op string",
    )
    out2 = apply_cdc(snap, chg2, "id", "ts", "op")
    got2 = {r["id"]: (r["name"], r["v"]) for r in out2.collect()}
    assert got2[1] == ("a2", 11.0)


def test_apply_cdc_tiebreak_and_null_op(spark):
    """A sort-order tiebreak (the scd2_intervals convention) must be
    usable as-is, and a NULL/unknown op on the latest entry must
    upsert, never silently delete."""
    from tcga_query_project_spark.operators.temporal import apply_cdc

    snap = spark.createDataFrame(
        [(7, "x", 1.0)], "id long, name string, v double"
    )
    chg = spark.createDataFrame(
        [
            (7, "first", 2.0, 1, 0, "U"),
            (7, "second", 3.0, 1, 1, "U"),  # same ts; seq breaks tie
            (8, "ghost", 9.0, 2, 0, None),  # malformed op -> upsert
        ],
        "id long, name string, v double, ts long, seq long, op string",
    )
    out = apply_cdc(
        snap, chg, "id", "ts", "op", tiebreak=F.col("seq").desc()
    )
    got = {r["id"]: (r["name"], r["v"]) for r in out.collect()}
    assert got[7] == ("second", 3.0)   # highest seq wins the tie
    assert got[8] == ("ghost", 9.0)    # NULL op did not delete


def test_diff_snapshots(spark):
    from tcga_query_project_spark.operators.temporal import diff_snapshots

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "id long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged -> absent from the diff
         (2, "b2", 20.0),       # name changed
         (3, "c", 30.0),        # NULL -> value IS a change
         (5, "e", 50.0)],       # added; 4 removed
        "id long, name string, v double",
    )
    got = {
        r["id"]: (r["change"], sorted(r["changed_cols"]))
        for r in diff_snapshots(old, new, "id").collect()
    }
    assert got == {
        2: ("changed", ["name"]),
        3: ("changed", ["v"]),
        4: ("removed", []),
        5: ("added", []),
    }
    # recovered log round-trips through apply_cdc: old + diff-as-log == new
    from tcga_query_project_spark.operators.temporal import apply_cdc
    from pyspark.sql import functions as F

    log = (
        diff_snapshots(old, new, "id")
        .join(new, "id", "left")
        .select(
            "id", "name", "v",
            F.lit(1).alias("ts"),
            F.when(F.col("change") == "removed", "D").otherwise("U").alias("op"),
        )
    )
    merged = apply_cdc(old, log, "id", "ts", "op")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, new.collect()))


def test_diff_snapshots_null_keys_and_map_columns(spark):
    """A NULL-keyed row diffs against its counterpart (removed when
    absent from new — not a phantom 'added'), and map-typed columns
    compare by content without crashing eqNullSafe."""
    from tcga_query_project_spark.operators.temporal import diff_snapshots

    old = spark.createDataFrame(
        [(None, "gone"), (1, "a")], "id long, name string"
    )
    new = spark.createDataFrame([(1, "a")], "id long, name string")
    got = [(r["id"], r["change"]) for r in diff_snapshots(old, new, "id").collect()]
    assert got == [(None, "removed")]

    oldm = spark.createDataFrame(
        [(1, {"a": 1, "b": 2}), (2, {"x": 9})],
        "id long, m map<string,int>",
    )
    newm = spark.createDataFrame(
        [(1, {"b": 2, "a": 1}), (2, {"x": 10})],  # 1 same content, 2 changed
        "id long, m map<string,int>",
    )
    gotm = {
        r["id"]: (r["change"], list(r["changed_cols"]))
        for r in diff_snapshots(oldm, newm, "id").collect()
    }
    assert gotm == {2: ("changed", ["m"])}


def test_remove_boilerplate_lines(spark):
    """A line repeated across >= min_docs distinct documents vanishes
    from all of them; unique lines, blank lines, and within-document
    repetition survive; line order is preserved."""
    from tcga_query_project_spark.operators.text import (
        remove_boilerplate_lines,
    )

    banner = "ACCEPT COOKIES TO CONTINUE"
    footer = "(c) example corp all rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nunique first article text\n\n{footer}"),
            (2, f"{banner}\nsecond doc body line\nsecond doc body line\n{footer}"),
            (3, f"{banner}\nthird page content here\n{footer}"),
            (4, "a standalone document\nwith only unique lines"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in remove_boilerplate_lines(
            docs, "doc_id", "text", min_docs=3
        ).collect()
    }
    assert out[1] == ("unique first article text\n", 2)  # blank kept
    # within-doc repetition of a NON-boilerplate line survives
    assert out[2] == ("second doc body line\nsecond doc body line", 2)
    assert out[3] == ("third page content here", 2)
    assert out[4] == ("a standalone document\nwith only unique lines", 0)
    # threshold: at min_docs=5 nothing qualifies
    untouched = {
        r["doc_id"]: r["n_removed"]
        for r in remove_boilerplate_lines(
            docs, "doc_id", "text", min_docs=5
        ).collect()
    }
    assert all(v == 0 for v in untouched.values())


def test_remove_boilerplate_preserves_null_text_rows(spark):
    """A NULL-text document must pass through (as empty text), not
    silently vanish — the cleaning stage is row-count-preserving."""
    from tcga_query_project_spark.operators.text import (
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [(1, "some text"), (2, None), (3, "other text")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in remove_boilerplate_lines(
            docs, "doc_id", "text", min_docs=2
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[2] == ("", 0)


def test_remove_repeated_spans_cross_and_within_doc(spark):
    """Lee et al. ExactSubstr semantics (token-k-gram form): a span of
    >= k tokens shared by two documents survives only in the first
    (by id); a within-document repeat keeps only its first occurrence;
    short docs and unique text pass through untouched; NULL text rows
    survive as ''."""
    from tcga_query_project_spark.operators.text import (
        remove_repeated_spans,
    )

    span = "alpha bravo charlie delta echo"  # 5 tokens, k=5
    docs = spark.createDataFrame(
        [
            (1, f"intro words {span} closing remark"),
            (2, f"other page begins {span} and then diverges fully"),
            (3, f"double trouble {span} middle part {span} tail bit"),
            (4, "totally unique text with no duplicated spans at all"),
            (5, "tiny doc"),
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"], r["n_grams_cut"])
        for r in remove_repeated_spans(docs, "doc_id", "text", k=5).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6}
    # doc 1 holds the canonical (first) copy -> untouched
    assert out[1] == (f"intro words {span} closing remark", 0, 0)
    # docs 2 and 3 lose every copy of the span
    assert out[2] == ("other page begins and then diverges fully", 5, 1)
    assert out[3] == ("double trouble middle part tail bit", 10, 2)
    assert out[4][1] == 0 and out[4][2] == 0
    assert out[5] == ("tiny doc", 0, 0)
    assert out[6] == ("", 0, 0)


def test_remove_repeated_spans_long_span_fully_recovered(spark):
    """A repeated span LONGER than k is removed in full from the
    non-canonical copy (overlapping duplicated k-grams union into the
    maximal span), without nibbling the unique context around it."""
    from tcga_query_project_spark.operators.text import (
        remove_repeated_spans,
    )

    long_span = " ".join(f"w{i}" for i in range(12))  # 12 tokens, k=4
    docs = spark.createDataFrame(
        [
            (1, f"first document context {long_span} finale one"),
            (2, f"second unrelated opening {long_span} closing two"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in remove_repeated_spans(docs, "doc_id", "text", k=4).collect()
    }
    assert out[1] == (f"first document context {long_span} finale one", 0)
    assert out[2] == ("second unrelated opening closing two", 12)


def cap_reference(rows, n_strata, cap, salt):
    """The window-form keep-set in plain Python: per stratum (the first
    ``n_strata`` fields after the id, NULL a stratum like any value),
    the ``cap`` rows smallest in (md5_prefix_long(salt || id), id)."""
    import hashlib

    def h(i):
        return int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:8], 16)

    strata = {}
    for row in rows:
        strata.setdefault(tuple(row[1 : 1 + n_strata]), []).append(row)
    return [
        row
        for members in strata.values()
        for row in sorted(members, key=lambda r: (h(r[0]), r[0]))[:cap]
    ]


def test_stratified_cap_scaled_matches_simple_form(spark):
    """stratified_cap_scaled must produce the IDENTICAL keep-set to the
    window-only form under the shared portable md5 order — across a
    skewed stratum mix (over-cap, exactly-cap, under-cap), under any
    input partitioning, and on BOTH sides of the threshold machinery:
    generous slack (prefilter path) and zero slack/margin (forces the
    deficiency fallback, including the zero-survivor branch)."""
    from tcga_query_project_spark.operators.partitioning import (
        stratified_cap_scaled,
    )

    rows = (
        [(i, "hot") for i in range(400)]
        + [(1000 + i, "warm") for i in range(50)]
        + [(2000 + i, "cold") for i in range(7)]
    )
    df = spark.createDataFrame(rows, "id long, k string")

    def keep(res):
        return sorted((r["k"], r["id"]) for r in res.collect())

    expected = sorted((k, i) for i, k in cap_reference(rows, 1, 50, "s1"))
    # sanity: hot capped, warm exactly at cap, cold untouched
    by_k = {}
    for k, i in expected:
        by_k[k] = by_k.get(k, 0) + 1
    assert by_k == {"hot": 50, "warm": 50, "cold": 7}

    scaled = stratified_cap_scaled(df, ["k"], cap=50, tiebreak="id", salt="s1")
    assert keep(scaled) == expected

    # zero slack/margin: thr collapses to 1, every over-cap stratum is
    # deficient (zero-or-near-zero survivors) -> full-stratum fallback
    forced = stratified_cap_scaled(
        df, ["k"], cap=50, tiebreak="id", salt="s1", slack=0.0, margin=0
    )
    assert keep(forced) == expected

    # layout-independence
    repart = stratified_cap_scaled(
        df.repartition(7), ["k"], cap=50, tiebreak="id", salt="s1"
    )
    assert keep(repart) == expected


def test_stratified_cap_scaled_keeps_null_strata(spark):
    """Regression: NULL is a legitimate stratum. The window form (and
    the SQL oracle's PARTITION BY) group NULL strata like any other
    value, so the scaled form's internal joins must be null-safe —
    a plain multi-column equi-join would silently drop every
    NULL-stratum row. Covers both the over-cap path (NULL stratum is
    the hot one) and the pass-through path (NULL stratum under cap)."""
    from tcga_query_project_spark.operators.partitioning import (
        stratified_cap_scaled,
    )

    def keep(res):
        return sorted(
            ((r["k"] is None, r["k"] or ""), r["id"]) for r in res.collect()
        )

    def ref(rows, cap):
        return sorted(
            ((k is None, k or ""), i) for i, k in cap_reference(rows, 1, cap, "nz")
        )

    # NULL stratum over cap, named stratum under cap
    rows = [(i, None) for i in range(300)] + [(1000 + i, "en") for i in range(9)]
    df = spark.createDataFrame(rows, "id long, k string")
    expected = ref(rows, 40)
    by_k = {}
    for k, _ in expected:
        by_k[k] = by_k.get(k, 0) + 1
    assert by_k == {(True, ""): 40, (False, "en"): 9}
    assert keep(
        stratified_cap_scaled(df, ["k"], cap=40, tiebreak="id", salt="nz")
    ) == expected
    # deficiency fallback path with a NULL stratum
    assert keep(
        stratified_cap_scaled(
            df, ["k"], cap=40, tiebreak="id", salt="nz", slack=0.0, margin=0
        )
    ) == expected

    # NULL stratum under cap (pass-through branch), named over cap
    rows2 = [(i, "en") for i in range(300)] + [(1000 + i, None) for i in range(9)]
    df2 = spark.createDataFrame(rows2, "id long, k string")
    expected2 = ref(rows2, 40)
    assert keep(
        stratified_cap_scaled(df2, ["k"], cap=40, tiebreak="id", salt="nz")
    ) == expected2

    # multi-column strata with NULL in one component
    rows3 = [(i, None, "web") for i in range(120)] + [
        (500 + i, "en", None) for i in range(120)
    ]
    df3 = spark.createDataFrame(rows3, "id long, k string, src string")

    def keep2(res):
        return sorted(
            (r["k"] or "", r["src"] or "", r["id"]) for r in res.collect()
        )

    expected3 = sorted(
        (k or "", src or "", i) for i, k, src in cap_reference(rows3, 2, 30, "nz")
    )
    assert keep2(
        stratified_cap_scaled(df3, ["k", "src"], cap=30, tiebreak="id", salt="nz")
    ) == expected3


# =====================================================================
# robust_outliers (median/MAD modified z)
# =====================================================================


def test_robust_outliers_hand_worked(spark):
    """Group g: values 1..9 plus a planted 1000. median of the 10
    values = 5.5; |x - 5.5| = [4.5,3.5,...,0.5,0.5,...,994.5], MAD =
    median = 2.5; z(1000) = 994.5/(1.4826*2.5) = 268.312424 -> outlier;
    z(9) = 3.5/3.7065 = 0.944287 -> not."""
    rows = [("g", float(v)) for v in range(1, 10)] + [("g", 1000.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = {
        r["value"]: r
        for r in stats.robust_outliers(df, ["grp"], "value").collect()
    }
    assert out[1000.0]["robust_z"] == 268.312424
    assert bool(out[1000.0]["is_outlier"]) is True
    assert out[9.0]["robust_z"] == 0.944287
    assert bool(out[9.0]["is_outlier"]) is False


def test_robust_outliers_outlier_cannot_mask_itself(spark):
    """The property that motivates median/MAD over mean/stddev: one
    extreme value inflates stddev enough to keep its OWN classic z
    under 3.5 (max sample z in a batch of n is (n-1)/sqrt(n): 3.18 at
    n=12), while the robust z still fires."""
    rows = [("g", float(v % 7)) for v in range(11)] + [("g", 1e6)]
    df = spark.createDataFrame(rows, "grp string, value double")
    scored = stats.robust_outliers(df, ["grp"], "value")
    big = scored.filter(F.col("value") == 1e6).first()
    assert bool(big["is_outlier"]) is True
    classic = df.groupBy("grp").agg(
        F.avg("value").alias("mu"), F.stddev("value").alias("sd")
    )
    z = (
        df.join(classic, "grp")
        .select(((F.col("value") - F.col("mu")) / F.col("sd")).alias("z"))
        .agg(F.max(F.abs(F.col("z"))))
        .first()[0]
    )
    assert z < 3.5  # classic z never fires on this batch


def test_robust_outliers_degenerate_and_null_groups(spark):
    # constant group -> MAD 0 -> z NULL, not outlier; NULL values safe
    rows = [("c", 7.0)] * 5 + [("c", None), ("n", 1.0), ("n", 2.0), ("n", 3.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = stats.robust_outliers(df, ["grp"], "value").collect()
    cs = [r for r in got if r["grp"] == "c"]
    assert all(r["robust_z"] is None for r in cs)
    assert all(bool(r["is_outlier"]) is False for r in cs)
    ns = {r["value"]: r for r in got if r["grp"] == "n"}
    assert ns[2.0]["robust_z"] == 0.0


# =====================================================================
# bootstrap_ci (Poisson bootstrap)
# =====================================================================


def test_bootstrap_weights_are_poisson1(spark):
    """The hash-drawn weights must actually BE Poisson(1): mean 1,
    P(0) ~ e^-1, within sampling tolerance on 40k draws."""
    df = spark.range(40000).select(
        F.substring(F.md5(F.concat(F.lit("t"), F.col("id").cast("string"))), 1, 8).alias("s")
    )
    w = F.expr(stats.poisson1_weight_hex_sql("s"))
    row = df.select(w.alias("w")).agg(
        F.avg("w").alias("mu"),
        F.avg((F.col("w") == 0).cast("double")).alias("p0"),
    ).first()
    assert row["mu"] == pytest.approx(1.0, abs=0.02)
    assert row["p0"] == pytest.approx(math.exp(-1), abs=0.01)


def test_bootstrap_ci_covers_true_mean_and_is_deterministic(spark):
    rows = [("a", i, float(i % 21)) for i in range(2000)]  # mean 10
    rows += [("b", 10_000 + i, 100.0 + (i % 5)) for i in range(500)]  # mean 102
    df = spark.createDataFrame(rows, "grp string, id bigint, value double")
    out1 = {
        r["grp"]: r
        for r in stats.bootstrap_ci(
            df, ["grp"], "value", "id", n_boot=60
        ).collect()
    }
    assert out1["a"]["lo"] < 10.0 < out1["a"]["hi"]
    assert out1["b"]["lo"] < 102.0 < out1["b"]["hi"]
    # interval width sanity: sd(a) ~ 6.06/sqrt(2000) ~ 0.14 per tail
    assert out1["a"]["hi"] - out1["a"]["lo"] < 1.5
    # deterministic: same salt -> identical intervals on re-run,
    # different salt -> (almost surely) different resamples
    out2 = {
        r["grp"]: r
        for r in stats.bootstrap_ci(
            df.repartition(7), ["grp"], "value", "id", n_boot=60
        ).collect()
    }
    assert out1 == out2  # layout-independent
    out3 = {
        r["grp"]: r
        for r in stats.bootstrap_ci(
            df, ["grp"], "value", "id", n_boot=60, salt="other"
        ).collect()
    }
    assert (out3["a"]["lo"], out3["a"]["hi"]) != (
        out1["a"]["lo"],
        out1["a"]["hi"],
    )


def test_bootstrap_ci_tiny_group_null_replicates_skipped(spark):
    # a 1-row group draws weight 0 in ~37% of replicates; those
    # replicate means are NULL and the percentile must skip them
    df = spark.createDataFrame(
        [("solo", 1, 42.0)], "grp string, id bigint, value double"
    )
    row = stats.bootstrap_ci(df, ["grp"], "value", "id", n_boot=50).first()
    assert row["est"] == 42.0
    assert row["lo"] == 42.0 and row["hi"] == 42.0


def test_bootstrap_ci_null_values_and_null_group(spark):
    """Advisor r7: NULL values must be excluded BEFORE resampling —
    they previously inflated the replicate denominator SUM(w) without
    contributing to SUM(w*x), biasing lo/hi low vs est — and a
    NULL-keyed group must survive the final est/ci join."""
    rows = [("a", i, float(i % 21)) for i in range(400)]
    with_nulls = rows + [("a", 9_000 + i, None) for i in range(200)]
    df_clean = spark.createDataFrame(
        rows, "grp string, id bigint, value double"
    )
    df_nulls = spark.createDataFrame(
        with_nulls, "grp string, id bigint, value double"
    )
    got_clean = stats.bootstrap_ci(
        df_clean, ["grp"], "value", "id", n_boot=40
    ).first()
    got_nulls = stats.bootstrap_ci(
        df_nulls, ["grp"], "value", "id", n_boot=40
    ).first()
    # identical ids + values once NULLs are dropped -> identical digest
    # draws -> bitwise-identical CI
    assert got_clean == got_nulls
    assert got_nulls["lo"] <= got_nulls["est"] <= got_nulls["hi"]
    # NULL-keyed group: kept by both groupBys, must survive the join
    df_nullkey = spark.createDataFrame(
        [(None, i, 5.0 + (i % 3)) for i in range(100)],
        "grp string, id bigint, value double",
    )
    out = stats.bootstrap_ci(
        df_nullkey, ["grp"], "value", "id", n_boot=40
    ).collect()
    assert len(out) == 1 and out[0]["grp"] is None
    assert out[0]["lo"] <= out[0]["est"] <= out[0]["hi"]


def test_poisson_hex_weight_equals_double_form(spark):
    """The hex-string comparison draw must equal the double-uniform
    inverse-CDF draw on the same 32-bit value, for every threshold
    boundary."""
    from tcga_query_project_spark.operators.stats import (
        POISSON1_CDF,
        poisson1_weight_hex_sql,
    )

    # probe each threshold's floor value, its neighbors, and extremes
    probes = set()
    for t in POISSON1_CDF:
        v = int(t * 2**32)
        probes.update({max(v - 1, 0), v, min(v + 1, 2**32 - 1)})
    probes.update({0, 2**32 - 1, 123456789})
    rows = [(format(v, "08x"), v / 2**32) for v in sorted(probes)]
    df = spark.createDataFrame(rows, "slice8 string, u double")
    got = df.select(
        F.expr(poisson1_weight_hex_sql("slice8")).alias("wh"), "u"
    ).collect()
    for r in got:
        wu = next((k for k, t in enumerate(POISSON1_CDF) if r["u"] < t), len(POISSON1_CDF))
        assert r["wh"] == wu


# =====================================================================
# maintain_grouped_agg (incremental materialized-view maintenance)
# =====================================================================


def _recompute(rows):
    agg = {}
    for g, x in rows:
        c, s = agg.get(g, (0, 0.0))
        agg[g] = (c + 1, s + x)
    return {
        g: (c, s, s / c) for g, (c, s) in agg.items() if c > 0
    }


def test_maintain_agg_matches_recompute_with_group_moves(spark):
    from tcga_query_project_spark.operators import temporal

    fact = [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0), ("c", 5.0)]
    df = spark.createDataFrame(fact, "g string, x double")
    base = temporal.grouped_agg_snapshot(df, ["g"], "x")
    # U moves (b,3) -> (a,30); D removes (c,5) emptying group c;
    # I adds (d,7)
    log = spark.createDataFrame(
        [
            ("U", "b", 3.0, "a", 30.0),
            ("D", "c", 5.0, None, None),
            ("I", None, None, "d", 7.0),
        ],
        "op string, before_g string, before_x double, "
        "after_g string, after_x double",
    )
    got = {
        r["g"]: (r["cnt"], r["sum_x"], r["avg_x"])
        for r in temporal.maintain_grouped_agg(base, log, ["g"]).collect()
    }
    patched = [("a", 1.0), ("a", 2.0), ("a", 30.0), ("b", 4.0), ("d", 7.0)]
    want = _recompute(patched)
    assert set(got) == set(want)  # group c vanished
    for g in want:
        assert got[g] == pytest.approx(want[g])


def test_maintain_agg_random_logs_equal_recompute(spark):
    """Randomized differential: any I/U/D log over exact quarter-valued
    facts maintains to EXACTLY the full recompute (integer-exact sums
    remove FP association noise — mismatches are semantic)."""
    import random

    from tcga_query_project_spark.operators import temporal

    rng = random.Random(13)
    groups = ["g0", "g1", "g2", "g3"]
    fact = [
        (i, rng.choice(groups), rng.randrange(40) * 0.25)
        for i in range(60)
    ]
    df = spark.createDataFrame(fact, "id long, g string, x double")
    base = temporal.grouped_agg_snapshot(df, ["g"], "x")
    current = {i: (g, x) for i, g, x in fact}
    log_rows = []
    next_id = 1000
    for _ in range(40):
        op = rng.choice("IUD")
        if op == "I":
            g, x = rng.choice(groups), rng.randrange(40) * 0.25
            log_rows.append(("I", None, None, g, x))
            current[next_id] = (g, x)
            next_id += 1
        elif current:
            i = rng.choice(sorted(current))
            bg, bx = current.pop(i)
            if op == "U":
                g, x = rng.choice(groups), rng.randrange(40) * 0.25
                log_rows.append(("U", bg, bx, g, x))
                current[i] = (g, x)
            else:
                log_rows.append(("D", bg, bx, None, None))
    log = spark.createDataFrame(
        log_rows,
        "op string, before_g string, before_x double, "
        "after_g string, after_x double",
    )
    got = {
        r["g"]: (r["cnt"], r["sum_x"], r["avg_x"])
        for r in temporal.maintain_grouped_agg(base, log, ["g"]).collect()
    }
    want = _recompute(list(current.values()))
    assert got == want  # exact: quarter-valued sums are FP-exact


def test_maintain_agg_null_keyed_group_merges(spark):
    """Advisor r7 (medium): the base/delta merge must be NULL-safe on
    the group key — a NULL-keyed base row and its delta row previously
    never matched (NULL = NULL), yielding TWO rows for that group.
    Repro from the advisory: base {(NULL, cnt=2, sum=3)} + insert
    (NULL, 5.0) must yield ONE row with cnt=3, sum=8."""
    from tcga_query_project_spark.operators import temporal

    base = spark.createDataFrame(
        [(None, 2, 2, 3.0)],
        "g string, cnt long, cnt_x long, sum_x double",
    )
    log = spark.createDataFrame(
        [("I", None, None, None, 5.0)],
        "op string, before_g string, before_x double, "
        "after_g string, after_x double",
    )
    out = temporal.maintain_grouped_agg(base, log, ["g"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["g"] is None
    assert (r["cnt"], r["sum_x"], r["avg_x"]) == (3, 8.0, 8.0 / 3)
    # and a delete emptying the NULL group drops the row entirely
    log_d = spark.createDataFrame(
        [("D", None, 1.0, None, None), ("D", None, 2.0, None, None)],
        "op string, before_g string, before_x double, "
        "after_g string, after_x double",
    )
    assert temporal.maintain_grouped_agg(base, log_d, ["g"]).count() == 0


def test_maintain_agg_all_null_values_keep_sum_null(spark):
    """Round-9 NULL-value fuzz finding: SQL SUM over zero non-NULL
    values is NULL, not 0.0 — the maintained aggregate must agree with
    a recompute on (a) groups that START all-NULL, (b) groups whose
    last non-NULL value is DELETED, and (c) NULL-x inserts into an
    all-NULL group. cnt_x (non-null count) is what makes (b) decidable
    without a rescan."""
    from tcga_query_project_spark.operators import temporal

    fact = [("a", None), ("a", None), ("b", 2.0), ("b", None)]
    df = spark.createDataFrame(fact, "g string, x double")
    base = temporal.grouped_agg_snapshot(df, ["g"], "x")
    snap = {r["g"]: (r["cnt"], r["cnt_x"], r["sum_x"])
            for r in base.collect()}
    assert snap == {"a": (2, 0, None), "b": (2, 1, 2.0)}
    # delete b's only non-NULL value; insert another NULL into a
    log = spark.createDataFrame(
        [("D", "b", 2.0, None, None), ("I", None, None, "a", None)],
        "op string, before_g string, before_x double, "
        "after_g string, after_x double",
    )
    got = {
        r["g"]: (r["cnt"], r["cnt_x"], r["sum_x"], r["avg_x"])
        for r in temporal.maintain_grouped_agg(base, log, ["g"]).collect()
    }
    assert got == {
        "a": (3, 0, None, None),  # still no observed values
        "b": (1, 0, None, None),  # last value deleted -> SUM is NULL
    }


def test_resample_all_null_value_bucket_keeps_total_null(spark):
    """Advisor r7: a bucket whose events ALL carry NULL values must
    keep total NULL (n>0) — only TRUE gap rows (n=0) coalesce to 0 —
    so a no-data bucket stays distinguishable from a zero-sum one."""
    from tcga_query_project_spark.operators import temporal

    us = 1_000_000
    df = spark.createDataFrame(
        [
            ("k", 0, 10),  # bucket 0: value 10
            ("k", 1 * us, None),  # bucket 1: all-NULL values
            # bucket 2: gap (no events)
            ("k", 3 * us, 0),  # bucket 3: genuine zero sum
        ],
        "k string, t long, v long",
    ).select("k", F.timestamp_micros(F.col("t")).alias("ts"), "v")
    out = {
        r["period"]: (r["n"], r["total"], r["carried"])
        for r in temporal.resample_periods(df, "k", "ts", "v", us).collect()
    }
    assert out[0] == (1, 10, 10)
    assert out[1] == (1, None, 10)  # NULL total, NOT 0; carried holds
    assert out[2] == (0, 0, 10)  # true gap -> 0
    assert out[3] == (1, 0, 0)  # genuine zero sum


# =====================================================================
# funnel (earliest strictly-increasing stage chain)
# =====================================================================


def test_funnel_semantics_hand_crafted(spark):
    from datetime import datetime as dt

    from tcga_query_project_spark.operators import temporal

    def t(m):
        return dt(2000, 1, 1, 0, m)

    rows = [
        # u1 converts: s@0 -> c@1 -> p@2
        (1, t(0), "signup"), (1, t(1), "click"), (1, t(2), "purchase"),
        # u2: purchase BEFORE click -> only 2 stages
        (2, t(0), "signup"), (2, t(5), "click"), (2, t(3), "purchase"),
        # u3: click at the SAME instant as signup -> strictly-after
        # rejects it; later click@4 -> purchase@6 converts
        (3, t(0), "signup"), (3, t(0), "click"), (3, t(4), "click"),
        (3, t(6), "purchase"),
        # u4: no signup -> excluded entirely
        (4, t(1), "click"), (4, t(2), "purchase"),
        # u5: greedy-earliest trade — the EARLIEST signup's chain is
        # incomplete and a later signup would have worked; strict
        # semantics: count from the first signup
        (5, t(0), "signup"), (5, t(1), "click"), (5, t(8), "signup"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["user_id"]: r
        for r in temporal.funnel(
            df, "user_id", "ts", "event_type",
            ["signup", "click", "purchase"],
        ).collect()
    }
    assert set(got) == {1, 2, 3, 5}
    assert got[1]["stages_completed"] == 3 and bool(got[1]["converted"])
    assert got[2]["stages_completed"] == 2 and not got[2]["converted"]
    assert got[3]["stages_completed"] == 3 and bool(got[3]["converted"])
    assert got[3]["t2_us"] > got[3]["t1_us"]  # same-instant click rejected
    assert got[5]["stages_completed"] == 2 and not got[5]["converted"]
    # monotone nulls: t3 null whenever t2 null
    assert got[2]["t3_us"] is None or got[2]["t2_us"] is not None


def test_funnel_span_boundary(spark):
    from datetime import datetime as dt

    from tcga_query_project_spark.operators import temporal

    # the 7-day conversion window is inclusive
    rows = [
        (1, dt(2000, 1, 1, 0, 0), "a"), (1, dt(2000, 1, 8, 0, 0), "b"),
        (2, dt(2000, 1, 1, 0, 0), "a"), (2, dt(2000, 1, 8, 0, 1), "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["user_id"]: bool(r["converted"])
        for r in temporal.funnel(
            df, "user_id", "ts", "event_type", ["a", "b"]
        ).collect()
    }
    assert got == {1: True, 2: False}


def test_retention_hand_crafted_matrix(spark):
    from datetime import datetime as dt, timedelta as td

    from tcga_query_project_spark.operators import temporal

    day = 86_400_000_000
    base = dt(2000, 1, 3)  # arbitrary epoch-aligned-enough anchor

    def at(d, h=0):
        return base + td(days=d, hours=h)

    rows = [
        # cohort A (day 0): u1 active d0,d1,d2; u2 active d0,d2;
        # u3 active d0 only. Two same-day events dedupe.
        (1, at(0)), (1, at(0, 5)), (1, at(1)), (1, at(2)),
        (2, at(0)), (2, at(2)),
        (3, at(0)),
        # cohort B (day 1): u4 active d1, d3
        (4, at(1)), (4, at(3)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    raw = temporal.retention(df, "user_id", "ts", day).collect()
    day0 = min(r["cohort_period"] for r in raw)  # = the d0 cohort
    got = {
        (r["cohort_period"] - day0, r["period_offset"]): (
            r["n_active"], r["cohort_size"], r["retention"],
        )
        for r in raw
    }
    # relative cohort indexes; offsets are what matter
    assert got[(0, 0)] == (3, 3, 1.0)
    assert got[(0, 1)] == (1, 3, round(1 / 3, 6))
    assert got[(0, 2)] == (2, 3, round(2 / 3, 6))
    assert got[(1, 0)] == (1, 1, 1.0)
    assert got[(1, 2)] == (1, 1, 1.0)
    assert (1, 1) not in got  # no activity -> no row (sparse matrix)


def test_quantile_strata_null_partition_key_is_its_own_group(spark):
    """NULL-keyed rows must stratify as their own group (the null-safe
    struct join), exactly like ntile_strata's Window.partitionBy —
    a plain equi-join would silently drop them."""
    from tcga_query_project_spark.operators import survival as sv

    rows = [("a", float(v)) for v in range(1, 9)]
    rows += [(None, float(v)) for v in range(1, 9)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = sv.quantile_strata(df, "v", 4, ["g"]).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append(r["stratum"])
    assert len(by_g.get(None, [])) == 4  # LOW 1,2 and HIGH 7,8 kept
    # NULL group gets the same LOW/HIGH split as the named group
    from collections import Counter

    assert Counter(by_g[None]) == Counter(by_g["a"])


# =====================================================================
# transition_matrix (first-order Markov over per-user sequences)
# =====================================================================


def test_transition_matrix_hand_crafted(spark):
    from datetime import datetime as dt

    from tcga_query_project_spark.operators import temporal

    def t(m):
        return dt(2000, 1, 1, 0, m)

    rows = [
        # u1: a -> b -> a  (pairs: a->b, b->a)
        (1, 1, t(0), "a"), (2, 1, t(1), "b"), (3, 1, t(2), "a"),
        # u2: a -> b       (pair: a->b); last event emits nothing
        (4, 2, t(0), "a"), (5, 2, t(1), "b"),
        # u3: ts COLLISION at t(0) -> event_id tiebreak orders c before a
        (7, 3, t(0), "a"), (6, 3, t(0), "c"),
        # u4: single event -> no pairs at all
        (8, 4, t(0), "b"),
        # u5: NULL type is a real state: a -> NULL -> b
        (9, 5, t(0), "a"), (10, 5, t(1), None), (11, 5, t(2), "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in temporal.transition_matrix(
            df, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert got == {
        ("a", "b"): (2, round(2 / 3, 6)),  # from-a row: 2 of 3
        ("a", None): (1, round(1 / 3, 6)),
        ("b", "a"): (1, 1.0),
        ("c", "a"): (1, 1.0),  # collision resolved by event_id
        (None, "b"): (1, 1.0),  # NULL is a from-state too
    }
    # row-normalization: each from-state's probabilities sum to 1
    sums: dict = {}
    for (f, _), (_, p) in got.items():
        sums[f] = sums.get(f, 0.0) + p
    for f, s in sums.items():
        assert abs(s - 1.0) < 1e-6, (f, s)


def test_transition_matrix_empty(spark):
    from tcga_query_project_spark.operators import temporal

    df = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, event_type string"
    )
    assert (
        temporal.transition_matrix(
            df, "user_id", "ts", "event_type", "event_id"
        ).count()
        == 0
    )


# =====================================================================
# a14_group_trend (per-group OLS via SQL:2023 regr_* aggregates)
# =====================================================================


def test_group_trend_matches_numpy_polyfit(spark):
    """The catalog's regr_slope/intercept/r2 columns must equal the
    dense least-squares reference (numpy polyfit + residual R²) on a
    multi-group dataset with noise, including a constant-y group
    (slope 0, R² 1 by the SQL convention) and a var(x)=0 group (all
    three NULL)."""
    import random as _r

    import numpy as np
    from pyspark.sql import functions as F

    rng = _r.Random(42)
    rows = []
    for g, (a, b) in {"up": (0.5, 2.0), "down": (-1.25, 40.0)}.items():
        for i in range(50):
            x = float(rng.randrange(0, 1000))
            y = a * x + b + rng.uniform(-5, 5)
            rows.append((g, x, y))
    rows += [("flat", float(i), 7.5) for i in range(10)]   # const y
    rows += [("pile", 3.0, float(i)) for i in range(5)]    # var(x)=0
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {
        r["g"]: (r["slope"], r["icpt"], r["r2"])
        for r in df.groupBy("g")
        .agg(
            F.regr_slope("y", "x").alias("slope"),
            F.regr_intercept("y", "x").alias("icpt"),
            F.regr_r2("y", "x").alias("r2"),
        )
        .collect()
    }
    for g in ("up", "down"):
        xs = np.array([x for gg, x, _ in rows if gg == g])
        ys = np.array([y for gg, _, y in rows if gg == g])
        slope, icpt = np.polyfit(xs, ys, 1)
        pred = slope * xs + icpt
        r2 = 1.0 - ((ys - pred) ** 2).sum() / ((ys - ys.mean()) ** 2).sum()
        assert got[g][0] == pytest.approx(slope, rel=1e-9), g
        assert got[g][1] == pytest.approx(icpt, rel=1e-9), g
        assert got[g][2] == pytest.approx(r2, rel=1e-9), g
    assert got["flat"] == (0.0, 7.5, 1.0)
    assert got["pile"] == (None, None, None)


# =====================================================================
# resample_periods (bucket + densify + forward fill)
# =====================================================================


def test_resample_hand_crafted_gaps_and_carry(spark):
    from datetime import datetime as dt, timedelta

    from tcga_query_project_spark.operators import temporal

    def d(day, h=0):
        return dt(2024, 1, 1 + day, h)

    day_us = 86_400_000_000
    rows = [
        # u1: days 0 (two events), 1 (one), GAP 2-3, 4 (one)
        (1, d(0), 10), (1, d(0, 5), 5), (1, d(1), 7), (1, d(4), 2),
        # u2: a single day -> dense range is one row, no gaps
        (2, d(3), 9),
        # NULL key / NULL ts rows: dropped by contract
        (None, d(0), 99), (3, None, 99),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, v long")
    got = {
        (r["u"], r["period"]): (r["n"], r["total"], r["carried"])
        for r in temporal.resample_periods(
            df, "u", "ts", "v", day_us
        ).collect()
    }
    base = dt(2024, 1, 1).timestamp() * 1_000_000 // day_us
    p = lambda day: int(base + day)  # noqa: E731
    assert got == {
        (1, p(0)): (2, 15, 15),
        (1, p(1)): (1, 7, 7),
        (1, p(2)): (0, 0, 7),   # gap: zero bucket, carried level
        (1, p(3)): (0, 0, 7),
        (1, p(4)): (1, 2, 2),
        (2, p(3)): (1, 9, 9),
    }


def test_resample_span_guard_raises(spark):
    from datetime import datetime as dt

    import pytest

    from tcga_query_project_spark.operators import temporal

    df = spark.createDataFrame(
        [(1, dt(2024, 1, 1), 1), (1, dt(2024, 3, 1), 1)],
        "u long, ts timestamp, v long",
    )
    with pytest.raises(Exception, match="spans more than"):
        temporal.resample_periods(
            df, "u", "ts", "v", 86_400_000_000, max_periods_per_key=30
        ).collect()
    # same data under a sufficient cap densifies fine
    n = temporal.resample_periods(
        df, "u", "ts", "v", 86_400_000_000, max_periods_per_key=100
    ).count()
    assert n == 61


def test_transition_matrix_null_tiebreak_matches_oracle(spark, tmp_path):
    """Review regression: the oracle's tiebreak needs an explicit
    NULLS FIRST (DuckDB windows default NULLS LAST ASC; Spark .asc()
    is nulls-first) — pinned with a NULL event_id colliding on ts."""
    import datetime as dt

    from tcga_query_project_spark.catalog import BENCH_ONLY, REGISTRY
    from tests.oracle_harness import compare, run_oracle
    from tests.test_fuzz_parity import _write_dir

    t0 = dt.datetime(2024, 1, 1)
    tables = {"events": {
        "event_id": [None, 2, 3, None],
        "ts": [t0, t0, t0 + dt.timedelta(minutes=1), t0],
        "user_id": [1, 1, 1, 2],
        "event_type": ["a", "b", "c", "d"],
        "value": [1.0, 2.0, 3.0, 4.0],
        "props": [None] * 4,
    }}
    d = str(tmp_path / "nulltie")
    _write_dir(tables, d)
    spec = {**BENCH_ONLY, **REGISTRY}["tj_markov"]
    got = spec.build(spark, d).toPandas()
    want = run_oracle(spec.oracle, d)
    assert not compare(got, want), compare(got, want)
    # NULL id sorts before id=2 at the same instant in BOTH engines
    pairs = {(r["from_type"], r["to_type"]) for _, r in got.iterrows()}
    assert ("a", "b") in pairs and ("b", "c") in pairs


def test_column_profile_empty_cols_raises(spark):
    import pytest

    from tcga_query_project_spark.operators.quality_audit import (
        column_profile,
    )

    df = spark.createDataFrame([("x",)], "s string")
    with pytest.raises(ValueError, match="empty cols"):
        column_profile(df, {})


def test_resample_all_null_value_bucket_carries_null(spark):
    """Documented contract: a bucket whose events all have NULL value
    sums to NULL and carries nothing — carried stays NULL until the
    first non-NULL-valued bucket."""
    from datetime import datetime as dt

    from tcga_query_project_spark.operators import temporal

    day = 86_400_000_000
    rows = [
        (1, dt(2024, 1, 1), None),
        (1, dt(2024, 1, 3), 5),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, v long")
    got = sorted(
        (
            (r["period"], r["n"], r["total"], r["carried"])
            for r in temporal.resample_periods(
                df, "u", "ts", "v", day
            ).collect()
        )
    )
    periods = [p for p, *_ in got]
    assert got == [
        # all-NULL bucket: total stays NULL (advisor r7 — coalescing
        # it to 0 made it indistinguishable from a zero-sum bucket)
        (periods[0], 1, None, None),
        (periods[1], 0, 0, None),   # true gap row: 0, nothing carried
        (periods[2], 1, 5, 5),
    ]


def test_jaccard_prefix_join_matches_brute_force(spark):
    """PPJoin prefix filtering vs brute force on 3-shingle sets:
    exact same pair set —
    the no-false-negative guarantee LSH cannot make — plus empty/NULL
    docs never pairing and the doc_a < doc_b canonical order."""
    import itertools

    from tcga_query_project_spark.operators import dedup

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a lazy dog"),
        (3, "completely different text about spark joins"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, ""),
        (6, None),
        (7, "spark joins text about different completely"),
        (8, "one"),
        (9, "one"),
        (10, "x y z w v u t s r q p o n m l k"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def brute(sets, t):
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            A, B = sets[a], sets[b]
            if not A or not B:
                continue
            j = len(A & B) / len(A | B)
            if j >= t:
                want[(a, b)] = round(j, 6)
        return want

    def shingles(t):
        ts = t.lower().strip().split()
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    sh_sets = {i: shingles(t) for i, t in docs if t}
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_prefix_join(df, "doc_id", "text").collect()
    }
    assert got == brute(sh_sets, 0.6)
    assert all(a < b for a, b in got)


def test_ctfidf_top_terms_matches_python(spark):
    """c-TF-IDF vs a python recompute: class-exclusive terms outrank
    shared ones, NULL class is a class of its own, rank cuts on the
    rounded score with term tiebreak."""
    import math
    from collections import Counter

    from tcga_query_project_spark.operators import text

    docs = [
        (1, "en", "alpha alpha shared"),
        (2, "en", "alpha shared"),
        (3, "de", "beta beta shared shared"),
        (4, None, "gamma gamma gamma"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, lang string, body string")
    out = [
        (r["lang"], r["term"], r["ctfidf"], r["rank"])
        for r in text.ctfidf_top_terms(df, "lang", "body").collect()
    ]
    tf = Counter()
    for _, lang, body in docs:
        for t in body.split():
            tf[(lang, t)] += 1
    ft = Counter()
    for (lang, t), c in tf.items():
        ft[t] += c
    total = sum(tf.values())
    n_classes = len({lang for _, lang, _ in docs})
    avg = total / n_classes
    want = {}
    for (lang, t), c in tf.items():
        want[(lang, t)] = round(c * math.log(1 + avg / ft[t]), 6)
    got = {(lang, t): v for lang, t, v, _ in out}
    assert got.items() <= want.items()
    by_class = {}
    for lang, t, v, rank in out:
        by_class.setdefault(lang, []).append((rank, t, v))
    for lang, rows in by_class.items():
        rows.sort()
        assert [r for r, _, _ in rows] == list(range(1, len(rows) + 1))
        # rank order == (score desc, term asc)
        keys = [(-v, t) for _, t, v in rows]
        assert keys == sorted(keys)
    # class-exclusive terms outrank the cross-class 'shared'
    assert by_class["en"][0][1] == "alpha"
    assert by_class["de"][0][1] == "beta"
    assert by_class[None][0][1] == "gamma"


def test_cuped_ab_matches_numpy(spark):
    """CUPED A/B readout vs a direct numpy recompute on correlated
    synthetic data: theta, adjusted means, Welch z on raw and adjusted
    metrics, and the pooled within-arm variance reduction. The planted
    effect (+2 on arm B) is insignificant raw (covariate noise) and
    significant after CUPED — the estimator's whole point."""
    import numpy as np

    from tcga_query_project_spark.operators.stats import cuped_ab

    rng = np.random.RandomState(7)
    n = 400
    x = rng.gamma(2, 10, n)
    arm = np.array(["A", "B"])[np.arange(n) % 2]
    y = 0.8 * x + rng.normal(0, 5, n) + (arm == "B") * 2.0
    rows = [(int(i), arm[i], float(x[i]), float(y[i])) for i in range(n)]
    df = spark.createDataFrame(
        rows, "unit long, arm string, x double, y double"
    )
    out = cuped_ab(df, "unit", "arm", "x", "y").collect()[0]

    theta = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    yc = y - theta * (x - x.mean())
    A, B = arm == "A", arm == "B"

    def z(v):
        va, vb = v[A].var(ddof=1), v[B].var(ddof=1)
        return (v[B].mean() - v[A].mean()) / np.sqrt(
            va / A.sum() + vb / B.sum()
        )

    pr = ((A.sum() - 1) * y[A].var(ddof=1)
          + (B.sum() - 1) * y[B].var(ddof=1)) / (n - 2)
    pc = ((A.sum() - 1) * yc[A].var(ddof=1)
          + (B.sum() - 1) * yc[B].var(ddof=1)) / (n - 2)
    want = dict(
        n_a=int(A.sum()), n_b=int(B.sum()),
        mean_a_raw=round(y[A].mean(), 6), mean_b_raw=round(y[B].mean(), 6),
        lift_raw=round(y[B].mean() - y[A].mean(), 6), z_raw=round(z(y), 4),
        theta=round(theta, 6),
        mean_a_cuped=round(yc[A].mean(), 6),
        mean_b_cuped=round(yc[B].mean(), 6),
        lift_cuped=round(yc[B].mean() - yc[A].mean(), 6),
        z_cuped=round(z(yc), 4),
        var_reduction_pct=round(100 * (1 - pc / pr), 4),
    )
    for k, v in want.items():
        assert abs(out[k] - v) <= 2e-4, (k, out[k], v)
    # the estimator's point: same effect, far tighter test
    assert abs(out["z_raw"]) < 1.0 < 2.0 < abs(out["z_cuped"])
    assert out["var_reduction_pct"] > 50

    # degenerate corners: constant covariate -> theta 0, cuped == raw;
    # single-unit arm -> NULL z, no divide-by-zero under ANSI mode
    flat = spark.createDataFrame(
        [(1, "A", 1.0, 2.0), (2, "A", 1.0, 4.0), (3, "B", 1.0, 5.0)],
        "unit long, arm string, x double, y double",
    )
    r = cuped_ab(flat, "unit", "arm", "x", "y").collect()[0]
    assert r["theta"] == 0.0
    assert r["mean_a_cuped"] == r["mean_a_raw"]
    assert r["z_raw"] is None and r["z_cuped"] is None  # n_b == 1

    # constant-METRIC arms: power-sum variances cancel to ~-1e-18
    # (0.1 is not float-representable; syy - sy^2/n goes negative for
    # n=3 per-arm sequential sums), so an unclamped sqrt yields NaN on
    # the Spark side and crashes DuckDB's SQRT on the oracle side.
    # With the clamp: variance 0 -> z NULL via the NULLIF guard.
    const = spark.createDataFrame(
        [(i, "A" if i < 3 else "B", float(i), 0.1) for i in range(6)],
        "unit long, arm string, x double, y double",
    ).coalesce(1)
    rc = cuped_ab(const, "unit", "arm", "x", "y").collect()[0]
    for col in ("z_raw", "z_cuped", "var_reduction_pct"):
        v = rc[col]
        assert v is None or v == v, (col, v)  # never NaN
    assert rc["lift_raw"] == 0.0
