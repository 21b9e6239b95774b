"""Property-based tests (SURVEY.md §5 strategy #4, hypothesis).

Each property pins an algebraic invariant of a statistical operator;
example counts are kept small because every example is a Spark job.
"""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from tcga_query_project_spark.operators import stats, survival

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

subjects = st.lists(
    st.tuples(
        st.floats(min_value=0.5, max_value=100.0, allow_nan=False),
        st.integers(min_value=0, max_value=1),
    ),
    min_size=2,
    max_size=20,
)


@given(data=subjects)
@settings(**SETTINGS)
def test_km_curve_monotone_in_unit_interval(spark, data):
    df = spark.createDataFrame(
        [(float(t), s) for t, s in data], "time double, status int"
    ).withColumn("g", F.lit("x"))
    rows = sorted(
        survival.km_curve(df, "time", "status", ["g"]).collect(),
        key=lambda r: r["time"],
    )
    prev = 1.0
    for r in rows:
        assert -1e-12 <= r["survival"] <= 1.0 + 1e-12
        assert r["survival"] <= prev + 1e-12  # non-increasing
        prev = r["survival"]
        # log-CI band brackets the estimate wherever it is defined
        if r["ci_lower"] is not None:
            assert r["ci_lower"] <= r["survival"] + 1e-12
            assert r["survival"] <= r["ci_upper"] + 1e-12
            assert r["ci_upper"] <= 1.0 + 1e-12
    # at-risk counts decrease and start at n
    assert rows[0]["n_at_risk"] == len(data)


@given(
    n=st.integers(min_value=2, max_value=6),
    values=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=6,
        max_size=30,
    ),
)
@settings(**SETTINGS)
def test_ntile_bucket_sizes_differ_by_at_most_one(spark, n, values):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id int, v double"
    )
    out = survival.ntile_strata(df, "v", n, [], F.col("id").asc())
    # reconstruct tile sizes by recomputing ntile
    tiled = df.withColumn(
        "t",
        F.ntile(n).over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
                F.col("v").asc(), F.col("id").asc()
            )
        ),
    )
    sizes = {r["t"]: r["c"] for r in tiled.groupBy("t").agg(F.count("*").alias("c")).collect()}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # the operator keeps exactly tiles 1 (LOW) and n (HIGH)
    labels = {
        r["stratum"]: r["c"]
        for r in out.groupBy("stratum").agg(F.count("*").alias("c")).collect()
    }
    assert labels == {"LOW": sizes[1], "HIGH": sizes[n]}


@given(
    ps=st.lists(
        st.floats(min_value=1e-12, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_bh_padj_bounds_and_monotonicity(spark, ps):
    df = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(ps)], "id int, p double"
    )
    rows = stats.bh_adjust(df, "p", [], F.col("id").asc()).collect()
    byp = sorted(rows, key=lambda r: (r["p"], r["id"]))
    prev = 0.0
    for r in byp:
        assert r["p"] - 1e-15 <= r["padj"] <= 1.0 + 1e-15  # padj >= p, <= 1
        assert r["padj"] >= prev - 1e-15  # monotone in p-rank
        prev = r["padj"]


@given(
    a=st.lists(st.integers(min_value=0, max_value=50), min_size=3, max_size=15),
    b=st.lists(st.integers(min_value=0, max_value=50), min_size=3, max_size=15),
)
@settings(**SETTINGS)
def test_wilcoxon_invariant_under_monotone_transform(spark, a, b):
    rows = [("g", "A", float(v)) for v in a] + [("g", "B", float(v)) for v in b]
    df = spark.createDataFrame(rows, "gene string, lab string, v double")
    base = stats.wilcoxon_rank_sum(df, "gene", "lab", "v", "A", "B").collect()[0]
    # exp() is strictly monotone → identical ranks → identical statistic
    df2 = df.withColumn("v", F.exp(F.col("v") / 10.0))
    trans = stats.wilcoxon_rank_sum(df2, "gene", "lab", "v", "A", "B").collect()[0]
    assert base["u_stat"] == trans["u_stat"]
    if base["p_value"] is None:
        assert trans["p_value"] is None
    else:
        assert abs(base["p_value"] - trans["p_value"]) < 1e-12


texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab c")),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


@given(ids=st.lists(st.integers(min_value=0, max_value=10**9),
                    min_size=1, max_size=50, unique=True))
@settings(**SETTINGS)
def test_hash_split_deterministic_and_total(spark, ids):
    """Every key gets exactly one split label, stable across calls."""
    from tcga_query_project_spark.functions.scalar import split_label

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    one = {r["id"]: r["s"] for r in df.select("id", split_label(F.col("id")).alias("s")).collect()}
    two = {r["id"]: r["s"] for r in df.select("id", split_label(F.col("id")).alias("s")).collect()}
    assert one == two
    assert set(one.values()) <= {"train", "val", "test"}


changelog = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),    # key
        st.integers(min_value=0, max_value=50),   # ts
        st.sampled_from(["a", "b", None]),        # attr
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda r: (r[0], r[1]),  # one change per (key, ts)
)


@given(data=changelog)
@settings(**SETTINGS)
def test_scd2_intervals_tile_the_timeline(spark, data):
    """SCD2 invariants for any change log: per key, intervals chain
    exactly (valid_to == next valid_from — no gaps, no overlaps), the
    first interval starts at the key's first change, exactly ONE
    interval is current (open), and consecutive intervals always differ
    in the tracked attribute (no-op suppression is complete)."""
    from collections import defaultdict

    from tcga_query_project_spark.operators.temporal import scd2_intervals

    df = spark.createDataFrame(
        [(k, t, v) for k, t, v in data], "k long, ts long, attr string"
    )
    out = scd2_intervals(df, "k", "ts", ["attr"])
    by_key = defaultdict(list)
    for r in out.collect():
        by_key[r["k"]].append(r)
    first_ts = defaultdict(lambda: None)
    for k, t, _ in data:
        if first_ts[k] is None or t < first_ts[k]:
            first_ts[k] = t
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r["valid_from"])
        assert rows[0]["valid_from"] == first_ts[k]
        assert sum(1 for r in rows if r["is_current"]) == 1
        assert rows[-1]["valid_to"] is None and rows[-1]["is_current"]
        for prev, nxt in zip(rows, rows[1:]):
            assert prev["valid_to"] == nxt["valid_from"]  # chained
            assert not prev["is_current"]
            assert prev["attr"] != nxt["attr"]  # real change between versions


def _logrank_reference(times, status, groups):
    """Two-group log-rank chi2 in plain numpy (test-local oracle): group
    1 is the first label; None when the variance sum is zero."""
    import numpy as np

    t, d, g = np.array(times), np.array(status, dtype=float), np.array(groups)
    g1 = g == np.unique(g)[0]
    oe = v = 0.0
    for u in np.unique(t[d > 0]):
        at = t >= u
        n, n1 = at.sum(), (at & g1).sum()
        dt, d1 = d[t == u].sum(), d[(t == u) & g1].sum()
        oe += d1 - dt * n1 / n
        if n > 1:
            v += dt * (n1 / n) * (1 - n1 / n) * (n - dt) / (n - 1)
    return oe * oe / v if v > 0 else None


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_logrank_by_cohort_matches_numpy_reference(spark, seed):
    """logrank_test with ``extra_partition=["cohort"]`` vs a numpy
    two-group reference on randomized cohorts: heavy ties (integer
    times), censoring, group imbalance, single-group cohorts (NULL chi2
    and p) and no-event cohorts (no row)."""
    import math
    import random
    from collections import defaultdict

    rng = random.Random(seed)
    rows = []
    for cohort in range(rng.randint(2, 6)):
        no_events = rng.random() < 0.2
        for gi in range(rng.randint(1, 2)):
            for _ in range(rng.randint(1, 15)):
                t = float(rng.randint(1, 8))  # integer times -> heavy ties
                s = 0 if no_events else int(rng.random() < 0.7)
                rows.append((cohort, f"g{gi}", t, s))
    df = spark.createDataFrame(
        rows, "cohort long, grp string, time double, status int"
    )
    by = defaultdict(list)
    for r in rows:
        by[r[0]].append(r)
    want = {
        c: _logrank_reference([r[2] for r in rs], [r[3] for r in rs], [r[1] for r in rs])
        for c, rs in by.items()
        if any(r[3] for r in rs)
    }
    got = {
        r["cohort"]: r
        for r in survival.logrank_test(
            df, "time", "status", "grp", extra_partition=["cohort"]
        ).collect()
    }
    assert set(got) == set(want)
    for c, chi2 in want.items():
        if chi2 is None:
            assert got[c]["chi2"] is None and got[c]["p_value"] is None, c
            continue
        assert math.isclose(got[c]["chi2"], chi2, rel_tol=1e-9, abs_tol=1e-12), c
        # the engine's two-sided normal tail (Abramowitz-Stegun 26.2.17)
        z = math.sqrt(chi2)
        t = 1.0 / (1.0 + 0.2316419 * z)
        poly = t * (0.319381530 + t * (-0.356563782 + t * (
            1.781477937 + t * (-1.821255978 + t * 1.330274429))))
        p = min(2.0 * math.exp(-z * z / 2.0) / 2.5066282746310002 * poly, 1.0)
        assert math.isclose(got[c]["p_value"], p, rel_tol=1e-9, abs_tol=1e-12), c


def test_repetition_metrics_matches_python_reference(spark):
    """Randomized differential test for text.repetition_metrics: the
    lead-window n-gram formation and the sorted-neighbor line-dup
    expressions must agree with a direct python computation on docs
    with heavy repetition, newlines, and degenerate shapes."""
    import random
    from collections import Counter

    from tcga_query_project_spark.operators import text as t

    rng = random.Random(99)
    words = ["alpha", "beta", "gamma", "delta", "x1", "xx", "longword9"]

    def make_doc():
        n_lines = rng.randrange(1, 6)
        lines = []
        for _ in range(n_lines):
            ln = " ".join(
                rng.choice(words) for _ in range(rng.randrange(1, 12))
            )
            lines.append(ln)
            if rng.random() < 0.4:  # force duplicate lines often
                lines.append(ln)
        return "\n".join(lines)

    docs = [(i, make_doc()) for i in range(30)]
    docs.append((100, "solo"))
    docs.append((101, "a a a a a a"))

    def ref(textv):
        toks = textv.strip().lower().split()
        total_chars = len("".join(textv.split()))
        out = {}
        out["dup_word_frac"] = (
            round((len(toks) - len(set(toks))) / len(toks), 6) if toks else 0.0
        )
        for n, nm in ((2, "2"), (3, "3")):
            grams = [
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            ]
            c = Counter(grams)
            top = max(
                (cnt * len(g.replace(" ", "")) for g, cnt in c.items()),
                default=None,
            )
            out[f"top{nm}gram_char_frac"] = (
                round(top / total_chars, 6) if top and total_chars else 0.0
            )
            tot = sum(c.values())
            dup = sum(cnt for cnt in c.values() if cnt > 1)
            out[f"dup{nm}gram_frac"] = round(dup / tot, 6) if tot else 0.0
        lines = [ln.strip() for ln in textv.split("\n") if ln.strip()]
        lc = Counter(lines)
        tot = len(lines)
        dup = sum(cnt for cnt in lc.values() if cnt > 1)
        out["dup_line_frac"] = round(dup / tot, 6) if tot else 0.0
        chars = sum(len(ln.replace(" ", "")) for ln in lines)
        dchars = sum(
            cnt * len(ln.replace(" ", ""))
            for ln, cnt in lc.items()
            if cnt > 1
        )
        out["dup_line_char_frac"] = round(dchars / chars, 6) if chars else 0.0
        return out

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in t.repetition_metrics(sdf, "doc_id", "text").collect()
    }
    for did, textv in docs:
        want = ref(textv)
        for k, v in want.items():
            assert abs(got[did][k] - v) < 1e-9, (did, k, got[did][k], v)


def test_chunk_documents_matches_python_reference(spark):
    """Randomized differential test for the sliding-window semantics:
    last window reaches the end, no fully-contained windows, full
    coverage, exact slice contents."""
    import random

    from tcga_query_project_spark.operators import text as t

    rng = random.Random(41)
    docs, params = [], []
    for i in range(24):
        n = rng.randrange(1, 60)
        docs.append((i, " ".join(f"w{j}" for j in range(n))))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    for max_tokens, stride in [(8, 8), (8, 4), (5, 3), (16, 1), (7, 7)]:
        got = {}
        out = t.chunk_documents(
            sdf, "doc_id", "text", max_tokens=max_tokens, stride=stride
        ).collect()
        for r in out:
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["n_chunk_tokens"], r["chunk"])
            )
        for did, textv in docs:
            toks = textv.split()
            n = len(toks)
            last = 0 if n <= max_tokens else -(-(n - max_tokens) // stride)
            want = []
            for i in range(last + 1):
                s = i * stride
                w = toks[s : s + max_tokens]
                want.append((i, len(w), " ".join(w)))
            assert sorted(got[did]) == want, (did, max_tokens, stride)
            # invariants: full coverage + final window hits the end
            assert want[-1][0] * stride + want[-1][1] == n
            covered = set()
            for i, ln, _ in want:
                covered.update(range(i * stride, i * stride + ln))
            assert covered == set(range(n))


def test_sessionize_matches_python_reference(spark):
    import random

    from pyspark.sql import functions as F

    from tcga_query_project_spark.operators import temporal

    rng = random.Random(31)
    rows = []
    for k in range(5):
        t = 0
        for _ in range(rng.randrange(3, 40)):
            t += rng.randrange(1, 120)
            rows.append((k, t))
    ev = spark.createDataFrame(rows, "k int, ts long")
    gap = 45.0
    got = {
        (r["k"], r["ts"]): r["session_id"]
        for r in temporal.sessionize(ev, "k", "ts", F.lit(gap)).collect()
    }
    # python reference: sort per key, break when diff > gap
    bykey = {}
    for k, t in rows:
        bykey.setdefault(k, []).append(t)
    want = {}
    for k, ts in bykey.items():
        ts.sort()
        start = ts[0]
        prev = ts[0]
        for t in ts:
            if t - prev > gap:
                start = t
            want[(k, t)] = float(start)
            prev = t
    assert got == want


@given(
    words=st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=7),
        st.integers(min_value=1, max_value=30),
        min_size=1,
        max_size=40,
    ),
    n_merges=st.integers(min_value=0, max_value=30),
)
@settings(max_examples=25, deadline=None)
def test_bpe_learner_matches_naive_recount(words, n_merges):
    """The incremental pair-count learner equals the textbook
    full-recount loop on ANY histogram — driver-only, no Spark job."""
    from tcga_query_project_spark.operators.bpe import _learn_merges
    from tests.test_bpe import naive_learn

    hist = sorted(words.items())
    assert _learn_merges(hist, n_merges) == naive_learn(hist, n_merges)


@given(
    words=st.dictionaries(
        st.text(alphabet="abcdef", min_size=1, max_size=6),
        st.integers(min_value=1, max_value=20),
        min_size=1,
        max_size=25,
    ),
)
@settings(max_examples=25, deadline=None)
def test_bpe_encode_concat_restores_word(words):
    """Greedy encoding of any word with any learned table concatenates
    back to word + EOW — merges can reorder the segmentation but never
    the characters."""
    from tcga_query_project_spark.operators.bpe import (
        EOW,
        _encode_word,
        _learn_merges,
    )

    hist = sorted(words.items())
    merges = _learn_merges(hist, 20)
    ranks = {m: i for i, m in enumerate(merges)}
    for w in words:
        pieces = _encode_word(w, ranks)
        assert "".join(pieces) == w + EOW
        interior = _encode_word(w, ranks, eow=False)
        assert "".join(interior) == w


@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),   # key id
            st.integers(min_value=1, max_value=50),  # multiplicity
        ),
        min_size=1,
        max_size=12,
    ),
    parts=st.integers(min_value=1, max_value=7),
)
@settings(**SETTINGS)
def test_heavy_hitters_exact_under_any_partitioning(spark, counts, parts):
    """With capacity above the distinct-key count the MG guarantee is
    unconditional: the operator returns the exact ordered top-k for any
    input and any physical partitioning."""
    from collections import Counter

    from tcga_query_project_spark.operators import sketches

    bag = Counter()
    for k, m in counts:
        bag[f"k{k}"] += m
    rows = [(key,) for key, m in bag.items() for _ in range(m)]
    df = spark.createDataFrame(rows, "k string").repartition(parts)
    got = [
        (r["k"], r["freq"])
        for r in sketches.heavy_hitters(df, "k", k=5, capacity=64).collect()
    ]
    want = sorted(bag.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got == want


@given(
    sizes=st.lists(st.integers(0, 60), min_size=1, max_size=5),
    cap=st.integers(1, 40),
    slack=st.sampled_from([0.0, 0.5, 1.25]),
    margin=st.sampled_from([0, 4, 64]),
)
@settings(**SETTINGS)
def test_stratified_cap_scaled_equals_simple_for_any_mix(
    spark, sizes, cap, slack, margin
):
    """For ANY stratum-size mix, cap, and threshold tuning (including
    slack/margin choices that force the deficiency fallback), the
    distributed-selection form keeps EXACTLY the window form's rows —
    the threshold machinery is a pure optimization, never a sampler."""
    from tcga_query_project_spark.operators.partitioning import (
        stratified_cap_scaled,
    )
    from tests.test_operators_unit import cap_reference

    rows = [
        (k * 1000 + i, f"s{k}")
        for k, n in enumerate(sizes)
        for i in range(n)
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "id long, k string")
    want = sorted((k, i) for i, k in cap_reference(rows, 1, cap, "px"))
    got = sorted(
        (r["k"], r["id"])
        for r in stratified_cap_scaled(
            df, ["k"], cap, "id", salt="px", slack=slack, margin=margin
        ).collect()
    )
    assert got == want
