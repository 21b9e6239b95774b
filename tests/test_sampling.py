"""Mixture sampling and shard packing (operators/sampling)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcga_query_project_spark.operators import sampling


def _docs(spark):
    rows = [(i, ["web", "books", "code", "junk"][i % 4]) for i in range(400)]
    return spark.createDataFrame(rows, "doc_id long, domain string")


def test_sample_mixture_integer_weights_exact_copies(spark):
    out = sampling.sample_mixture(
        _docs(spark), "domain", {"web": 2.0, "books": 1.0}, "doc_id"
    )
    per = {
        (r["doc_id"]): r["n"]
        for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    rows = {r["doc_id"]: r["domain"] for r in _docs(spark).collect()}
    for did, dom in rows.items():
        if dom == "web":
            assert per.get(did) == 2
        elif dom == "books":
            assert per.get(did) == 1
        else:  # code/junk unlisted -> dropped
            assert did not in per


def test_sample_mixture_fractional_weight_rate_and_determinism(spark):
    out1 = sampling.sample_mixture(
        _docs(spark), "domain", {"web": 0.5}, "doc_id"
    ).collect()
    out2 = sampling.sample_mixture(
        _docs(spark), "domain", {"web": 0.5}, "doc_id"
    ).collect()
    assert sorted(r["doc_id"] for r in out1) == sorted(
        r["doc_id"] for r in out2
    )
    # 100 web docs at weight .5: binomial-ish but hash-deterministic;
    # sanity band only
    assert 30 <= len(out1) <= 70
    assert all(r["copy_idx"] == 0 for r in out1)
    # a different salt decorrelates
    out3 = sampling.sample_mixture(
        _docs(spark), "domain", {"web": 0.5}, "doc_id", salt="other"
    ).collect()
    assert sorted(r["doc_id"] for r in out3) != sorted(
        r["doc_id"] for r in out1
    )


def test_sample_mixture_oversample_fractional(spark):
    out = sampling.sample_mixture(
        _docs(spark), "domain", {"books": 2.3}, "doc_id"
    )
    per = [
        r["n"]
        for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    ]
    assert set(per) <= {2, 3}
    assert len(per) == 100  # every books doc kept
    # copy_idx runs 0..n-1
    mx = out.groupBy("doc_id").agg(
        F.max("copy_idx").alias("mx"), F.count("*").alias("n")
    )
    assert mx.filter(F.col("mx") != F.col("n") - 1).count() == 0


def test_pack_shards_golden(spark):
    df = spark.createDataFrame(
        [(i, 5) for i in range(1, 7)], "k long, tok long"
    )
    out = {
        r["k"]: r
        for r in sampling.pack_shards(
            df, "k", "tok", budget=10, block_size=2
        ).collect()
    }
    assert [out[i]["cum_tokens"] for i in range(1, 7)] == [5, 10, 15, 20, 25, 30]
    assert [out[i]["shard"] for i in range(1, 7)] == [0, 0, 1, 1, 2, 2]


def test_pack_shards_block_size_invariance(spark):
    """The distributed prefix-sum must be a pure implementation detail:
    any block_size yields the identical packing."""
    import random

    rng = random.Random(11)
    df = spark.createDataFrame(
        [(i * 7 + 3, rng.randrange(1, 400)) for i in range(300)],
        "k long, tok long",
    )
    ref = sorted(
        (
            (r["k"], r["cum_tokens"], r["shard"])
            for r in sampling.pack_shards(
                df, "k", "tok", budget=1000, block_size=1
            ).collect()
        )
    )
    for bs in (3, 64, 10**9):
        got = sorted(
            (
                (r["k"], r["cum_tokens"], r["shard"])
                for r in sampling.pack_shards(
                    df, "k", "tok", budget=1000, block_size=bs
                ).collect()
            )
        )
        assert got == ref, bs


def test_pack_shards_superblock_invariance_and_cap(spark):
    """The two-level prefix sum (round 7: driver holds only SUPERBLOCK
    totals) is an implementation detail: any (block_size,
    superblock_factor) pair — including the adversarial block_size=1,
    where every row is its own block and the superblock level does all
    the lifting — yields the identical packing. The driver cap fails
    loudly, not with an OOM."""
    import random

    import pytest as _pytest

    from tcga_query_project_spark.operators import sampling as sm

    rng = random.Random(23)
    df = spark.createDataFrame(
        [(i * 3 + 1, rng.randrange(1, 200)) for i in range(257)],
        "k long, tok long",
    )
    ref = sorted(
        (r["k"], r["cum_tokens"], r["shard"])
        for r in sampling.pack_shards(
            df, "k", "tok", budget=700, block_size=10**9
        ).collect()
    )
    for bs, sbf in ((1, 1), (1, 2), (1, 7), (4, 3), (64, 1)):
        got = sorted(
            (r["k"], r["cum_tokens"], r["shard"])
            for r in sampling.pack_shards(
                df, "k", "tok", budget=700, block_size=bs,
                superblock_factor=sbf,
            ).collect()
        )
        assert got == ref, (bs, sbf)
    # the default path is LAZY since round 12 (distributed superblock
    # prefix sum): building the packing plan must not run the cap's
    # eager collect — and must agree with the eager return_total path
    lazy = sorted(
        (r["k"], r["cum_tokens"], r["shard"])
        for r in sampling.pack_shards(
            df, "k", "tok", budget=700, block_size=1, superblock_factor=1
        ).collect()
    )
    assert lazy == ref
    # cap: applies to the EAGER path only (return_total=True — the PPS
    # sampler needs the grand total as a driver literal). Fabricate a
    # tiny cap via monkeypatching the module constant; fails loudly,
    # not with an OOM.
    orig = sm._MAX_DRIVER_SUPERBLOCKS
    try:
        sm._MAX_DRIVER_SUPERBLOCKS = 10
        with _pytest.raises(ValueError, match="superblocks exceed"):
            sampling.pack_shards(
                df, "k", "tok", budget=700, block_size=1,
                superblock_factor=1, return_total=True,
            )
    finally:
        sm._MAX_DRIVER_SUPERBLOCKS = orig
    # eager path still packs identically and reports the exact total
    packed_eager, total = sampling.pack_shards(
        df, "k", "tok", budget=700, block_size=4, superblock_factor=3,
        return_total=True,
    )
    got_eager = sorted(
        (r["k"], r["cum_tokens"], r["shard"]) for r in packed_eager.collect()
    )
    assert got_eager == ref
    assert total == max(c for _, c, _ in ref)


def test_pack_shards_overrun_bound(spark):
    """Each shard's token total may exceed the budget by at most one
    document's tokens (the straddler), never more."""
    import random

    rng = random.Random(5)
    df = spark.createDataFrame(
        [(i, rng.randrange(1, 300)) for i in range(500)], "k long, tok long"
    )
    out = sampling.pack_shards(df, "k", "tok", budget=1000, block_size=128)
    stats = (
        out.groupBy("shard")
        .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    for r in stats:
        assert r["tot"] <= 1000 + r["mx"]


def test_write_training_shards_layout(spark, tmp_path):
    """One file per shard dir, deterministic in-file order, lossless
    round-trip."""
    import glob

    from tcga_query_project_spark.sources.io import write_training_shards

    df = spark.createDataFrame(
        [(i, 50) for i in range(40)], "k long, tok long"
    )
    packed = sampling.pack_shards(df, "k", "tok", budget=500, block_size=8)
    out = str(tmp_path / "shards")
    write_training_shards(packed, out, order_cols=["k"])

    dirs = sorted(glob.glob(out + "/shard=*"))
    n_shards = packed.select("shard").distinct().count()
    assert len(dirs) == n_shards == 4  # 40*50 tokens / 500
    for d in dirs:
        files = [f for f in glob.glob(d + "/*") if f.endswith(".parquet")]
        assert len(files) == 1, d

    back = spark.read.parquet(out)
    assert back.count() == 40
    got = sorted(
        (r["k"], r["shard"], r["cum_tokens"]) for r in back.collect()
    )
    want = sorted(
        (r["k"], r["shard"], r["cum_tokens"]) for r in packed.collect()
    )
    assert got == want
    # in-file order is k order (deterministic loader contract)
    import pyarrow.parquet as pq

    for d in dirs:
        f = [x for x in glob.glob(d + "/*") if x.endswith(".parquet")][0]
        ks = pq.read_table(f).column("k").to_pylist()
        assert ks == sorted(ks)


def test_sample_mixture_null_semantics(spark):
    df = spark.createDataFrame(
        [(1, "web"), (2, None), (None, "web")],
        "doc_id long, domain string",
    )
    out = sampling.sample_mixture(df, "domain", {"web": 2.0}, "doc_id")
    rows = [(r["doc_id"], r["copy_idx"]) for r in out.collect()]
    # null domain and null key both drop; weight-2 doc gets 2 copies
    assert sorted(rows) == [(1, 0), (1, 1)]


def test_prepare_training_corpus_decontaminates(spark):
    from tcga_query_project_spark.pipelines.corpus_prep import (
        prepare_training_corpus,
    )

    good = ("the quick brown fox jumps over the lazy dog and then it "
            "runs far away to the old stone bridge where it is resting "
            "now while the tired hunter is walking home this evening")
    other = ("the small boat is drifting near the shore and the wind "
             "is pushing it along while the birds are calling out over "
             "the water in the bright cold morning air today again")
    docs = spark.createDataFrame(
        [(1, good), (2, other)], "doc_id long, text string"
    )
    evals = spark.createDataFrame([(900, good)], "doc_id long, text string")
    out = prepare_training_corpus(
        docs, max_tokens=16, shard_budget=64, block_size=2,
        decontaminate_against=evals, decontaminate_threshold=0.5,
    )
    assert {r["doc_id"] for r in out.collect()} == {2}


# ---------------------------------------------------------------------------
# pps_systematic_sample (integer-grid weighted sampling)
# ---------------------------------------------------------------------------


def _pps_local(rows, k, r):
    """Pure-python replay of the grid rule on (key, w) rows."""
    rows = sorted((key, max(w or 0, 0)) for key, w in rows if key is not None)
    total = sum(w for _, w in rows)
    out = {}
    cum = 0
    for key, w in rows:
        prev = cum
        cum += w
        hits = (cum * k + r) // total - (prev * k + r) // total
        if hits > 0:
            out[key] = (w, cum, hits)
    return out


def test_pps_exactly_k_slots_and_local_replay(spark):
    """Σ n_hits == k exactly for any weight shape, and every row's
    (weight, cum, hits) matches the pure-python grid replay."""
    import random

    from tcga_query_project_spark.functions.scalar import md5_prefix_long
    from tcga_query_project_spark.operators.sampling import (
        pps_systematic_sample,
    )

    rng = random.Random(11)
    rows = [(i, rng.randint(0, 50)) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "key long, w long")
    got = {
        r["key"]: (r["weight"], r["cum_weight"], r["n_hits"])
        for r in pps_systematic_sample(
            df, "key", "w", 37, salt="s1"
        ).collect()
    }
    total = sum(w for _, w in rows)
    r_off = (
        spark.range(1)
        .select((md5_prefix_long(F.lit("s1")) % total).alias("r"))
        .collect()[0]["r"]
    )
    want = _pps_local(rows, 37, r_off)
    assert got == want
    assert sum(h for _, _, h in got.values()) == 37


def test_pps_inclusion_tracks_weight(spark):
    """Expected hits per row = k*w/total; the systematic grid realizes
    floor/ceil of that — check every sampled row is within 1 of its
    expectation and heavy rows carry multiplicity."""
    from tcga_query_project_spark.operators.sampling import (
        pps_systematic_sample,
    )

    rows = [(1, 500), (2, 250), (3, 125), (4, 125)] + [
        (i, 0) for i in range(5, 20)
    ]
    df = spark.createDataFrame(rows, "key long, w long")
    got = {
        r["key"]: r["n_hits"]
        for r in pps_systematic_sample(df, "key", "w", 8, salt="x").collect()
    }
    assert sum(got.values()) == 8
    assert set(got) <= {1, 2, 3, 4}  # zero-weight rows never sampled
    for key, w in rows[:4]:
        exp = 8 * w / 1000
        assert abs(got.get(key, 0) - exp) <= 1, (key, got)


def test_pps_null_and_negative_weights_and_keys(spark):
    from tcga_query_project_spark.operators.sampling import (
        pps_systematic_sample,
    )

    rows = [(1, 10), (2, None), (3, -5), (None, 100), (4, 10)]
    df = spark.createDataFrame(rows, "key long, w long")
    got = {
        r["key"]: r["n_hits"]
        for r in pps_systematic_sample(df, "key", "w", 4, salt="n").collect()
    }
    # NULL key dropped entirely; NULL/negative weights clamp to 0
    assert set(got) <= {1, 4} and sum(got.values()) == 4


def test_pps_two_level_prefix_sum_block_invariance(spark):
    """The sample must be IDENTICAL under an adversarially small block
    size (every row its own block, superblocks of 2 — maximal stress on
    the distributed prefix-sum path) vs the default layout."""
    import random

    from tcga_query_project_spark.operators.sampling import (
        pps_systematic_sample,
    )

    rng = random.Random(5)
    rows = [(i, rng.randint(1, 9)) for i in range(1, 200)]
    df = spark.createDataFrame(rows, "key long, w long")
    a = pps_systematic_sample(df, "key", "w", 21, salt="b").collect()
    b = pps_systematic_sample(
        df, "key", "w", 21, salt="b", block_size=1, superblock_factor=2
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pps_overflow_guard_raises_in_plan(spark):
    import pytest

    from tcga_query_project_spark.operators.sampling import (
        pps_systematic_sample,
    )

    df = spark.createDataFrame([(1, 2**60), (2, 2**60)], "key long, w long")
    with pytest.raises(Exception, match="overflow|coarsen"):
        pps_systematic_sample(df, "key", "w", 100).collect()

    with pytest.raises(ValueError, match="k must be"):
        pps_systematic_sample(df, "key", "w", 0)


def test_pack_shards_return_total_equals_sum(spark):
    """return_total exposes the grand total the superblock roll-up
    already computed — must equal the exact weight sum (and 0 on empty
    input) without any extra scan of the input."""
    rows = [(i, i % 7) for i in range(1, 100)]
    df = spark.createDataFrame(rows, "key long, w long")
    out, total = sampling.pack_shards(
        df, "key", "w", budget=50, return_total=True
    )
    assert total == sum(w for _, w in rows)
    assert out.agg(F.max("cum_tokens")).collect()[0][0] == total
    _, zero = sampling.pack_shards(
        spark.createDataFrame([], "key long, w long"),
        "key", "w", budget=50, return_total=True,
    )
    assert zero == 0


def test_dsir_select_matches_python(spark):
    """DSIR importance weights + Gumbel-top-k vs a direct python
    recompute: hashed uni+bigram features, the integer-ratio smoothed
    LLR, md5-deterministic Gumbel keys, exact top-k membership with
    doc_id tiebreak; no-token docs absent from the output."""
    import hashlib
    import math
    from collections import Counter

    docs = [
        (1, "the cat sat on the mat", True),
        (2, "stock market crash data", False),
        (3, "the dog sat on the rug", True),
        (4, "cat cat cat", False),
        (5, "", True),
        (6, None, False),
        (7, "the cat sat", False),
    ]
    df = spark.createDataFrame(docs, "doc_id long, body string, is_t boolean")
    out = {
        r["doc_id"]: r
        for r in sampling.dsir_select(
            df, "doc_id", "body", "is_t", k=2, n_buckets=64
        ).collect()
    }
    assert 5 not in out and 6 not in out

    B = 64

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def feats(t):
        ts = [x for x in t.lower().strip().split() if x]
        return [
            h(f) % B
            for f in ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]
        ]

    raw, tgt = Counter(), Counter()
    for _, t, m in docs:
        if not t:
            continue
        for b in feats(t):
            raw[b] += 1
            if m:
                tgt[b] += 1
    r_tot, t_tot = sum(raw.values()), sum(tgt.values())
    keys = {}
    for i, t, _ in docs:
        if not t:
            continue
        fs = feats(t)
        lw = round(
            sum(
                math.log(
                    ((2 * tgt[b] + 1) * (2 * r_tot + B))
                    / ((2 * raw[b] + 1) * (2 * t_tot + B))
                )
                for b in fs
            ),
            6,
        )
        u = (h("dsir" + str(i)) + 0.5) / 2**32
        keys[i] = round(lw + round(-math.log(-math.log(u)), 6), 6)
        assert out[i]["n_feats"] == len(fs)
        assert out[i]["log_weight"] == lw
        assert out[i]["sel_key"] == keys[i]
    want_sel = {
        i for _, i in sorted(((-k_, i) for i, k_ in keys.items()))[:2]
    }
    assert {i for i in out if out[i]["selected"]} == want_sel
    # target docs score higher than the anti-target outlier
    assert out[1]["log_weight"] > out[2]["log_weight"]
    # zero-target corpus: ratio degrades to uniform, weights ~0, total
    notgt = spark.createDataFrame(
        [(1, "a b c", False), (2, "d e f", False)],
        "doc_id long, body string, is_t boolean",
    )
    rows = sampling.dsir_select(
        notgt, "doc_id", "body", "is_t", k=1, n_buckets=16
    ).collect()
    assert len(rows) == 2 and sum(r["selected"] for r in rows) == 1


# =========================================================================
# Round-11 adversarial fuzz grid (round-10 verdict item 5): hypothesis-
# generated weight/token shapes through the distributed prefix-sum
# machinery — zero-weight rows and strata, single-row and empty inputs,
# heavy skew (one row carrying ~all mass), sparse keys straddling block
# boundaries, and the superblock_factor=1 edge (every block its own
# superblock). Soak dials shared with tests/test_fuzz_parity.py.
# =========================================================================

import os as _os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_FUZZ_EXAMPLES = int(_os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "5"))
_FUZZ_SETTINGS = dict(
    max_examples=_FUZZ_EXAMPLES,
    deadline=None,
    derandomize=_os.environ.get("SPARK_GRAFT_FUZZ_SOAK", "") == "",
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: (key, weight) rows: unique keys spread across block boundaries (keys
#: up to 3M vs block_size down to 2), weights zero-heavy with one
#: optional skew spike
_kw_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3_000_000),
        st.one_of(
            st.just(0),
            st.integers(0, 9),
            st.integers(10_000, 50_000),  # skew spikes
        ),
    ),
    min_size=0,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(rows=_kw_rows, budget=st.integers(1, 60),
       block_size=st.sampled_from([2, 64, 1 << 20]),
       superblock_factor=st.sampled_from([1, 2, 1 << 12]))
@settings(**_FUZZ_SETTINGS)
def test_fuzz_pack_shards_matches_python_prefix_sum(
    spark, rows, budget, block_size, superblock_factor
):
    df = spark.createDataFrame(rows or [], "k long, tok long")
    got = {
        r["k"]: (r["cum_tokens"], r["shard"])
        for r in sampling.pack_shards(
            df, "k", "tok", budget=budget, block_size=block_size,
            superblock_factor=superblock_factor,
        ).collect()
    }
    cum = 0
    want = {}
    for k_, tok in sorted(rows):
        want[k_] = (cum + tok, (cum) // budget)
        cum += tok
    assert got == want


@given(rows=_kw_rows, k=st.integers(1, 25),
       block_size=st.sampled_from([2, 1 << 20]),
       superblock_factor=st.sampled_from([1, 1 << 12]))
@settings(**_FUZZ_SETTINGS)
def test_fuzz_pps_matches_local_replay_and_madow_bounds(
    spark, rows, k, block_size, superblock_factor
):
    """Differential vs the pure-python grid replay, plus the two Madow
    systematic-PPS contracts on every shape: Σ n_hits == k whenever any
    mass exists (empty result on zero total), and each row's hit count
    within the systematic bounds ⌊w·k/total⌋ ≤ n_hits ≤ ⌈w·k/total⌉."""
    import hashlib

    df = spark.createDataFrame(rows or [], "key long, w long")
    got = {
        r["key"]: (r["weight"], r["cum_weight"], r["n_hits"])
        for r in sampling.pps_systematic_sample(
            df, "key", "w", k, salt="fz", block_size=block_size,
            superblock_factor=superblock_factor,
        ).collect()
    }
    total = sum(max(w, 0) for _, w in rows)
    if total == 0:
        assert got == {}
        return
    r_off = int(hashlib.md5(b"fz").hexdigest()[:8], 16) % total
    assert got == _pps_local(rows, k, r_off)
    assert sum(h for _, _, h in got.values()) == k
    wmap = dict(rows)
    for key_, (w, _, h) in got.items():
        assert w == max(wmap[key_], 0)
        lo = (w * k) // total
        hi = -((-w * k) // total)  # ceil
        assert lo <= h <= hi, (key_, w, h, lo, hi)
    # zero-weight rows are never hit
    assert all(w > 0 for w, _, _ in got.values())
