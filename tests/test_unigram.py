"""Unigram-LM tokenizer (operators/unigram): forward-backward expected
counts and Viterbi segmentation are verified against brute-force
enumeration over ALL segmentations — the ground truth the dynamic
programs must match on any vocab — plus EM-monotonicity, round-trip,
totality, and partitioning-invariance properties."""

from __future__ import annotations

import itertools
import math

import pytest

from tcga_query_project_spark.operators import unigram
from tcga_query_project_spark.operators.unigram import (
    MARKER,
    _forward_backward,
    _viterbi,
)


def all_segmentations(w: str, vocab) -> list[list[str]]:
    """Every way to split w into pieces from vocab (brute force)."""
    n = len(w)
    out = []
    for cuts in itertools.product([0, 1], repeat=n - 1):
        bounds = [0] + [i + 1 for i, c in enumerate(cuts) if c] + [n]
        pieces = [w[a:b] for a, b in zip(bounds, bounds[1:])]
        if all(p in vocab for p in pieces):
            out.append(pieces)
    return out


VOCAB = {
    "a": math.log(0.2),
    "b": math.log(0.1),
    "ab": math.log(0.3),
    "ba": math.log(0.15),
    "aba": math.log(0.25),
}


def test_forward_backward_matches_enumeration():
    w = "abab"
    segs = all_segmentations(w, VOCAB)
    probs = [math.exp(sum(VOCAB[p] for p in s)) for s in segs]
    z_brute = math.log(sum(probs))
    want_counts = {}
    for s, pr in zip(segs, probs):
        for p in s:
            want_counts[p] = want_counts.get(p, 0.0) + pr * s.count(p) / s.count(p)
    # expected count of piece = sum over segs of (occurrences * P(seg))/Z
    want = {}
    for s, pr in zip(segs, probs):
        for p in set(s):
            want[p] = want.get(p, 0.0) + s.count(p) * pr
    want = {p: c / math.exp(z_brute) for p, c in want.items()}

    got_counts, z = _forward_backward(w, VOCAB, max_len=4)
    assert z == pytest.approx(z_brute, abs=1e-12)
    assert set(got_counts) == set(want)
    for p in want:
        assert got_counts[p] == pytest.approx(want[p], abs=1e-12), p


def test_viterbi_is_argmax_of_enumeration():
    for w in ["abab", "aab", "abba", "aaaa", "bbb"]:
        segs = all_segmentations(w, VOCAB)
        if not segs:
            continue
        best_score = max(sum(VOCAB[p] for p in s) for s in segs)
        got = _viterbi(w, VOCAB, max_len=4)
        assert sum(VOCAB[p] for p in got) == pytest.approx(
            best_score, abs=1e-12
        ), w


def test_viterbi_unknown_chars_are_total():
    got = _viterbi("axb", {"a": -1.0, "b": -1.0}, max_len=4)
    assert got == ["a", "x", "b"]  # x falls back to a single UNK char


def test_em_loglik_is_monotone():
    hist = [("abab", 5), ("ab", 10), ("ba", 3), ("abba", 2)]
    lp = unigram._seed_vocab(hist, seed_size=50, max_piece_len=4)
    last = None
    for _ in range(5):
        lp, ll = unigram._em_round(hist, lp, max_len=4)
        if last is not None:
            assert ll >= last - 1e-9  # EM never decreases likelihood
        last = ll


def test_em_round_survives_subnormal_expected_counts():
    # regression (round 8, found by the native Heaps-vocab benchmark
    # corpus): a piece reachable only through a ~e^-745 posterior path
    # gets a SUBNORMAL expected count — count > 0 but count/total
    # underflows to exactly 0.0, and the old log(count/total) form
    # crashed with a math domain error. The log(count)-log(total) form
    # is total; the starved piece lands at (or below) the -1e9 floor
    # magnitude rather than raising.
    m = unigram.MARKER
    lp = {m + "ab": -0.01, m + "a": -372.25, "b": -372.25, m + "cd": -0.01}
    hist = [("ab", 1), ("cd", 3)]
    new, _ll = unigram._em_round(hist, lp, max_len=8)
    assert set(new) == set(lp)
    assert all(math.isfinite(v) for v in new.values())
    assert new[m + "a"] <= math.log(5e-324) - math.log(1.0)  # starved


CORPUS = [
    (1, "the data spark pipeline runs the data"),
    (2, "spark pipeline data quality"),
    (3, "the quick brown fox"),
    (4, "data data data spark spark"),
]


def _decode(pieces):
    """Concatenate the pieces; each word-boundary marker becomes a space."""
    return "".join(pieces).replace(unigram.MARKER, " ").strip(" ")


def test_train_encode_decode_round_trip(spark):
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    model = unigram.unigram_train(df, "text", vocab_size=60, seed_size=200)
    rows = model.collect()
    assert len(rows) <= 200
    # probabilities normalized
    assert sum(math.exp(r["logprob"]) for r in rows) == pytest.approx(
        1.0, abs=1e-6
    )
    enc = unigram.unigram_encode(df, model, "doc_id", "text")
    dec = {r["doc_id"]: _decode(r["pieces"]) for r in enc.collect()}
    for doc_id, text in CORPUS:
        assert dec[doc_id] == text  # single-space corpus round-trips


def test_train_total_on_degenerate_corpus(spark):
    """Advisor r7: an empty or all-empty-text corpus must return an
    empty model, not crash with math domain error on log(0)."""
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert unigram.unigram_train(empty, "text", vocab_size=40).count() == 0
    blank = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id bigint, text string"
    )
    model = unigram.unigram_train(blank, "text", vocab_size=40)
    assert model.columns == ["piece", "logprob"]
    assert model.count() == 0
    # and encoding under the empty model is still total (UNK fallback)
    probe = spark.createDataFrame([(9, "ab")], "doc_id bigint, text string")
    row = unigram.unigram_encode(probe, model, "doc_id", "text").first()
    assert row["n_pieces"] > 0


def test_encode_totality_on_unseen_chars(spark):
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    model = unigram.unigram_train(df, "text", vocab_size=40, seed_size=100)
    probe = spark.createDataFrame(
        [(9, "zq7 unseen xylophone!!")], "doc_id bigint, text string"
    )
    row = unigram.unigram_encode(probe, model, "doc_id", "text").first()
    assert row["n_pieces"] > 0
    assert _decode(row["pieces"]) == "zq7 unseen xylophone ! !"  # pre-token form


def test_encode_partitioning_invariance(spark):
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    model = unigram.unigram_train(df, "text", vocab_size=50, seed_size=150)
    a = {
        r["doc_id"]: r["pieces"]
        for r in unigram.unigram_encode(df, model, "doc_id", "text").collect()
    }
    b = {
        r["doc_id"]: r["pieces"]
        for r in unigram.unigram_encode(
            df.repartition(7), model, "doc_id", "text"
        ).collect()
    }
    assert a == b


def test_frequent_word_becomes_one_piece(spark):
    """'data' dominates the corpus: the trained model must keep
    (MARKER + 'data') as a single piece and Viterbi must use it."""
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    model = unigram.unigram_train(df, "text", vocab_size=60, seed_size=200)
    pieces = {r["piece"] for r in model.collect()}
    assert MARKER + "data" in pieces
    enc = unigram.unigram_encode(
        spark.createDataFrame([(1, "data")], "doc_id bigint, text string"),
        model,
        "doc_id",
        "text",
    ).first()
    assert enc["pieces"] == [MARKER + "data"]
