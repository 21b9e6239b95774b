"""BPE tokenizer: merge learning, encoding, vocabulary, round-trip.

The reference implementation for the learner is a from-scratch naive
recount (re-tally every pair each round) — a different algorithm whose
agreement pins the incremental pair-count maintenance; the reference
for distributed encode is the driver-side greedy loop itself.
"""

from __future__ import annotations

import random
import re
from collections import Counter

from tcga_query_project_spark.operators import bpe
from tcga_query_project_spark.operators.bpe import (
    EOW,
    _encode_word,
    _learn_merges,
)

PAT = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")


def naive_learn(hist, num_merges):
    """Textbook Sennrich loop: full pair recount every round."""
    words = [list(w) + [EOW] for w, _ in hist]
    freqs = [f for _, f in hist]
    merges = []
    for _ in range(num_merges):
        counts: Counter = Counter()
        for syms, f in zip(words, freqs):
            for p in zip(syms, syms[1:]):
                counts[p] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        merges.append(best)
        for i, syms in enumerate(words):
            out, j = [], 0
            while j < len(syms):
                if (
                    j + 1 < len(syms)
                    and (syms[j], syms[j + 1]) == best
                ):
                    out.append(best[0] + best[1])
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = out
    return merges


def test_learner_matches_naive_recount_on_random_histograms():
    rng = random.Random(11)
    alphabet = "abcdef"
    for trial in range(5):
        hist = [
            (
                "".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randrange(1, 9))
                ),
                rng.randrange(1, 40),
            )
            for _ in range(60)
        ]
        # dedupe words (histograms have distinct keys by construction)
        seen = {}
        for w, f in hist:
            seen[w] = seen.get(w, 0) + f
        hist = sorted(seen.items())
        assert _learn_merges(hist, 40) == naive_learn(hist, 40), trial


def test_hand_worked_merges():
    """newest*6 + widest*3: 'es','est','est</w>' dominate ('e','s')=9
    first, then ('es','t')=9, then ('est','</w>')=9 — the classic
    worked example from the subword-units paper."""
    hist = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = _learn_merges(hist, 3)
    assert merges == [("e", "s"), ("es", "t"), ("est", EOW)]


def test_encode_word_greedy_rank_order():
    ranks = {("e", "s"): 0, ("es", "t"): 1, ("est", EOW): 2, ("l", "o"): 3}
    assert _encode_word("newest", ranks) == ["n", "e", "w", "est" + EOW]
    assert _encode_word("lowest", ranks) == ["lo", "w", "est" + EOW]
    # no applicable merges -> chars + EOW
    assert _encode_word("hi", ranks) == ["h", "i", EOW]


def test_train_and_encode_end_to_end(spark):
    docs = spark.createDataFrame(
        [
            (1, "the lowest newest widest low low low"),
            (2, "newest newest newest lower the low"),
            (3, "the the the newest low widest"),
        ],
        "doc_id long, text string",
    )
    merges = bpe.bpe_train(docs, "text", num_merges=30, max_words=1000)
    mrows = merges.collect()
    assert [r["rank"] for r in mrows] == list(range(len(mrows)))
    assert all(r["merged"] == r["left"] + r["right"] for r in mrows)

    enc = bpe.bpe_encode(docs, merges, "doc_id", "text").collect()
    assert {r["doc_id"] for r in enc} == {1, 2, 3}
    ranks = {(r["left"], r["right"]): r["rank"] for r in mrows}
    for r in enc:
        text = [x["text"] for x in docs.collect() if x["doc_id"] == r["doc_id"]][0]
        expect = []
        for w in PAT.findall(text):
            expect.extend(_encode_word(w, ranks))
        assert r["pieces"] == expect
        assert r["n_pieces"] == len(expect)


def test_decode_round_trips_modulo_pretokenization(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello, world! don't   panic"),
            (2, "numbers 123 and CamelCase mix-ups."),
        ],
        "doc_id long, text string",
    )
    merges = bpe.bpe_train(docs, "text", num_merges=20, max_words=1000)
    enc = bpe.bpe_encode(docs, merges, "doc_id", "text")
    # decode: concatenate the pieces, each end-of-word marker becomes a space
    dec = {r["doc_id"]: "".join(r["pieces"]).replace(EOW, " ").strip(" ") for r in enc.collect()}
    for r in docs.collect():
        assert dec[r["doc_id"]] == " ".join(PAT.findall(r["text"]))


def test_long_word_spans_single_trailing_eow(spark):
    long_word = "ab" * 40  # 80 chars, split at 32
    docs = spark.createDataFrame(
        [(1, long_word), (2, "ab ab ab ab")], "doc_id long, text string"
    )
    merges = bpe.bpe_train(docs, "text", num_merges=10, max_words=100)
    enc = {
        r["doc_id"]: r["pieces"]
        for r in bpe.bpe_encode(
            docs, merges, "doc_id", "text", max_word_len=32
        ).collect()
    }
    joined = "".join(enc[1])
    # exactly one EOW, at the very end; concat restores the word
    assert joined == long_word + EOW
    assert sum(p.count(EOW) for p in enc[1]) == 1


def test_encode_partitioning_invariant(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    merges = bpe.bpe_train(docs, "text", num_merges=50, max_words=5000)
    one = bpe.bpe_encode(docs.coalesce(1), merges, "doc_id", "text")
    many = bpe.bpe_encode(docs.repartition(16), merges, "doc_id", "text")
    a = {r["doc_id"]: r["pieces"] for r in one.collect()}
    b = {r["doc_id"]: r["pieces"] for r in many.collect()}
    assert a == b
    # training is deterministic too
    again = bpe.bpe_train(docs, "text", num_merges=50, max_words=5000)
    assert merges.collect() == again.collect()


def test_vocab_covers_every_emitted_merged_piece(spark):
    """Every multi-symbol piece the encoder emits is a symbol of the
    merge table (born of a merge), so the table is its vocabulary."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    merges = bpe.bpe_train(docs, "text", num_merges=50, max_words=5000)
    pieces = {p for r in merges.collect() for p in (r["left"], r["right"], r["merged"])}
    enc = bpe.bpe_encode(docs.limit(50), merges, "doc_id", "text")
    emitted = {
        p
        for r in enc.collect()
        for p in r["pieces"]
        if len(p.replace(EOW, "?")) > 1  # multi-symbol => born of a merge
    }
    assert emitted <= pieces


def test_encode_preserves_non_long_id_types(spark):
    """bpe_encode's output schema must carry the input id type through
    (string ids are the common corpus case); a hardcoded `long` would
    fail at Arrow conversion."""
    docs = spark.createDataFrame(
        [("doc-a", "low lower lowest"), ("doc-b", "new newest")],
        "doc_id string, text string",
    )
    merges = bpe.bpe_train(docs, "text", num_merges=10, max_words=100)
    enc = bpe.bpe_encode(docs, merges, "doc_id", "text")
    assert dict(enc.dtypes)["doc_id"] == "string"
    got = {r["doc_id"]: r["n_pieces"] for r in enc.collect()}
    assert set(got) == {"doc-a", "doc-b"}
    assert all(n > 0 for n in got.values())

    idocs = spark.createDataFrame(
        [(7, "low lower lowest")], "doc_id int, text string"
    )
    ienc = bpe.bpe_encode(idocs, merges, "doc_id", "text")
    assert dict(ienc.dtypes)["doc_id"] == "int"
    assert ienc.count() == 1
