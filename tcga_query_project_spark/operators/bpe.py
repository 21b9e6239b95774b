"""Byte-pair-encoding tokenizer: train on a distributed word
histogram, encode with Arrow-batched greedy merges.

The real thing, not the regex approximation (`text.bpe_tokens` remains
the cheap token-COUNT estimator): merge learning follows Sennrich,
Haddow & Birch, "Neural Machine Translation of Rare Words with Subword
Units" (ACL 2016) — start from characters, repeatedly merge the most
frequent adjacent symbol pair — and encoding follows the GPT-2/HF
convention of applying learned merges greedily in rank order per word.

Scale shape (the part that must survive 100 TB):

- **Training reduces to a word histogram.** BPE statistics depend only
  on ``(distinct pre-token, count)`` — two identical words contribute
  identically — so the corpus-sized work is ONE hash-aggregate shuffle
  (map-side partial counts of pre-tokens). That histogram is
  dimension-sized (natural-language vocabularies plateau in the low
  millions regardless of corpus size; Heaps' law) and is capped by
  ``max_words`` (highest-frequency words, TakeOrdered — the tail it
  drops is the tail whose pair mass cannot influence early merges).
  Every production trainer (HF tokenizers, sentencepiece, the original
  subword-nmt) iterates merges on exactly this in-memory histogram;
  the cluster's job is building it. Same eager dimension-sized-driver
  contract as ``stats.vst_fitted`` / ``sampling.pack_shards``.
- **Merge learning is incremental on the driver.** Naive per-round
  recounting is O(vocab · rounds); this implementation updates pair
  counts only for the words that contain the merged pair (indexed
  pair → word set), the subword-nmt optimization — seconds for 10k
  merges over a 1M-word histogram.
- **Encoding is embarrassingly parallel.** The merge table is a few
  hundred KB broadcast; each document encodes independently inside an
  Arrow-batched ``mapInPandas`` with a per-batch word memo (Zipf: a
  batch's distinct-word count is far below its token count, so the
  greedy loop runs once per distinct word, not once per occurrence).

Determinism: pair-count ties break on the lexicographically smallest
pair, so the learned merge sequence — and therefore every encoding —
is reproducible across runs, engines, and partitionings.

Reference analog: none (the reference has no tokenizer); this serves
the LLM-data-pipeline surface the brief adds alongside
``text.build_vocab`` (whole-word ids) and ``text.chunk_documents``.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcga_query_project_spark.operators.text import bpe_tokens

#: end-of-word marker, appended as a separate symbol to each word before
#: merge learning (Sennrich convention: lets the tokenizer distinguish
#: word-final subwords, and makes decode = concat + split on marker).
EOW = "</w>"


def word_histogram(
    df: DataFrame, text_col: str, max_words: int, min_freq: int = 1
) -> DataFrame:
    """``(word, freq)`` for the ``max_words`` most frequent pre-tokens
    (``text.bpe_tokens`` pre-tokenization: alphanumeric runs or single
    punctuation marks). ONE corpus shuffle; the frequency cut plans as
    TakeOrderedAndProject. Deterministic under ties (freq DESC, word
    ASC)."""
    return (
        df.select(F.explode(bpe_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.col("freq") >= min_freq)
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(max_words)
    )


def _learn_merges(
    hist: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Sennrich merge learning with incremental pair-count maintenance.

    ``hist``: (word, freq) pairs. Returns the ordered merge list; stops
    early when no pair occurs twice (merging singletons only memorizes
    the histogram)."""
    words: list[list[str]] = [list(w) + [EOW] for w, _ in hist]
    freqs: list[int] = [f for _, f in hist]

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, syms in enumerate(words):
        f = freqs[i]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] += f
            pair_words[(a, b)].add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not pair_counts:
            break
        # max by count, lexicographically smallest pair on ties —
        # deterministic regardless of dict iteration order
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        for i in list(pair_words[best]):
            syms, f = words[i], freqs[i]
            # remove the word's old pair contributions
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] -= f
                if pair_counts[(a, b)] <= 0:
                    del pair_counts[(a, b)]
                pair_words[(a, b)].discard(i)
            # apply the merge left-to-right
            out: list[str] = []
            j = 0
            while j < len(syms):
                if (
                    j + 1 < len(syms)
                    and syms[j] == best[0]
                    and syms[j + 1] == best[1]
                ):
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = out
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] += f
                pair_words[(a, b)].add(i)
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int = 1000,
    max_words: int = 1_000_000,
    min_freq: int = 1,
) -> DataFrame:
    """Learn a BPE merge table from the corpus. Returns ``(rank BIGINT,
    left STRING, right STRING, merged STRING)`` — rank 0 is the first
    (most frequent) merge; the table is the whole tokenizer state and
    is dimension-sized (``num_merges`` rows) by construction.

    One corpus shuffle (the word histogram); merge learning runs on the
    collected histogram under the documented dimension-sized-driver
    contract (module docstring).
    """
    hist = [
        (r["word"], r["freq"])
        for r in word_histogram(df, text_col, max_words, min_freq).collect()
    ]
    merges = _learn_merges(hist, num_merges)
    spark = df.sparkSession
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, schema="rank bigint, left string, right string, merged string"
    )


def _encode_word(
    word: str, ranks: dict[tuple[str, str], int], eow: bool = True
) -> list[str]:
    """Greedy rank-order merge application (GPT-2 convention): repeatedly
    merge the lowest-ranked adjacent pair present in the word.
    ``eow=False`` encodes a word-INTERIOR span (no end marker) — used
    for the fixed-size spans long pre-tokens split into."""
    syms = list(word) + ([EOW] if eow else [])
    while len(syms) > 1:
        pairs = [(a, b) for a, b in zip(syms, syms[1:])]
        ranked = [(ranks[p], p) for p in pairs if p in ranks]
        if not ranked:
            break
        _, best = min(ranked)
        out: list[str] = []
        j = 0
        while j < len(syms):
            if (
                j + 1 < len(syms)
                and syms[j] == best[0]
                and syms[j + 1] == best[1]
            ):
                out.append(best[0] + best[1])
                j += 2
            else:
                out.append(syms[j])
                j += 1
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    id_col: str,
    text_col: str,
    max_word_len: int = 512,
) -> DataFrame:
    """Tokenize each document with a learned merge table:
    ``(id_col, pieces ARRAY<STRING>, n_pieces BIGINT)``.

    Plan: the merge table collects to a rank dict (dimension-sized —
    it IS the tokenizer) and ships via an explicit SparkContext
    broadcast; documents stream through one Arrow-batched
    ``mapInPandas`` pass — zero shuffles, linear in corpus size. A
    per-batch word memo exploits Zipf repetition so the greedy merge
    loop runs once per distinct word per batch.

    ``max_word_len``: pre-tokens longer than this (pathological
    unbroken runs; real prose has none) are split into fixed-size
    spans before encoding, bounding the O(len²) worst case of the
    greedy loop per span. Decode remains concat-based: spans carry no
    extra marker, so the pieces of a split word concatenate back to
    the original word + one EOW.
    """
    import re

    ranks = {
        (r["left"], r["right"]): r["rank"] for r in merges.collect()
    }
    sc = df.sparkSession.sparkContext
    b_ranks = sc.broadcast(ranks)
    pat = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")
    # id passes through untouched, so its Arrow type must match the
    # input exactly — a hardcoded `long` would fail (or silently
    # miscast) string/int id columns
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, pieces array<string>, n_pieces long"

    def run(batches):
        import pandas as pd

        rk = b_ranks.value
        memo: dict[tuple[str, bool], list[str]] = {}

        def enc_word(w: str, eow: bool = True) -> list[str]:
            got = memo.get((w, eow))
            if got is None:
                got = _encode_word(w, rk, eow)
                memo[(w, eow)] = got
            return got

        for pdf in batches:
            ids, pieces, counts = [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                doc: list[str] = []
                for w in pat.findall(txt or ""):
                    if len(w) > max_word_len:
                        # interior spans encode WITHOUT the end marker
                        # (a merged piece can embed EOW, so stripping
                        # it post-hoc would be wrong); only the final
                        # span carries it
                        for s in range(0, len(w), max_word_len):
                            span = w[s : s + max_word_len]
                            doc.extend(
                                enc_word(span, s + max_word_len >= len(w))
                            )
                    else:
                        doc.extend(enc_word(w))
                ids.append(i)
                pieces.append(doc)
                counts.append(len(doc))
            yield pd.DataFrame(
                {id_col: ids, "pieces": pieces, "n_pieces": counts}
            )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)
