"""Unigram-LM tokenizer (SentencePiece's default algorithm): train by
EM over a distributed word histogram, encode by Viterbi with a
broadcast piece table.

The second tokenizer family beside :mod:`.bpe`, following Kudo,
"Subword Regularization: Improving Neural Network Translation Models
with Multiple Subword Candidates" (ACL 2018): model a word as the
maximum-probability segmentation under a unigram distribution over
subword pieces; train the piece distribution with EM (each E-step
computes expected piece counts over ALL segmentations by
forward–backward); shrink an over-complete seed vocabulary until the
target size. Where BPE composes greedily bottom-up, the unigram model
segments top-down probabilistically — the two disagree exactly on the
ambiguous boundaries ("un-i-gram" vs "uni-gram") that motivate having
both families available.

Scale shape — identical contract to :mod:`.bpe`:

- **Training reduces to the word histogram.** Expected counts are
  linear in ``(distinct word, freq)``, never in corpus rows, so the
  corpus-sized work is the ONE hash-aggregate shuffle of
  :func:`.bpe.word_histogram`; EM then runs on the dimension-sized
  histogram on the driver (the same eager contract as ``bpe_train`` /
  ``stats.vst_fitted``, documented there). sentencepiece itself
  trains in-memory on exactly this statistic.
- **Encoding is embarrassingly parallel**: the ``(piece, logprob)``
  table is a few hundred KB broadcast; Viterbi runs per word inside
  one Arrow-batched ``mapInPandas`` pass with a per-batch word memo
  (Zipf), zero shuffles.

Deliberate simplifications, stated rather than hidden: pruning keeps
the highest-expected-count pieces (plus all single characters, which
guarantee totality) instead of sentencepiece's per-piece
loss-difference ranking, and there is no subword-regularization
sampling at encode time (Viterbi best path only). Both affect WHICH
near-tied pieces survive, not the model family or the dataflow shape.

Determinism: seed selection, EM, and pruning order ties
lexicographically; Viterbi breaks score ties toward fewer pieces then
lexicographically smaller first piece — encodings are reproducible
across runs, engines, and partitionings.

Reference analog: none (the reference has no tokenizer); serves the
LLM-data-pipeline surface alongside :mod:`.bpe`.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import DataFrame

from tcga_query_project_spark.operators.bpe import word_histogram

#: SentencePiece word-boundary marker: every word is encoded as
#: MARKER + word, so decode is concat + split-on-marker.
MARKER = "▁"  # ▁

#: log-prob floor for characters never seen in training (encode-time
#: totality: any string segments, unknown chars cost this much each).
UNK_LOGPROB = -20.0

#: Longest piece (in characters) the model seeds and Viterbi considers.
MAX_PIECE_LEN = 8


def _seed_vocab(
    hist: list[tuple[str, int]], seed_size: int, max_piece_len: int
) -> dict[str, float]:
    """Over-complete seed: all substrings (length <= max_piece_len) of
    marked words, scored by occurrence-frequency x length (the
    sentencepiece seed heuristic — long frequent substrings are the
    candidates worth keeping), truncated to ``seed_size`` plus ALL
    single characters. Returns initial log-probs (normalized log
    counts)."""
    counts: dict[str, float] = defaultdict(float)
    for word, freq in hist:
        w = MARKER + word
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(i + max_piece_len, n) + 1):
                counts[w[i:j]] += freq * (j - i)
    singles = {p for p in counts if len(p) == 1}
    multi = sorted(
        (p for p in counts if len(p) > 1),
        key=lambda p: (-counts[p], p),
    )[: max(seed_size - len(singles), 0)]
    seed = {p: counts[p] for p in singles}
    seed.update({p: counts[p] for p in multi})
    total = sum(seed.values())
    return {p: math.log(c / total) for p, c in seed.items()}


def _forward_backward(
    w: str, lp: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """Expected piece counts over ALL segmentations of ``w`` and the
    word's log-evidence (log Z). Pieces not in ``lp`` are not usable;
    caller guarantees single chars are (totality)."""
    n = len(w)
    NEG = -math.inf
    alpha = [NEG] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        acc = NEG
        for j in range(max(0, i - max_len), i):
            piece = w[j:i]
            p = lp.get(piece)
            if p is None or alpha[j] == NEG:
                continue
            cand = alpha[j] + p
            acc = cand if acc == NEG else (
                max(acc, cand) + math.log1p(math.exp(-abs(acc - cand)))
            )
        alpha[i] = acc
    z = alpha[n]
    if z == NEG:  # unsegmentable (char missing): contributes nothing
        return {}, NEG
    beta = [NEG] * (n + 1)
    beta[n] = 0.0
    for j in range(n - 1, -1, -1):
        acc = NEG
        for i in range(j + 1, min(j + max_len, n) + 1):
            piece = w[j:i]
            p = lp.get(piece)
            if p is None or beta[i] == NEG:
                continue
            cand = p + beta[i]
            acc = cand if acc == NEG else (
                max(acc, cand) + math.log1p(math.exp(-abs(acc - cand)))
            )
        beta[j] = acc
    exp_counts: dict[str, float] = defaultdict(float)
    for j in range(n):
        if alpha[j] == NEG:
            continue
        for i in range(j + 1, min(j + max_len, n) + 1):
            piece = w[j:i]
            p = lp.get(piece)
            if p is None or beta[i] == NEG:
                continue
            exp_counts[piece] += math.exp(alpha[j] + p + beta[i] - z)
    return exp_counts, z


def _em_round(
    hist: list[tuple[str, int]], lp: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """One EM iteration over the histogram: returns (new log-probs,
    corpus log-likelihood under the CURRENT model)."""
    agg: dict[str, float] = defaultdict(float)
    loglik = 0.0
    for word, freq in hist:
        counts, z = _forward_backward(MARKER + word, lp, max_len)
        if z == -math.inf:
            continue
        loglik += freq * z
        for piece, c in counts.items():
            agg[piece] += freq * c
    total = sum(agg.values())
    # log(count) - log(total), NOT log(count/total): an expected count
    # can be a subnormal (a piece reachable only through a ~e^-745
    # posterior path — seen on a 72k-word Heaps-vocab corpus), and the
    # ratio then underflows to exactly 0.0 even though count > 0,
    # crashing math.log. log() of a subnormal itself is finite (~-744).
    log_total = math.log(total) if total > 0 else 0.0
    new = {
        p: math.log(agg[p]) - log_total if agg.get(p, 0.0) > 0 else -1e9
        for p in lp
    }
    return new, loglik


def _viterbi(
    w: str, lp: dict[str, float], max_len: int
) -> list[str]:
    """Best segmentation; ties toward fewer pieces, then lexicographic.
    Characters absent from ``lp`` cost UNK_LOGPROB each (totality)."""
    n = len(w)
    # (score, -pieces_used, first_piece) maximized; store back-pointers
    best: list[tuple[float, int, str] | None] = [None] * (n + 1)
    back: list[int] = [0] * (n + 1)
    best[0] = (0.0, 0, "")
    for i in range(1, n + 1):
        cand_best = None
        cand_j = 0
        for j in range(max(0, i - max_len), i):
            if best[j] is None:
                continue
            piece = w[j:i]
            p = lp.get(piece)
            if p is None:
                if i - j > 1:
                    continue
                p = UNK_LOGPROB
            score = best[j][0] + p
            key = (score, best[j][1] - 1, piece)
            # maximize score, then fewer pieces (= larger -count),
            # then lexicographically smaller piece WINS a tie: invert
            # for max()
            if cand_best is None or (
                key[0],
                key[1],
                _neg_str(key[2]),
            ) > (
                cand_best[0],
                cand_best[1],
                _neg_str(cand_best[2]),
            ):
                cand_best = key
                cand_j = j
        best[i] = cand_best
        back[i] = cand_j
    pieces: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(w[j:i])
        i = j
    pieces.reverse()
    return pieces


class _neg_str(str):
    """Orders REVERSED relative to str — lets max() prefer the
    lexicographically smaller piece as the final tiebreak."""

    def __lt__(self, other):  # type: ignore[override]
        return str.__gt__(self, other)

    def __gt__(self, other):  # type: ignore[override]
        return str.__lt__(self, other)


def unigram_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 400,
    *,
    seed_size: int = 4000,
) -> DataFrame:
    """Train the unigram LM: seed an over-complete substring vocabulary
    (pieces up to ``MAX_PIECE_LEN`` characters) from the histogram of
    the 50,000 most frequent words, alternate 2 EM rounds with pruning
    (keep all single characters + the top expected-count multi-char
    pieces, shrinking to 3/4 per round) until ``vocab_size``. Returns
    ``(piece STRING, logprob DOUBLE)`` — the tokenizer model.

    The ONE corpus-sized job is the word histogram (module
    docstring); everything after runs on the collected dimension-sized
    histogram."""
    hist = [
        (r["word"], r["freq"])
        for r in word_histogram(df, text_col, 50_000).collect()
    ]
    lp = _seed_vocab(hist, seed_size, MAX_PIECE_LEN)
    spark = df.sparkSession
    if not lp:
        # degenerate corpus (empty, or all-empty/whitespace texts):
        # the histogram and seed vocab are empty, so the EM loop would
        # exit with lp == {} and log(sum exp) would hit log(0). Return
        # an empty model instead — the operator is total on degenerate
        # inputs, like the other operators.
        return spark.createDataFrame(
            [], schema="piece string, logprob double"
        )
    singles = {p for p in lp if len(p) == 1}
    target = max(vocab_size, len(singles))
    while True:
        for _ in range(2):
            lp, _ll = _em_round(hist, lp, MAX_PIECE_LEN)
        if len(lp) <= target:
            break
        keep_n = max(target, int(len(lp) * 0.75))
        multi = sorted(
            ((p, v) for p, v in lp.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )
        kept = dict(multi[: max(keep_n - len(singles), 0)])
        kept.update({p: lp[p] for p in singles})
        if len(kept) == len(lp):
            break
        lp = kept
    # renormalize the surviving pieces' probabilities
    logtot = math.log(sum(math.exp(v) for v in lp.values()))
    rows = sorted((p, v - logtot) for p, v in lp.items())
    return spark.createDataFrame(
        rows, schema="piece string, logprob double"
    )


def unigram_encode(
    df: DataFrame,
    model: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Viterbi-tokenize each document under a trained model:
    ``(id_col, pieces ARRAY<STRING>, n_pieces BIGINT)``. Same plan
    shape as :func:`.bpe.bpe_encode`: model collected (it IS the
    tokenizer, dimension-sized), explicit broadcast, one Arrow-batched
    ``mapInPandas`` pass, zero shuffles, per-batch word memo.
    Characters the model has never seen encode as single-char pieces
    (UNK_LOGPROB), so encoding is total."""
    import re

    lp = {r["piece"]: r["logprob"] for r in model.collect()}
    sc = df.sparkSession.sparkContext
    b_lp = sc.broadcast(lp)
    pat = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, pieces array<string>, n_pieces long"

    def run(batches):
        import pandas as pd

        model_lp = b_lp.value
        memo: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = memo.get(w)
            if got is None:
                got = _viterbi(MARKER + w, model_lp, MAX_PIECE_LEN)
                memo[w] = got
            return got

        for pdf in batches:
            ids, pieces_col, counts = [], [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                pieces: list[str] = []
                for w in pat.findall(text or ""):
                    pieces.extend(enc_word(w))
                ids.append(rid)
                pieces_col.append(pieces)
                counts.append(len(pieces))
            yield pd.DataFrame(
                {id_col: ids, "pieces": pieces_col, "n_pieces": counts}
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)
