"""Training-data corpus preparation pipeline (north-star §2.10
end-to-end): exact dedup → fused per-document features → quality +
language filters.

The composed form a 100 TB ingest actually runs: ONE content shuffle
(the dedup window on normalized text — unavoidable for content dedup),
then every text feature (token stats, stopword ratio, quality score,
language ID) derived from a single materialized token array in one
projection — no joins between feature branches, no re-tokenization per
feature (each standalone operator in operators/text.py tokenizes its
own input; composing them by join would tokenize four times and shuffle
three).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tcga_query_project_spark.functions.scalar import split_label
from tcga_query_project_spark.operators.dedup import normalized_text
from tcga_query_project_spark.operators.partitioning import fan_out
from tcga_query_project_spark.operators.text import doc_metrics


def corpus_clean(
    docs: DataFrame,
    langs: tuple[str, ...] = ("en",),
    keep_text: bool = False,
) -> DataFrame:
    """Cleaned corpus with per-document features, from ``(doc_id,
    text)`` rows.

    Stages: (1) first-arrival-wins exact dedup on normalized content —
    ``row_number`` over the content key, min id kept; (2) one fused
    projection computing n_tokens / ttr / stopword_ratio /
    quality_score / pred_lang from a token array materialized ONCE
    (array-lambda inputs must be pre-materialized — an inlined
    tokenizer re-runs per element); (3) declarative filters — quality
    score ≥ 0.4 and a language in ``langs`` — which Catalyst pushes
    against the feature projection.
    """
    id_col, text_col = "doc_id", "text"
    # The dedup key is the md5 of the normalized content, not the
    # content itself: the shuffle then partitions/sorts on a fixed
    # 32-char key instead of arbitrary-length documents (a 128-bit
    # digest collides with probability ~2^-64 — the standard exact-dedup
    # key). Grouping is identical to grouping by the text.
    #
    # Decide with small rows, never shuffle the payload: the
    # first-arrival decision needs only (id, key), so ONLY (id, key)
    # goes through the content exchange; the full text stays on the scan
    # side and the decision re-attaches as a broadcast ANTI join on the
    # LOSERS (rn > 1) — the duplicate rows an exact-dedup pass removes
    # are the sparse minority by contract (a corpus that is mostly
    # copies is what upstream crawl dedup exists for), so the loser id
    # list is the small side even when the survivor set is corpus-sized.
    # Keeping rows with id NOT IN losers is row-identical to keeping
    # rn == 1 whenever ids are unique (they are the primary key; with
    # duplicated ids both forms were already tie-ambiguous). If
    # duplication is ever dense enough that loser ids outgrow a
    # broadcast, drop the broadcast() hint below and the planner falls
    # back to a shuffled anti join — the same id-keyed text shuffle the
    # old window form paid for EVERY input.
    w = Window.partitionBy("_key").orderBy(F.col(id_col).asc())
    losers = (
        docs.select(
            F.col(id_col),
            F.md5(normalized_text(F.col(text_col))).alias("_key"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(id_col)
    )
    kept = (
        fan_out(docs, id_col)
        .join(F.broadcast(losers), id_col, "left_anti")
        .select(id_col, text_col)
    )
    # the fused feature projection is text.doc_metrics, one schema:
    # (id, first_token, n_tokens, n_tokens_bpe, n_types, ttr,
    #  mean_token_len, stopword_ratio, quality_score, pred_lang, split)
    # keep_text=True (pipeline callers only): the features
    # are a pure projection, so the payload rides along for free and
    # prepare_training_corpus no longer re-joins the corpus by id to
    # recover it (two exchanges gone at any scale). The default output
    # schema — the oracle-declared pp_corpus_clean contract and the
    # streaming schema — is unchanged.
    feats = doc_metrics(
        kept, id_col, text_col, carry_text=keep_text
    ).withColumn(
        # deterministic hash split (stable across runs/engines/order) —
        # the downstream trainer's train/val/test membership
        "split",
        split_label(F.col(id_col)),
    )
    return feats.filter(
        (F.col("quality_score") >= 0.4) & F.col("pred_lang").isin(*langs)
    )


#: Target domain mixture of the training corpus: detected language →
#: sampling weight (sampling.sample_mixture).
MIXTURE = {"en": 1.0, "fr": 1.5, "de": 0.5}


def prepare_training_corpus(
    docs: DataFrame,
    max_tokens: int = 1024,
    shard_budget: int = 1 << 20,
    block_size: int = 1 << 20,
) -> DataFrame:
    """The FULL training-data path, raw corpus → trainer-ready shard
    plan, composing every corpus stage in the order a production
    pipeline runs them:

    1. exact dedup + fused quality/language features + filters
       (:func:`corpus_clean` over en/fr/de, one content shuffle);
    2. Gopher repetition gate (``passes_gopher`` — catches the
       machine-generated/boilerplate docs the quality score misses;
       one n-gram window exchange, see text.repetition_metrics);
    3. PII redaction of the surviving text (text.pii_scrub — free:
       fuses into the projection);
    4. domain-mixture re-weighting on the detected language
       (``MIXTURE`` maps pred_lang → weight) — map-only;
    5. context-window chunking to disjoint ``max_tokens`` windows
       (text.chunk_documents — narrow explode);
    6. token-budget shard packing (sampling.pack_shards, distributed
       prefix-sum), carrying the chunk text so
       sources/io.write_training_shards can materialize directly.

    Output: ``(doc_id, copy_idx, chunk_idx, chunk, split, pred_lang,
    n_tokens, cum_tokens, shard)``. Filters run BEFORE chunking so the
    expensive fan-out only sees surviving documents; everything after
    stage 1 adds exactly two exchanges (repetition window + packing
    window) plus the dedup/feature shuffles already accounted for.
    """
    from tcga_query_project_spark.operators.sampling import (
        pack_shards,
        sample_mixture,
    )
    from tcga_query_project_spark.operators.text import (
        chunk_documents,
        pii_scrub_text,
        repetition_metrics,
    )

    # keep_text=True: the cleaned frame carries the payload out of the
    # feature projection, so the old corpus-wide re-join by id (docs ⋈
    # cleaned — two exchanges of text at any scale) is gone.
    id_col, text_col = "doc_id", "text"
    base = corpus_clean(docs, langs=("en", "fr", "de"), keep_text=True).select(
        id_col, "split", "pred_lang", text_col
    )
    # Gopher metrics over the SURVIVORS only — the n-gram explode is the
    # costliest stage, so docs already dropped by dedup/quality/
    # language must not flow through it. The gate re-attaches as a
    # broadcast ANTI join on the FAILERS (guide §8):
    # repetition_metrics is total (a row per input, passes_gopher
    # never NULL), so inner-join + filter(passes) ≡ anti-join on
    # NOT passes — and the failer id list is the sparse side, so
    # the corpus text no longer shuffles by id to meet the metrics.
    fails = repetition_metrics(
        base.select(id_col, text_col), id_col, text_col
    ).filter(~F.col("passes_gopher")).select(id_col)
    base = base.join(F.broadcast(fails), id_col, "left_anti")
    # PII scrub fused into the projection (pii_scrub_text expression) —
    # a per-row regex rewrite must not cost a corpus self-join
    base = base.withColumn(text_col, pii_scrub_text(F.col(text_col)))
    base = sample_mixture(base, "pred_lang", MIXTURE, id_col)
    chunks = chunk_documents(
        base,
        id_col,
        text_col,
        max_tokens=max_tokens,
        carry_cols=("copy_idx", "split", "pred_lang"),
    )
    # pack_shards consumes the chain twice (block-totals aggregate + the
    # row-level offset join); without a persist the final shard plan
    # would re-execute dedup→gopher→scrub→mixture→chunk a second time
    # (measured 2x wall at sf0.1). Both consumers now sit inside ONE
    # lazy query (pack_shards' prefix sum is distributed), so the
    # lazily-populated cache is filled by whichever subtree touches a
    # partition first — one upstream execution total, zero jobs at
    # plan-build time. Lifetime / release: operators/caching.py
    # contract; at cluster scale this is the parquet checkpoint between
    # prep and packing.
    from tcga_query_project_spark.operators.caching import materialize_shared

    chunks = materialize_shared(chunks)
    return pack_shards(
        chunks,
        id_col,
        "n_chunk_tokens",
        budget=shard_budget,
        block_size=block_size,
        order_cols=("copy_idx", "chunk_idx"),
        carry_cols=("chunk", "split", "pred_lang"),
    )
