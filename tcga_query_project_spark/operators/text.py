"""Text-analysis operators (north-star extensions; SURVEY.md §2.10).

Training-data-pipeline text ops over a ``documents(doc_id, text, lang,
source, n_chars)`` table. Everything is built-in expression work
(split/filter/transform/aggregate on arrays) — JVM-side, no UDFs, so the
token pipeline stays inside whole-stage codegen and scales linearly with
document count; there is no per-document Python cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tcga_query_project_spark.functions.scalar import qident

#: words = whitespace-split of trimmed text. Kept as a shared expression
#: (and mirrored in catalog oracle SQL as string_split_regex) so Spark
#: and DuckDB tokenize identically.
def tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


#: BPE-ish pre-tokenizer: alphanumeric runs OR single punctuation marks —
#: the split a subword tokenizer sees before merges. ASCII classes only,
#: so Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
BPE_TOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def bpe_tokens(text: Column) -> Column:
    """Sub-word-style token list (see :data:`BPE_TOKEN_PATTERN`): counts
    from this column approximate an LLM tokenizer's token count far
    better than whitespace words (punctuation splits off; 'don't' is 3).
    """
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0)


# language marker words → language code, checked in order; deterministic
# n-gram-style heuristic (real language ID would swap in a model or a
# charset n-gram table — the dataflow is identical).
LANG_MARKERS: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "and", "is")),
    ("fr", ("le", "la", "et")),
    ("de", ("der", "und", "die")),
    ("es", ("el", "los", "y")),
]


def doc_metrics(
    df: DataFrame, id_col: str, text_col: str, carry_text: bool = False
) -> DataFrame:
    """Fused per-document text-metric projection: token stats, quality
    score, language ID and the first token (O3,
    ``treat_tmp$submitter_id[1]`` drug_km_median_exp.R:47) computed from
    ONE materialized token array in ONE projection — a single narrow map
    over the scan, no shuffle at all.
    """
    # Single-parse SQL expressions: same analyzed plan as
    # the previous Column forest, ~10x fewer py4j round trips per build.
    idq, tq = f"`{id_col}`", f"`{text_col}`"
    toks_df = df.selectExpr(
        idq, tq, f"split(trim({tq}), '\\\\s+') as _toks"
    )
    n = "cast(size(_toks) as double)"
    n_types = "cast(size(array_distinct(_toks)) as double)"
    total_chars = f"length(regexp_replace(trim({tq}), '\\\\s+', ''))"
    # stopwords counted in ONE codegen'd regex pass, not a per-token
    # lambda (higher-order functions run interpreted): pad the
    # whitespace-normalized text with spaces and count `` (stopword)(?= )``
    # matches — a token equals a stopword iff its space-delimited run
    # does; the lookahead keeps adjacent matches from sharing a space
    padded = (
        f"concat(' ', regexp_replace(trim({tq}), '\\\\s+', ' '), ' ')"
    )
    pattern = " (" + "|".join(STOPWORDS) + ")(?= )"
    stop = f"cast(regexp_count({padded}, '{pattern}') as double)"
    ttr = f"({n_types}) / ({n})"
    stop_ratio = f"({stop}) / ({n})"
    length_ok = (
        f"case when ({n}) >= 10 and ({n}) <= 1000 then 1.0D else 0.0D end"
    )
    score = (
        f"round(0.4D * ({length_ok})"
        f" + 0.3D * least(({stop_ratio}) * 4.0D, 1.0D)"
        f" + 0.3D * ({ttr}), 6)"
    )
    pred = "'und'"
    for lang, markers in reversed(LANG_MARKERS):
        arr = ", ".join(f"'{m}'" for m in markers)
        pred = (
            f"case when arrays_overlap(array_distinct(_toks), array({arr}))"
            f" then '{lang}' else {pred} end"
        )
    # double the backslashes: Spark's SQL string literal unescape
    # strips unknown escapes like \s, so the regex must arrive as \\s
    bpe_pat = BPE_TOKEN_PATTERN.replace("\\", "\\\\")
    bpe = f"regexp_extract_all({tq}, '{bpe_pat}', 0)"
    # carry_text appends the raw text column AFTER the metric schema —
    # a pure projection passthrough for pipeline callers that need the
    # payload downstream (pipelines/corpus_prep: carrying text here
    # removes a corpus-wide re-join by id); the default output schema
    # is unchanged.
    extra = [tq] if carry_text else []
    return toks_df.selectExpr(
        idq,
        "element_at(_toks, 1) as first_token",
        f"cast({n} as long) as n_tokens",
        f"cast(size({bpe}) as long) as n_tokens_bpe",
        f"cast({n_types} as long) as n_types",
        f"round({ttr}, 6) as ttr",
        f"round(cast({total_chars} as double) / ({n}), 6)"
        " as mean_token_len",
        f"round({stop_ratio}, 6) as stopword_ratio",
        f"{score} as quality_score",
        f"{pred} as pred_lang",
        *extra,
    )


def lang_profile(df: DataFrame, lang_col: str, text_col: str) -> DataFrame:
    """Corpus profile per language: documents, total/mean tokens, mean
    chars. Map-side partial aggregation; one small shuffle by lang."""
    n = F.size(tokens(F.col(text_col))).cast("long")
    return (
        df.select(F.col(lang_col), n.alias("_n"), F.length(text_col).alias("_chars"))
        .groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").alias("total_tokens"),
            F.round(F.avg("_n"), 6).alias("mean_tokens"),
            F.round(F.avg("_chars"), 6).alias("mean_chars"),
        )
    )


# --- TF-IDF / BM25 relevance scoring --------------------------------------


def term_frequencies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-(doc, term) counts over lowercased whitespace tokens — the
    shared first stage of TF-IDF and BM25. One explode + one groupBy
    (the term shuffle); at 100 TB this is the classic inverted-index
    build and the ONLY stage that touches full text."""
    return (
        df.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )


def unigram_perplexity(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document perplexity under the CORPUS unigram LM — the
    CCNet/RedPajama-style LM quality filter (Wenzek et al. 2020 score
    documents with a KenLM 5-gram; the unigram form is the same
    dataflow with an in-corpus model, and the standard first tier):
    gibberish, boilerplate, and wrong-language documents score HIGH
    perplexity against the corpus distribution, natural text scores
    low. Downstream: ``ppl <= threshold`` is the keep gate, or feed
    ``ppl`` to pp_mixture_shards as a quality stratum.

    Model: p(t) = count(t) / total_tokens over the whole corpus
    (tokenization identical to :func:`term_frequencies`); score(d) =
    −(1/|d|)·Σ_t∈d ln p(t); ``ppl = exp(score)``. Every token is
    in-vocabulary by construction (the corpus IS the model), so no
    smoothing constant enters the cross-engine contract.

    Output: ``(id, n_tokens BIGINT, avg_neg_logp, ppl)`` — one row per
    document with ≥1 token (an empty/NULL-text document has no tokens
    to score; route those through tx_doc_metrics' length gates).
    Floats are engine-portable by the house rounding rule:
    ``avg_neg_logp`` rounds to 6, and ``ppl`` is exp OF THE ROUNDED
    average, rounded to 4 — so the two engines exponentiate the same
    number and the published perplexity cannot diverge in the last
    ulp (ln/exp are correctly-rounded to ~1 ulp in both engines;
    per-doc sums keep the error far below 1e-6).

    Scale shape: the (doc, term) postings build is the ONLY stage that
    touches full text (one exchange); per-term corpus counts are a
    WINDOW over the term partition of that same table (no second
    aggregate + join back); the corpus total attaches as a broadcast
    one-row scalar (the q22/tfidf pattern); one final doc-keyed
    aggregate. Three exchanges total at any corpus size, nothing
    driver-sized, no UDF.
    """
    from pyspark.sql import Window

    tf = term_frequencies(df, id_col, text_col)
    total = tf.agg(F.sum("tf").alias("_total"))
    w_term = Window.partitionBy("term")
    scored = (
        tf.withColumn("_term_n", F.sum("tf").over(w_term))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_neg_logp", -F.log(F.col("_term_n") / F.col("_total"))
        )
    )
    return (
        scored.groupBy(F.col(id_col))
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("tf") * F.col("_neg_logp")) / F.sum("tf")
            ).alias("_avg"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            F.round(F.col("_avg"), 6).alias("avg_neg_logp"),
            F.round(F.exp(F.round(F.col("_avg"), 6)), 4).alias("ppl"),
        )
    )


def bigram_backoff_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model_col: str,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document Stupid-Backoff bigram LM score (Brants et al. 2007,
    "Large Language Models in Machine Translation" §4) — the second LM
    tier of the quality-filter ladder above :func:`unigram_perplexity`:
    a bigram model catches word-salad documents whose unigram mix looks
    natural but whose TRANSITIONS never occur in clean text.

    ``model_col`` is a boolean column marking the documents the LM is
    counted from (the CCNet pattern: score the whole corpus against a
    model built on a trusted slice — here a deterministic hash split or
    a metadata predicate; NULL counts as false). Per transition
    (w', w), with counts from the model slice only::

        S(w | w') = count(w' w) / count(w')          if count(w' w) > 0
                  = alpha * count(w) / N             elif count(w) > 0
                  = alpha * 1 / max(N, 1)            otherwise (OOV)

    — Brants' relative frequencies with backoff factor alpha = 0.4, no
    normalization (scores, not probabilities: "stupid" is the paper's
    own name for dropping the Katz discount at corpus scale). The OOV
    floor is a pseudo-count of 1, and ``max(N, 1)`` makes the empty-
    model corner total (every transition then scores alpha).

    Output: ``(id, n_transitions BIGINT, avg_neg_logs, backoff_ppl)``
    — one row per document with >= 2 tokens (lowercased whitespace
    tokens, exactly :func:`term_frequencies`' tokenization); NULL /
    empty / single-token docs have no transitions and are absent.
    House float contract: ``avg_neg_logs`` rounds to 6 and
    ``backoff_ppl`` is exp OF THE ROUNDED average rounded to 4, so both
    engines exponentiate the same number (ln/exp are ~1-ulp in both;
    the per-doc mean keeps accumulated error far below the 1e-6 grid).

    Scale shape: transitions come from ``slice+arrays_zip+explode`` —
    a pure codegen projection, NO per-doc window (the order lives in
    the array, not in row order, so no doc-keyed sort-shuffle exists
    anywhere). The unigram table is vocabulary-sized and BROADCASTS
    back onto the transition stream; the BIGRAM table grows roughly
    linearly with corpus tokens, so it gets NO forced hint — AQE
    broadcasts it when measured small and shuffle-joins it when not.
    N rides a one-row broadcast scalar derived from the unigram table
    (never a second corpus scan). Exchanges at any corpus size: two model-count
    aggregates + the final doc-keyed aggregate. In production the
    model tables are precomputed dimensions (Brants et al. serve them
    as a distributed service); the in-corpus build here just makes the
    operator self-contained.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n = F.size("_toks")
    base = df.select(
        F.col(id_col),
        F.coalesce(F.col(model_col), F.lit(False)).alias("_is_model"),
        toks.alias("_toks"),
    )
    # (w_prev, w) pairs via array slice-zip: adjacency is positional in
    # the token ARRAY, so no window/shuffle is needed to recover it.
    trans = (
        base.filter(n >= 2)
        .select(
            id_col,
            "_is_model",
            F.explode(
                F.arrays_zip(
                    F.slice("_toks", 1, n - 1), F.slice("_toks", 2, n - 1)
                )
            ).alias("_bg"),
        )
        .select(
            id_col,
            "_is_model",
            F.col("_bg")["0"].alias("_wp"),
            F.col("_bg")["1"].alias("_w"),
        )
    )
    uni = (
        base.filter("_is_model")
        .select(F.explode("_toks").alias("_w"))
        .filter(F.col("_w") != "")
        .groupBy("_w")
        .agg(F.count("*").cast("double").alias("_uc"))
    )
    # N from the (vocabulary-sized) unigram table, not a corpus rescan
    total = uni.agg(
        F.greatest(F.coalesce(F.sum("_uc"), F.lit(0.0)), F.lit(1.0)).alias("_N")
    )
    big = (
        trans.filter("_is_model")
        .groupBy("_wp", "_w")
        .agg(F.count("*").cast("double").alias("_bc"))
    )
    uni_prev = uni.select(
        F.col("_w").alias("_wp"), F.col("_uc").alias("_ucp")
    )
    a = F.lit(float(alpha))
    # NO forced broadcast on `big`: distinct bigrams grow roughly
    # linearly with corpus tokens (Heaps-like), not vocabulary-sized —
    # a hint would bypass AQE's size check and OOM at scale. AQE still
    # broadcasts it when it measures small; uni/uni_prev/total ARE
    # vocabulary-/scalar-sized, so those hints stay.
    scored = (
        trans.join(big, ["_wp", "_w"], "left")
        .join(F.broadcast(uni_prev), "_wp", "left")
        .join(F.broadcast(uni), "_w", "left")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_S",
            F.when(F.col("_bc").isNotNull(), F.col("_bc") / F.col("_ucp"))
            .when(F.col("_uc").isNotNull(), a * F.col("_uc") / F.col("_N"))
            .otherwise(a / F.col("_N")),
        )
    )
    return (
        scored.groupBy(F.col(id_col))
        .agg(
            F.count("*").cast("long").alias("n_transitions"),
            F.round(-F.avg(F.log("_S")), 6).alias("avg_neg_logs"),
        )
        .withColumn(
            "backoff_ppl", F.round(F.exp(F.col("avg_neg_logs")), 4)
        )
    )


def ctfidf_top_terms(
    df: DataFrame,
    class_col: str,
    text_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Class-based TF-IDF (the c-TF-IDF of BERTopic, Grootendorst
    2022): the most DISTINCTIVE terms per class — the standard way to
    label document clusters, sources, or language slices ("what words
    characterize this crawl / this dup-cluster / this topic?") after
    any grouping stage (semantic dedup clusters, source buckets,
    lang slices)::

        ctfidf(t, c) = tf_{t,c} * ln(1 + A / f_t)

    with tf_{t,c} the term count inside class c, f_t the term's count
    across ALL classes, and A the average token count per class — a
    term scores high when frequent in the class and rare elsewhere.
    NULL class is a class like any other (groupBy semantics).

    Output: ``(class_col, term, ctfidf, rank)`` — the ``top_n`` ranked
    terms per class, rank by (ROUNDED score DESC, term ASC) so the
    cut is engine-portable; ``ctfidf`` rounded 6.

    Scale shape: one explode + (class, term) count — the only stage
    touching full text (the inverted-index shuffle); f_t comes from a
    WINDOW over the term partition of that same dimension-sized table
    (no second aggregate + join back); A attaches as a broadcast
    one-row scalar; the top-n rank windows over the per-class VOCAB —
    dimension-sized by contract, same as tx_vocab's post-limit window,
    never row-scaled data.
    """
    from pyspark.sql.window import Window

    tf = (
        df.select(
            F.col(class_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(class_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    w_term = Window.partitionBy("term")
    # COUNT(DISTINCT) skips NULL in both engines, but NULL class IS a
    # class here — count it through a sentinel so A's denominator
    # matches the group count
    avg_class = tf.agg(
        (
            F.sum("_tf")
            / F.countDistinct(
                F.coalesce(
                    F.col(class_col).cast("string"), F.lit("__null__")
                )
            ).cast("double")
        ).alias("_A")
    )
    scored = (
        tf.withColumn("_ft", F.sum("_tf").over(w_term))
        .crossJoin(F.broadcast(avg_class))
        .withColumn(
            "ctfidf",
            F.round(
                F.col("_tf") * F.log(1.0 + F.col("_A") / F.col("_ft")), 6
            ),
        )
    )
    w_rank = Window.partitionBy(class_col).orderBy(
        F.desc("ctfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= int(top_n))
        .select(class_col, "term", "ctfidf", "rank")
    )


def tfidf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """TF-IDF weights per (doc, term): ``tf · ln((N+1)/(df+1)) + 1``
    (smoothed idf, sklearn's convention).

    Shape: the (doc, term) table aggregates once by term for document
    frequencies (dimension-sized: one row per distinct term), which
    broadcast-join back onto the postings; the corpus size N attaches
    as a broadcast scalar. Two shuffles total (postings build + df agg)
    regardless of corpus size.
    """
    postings = term_frequencies(df, id_col, text_col)
    n_docs = df.select(F.countDistinct(id_col).alias("_n"))
    dfreq = postings.groupBy("term").agg(
        F.countDistinct(id_col).cast("double").alias("_df")
    )
    return (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            (
                F.col("tf")
                * (F.log((F.col("_n") + 1.0) / (F.col("_df") + 1.0)) + 1.0)
            ).alias("tfidf"),
        )
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 ranking of documents against a bag of query terms:

    ``score(d) = Σ_t idf(t) · tf · (k1+1) / (tf + k1·(1−b+b·len_d/avg_len))``

    with the standard idf ``ln(1 + (N − df + 0.5)/(df + 0.5))``. The
    query is literal-sized, so it broadcasts; output is one row per
    matching document, descending score with id tiebreak.

    Scale shape: the corpus-wide postings NEVER shuffle.
    Document length = Σ_t tf — i.e. the doc's non-empty token count —
    so it computes NARROWLY per input row (size of the token array)
    and aggregates as (id, long) pairs: the exchange carries 16-byte
    rows instead of the full inverted index. The term filter applies
    BEFORE the (id, term) aggregate (it commutes with grouping on the
    filtered key), so the only postings that ever reach an exchange
    are the query terms'. The previous form aggregated the full
    postings TWICE (once per branch — ReusedExchange could not dedup
    them because the term filter pushed below one aggregate); at
    corpus scale those were the two dominant shuffles.
    """
    toks = tokens(F.lower(F.col(text_col)))
    # non-empty token count per row == what explode+filter(term != '')
    # yields: split of a trimmed NON-empty string on \s+ emits no empty
    # tokens, and a NULL/whitespace-only text emits none at all.
    row_len = F.when(
        F.trim(F.lower(F.col(text_col))) == "", F.lit(0)
    ).otherwise(F.size(toks)).cast("double")
    doclen = (
        df.select(F.col(id_col), row_len.alias("_rl"))
        .groupBy(id_col)
        .agg(F.sum("_rl").alias("_len"))
        .filter(F.col("_len") > 0)
    )
    stats = doclen.agg(
        F.avg("_len").alias("_avg_len"),
        F.count(F.lit(1)).cast("double").alias("_n"),
    )
    qterms = [t.lower() for t in query_terms]
    # grouped (term, id) — the same key ORDER the collapsed dfreq
    # aggregate below uses — and with id-notnull EXPLICIT (null-id
    # rows can never reach the output: they miss the doclen inner
    # join, and dfreq's countDistinct skips them — but without the
    # explicit filter Catalyst infers isnotnull on the tf branch only,
    # and the two subtrees stop canonicalizing equal), so AQE reuses
    # ONE shuffle for both tf and dfreq.
    matched = (
        df.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .filter(F.col("term").isin(qterms))
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    # matched has exactly one row per (doc, term), so the document
    # frequency is a plain COUNT — phrasing it as count(1) (instead of
    # countDistinct, which re-groups by (term, id) in the opposite key
    # order) lets the second aggregate derive from matched's own
    # (id, term) exchange, which AQE then reuses instead of
    # re-exploding the corpus.
    dfreq = matched.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    idf = (
        F.log(
            1.0
            + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
        )
    )
    norm = F.col("tf") + k1 * (
        1.0 - b + b * F.col("_len") / F.col("_avg_len")
    )
    contrib = idf * F.col("tf") * (k1 + 1.0) / norm
    return (
        matched.join(F.broadcast(dfreq), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(contrib).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
    )


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Appendix A1.1): the published
    quality rules that catch machine-generated / boilerplate text by
    its self-repetition. Per document:

    - ``dup_word_frac``     — 1 − distinct/total tokens;
    - ``top2gram_char_frac``/``top3gram_char_frac`` — non-space chars
      covered by the most-covering word n-gram, as MAX over grams of
      count·len (equivalent to the most-frequent gram except on
      count-ties, where taking the max product is deterministic
      without an arbitrary tie-break);
    - ``dup2gram_frac``/``dup3gram_frac`` — fraction of n-gram
      occurrences whose gram occurs more than once;
    - ``dup_line_frac``/``dup_line_char_frac`` — fraction of
      (non-blank, trimmed) lines, resp. their non-space chars, that
      are duplicates of another line in the same document;
    - ``passes_gopher`` — the published thresholds on this subset:
      top2 ≤ 0.20, top3 ≤ 0.18, dup-line ≤ 0.30, dup-line-chars
      ≤ 0.20.

    Physical plan — two exchanges total:

    - **n-grams** go through posexplode + lead() over a doc-keyed
      window (1 exchange) rather than an array ``transform`` lambda.
      Wall-clock at sf0.1 is a wash (~1.4 s — gram hashing dominates,
      not lambda dispatch), but the exchange count drops 3 → 1: both
      downstream aggregations — (id, kind, unit) counts and the per-id
      conditional rollup — REUSE the window's hash(id) partitioning
      (partitioning by id clusters every (id, kind, unit) group), so
      Catalyst plans no further exchange on this branch. At cluster
      scale the two elided corpus-sized shuffles are the win.
    - **line metrics** are per-row array expressions over the sorted
      line array (duplicate occurrences = equal to a sorted neighbor):
      lines-per-document is small, so the O(L log L) array path beats
      shipping line units through the gram shuffle; no exchange at
      all.
    - the totality left-join back to the corpus (docs too short to
      emit any gram still get a row, with zeroed ratios) is the second
      exchange.

    All ratio denominators go through nullif so ANSI mode never
    divides by zero.
    """
    # Single-parse SQL expressions throughout: this
    # builder's Column/lambda forest cost ~2,300 py4j round trips per
    # build. The SQL strings inline shared subtrees (srt, the norm
    # tokenizer) exactly where the Column version's expression reuse
    # inlined the same trees, so the analyzed plan — and every output
    # bit — is unchanged.
    idq, tq = f"`{id_col}`", f"`{text_col}`"
    norm_toks = (
        f"split(trim(lower(regexp_replace(trim({tq}), '\\\\s+', ' ')))"
        ", '\\\\s+')"
    )

    # --- per-row line-duplication metrics (array expressions) ---
    srt = (
        f"array_sort(filter(transform(split({tq}, '\\\\n'), x -> trim(x))"
        ", x -> x != ''))"
    )
    # occurrence i duplicates iff equal to its sorted predecessor or
    # successor; element_at is guarded by CASE (ANSI: index 0 errors)
    dup_cond = (
        f"coalesce(x = (case when i > 0 then element_at({srt}, i) end)"
        ", false)"
        f" or coalesce(x = (case when i < size({srt}) - 1"
        f" then element_at({srt}, i + 2) end), false)"
    )
    dup_lines = f"filter({srt}, (x, i) -> {dup_cond})"

    def sum_len(arr: str) -> str:
        return (
            f"aggregate({arr}, 0.0D, (acc, x) -> acc"
            " + cast(length(regexp_replace(x, ' ', '')) as double))"
        )

    base = df.selectExpr(
        idq,
        f"{norm_toks} as _toks",
        f"cast(length(regexp_replace(trim({tq}), '\\\\s+', ''))"
        " as double) as _total_chars",
        f"cast(size({srt}) as double) as _ln_tot",
        f"cast(size({dup_lines}) as double) as _ln_dup",
        f"{sum_len(srt)} as _ln_chars",
        f"{sum_len(dup_lines)} as _ln_dup_chars",
    )

    # --- n-gram branch: posexplode + lead window, partitioning reused ---
    ex = df.selectExpr(idq, f"posexplode({norm_toks}) as (_pos, _tok)")
    over = f"over (partition by {idq} order by _pos)"
    led = ex.selectExpr(
        idq,
        "_tok",
        f"lead(_tok, 1) {over} as _n1",
        f"lead(_tok, 2) {over} as _n2",
    )
    grams = (
        led.selectExpr(
            idq,
            "explode(array("
            "struct('w2' as kind, concat_ws(' ', _tok, _n1) as unit,"
            " _n1 is not null as ok), "
            "struct('w3' as kind, concat_ws(' ', _tok, _n1, _n2) as unit,"
            " _n2 is not null as ok))) as _u",
        )
        .filter(F.col("_u.ok"))
        .selectExpr(idq, "_u.kind as kind", "_u.unit as unit")
    )

    c = grams.groupBy(id_col, "kind", "unit").agg(
        F.expr("cast(count(1) as double) as cnt")
    )
    ulen = "cast(length(regexp_replace(unit, ' ', '')) as double)"
    m = c.groupBy(id_col).agg(
        F.expr(
            f"max(case when kind = 'w2' then cnt * {ulen} end) as _top2"
        ),
        F.expr("sum(case when kind = 'w2' then cnt end) as _w2_tot"),
        F.expr(
            "sum(case when kind = 'w2' and cnt > 1 then cnt end) as _w2_dup"
        ),
        F.expr(
            f"max(case when kind = 'w3' then cnt * {ulen} end) as _top3"
        ),
        F.expr("sum(case when kind = 'w3' then cnt end) as _w3_tot"),
        F.expr(
            "sum(case when kind = 'w3' and cnt > 1 then cnt end) as _w3_dup"
        ),
    )

    def ratio(num: str, den: str) -> str:
        return f"coalesce(round(({num}) / nullif({den}, 0.0D), 6), 0.0D)"

    out = base.join(m, id_col, "left")
    ntoks = "cast(size(_toks) as double)"
    ntypes = "cast(size(array_distinct(_toks)) as double)"
    top2 = ratio("_top2", "_total_chars")
    top3 = ratio("_top3", "_total_chars")
    dline = ratio("_ln_dup", "_ln_tot")
    dline_c = ratio("_ln_dup_chars", "_ln_chars")
    return out.selectExpr(
        idq,
        f"{ratio(f'{ntoks} - {ntypes}', ntoks)} as dup_word_frac",
        f"{top2} as top2gram_char_frac",
        f"{ratio('_w2_dup', '_w2_tot')} as dup2gram_frac",
        f"{top3} as top3gram_char_frac",
        f"{ratio('_w3_dup', '_w3_tot')} as dup3gram_frac",
        f"{dline} as dup_line_frac",
        f"{dline_c} as dup_line_char_frac",
        f"({top2}) <= 0.20D and ({top3}) <= 0.18D"
        f" and ({dline}) <= 0.30D and ({dline_c}) <= 0.20D"
        " as passes_gopher",
    )


#: PII patterns, RE2-compatible (no lookaround) so the identical string
#: runs in Spark (Java regex) and DuckDB (RE2). Order matters for
#: redaction: specific → general, so e.g. an SSN is tagged before the
#: phone pattern can consume its digits.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{1,3}[- ]\(?\d{3}\)?[- ]\d{3}[- ]?\d{4}\b", "<PHONE>"),
]


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction pass — the pre-training scrub every public-web
    corpus gets: emails, SSNs, IPv4s and phone-shaped numbers replaced
    by typed placeholder tokens, with per-document match counts for
    audit/filtering (docs above a PII density threshold are usually
    dropped rather than scrubbed).

    Output: ``(id, n_email, n_ssn, n_ipv4, n_phone BIGINT, scrubbed
    STRING)``. Counts are measured on the ORIGINAL text per pattern
    (independent, overlap-insensitive); ``scrubbed`` applies the
    replacements sequentially in PII_PATTERNS order on the running
    text. Pure codegen expression chain (regexp_count +
    regexp_replace): no shuffle, no Python — at 100 TB this fuses into
    the scan projection like tx_doc_metrics. Patterns are deliberately
    RE2-safe so the DuckDB oracle runs the very same strings.
    """
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(
            f"n_{name}"
        )
        for name, pat, _ in PII_PATTERNS
    ]
    return df.select(
        F.col(id_col), *counts, pii_scrub_text(F.col(text_col)).alias("scrubbed")
    )


def pii_scrub_text(text: Column) -> Column:
    """The scrubbed-text EXPRESSION alone (PII_PATTERNS replacement
    chain) — for pipelines that want the redaction fused into an
    existing projection (``withColumn``) instead of joining
    :func:`pii_scrub`'s audit output back on the id (a corpus-sized
    join for a per-row rewrite)."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int,
    stride: int | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split long documents into fixed-length training sequences: the
    context-window chunking step between cleaning and shard packing.
    Emits one row per chunk — ``(id, *carry_cols, chunk_idx,
    n_chunk_tokens, chunk)`` — where chunk *i* covers whitespace
    tokens ``[i*stride+1 .. i*stride+max_tokens]`` (1-based), i.e.
    sliding windows with ``max_tokens - stride`` tokens of overlap
    (``stride=None`` → no overlap). The last chunk index is
    ``ceil((n - max_tokens)/stride)`` (0 for docs that fit in one
    window), so the final window always reaches the end of the
    document and is NEVER fully contained in its predecessor — a
    naive "starts while start <= n" rule emits one extra
    fully-overlapped window per document, silently duplicating
    training data. ``carry_cols`` (labels, copy indices) pass through
    untouched.

    Pure narrow pass (tokenize → index sequence → explode → slice):
    no shuffle, no Python; the explode fan-out is bounded by
    n_tokens/stride per document. Deterministic and engine-portable —
    the DuckDB oracle replays it with list slicing.
    """
    if stride is None:
        stride = max_tokens
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be positive")
    toks_df = df.select(
        F.col(id_col), *carry_cols, tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    last_idx = (
        F.when(n <= max_tokens, F.lit(0))
        .otherwise(F.ceil((n - max_tokens) / F.lit(stride)))
        .cast("int")
    )
    idx = F.explode(F.sequence(F.lit(0), last_idx)).alias("chunk_idx")
    sliced = F.slice(
        toks, F.col("chunk_idx") * stride + 1, max_tokens
    )
    return (
        toks_df.filter(n > 0)
        .select(F.col(id_col), *carry_cols, "_toks", idx)
        .select(
            F.col(id_col),
            *carry_cols,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size(sliced).cast("long").alias("n_chunk_tokens"),
            F.array_join(sliced, " ").alias("chunk"),
        )
    )


def build_vocab(
    df: DataFrame,
    text_col: str,
    min_count: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """Frequency vocabulary over the corpus: ``(token, freq,
    vocab_id)`` with ids dense in (freq DESC, token ASC) order —
    deterministic across engines and partitionings.

    Scale shape: ONE corpus shuffle (the token-count hash aggregation,
    map-side partials carry (token, partial_count)); the top-``max_size``
    cut plans as TakeOrderedAndProject. The id-assigning window runs on
    the POST-LIMIT frame — a vocabulary is dimension-sized by
    definition (it must broadcast to every trainer worker anyway), so
    the single-partition window is bounded by max_size, not the
    corpus. ``max_size`` is therefore REQUIRED: min_count alone keeps
    a corpus-scale share of distinct tokens and would funnel them
    through the one-task window (the global-window anti-pattern
    tests/test_plans.py bans).
    """
    from pyspark.sql.window import Window

    if max_size is None:
        raise ValueError(
            "unbounded vocab: max_size is required (min_count alone "
            "does not bound the id-assignment window)"
        )
    tf = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    cnt = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.col("freq") >= min_count)
    )
    ordered = cnt.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(
        max_size
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return ordered.select(
        "token",
        "freq",
        (F.row_number().over(w) - 1).cast("long").alias("vocab_id"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 3,
    delimiter: str = "\n",
) -> DataFrame:
    """Cross-document repeated-LINE removal — the C4/RefinedWeb
    boilerplate pass that document-level dedup cannot do: navigation
    menus, cookie banners, license headers and signatures repeat
    across *different* pages whose documents are otherwise unique, so
    no whole-doc signature catches them. A line (trimmed,
    ``delimiter``-split) occurring in at least ``min_docs`` DISTINCT
    documents is removed from every document; blank lines and the
    documents' own internal repetition are untouched (that is
    ``repetition_metrics``' Gopher territory).

    Output: ``(id_col, text, n_removed BIGINT)`` — text reassembled in
    original line order with boilerplate lines dropped.

    NULL ``text_col`` is coalesced to ``''`` so the document passes
    through (as empty text) instead of silently vanishing — a
    corpus-cleaning stage must be row-count-preserving for its
    downstream joins.

    Shape: posexplode lines (order keeper) → one count-distinct
    shuffle keyed by line digest (md5 — that aggregation's shuffle
    carries digests only) → membership join back on digest (this join
    does move line text alongside the digest key: the text is needed
    for reassembly) → one reassembly aggregation keyed by doc. Three
    shuffles total, all on content-derived keys; boilerplate
    cardinality does not need to fit anywhere (the membership join is
    a plain equi-join, broadcast only if the optimizer proves it
    small).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), delimiter)
        ).alias("_pos", "_line"),
    ).withColumn("_key", F.md5(F.trim(F.col("_line"))))
    boiler = (
        lines.filter(F.trim(F.col("_line")) != "")
        .groupBy("_key")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_key", F.lit(True).alias("_boiler"))
    )
    tagged = lines.join(boiler, "_key", "left")
    return (
        tagged.groupBy(id_col)
        .agg(
            F.concat_ws(
                delimiter,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_boiler").isNull(),
                                F.struct(F.col("_pos"), F.col("_line")),
                            )
                        )
                    ),
                    lambda s: s["_line"],
                ),
            ).alias(text_col),
            F.sum(F.col("_boiler").isNotNull().cast("long")).alias(
                "n_removed"
            ),
        )
    )


def repeated_span_cuts(
    df: DataFrame, id_col: str, text_col: str, k: int = 20
) -> DataFrame:
    """Within-corpus duplicated k-gram occurrences — the candidate
    stage of :func:`remove_repeated_spans` (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better":
    ExactSubstr; their suffix array becomes a distributed token-k-gram
    group). Tokens are the whitespace-normalized words (case kept —
    exact-match semantics, unlike the lowercased winnowing sketch).

    Every token k-gram of every document is hashed (xxhash64 of the
    joined gram — 64-bit collisions are below test-data probability);
    a gram occurring more than once corpus-wide keeps its FIRST
    occurrence (ordered by (id, position) — the canonical copy) and
    marks every later occurrence for cutting.

    Output: ``(id_col, pos)`` 1-based token start positions of
    non-keeper duplicated grams.

    Scale shape: posexplode tokens (codegen generator) → id-keyed
    window builds each gram as ``concat_ws`` of ``lead(tok, 1..k-1)``
    and hashes it — ALL whole-stage codegen (the array-lambda
    formulation, ``transform(sequence(...), i -> xxhash64(slice))``,
    is interpreted per gram and measured 3× slower at sf0.1) — then
    ONE shuffle keyed by gram hash for the rank/count window. Two
    exchanges total (id-keyed, then content-keyed); the hash-window
    partition is a single gram's occurrence list — bounded by that
    gram's corpus frequency, the same skew profile as any content-
    keyed dedup; a pathological mega-gram (billions of copies) is
    exactly what the boilerplate-line and Gopher passes remove first.
    """
    norm = F.regexp_replace(
        F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
    )
    # Shuffle DOC rows, not token rows (guide §2.3): the
    # doc-keyed gram window needs hash(id) clustering either way, but
    # an explicit repartition BEFORE the posexplode puts the exchange
    # under the generator, so it carries one (id, token-array) row per
    # document instead of one (id, pos, tok) row per token — the same
    # bytes of text without the ~20-byte-per-token row overhead (2-4x
    # fewer shuffle bytes; the window then reuses the partitioning and
    # only adds a local sort). Generate preserves its child's
    # partitioning, so no second exchange appears.
    arr = df.select(
        F.col(id_col), F.split(norm, " ").alias("_ts")
    ).repartition(F.col(id_col))
    toks = arr.select(
        F.col(id_col), F.posexplode("_ts").alias("_p0", "_tok")
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "_tok")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    gram_cols = [F.col("_tok")] + [
        F.lead("_tok", j).over(w_doc) for j in range(1, k)
    ]
    grams = toks.select(
        F.col(id_col),
        "pos",
        F.when(
            F.lead("_tok", k - 1).over(w_doc).isNotNull(),
            F.xxhash64(F.concat_ws(" ", *gram_cols)),
        ).alias("_h"),
    ).filter(F.col("_h").isNotNull())
    w_rank = Window.partitionBy("_h").orderBy(
        F.col(id_col).asc(), F.col("pos").asc()
    )
    w_all = Window.partitionBy("_h")
    return (
        grams.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
        .filter((F.col("_n") > 1) & (F.col("_rn") > 1))
        .select(id_col, "pos")
    )


def remove_repeated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 20
) -> DataFrame:
    """Corpus-internal exact repeated-span removal (Lee et al. 2022
    ExactSubstr, token-k-gram form): any token span of length ≥ k that
    occurs more than once in the corpus — across documents or within
    one — survives only at its first occurrence; every other copy is
    cut from its document. Span recovery is implicit: overlapping
    duplicated k-grams union into the full maximal repeated span
    (every token of a repeated span of length ≥ k is covered by one of
    its k-gram starts), so the whole span is removed without
    reconstructing it explicitly.

    Output: ``(id_col, text, n_tokens_removed BIGINT, n_grams_cut
    BIGINT)`` — text reassembled from surviving tokens in order,
    row-count-preserving (NULL text passes through as '').

    Scale: the cut list (:func:`repeated_span_cuts` — one content-
    keyed shuffle) aggregates per doc (second shuffle, id-keyed) and
    joins back to the corpus (third, or broadcast when duplication is
    sparse). The array-lambda rebuild (Spark higher-order functions
    are INTERPRETED, ~µs per token) runs ONLY on documents that
    actually have cuts — the untouched majority passes through as one
    codegen'd regex projection (whitespace normalization — exactly
    what token reassembly would produce), so the per-token Python-ish
    cost is proportional to the duplicated subset, not the corpus.
    """
    cuts = repeated_span_cuts(df, id_col, text_col, k)
    per_doc = cuts.groupBy(id_col).agg(
        F.collect_list("pos").alias("_cuts"),
        F.count(F.lit(1)).cast("long").alias("n_grams_cut"),
    )
    norm = F.regexp_replace(
        F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
    )
    base = df.select(F.col(id_col), norm.alias("_norm"))
    untouched = base.join(per_doc.select(id_col), id_col, "left_anti").select(
        F.col(id_col),
        F.col("_norm").alias(text_col),
        F.lit(0).cast("long").alias("n_tokens_removed"),
        F.lit(0).cast("long").alias("n_grams_cut"),
    )
    joined = base.select(
        F.col(id_col), F.split(F.col("_norm"), " ").alias("_ts")
    ).join(per_doc, id_col)
    # single-parse SQL form of the rebuild lambdas: same
    # expression tree as the previous Column/lambda forest
    kept = (
        "filter(transform(_ts, (t, j) -> struct(t AS tok, j + 1 AS p)), "
        "s -> NOT exists(_cuts, "
        f"c -> (s.p >= c) AND (s.p <= c + {int(k) - 1})))"
    )
    touched = joined.selectExpr(
        qident(id_col),
        f"concat_ws(' ', transform({kept}, s -> s.tok))"
        f" AS {qident(text_col)}",
        f"CAST(size(_ts) - size({kept}) AS BIGINT) AS n_tokens_removed",
        "n_grams_cut",
    )
    return touched.unionByName(untouched)
