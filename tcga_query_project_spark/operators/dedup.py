"""Deduplication operators (north-star extensions; SURVEY.md §2.10).

Exact and near-duplicate detection over a document corpus. The MinHash
implementation is deliberately *portable-hash* based (md5, available
bit-identically in DuckDB) so every stage is oracle-checkable; swapping
``md5`` for ``xxhash64`` is a one-line change that roughly halves hash
cost at production scale.

Scale design: every stage is explode → groupBy → join on
content-derived keys. Nothing collects; candidate generation is
band-bucket equi-join (LSH), so the quadratic all-pairs comparison is
never materialized — the join only produces pairs sharing a band
bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tcga_query_project_spark.operators.partitioning import fan_out
from tcga_query_project_spark.operators.similarity import (
    cosine,
    sign_bucket,
    vector_side,
)
from tcga_query_project_spark.operators.text import norm_tokens_sql


def normalized_text(text: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def _shingles_sql(k: int) -> str:
    """SQL form of the k-gram shingle array over a materialized
    ``_toks`` column (the guard mirrors the Column version: Spark's
    sequence(1, 0) yields a DESCENDING [1, 0], not empty, so short
    documents need an explicit empty-array branch)."""
    return (
        f"case when size(_toks) >= {k} then "
        f"transform(sequence(1, size(_toks) - {k - 1}), "
        f"i -> array_join(slice(_toks, i, {k}), ' ')) "
        "else cast(array() as array<string>) end"
    )


#: modulus for the minhash permutation family — smallest prime > 2^32,
#: so (2·seed+1)·v + seed·1000003 stays within signed-64 range.
MINHASH_PRIME = 4294967311

#: MinHash seeds of the dedup operators that fix the family (8 hashes,
#: banded in pairs of 2 over word 3-shingles).
SEEDS = list(range(1, 9))

#: Jaccard at or above which two documents are near-duplicates in the
#: cluster and decontamination operators.
DUP_THRESHOLD = 0.2


def shingle_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct word 3-gram shingles per document as ROWS, built on the
    whole-stage-codegen gram path: posexplode the token array, lead()
    over a doc-keyed window, concat, distinct — the shingles of
    :func:`jaccard_prefix_join` and of the persisted dedup index.

    Output is row-for-row the set ``explode(shingle_array(...))``
    produces (same normalization, same
    grams, same dedup — equality-tested), but ~30x faster to
    materialize at sf0.1 (0.26s vs 8.8s): Spark evaluates higher-order-
    function lambdas INTERPRETED, and an un-persisted
    ``transform(sequence, slice+array_join)`` additionally re-expands
    under inferred filters. Use this form whenever the consumer wants
    shingle rows (MinHash signatures, postings joins); keep
    :func:`shingle_array` only where the per-doc ARRAY itself is the
    payload (the array_intersect verify of :func:`near_duplicates`).

    One doc-keyed window exchange; documents with fewer than 3 tokens
    emit nothing.
    """
    seq = fan_out(df, id_col).selectExpr(
        f"`{id_col}`",
        f"posexplode({norm_tokens_sql(text_col)}) as (_p, _w)",
    )
    over = f"over (partition by `{id_col}` order by _p)"
    leads = [f"lead(_w, {i}) {over}" for i in (1, 2)]
    return (
        seq.selectExpr(
            f"`{id_col}`",
            f"concat_ws(' ', _w, {', '.join(leads)}) as shingle",
            f"{leads[-1]} as _last",
        )
        .filter(F.col("_last").isNotNull())
        .select(id_col, "shingle")
        .distinct()
    )


def shingle_array(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Distinct word k-gram shingles per document as ONE array column —
    the no-explode representation: (doc, ARRAY<shingle>) instead of one
    row per (doc, shingle).

    Documents with fewer than ``k`` tokens get an empty array; callers
    computing signatures must filter those out (they can never be
    near-dup candidates, and an all-null signature would otherwise
    bucket every short doc together).
    """
    df = fan_out(df, id_col)
    return df.selectExpr(
        f"`{id_col}`", norm_tokens_sql(text_col) + " as _toks"
    ).selectExpr(
        f"`{id_col}`", f"array_distinct({_shingles_sql(k)}) as shingles"
    )


def minhash_signature_arrays(
    sh_arr: DataFrame, id_col: str, num_hashes: int = 8
) -> DataFrame:
    """Wide MinHash signature from per-document shingle ARRAYS; output
    values identical to :func:`minhash_signature` (same hash family).

    Physical strategy: explode the array and run the N per-seed mins as
    ONE codegen'd hash aggregation. A previous revision computed the
    mins as array ``transform``/``array_min`` expressions to avoid the
    shuffle entirely, but Spark evaluates higher-order-function lambdas
    interpreted (outside whole-stage codegen) — measured ~4x slower at
    sf0.1 than the exploded aggregate, whose md5 + permutation
    arithmetic all stay inside generated JVM code and whose shuffle
    carries only map-side partial mins (N longs per doc per input
    partition). That trade holds at cluster scale: the agg shuffle is
    tiny and CPU is the binding cost either way.

    Documents with empty shingle arrays yield no rows (explode of an
    empty array), matching the previous explicit filter.
    """
    exploded = sh_arr.select(
        F.col(id_col), F.explode(F.col("shingles")).alias("shingle")
    )
    return minhash_signature(exploded, id_col, num_hashes)


def jaccard_pairs_arrays(
    pairs: DataFrame, sh_arr: DataFrame, id_col: str
) -> DataFrame:
    """Exact Jaccard for candidate pairs from per-document shingle
    ARRAYS: two equi-joins on document id attach both arrays, then
    ``array_intersect``/sizes compute the measure per row — no
    (doc, shingle)-grain shuffle, and the join payload is one array per
    document instead of its exploded rows. Value-identical to the
    exploded (doc, shingle)-row join the DuckDB oracle replays (both
    operate on distinct shingle sets)."""
    a = sh_arr.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("_sa")
    )
    b = sh_arr.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("_sb")
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("double")
    sza = F.size("_sa").cast("double")
    szb = F.size("_sb").cast("double")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / (sza + szb - inter), 6).alias("jaccard"),
        )
    )


def minhash_signature(
    shingles: DataFrame, id_col: str, num_hashes: int = 8
) -> DataFrame:
    """Wide MinHash signature: one row per document with columns
    ``_mh1.._mhN``, via one base hash + a linear permutation family.

    Each shingle is hashed ONCE (md5 → first 32 bits as integer v, a
    parse both engines share bit-for-bit); seed i's permutation is
    ``h_i = ((2i+1)·v + 1000003·i) mod P`` with P prime > 2^32 — the
    classic universal-hash MinHash family. All N mins are computed in a
    SINGLE groupBy over the shingle rows (one ``min`` aggregate per
    seed): no seed fan-out, no N× row explosion — the shuffle carries
    map-side partial mins, N longs per (doc, input-partition).
    """
    base = shingles.select(
        F.col(id_col),
        F.expr(
            "cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)"
        ).alias("_v"),
    )
    # single-parse SQL aggregates (the Column-object loop
    # cost ~10 py4j round trips per seed at build time; identical
    # analyzed plan). The offset is a 64-bit literal (L suffix): an
    # IntegerType `i * 1000003` would wrap past int32 for
    # num_hashes >= 2148 (ANSI mode: throw).
    return base.groupBy(id_col).agg(
        *[
            F.expr(
                f"min(({2 * i + 1} * _v + {i * 1000003}L) % "
                f"{MINHASH_PRIME}L) as _mh{i}"
            )
            for i in range(1, num_hashes + 1)
        ]
    )


def _band_signatures(
    signatures: DataFrame, id_col: str, seeds: list[int], band_size: int
) -> DataFrame:
    """(id, band, band_sig) rows from a wide ``_mh<N>`` signature table.

    Band signature = md5 of the band's minhashes joined in seed order
    (portable: string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) on
    the oracle side). The wide signature row makes this a narrow
    per-row expression — the per-(doc, band) inline explode is
    num_bands structs per document, no shuffle. Shared by the
    self-join candidate generator (:func:`lsh_candidates`) and the
    cross-corpus contamination join (:func:`decontaminate`)."""
    bands = [
        seeds[j : j + band_size] for j in range(0, len(seeds), band_size)
    ]
    # one SQL-parsed inline() over the per-band struct array (not a
    # ~50-py4j-call Column forest per build; inline is
    # explode-then-field-select in one generator, identical output)
    parts = ", ".join(
        "struct(cast({j} as bigint) as band, "
        "md5(concat_ws('|', {cols})) as band_sig)".format(
            j=j,
            cols=", ".join(f"cast(_mh{i} as string)" for i in grp),
        )
        for j, grp in enumerate(bands)
    )
    return signatures.selectExpr(
        f"`{id_col}`", f"inline(array({parts}))"
    )


def lsh_candidates(
    signatures: DataFrame, id_col: str, band_size: int = 2
) -> DataFrame:
    """LSH banding: group seeds into bands of ``band_size``; documents
    sharing any band signature become candidate pairs (id_a < id_b).

    The band signature is the concatenation of the band's minhashes in
    seed order; the self-join is an equi-join on (band, signature), so
    only colliding documents pair up.
    """
    seeds = sorted(
        (int(c[3:]) for c in signatures.columns if c.startswith("_mh")),
    )
    if not seeds:
        raise ValueError(
            "lsh_candidates: no _mh<N> signature columns in input "
            f"(got {signatures.columns}); pass the wide output of "
            "minhash_signature()"
        )
    band_sigs = _band_signatures(signatures, id_col, seeds, band_size)
    a = band_sigs.select(
        F.col(id_col).alias("id_a"), F.col("band"), F.col("band_sig")
    )
    b = band_sigs.select(
        F.col(id_col).alias("id_b"), F.col("band"), F.col("band_sig")
    )
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pipeline: shingle → minhash → band →
    candidate join → exact-Jaccard verify → threshold.

    Array-native dataflow: shingles stay one ARRAY per
    document, signatures are a narrow map over that array
    (:func:`minhash_signature_arrays`), so the FIRST shuffle in the
    pipeline is the LSH band equi-join and the verify stage joins one
    array per doc instead of exploded (doc, shingle) rows. The shingle
    arrays feed three branches (signatures + both verify sides) and are
    persisted (memory, spill-to-disk) so tokenize/shingle runs once; at
    cluster scale the same role is played by a parquet checkpoint.
    Caching contract (lifetime): operators/caching.py;
    lazy population — all three consumers execute inside one job here,
    so first-touch fill is cheapest. Results are value-identical to the
    exploded formulation (the DuckDB oracle replays that one).
    """
    from tcga_query_project_spark.operators.caching import materialize_shared

    sh = materialize_shared(shingle_array(df, id_col, text_col, k))
    sig = minhash_signature_arrays(sh, id_col, num_hashes)
    cand = lsh_candidates(sig, id_col, band_size)
    return jaccard_pairs_arrays(cand, sh, id_col).filter(
        F.col("jaccard") >= threshold
    )


#: Jaccard threshold of the exact prefix-filter similarity join.
PREFIX_JOIN_THRESHOLD = 0.6


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """EXACT set similarity join via prefix filtering (the AllPairs/
    PPJoin candidate rule — Bayardo et al. 2007, Xiao et al. 2008):
    every pair of documents whose distinct word 3-shingle Jaccard is
    >= ``PREFIX_JOIN_THRESHOLD``, with NO false negatives — the
    deterministic complement to :func:`near_duplicates` (MinHash-LSH misses a pair
    with probability (1-s^r)^b; dedup audits and contracts sometimes
    need the exact answer).

    Prefix-filter theorem: order the universe of tokens globally and
    sort each document's token set by that order; if two sets X, Y have
    Jaccard >= t they must share at least one token within each set's
    first ``|X| - ceil(t*|X|) + 1`` tokens. Candidates therefore come
    from an equi-join on PREFIX tokens only, followed by the length
    filter ``least(|X|,|Y|) >= t*greatest(|X|,|Y|)`` and an exact
    verify. The canonical order is rarest-first (ascending corpus
    frequency, token tiebreak), which lands candidate generation on the
    RAREST tokens — the hottest token can only appear in a prefix when
    a document has almost nothing rarer, so posting lists in the join
    stay short exactly where the data is hottest.

    Output: ``(doc_a, doc_b, jaccard)`` with doc_a < doc_b, jaccard
    rounded 6 (threshold compared on the RAW ratio; inputs are exact
    integers so the ratio is engine-identical). Docs with no tokens
    never pair. ASCII-ordering note: the global token order is the
    bytewise sort of ``lpad(count)||token`` strings, identical across
    engines for ASCII corpora (the fuzz grid's domain); non-ASCII
    tokens could order differently between UTF-16 (Spark) and UTF-8
    (DuckDB) comparisons — only the ORDER is affected, never set membership.

    Scale shape — ALL FLAT TABLES, nothing nested is ever persisted
    (Spark's in-memory columnar cache handles array<string> columns
    ~5x slower than the equivalent flat rows — measured 5.6s vs 1.2s
    just to populate the shingle-array cache at sf0.1 — so the
    postings table, not the set arrays, is the shared spine): the
    element-frequency table joins element-keyed (AQE broadcasts it
    while it fits — for word tokens it is vocabulary-sized; for
    shingles it grows with the corpus, so no broadcast is forced);
    per-doc sorted key arrays are built in one doc-keyed aggregate
    and consumed ONCE (never cached); the candidate join is equi on
    prefix element with the O(1) length filter and PPJoin's
    positional filter (the matched prefix POSITION bounds the
    attainable overlap: ``1 + min(|A|-i-1, |B|-j-1) >= t/(1+t) *
    (|A|+|B|)`` — measured 193k -> 69k candidates on the bench
    corpus); the exact verify counts intersections through a
    candidate-keyed postings join ((doc, token) rows joined on token),
    reusing the cached postings. The persisted spine (postings +
    prefix rows) is flat strings/ints only; both guards (-1e-9 on
    ceil and on the positional bound) only ever ADD candidates, so a
    binary-rounded-UP threshold cannot drop a true pair.

    The universe is distinct word 3-SHINGLE sets (the near-dup
    universe :func:`near_duplicates` uses — order-sensitive, so
    template-heavy corpora whose documents share vocabulary but not
    phrasing don't collapse into one giant quadratic output cluster),
    built by :func:`shingle_rows` on the codegen gram path.
    """
    from tcga_query_project_spark.operators.caching import materialize_shared

    t = PREFIX_JOIN_THRESHOLD
    post0 = shingle_rows(df, id_col, text_col).select(
        F.col(id_col).alias("_id"), F.col("shingle").alias("_tok")
    )
    # the FLAT postings spine: feeds the frequency agg, the key-sort
    # agg, and BOTH verify sides — persist it. LAZY:
    # an eager count() paid one full extra pass per cache just to
    # pre-populate (measured 5.0s -> 3.5s wall at sf0.1). There are NO
    # partition-level cache locks —
    # if AQE broadcasts the rk frequency table, its build can race the
    # streamed scan over cold partitions and double-compute them; that
    # worst case equals the no-persist baseline (each consumer computes
    # the spine once), so lazy stays a measured win with a bounded
    # downside. See caching.materialize_shared's contract note.
    post = materialize_shared(post0)
    # rarest-first global order as a sortable string key: zero-padded
    # corpus count + the element itself (fixed 12-digit count field)
    rk = (
        post.groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_tok",
            F.concat(
                F.lpad(F.col("_c").cast("string"), 12, "0"), F.col("_tok")
            ).alias("_rkey"),
        )
    )
    # no forced broadcast: the element-frequency table scales with the
    # DISTINCT-element universe (for shingles that grows with the
    # corpus, unlike a word vocabulary) — AQE broadcasts it while it
    # fits and falls back to an element-keyed shuffle join beyond
    keyed = (
        post.join(rk, "_tok")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list("_rkey")).alias("_keys"))
    )
    s = F.size("_keys")
    p_len = s - F.ceil(F.lit(t) * s - F.lit(1e-9)).cast("int") + 1
    pre = materialize_shared(
        keyed.select(
            "_id",
            s.alias("_s"),
            F.posexplode(F.slice("_keys", 1, p_len)).alias("_pos", "_rkey"),
        )
    )
    a = pre.select(
        F.col("_id").alias("doc_a"),
        F.col("_s").alias("_sa"),
        F.col("_pos").alias("_pa"),
        "_rkey",
    )
    b = pre.select(
        F.col("_id").alias("doc_b"),
        F.col("_s").alias("_sb"),
        F.col("_pos").alias("_pb"),
        "_rkey",
    )
    # length filter + PPJoin positional filter on the FIRST shared
    # prefix element (min positions over the pair's matches); both
    # prune only — the exact verify below decides membership
    cand = (
        a.join(b, "_rkey")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("_sa", "_sb") >= F.lit(t) * F.greatest("_sa", "_sb")
        )
        .groupBy("doc_a", "doc_b", "_sa", "_sb")
        .agg(F.min("_pa").alias("_ia"), F.min("_pb").alias("_ib"))
        .filter(
            1.0
            + F.least(
                F.col("_sa") - F.col("_ia") - 1,
                F.col("_sb") - F.col("_ib") - 1,
            )
            >= F.lit(t / (1.0 + t)) * (F.col("_sa") + F.col("_sb"))
            - F.lit(1e-9)
        )
    )
    # exact verify: intersection via a candidate-keyed postings join
    # against the cached FLAT postings
    pa = post.select(F.col("_id").alias("doc_a"), "_tok")
    pb = post.select(F.col("_id").alias("doc_b"), "_tok")
    inter = (
        cand.select("doc_a", "doc_b")
        .join(pa, "doc_a")
        .join(pb, ["doc_b", "_tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("double").alias("_inter"))
    )
    jac = F.col("_inter") / (
        F.col("_sa") + F.col("_sb") - F.col("_inter")
    )
    return (
        cand.join(inter, ["doc_a", "doc_b"])
        .withColumn("_j", jac)
        .filter(F.col("_j") >= t)
        .select("doc_a", "doc_b", F.round("_j", 6).alias("jaccard"))
    )


def band_firstseen_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Near-dedup admission gate: a document passes iff EVERY one of
    its LSH band signatures is first-seen, with "arrival order" =
    ascending ``id_col`` (a per-band-key min-id claim).

    Same decision semantics, different trade than
    :func:`near_duplicates`: no candidate verify, so an LSH
    false-positive on even one band rejects a unique document — the
    fail-closed direction (never admits a near-dup the bands can see).
    Documents with no bands (< 3 tokens after normalization) pass
    trivially.

    Output: one row per input document — ``(id, n_bands BIGINT,
    passed BOOLEAN)``; filter ``passed`` for the admitted corpus.

    Scale shape: shingle/minhash are narrow per-doc work (one signature
    aggregation shuffle); the gate itself is a MIN window over ONE
    band-keyed exchange — each band-key partition holds that key's
    occurrence list — followed by a per-doc all() aggregation. The band rows
    are consumed ONCE: a first draft aggregated min-ids and joined
    them back, which made Catalyst execute the whole tokenize→shingle→
    minhash pipeline twice (measured 10s vs 0.6s at sf0.1); the window
    form and the persisted shingle stage (same contract as
    :func:`near_duplicates` — also blocks the inferred explode
    not-empty filter from re-expanding the interpreted shingle lambda
    below the projection) keep it single-pass. No self-join, no pair
    explosion: this is the cheap pre-filter tier; the pair-verified
    tier is :func:`near_duplicates`.
    """
    from pyspark.sql import Window

    from tcga_query_project_spark.operators.caching import (
        materialize_shared,
    )

    sh = materialize_shared(shingle_array(df, id_col, text_col))
    sig = minhash_signature_arrays(sh, id_col)
    bands = _band_signatures(sig, id_col, SEEDS, 2)
    w = Window.partitionBy("band", "band_sig")
    per_doc = (
        bands.withColumn("_keep", F.min(id_col).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bands"),
            F.min((F.col("_keep") == F.col(id_col)).cast("int")).alias(
                "_all_first"
            ),
        )
    )
    return df.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bands"), F.lit(0).cast("long")).alias("n_bands"),
        (F.coalesce(F.col("_all_first"), F.lit(1)) == 1).alias("passed"),
    )


#: Arrow output schema of the exact blocked near-dup's grouped-map kernel.
_PAIR_SCHEMA = "id_a long, id_b long, cosine double"


def _pair_kernel_pdf(pdf, id_col: str, vec_col: str, threshold: float):
    """Score one grouped block-pair with a single numpy matmul.

    ``pdf`` holds the rows of one group with a ``_role`` column: 'a'
    rows form the left matrix, 'b' rows the right. A homogeneous group
    (all 'a') is a diagonal block — scored against itself with the
    strict upper triangle keeping each unordered pair once. Off-
    diagonal groups orient each pair as (min_id, max_id); blocks are
    disjoint id-sets so every unordered pair lands in exactly one
    group. Zero vectors get norm 1 (cosine 0 against everything,
    matching the SQL convention where 0/0 pairs are dropped by the
    threshold).
    """
    import numpy as np
    import pandas as pd

    def unit(rows):
        if not len(rows):
            return np.empty((0, 0)), np.empty(0, dtype=np.int64)
        m = np.array(
            [np.asarray(v, dtype=np.float64) for v in rows[vec_col]]
        )
        n = np.linalg.norm(m, axis=1)
        n[n == 0] = 1.0
        return m / n[:, None], rows[id_col].to_numpy()

    a = pdf[pdf["_role"] == "a"]
    b = pdf[pdf["_role"] == "b"]
    ma, ia = unit(a)
    if len(b):
        mb, ib = unit(b)
        if not len(a):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        cos = np.round(ma @ mb.T, 4)
        ri, cj = np.where(cos >= threshold)
        lo = np.minimum(ia[ri], ib[cj])
        hi = np.maximum(ia[ri], ib[cj])
        keep = lo < hi  # drop accidental same-id pairs
        return pd.DataFrame(
            {"id_a": lo[keep], "id_b": hi[keep], "cosine": cos[ri, cj][keep]}
        )
    if not len(a):
        return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
    cos = np.round(ma @ ma.T, 4)
    ri, cj = np.where(cos >= threshold)
    keep = ia[ri] < ia[cj]
    return pd.DataFrame(
        {"id_a": ia[ri][keep], "id_b": ia[cj][keep], "cosine": cos[ri, cj][keep]}
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) pairs
    whose cosine similarity (rounded to 4 decimals for FP portability)
    reaches ``threshold``. EXACT — every pair is examined.

    Distributed blocked matmul, nothing on the driver: rows hash into
    ``n_blocks`` disjoint blocks, a tiny broadcast grid enumerates the
    B(B+1)/2 unordered block pairs, and each pair becomes one
    ``applyInPandas`` group scored by a single vectorized numpy matmul.
    Dense all-pairs is the one shape where that beats the package's
    Spark SQL cosine (:func:`similarity.cosine`): at sf0.1 (2,000
    vectors, ~2M pairs, 4,143 kept) this kernel takes 0.89 s and the
    SQL cross join 5.6 s over 4 partitions (17 s on the single scan
    split), warm medians on a 4-core host.

    Scale accounting: all-pairs-above-threshold is inherently
    O(n²·d) compute — the blocked grid distributes it evenly (each
    row is shuffled to its B partner groups; replication factor B,
    peak task memory 2·(n/B)·d doubles). Size ``n_blocks`` ≈
    √(2·parallelism) for CPU balance, or larger to bound per-task
    memory: n = 1e6 docs at B = 1024 is ~1k-row blocks — fine. When
    exactness is not required, :func:`embedding_near_dup_auto` drops
    the quadratic term entirely (sign-LSH candidates, each verified by
    a Spark SQL dot product: sparse candidates have no dense block for
    a matmul to amortize over).
    """
    # Each row emits its grid cells in ONE narrow pass — for block b:
    # 'a' role in cells (b, j) for j >= b, 'b' role in cells (i, b) for
    # i < b — so the plan is scan -> explode -> one shuffle into the
    # kernel groups, one scan of the corpus. The guard on b = 0
    # matters: Spark's sequence(0, -1) yields a DESCENDING [0, -1], not
    # an empty array.
    # a NULL vector can never clear a positive cosine threshold, and it
    # would crash the numpy kernel (inhomogeneous array); the SQL
    # convention drops it via the norms join — mirror that up front.
    df = df.filter(F.col(vec_col).isNotNull())
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    a_cells = F.transform(
        F.sequence(F.col("_blk"), F.lit(n_blocks - 1)),
        lambda j: F.struct(
            F.col("_blk").alias("bi"), j.alias("bj"), F.lit("a").alias("_role")
        ),
    )
    b_cells = F.when(
        F.col("_blk") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("_blk") - 1),
            lambda i: F.struct(
                i.alias("bi"), F.col("_blk").alias("bj"), F.lit("b").alias("_role")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bi:int,bj:int,_role:string>>"))
    both = (
        df.select(F.col(id_col), F.col(vec_col), blk.alias("_blk"))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(F.concat(a_cells, b_cells)).alias("_cell"),
        )
        .select(
            F.col("_cell.bi").alias("bi"),
            F.col("_cell.bj").alias("bj"),
            F.col("_cell._role").alias("_role"),
            id_col,
            vec_col,
        )
    )

    def kernel(pdf):
        # an OFF-diagonal cell whose partner block holds no vectors
        # arrives as an all-'a' group — indistinguishable from a
        # diagonal block by roles alone, and the homogeneous branch
        # would re-score the whole block once per empty partner,
        # duplicating its pairs. The grouping keys disambiguate: only
        # bi == bj may self-score.
        if (
            len(pdf)
            and pdf["bi"].iat[0] != pdf["bj"].iat[0]
            and not (pdf["_role"] == "b").any()
        ):
            import pandas as pd

            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        return _pair_kernel_pdf(pdf, id_col, vec_col, threshold)

    return both.groupBy("bi", "bj").applyInPandas(kernel, _PAIR_SCHEMA)


def embedding_near_dup_auto(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_tables: int = 4,
    target_occupancy: int = 16,
    max_bits: int = 16,
) -> DataFrame:
    """Approximate embedding near-dup: sign-LSH candidate generation
    with an exact cosine verify in Spark SQL, the bucket width TUNED TO
    THE CORPUS in-plan — never quadratic in the corpus.

    Table ``t`` buckets each vector by the sign pattern of its ``bits``
    components starting at ``t·bits``; two vectors are candidates if
    they share a bucket in ANY table. The candidates are a self
    equi-join on (table, bucket), deduped across tables, and each pair
    is verified once by :func:`similarity.cosine`, ``round(dot /
    (norm_a · norm_b), 4)`` — the oracle's formula, with each norm
    computed once per vector — in array expressions, with no Python
    worker. Output ⊆ the exact
    :func:`embedding_near_dup` result. A FIXED
    ``bits`` is only a constant-factor reduction of quadratic
    (Σ bucket² ≈ n²·T/2^bits), so the width follows the corpus size
    (at least 4 bits):

        bits = clamp(4, max_bits,
                     ceil(log2(n / target_occupancy)))

    so expected bucket occupancy stays ≈ ``target_occupancy`` at ANY
    corpus size and verify work is ≈ n·occupancy·T — linear. The
    corpus count enters as a broadcast one-row aggregate (cross-join
    scalar, the q22/tfidf pattern — no driver job, no eager build), and
    :func:`similarity.sign_bucket` folds a dynamic ``sequence(1, bits)``
    per table. Everything stays engine-portable:
    the DuckDB oracle replays count → bits → buckets → exact verify
    with the identical rule. Cross-engine safety of ceil(log2(x)) is a
    CLAMP argument, not an exactness one: Spark computes log2 as
    ln(x)/ln(2), which overshoots some exact powers of two (first at
    2^29, where ln(2^29)/ln(2) = 29.000000000000004 so ceil gives 30
    while DuckDB's std::log2 gives exactly 29) — but every input whose
    ceil could diverge lies far above the max_bits=16 clamp, where both
    engines saturate to the same value. Raising max_bits past ~29 must
    re-examine this boundary.

    Recall concentrates on genuine near-dups as bits grows (per-table
    match prob p^bits for per-component sign agreement p ≈ 1 − θ/π):
    at bits=12, cosine-0.99 planted dups retain ≈ 0.57/table ≈ 0.97
    over 4 tables, while unrelated pairs are excluded almost surely —
    the near-dup-gate trade, property-tested on planted perturbation
    corpora. A tuned width that reads past the vector dimension
    degrades gracefully (out-of-bounds components contribute bit 0 on
    both engines — null-safe ``F.get`` ↔ SQL list indexing); callers
    wanting every slice informative keep dim ≥ n_tables·max_bits.
    """
    # clamp the count to >= 1 BEFORE log2: log2(0) is NULL in Spark but
    # an error in DuckDB, and NULL propagation through GREATEST/LEAST
    # differs across engines (Spark skips NULLs, DuckDB returns NULL) —
    # keeping the argument strictly positive sidesteps both divergences
    # on an empty corpus (where no rows flow anyway).
    # a NULL vector never clears the threshold, and the oracle's count
    # (COUNT(embedding)) leaves it out of the bits
    df = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    )
    cnt = df.agg(
        F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double").alias("_n")
    )
    bits_col = F.greatest(
        F.lit(4).cast("long"),
        F.least(
            F.lit(max_bits).cast("long"),
            F.ceil(F.log2(F.col("_n") / F.lit(float(target_occupancy)))),
        ),
    )
    bits = F.col("_bits")
    tables = F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.struct(
            t.cast("long").alias("tbl"),
            sign_bucket(F.col(vec_col), bits, start=t * bits).alias("bkt"),
        ),
    )
    prepared = fan_out(df, id_col).crossJoin(
        F.broadcast(cnt.select(bits_col.alias("_bits")))
    )
    rows = prepared.select(
        F.col(id_col), F.explode(tables).alias("_tb")
    ).select(
        F.col(id_col).alias("_id"),
        F.col("_tb.tbl").alias("_tbl"),
        F.col("_tb.bkt").alias("_bkt"),
    )
    # a pair sharing a bucket in several tables is verified once
    a, b = rows.alias("a"), rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._tbl") == F.col("b._tbl"))
            & (F.col("a._bkt") == F.col("b._bkt"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sides = vector_side(df, id_col, vec_col)
    cos = cosine(F.col("_va"), F.col("_na"), F.col("_vb"), F.col("_nb"))
    # the threshold filter is pushed into the join condition, so a pair
    # that passes pays the dot product twice; under 1% of candidates
    # pass at sf0.01-0.1, and evaluating it once did not measure faster
    return (
        cand.join(sides.toDF("id_a", "_va", "_na"), "id_a")
        .join(sides.toDF("id_b", "_vb", "_nb"), "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


# --- SimHash --------------------------------------------------------------


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over word tokens (portable variant).

    Per token, the first 4 hex chars of md5 give 16 bits; each bit
    contributes ±1 to its position's counter; the sign pattern is the
    fingerprint. Production variant: 64-bit via xxhash64 — same
    dataflow with a wider integer.

    Shape: one row per token (no per-bit explode) — the token hash is
    parsed to a 16-bit integer once, and the 16 per-bit ±1 counters
    collapse into 16 bitwise-AND aggregate columns in a single hash
    aggregation: ``sign_b > 0  ⇔  2·Σ bit_b > n_tokens``. The DuckDB
    oracle keeps the equivalent md5-nibble formulation (identical
    output, engine-portable hex parsing).
    """
    df = fan_out(df, id_col)
    toks = df.selectExpr(
        f"`{id_col}`",
        f"explode({norm_tokens_sql(text_col)}) as _t",
    )
    # bit b (our numbering: b//4 = hex-char index, 3 - b%4 = bit within
    # nibble) is bit (15 - b) of the integer value of the 4-char prefix.
    # Single-parse SQL aggregates (the 16-column Column loop
    # cost ~200 py4j round trips per build; identical analyzed plan).
    hashed = toks.selectExpr(
        f"`{id_col}`",
        "cast(conv(substring(md5(_t), 1, 4), 16, 10) as bigint) as _v",
    )
    bit_sums = hashed.groupBy(id_col).agg(
        F.expr("count(1) as _n"),
        *[
            F.expr(f"sum(shiftright(_v, {15 - b}) & 1) as _b{b}")
            for b in range(16)
        ],
    )
    simhash = " + ".join(
        f"case when _b{b} * 2 > _n then {1 << b}L else 0L end"
        for b in range(16)
    )
    return bit_sums.selectExpr(f"`{id_col}`", f"{simhash} as simhash")


def decontaminate(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Cross-corpus near-duplicate detection — the train/test
    DECONTAMINATION job: find training documents that near-duplicate an
    evaluation/reference document, so they can be dropped before
    training. Returns ``(corpus_id, reference_id, jaccard)`` for every
    cross pair at or above ``DUP_THRESHOLD``; anti-join the corpus against
    the distinct ``corpus_id`` values to clean it.

    Same machinery as :func:`near_duplicates` (identical shingle/
    MinHash/band family), but the candidate join is corpus × reference
    instead of a self-join — and the reference side (eval sets:
    thousands of docs, not billions) broadcasts, so the corpus is
    scanned ONCE with a map-side band lookup and the only shuffle is
    the corpus signature aggregation. Exact-Jaccard verify runs on
    candidates only, with the reference shingle arrays broadcast again
    (array payloads, dimension-sized).

    At 100 TB: cost is one corpus pass + one signature shuffle,
    independent of how many reference sets are unioned into
    ``reference`` (tag them upstream and keep their ids distinct).

    Both shingle-array sides persist (same contract as
    :func:`near_duplicates`): each feeds TWO consumers (band
    signatures + the exact-Jaccard verify), and without the persist
    Catalyst re-executes the tokenize→shingle pipeline per consumer
    and re-expands the interpreted shingle lambda inside the
    explode's inferred not-empty filter (measured 8.8s → 0.6s at
    sf0.1). At cluster
    scale the corpus-side persist's role is a parquet checkpoint or
    simply recomputation — the contract is that the BAND JOIN, not
    the shingle pass, is the first shuffle.
    """
    from tcga_query_project_spark.operators.caching import (
        materialize_shared,
    )

    sh_c = materialize_shared(shingle_array(corpus, id_col, text_col))
    sh_r = materialize_shared(shingle_array(reference, id_col, text_col))
    sig_c = minhash_signature_arrays(sh_c, id_col)
    sig_r = minhash_signature_arrays(sh_r, id_col)
    bands_c = _band_signatures(sig_c, id_col, SEEDS, 2).select(
        F.col(id_col).alias("corpus_id"), "band", "band_sig"
    )
    bands_r = _band_signatures(sig_r, id_col, SEEDS, 2).select(
        F.col(id_col).alias("reference_id"), "band", "band_sig"
    )
    cand = (
        bands_c.join(F.broadcast(bands_r), ["band", "band_sig"])
        .select("corpus_id", "reference_id")
        .distinct()
    )
    a = sh_c.select(F.col(id_col).alias("corpus_id"), F.col("shingles").alias("_sa"))
    b = sh_r.select(
        F.col(id_col).alias("reference_id"), F.col("shingles").alias("_sb")
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("double")
    sza = F.size("_sa").cast("double")
    szb = F.size("_sb").cast("double")
    return (
        cand.join(a, "corpus_id")
        .join(F.broadcast(b), "reference_id")
        .select(
            "corpus_id",
            "reference_id",
            F.round(inter / (sza + szb - inter), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= DUP_THRESHOLD)
    )


def clusters_from_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    weight_col: Column,
) -> DataFrame:
    """Resolve ANY duplicate-pair relation (MinHash-LSH, SimHash,
    embedding-cosine, exact-digest — anything emitting ``(id_a,
    id_b)``) into transitive clusters with one keeper per cluster.
    Output per input row: ``(id_col, component, cluster_size,
    keep_id)``; ``component`` is the min id in the connected component
    (singletons label themselves), ``keep_id`` the member maximizing
    ``weight_col`` (ties → smallest id).

    The component window hash-spreads on component id — singleton
    components dominate real corpora, so no skew; the graph step only
    ever shuffles the pair edge list (see operators/graph.py). The
    docs⟕labels join is left to AQE: the label side is dimension-sized
    whenever the near-dup rate is sane, so it converts to broadcast at
    runtime (runtime stats — the checkpointed edge RDD has none at
    plan time), but degrades safely to a shuffle join on a
    pathologically duplicate-heavy corpus instead of OOMing a forced
    broadcast.
    """
    from pyspark.sql.window import Window

    from tcga_query_project_spark.operators.graph import connected_components

    comp = connected_components(pairs, "id_a", "id_b")
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col), weight_col.alias("_wt")
    )
    labelled = base.join(
        comp, base[id_col] == comp["id"], "left"
    ).select(
        id_col,
        "_wt",
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )
    w = Window.partitionBy("component")
    wk = Window.partitionBy("component").orderBy(
        F.col("_wt").desc(), F.col(id_col).asc()
    )
    return labelled.select(
        id_col,
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        F.first(F.col(id_col)).over(wk).alias("keep_id"),
    )


def dup_clusters(
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Near-duplicate CLUSTER resolution: pairs → transitive groups →
    one keeper per group. Returns one row per document:

    ``(id_col BIGINT, component BIGINT, cluster_size BIGINT,
    keep_id BIGINT)``

    - ``component`` — minimum doc id in the document's near-dup
      connected component (its own id for singletons), the canonical
      engine-portable cluster label;
    - ``cluster_size`` — number of documents in the component;
    - ``keep_id`` — the chosen representative: LONGEST text in the
      component, ties broken by smallest id. "Keep the richest
      member" is the standard near-dedup keeper policy — the shortest
      member of a boilerplate cluster is usually the most truncated.

    Filter ``id == keep_id`` for the deduplicated corpus; the full
    output is the dedup LINEAGE table (which doc absorbed which).

    Pipeline: :func:`near_duplicates` (banded LSH candidate join +
    exact-Jaccard verify) → :func:`clusters_from_pairs`
    (large-star/small-star components + one component-keyed window for
    size/keeper). Pair edges are dimension-sized relative to the
    corpus, so the graph step is cheap; the only corpus-sized shuffle
    beyond near-dup itself is the final component window.
    """
    pairs = near_duplicates(docs, id_col, text_col, threshold=DUP_THRESHOLD)
    return clusters_from_pairs(
        docs, pairs, id_col, weight_col=F.length(F.col(text_col))
    )


def build_dedup_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
) -> None:
    """Materialize the corpus's MinHash state as a PERSISTED dedup
    index, so later deltas dedup against history without re-reading
    (or re-hashing) the corpus — the incremental-ingest counterpart of
    :func:`near_duplicates`.

    Layout under ``index_dir``:

    - ``bands/``  — (doc_id, band_sig) hive-partitioned by ``band``:
      the LSH candidate join side;
    - ``signatures/`` — one wide ``_mh1.._mhN`` row per doc: the
      verify side (signature agreement), kilobytes per million docs.

    At 100 TB the corpus is hashed ONCE ever; each ingest batch pays
    only its own hashing plus an equi-join against ``bands/``. For a
    shuffle-free candidate join, save ``bands`` with
    ``io.write_bucketed`` on (band, band_sig) instead — this parquet
    form keeps the index engine-portable.

    Every call is a full (re)build that overwrites the index: bands are
    derived by reading back the signatures store, so appending would
    re-band the ENTIRE history on every call.
    """
    # shingle ROWS on the codegen gram path: the signature
    # aggregate is this chain's only consumer and wants exploded rows
    # anyway, so the interpreted shingle-array lambda (and the persist
    # that guarded its re-expansion) is pure overhead here — see
    # shingle_rows; same shingle set, same signatures.
    sig = minhash_signature(shingle_rows(docs, id_col, text_col), id_col, 8)
    # write signatures FIRST, then derive bands by reading them back:
    # the two writes are independent jobs, and without this the second
    # would re-run the whole shingle+minhash chain (doubling the
    # dominant cost of the build — the one-corpus-hash claim above)
    sig.write.mode("overwrite").parquet(f"{index_dir}/signatures")
    sig_back = docs.sparkSession.read.parquet(f"{index_dir}/signatures")
    bands = _band_signatures(sig_back, id_col, SEEDS, 2)
    bands.write.mode("overwrite").partitionBy("band").parquet(
        f"{index_dir}/bands"
    )


def dedup_against_index(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
) -> DataFrame:
    """Flag delta documents that near-duplicate the INDEXED corpus:
    ``(id_col, matched_id, est_jaccard)`` for each (delta doc, indexed
    doc) candidate whose MinHash signature agreement reaches
    0.5.

    The candidate join is delta-bands ⋈ index-bands on (band,
    band_sig); the verify stage estimates Jaccard as the FRACTION OF
    AGREEING MINHASHES (the unbiased MinHash estimator — granularity
    1/num_hashes; the index stores signatures, not text, so exact
    shingle Jaccard is by-design unavailable and the estimator is the
    standard index-side verify). Clean the delta with an anti-join on
    the returned ids; find delta-internal duplicates separately with
    :func:`near_duplicates` on the delta (history cannot see them).

    num_hashes is read from the stored signature schema — the delta is
    always hashed with the index's own family.
    """
    spark = new_docs.sparkSession
    from tcga_query_project_spark.operators.caching import (
        materialize_shared,
    )

    sig_i = spark.read.parquet(f"{index_dir}/signatures")
    seeds = sorted(int(c[3:]) for c in sig_i.columns if c.startswith("_mh"))
    # the delta signatures feed TWO consumers (band keys + the
    # agreement verify) — persist, or the whole delta hash pipeline
    # executes twice (near_duplicates contract). The shingle stage
    # itself runs on the codegen row path (shingle_rows) —
    # single consumer, no interpreted array lambda.
    sig_n = materialize_shared(
        minhash_signature(
            shingle_rows(new_docs, id_col, text_col), id_col, len(seeds)
        )
    )
    bands_n = _band_signatures(sig_n, id_col, seeds, 2).select(
        F.col(id_col), "band", "band_sig"
    )
    idx_id = sig_i.columns[0]  # id column as written by build
    bands_i = spark.read.parquet(f"{index_dir}/bands").select(
        F.col(idx_id).alias("matched_id"), "band", "band_sig"
    )
    cand = (
        bands_n.join(bands_i, ["band", "band_sig"])
        .select(id_col, "matched_id")
        .distinct()
    )
    agree = sum(
        (F.col(f"_n{i}") == F.col(f"_i{i}")).cast("int") for i in seeds
    ) / F.lit(float(len(seeds)))
    n_side = sig_n.select(
        F.col(id_col), *[F.col(f"_mh{i}").alias(f"_n{i}") for i in seeds]
    )
    i_side = sig_i.select(
        F.col(idx_id).alias("matched_id"),
        *[F.col(f"_mh{i}").alias(f"_i{i}") for i in seeds],
    )
    return (
        cand.join(n_side, id_col)
        .join(i_side, "matched_id")
        .select(
            id_col,
            "matched_id",
            F.round(agree, 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
    )
