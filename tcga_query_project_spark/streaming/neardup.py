"""Streaming near-duplicate filtering (north-star §2.10: the
MinHash-LSH near-dedup operator's unbounded-stream form).

Batch near-dedup (operators/dedup.near_duplicates) self-joins band
signatures over the whole corpus; a stream cannot self-join its own
past without unbounded state. This module keeps the SAME hash family
and banding as the batch operator but flips the decision rule to a
streaming-safe form:

    a document passes iff EVERY one of its band signatures is
    first-seen within the watermark horizon.

Each band key holds one state entry until the watermark passes it
(``dropDuplicatesWithinWatermark``), so state is bounded by active
bands, not corpus size. Against the batch operator the rule is
STRICTER: a genuinely novel document that collides with history on
even one band (the LSH false-positive that batch resolves with an
exact-Jaccard verify stage) is dropped here — without the stored
corpus there is nothing to verify against. That bias (drop too much,
never pass a near-dup the bands can see) is the right one for
training-data ingest. Two further documented edges: two novel docs in
one micro-batch sharing a band → the first-processed one wins and the
other is dropped (arrival order, not id order); and a near-dup arriving later than the watermark delay after
its original may pass (state for the original's bands has been
reclaimed — the same horizon contract as exact_dedup_stream).

Signature computation is per-row expression work (higher-order
functions over the shingle array) rather than the batch module's
exploded hash aggregation: HOF lambdas evaluate interpreted, but they
are STATELESS — the only stateful operators in the query are the band
dedup and the per-doc band count, both watermark-bounded. The md5 is
hashed once per shingle and all seed mins fold in one aggregate pass
(see ``_band_sigs_expr``); values are bit-identical to the batch
family (same md5 → 32-bit parse → linear permutation mod the same
prime).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tcga_query_project_spark.functions.scalar import md5_prefix_long
from tcga_query_project_spark.operators.dedup import MINHASH_PRIME
from tcga_query_project_spark.operators.text import tokens


def _shingle_expr(text: Column, k: int) -> Column:
    """Distinct word k-gram shingles as one array expression (the
    narrow form of operators/dedup.shingle_array, streaming-safe: no
    fan_out/rdd access)."""
    toks = tokens(F.lower(F.trim(text)))
    n = F.size(toks)
    shingles = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(shingles)


def _band_sigs_expr(shingles: Column, num_hashes: int, band_size: int) -> Column:
    """ARRAY<STRUCT<band, band_sig>> of LSH band signatures, computed
    per row: shingle → md5 → first-32-bits int, seed i's permutation
    ``(2i+1)·v + 1000003·i mod P`` (identical to
    operators/dedup.minhash_signature), min per seed, bands joined in
    seed order with the batch module's '_' separator.

    Cost shape (this is the hot expression of the streaming near-dedup
    path, evaluated interpreted — HOFs sit outside codegen): the md5 is
    ~everything, so each shingle is hashed exactly ONCE
    (``transform``), and all ``num_hashes`` running mins fold in ONE
    ``aggregate`` pass of pure arithmetic whose ``finish`` lambda
    builds the band structs from the bound accumulator — the whole
    signature is a single traversal. The previous form re-hashed every
    shingle once PER SEED (8 md5 passes); measured ~8x slower per
    micro-batch at sf0.1 (tools/bench_streaming.py neardup_bands).
    Values stay bit-identical to the batch family
    (test_streaming_minhash_values_match_batch_family)."""
    v = md5_prefix_long  # the centralized portable-hash primitive
    hashed = F.transform(shingles, lambda s: v(s))
    # any permuted value is < P, so P is the identity for least()
    init = F.array_repeat(F.lit(int(MINHASH_PRIME)).cast("long"), num_hashes)

    def step(acc: Column, h: Column) -> Column:
        # seed i runs 1..num_hashes (list position i-1), matching the
        # batch module's family exactly
        return F.array(
            *[
                F.least(
                    F.get(acc, i),
                    (
                        (2 * (i + 1) + 1) * h
                        + F.lit((i + 1) * 1000003).cast("long")
                    )
                    % F.lit(MINHASH_PRIME),
                )
                for i in range(num_hashes)
            ]
        )

    def finish(acc: Column) -> Column:
        # acc is a BOUND lambda variable: the 8 extractions read the
        # materialized accumulator, they do not re-run the fold
        mins = [F.get(acc, i) for i in range(num_hashes)]
        bands = [
            mins[j : j + band_size] for j in range(0, num_hashes, band_size)
        ]
        return F.array(
            *[
                F.struct(
                    F.lit(j).cast("long").alias("band"),
                    F.concat_ws(
                        "_", *[m.cast("string") for m in grp]
                    ).alias("band_sig"),
                )
                for j, grp in enumerate(bands)
            ]
        )

    sigs = F.aggregate(hashed, init, step, finish)
    # empty shingles must yield an EMPTY band array, not n_bands
    # sentinel structs built from the untouched init accumulator:
    # without this guard every sub-k-token document would share the
    # same sentinel band keys and dedup against all other short
    # documents instead of passing through the short-doc branch.
    return F.when(F.size(shingles) > 0, sigs).otherwise(
        F.array().cast("array<struct<band:bigint,band_sig:string>>")
    )

#: Python mirror of Spark's ``split(x, '\\s+')`` over an ALREADY
#: JVM-normalized string (``trim(lower(trim(text)))`` is pre-projected
#: into the kernel's input frame, so case mapping never happens in
#: Python — Python str.lower() and Spark lower() can diverge on
#: non-ASCII code points across Unicode versions). Two Java-split
#: semantics remain mirrored here and are easy to get wrong: Java regex
#: ``\s`` is the ASCII class [ \t\n\x0B\f\r] (not Python's unicode-aware
#: \s), and Java ``split`` with limit -1 KEEPS leading and trailing
#: empty tokens ('foo bar\n' -> ['foo','bar','']). A kernel that
#: Java-trims and drops boundary empties is wrong: a doc with trailing
#: non-space whitespace then counted fewer tokens than the plan-level
#: routing gate and could vanish from the stream entirely.
_JAVA_WS_SPLIT = r"[ \t\n\x0b\f\r]+"


def _spark_tokens(norm_text: str) -> list[str]:
    """Java ``split('\\s+', -1)`` mirror over pre-normalized text.

    The caller must pass ``trim(lower(trim(text)))`` computed JVM-SIDE
    (see ``_banded_rows_map_in_pandas``'s ``_norm`` projection): this
    function intentionally performs no trimming or case mapping, so
    the only cross-language surfaces are the ASCII ``\\s`` class and
    boundary-empty-token retention pinned above (plus md5, which is
    byte-identical everywhere).
    """
    import re

    return re.split(_JAVA_WS_SPLIT, norm_text)


def _banded_rows_map_in_pandas(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str,
    k: int,
    num_hashes: int,
    band_size: int,
) -> DataFrame:
    """Exploded ``(id, text, ts, _band, _band_sig)`` rows via ONE
    Arrow-batched ``mapInPandas`` kernel — the streaming-safe fast path
    for the band projection.

    Why a Python boundary here when the batch module hashes JVM-side:
    Spark evaluates higher-order-function lambdas INTERPRETED, and the
    per-shingle md5 fold of :func:`_band_sigs_expr` measured ~70% of
    the whole streaming pipeline's wall time (tools/bench_streaming.py:
    8.7s of 12.5s was the stateless projection; both stateful ops
    together under 3s). The batch engine escapes interpretation by
    exploding shingles into a codegen'd aggregation — but a streaming
    groupBy is itself a THIRD stateful operator (state-store traffic,
    output-mode coupling), which costs more than it saves at
    micro-batch sizes. An Arrow-batched kernel is the remaining door:
    vectorized numpy permutations + C-speed hashlib md5, no state, no
    extra shuffle. Values are bit-identical to the expression family —
    pinned by ``test_streaming_banded_kernel_matches_expr``. The
    trim/lowercase normalization runs JVM-SIDE (a ``_norm`` column
    projected into the kernel's input, so Spark's own ``lower()`` does
    the case mapping on every code point — Python's str.lower() could
    diverge on non-ASCII); Python mirrors only Java's ``\\s+`` split
    (:func:`_spark_tokens`) and md5, both byte-exact.

    Scale shape: map-only (no shuffle), batch-local memory = band
    fan-out x Arrow batch size.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    in_schema = df.schema
    out_schema = StructType(
        [
            in_schema[id_col],
            in_schema[text_col],
            in_schema[ts_col],
            StructField("_band", LongType(), False),
            StructField("_band_sig", StringType(), False),
        ]
    )
    n_bands = -(-num_hashes // band_size)
    prime = MINHASH_PRIME
    # permutation family: seed i (1-based) -> (2i+1)*v + i*1000003 mod P
    mults = np.array(
        [2 * i + 1 for i in range(1, num_hashes + 1)], dtype=np.int64
    )
    adds = np.array(
        [i * 1000003 for i in range(1, num_hashes + 1)], dtype=np.int64
    )

    def kernel(batches):
        import hashlib

        md5 = hashlib.md5
        for pdf in batches:
            ids, texts, tss = pdf[id_col], pdf[text_col], pdf[ts_col]
            norms = pdf["_norm"]
            keep_idx: list[int] = []
            flat_hashes: list[int] = []
            starts: list[int] = []
            for pos, norm in enumerate(norms):
                if norm is None or (isinstance(norm, float)):
                    continue
                toks = _spark_tokens(norm)
                if len(toks) < k:
                    continue
                shingles = {
                    " ".join(toks[j:j + k])
                    for j in range(len(toks) - k + 1)
                }
                starts.append(len(flat_hashes))
                flat_hashes.extend(
                    int(md5(s.encode("utf-8")).hexdigest()[:8], 16)
                    for s in shingles
                )
                keep_idx.append(pos)
            if not keep_idx:
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(dtype=ids.dtype),
                        text_col: pd.Series(dtype=object),
                        ts_col: pd.Series(dtype=tss.dtype),
                        "_band": pd.Series(dtype="int64"),
                        "_band_sig": pd.Series(dtype=object),
                    }
                )
                continue
            h = np.asarray(flat_hashes, dtype=np.int64)
            st = np.asarray(starts, dtype=np.int64)
            # all seeds over the flat shingle-hash array, min per doc
            mins = np.empty((len(keep_idx), num_hashes), dtype=np.int64)
            for i in range(num_hashes):
                mins[:, i] = np.minimum.reduceat(
                    (mults[i] * h + adds[i]) % prime, st
                )
            sig_rows = [
                [
                    "_".join(
                        str(v) for v in row[j * band_size:(j + 1) * band_size]
                    )
                    for j in range(n_bands)
                ]
                for row in mins
            ]
            keep = np.asarray(keep_idx)
            rep = np.repeat(keep, n_bands)
            out = pd.DataFrame(
                {
                    id_col: ids.iloc[rep].values,
                    text_col: texts.iloc[rep].values,
                    ts_col: tss.iloc[rep].values,
                    "_band": np.tile(
                        np.arange(n_bands, dtype=np.int64), len(keep)
                    ),
                    "_band_sig": [s for sigs in sig_rows for s in sigs],
                }
            )
            yield out

    # case-map and trim JVM-side so the kernel never lowercases: only
    # Java's \s+ split and md5 are mirrored in Python (both byte-exact;
    # str.lower() is the one mirror that could drift on non-ASCII)
    normed = df.withColumn(
        "_norm", F.trim(F.lower(F.trim(F.col(text_col))))
    )
    return normed.mapInPandas(kernel, out_schema)


def near_dup_dedup_stream(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str = "ts",
    delay: str = "10 minutes",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    window: str = "10 minutes",
) -> DataFrame:
    """Streaming near-dup filter: emit ``(window_start_ms, id, text)``
    for documents ALL of whose LSH band signatures are first-seen.

    Dataflow (append mode, two chained watermark-bounded stateful ops —
    supported since Spark 3.5's multiple-stateful-operator relaxation):

    1. explode each doc into its ``num_hashes/band_size`` band rows
       (text carried through — the fan-out factor is the band count,
       a small constant);
    2. ``dropDuplicatesWithinWatermark`` on (band, band_sig): one
       surviving row per band key per horizon;
    3. windowed count per doc: docs whose surviving-band count equals
       the band count pass (every band was first-seen).

    Documents too short to shingle (< k tokens) have no bands and pass
    unconditionally, mirroring the batch operator's contract that they
    are never near-dup candidates; route them through
    ``exact_dedup_stream`` if exact copies matter.

    Output timestamps are epoch millis (engine-portable; no session-tz
    values escape). Batch input: runs the same plan with plain
    ``dropDuplicates`` semantics via the whole-input scope.
    """
    n_bands = -(-num_hashes // band_size)  # ceil
    # branch on the CHEAP shortness test (token count < k ⟺ empty
    # shingles ⟺ empty bands): the short branch never reaches the
    # hashing kernel at all, and the band branch pays it exactly once
    # coalesce(-1): size(tokens(NULL)) is NULL under ANSI, and a NULL
    # predicate lands a NULL-text document in NEITHER branch — it
    # would silently vanish from the stream instead of passing through
    # the short branch (the batch family treats NULL text as
    # unshingleable, i.e. short)
    n_toks = F.coalesce(
        F.size(tokens(F.lower(F.trim(F.col(text_col))))), F.lit(-1)
    )
    short_docs = df.filter(n_toks < k).select(
        F.unix_millis(F.window(ts_col, window).getField("start")).alias(
            "window_start_ms"
        ),
        F.col(id_col),
        F.col(text_col),
    )
    # band projection runs through the Arrow-batched kernel, NOT the
    # interpreted HOF expression — see _banded_rows_map_in_pandas for
    # the measured justification (the expression form stays available
    # as _band_sigs_expr and value-pinned against the kernel)
    bands = _banded_rows_map_in_pandas(
        df.filter(n_toks >= k).select(id_col, text_col, ts_col),
        id_col, text_col, ts_col, k, num_hashes, band_size,
    )
    if df.isStreaming:
        bands = bands.withWatermark(ts_col, delay)
        surviving = bands.dropDuplicatesWithinWatermark(["_band", "_band_sig"])
    else:
        surviving = bands.dropDuplicates(["_band", "_band_sig"])
    counted = (
        surviving.groupBy(F.window(ts_col, window), F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("_n_surviving"),
            F.first(text_col).alias(text_col),
        )
        .filter(F.col("_n_surviving") == n_bands)
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start_ms"),
            F.col(id_col),
            F.col(text_col),
        )
    )
    return counted.unionByName(short_docs)
