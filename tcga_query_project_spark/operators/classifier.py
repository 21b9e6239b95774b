"""Trained document-quality classifier (CCNet / GPT-3 recipe).

The supervised tier of the quality surface, next to the heuristic
score (``text.quality_score``: length/punctuation/stopword ratios):
a SUPERVISED linear classifier over hashed bag-of-words features —
"does this document look like the high-quality reference corpus?" —
the filter the GPT-3 and CCNet pipelines ran over Common Crawl
(Brown et al. 2020 §A; Wenzek et al., "CCNet", 2020 use a fastText
linear classifier; hashed unigrams + logistic regression is the same
model class).

Spark-first: the whole pipeline is JVM-side ``pyspark.ml`` —
RegexTokenizer → HashingTF → LogisticRegression — so training is
distributed LBFGS over hashed sparse vectors (no Python in the loop,
no vocabulary state to build or ship: feature hashing is the fastText
trick that makes the model one dense coefficient vector of
``n_features`` floats) and scoring is one narrow JVM pass. At 100 TB:
train on a labeled sample (reference corpus = positives, random crawl
= negatives — labels are cheap by construction), broadcast the
coefficient vector, score the corpus map-only.

Determinism: LBFGS on a fixed dataset with fixed params is
deterministic; hashing is seed-free (MurmurHash3 of the token). The
probability column rounds to 6 decimals like every other statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcga_query_project_spark.operators.text import BPE_TOKEN_PATTERN


def train_quality_classifier(
    labeled: DataFrame,
    text_col: str,
    label_col: str,
    n_features: int = 1 << 18,
    reg_param: float = 1e-4,
    elastic_net: float = 0.0,
    max_iter: int = 50,
):
    """Fit the tokenize→hash→logistic-regression pipeline on a labeled
    sample (``label_col`` ∈ {0.0, 1.0}; 1 = high quality). Returns the
    fitted ``PipelineModel`` — one broadcastable coefficient vector of
    ``n_features`` doubles plus the (stateless) feature stages.

    ``n_features`` trades hash-collision noise for model size; 2^18 is
    fastText's default bucket count. Training cost is
    O(iters · corpus) distributed; the labeled sample is usually tiny
    next to the corpus being scored.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, RegexTokenizer

    tok = RegexTokenizer(
        inputCol=text_col,
        outputCol="_toks",
        pattern=BPE_TOKEN_PATTERN,
        gaps=False,
        toLowercase=True,
    )
    tf = HashingTF(
        inputCol="_toks", outputCol="_features", numFeatures=n_features
    )
    lr = LogisticRegression(
        featuresCol="_features",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=reg_param,
        elasticNetParam=elastic_net,
    )
    return Pipeline(stages=[tok, tf, lr]).fit(
        labeled.withColumn(label_col, F.col(label_col).cast("double"))
    )


def score_quality(
    model, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Score documents with a fitted classifier:
    ``(id_col, clf_quality DOUBLE)`` — P(high quality), rounded to 6
    decimals. One narrow JVM pass (tokenize, hash, dot product against
    the broadcast coefficient vector); zero shuffles, so it fuses into
    any corpus-prep projection."""
    from pyspark.ml.functions import vector_to_array

    # RegexTokenizer's UDF NPEs on NULL input (unlike the expression-
    # level quality scorers, which null-propagate); coalesce to empty
    # so null-text rows score as empty documents instead of failing
    # the whole job
    scored = model.transform(
        df.select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        )
    )
    return scored.select(
        F.col(id_col),
        F.round(
            vector_to_array(F.col("probability"))[1], 6
        ).alias("clf_quality"),
    )
