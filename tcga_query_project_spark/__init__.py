"""tcga_query_project_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference repo
``Matt-Preece/TCGA-query-project`` (six R scripts running TCGA
differential-expression and survival analyses; see SURVEY.md).

Layout
------
- ``session``     — SparkSession builder (local[*], AQE, UTC).
- ``schemas``     — fixed StructTypes for the star schema + testdata.
- ``fixtures``    — seeded reference-shaped TCGA star (genes, samples,
                    expression) and its committed parquet form.
- ``sources``     — parquet/csv/tsv readers & sinks, checkpoint ladder
                    (``io``); GDC acquisition (``ingest``).
- ``operators``   — DataFrame-in, DataFrame-out operator library:
                    relational, nested, stats, exact_tests, glm,
                    survival, temporal, graph, dedup, similarity,
                    sketches, text, classifier, bpe, unigram, fuzzy,
                    sampling, partitioning, quality_audit, caching
                    (built-in functions only in hot paths).
- ``functions``   — scalar expression helpers (significance binning,
                    normal-distribution approximations, portable hashes).
- ``streaming``   — batch/stream-symmetric windows, joins, dedup,
                    near-dup, quality gate and stateful operators.
- ``pipelines``   — the reference's three entry-point pipelines (DE,
                    survival, corpus prep) composed from the operators.
- ``plans``       — physical-plan inspection and scale lints.
- ``catalog``     — the driver-facing query registry: every operator as a
                    named query over the testdata tables plus its DuckDB
                    oracle SQL.
"""

__version__ = "0.1.0"
