"""Deterministic TCGA-shaped synthetic fixtures (FIXTURES.md §A).

Generates the star-schema tables of SURVEY.md §1.4 — ``expression``
(long fact), ``genes``, ``samples`` — mirroring the shapes the
reference pulls from the GDC portal (SummarizedExperiment assay +
colData + rowRanges; reference vital_status_DESeq.R:60-67), plus the
tiny TSV config files (genes.txt / cancer.txt / therapeutics.txt,
reference surv_analysis_median_exp.R:6-10, drug_km_median_exp.R:23-30).

Everything is seeded numpy — identical output on every run, so golden
pipeline tests can assert exact values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

N_GENES = 60
N_SAMPLES = 48
SEED = 1234

GOI = ["ATAT1", "HDAC6", "SIRT2"]  # the reference's gene list
STAGES_RAW = ["Stage IA", "Stage IB", "Stage IIA", "Stage IIB", "Stage X", None]
SUBTYPES = ["Normal", "Basal", "Her2", "LumA", "LumB", None]
DRUG_CLASSES = {
    "Taxane": ["Paclitaxel", "Docetaxel"],
    "Anthracycline": ["Doxorubicin", "Epirubicin"],
}

SAMPLES_SCHEMA = StructType(
    [
        StructField("barcode", StringType()),
        StructField("submitter_id", StringType()),
        StructField("short_letter_code", StringType()),
        StructField("vital_status", StringType()),
        StructField("days_to_death", StringType()),
        StructField("paper_days_to_last_followup", StringType()),
        StructField("ajcc_pathologic_stage", StringType()),
        StructField("paper_brca_subtype_pam50", StringType()),
        StructField("sample_type", StringType()),
        StructField(
            "treatments",
            ArrayType(
                StructType(
                    [
                        StructField("submitter_id", StringType()),
                        StructField("treatment_type", StringType()),
                        StructField("therapeutic_agents", StringType()),
                    ]
                )
            ),
        ),
    ]
)


def _barcode(i: int) -> str:
    # TCGA-XX-NNNN-01A style; first 12 chars = participant id (F4).
    return f"TCGA-AB-{1000 + i:04d}-01A-11R-A{i:03d}Z-07"


def gene_table() -> pd.DataFrame:
    rows = []
    for g in range(N_GENES):
        gene_id = f"ENSG{g:08d}"
        if g < len(GOI):
            name = GOI[g]
        elif g == len(GOI):
            name = GOI[0]  # duplicate name → two gene_ids (FIXTURES.md A2)
        else:
            name = f"GENE{g}"
        rows.append({"gene_id": gene_id, "gene_name": name})
    return pd.DataFrame(rows)


def samples_table() -> pd.DataFrame:
    rng = np.random.default_rng(SEED)
    rows = []
    for i in range(N_SAMPLES):
        barcode = _barcode(i)
        participant = barcode[:12]
        is_tumor = i >= 12  # 12 normals, 36 tumors
        vital = rng.choice(["Alive", "Dead", None], p=[0.55, 0.40, 0.05])
        death = str(int(rng.integers(50, 2000))) if vital == "Dead" else None
        followup = (
            str(int(rng.integers(100, 3000))) if rng.random() > 0.1 else None
        )
        treatments = []
        n_treat = int(rng.integers(0, 4))
        for t in range(n_treat):
            drug_class = rng.choice(list(DRUG_CLASSES))
            agent = rng.choice(DRUG_CLASSES[drug_class])
            # mix of match-by-type, match-by-agent, and match-by-neither
            kind = rng.random()
            if kind < 0.3:
                ttype, tagent = drug_class, "Unknown"
            elif kind < 0.6:
                ttype, tagent = "Chemotherapy", agent
            else:
                ttype, tagent = "Radiation", "None"
            treatments.append((f"{participant}-T{t}", str(ttype), str(tagent)))
        rows.append(
            {
                "barcode": barcode,
                "submitter_id": participant,
                "short_letter_code": (
                    None
                    if rng.random() < 0.05
                    else ("TP" if is_tumor else "NT")
                ),
                "vital_status": vital,
                "days_to_death": death,
                "paper_days_to_last_followup": followup,
                "ajcc_pathologic_stage": rng.choice(STAGES_RAW),
                "paper_brca_subtype_pam50": rng.choice(SUBTYPES),
                "sample_type": (
                    "Primary Tumor" if is_tumor else "Solid Tissue Normal"
                ),
                "treatments": treatments,
            }
        )
    return pd.DataFrame(rows)


def expression_table() -> pd.DataFrame:
    """Long-format NB-ish counts. Gene 0 (ATAT1) is differentially
    expressed tumor-vs-normal; genes 50+ sit below the A1 count floor;
    genes 5-7 are 10-100x hot (skew)."""
    rng = np.random.default_rng(SEED + 1)
    genes = gene_table()
    rows = []
    for g in range(N_GENES):
        gene_id = genes["gene_id"][g]
        if g >= N_GENES - 10:
            base = 0.08  # below the rowSums>=10 floor
        elif g in (5, 6, 7):
            base = rng.uniform(500, 5000)  # hot genes (skew)
        else:
            base = rng.uniform(5, 200)
        for i in range(N_SAMPLES):
            mu = base
            if g == 0 and i >= 12:
                mu = base * 4.0  # tumor up-regulation for ATAT1
            if g == 1 and i >= 12:
                mu = base * 0.3  # tumor down-regulation for HDAC6
            # NB via gamma-poisson, sample-specific depth factor
            depth = 0.5 + (i % 7) * 0.25
            lam = rng.gamma(shape=4.0, scale=mu * depth / 4.0)
            rows.append(
                {
                    "gene_id": gene_id,
                    "barcode": _barcode(i),
                    "count": int(rng.poisson(lam)),
                }
            )
    return pd.DataFrame(rows)


def load_fixtures(spark: SparkSession) -> dict[str, DataFrame]:
    from pyspark.sql import functions as F

    genes = spark.createDataFrame(gene_table())
    samples = spark.createDataFrame(
        samples_table().to_dict("records"), schema=SAMPLES_SCHEMA
    )
    expression = spark.createDataFrame(expression_table()).withColumn(
        "count", F.col("count").cast("long")
    )
    return {"genes": genes, "samples": samples, "expression": expression}


def write_config_tsvs(tmp_dir: str) -> dict[str, str]:
    """The reference's config files (S1): genes.txt (mixed case, to
    exercise toupper/F1), cancer.txt, therapeutics.txt (header row =
    drug classes, ragged cells)."""
    import os

    paths = {}
    genes_path = os.path.join(tmp_dir, "genes.txt")
    with open(genes_path, "w") as f:
        f.write("atat1\nHdac6\nSIRT2\n")
    paths["genes"] = genes_path
    cancer_path = os.path.join(tmp_dir, "cancer.txt")
    with open(cancer_path, "w") as f:
        f.write("BRCA\n")
    paths["cancer"] = cancer_path
    ther_path = os.path.join(tmp_dir, "therapeutics.txt")
    with open(ther_path, "w") as f:
        f.write("Taxane\tAnthracycline\n")
        f.write("Paclitaxel\tDoxorubicin\n")
        f.write("Docetaxel\tEpirubicin\n")
        f.write("\tValrubicin\n")  # ragged cell
    paths["therapeutics"] = ther_path
    return paths


# -------------------------------------------------------------------------
# Persisted-parquet form: the same seeded tables materialized
# as plain parquet FILES committed to the repo, so an engine other than
# this process's Spark — the driver's DuckDB oracle — can read the
# identical bytes. The composed TCGA pipeline queries build from these
# files (never from in-session createDataFrame), which is what makes
# their oracle hash-comparison possible at all. tools/persist_fixtures.py
# regenerates them.
# -------------------------------------------------------------------------


def fixtures_parquet_dir() -> str:
    import os

    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures_data"
    )


def read_fixtures_parquet(spark: SparkSession) -> dict[str, DataFrame]:
    """The persisted-parquet counterpart of :func:`load_fixtures` —
    same three tables, read from the committed files (identical content
    by construction; equality asserted in tests/test_pipelines.py)."""
    import os

    d = fixtures_parquet_dir()
    return {
        name: spark.read.parquet(os.path.join(d, f"{name}.parquet"))
        for name in ("genes", "samples", "expression")
    }
