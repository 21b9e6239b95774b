"""Regenerate the committed TCGA fixture parquet files.

Writes genes/samples/expression as single parquet files (pyarrow, no
Spark session needed) into ``tcga_query_project_spark/fixtures_data``,
or into the directory given as the first argument. Content is fully
determined by the seeds in ``tcga_query_project_spark.fixtures``;
regenerating overwrites byte-compatible values.

Usage: python tools/persist_fixtures.py [out_dir]
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tcga_query_project_spark import fixtures  # noqa: E402


def persist_fixtures_parquet(out_dir: str | None = None) -> dict[str, str]:
    """Write the three tables into ``out_dir`` (default: the package's
    ``fixtures_data``); return table name -> file path."""
    out_dir = out_dir or fixtures.fixtures_parquet_dir()
    os.makedirs(out_dir, exist_ok=True)

    paths: dict[str, str] = {}

    genes = fixtures.gene_table()
    p = os.path.join(out_dir, "genes.parquet")
    pq.write_table(
        pa.table(
            {
                "gene_id": pa.array(genes["gene_id"], pa.string()),
                "gene_name": pa.array(genes["gene_name"], pa.string()),
            }
        ),
        p,
    )
    paths["genes"] = p

    samp = fixtures.samples_table()
    treat_type = pa.list_(
        pa.struct(
            [
                ("submitter_id", pa.string()),
                ("treatment_type", pa.string()),
                ("therapeutic_agents", pa.string()),
            ]
        )
    )
    treatments = pa.array(
        [
            [
                {
                    "submitter_id": t[0],
                    "treatment_type": t[1],
                    "therapeutic_agents": t[2],
                }
                for t in row
            ]
            for row in samp["treatments"]
        ],
        treat_type,
    )
    cols = {
        name: pa.array(samp[name], pa.string())
        for name in [
            "barcode",
            "submitter_id",
            "short_letter_code",
            "vital_status",
            "days_to_death",
            "paper_days_to_last_followup",
            "ajcc_pathologic_stage",
            "paper_brca_subtype_pam50",
            "sample_type",
        ]
    }
    cols["treatments"] = treatments
    p = os.path.join(out_dir, "samples.parquet")
    pq.write_table(pa.table(cols), p)
    paths["samples"] = p

    expr = fixtures.expression_table()
    p = os.path.join(out_dir, "expression.parquet")
    pq.write_table(
        pa.table(
            {
                "gene_id": pa.array(expr["gene_id"], pa.string()),
                "barcode": pa.array(expr["barcode"], pa.string()),
                "count": pa.array(expr["count"], pa.int64()),
            }
        ),
        p,
    )
    paths["expression"] = p
    return paths


if __name__ == "__main__":
    for name, path in persist_fixtures_parquet(*sys.argv[1:2]).items():
        print(name, path)
