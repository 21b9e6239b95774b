"""Nested-data operators (SURVEY.md §2.2 P6-P7, §2.9 F4, §3.3).

The reference's only truly nested type is the per-sample ``treatments``
list-column (drug_km_median_exp.R:35-53): each sample carries a
sub-table of treatment records, and cohort selection iterates it with an
OR predicate over two fields (:50), collects participant ids (first 12
chars of barcode, :47-48), and subsets samples (:55-56).

Spark-first mapping: ``exists()`` higher-order predicate — no explode,
no shuffle, evaluated row-local inside codegen — plus a left-semi join
for the derived-cohort subset. JSON property access (``events.props``)
is the same pattern over a JSON-string column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def treated_filter(
    df: DataFrame,
    treatments_col: str,
    treatment_types: list[str],
    agents: list[str],
) -> DataFrame:
    """P6: keep samples with any treatment row matching type OR agent
    (``any(treat_tmp$treatment_type %in% treat |
    treat_tmp$therapeutic_agents %in% treat)``,
    drug_km_median_exp.R:50). Row-local ``exists`` — no explode."""
    return df.filter(
        F.exists(
            F.col(treatments_col),
            lambda t: t["treatment_type"].isin(*treatment_types)
            | t["therapeutic_agents"].isin(*agents),
        )
    )


def participant_id(barcode: Column) -> Column:
    """F4: participant id = first 12 chars of the sample barcode
    (``substr(participant, 1, 12)``, drug_km_median_exp.R:47-48)."""
    return F.substring(barcode, 1, 12)


def cohort_semi_join(
    samples: DataFrame, cohort_ids: DataFrame, on: str
) -> DataFrame:
    """P7: subset samples to a derived participant list
    (``prep[,keep]`` after ``%in%``, drug_km_median_exp.R:55-56).
    Left-semi join; the cohort id list is small → broadcast."""
    return samples.join(F.broadcast(cohort_ids), on=on, how="left_semi")


def json_int(props: Column, field: str) -> Column:
    """JSON property extraction over a string column (driver's
    ``events.props``): ``get_json_object`` stays JVM-side; oracle mirror
    is DuckDB ``json_extract_string``."""
    return F.get_json_object(props, f"$.{field}").cast("int")
