from tcga_query_project_spark.functions.scalar import (  # noqa: F401
    normal_sf_two_sided,
    signif_bin,
)
