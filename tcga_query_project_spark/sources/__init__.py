from tcga_query_project_spark.sources.io import (  # noqa: F401
    checkpoint,
    read_table,
    read_tsv_config,
    write_csv_single,
)
