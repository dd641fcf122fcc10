"""Data sources: CSV ingest (the reference's COPY path), manifests, parquet."""

from db_writer_redshift_spark.sources.csv_ingest import (  # noqa: F401
    LoadError,
    apply_schema,
    guarded_schema,
    ingest_table,
    load_errors_to_exception,
    read_manifest_entries,
    read_table_csv,
    read_table_fixedwidth,
    read_table_jsonl,
    read_table_orc,
    read_table_xml,
    validate_load,
)
