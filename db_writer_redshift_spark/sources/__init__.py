"""Data sources: the CSV ingest (the reference's COPY path, single file or
sliced manifest) and its JSONL, XML, fixed-width and ORC twins, one contract."""

from db_writer_redshift_spark.sources.csv_ingest import (  # noqa: F401
    LoadError,
    guarded_schema,
    ingest_table,
    load_errors_to_exception,
    number_lines,
    read_manifest_entries,
    read_table_csv,
    read_table_fixedwidth,
    read_table_jsonl,
    read_table_orc,
    read_table_xml,
    validate_load,
)
