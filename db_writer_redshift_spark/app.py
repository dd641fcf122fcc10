"""Application layer — CLI actions and orchestration (A-1…A-5, E-3).

Reference flow (run.php:20-56 + RedshiftApplication.php):

* ``--data DIR`` → read ``DIR/config.json`` → validate → dispatch
  ``action`` (default ``run``; unknown action → UserException).
* ``run``: for each export-enabled table (L-13): read the local manifest,
  strict column gate (L-15), empty-items skip (L-14), then full or
  incremental load. Result ``{"status": "success", "uploaded": [ids]}``.
* ``testConnection``: session smoke probe → ``{"status": "success"}``.
* ``getTablesInfo``: dead code in the reference (stubs throw) —
  implemented properly here via spark.catalog (A-5).
* Exit codes: UserException → 1, anything else → 2, success → 0 (E-3).

Input layout (Keboola convention the reference consumes):
``DIR/in/tables/<tableId>.csv`` single file with header, or
``DIR/in/tables/<tableId>.csv.manifest`` JSON with ``entries`` for a
sliced, headerless load.
"""

from __future__ import annotations

import json
import logging
import os
from typing import Any

from pyspark.sql import SparkSession

from db_writer_redshift_spark.config.errors import ApplicationException, UserException
from db_writer_redshift_spark.config.schema import (
    TableConfig,
    WriterConfig,
    check_columns,
    parse_config,
    scrub_secrets,
)
from db_writer_redshift_spark.operators import writer as writer_ops
from db_writer_redshift_spark.operators import catalog
from db_writer_redshift_spark.operators.retry import run_with_retry
from db_writer_redshift_spark.sources import csv_ingest
from db_writer_redshift_spark.sources.csv_ingest import ingest_table
from db_writer_redshift_spark.session import get_spark, test_connection

logger = logging.getLogger("db_writer_redshift_spark")


class Application:
    """Action dispatcher (RedshiftApplication.php:21-55 analog)."""

    def __init__(self, data_dir: str, spark: SparkSession | None = None) -> None:
        config_path = os.path.join(data_dir, "config.json")
        if not os.path.exists(config_path):
            raise UserException(f"Configuration file not found: {config_path}")
        with open(config_path, encoding="utf-8") as fh:
            raw = json.load(fh)
        self.config: WriterConfig = parse_config(raw, data_dir=data_dir)
        logger.info("Config loaded: %s", json.dumps(scrub_secrets(raw))[:2000])
        self._spark = spark

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = get_spark(
                warehouse_dir=self.config.warehouse_dir,
                master=os.environ.get("SPARK_MASTER", "local[*]"),
            )
        return self._spark

    # -- dispatch ----------------------------------------------------------

    def run(self) -> dict[str, Any]:
        action = self.config.action
        handler = {
            "run": self.run_action,
            "testConnection": self.test_connection_action,
            "getTablesInfo": self.get_tables_info_action,
        }.get(action)
        if handler is None:
            raise UserException(f"Action '{action}' does not exist.")
        return handler()

    # -- actions -----------------------------------------------------------

    def run_action(self) -> dict[str, Any]:
        uploaded: list[str] = []
        for table in self.config.tables:
            if not table.export:  # L-13
                continue
            if self._write_table(table):
                uploaded.append(table.table_id)
        return {"status": "success", "uploaded": uploaded}

    def test_connection_action(self) -> dict[str, Any]:
        try:
            test_connection(self.spark)
        except Exception as exc:  # noqa: BLE001 — reference wraps any Throwable
            raise UserException(f"Connection failed: '{exc}'") from exc
        return {"status": "success"}

    def get_tables_info_action(self) -> dict[str, Any]:
        tables = {
            name: catalog.get_table_info(self.spark, name)
            for name in catalog.show_tables(self.spark)
        }
        return {"status": "success", "tables": tables}

    # -- per-table load (runWriteTable analog) -----------------------------

    def _write_table(self, table: TableConfig) -> bool:
        if not table.items:  # L-14: empty schema → silent skip
            logger.warning('Table "%s" has no columns; skipping', table.table_id)
            return False
        check_columns(table, self.config)  # L-15

        base = os.path.join(self.config.data_dir, "in", "tables", table.table_id)
        csv_path = base if os.path.exists(base) else base + ".csv"
        manifest_path = None
        for cand in (base + ".manifest", csv_path + ".manifest"):
            if os.path.exists(cand) and _is_sliced_manifest(cand):
                manifest_path = cand
                break

        source = {
            "csv_path": None if manifest_path else csv_path,
            "manifest_path": manifest_path,
        }
        df = ingest_table(self.spark, table, **source)
        if df is None:  # empty sliced manifest → zero-row success (L-2)
            logger.info('Table "%s": empty manifest, nothing to load', table.table_id)
            return True

        def load() -> None:
            try:
                writer_ops.load_table(self.spark, table, df)
            except Exception as exc:
                # a bad cell aborted the write before it committed (the
                # target is untouched); like the reference reading
                # stl_load_errors after a failed COPY, only now scan the
                # source for the E-2 report
                if not csv_ingest.is_bad_cell(exc):
                    raise
                raw = csv_ingest.read_source(self.spark, table, **source)
                errors = csv_ingest.validate_load(raw, table)
                if not errors:
                    raise
                raise csv_ingest.load_errors_to_exception(errors) from exc

        # E-1 analog: transient write failures get the reference's
        # 3-attempt quadratic-backoff retry (UserExceptions never retry).
        run_with_retry(load, what=f'write table "{table.table_id}"')
        # Redshift auto-ANALYZEs after COPY; mirror it with the cheap
        # metadata-only pass (size stats for the CBO, no data scan) —
        # best-effort: a stats failure must never fail a successful load
        try:
            catalog.analyze_table(self.spark, table.db_name, noscan=True)
        except Exception:  # noqa: BLE001
            logger.warning('ANALYZE skipped for "%s"', table.db_name)
        logger.info('Table "%s" written to "%s"', table.table_id, table.db_name)
        return True


def _is_sliced_manifest(path: str) -> bool:
    """Keboola writes per-file manifests too (metadata, no ``entries``);
    only an entries-bearing manifest means a sliced load."""
    try:
        with open(path, encoding="utf-8") as fh:
            return "entries" in json.load(fh)
    except (json.JSONDecodeError, OSError):
        return False


def main(argv: list[str] | None = None) -> int:
    """CLI entry (run.php:37-56 exit-code contract)."""
    import argparse

    parser = argparse.ArgumentParser(prog="db_writer_redshift_spark")
    parser.add_argument("--data", required=True, help="data directory with config.json")
    args = parser.parse_args(argv)

    logging.basicConfig(level=logging.INFO, format="%(levelname)s: %(message)s")
    try:
        app = Application(args.data)
        result = app.run()
        print(json.dumps(result))
        return 0
    except UserException as exc:
        print(str(exc), flush=True)
        logger.error("%s", exc)
        return 1
    except ApplicationException as exc:
        logger.exception("Application error: %s", exc)
        return 2
    except Exception as exc:  # noqa: BLE001
        logger.exception("Unhandled error: %s", exc)
        return 2
