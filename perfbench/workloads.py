"""The benchmark's workloads. Each pass calls the program's public entry
points from outside, as one closed-loop client, and times them; every
check runs outside the timed region.

* ``WriterCycle``: the Keboola writer CLI (``app.Application.run``) does a
  full load of a sliced gzip-CSV manifest, then an incremental merge, then
  a key lookup and a q1-style aggregate read the managed table back.
* ``QueryWorkload``: headline queries from ``__spark_entry__.queries()``,
  each built and then executed with the noop-write action.
"""

from __future__ import annotations

import hashlib
import time
from contextlib import nullcontext

HEADLINE_RELATIONAL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topk_expensive_orders",
    "window_rank_orders_per_customer",
    "merge_upsert_orders",
    "events_sessionization",
    "asof_join_purchase_attribution",
    "range_join_purchase_window",
]
HEADLINE_LSH = [
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "ann_lsh_topk",
    "dedup_embedding_lsh",
    "text_quality_scores",
]

class Ops:
    """Attempted and failed operations; a failure is an exception or an
    oracle mismatch."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok


def _span(tracer, label: str, layer: str):
    """The tracer's span for ``layer`` under ``label``; nothing untraced."""
    if tracer is None:
        return nullcontext()
    tracer.label = label
    return tracer.span(layer)


def _str_row(row) -> list[str]:
    return [v.isoformat() if hasattr(v, "isoformat") else str(v) for v in row]


# -- writer ----------------------------------------------------------------------

_DIGEST_SQL = (
    "SELECT count(*)::BIGINT, sum(hash({cols}))::VARCHAR FROM {src}"
)


def table_digest(con, src: str, cols: list[str]) -> list:
    """Order-insensitive digest of a relation: row count and the sum of
    per-row hashes (exact, as a HUGEINT)."""
    return list(con.execute(_DIGEST_SQL.format(cols=", ".join(cols), src=src)).fetchone())


def duck_csv(slices: list[str], columns: list[tuple[str, str, str]]) -> str:
    duck_type = {"bigint": "BIGINT", "int": "INTEGER", "varchar": "VARCHAR", "date": "DATE"}
    cols = ", ".join(
        f"'{c}': '{'DECIMAL(' + s + ')' if t == 'decimal' else duck_type[t]}'"
        for c, t, s in columns
    )
    files = ", ".join(f"'{p}'" for p in slices)
    return f"read_csv([{files}], header=false, quote='\"', nullstr='NULL', columns={{{cols}}})"


AGG_SQL = (
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
    "sum(l_extendedprice) AS sum_price, count(*) AS n FROM {src} "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
)
LOOKUP_SQL = "SELECT * FROM {src} WHERE l_key = {key}"


def writer_expected(inputs: dict, columns, lookup_key: int) -> dict:
    """DuckDB oracle for the writer cycle: the full table, the merge
    ``(target ANTI JOIN staging) ∪ staging``, and the read-back answers."""
    import duckdb

    names = [c for c, _, _ in columns]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE full_t AS SELECT * FROM {duck_csv(inputs['full_slices'], columns)}")
        con.execute(f"CREATE TABLE stage AS SELECT * FROM {duck_csv(inputs['incr_slices'], columns)}")
        con.execute(
            "CREATE TABLE merged AS SELECT * FROM full_t ANTI JOIN stage USING (l_key) "
            "UNION ALL SELECT * FROM stage"
        )
        return {
            "full": table_digest(con, "full_t", names),
            "merged": table_digest(con, "merged", names),
            "lookup_key": lookup_key,
            "lookup": [_str_row(r) for r in con.execute(LOOKUP_SQL.format(src="merged", key=lookup_key)).fetchall()],
            "agg": [_str_row(r) for r in con.execute(AGG_SQL.format(src="merged")).fetchall()],
        }
    finally:
        con.close()


class WriterCycle:
    def __init__(self, spark, inputs: dict, expected: dict, columns, table: str) -> None:
        import duckdb

        self.spark = spark
        self.inputs = inputs
        self.expected = expected
        self.names = [c for c, _, _ in columns]
        self.table = table
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.table_dir = f"{wh.rstrip('/')}/{table}"
        self.con = duckdb.connect()
        self.ops = Ops()

    def close(self) -> None:
        self.con.close()

    def _load(self, data_dir: str, tracer, label: str) -> tuple[float, bool, str]:
        from db_writer_redshift_spark.app import Application

        t0 = time.perf_counter()
        try:
            with _span(tracer, label, "app"):
                result = Application(data_dir, spark=self.spark).run()
        except Exception as exc:  # noqa: BLE001 — a failed load is a counted failure
            return time.perf_counter() - t0, False, f"{label}: {type(exc).__name__}: {exc}"
        return time.perf_counter() - t0, result.get("uploaded") == [self.table], f"{label}: {result}"

    def _table_matches(self, want: list) -> bool:
        """Read the table back through the session's catalog, whatever its
        on-disk layout, and compare its digest with the oracle's."""
        self.con.register("written", self.spark.table(self.table).toArrow())
        try:
            return table_digest(self.con, "written", self.names) == want
        finally:
            self.con.unregister("written")

    def run_pass(self, label: str, tracer=None, check: bool = True) -> float:
        """One cycle; returns the seconds spent inside the program. The
        read-back answers are always checked; with ``check``, so is the
        table each load leaves. Checks run outside the timed region."""
        timed = 0.0
        for phase, data_dir, want in (
            ("full", self.inputs["full_dir"], self.expected["full"]),
            ("incremental", self.inputs["incr_dir"], self.expected["merged"]),
        ):
            s, ok, what = self._load(data_dir, tracer, f"{label}/{phase}")
            timed += s
            if ok and check:
                ok = self._table_matches(want)
                what += " table differs from the DuckDB oracle"
            self.ops.record(ok, what)
        s, rows = self._readback(tracer, f"{label}/readback")
        timed += s
        lookup, agg = rows if rows else (None, None)
        self.ops.record(lookup == self.expected["lookup"], f"{label}: lookup {lookup}")
        self.ops.record(agg == self.expected["agg"], f"{label}: aggregate {agg}")
        return timed

    def _readback(self, tracer, label: str):
        key = self.expected["lookup_key"]
        t0 = time.perf_counter()
        try:
            with _span(tracer, label, "readback"):
                lookup = self.spark.sql(LOOKUP_SQL.format(src=self.table, key=key)).collect()
                agg = self.spark.sql(AGG_SQL.format(src=self.table)).collect()
        except Exception:  # noqa: BLE001 — counted as failed read-backs
            return time.perf_counter() - t0, None
        s = time.perf_counter() - t0
        return s, ([_str_row(r) for r in lookup], [_str_row(r) for r in agg])

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


# -- queries -----------------------------------------------------------------------


class QueryWorkload:
    def __init__(self, spark, queries: list[str], sf_dir: str, digests: dict | None) -> None:
        """``digests`` maps each query without an oracle to its recorded
        [rows, digest]; None records them instead (the first pass's answer
        is then the one later passes must match)."""
        import __spark_entry__ as entry

        from tools.oracle_check import _normalize, duck_connection

        self.spark = spark
        self.order = queries
        self.sf_dir = sf_dir
        self.fns = entry.queries()
        self.oracles = {q: entry.oracle_sql()[q] for q in queries if q in entry.oracle_sql()}
        self.digests = {} if digests is None else digests
        self.recording = digests is None
        self.con = duck_connection(sf_dir)
        # the DuckDB answers, computed once; every pass is compared with them
        self.want: dict[str, tuple[list[str], list]] = {}
        for q, sql in self.oracles.items():
            res = self.con.execute(sql)
            cols = [d[0] for d in res.description]
            self.want[q] = (sorted(cols), _normalize(res.fetchall(), cols))
        self.ops = Ops()
        self.persisted: list[int] = []

    @property
    def seen(self) -> dict[str, list]:
        return self.digests if self.recording else {}

    def close(self) -> None:
        self.con.close()

    def run_pass(self, label: str, tracer=None, check: bool = True) -> float:
        """Build and noop-execute every query once; returns the seconds
        spent inside the program. With ``check``, each query's DataFrame is
        collected and checked right after its timed execution, outside the
        timed region."""
        timed = 0.0
        sc = self.spark.sparkContext
        persisted = 0
        for q in self.order:
            df, ok, what = None, True, q
            t0 = time.perf_counter()
            try:
                with _span(tracer, f"{label}/{q}", "build"):
                    df = self.fns[q](self.spark, self.sf_dir)
                with _span(tracer, f"{label}/{q}", "exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — counted failure
                t2 = time.perf_counter()
                ok, what = False, f"{q}: {type(exc).__name__}: {exc}"
            timed += t2 - t0
            self.ops.record(ok, f"{label}/{what}")
            persisted += sc._jsc.getPersistentRDDs().size()
            if ok and check:
                self._check(q, df, label)
            self.spark.catalog.clearCache()
        self.persisted.append(persisted)
        return timed

    def _check(self, q: str, df, label: str) -> None:
        """Collect the DataFrame the pass just executed and compare it with
        the DuckDB oracle's answer, as ``tools/oracle_check.compare_query``
        does (numeric kinds, columns, row count, normalized rows), or, for a
        query without an oracle, with the row count and order-insensitive
        digest recorded for the generated inputs."""
        from tools.oracle_check import _normalize, dtype_mismatches

        try:
            rows = [tuple(r) for r in df.collect()]
            norm = _normalize(rows, df.columns)
            if q in self.oracles:
                cols, want = self.want[q]
                bad = dtype_mismatches(df, self.con, self.oracles[q])
                ok = not bad and sorted(df.columns) == cols and norm == want
                what = f"{len(rows)} rows vs {len(want)} from DuckDB {bad}"
            else:
                got = [len(rows), hashlib.sha256(repr(norm).encode()).hexdigest()]
                if self.recording:
                    self.digests.setdefault(q, got)
                want = self.digests.get(q)
                ok, what = got == want, f"rows/digest {got}, recorded {want}"
        except Exception as exc:  # noqa: BLE001 — counted failure
            ok, what = False, f"{type(exc).__name__}: {exc}"
        self.ops.record(ok, f"{label}/{q} check: {what}")
