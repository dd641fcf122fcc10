"""Driver-graded ingest round trips: wire-format readers under the
CORRECTNESS gate, not just pytest (VERDICT r7 'next round' #6).

The ingest surface (sources/csv_ingest.py — the reference's COPY analog
plus the JSONL/ORC/XML extension formats) was previously proven only by
tests/test_ingest.py. These queries close the loop the multimodal lane
pioneered with construction-derived oracles: render a deterministic
fixture FROM a registered table, read it back through the full
cast/validate ingest contract, and emit typed values the DuckDB oracle
recomputes from the original table alone — a hash match proves the
renderer, the wire format reader, the lenient casts, and the width
truncation agree end-to-end.

Scale notes: the fixture writer collects a keyed SLICE (o_orderkey ≡ 0
mod 97 — ~1% of orders, bounded driver state by construction, the
rich-club/KM discipline); the read-back path is the real distributed
reader. At 100 TB nobody renders XML from collect() — the point of the
fixture is to put the READER's semantics under the value-hash gate, and
the reader itself scales by slicing exactly like the COPY path
(one non-splittable partition per file, parallelism across files).
"""

from __future__ import annotations

import os
import tempfile
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_writer_redshift_spark.config.schema import ColumnItem, TableConfig
from db_writer_redshift_spark.plans.registry import load_table, register
from db_writer_redshift_spark.sources import guarded_schema, read_table_xml

_XML_TABLE = TableConfig(
    table_id="orders_xml",
    db_name="orders_xml",
    items=(
        ColumnItem("okey", "okey", "bigint"),
        ColumnItem("status", "status", "varchar"),
        ColumnItem("prio", "prio", "varchar", "5"),  # width-truncated (L-4)
        ColumnItem("odate", "odate", "date"),  # lenient parse (L-5)
        ColumnItem("total", "total", "decimal", "12,2"),
    ),
)


@register(
    "ingest_xml_orders_roundtrip",
    oracle="""
SELECT o_orderkey AS okey,
       CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END
         AS status,
       substr(o_orderpriority, 1, 5) AS prio5,
       CAST(date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
            AS BIGINT) AS odate_day,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
FROM orders
WHERE o_orderkey % 97 = 0
""",
)
def ingest_xml_orders_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest under the value-hash gate: a deterministic slice of
    orders renders to TWO XML files (the sliced-manifest shape — per-file
    line numbering exercised across files) with deliberately hostile
    encoding choices, then read_table_xml + guarded_schema reconstruct the
    typed rows and the oracle recomputes them from the orders parquet
    directly. The render exercises every cast branch of the ingest
    contract:

    * ``status`` element is OMITTED for 'O' rows — missing-element →
      NULL decode;
    * ``prio`` carries the full priority string; the declared
      varchar(5) truncates it (TRUNCATECOLUMNS, L-4);
    * ``odate`` alternates ISO and ``yyyy/MM/dd`` by key parity —
      both must land on the same date (ACCEPTANYDATE, L-5);
    * ``total`` renders as a 2-decimal string cast through
      decimal(12,2), emitted as exact cents.

    guarded_schema rejects any uncastable cell: a malformed render
    fails the query loudly when it runs (``BAD_CELL``), never as a
    silent NULL. The guard adds no job to the plan build."""
    rows = sorted(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            "o_orderdate",
            "o_totalprice",
        )
        .collect(),
        key=lambda r: int(r["o_orderkey"]),
    )

    def render(r) -> str:
        key = int(r["o_orderkey"])
        d = r["o_orderdate"]
        ds = d.strftime("%Y-%m-%d") if key % 2 == 0 else d.strftime("%Y/%m/%d")
        status = (
            ""
            if r["o_orderstatus"] == "O"
            else f"<status>{escape(r['o_orderstatus'])}</status>"
        )
        return (
            f"<row><okey>{key}</okey>{status}"
            f"<prio>{escape(r['o_orderpriority'])}</prio>"
            f"<odate>{ds}</odate>"
            f"<total>{r['o_totalprice']:.2f}</total></row>"
        )

    tmp = tempfile.mkdtemp(prefix="spark_xml_ingest_")
    paths = []
    for i, part in enumerate((rows[0::2], rows[1::2])):
        p = os.path.join(tmp, f"part{i}.xml")
        with open(p, "w") as f:
            f.write("<rows>\n" + "\n".join(render(r) for r in part) + "\n</rows>")
        paths.append(p)

    raw = read_table_xml(spark, paths, _XML_TABLE)
    typed = guarded_schema(raw, _XML_TABLE)
    return typed.select(
        "okey",
        "status",
        F.col("prio").alias("prio5"),
        F.datediff(F.col("odate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("odate_day"),
        (F.col("total") * 100).cast("long").alias("total_cents"),
    )


_JSONL_TABLE = TableConfig(
    table_id="orders_jsonl",
    db_name="orders_jsonl",
    items=(
        ColumnItem("okey", "okey", "bigint"),
        ColumnItem("status", "status", "varchar"),
        ColumnItem("prio", "prio", "varchar", "6"),  # width-truncated (L-4)
        ColumnItem("odate", "odate", "date"),  # lenient parse (L-5)
        ColumnItem("total", "total", "decimal", "12,2"),
    ),
)


@register(
    "ingest_jsonl_orders_roundtrip",
    oracle="""
SELECT o_orderkey AS okey,
       CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END
         AS status,
       substr(o_orderpriority, 1, 6) AS prio6,
       CAST(date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
            AS BIGINT) AS odate_day,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
FROM orders
WHERE o_orderkey % 89 = 0
""",
)
def ingest_jsonl_orders_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sibling of ingest_xml_orders_roundtrip — the line-mode JSON
    reader under the value-hash gate, exercising the splittable path
    (JSON files DO fan out across partitions, unlike XML/multiLine-CSV).
    One file of the two is written LARGE relative to
    ``maxPartitionBytes``-at-scale so the contract is the same one the
    fan-out pytest pins; the cast branches mirror the XML twin: omitted
    key → NULL, varchar(6) truncation, alternating ISO / MM/dd/yyyy
    dates (a third lenient pattern), decimal(12,2) cents. The oracle
    recomputes the typed rows from the orders parquet directly."""
    import json as _json

    rows = sorted(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 89 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            "o_orderdate",
            "o_totalprice",
        )
        .collect(),
        key=lambda r: int(r["o_orderkey"]),
    )

    def render(r) -> str:
        key = int(r["o_orderkey"])
        d = r["o_orderdate"]
        ds = d.strftime("%Y-%m-%d") if key % 2 == 0 else d.strftime("%m/%d/%Y")
        obj = {
            "okey": str(key),
            "prio": r["o_orderpriority"],
            "odate": ds,
            "total": f"{r['o_totalprice']:.2f}",
        }
        if r["o_orderstatus"] != "O":
            obj["status"] = r["o_orderstatus"]
        return _json.dumps(obj, sort_keys=True)

    tmp = tempfile.mkdtemp(prefix="spark_jsonl_ingest_")
    paths = []
    # deliberately unbalanced slices: part0 carries 7/8 of the rows (the
    # "large file" leg), part1 the rest
    parts = ([r for i, r in enumerate(rows) if i % 8 != 0],
             [r for i, r in enumerate(rows) if i % 8 == 0])
    for i, part in enumerate(parts):
        p = os.path.join(tmp, f"part{i}.jsonl")
        with open(p, "w") as f:
            f.write("\n".join(render(r) for r in part))
        paths.append(p)

    from db_writer_redshift_spark.sources import read_table_jsonl

    raw = read_table_jsonl(spark, paths, _JSONL_TABLE)
    typed = guarded_schema(raw, _JSONL_TABLE)
    return typed.select(
        "okey",
        "status",
        F.col("prio").alias("prio6"),
        F.datediff(F.col("odate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("odate_day"),
        (F.col("total") * 100).cast("long").alias("total_cents"),
    )


_FW_TABLE = TableConfig(
    table_id="orders_fw",
    db_name="orders_fw",
    items=(
        ColumnItem("okey", "okey", "bigint"),
        ColumnItem("status", "status", "varchar"),
        ColumnItem("prio", "prio", "varchar", "4"),  # width-truncated (L-4)
        ColumnItem("odate", "odate", "date"),  # lenient parse (L-5)
        ColumnItem("total", "total", "decimal", "12,2"),
    ),
)

# field widths for the fixed-width render below: okey 12, status 4
# (room for the NULL literal), prio 15 (full priority string — the
# declared varchar(4) truncates AFTER the slice+trim), odate 10
# (both date spellings are exactly 10 chars), total 12
_FW_WIDTHS = [12, 4, 15, 10, 12]


@register(
    "ingest_fixedwidth_orders_roundtrip",
    oracle="""
SELECT o_orderkey AS okey,
       CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END
         AS status,
       substr(o_orderpriority, 1, 4) AS prio4,
       CAST(date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
            AS BIGINT) AS odate_day,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
FROM orders
WHERE o_orderkey % 83 = 0
""",
)
def ingest_fixedwidth_orders_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-width ingest under the value-hash gate — the COPY
    ``FIXEDWIDTH`` analog joins the XML/JSONL round-trip family: a
    deterministic orders slice renders to two fixed-width text files
    (no delimiters, space-padded fields at pinned widths), then
    read_table_fixedwidth slices by cumulative offset, right-trims the
    padding, decodes the NULL literal, and the SAME cast/validate
    contract reconstructs the typed rows the oracle recomputes from the
    orders parquet directly. Branches exercised: 'O' rows render the
    NULL literal in the status field (L-3); the prio field carries the
    full 15-char priority and the declared varchar(4) truncates it
    (L-4); odate alternates ISO and yyyy/MM/dd spellings, both exactly
    10 chars (L-5); total renders right-aligned in a 12-char field and
    casts through decimal(12,2) to exact cents.

    Scale: the fixture is a bounded keyed slice (the XML/JSONL
    discipline); the reader is the real distributed text scan —
    splittable like line-mode JSON, slicing into substring column
    expressions inside whole-stage codegen."""
    rows = sorted(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 83 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            "o_orderdate",
            "o_totalprice",
        )
        .collect(),
        key=lambda r: int(r["o_orderkey"]),
    )

    def render(r) -> str:
        key = int(r["o_orderkey"])
        d = r["o_orderdate"]
        ds = d.strftime("%Y-%m-%d") if key % 2 == 0 else d.strftime("%Y/%m/%d")
        status = "NULL" if r["o_orderstatus"] == "O" else r["o_orderstatus"]
        fields = [
            str(key).ljust(12),
            status.ljust(4),
            r["o_orderpriority"].ljust(15),
            ds.ljust(10),
            f"{r['o_totalprice']:.2f}".rjust(12),
        ]
        line = "".join(fields)
        assert [len(f) for f in fields] == _FW_WIDTHS
        return line

    tmp = tempfile.mkdtemp(prefix="spark_fw_ingest_")
    paths = []
    for i, part in enumerate((rows[0::2], rows[1::2])):
        p = os.path.join(tmp, f"part{i}.fw")
        with open(p, "w") as f:
            f.write("\n".join(render(r) for r in part))
        paths.append(p)

    from db_writer_redshift_spark.sources import read_table_fixedwidth

    raw = read_table_fixedwidth(spark, paths, _FW_TABLE, _FW_WIDTHS)
    typed = guarded_schema(raw, _FW_TABLE)
    return typed.select(
        "okey",
        "status",
        F.col("prio").alias("prio4"),
        F.datediff(F.col("odate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("odate_day"),
        (F.col("total") * 100).cast("long").alias("total_cents"),
    )
