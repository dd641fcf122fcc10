"""Phase 2 tests: CSV dialect fidelity, NULL decode, truncation, lenient
dates, load-error contract, manifests.

Acceptance criteria from the reference test suite (SURVEY.md §5):
special-CSV round-trip, zero-row success on empty input, and the golden
bad-date message 'Column 'created', line 3: Invalid Date Format - length
must be 10 or more' (FunctionalTest.php:73-78 shape).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from db_writer_redshift_spark.config.errors import UserException
from db_writer_redshift_spark.config.schema import ColumnItem, TableConfig
from db_writer_redshift_spark.sources import (
    guarded_schema,
    ingest_table,
    number_lines,
    read_manifest_entries,
    read_table_csv,
    read_table_fixedwidth,
    read_table_jsonl,
    read_table_orc,
    read_table_xml,
    validate_load,
)


def _table(items, pk=(), incremental=False, table_id="t"):
    return TableConfig(
        table_id=table_id,
        db_name=table_id,
        items=tuple(items),
        incremental=incremental,
        primary_key=tuple(pk),
    )


SPECIAL = _table(
    [
        ColumnItem("col1", "col1", "varchar", "255"),
        ColumnItem("col2", "col2", "varchar", "255"),
    ],
    table_id="special",
)

SIMPLE = _table(
    [
        ColumnItem("id", "id", "int"),
        ColumnItem("name", "name", "nvarchar", "255"),
        ColumnItem("glasses", "glasses", "nvarchar", "255"),
    ],
    pk=("id",),
    table_id="simple",
)

BAD = _table(
    [
        ColumnItem("id", "id", "int"),
        ColumnItem("name", "name", "nvarchar", "255"),
        ColumnItem("glasses", "glasses", "nvarchar", "255"),
        ColumnItem("created", "created", "date"),
    ],
    pk=("id",),
    table_id="bad_type",
)


def test_special_csv_round_trip(spark, data_path):
    """Dialect torture: doubled quotes, embedded newlines (incl. double),
    tabs, literal backslashes, single quotes — byte-identical round-trip."""
    df = guarded_schema(read_table_csv(spark, data_path("special.csv"), SPECIAL), SPECIAL)
    rows = {r.col1: r.col2 for r in df.collect()}
    assert rows['quote " doubled'] == 'with "two" quotes'
    assert rows["multi\nline\nfield"] == "after newline"
    assert rows["double\n\nnewline inside"] == "ok"
    assert rows["tab\tinside"] == "col"
    assert rows["backslash \\ inside"] == "kept"
    assert rows["literal \\n and \\t and \\\\"] == "not escapes"
    assert rows["'single quotes'"] == "fin"
    assert len(rows) == 8


def test_null_literal_decodes_to_null(spark, tmp_path):
    p = tmp_path / "n.csv"
    p.write_text('id,name\n1,NULL\n2,"NULL"\n3,real\n')
    t = _table([ColumnItem("id", "id", "int"), ColumnItem("name", "name", "text")])
    df = guarded_schema(read_table_csv(spark, str(p), t), t)
    got = {r.id: r.name for r in df.collect()}
    # unquoted NULL → SQL NULL (L-3); Spark also nulls the quoted form
    assert got[1] is None
    assert got[3] == "real"


def test_width_truncation(spark, tmp_path):
    p = tmp_path / "w.csv"
    p.write_text("id,short\n1,abcdefghij\n")
    t = _table(
        [ColumnItem("id", "id", "int"), ColumnItem("short", "short", "varchar", "4")]
    )
    df = guarded_schema(read_table_csv(spark, str(p), t), t)
    assert df.collect()[0].short == "abcd"  # TRUNCATECOLUMNS (L-4)


def test_lenient_date_formats(spark, tmp_path):
    p = tmp_path / "d.csv"
    p.write_text("d\n2024-06-22\n2024/06/22\n06/22/2024\n20240622\n")
    t = _table([ColumnItem("d", "d", "date")])
    df = guarded_schema(read_table_csv(spark, str(p), t), t)
    vals = {str(r.d) for r in df.collect()}
    assert vals == {"2024-06-22"}  # ACCEPTANYDATE (L-5)


def test_bad_date_error_message_golden(spark, data_path, tmp_path):
    """E-2 contract: exact column/line/reason shape, 1-based data line.
    ingest_table is lazy, so the load's own write is what rejects the
    bad cell; the load then raises the E-2 message."""
    import shutil

    from db_writer_redshift_spark.app import Application
    from db_writer_redshift_spark.operators import catalog

    items = [
        {"name": i.name, "dbName": i.db_name, "type": i.type, "size": i.size}
        for i in BAD.items
    ]
    raw = {
        "parameters": {
            "db": {"host": "local", "#password": "x", "user": "u", "database": "d"},
            "tables": [
                {"tableId": "bad_type", "dbName": "bad_golden", "export": True,
                 "primaryKey": ["id"], "items": items}
            ],
        },
        "storage": {"input": {"tables": [
            {"source": "bad_type", "columns": [i.name for i in BAD.items]}
        ]}},
    }
    (tmp_path / "in" / "tables").mkdir(parents=True)
    (tmp_path / "config.json").write_text(json.dumps(raw))
    shutil.copy(data_path("bad_type.csv"), tmp_path / "in" / "tables" / "bad_type.csv")
    with pytest.raises(UserException) as err:
        Application(str(tmp_path), spark=spark).run()
    msg = str(err.value)
    assert "Column 'created', line 3: Invalid Date Format - length must be 10 or more" in msg
    assert not catalog.table_exists(spark, "bad_golden")


def test_bad_int_reported_with_line(spark, tmp_path):
    p = tmp_path / "i.csv"
    p.write_text("id,name\n1,ok\nxx,bad\n3,ok\n")
    t = _table([ColumnItem("id", "id", "int"), ColumnItem("name", "name", "text")])
    errs = validate_load(read_table_csv(spark, str(p), t), t)
    assert len(errs) == 1
    assert errs[0].column == "id" and errs[0].line == 2
    assert "Cannot cast value 'xx' to type int" in errs[0].message()


def test_header_only_file_zero_rows(spark, data_path):
    t = _table([ColumnItem("id", "id", "int"), ColumnItem("name", "name", "nvarchar", "255")])
    df = ingest_table(spark, t, csv_path=data_path("empty.csv"))
    assert df.count() == 0  # zero-row success (RedshiftTest.php:152-179 analog)


def test_empty_manifest_short_circuits(spark, tmp_path):
    m = tmp_path / "t.csv.manifest"
    m.write_text(json.dumps({"entries": []}))
    t = _table([ColumnItem("id", "id", "int")])
    assert ingest_table(spark, t, manifest_path=str(m)) is None  # L-2 guard


def test_sliced_manifest_headerless_read(spark, tmp_path):
    """Sliced load: N headerless gzip slices listed in a JSON manifest,
    read by ONE spark.read.csv(paths) call (per-file parallelism)."""
    import gzip

    paths = []
    for i, body in enumerate([b"1,Ada\n2,Bela\n", b"3,Cilla\n"]):
        sl = tmp_path / f"part{i}.csv.gz"
        sl.write_bytes(gzip.compress(body))
        paths.append({"url": f"file://{sl}"})
    m = tmp_path / "t.csv.manifest"
    m.write_text(json.dumps({"entries": paths}))
    t = _table([ColumnItem("id", "id", "int"), ColumnItem("name", "name", "text")])
    df = ingest_table(spark, t, manifest_path=str(m))
    assert sorted((r.id, r.name) for r in df.collect()) == [
        (1, "Ada"),
        (2, "Bela"),
        (3, "Cilla"),
    ]


def test_manifest_entries_parse(tmp_path):
    m = tmp_path / "m.manifest"
    m.write_text(json.dumps({"entries": [{"url": "file:///tmp/a.csv"}, {"url": "s3a://b/k"}]}))
    assert read_manifest_entries(str(m)) == ["/tmp/a.csv", "s3a://b/k"]


def test_jsonl_same_pipeline_as_csv(spark, tmp_path):
    """JSON-lines source feeds the identical cast/validate path: typed
    columns, width truncation, and the Column/line error contract."""
    p = tmp_path / "t.jsonl"
    p.write_text(
        '{"id": "1", "name": "Ada", "created": "2024-06-22"}\n'
        '{"id": "2", "name": "Bela", "created": "2024/06/22"}\n'
        '{"id": "3", "name": "Cilla", "created": "oops"}\n'
    )
    t = _table(
        [
            ColumnItem("id", "id", "int"),
            ColumnItem("name", "name", "varchar", "3"),
            ColumnItem("created", "created", "date"),
        ]
    )
    errs = validate_load(read_table_jsonl(spark, str(p), t), t)
    assert [e.message() for e in errs] == [
        "Column 'created', line 3: Invalid Date Format - length must be 10 or more"
    ]
    good = guarded_schema(
        read_table_jsonl(spark, str(p), t).filter("id < 3"), t
    )
    rows = {r.id: (r.name, str(r.created)) for r in good.collect()}
    assert rows == {1: ("Ada", "2024-06-22"), 2: ("Bel", "2024-06-22")}


def test_orc_same_pipeline_as_csv(spark, tmp_path):
    """ORC source feeds the same cast/validate contract as CSV/JSONL."""
    t = TableConfig(
        table_id="t_orc",
        db_name="t_orc",
        items=(
            ColumnItem("id", "id", "int"),
            ColumnItem("name", "name", "nvarchar", "3"),
        ),
    )
    p = str(tmp_path / "t_orc")
    spark.createDataFrame(
        [(1, "alpha"), (2, "be"), (None, "ce")], "id int, name string"
    ).write.orc(p)
    df = read_table_orc(spark, p, t)
    assert validate_load(df, t) == []
    rows = {r.id: r.name for r in guarded_schema(df, t).collect()}
    # width truncation (L-4) applies identically to the ORC path
    assert rows == {1: "alp", 2: "be", None: "ce"}


def test_manifest_s3_scheme_rewritten_to_s3a(tmp_path):
    """s3:// manifest URLs must reach Hadoop as s3a:// — the bare s3 FS
    was removed in Hadoop 3 (L-1; manifest shape Redshift.php:326-343)."""
    m = tmp_path / "t.csv.manifest"
    m.write_text(
        json.dumps(
            {
                "entries": [
                    {"url": "s3://my-bucket/slices/part.0001.gz"},
                    {"url": "s3a://other-bucket/x.gz"},
                    {"url": str(tmp_path / "local.csv")},
                ]
            }
        )
    )
    paths = read_manifest_entries(str(m))
    assert paths == [
        "s3a://my-bucket/slices/part.0001.gz",
        "s3a://other-bucket/x.gz",
        str(tmp_path / "local.csv"),
    ]


def test_configure_s3_sets_per_bucket_sts_confs(spark):
    """The reference COPY's credentials clause (Redshift.php:93-106) maps to
    per-bucket fs.s3a confs, including the temporary-credentials provider
    when a session token is present."""
    from db_writer_redshift_spark.session import configure_s3

    s3info = {
        "bucket": "kbc-bucket",
        "region": "eu-central-1",
        "credentials": {
            "access_key_id": "AKIATEST",
            "secret_access_key": "sekret",
            "session_token": "sts-token",
        },
    }
    applied = configure_s3(spark, s3info)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = "fs.s3a.bucket.kbc-bucket"
    assert hconf.get(f"{p}.access.key") == "AKIATEST"
    assert hconf.get(f"{p}.secret.key") == "sekret"
    assert hconf.get(f"{p}.session.token") == "sts-token"
    assert hconf.get(f"{p}.endpoint.region") == "eu-central-1"
    assert "TemporaryAWSCredentialsProvider" in hconf.get(
        f"{p}.aws.credentials.provider"
    )
    assert applied[f"{p}.access.key"] == "AKIATEST"


def test_configure_s3_without_token_skips_provider(spark):
    from db_writer_redshift_spark.session import configure_s3

    applied = configure_s3(
        spark,
        {
            "bucket": "plain-bucket",
            "region": "us-east-1",
            "credentials": {
                "access_key_id": "AK2",
                "secret_access_key": "s2",
            },
        },
    )
    assert "fs.s3a.bucket.plain-bucket.aws.credentials.provider" not in applied
    assert applied["fs.s3a.bucket.plain-bucket.secret.key"] == "s2"


def test_xml_same_pipeline_as_csv(spark, tmp_path):
    """Spark 4's native XML source feeds the identical cast/validate
    path: typed columns, width truncation, and the Column/line error
    contract — one ingest contract across CSV/JSONL/ORC/XML."""
    p = tmp_path / "t.xml"
    p.write_text(
        "<rows>"
        "<row><id>1</id><name>Ada</name><created>2024-06-22</created></row>"
        "<row><id>2</id><name>Bela</name><created>2024/06/22</created></row>"
        "<row><id>3</id><name>Cilla</name><created>oops</created></row>"
        "</rows>"
    )
    t = _table(
        [
            ColumnItem("id", "id", "int"),
            ColumnItem("name", "name", "varchar", "3"),
            ColumnItem("created", "created", "date"),
        ]
    )
    errs = validate_load(read_table_xml(spark, str(p), t), t)
    assert [e.message() for e in errs] == [
        "Column 'created', line 3: Invalid Date Format - length must be 10 or more"
    ]
    good = guarded_schema(read_table_xml(spark, str(p), t).filter("id < 3"), t)
    rows = {r.id: (r.name, str(r.created)) for r in good.collect()}
    assert rows == {1: ("Ada", "2024-06-22"), 2: ("Bel", "2024-06-22")}

def test_fixedwidth_same_pipeline_as_csv(spark, tmp_path):
    """Fixed-width source feeds the identical cast/validate path:
    offset slicing, pad trimming, NULL literal, width truncation, and
    the Column/line error contract."""
    p = tmp_path / "t.fw"
    # widths: id 4, name 6, created 10
    p.write_text(
        "1   Ada   2024-06-22\n"
        "2   Bela  2024/06/22\n"
        "3   NULL  oops      \n"
    )
    t = _table(
        [
            ColumnItem("id", "id", "int"),
            ColumnItem("name", "name", "varchar", "3"),
            ColumnItem("created", "created", "date"),
        ]
    )
    raw = read_table_fixedwidth(spark, str(p), t, [4, 6, 10])
    errs = validate_load(raw, t)
    assert [e.message() for e in errs] == [
        "Column 'created', line 3: Invalid Date Format - length must be 10 or more"
    ]
    good = guarded_schema(raw.filter("id < 3"), t)
    rows = {r.id: (r.name, str(r.created)) for r in good.collect()}
    assert rows == {1: ("Ada", "2024-06-22"), 2: ("Bel", "2024-06-22")}
    # the NULL literal decodes to NULL after trim (read raw: this row's
    # date is the bad cell, which the typed relation rejects)
    assert raw.filter("id = 3").collect()[0].name is None


ID_NAME = _table([ColumnItem("id", "id", "int"), ColumnItem("name", "name", "text")])


def _raw_ids(spark, tmp_path, fmt, n):
    """The raw relation of ONE ``fmt`` file whose i-th row (1-based, in
    file order) has id i. Rows are ~100 bytes, so at a 4 KiB
    maxPartitionBytes a few thousand of them span many splits of the
    splittable formats (line-mode JSON, text, multi-stripe ORC)."""
    ids = range(1, n + 1)
    p = str(tmp_path / f"ids.{fmt}")
    if fmt == "orc":
        rows = spark.range(1, n + 1, numPartitions=1).select(
            F.col("id").cast("int").alias("id"),
            F.sha2(F.col("id").cast("string"), 256).alias("name"),
        )
        # small stripes, size-checked every 100 rows: the file holds many
        (
            rows.write.option("orc.stripe.size", "4096")
            .option("orc.rows.between.memory.checks", "100")
            .option("orc.compress", "none")
            .orc(p)
        )
        return read_table_orc(spark, p, ID_NAME)
    pad = "x" * 90
    if fmt == "csv":
        text = "id,name\n" + "\n".join(f'{i},"{pad}"' for i in ids)
    elif fmt == "jsonl":
        text = "\n".join(f'{{"id": "{i}", "name": "{pad}"}}' for i in ids)
    elif fmt == "xml":
        rows = "\n".join(f"<row><id>{i}</id><name>{pad}</name></row>" for i in ids)
        text = f"<rows>\n{rows}\n</rows>\n"
    else:
        text = "\n".join(f"{i:<6}{pad}" for i in ids)
    with open(p, "w") as fh:
        fh.write(text)
    if fmt != "fixedwidth":
        read = {"csv": read_table_csv, "jsonl": read_table_jsonl, "xml": read_table_xml}[fmt]
        return read(spark, p, ID_NAME)
    return read_table_fixedwidth(spark, p, ID_NAME, [6, 90])


@pytest.mark.parametrize("fmt", ["csv", "jsonl", "xml", "fixedwidth", "orc"])
def test_clean_plan_numbers_no_lines(spark, tmp_path, fmt):
    """Lines are numbered only on the E-2 path: the typed relation a clean
    load writes has no window and reads no split offsets."""
    typed = guarded_schema(_raw_ids(spark, tmp_path, fmt, 3), ID_NAME)
    plan = typed._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "file_block_start" not in plan


@pytest.mark.parametrize("fmt", ["xml", "jsonl", "fixedwidth", "orc"])
def test_line_numbers_follow_file_order(spark, tmp_path, fmt):
    """number_lines gives every format per-file line numbers in file order,
    also when one file spans many splits (the native XML source never
    splits a file)."""
    n = 3000
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        raw = _raw_ids(spark, tmp_path, fmt, n)
        if fmt != "xml":
            assert raw.select(F.spark_partition_id()).distinct().count() >= 2
        pairs = [(int(r.id), r._load_line) for r in number_lines(raw).collect()]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert sorted(pairs) == [(i, i) for i in range(1, n + 1)]
