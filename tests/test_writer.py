"""Phase 3 tests: merge semantics, full/incremental load, catalog ops.

The simple/simple_increment/simple_merged fixture triple is the golden
seed (reference RedshiftTest.php:181-219 upsert test); merge edge cases
from SURVEY.md §7: duplicate staging PKs, composite PK, PK-less append.
"""

from __future__ import annotations

import pytest

from db_writer_redshift_spark.config.schema import ColumnItem, TableConfig
from db_writer_redshift_spark.operators import catalog
from db_writer_redshift_spark.operators.merge import upsert_dataframes
from db_writer_redshift_spark.operators.writer import load_incremental, load_table
from db_writer_redshift_spark.sources import guarded_schema, ingest_table, read_table_csv

SIMPLE = TableConfig(
    table_id="simple",
    db_name="simple_w",
    items=(
        ColumnItem("id", "id", "int"),
        ColumnItem("name", "name", "nvarchar", "255"),
        ColumnItem("glasses", "glasses", "nvarchar", "255"),
    ),
    incremental=True,
    primary_key=("id",),
)


def _read(spark, data_path, name, table=SIMPLE):
    return guarded_schema(read_table_csv(spark, data_path(name), table), table)


def test_upsert_golden_merge(spark, data_path):
    base = _read(spark, data_path, "simple.csv")
    inc = _read(spark, data_path, "simple_increment.csv")
    golden = {(r.id, r.name, r.glasses) for r in _read(spark, data_path, "simple_merged.csv").collect()}
    merged = upsert_dataframes(base, inc, ["id"])
    assert {(r.id, r.name, r.glasses) for r in merged.collect()} == golden
    assert merged.count() == 12


def test_upsert_no_pk_appends(spark, data_path):
    base = _read(spark, data_path, "simple.csv")
    inc = _read(spark, data_path, "simple_increment.csv")
    merged = upsert_dataframes(base, inc, [])
    assert merged.count() == 14  # pure append (Redshift.php:169-200 guard)


def test_upsert_duplicate_staging_pk_last_wins(spark):
    base = spark.createDataFrame([(1, "old")], "id int, v string")
    stage = spark.createDataFrame([(1, "first"), (1, "second"), (2, "x")], "id int, v string")
    merged = upsert_dataframes(base, stage, ["id"])
    got = {r.id: r.v for r in merged.collect()}
    assert got == {1: "second", 2: "x"}  # deterministic last-occurrence-wins


def test_upsert_composite_pk(spark):
    base = spark.createDataFrame([(1, "a", "keep"), (1, "b", "old")], "k1 int, k2 string, v string")
    stage = spark.createDataFrame([(1, "b", "new"), (2, "c", "ins")], "k1 int, k2 string, v string")
    merged = upsert_dataframes(base, stage, ["k1", "k2"])
    got = {(r.k1, r.k2): r.v for r in merged.collect()}
    assert got == {(1, "a"): "keep", (1, "b"): "new", (2, "c"): "ins"}


def test_full_then_incremental_load_via_catalog(spark, data_path):
    full_cfg = TableConfig(
        table_id="simple", db_name="simple_w", items=SIMPLE.items,
        incremental=False, primary_key=("id",),
    )
    try:
        load_table(spark, full_cfg, _read(spark, data_path, "simple.csv"))
        assert spark.table("simple_w").count() == 10
        load_incremental(spark, SIMPLE, _read(spark, data_path, "simple_increment.csv"))
        result = {(r.id, r.glasses) for r in spark.table("simple_w").collect()}
        assert (8, "sometimes") in result and (10, "no") in result
        assert len(result) == 12
    finally:
        catalog.drop_table(spark, "simple_w")


def test_incremental_into_missing_target_creates_it(spark, data_path):
    try:
        load_incremental(spark, SIMPLE, _read(spark, data_path, "simple_increment.csv"))
        assert spark.table("simple_w").count() == 4
    finally:
        catalog.drop_table(spark, "simple_w")


def test_catalog_create_exists_drop_info(spark):
    t = TableConfig(
        table_id="cat_t", db_name="cat_t",
        items=(
            ColumnItem("id", "id", "int", nullable=False),
            ColumnItem("v", "v", "decimal", "10,2"),
            ColumnItem("junk", "junk", "ignore"),
        ),
        primary_key=("id",),
    )
    try:
        catalog.create_table(spark, t)
        assert catalog.table_exists(spark, "cat_t")
        info = catalog.get_table_info(spark, "cat_t")
        assert [c["name"] for c in info["columns"]] == ["id", "v"]  # ignore dropped
        assert info["columns"][1]["type"] == "decimal(10,2)"
        assert "cat_t" in catalog.show_tables(spark)
    finally:
        catalog.drop_table(spark, "cat_t")
    assert not catalog.table_exists(spark, "cat_t")


def test_tmp_name_scheme():
    n = catalog.generate_tmp_name("orders")
    assert n.startswith("orders_temp_") and len(n) > len("orders_temp_")


def test_get_table_info_missing_raises(spark):
    from db_writer_redshift_spark.config.errors import UserException

    with pytest.raises(UserException, match="does not exist"):
        catalog.get_table_info(spark, "nope_nope")


def test_bucketed_merge_skips_target_shuffle(spark, data_path):
    """Scale contract: a PK-bucketed target feeds the merge anti join
    without an Exchange — only staging shuffles. (Forced SMJ: broadcast
    would hide the bucketing.)"""
    import re

    from db_writer_redshift_spark.operators.merge import upsert_dataframes

    t = TableConfig(
        table_id="b", db_name="bkt_t", items=SIMPLE.items,
        incremental=True, primary_key=("id",),
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        from db_writer_redshift_spark.operators.writer import load_full, load_incremental

        load_full(spark, t, _read(spark, data_path, "simple.csv"), buckets=4)
        stage = _read(spark, data_path, "simple_increment.csv")
        merged = upsert_dataframes(spark.table("bkt_t"), stage, ["id"], dedupe=False)
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert len(re.findall("Exchange hashpartitioning", plan)) == 1  # staging only
        load_incremental(spark, t, stage, buckets=4)
        assert spark.table("bkt_t").count() == 12
        # the swap's rename kept the bucket spec: the next merge still reads
        # the replaced target bucketed
        again = upsert_dataframes(spark.table("bkt_t"), stage, ["id"], dedupe=False)
        assert "Bucketed: true" in again._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in confs.items():
            spark.conf.set(k, v)
        catalog.drop_table(spark, "bkt_t")


def test_profile_table_stats_and_null_handling(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (3, "b")], ["k", "v"]
    )
    rows = {r["column_name"]: r for r in catalog.profile_table(df).collect()}
    assert set(rows) == {"k", "v"}
    k, v = rows["k"], rows["v"]
    assert (k["n_rows"], k["n_non_null"], k["n_distinct"]) == (4, 4, 3)
    assert (k["min_value"], k["max_value"]) == ("1", "3")
    assert (v["n_rows"], v["n_non_null"], v["n_distinct"]) == (4, 3, 2)
    assert (v["min_value"], v["max_value"]) == ("a", "b")
    # approx mode keeps the same schema and exact nulls/rows
    approx = {
        r["column_name"]: r
        for r in catalog.profile_table(df, exact_ndv=False).collect()
    }
    assert approx["v"]["n_non_null"] == 3
    assert approx["k"]["n_distinct"] >= 1


def test_profile_table_column_subset(spark):
    df = spark.createDataFrame([(1, "x", 2.0)], ["a", "b", "c"])
    out = catalog.profile_table(df, columns=["b"]).collect()
    assert [r["column_name"] for r in out] == ["b"]


def test_upsert_evolving_adds_staging_column(spark):
    from db_writer_redshift_spark.operators.merge import upsert_evolving

    t = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    s = spark.createDataFrame([(2, "b2", 9.5), (3, "c", 1.0)], "id int, v string, score double")
    out = upsert_evolving(t, s, ["id"])
    assert out.columns == ["id", "v", "score"]
    got = {r.id: (r.v, r.score) for r in out.collect()}
    assert got == {1: ("a", None), 2: ("b2", 9.5), 3: ("c", 1.0)}


def test_upsert_evolving_fills_missing_staging_column(spark):
    from db_writer_redshift_spark.operators.merge import upsert_evolving

    t = spark.createDataFrame([(1, "a", 5)], "id int, v string, extra int")
    s = spark.createDataFrame([(2, "b")], "id int, v string")
    got = {r.id: (r.v, r.extra) for r in upsert_evolving(t, s, ["id"]).collect()}
    assert got == {1: ("a", 5), 2: ("b", None)}


def test_upsert_evolving_rejects_type_clash(spark):
    import pytest as _pytest

    from db_writer_redshift_spark.operators.merge import upsert_evolving

    t = spark.createDataFrame([(1, "a")], "id int, v string")
    s = spark.createDataFrame([(2, 3)], "id int, v int")
    with _pytest.raises(ValueError, match="incompatible column types"):
        upsert_evolving(t, s, ["id"])


def test_orphan_warehouse_table_adopted_across_catalog_loss(spark):
    """Cross-process continuity (the CLI runs each action in a fresh
    session whose in-memory catalog is empty): parquet left at the
    managed warehouse location with NO catalog entry must be (a) seen by
    table_exists, (b) readable for an incremental merge, (c) cleanly
    replaced — the LOCATION_ALREADY_EXISTS regression."""
    import os

    from pyspark.sql import functions as F  # noqa: F401

    from db_writer_redshift_spark.config.schema import TableConfig
    from db_writer_redshift_spark.operators import catalog, writer

    name = "orphan_people"
    loc = catalog._managed_location(spark, name).replace("file:", "")
    # simulate the dead session: files exist, catalog has never heard of it
    assert not spark.catalog.tableExists(name)
    spark.createDataFrame(
        [(1, "old"), (2, "old")], "id int, v string"
    ).write.parquet(loc)
    try:
        assert catalog.table_exists(spark, name)  # adopted
        tc = TableConfig(
            table_id=name,
            db_name=name,
            export=True,
            incremental=True,
            primary_key=["id"],
            items=[],
        )
        staging = spark.createDataFrame([(2, "new"), (3, "new")], "id int, v string")
        writer.load_incremental(spark, tc, staging)
        got = {(r.id, r.v) for r in spark.table(name).collect()}
        assert got == {(1, "old"), (2, "new"), (3, "new")}
    finally:
        catalog.drop_table(spark, name)
    assert not os.path.exists(loc)  # drop cleans the managed location


def test_partitioned_orphan_is_adopted(spark):
    """Partition-layout orphans (parquet nested under k=v subdirectories,
    no top-level files) must still register as having data — a probe
    miss would turn the next incremental merge into a silent full
    overwrite (round-2 ADVICE)."""
    from db_writer_redshift_spark.operators import catalog

    name = "orphan_partitioned"
    loc = catalog._managed_location(spark, name).replace("file:", "")
    assert not spark.catalog.tableExists(name)
    spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id int, v string, p string"
    ).write.partitionBy("p").parquet(loc)
    try:
        assert catalog.table_exists(spark, name)  # adopted despite nesting
        assert spark.table(name).count() == 2
    finally:
        catalog.drop_table(spark, name)


def test_empty_orphan_dir_does_not_block_write(spark):
    """A created-but-never-written orphan directory (no parquet inside)
    is not a table, and a fresh write over that name succeeds."""
    import os

    from db_writer_redshift_spark.config.schema import TableConfig
    from db_writer_redshift_spark.operators import catalog, writer

    name = "orphan_empty"
    loc = catalog._managed_location(spark, name).replace("file:", "")
    os.makedirs(loc, exist_ok=True)
    assert not catalog.table_exists(spark, name)
    tc = TableConfig(
        table_id=name, db_name=name, export=True, incremental=False,
        primary_key=[], items=[],
    )
    writer.load_full(spark, tc, spark.createDataFrame([(1,)], "id int"))
    try:
        assert spark.table(name).count() == 1
    finally:
        catalog.drop_table(spark, name)


def test_show_tables_adopts_all_orphans(spark):
    """getTablesInfo-style listing sees tables written by previous
    processes (persistent-catalog contract of the reference)."""
    import os

    from db_writer_redshift_spark.operators import catalog

    name = "orphan_listed"
    loc = catalog._managed_location(spark, name).replace("file:", "")
    spark.createDataFrame([(1,)], "id int").write.parquet(loc)
    try:
        assert name in catalog.show_tables(spark)
        info = catalog.get_table_info(spark, name)
        assert info["columns"][0]["name"] == "id"
    finally:
        catalog.drop_table(spark, name)
    assert not os.path.exists(loc)


_SIMPLE_ITEMS = [
    {"name": "id", "dbName": "id", "type": "int"},
    {"name": "name", "dbName": "name", "type": "nvarchar", "size": "255"},
    {"name": "glasses", "dbName": "glasses", "type": "nvarchar", "size": "255"},
]


def _cli_data_dir(path, src_csv, incremental, items=_SIMPLE_ITEMS, db_name="fault_t"):
    """A CLI data dir loading the CSV file ``src_csv`` into ``db_name``."""
    import json
    import shutil

    raw = {
        "parameters": {
            "db": {"host": "local", "#password": "x", "user": "u", "database": "d"},
            "tables": [
                {
                    "tableId": "simple", "dbName": db_name, "export": True,
                    "incremental": incremental, "primaryKey": ["id"], "items": items,
                }
            ],
        },
        "storage": {
            "input": {"tables": [{"source": "simple", "columns": [i["name"] for i in items]}]}
        },
    }
    (path / "in" / "tables").mkdir(parents=True)
    (path / "config.json").write_text(json.dumps(raw))
    shutil.copy(src_csv, path / "in" / "tables" / "simple.csv")
    return str(path)


class _InjectedFault(RuntimeError):
    pass


@pytest.mark.parametrize("step", ["write", "drop", "rename", "tmp_cleanup", "analyze"])
def test_incremental_run_never_reports_success_over_lost_rows(
    spark, tmp_path, data_path, monkeypatch, step
):
    """Writer fault injection: a full load, then an incremental CLI run
    (with its retries) during which one catalog/storage step fails once:

    * write       — the first data write into each table (every _temp_
                    staging name counts as one table);
    * drop        — the first drop of the target;
    * rename      — the first ``ALTER TABLE … RENAME``;
    * tmp_cleanup — the first drop of a _temp_ staging table;
    * analyze     — the post-load ANALYZE.

    Either the run succeeds and the target is the correct merge, or it
    fails and the target is the old table, or absent with a kept _temp_
    table that holds the correct merge and is named by the error. A
    retry that finds the target gone and rebuilds it from the increment
    alone (then reports success) is the data-loss this guards against."""
    import functools
    import re

    from pyspark.sql.readwriter import DataFrameWriter

    from db_writer_redshift_spark import app as app_mod
    from db_writer_redshift_spark.config.errors import ApplicationException
    from db_writer_redshift_spark.operators.retry import run_with_retry

    name = "fault_t"

    def rows(tbl):
        return {(r.id, r.name, r.glasses) for r in spark.table(tbl).collect()}

    golden = {(r.id, r.name, r.glasses) for r in _read(spark, data_path, "simple_merged.csv").collect()}
    full_dir = _cli_data_dir(tmp_path / "full", data_path("simple.csv"), False)
    inc_dir = _cli_data_dir(tmp_path / "inc", data_path("simple_increment.csv"), True)

    fired: set[str] = set()

    def fault(key: str) -> None:
        if key not in fired:
            fired.add(key)
            raise _InjectedFault(f"injected fault: {key}")

    orig_save, orig_drop, orig_sql = DataFrameWriter.saveAsTable, catalog.drop_table, type(spark).sql

    def save(self, tbl, *args, **kwargs):
        if step == "write":
            fault(re.sub(r"_temp_\w+", "_temp_", tbl))
        return orig_save(self, tbl, *args, **kwargs)

    def drop(session, tbl):
        if (step == "drop" and tbl == name) or (step == "tmp_cleanup" and "_temp_" in tbl):
            fault(step)
        return orig_drop(session, tbl)

    def sql(self, query, *args, **kwargs):
        if step == "rename" and "RENAME TO" in query:
            fault(step)
        return orig_sql(self, query, *args, **kwargs)

    def analyze(*args, **kwargs):
        fault(step)

    try:
        assert app_mod.Application(full_dir, spark=spark).run()["status"] == "success"
        old = rows(name)
        sleeps: list[float] = []
        monkeypatch.setattr(
            app_mod, "run_with_retry", functools.partial(run_with_retry, sleep=sleeps.append)
        )
        monkeypatch.setattr(DataFrameWriter, "saveAsTable", save)
        monkeypatch.setattr(catalog, "drop_table", drop)
        monkeypatch.setattr(type(spark), "sql", sql)
        if step == "analyze":
            monkeypatch.setattr(catalog, "analyze_table", analyze)
        error = None
        try:
            result = app_mod.Application(inc_dir, spark=spark).run()
        except Exception as exc:  # noqa: BLE001
            error = exc
        monkeypatch.undo()
        assert fired, f"the {step} fault never fired"
        kept = [t.name for t in spark.catalog.listTables() if t.name.startswith(name + "_temp_")]
        if error is None:
            assert result == {"status": "success", "uploaded": ["simple"]}
            assert rows(name) == golden
        elif catalog.table_exists(spark, name):
            assert rows(name) == old
        else:
            assert isinstance(error, ApplicationException), error
            assert len(kept) == 1 and kept[0] in str(error)
            assert rows(kept[0]) == golden
    finally:
        monkeypatch.undo()
        for t in spark.catalog.listTables():
            if t.name.startswith(name + "_temp_"):
                catalog.drop_table(spark, t.name)
        catalog.drop_table(spark, name)


_N_TABLE = TableConfig(
    table_id="simple",
    db_name="badcell_t",
    items=(
        ColumnItem("id", "id", "int"),
        ColumnItem("name", "name", "nvarchar", "255"),
        ColumnItem("n", "n", "int"),
    ),
    primary_key=("id",),
)


def test_ingest_table_launches_no_spark_job(spark, tmp_path):
    """ingest_table only plans: the bad-cell guard and the parse run
    inside the load's own write, so building the typed relation starts
    no job (no validation scan, no line-number window)."""
    src = tmp_path / "t.csv"
    src.write_text("id,name,n\n1,a,10\n2,b,zz\n")
    tracker = spark.sparkContext.statusTracker()
    group = "ingest_table_is_lazy"
    spark.sparkContext.setJobGroup(group, group)
    try:
        before = len(tracker.getJobIdsForGroup(group))
        df = ingest_table(spark, _N_TABLE, csv_path=str(src))
        after = len(tracker.getJobIdsForGroup(group))
        assert df.columns == ["id", "name", "n"]
        assert (before, after) == (0, 0)
        assert df.filter("id = 1").count() == 1
        assert len(tracker.getJobIdsForGroup(group)) > 0  # the tracker sees jobs
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            spark.sparkContext.setLocalProperty(key, None)


def test_bad_cell_in_increment_rejects_load_and_keeps_target(
    spark, tmp_path, monkeypatch
):
    """E-2 on the incremental path: the bad cell sits in a row that a
    later row with the same key supersedes, so the merge's dedupe drops
    it — the load must still be rejected (COPY rejects the file before
    any merge), with the exact E-2 line, the old target kept, no
    staging table or directory left, and no retry."""
    import functools
    import os

    from db_writer_redshift_spark import app as app_mod
    from db_writer_redshift_spark.config.errors import UserException
    from db_writer_redshift_spark.operators.retry import run_with_retry

    name = _N_TABLE.db_name
    full_csv = tmp_path / "full.csv"
    full_csv.write_text("id,name,n\n1,a,10\n2,b,20\n3,c,30\n")
    inc_csv = tmp_path / "inc.csv"
    inc_csv.write_text("id,name,n\n4,d,40\n2,x,zz\n2,y,21\n")
    items = [
        {"name": i.name, "dbName": i.db_name, "type": i.type, "size": i.size}
        for i in _N_TABLE.items
    ]
    full_dir = _cli_data_dir(tmp_path / "full", full_csv, False, items, name)
    inc_dir = _cli_data_dir(tmp_path / "inc", inc_csv, True, items, name)

    def rows():
        return sorted(tuple(r) for r in spark.table(name).collect())

    def leftovers():
        wh = catalog._managed_location(spark, name).replace("file:", "").rsplit("/", 1)[0]
        return [t.name for t in spark.catalog.listTables() if t.name.startswith(name + "_temp_")] + [
            d for d in os.listdir(wh) if d.startswith(name + "_temp_")
        ]

    try:
        assert app_mod.Application(full_dir, spark=spark).run()["status"] == "success"
        old = rows()
        assert old == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
        sleeps: list[float] = []
        monkeypatch.setattr(
            app_mod, "run_with_retry", functools.partial(run_with_retry, sleep=sleeps.append)
        )
        with pytest.raises(UserException) as err:
            app_mod.Application(inc_dir, spark=spark).run()
        assert str(err.value) == (
            "Failed to load data:\nColumn 'n', line 2: Cannot cast value 'zz' to type int"
        )
        assert rows() == old
        assert leftovers() == []
        assert sleeps == []
    finally:
        monkeypatch.undo()
        catalog.drop_table(spark, name)
