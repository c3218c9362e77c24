"""End-to-end controller flow on a temp landing + lake (the reference's
sample-DB walkthrough: initial load, then an incremental batch with
update/delete/insert, re-run idempotency)."""

import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from aws_big_data_blog_dmscdc_walkthrough_spark.pipeline import controller
from aws_big_data_blog_dmscdc_walkthrough_spark.sources import landing
from aws_big_data_blog_dmscdc_walkthrough_spark.state.store import JsonStateStore


@pytest.fixture()
def env(spark, tmp_path):
    # the catalog outlives tmp_path: drop tables registered by a prior test
    spark.sql("DROP DATABASE IF EXISTS sampledb CASCADE")
    return {
        "landing": str(tmp_path / "landing"),
        "lake": str(tmp_path / "lake"),
        "state": str(tmp_path / "state.json"),
    }


def _write_initial(spark, env):
    df = spark.createDataFrame(
        [(1001, "widget", "tools"), (1002, "gadget", "toys"), (1003, "sprocket", "tools")],
        "id long, name string, dept string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{env['landing']}/sampledb/product/_tmp"
    )
    # DMS names the full-load file LOAD*.parquet
    import glob, shutil

    src = glob.glob(f"{env['landing']}/sampledb/product/_tmp/part-*.parquet")[0]
    os.rename(src, f"{env['landing']}/sampledb/product/LOAD00000001.parquet")
    shutil.rmtree(f"{env['landing']}/sampledb/product/_tmp")


def _write_incremental(spark, env, name="20240101-000000001.parquet"):
    df = spark.createDataFrame(
        [
            ("U", 1001, "widget-x", "tools"),   # update
            ("D", 1002, None, None),              # delete
            ("I", 1004, "doohickey", "toys"),    # insert
        ],
        "Op string, id long, name string, dept string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{env['landing']}/sampledb/product/_tmp2"
    )
    import glob, shutil

    src = glob.glob(f"{env['landing']}/sampledb/product/_tmp2/part-*.parquet")[0]
    os.rename(src, f"{env['landing']}/sampledb/product/{name}")
    shutil.rmtree(f"{env['landing']}/sampledb/product/_tmp2")


@pytest.mark.slow
def test_discovery_classifies_files(spark, env):
    _write_initial(spark, env)
    _write_incremental(spark, env)
    tables = landing.discover_tables(spark, env["landing"])
    assert len(tables) == 1
    t = tables[0]
    assert (t.schema, t.table) == ("sampledb", "product")
    assert len(t.initial_files) == 1 and len(t.incremental_files) == 1


def test_inactive_table_skipped(spark, env):
    _write_initial(spark, env)
    store = JsonStateStore(env["state"])
    report = controller.run_once(spark, env["landing"], env["lake"], store)
    assert report.tables[0].skipped  # new tables register inactive
    assert not os.path.exists(f"{env['lake']}/sampledb/product")


def test_full_flow_initial_then_incremental(spark, env):
    _write_initial(spark, env)
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)  # registers
    st = store.all()[0]
    st.active = True
    st.primary_key = "id"
    store.put(st)

    r1 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r1.tables[0].did_initial
    lake = spark.read.parquet(f"{env['lake']}/sampledb/product")
    assert lake.count() == 3 and lake.columns == ["id", "name", "dept"]

    _write_incremental(spark, env)
    r2 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r2.tables[0].incremental_files == 1
    rows = {
        r.id: r
        for r in spark.read.parquet(f"{env['lake']}/sampledb/product").collect()
    }
    assert set(rows) == {1001, 1003, 1004}       # 1002 deleted, 1004 inserted
    assert rows[1001].name == "widget-x"          # updated

    # idempotent re-run: no new files → nothing changes
    r3 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r3.tables[0].incremental_files == 0 and not r3.tables[0].did_initial
    assert spark.read.parquet(f"{env['lake']}/sampledb/product").count() == 3


@pytest.mark.slow
def test_full_flow_with_manifest_and_feed_via_state_flags(spark, env):
    """Per-table lake options flow from the state record (the
    DynamoDB-shaped `extra` map) through the controller: a table flagged
    retain_history/change_feed gets time travel across its merges and a
    change feed — with zero code at the orchestration call site. The
    retired use_manifest flag is still present and simply ignored."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
        lake_writer,
        manifest,
    )

    _write_initial(spark, env)
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)  # registers
    st = store.all()[0]
    st.active = True
    st.primary_key = "id"
    st.extra = {
        "use_manifest": True,
        "retain_history": True,
        "change_feed": True,
        "stats_cols": "id",
    }
    store.put(st)

    controller.run_once(spark, env["landing"], env["lake"], store)  # initial
    out = f"{env['lake']}/sampledb/product"
    man = manifest.read_manifest(spark, out)
    assert man is not None and man["version"] == 1 and man.get("stats")

    _write_incremental(spark, env)
    controller.run_once(spark, env["landing"], env["lake"], store)
    # the merge committed atomically and history is time-travelable
    assert manifest.read_manifest(spark, out)["version"] == 2
    v1 = {r.id for r in manifest.read_table(spark, out, version=1).collect()}
    v2 = {r.id for r in manifest.read_table(spark, out).collect()}
    assert v1 == {1001, 1002, 1003} and v2 == {1001, 1003, 1004}
    # the change feed carries the collapsed batch (D tombstone visible)
    # at the version the merge committed
    feed = lake_writer.read_change_feed(spark, out)
    assert {(r.version, r.id, r.op) for r in feed.collect()} == {
        (2, 1001, "U"), (2, 1002, "D"), (2, 1004, "I")
    }


def test_partitioned_cow_only_touches_impacted_partitions(spark, env, open_cost):
    _write_initial(spark, env)
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)
    st = store.all()[0]
    st.active, st.primary_key, st.partition_key = True, "id", "dept"
    store.put(st)
    controller.run_once(spark, env["landing"], env["lake"], store)
    toys_dir = f"{env['lake']}/sampledb/product/dept=toys"
    tools_before = set(os.listdir(f"{env['lake']}/sampledb/product/dept=tools"))

    # incremental touches only 'toys' (delete 1002, insert 1004)
    import pyspark.sql

    df = spark.createDataFrame(
        [("D", 1002, None, "toys"), ("I", 1004, "doohickey", "toys")],
        "Op string, id long, name string, dept string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{env['landing']}/sampledb/product/_t")
    import glob, shutil

    src = glob.glob(f"{env['landing']}/sampledb/product/_t/part-*.parquet")[0]
    os.rename(src, f"{env['landing']}/sampledb/product/20240102-000000001.parquet")
    shutil.rmtree(f"{env['landing']}/sampledb/product/_t")

    with open_cost(1):  # the discovery side, which keeps untouched files
        controller.run_once(spark, env["landing"], env["lake"], store)
    rows = {r.id: r for r in spark.read.parquet(f"{env['lake']}/sampledb/product").collect()}
    assert set(rows) == {1001, 1003, 1004}
    # the merge must not have rewritten the untouched partition
    tools_after = set(os.listdir(f"{env['lake']}/sampledb/product/dept=tools"))
    assert tools_before == tools_after
    # the partitioned catalog registration (MSCK recovery) serves every
    # partition by name, including the partition column itself
    got = {
        (r.id, r.dept)
        for r in spark.sql("SELECT id, dept FROM sampledb.product").collect()
    }
    assert got == {(1001, "tools"), (1003, "tools"), (1004, "toys")}


def test_multiple_incremental_files_ordered(spark, env):
    _write_initial(spark, env)
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)
    st = store.all()[0]
    st.active, st.primary_key = True, "id"
    store.put(st)
    controller.run_once(spark, env["landing"], env["lake"], store)

    _write_incremental(spark, env, name="20240101-000000001.parquet")
    # second file updates 1001 again — file order must win
    df = spark.createDataFrame(
        [("U", 1001, "widget-final", "tools")],
        "Op string, id long, name string, dept string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{env['landing']}/sampledb/product/_t3")
    import glob, shutil

    src = glob.glob(f"{env['landing']}/sampledb/product/_t3/part-*.parquet")[0]
    os.rename(src, f"{env['landing']}/sampledb/product/20240102-000000002.parquet")
    shutil.rmtree(f"{env['landing']}/sampledb/product/_t3")

    controller.run_once(spark, env["landing"], env["lake"], store)
    rows = {r.id: r for r in spark.read.parquet(f"{env['lake']}/sampledb/product").collect()}
    assert rows[1001].name == "widget-final"


def test_compact_table_partitioned(spark, tmp_path):
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer

    out = str(tmp_path / "frag")
    import pyspark.sql.functions as F
    base = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 4).alias("pk_part")
    )
    # fragment: 20 appends of 100 rows → ~80 small files across 4 partitions
    for i in range(20):
        base.where((F.col("id") >= i * 100) & (F.col("id") < (i + 1) * 100)) \
            .write.mode("append").partitionBy("pk_part").parquet(out)
    import glob
    before = len(glob.glob(f"{out}/pk_part=*/*.parquet"))
    lake_writer.compact_table(spark, out, target_file_bytes=64 * 1024 * 1024)
    after = len(glob.glob(f"{out}/pk_part=*/*.parquet"))
    assert after < before
    got = spark.read.parquet(out)
    assert got.count() == 2000
    assert got.select(F.sum("id")).collect()[0][0] == sum(range(2000))


def test_compact_table_unpartitioned(spark, tmp_path):
    import glob

    import pyspark.sql.functions as F

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer

    out = str(tmp_path / "frag2")
    for i in range(10):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(out)
    before = len(glob.glob(f"{out}/*.parquet"))
    lake_writer.compact_table(spark, out, target_file_bytes=64 * 1024 * 1024)
    after = len(glob.glob(f"{out}/*.parquet"))
    assert after < before
    assert spark.read.parquet(out).count() == 100


def test_cli_main_end_to_end(spark, tmp_path):
    """python -m aws_big_data_blog_dmscdc_walkthrough_spark over a tiny landing zone."""
    import contextlib
    import io
    import json

    from aws_big_data_blog_dmscdc_walkthrough_spark.__main__ import main
    from aws_big_data_blog_dmscdc_walkthrough_spark.state.store import JsonStateStore

    landing = tmp_path / "landing" / "db" / "t1"
    landing.mkdir(parents=True)
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "ld"))
    import glob
    import shutil

    shutil.copy(
        glob.glob(str(tmp_path / "ld" / "part-*.parquet"))[0],
        str(landing / "LOAD00000001.parquet"),
    )
    state_file = str(tmp_path / "state.json")

    # pass 1: table registers inactive, nothing loads
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--landing", str(tmp_path / "landing"), "--lake", str(tmp_path / "lake"), "--state", state_file])
    assert rc == 0
    rep = json.loads(buf.getvalue())
    assert rep["tables"][0]["skipped"] is True

    # operator activates the table (the reference's DynamoDB edit)
    store = JsonStateStore(state_file)
    st = store.all()[0]
    st.active = True
    store.put(st)

    # pass 2: initial load runs
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--landing", str(tmp_path / "landing"), "--lake", str(tmp_path / "lake"), "--state", state_file])
    assert rc == 0
    rep = json.loads(buf.getvalue())
    assert rep["tables"][0]["initial"] is True
    got = spark.read.parquet(str(tmp_path / "lake" / "db" / "t1"))
    assert got.count() == 2


def test_controller_isolates_per_table_failure(spark, env):
    """One table's corrupt file must not block other tables (the
    reference's per-job isolation, DMSCDC_Controller.py:91-94)."""
    _write_initial(spark, env)
    # second table with a corrupt LOAD file
    bad_dir = f"{env['landing']}/sampledb/broken"
    os.makedirs(bad_dir, exist_ok=True)
    with open(f"{bad_dir}/LOAD00000001.parquet", "wb") as fh:
        fh.write(b"this is not parquet")

    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)  # register
    for st in store.all():
        st.active = True
        st.primary_key = "id"
        store.put(st)

    report = controller.run_once(spark, env["landing"], env["lake"], store)
    by_path = {t.path: t for t in report.tables if t.path != "?"}
    errors = [t for t in report.tables if t.error]
    ok = [t for t in report.tables if not t.error and t.did_initial]
    assert len(errors) == 1  # broken table reported, not raised
    assert len(ok) == 1      # healthy table loaded regardless
    assert spark.read.parquet(f"{env['lake']}/sampledb/product").count() == 3


# ------------------------------------------------------- CSV landing format


def _write_csv_landing(env):
    """DMS default S3 format: headerless CSV; full-load files carry the
    table columns, CDC files prepend Op as the first field."""
    d = f"{env['landing']}/sampledb/product"
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/LOAD00000001.csv", "w") as fh:
        fh.write("1001,widget,tools\n1002,gadget,toys\n1003,sprocket,tools\n")


def _write_csv_incremental(env, name="20240101-000000001.csv"):
    d = f"{env['landing']}/sampledb/product"
    with open(f"{d}/{name}", "w") as fh:
        fh.write("U,1001,widget-x,tools\nD,1002,,\nI,1004,doohickey,toys\n")


def test_csv_landing_full_flow(spark, env):
    _write_csv_landing(env)
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)  # registers
    st = store.all()[0]
    st.active = True
    st.primary_key = "id"
    st.schema_ddl = "id LONG, name STRING, dept STRING"
    store.put(st)

    r1 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r1.tables[0].did_initial
    lake = spark.read.parquet(f"{env['lake']}/sampledb/product")
    assert lake.count() == 3 and lake.columns == ["id", "name", "dept"]

    _write_csv_incremental(env)
    r2 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r2.tables[0].incremental_files == 1
    rows = {
        r.id: r
        for r in spark.read.parquet(f"{env['lake']}/sampledb/product").collect()
    }
    assert set(rows) == {1001, 1003, 1004}
    assert rows[1001].name == "widget-x"


def test_csv_landing_without_ddl_is_isolated_error(spark, env):
    """A CSV table missing its DDL fails registration-style, without
    taking down the controller pass (per-table error isolation)."""
    _write_csv_landing(env)
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)
    st = store.all()[0]
    st.active, st.primary_key = True, "id"   # schema_ddl left empty
    store.put(st)
    report = controller.run_once(spark, env["landing"], env["lake"], store)
    assert "schema_ddl" in report.tables[0].error


def _write_json_landing(env):
    """DMS JSON-lines S3 format: field names in-band, CDC records carry
    an Op field; types still come from the stored DDL."""
    d = f"{env['landing']}/sampledb/product"
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/LOAD00000001.json", "w") as fh:
        fh.write(
            '{"id": 1001, "name": "widget", "dept": "tools"}\n'
            '{"id": 1002, "name": "gadget", "dept": "toys"}\n'
            '{"id": 1003, "name": "sprocket", "dept": "tools"}\n'
        )


def _write_json_incremental(env, name="20240101-000000001.json"):
    d = f"{env['landing']}/sampledb/product"
    with open(f"{d}/{name}", "w") as fh:
        fh.write(
            '{"Op": "U", "id": 1001, "name": "widget-x", "dept": "tools"}\n'
            '{"Op": "D", "id": 1002}\n'
            '{"Op": "I", "id": 1004, "name": "doohickey", "dept": "toys"}\n'
        )


def test_json_landing_full_flow(spark, env):
    _write_json_landing(env)
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)  # registers
    st = store.all()[0]
    st.active = True
    st.primary_key = "id"
    st.schema_ddl = "id LONG, name STRING, dept STRING"
    store.put(st)

    r1 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r1.tables[0].did_initial
    lake = spark.read.parquet(f"{env['lake']}/sampledb/product")
    assert lake.count() == 3 and lake.columns == ["id", "name", "dept"]

    _write_json_incremental(env)
    r2 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r2.tables[0].incremental_files == 1
    rows = {
        r.id: r
        for r in spark.read.parquet(f"{env['lake']}/sampledb/product").collect()
    }
    assert set(rows) == {1001, 1003, 1004}
    assert rows[1001].name == "widget-x"


@pytest.mark.slow
def test_orc_landing_full_flow(spark, env):
    """ORC landing folders (Hive/Trino producers in a mixed lake) read
    through the same self-describing path as parquet — no DDL needed;
    CDC files carry their Op column in-band."""
    d = f"{env['landing']}/sampledb/product"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(1001, "widget", "tools"), (1002, "gadget", "toys"), (1003, "sprocket", "tools")],
        "id long, name string, dept string",
    ).coalesce(1).write.mode("overwrite").orc(f"{env['landing']}/_tmp_orc_load")
    inc = spark.createDataFrame(
        [("U", 1001, "widget-x", "tools"), ("D", 1002, None, None), ("I", 1004, "doohickey", "toys")],
        "Op string, id long, name string, dept string",
    )
    inc.coalesce(1).write.mode("overwrite").orc(f"{env['landing']}/_tmp_orc_inc")
    import glob
    import shutil
    shutil.move(glob.glob(f"{env['landing']}/_tmp_orc_load/part-*.orc")[0], f"{d}/LOAD00000001.orc")
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)  # registers
    st = store.all()[0]
    st.active, st.primary_key = True, "id"
    store.put(st)

    r1 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r1.tables[0].did_initial
    assert spark.read.parquet(f"{env['lake']}/sampledb/product").count() == 3

    shutil.move(glob.glob(f"{env['landing']}/_tmp_orc_inc/part-*.orc")[0], f"{d}/20240101-000000001.orc")
    r2 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r2.tables[0].incremental_files == 1
    rows = {
        r.id: r
        for r in spark.read.parquet(f"{env['lake']}/sampledb/product").collect()
    }
    assert set(rows) == {1001, 1003, 1004}
    assert rows[1001].name == "widget-x"


@pytest.mark.slow
def test_catalog_registration_enables_sql_by_name(spark, env):
    """The reference's crawler/Athena consumer step: after run_once, SQL
    users query the lake table by NAME, no path knowledge needed."""
    _write_initial(spark, env)
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)  # registers
    st = store.all()[0]
    st.active = True
    st.primary_key = "id"
    store.put(st)
    controller.run_once(spark, env["landing"], env["lake"], store)

    assert spark.sql("SELECT count(*) AS n FROM sampledb.product").collect()[0].n == 3

    # the registration tracks merges: after an incremental pass the named
    # table serves the merged rows (external table over the same folder)
    _write_incremental(spark, env)
    controller.run_once(spark, env["landing"], env["lake"], store)
    spark.catalog.refreshTable("sampledb.product")
    rows = {r.id: r.name for r in spark.sql("SELECT id, name FROM sampledb.product").collect()}
    assert rows == {1001: "widget-x", 1003: "sprocket", 1004: "doohickey"}

    # registration is opt-out for callers that bring their own catalog
    spark.sql("DROP TABLE sampledb.product")
    _write_incremental(spark, env, name="20240102-000000001.parquet")
    controller.run_once(spark, env["landing"], env["lake"], store, register_catalog=False)
    assert "product" not in [t.name for t in spark.catalog.listTables("sampledb")]


def test_register_table_follows_new_location_and_layout(spark, tmp_path):
    """Re-registering a name at another path, or over another partition
    layout with the same columns, serves that folder's rows."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import catalog

    spark.sql("DROP DATABASE IF EXISTS regdb CASCADE")
    a, b, c = (str(tmp_path / n) for n in ("a", "b", "c"))
    spark.createDataFrame([(1, "x")], "id long, dept string").write.parquet(a)
    spark.createDataFrame([(2, "y")], "id long, dept string").write.parquet(b)
    spark.createDataFrame([(3, "z")], "id long, dept string").write.partitionBy(
        "dept"
    ).parquet(c)
    for path, want in ((a, 1), (b, 2), (c, 3), (a, 1)):
        catalog.register_table(spark, path, "regdb", "t")
        assert [r.id for r in spark.table("regdb.t").collect()] == [want], path


def test_cli_maintenance_subcommands(spark, tmp_path, capsys):
    """compact / delete / vacuum round-trip through the CLI on a
    manifest table (each subcommand builds its own session — reuse of
    the fixture's is what getOrCreate gives it)."""
    import json as _json

    from aws_big_data_blog_dmscdc_walkthrough_spark.__main__ import main
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer, manifest

    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(8)], "id long, name string"
    ).repartition(4)
    lake_writer.write_initial(df, out)

    assert main(["delete", "--path", out, "--col", "id", "--op", ">=", "--value", "6"]) == 0
    rep = _json.loads(capsys.readouterr().out)
    assert rep["version"] == 2
    assert {r.id for r in manifest.read_table(spark, out).collect()} == set(range(6))

    assert main(["compact", "--path", out]) == 0
    rep = _json.loads(capsys.readouterr().out)
    assert rep["output_files"] >= 1
    assert {r.id for r in manifest.read_table(spark, out).collect()} == set(range(6))
    assert not manifest.read_manifest(spark, out).get("delete_files")

    assert main(["vacuum", "--path", out]) == 0  # nothing stale to keep


def test_cli_sql_registers_and_queries(spark, tmp_path, capsys):
    """The `sql` subcommand is the reference README's "Query the data
    lake" step: every schema/table folder registers in the catalog and
    arbitrary SQL runs against the qualified names."""
    import json as _json

    from aws_big_data_blog_dmscdc_walkthrough_spark.__main__ import main

    lake = tmp_path / "lake" / "sales" / "accounts"
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, bal double"
    ).write.parquet(str(lake))
    rc = main([
        "sql", "--lake", str(tmp_path / "lake"),
        "--query", "SELECT sum(bal) AS total FROM sales.accounts",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["tables_registered"] == 1
    assert out["rows"] == [{"total": 30.0}]


def test_cli_sql_reregistration_keeps_partitioned_table(spark, tmp_path, monkeypatch, capsys):
    """The `sql` subcommand registers each folder by path alone; a second
    run over an unchanged partitioned lake table issues no DROP TABLE,
    so the name never disappears under concurrent readers."""
    import json as _json

    from aws_big_data_blog_dmscdc_walkthrough_spark.__main__ import main
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import lake_writer

    lake = tmp_path / "lake"
    lake_writer.write_initial(
        spark.createDataFrame(
            [(1, "a", "d0"), (2, "b", "d1")], "id long, name string, dept string"
        ),
        str(lake / "cli_db" / "t"), partition_keys=["dept"],
    )
    spark.sql("DROP DATABASE IF EXISTS cli_db CASCADE")
    argv = ["sql", "--lake", str(lake), "--query", "SELECT count(*) AS n FROM cli_db.t"]
    assert main(argv) == 0
    capsys.readouterr()
    issued = []
    sql = spark.sql
    monkeypatch.setattr(spark, "sql", lambda q, *a, **k: (issued.append(q), sql(q, *a, **k))[1])
    assert main(argv) == 0
    assert _json.loads(capsys.readouterr().out)["rows"] == [{"n": 2}]
    assert any(q.startswith("CREATE DATABASE") for q in issued)  # the spy saw the run
    assert not [q for q in issued if q.lstrip().upper().startswith("DROP")]


def test_same_file_op_order_is_deterministic(spark, tmp_path):
    """Multiple ops on one key inside ONE DMS file must apply in file
    row order (row_index tiebreak) — file-name ordering alone leaves
    the winner to shuffle luck."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.operators import cdc
    from aws_big_data_blog_dmscdc_walkthrough_spark.pipeline.controller import (
        prepare_dms_batch,
    )

    src = str(tmp_path / "batch")
    spark.createDataFrame(
        [("I", 1, "stale"), ("U", 1, "mid"), ("U", 1, "final"), ("I", 2, "b")],
        "Op string, id long, name string",
    ).coalesce(1).write.parquet(src)
    for _ in range(3):  # repeated runs: same winner every time
        batch = prepare_dms_batch(spark.read.parquet(src))
        target = spark.createDataFrame([], "id long, name string")
        merged = cdc.apply_changes(target, batch, ["id"], "_seq")
        rows = {r.id: r.name for r in merged.collect()}
        assert rows == {1: "final", 2: "b"}


@pytest.mark.parametrize(
    "layouts", [[["dt"], ["dt"]], [[], ["dt"], []]], ids=["partitioned", "layout_change"]
)
def test_full_reload_drops_vanished_partitions(spark, tmp_path, layouts):
    """A new full load must REPLACE the whole table: a partition absent
    from the reload (deleted at the source) may not keep its stale
    directory, and a reload may change the partition layout."""
    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
        lake_writer,
        manifest,
    )

    out = str(tmp_path / "t")
    loads = [[(1, "a", "p1"), (2, "b", "p2")], [(1, "a2", "p1")], [(3, "c", "p3")]]
    for keys, rows in zip(layouts, loads):  # each reload drops a partition
        lake_writer.write_initial(
            spark.createDataFrame(rows, "id long, v string, dt string"),
            out, partition_keys=keys,
        )
        for df in (manifest.read_table(spark, out), spark.read.parquet(out)):
            assert sorted((r.id, r.v, r.dt) for r in df.collect()) == rows
        assert manifest.read_manifest(spark, out).get("partition_keys", []) == keys
        dirs = {d for d in os.listdir(out) if d.startswith("dt=")}
        assert dirs == ({f"dt={r[2]}" for r in rows} if keys else set())


def _write_table(spark, env, schema, table, rows, ddl, name):
    import glob
    import shutil

    df = spark.createDataFrame(rows, ddl)
    tmp = f"{env['landing']}/{schema}/{table}/_tmpX"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.rename(src, f"{env['landing']}/{schema}/{table}/{name}")
    shutil.rmtree(tmp)


@pytest.mark.slow
def test_consistent_cut_applies_both_tables_to_same_barrier(spark, env):
    """upto_file is a cross-table point-in-time cut (#158): files past
    the barrier stay pending in EVERY table, and a later pass with a
    higher barrier applies them idempotently."""
    store = JsonStateStore(env["state"])
    # two tables, initial + two incremental batches each (t1 < cut < t2)
    for t in ("orders", "customer"):
        _write_table(
            spark, env, "sales", t,
            [(1, "base")], "id long, v string", "LOAD00000001.parquet",
        )
    controller.run_once(spark, env["landing"], env["lake"], store)  # register
    for st in store.all():
        st.active = True
        st.primary_key = "id"
        store.put(st)
    controller.run_once(spark, env["landing"], env["lake"], store)  # initial
    for t in ("orders", "customer"):
        _write_table(
            spark, env, "sales", t,
            [("I", 2, f"{t}-early")], "Op string, id long, v string",
            "20240101-000000001.parquet",
        )
        _write_table(
            spark, env, "sales", t,
            [("I", 3, f"{t}-late")], "Op string, id long, v string",
            "20240102-000000001.parquet",
        )
    # barrier between the two batches: only the early file may land
    r = controller.run_once(
        spark, env["landing"], env["lake"], store,
        upto_file="20240101-999999999.parquet",
    )
    assert all(t.incremental_files == 1 for t in r.tables if not t.skipped)
    for t in ("orders", "customer"):
        ids = {
            row.id
            for row in spark.read.parquet(f"{env['lake']}/sales/{t}").collect()
        }
        assert ids == {1, 2}, (t, ids)  # late row consistently absent
    # later pass with no barrier drains the rest, idempotently
    r2 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert all(t.incremental_files == 1 for t in r2.tables if not t.skipped)
    for t in ("orders", "customer"):
        ids = {
            row.id
            for row in spark.read.parquet(f"{env['lake']}/sales/{t}").collect()
        }
        assert ids == {1, 2, 3}, (t, ids)
    r3 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert all(t.incremental_files == 0 for t in r3.tables if not t.skipped)


def test_consistent_cut_defers_pending_initial_load(spark, env):
    """A fresh LOAD snapshot carries no commit time, so a barriered pass
    must defer the whole table rather than race it past the cut."""
    store = JsonStateStore(env["state"])
    _write_table(
        spark, env, "sales", "nation",
        [(1, "base")], "id long, v string", "LOAD00000001.parquet",
    )
    controller.run_once(spark, env["landing"], env["lake"], store)  # register
    for st in store.all():
        st.active = True
        st.primary_key = "id"
        store.put(st)
    r = controller.run_once(
        spark, env["landing"], env["lake"], store,
        upto_file="20240101-999999999.parquet",
    )
    assert r.tables[0].skipped and not r.tables[0].did_initial
    assert not os.path.exists(f"{env['lake']}/sales/nation")
    r2 = controller.run_once(spark, env["landing"], env["lake"], store)
    assert r2.tables[0].did_initial
    assert spark.read.parquet(f"{env['lake']}/sales/nation").count() == 1


def test_batch_spanning_add_column_keeps_the_new_column(spark, env):
    """Two CDC files in one pass, the second written after a source
    ``ADD COLUMN``: the batch is read with every file's columns, so the
    new column and its value reach the lake (a read that takes one
    file's schema dropped them for good)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_big_data_blog_dmscdc_walkthrough_spark.sources import manifest

    folder = f"{env['landing']}/sampledb/product"
    os.makedirs(folder)
    pq.write_table(pa.table({"id": [1, 2], "name": ["a", "b"]}), f"{folder}/LOAD00000001.parquet")
    store = JsonStateStore(env["state"])
    controller.run_once(spark, env["landing"], env["lake"], store)  # registers
    st = store.all()[0]
    st.active = True
    st.primary_key = "id"
    store.put(st)
    assert controller.run_once(spark, env["landing"], env["lake"], store).tables[0].did_initial

    pq.write_table(
        pa.table({"Op": ["U"], "id": [1], "name": ["a2"]}),
        f"{folder}/20240101-000000001.parquet",
    )
    pq.write_table(
        pa.table({"Op": ["U"], "id": [2], "name": ["b2"], "dept": ["x"]}),
        f"{folder}/20240101-000000002.parquet",
    )
    (t,) = controller.run_once(spark, env["landing"], env["lake"], store).tables
    assert (t.error, t.incremental_files) == ("", 2)
    lake = manifest.read_table(spark, f"{env['lake']}/sampledb/product")
    assert lake.columns == ["id", "name", "dept"]
    assert sorted(tuple(r) for r in lake.collect()) == [(1, "a2", None), (2, "b2", "x")]


def test_footer_schema_matches_spark_inference(spark, tmp_path):
    """The landing read's footer schema is the one Spark's inference job
    gives, for files written by Spark and by pyarrow (the DMS shape)."""
    import datetime as dt
    import glob
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    stamp = dt.datetime(2024, 2, 29, 12, 30, 1, 5)
    spark.createDataFrame(
        [(1, stamp.date(), stamp, stamp, Decimal("12345.67"), "s", (7, ["a", "b"], {"k": 1.5}))],
        "id int, d date, ts timestamp, ts_ntz timestamp_ntz, amount decimal(12,2), "
        "s string, nested struct<n:int, tags:array<string>, m:map<string,double>>",
    ).coalesce(1).write.parquet(str(tmp_path / "spark"))
    spark_file = glob.glob(str(tmp_path / "spark" / "part-*.parquet"))[0]
    arrow_file = str(tmp_path / "arrow.parquet")
    pq.write_table(
        pa.table({
            "id": pa.array([1], pa.int32()),
            "big": pa.array([1], pa.int64()),
            "d": pa.array([stamp.date()], pa.date32()),
            "ts_utc": pa.array([stamp], pa.timestamp("us", tz="UTC")),
            "ts_ntz": pa.array([stamp], pa.timestamp("us")),
            "ts_ms": pa.array([stamp], pa.timestamp("ms", tz="UTC")),
            "amount": pa.array([Decimal("12345.67")], pa.decimal128(12, 2)),
            "wide": pa.array([Decimal("1.5")], pa.decimal128(30, 4)),
            "s": pa.array(["s"], pa.string()),
            "nested": pa.array(
                [{"n": 7, "tags": ["a", "b"], "m": [("k", 1.5)]}],
                pa.struct([
                    ("n", pa.int32()),
                    ("tags", pa.list_(pa.string())),
                    ("m", pa.map_(pa.string(), pa.float64())),
                ]),
            ),
        }),
        arrow_file,
    )
    for f in (spark_file, arrow_file):
        ours = landing._read_parquet(spark, [f])
        assert ours.schema == spark.read.parquet(f).schema, f
        assert ours.collect() == spark.read.parquet(f).collect(), f

    # across files a type change raises, as a lake commit's does
    narrow = str(tmp_path / "narrow.parquet")
    pq.write_table(pa.table({"id": pa.array([2], pa.int16())}), narrow)
    with pytest.raises(Py4JJavaError, match="incompatible schemas"):
        landing._read_parquet(spark, [arrow_file, narrow])


def _cdc_files(tmp_path, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = []
    for i in range(n):
        f = str(tmp_path / f"20240101-{i:09d}.parquet")
        pq.write_table(pa.table({"Op": ["U"], "id": [i], "name": [f"n{i}"]}), f)
        files.append(f)
    return files


def test_landing_read_round_trips_do_not_grow_with_file_count(spark, tmp_path, monkeypatch):
    """A parquet landing read costs the same py4j round trips for one
    file as for twenty: the paths cross as one string, and every footer
    is read in one JVM call."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    files = _cdc_files(tmp_path, 20)
    folder = landing.TableFolder("s", "t", str(tmp_path), [], files)
    landing.read_incremental(spark, folder, files)  # resolve JVM classes once
    # count calls, not the releases py4j sends when Python drops a JVM
    # reference (the garbage collector times those)
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    send = GatewayClient.send_command
    calls = []

    def counted(self, command, *args, **kwargs):
        calls.append(not command.startswith(release))
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    counts = []
    for batch in (files[:1], files):
        calls.clear()
        landing.read_incremental(spark, folder, batch)
        counts.append(sum(calls))
    assert counts[0] == counts[1], counts


def test_discovery_round_trips_do_not_grow_with_file_count(spark, tmp_path, monkeypatch):
    """Landing discovery costs the same py4j round trips for one CDC
    file per table folder as for two hundred: one glob lists every
    table folder and its entries, and they cross as one string. A
    subfolder of a table folder is not a CDC file, and a table folder
    with no files is still a table."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    def landing_root(name, n_files):
        root = tmp_path / name
        for table in ("a", "b"):
            folder = root / "s" / table
            (folder / "2024" / "01").mkdir(parents=True)
            (folder / "LOAD00000001.parquet").write_bytes(b"")
            for i in range(n_files):
                (folder / f"20240101-{i:06d}.parquet").write_bytes(b"")
        (root / "s" / "empty").mkdir()
        return str(root)

    roots = [landing_root("one", 1), landing_root("many", 200)]
    tables = landing.discover_tables(spark, roots[1])  # resolve JVM classes once
    assert [(t.schema, t.table, len(t.initial_files), len(t.incremental_files))
            for t in tables] == [("s", "a", 1, 200), ("s", "b", 1, 200), ("s", "empty", 0, 0)]
    assert tables[0].path == f"file:{roots[1]}/s/a"
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    send = GatewayClient.send_command
    calls = []

    def counted(self, command, *args, **kwargs):
        calls.append(not command.startswith(release))
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    counts = []
    for root in roots:
        calls.clear()
        landing.discover_tables(spark, root)
        counts.append(sum(calls))
    assert counts[0] == counts[1], counts


def test_controller_landing_read_launches_no_job(spark, tmp_path):
    """Building a pass's change batch from parquet landing files runs
    no Spark job: the schema comes from the footers, read on the
    driver, not from an inference job."""
    files = _cdc_files(tmp_path, 3)
    folder = landing.TableFolder("s", "t", str(tmp_path), files[:1], files[1:])
    sc = spark.sparkContext
    sc.setJobGroup("landing-read", "landing-read")
    try:
        landing.read_initial(spark, folder)
        batch = controller.prepare_dms_batch(landing.read_incremental(spark, folder, files[1:]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("landing-read") == []
    assert batch.columns == ["op", "id", "name", "_seq"]
