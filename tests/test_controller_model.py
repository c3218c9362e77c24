"""Controller path against a plain-Python latest-wins model.

Four tables — one per table mode the controller serves (keyed
copy-on-write; keyed + manifest + file stats; keyed + partitioned;
keyless insert-only) — receive the same DMS landing: a full load, then
three CDC files over two passes. The files hold same-key chains inside
one file and across files (I→U, U→U, U→D, D→I), an update that moves a
row to another partition, and deletes that empty a partition. After
each pass every lake table must equal the model of the files consumed
so far — read through its manifest, straight from the directory, and
through the catalog table the pass registered — and every keyed merge
must have written one file per table (or per partition it touched): the
tables are far below one ``openCostInBytes``. A partition may keep an
untouched file beside the new one, since a merge rewrites only the files
that hold a changed key. A pass whose manifest commits crash, rerun,
must converge to the same state, and so must an incremental pass or a
full reload that crashes at any of its steps: no CDC file is lost or
applied twice, keyless appends included. A lake whose manifests record
no consumption mark continues from the state store's marks. A
``partition_key`` edited after the first load leaves every table in the
layout its manifest records.
"""

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter

from aws_big_data_blog_dmscdc_walkthrough_spark.pipeline import controller
from aws_big_data_blog_dmscdc_walkthrough_spark.sources import catalog, manifest
from aws_big_data_blog_dmscdc_walkthrough_spark.state.store import JsonStateStore

SCHEMA = "m"
MODES = {
    "cow": dict(primary_key="id"),
    # "use_manifest" is a retired flag: every table commits through its
    # manifest, and a record that still carries it must simply work
    "manifest": dict(
        primary_key="id", extra={"use_manifest": True, "stats_cols": "id,name"}
    ),
    "part": dict(primary_key="id", partition_key="grp"),
    "keyless": dict(),
}

LOAD = [(1, "one", "a"), (2, "two", "a"), (3, "three", "b"), (4, "four", "b"),
        (5, "five", "a"), (6, "six", "c"), (7, "seven", "c"), (8, "eight", "a")]

# (Op, id, name, grp) — delete images carry the key and the old partition
CDC = [
    [  # file 1: chains inside one file
        ("U", 1, "one-1", "a"), ("U", 1, "one-2", "a"),        # U→U
        ("U", 2, "two-1", "a"), ("D", 2, "two-1", "a"),        # U→D
        ("I", 20, "twenty", "b"), ("U", 20, "twenty-1", "b"),  # I→U
        ("D", 3, "three", "b"),
        ("U", 4, "four-1", "b"),
        ("U", 5, "five-1", "b"),                               # a → b
    ],
    [  # file 2: chains across files
        ("I", 3, "three-again", "a"),                          # D→I
        ("U", 4, "four-2", "b"),                               # U→U
        ("I", 21, "twenty-one", "c"),
        ("D", 6, "six", "c"), ("D", 7, "seven", "c"),
    ],
    [  # file 3, next pass: across passes
        ("D", 21, "twenty-one", "c"),                          # I→D, c now empty
        ("U", 20, "twenty-2", "a"),                            # b → a
        ("I", 22, "twenty-two", "b"),
    ],
]


def _write(rows, names, path):
    cols = list(zip(*rows))
    types = {"Op": pa.string(), "id": pa.int64(), "name": pa.string(), "grp": pa.string()}
    pq.write_table(
        pa.table({n: pa.array(c, types[n]) for n, c in zip(names, cols)}), path
    )


def _cdc_name(i):
    return f"20240101-00000000{i + 1}.parquet"


def _land(landing, files):
    for mode in MODES:
        d = os.path.join(landing, SCHEMA, mode)
        os.makedirs(d, exist_ok=True)
        if not os.path.exists(os.path.join(d, "LOAD00000001.parquet")):
            _write(LOAD, ["id", "name", "grp"], os.path.join(d, "LOAD00000001.parquet"))
        for i in files:
            _write(CDC[i], ["Op", "id", "name", "grp"], os.path.join(d, _cdc_name(i)))


def _keyed_model(files, base=LOAD):
    state = {r[0]: r for r in base}
    for rows in files:
        for op, rid, name, grp in rows:
            if op == "D":
                state.pop(rid, None)
            else:
                state[rid] = (rid, name, grp)
    return sorted(state.values())


def _keyless_model(files, base=LOAD):
    out = list(base)
    for rows in files:
        out += [(rid, name, grp) for op, rid, name, grp in rows if op == "I"]
    return sorted(out)


def _rows(df):
    return sorted((r.id, r.name, r.grp) for r in df.select("id", "name", "grp").collect())


def _data_files(path):
    """Visible parquet files under ``path``, relative to it."""
    return [
        os.path.relpath(p, path)
        for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
    ]


def _check(spark, lake, files, n_load_files, base=LOAD):
    """Every mode equals the model of ``base`` plus the CDC ``files``."""
    for mode in MODES:
        model = _keyless_model if mode == "keyless" else _keyed_model
        want = model(files, base)
        path = f"{lake}/{SCHEMA}/{mode}"
        assert manifest.read_manifest(spark, path) is not None, mode
        assert _rows(manifest.read_table(spark, path)) == want, mode
        assert _rows(spark.read.parquet(path)) == want, mode
        assert _rows(spark.table(f"{SCHEMA}.{mode}")) == want, mode
    # file layout: the keyed merges write one file per table / partition
    assert len(_data_files(f"{lake}/{SCHEMA}/cow")) == 1
    man = manifest.read_manifest(spark, f"{lake}/{SCHEMA}/manifest")
    assert len(man["files"]) == 1, man["files"]
    part = f"{lake}/{SCHEMA}/part"
    live = {f"grp={g}" for _, _, g in _keyed_model(files, base)}
    assert {os.path.dirname(f) for f in _data_files(part)} == live
    assert {n for n in os.listdir(part) if n.startswith("grp=")} == live
    # a partition may keep an untouched file beside a rewrite's, but one
    # write (one job UUID in part-NNNNN-<uuid>) puts one file in each
    writes = [
        (os.path.dirname(f), os.path.basename(f).split("-", 2)[2][:36])
        for f in _data_files(part)
    ]
    assert len(writes) == len(set(writes)), writes
    # keyless appends are not merges: one file per consumed landing file
    assert len(_data_files(f"{lake}/{SCHEMA}/keyless")) == n_load_files + len(files)


def _loaded_lake(spark, tmp_path):
    """Landing + lake + store after the registration pass and the
    initial-load pass, with every table configured for its mode."""
    landing, lake = str(tmp_path / "landing"), str(tmp_path / "lake")
    store = JsonStateStore(str(tmp_path / "state.json"))
    # the catalog outlives tmp_path: drop tables registered by a prior test
    spark.sql(f"DROP DATABASE IF EXISTS {SCHEMA} CASCADE")
    _land(landing, [])
    controller.run_once(spark, landing, lake, store)  # registers, inactive
    for st in store.all():
        for k, v in MODES[st.table].items():
            setattr(st, k, v)
        st.active = True
        store.put(st)
    report = controller.run_once(spark, landing, lake, store)
    assert all(t.did_initial and not t.error for t in report.tables), report
    return landing, lake, store


def test_controller_modes_match_latest_wins_model(spark, tmp_path):
    landing, lake, store = _loaded_lake(spark, tmp_path)
    n_load = len(_data_files(f"{lake}/{SCHEMA}/keyless"))
    _check(spark, lake, [], n_load)

    _land(landing, [0, 1])
    report = controller.run_once(spark, landing, lake, store)
    assert all(t.incremental_files == 2 and not t.error for t in report.tables), report
    _check(spark, lake, CDC[:2], n_load)

    _land(landing, [2])
    report = controller.run_once(spark, landing, lake, store)
    assert all(t.incremental_files == 1 and not t.error for t in report.tables), report
    _check(spark, lake, CDC, n_load)

    # the manifest table's file stats cover every live file and agree
    # with the rows the file holds
    path = f"{lake}/{SCHEMA}/manifest"
    man = manifest.read_manifest(spark, path)
    assert set(man["stats"]) == set(man["files"])
    for f, st in man["stats"].items():
        ids = pq.read_table(os.path.join(path, f), columns=["id"])["id"].to_pylist()
        assert (st["id"]["min"], st["id"]["max"]) == (min(ids), max(ids))


def test_crash_before_commit_then_rerun_converges(spark, tmp_path, monkeypatch):
    """Every table's commit raises once inside a pass (after its files
    were appended); the rerun must leave each table — manifest,
    directory and catalog views — equal to the model, with no vacuum."""
    landing, lake, store = _loaded_lake(spark, tmp_path)
    n_load = len(_data_files(f"{lake}/{SCHEMA}/keyless"))
    real_commit = manifest.commit_manifest
    crashed = set()

    def crash_once(spark_, path, files, **kw):
        if path not in crashed:
            crashed.add(path)
            raise RuntimeError("crash before commit")
        return real_commit(spark_, path, files, **kw)

    monkeypatch.setattr(manifest, "commit_manifest", crash_once)
    _land(landing, [0, 1])
    report = controller.run_once(spark, landing, lake, store)
    assert all("crash before commit" in t.error for t in report.tables), report
    report = controller.run_once(spark, landing, lake, store)
    assert all(t.incremental_files == 2 and not t.error for t in report.tables), report
    _check(spark, lake, CDC[:2], n_load)
    assert len(crashed) == len(MODES)


def test_edited_partition_key_keeps_the_recorded_layout(spark, tmp_path):
    """An operator who edits ``partition_key`` after the first load does
    not change a table's layout: the next pass merges (or appends) in
    the layout its manifest records, and every view equals the model."""
    landing, lake, store = _loaded_lake(spark, tmp_path)
    n_load = len(_data_files(f"{lake}/{SCHEMA}/keyless"))
    for st in store.all():
        st.partition_key = "name"
        store.put(st)
    _land(landing, [0, 1])
    report = controller.run_once(spark, landing, lake, store)
    assert all(t.incremental_files == 2 and not t.error for t in report.tables), report
    _check(spark, lake, CDC[:2], n_load)
    for mode in MODES:
        man = manifest.read_manifest(spark, f"{lake}/{SCHEMA}/{mode}")
        assert man.get("partition_keys", []) == (["grp"] if mode == "part" else []), mode


def _reload_rows(step):
    """A full load unlike LOAD: renamed rows and a partition ``d`` that
    only the reload writes."""
    return [(1, f"one-r{step}", "a"), (3, f"three-r{step}", "c"),
            (20, f"twenty-r{step}", "b"), (21, f"twenty-one-r{step}", "c"),
            (30 + step, f"thirty-r{step}", "d")]


# a reload's steps in pass order: (name, owner, attribute, crash after
# the call instead of before it). Each call's second argument names its
# table: the lake path, or the state record for the store.
RELOAD_STEPS = [
    ("append", DataFrameWriter, "parquet", True),
    ("commit", manifest, "commit_manifest", False),
    ("delete", manifest, "delete_data_files", False),
    ("state", JsonStateStore, "put", False),
    ("catalog", catalog, "register_table", False),
]
# an incremental pass has the same steps: the merge's append, commit and
# delete, the store write and the registration
MERGE_STEPS = RELOAD_STEPS


def _pass_crashing_at(spark, landing, lake, store, monkeypatch, step, owner, attr, after):
    """One pass in which ``owner.attr`` raises once per table (after
    the call when ``after``); every table must report the crash."""
    real, crashed = getattr(owner, attr), set()

    def crash_once(*a, **kw):
        table = getattr(a[1], "path", a[1])
        if table in crashed:
            return real(*a, **kw)
        crashed.add(table)
        if after:
            real(*a, **kw)
        raise RuntimeError(f"crash at {step}")

    with monkeypatch.context() as m:
        m.setattr(owner, attr, crash_once)
        report = controller.run_once(spark, landing, lake, store)
    assert all(f"crash at {step}" in t.error for t in report.tables), report


def test_reload_crash_at_each_step_then_rerun_converges(spark, tmp_path, monkeypatch):
    """A newer full load lands with one CDC file after the mark, and each
    reload step in turn raises once per table. The rerun, from the state
    on disk, must leave every mode equal to the reload plus that CDC
    file through the manifest, the directory and the catalog. A pass
    with nothing to load then registers no table."""
    landing, lake, store = _loaded_lake(spark, tmp_path)
    n_load = len(_data_files(f"{lake}/{SCHEMA}/keyless"))
    for i, (step, owner, attr, after) in enumerate(RELOAD_STEPS):
        rows = _reload_rows(i)
        for mode in MODES:
            d = os.path.join(landing, SCHEMA, mode)
            _write(rows, ["id", "name", "grp"], os.path.join(d, "LOAD00000001.parquet"))
            _write(CDC[2], ["Op", "id", "name", "grp"], os.path.join(d, _cdc_name(3 + i)))
        _pass_crashing_at(spark, landing, lake, store, monkeypatch, step, owner, attr, after)
        store = JsonStateStore(str(tmp_path / "state.json"))
        report = controller.run_once(spark, landing, lake, store)
        assert not any(t.error for t in report.tables), report
        _check(spark, lake, [CDC[2]], n_load, base=rows)

    registered = []
    monkeypatch.setattr(catalog, "register_table", lambda *a: registered.append(a))
    report = controller.run_once(spark, landing, lake, store)
    assert not any(t.error or t.did_initial or t.incremental_files for t in report.tables)
    assert registered == []


def test_merge_crash_at_each_step_then_rerun_converges(spark, tmp_path, monkeypatch):
    """One new CDC file lands per step, and each step of the incremental
    pass in turn raises once per table. The rerun, from the state on
    disk, must leave every mode, keyless included, equal to the model of
    the files landed so far through the manifest, the directory and the
    catalog: a file whose commit went through is not applied again."""
    landing, lake, store = _loaded_lake(spark, tmp_path)
    n_load = len(_data_files(f"{lake}/{SCHEMA}/keyless"))
    landed = []
    for i, (step, owner, attr, after) in enumerate(MERGE_STEPS):
        rows = CDC[i % len(CDC)]
        for mode in MODES:
            path = os.path.join(landing, SCHEMA, mode, _cdc_name(3 + i))
            _write(rows, ["Op", "id", "name", "grp"], path)
        landed.append(rows)
        _pass_crashing_at(spark, landing, lake, store, monkeypatch, step, owner, attr, after)
        store = JsonStateStore(str(tmp_path / "state.json"))
        report = controller.run_once(spark, landing, lake, store)
        assert not any(t.error for t in report.tables), (step, report)
        _check(spark, lake, landed, n_load)


def test_lake_without_marks_continues_from_the_store(spark, tmp_path):
    """A lake written before its manifests recorded what they consumed:
    the marks are in the state store only. The first pass continues
    from them, neither reloading nor re-merging, and its commit records
    the mark in the manifest."""
    landing, lake, store = _loaded_lake(spark, tmp_path)
    n_load = len(_data_files(f"{lake}/{SCHEMA}/keyless"))
    _land(landing, [0])
    controller.run_once(spark, landing, lake, store)
    for st in store.all():
        path = f"{lake}/{SCHEMA}/{st.table}/{manifest.MANIFEST_NAME}"
        with open(path) as fh:
            doc = json.load(fh)
        marks = doc.pop("txn")
        with open(path, "w") as fh:
            json.dump(doc, fh)
        os.remove(f"{os.path.dirname(path)}/.{manifest.MANIFEST_NAME}.crc")
        st.last_full_load_ts = marks[controller.LOAD_TXN]
        st.last_incremental_file = marks[controller.CDC_TXN]
        store.put(st)
    _land(landing, [1])
    report = controller.run_once(spark, landing, lake, store)
    assert all(
        t.incremental_files == 1 and not (t.did_initial or t.error) for t in report.tables
    ), report
    _check(spark, lake, CDC[:2], n_load)
    for st in store.all():
        man = manifest.read_manifest(spark, f"{lake}/{SCHEMA}/{st.table}")
        assert man["txn"] == {controller.CDC_TXN: f"{st.path}/{_cdc_name(1)}"}


@pytest.fixture()
def cdc_files(tmp_path):
    paths = []
    for i in range(len(CDC)):
        p = str(tmp_path / _cdc_name(i))
        _write(CDC[i], ["Op", "id", "name", "grp"], p)
        paths.append(p)
    return paths


def test_sequencing_plan_has_no_exchange(spark, cdc_files):
    batch = controller.prepare_dms_batch(spark.read.parquet(*cdc_files))
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_seq_does_not_depend_on_which_files_are_read(spark, cdc_files):
    def seqs(paths):
        batch = controller.prepare_dms_batch(spark.read.parquet(*paths))
        return {(r.op, r.id, r.name): r._seq for r in batch.collect()}

    together = seqs(cdc_files)
    for p in cdc_files:
        alone = seqs([p])
        assert alone == {k: together[k] for k in alone}
    # and the seq orders the chains the way the files do
    assert together[("U", 1, "one-1")] < together[("U", 1, "one-2")]
    assert together[("D", 3, "three")] < together[("I", 3, "three-again")]
    assert together[("I", 21, "twenty-one")] < together[("D", 21, "twenty-one")]
