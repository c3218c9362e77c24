"""Tests of the benchmark's own parts: the seeded generator, the
DuckDB correctness check and the CPU clock. No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
pytestmark = pytest.mark.skipif(
    not os.path.isfile(os.path.join(SF_DIR, "orders.parquet")), reason="no source tables"
)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _keys(root: str, column: str) -> set:
    keys = set()
    for rel in _files(root):
        if os.path.basename(rel).startswith("2"):
            keys |= set(pq.read_table(os.path.join(root, rel), columns=[column])[column].to_pylist())
    return keys


@pytest.mark.parametrize(
    "generate, key",
    [(gen.gen_many, "o_orderkey"), (gen.gen_bulk, "l_orderkey")],
    ids=["cdc_many_tables", "cdc_bulk"],
)
def test_same_seed_same_bytes_other_seed_other_keys(tmp_path, generate, key):
    a, b, c = (str(tmp_path / n) for n in "abc")
    generate(SF_DIR, a, 7, n_files=2)
    generate(SF_DIR, b, 7, n_files=2)
    generate(SF_DIR, c, 8, n_files=2)
    files_a = _files(a)
    assert files_a and files_a == _files(b)
    assert _keys(a, key) != _keys(c, key)


def _model(load: list[str], cdc: list[str], pk: list[str]) -> list[dict]:
    """Reference semantics as a plain loop: rows in file order, then row
    order; the last op per key wins and a final delete drops the key."""
    rows = [r for f in load for r in pq.read_table(f).to_pylist()]
    if not pk:
        return rows + [
            {k: v for k, v in r.items() if k != "Op"}
            for f in cdc for r in pq.read_table(f).to_pylist() if r["Op"] == "I"
        ]
    state = {tuple(r[k] for k in pk): r for r in rows}
    for f in cdc:
        for r in pq.read_table(f).to_pylist():
            key = tuple(r[k] for k in pk)
            if r.pop("Op") == "D":
                state.pop(key, None)
            else:
                state[key] = r
    return list(state.values())


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("landing"))
    gen.gen_many(SF_DIR, root, 3, n_files=3)
    return root


def _table_files(root, schema, table):
    folder = os.path.join(root, schema, table)
    names = sorted(os.listdir(folder))
    return ([os.path.join(folder, n) for n in names if n.startswith("LOAD")],
            [os.path.join(folder, n) for n in names if n.startswith("2")])


@pytest.mark.parametrize("mode", gen.MODES)
def test_expected_state_matches_loop_model(landing, mode):
    (_, schema, table) = next(t for t in gen.many_tables() if t[0] == mode)
    load, cdc = _table_files(landing, schema, table)
    pk = [] if mode == "keyless" else ["o_orderkey"]
    cols = pq.read_schema(load[0]).names
    want = check.expected_state(load, cdc, cols, pk)
    model = pa.Table.from_pylist(_model(load, cdc, pk), schema=pq.read_schema(load[0]))
    assert check.lake_matches(model, want, cols)


def test_planted_wrong_row_is_caught(landing):
    (_, schema, table) = gen.many_tables()[0]
    load, cdc = _table_files(landing, schema, table)
    cols = pq.read_schema(load[0]).names
    want = check.expected_state(load, cdc, cols, ["o_orderkey"])
    assert check.lake_matches(want, want, cols)
    rows = want.to_pylist()

    wrong_value = [dict(r) for r in rows]
    wrong_value[5]["o_totalprice"] += 0.01
    dropped = rows[:-1]
    duplicated = rows + rows[:1]
    for lake in (wrong_value, dropped, duplicated):
        assert not check.lake_matches(pa.Table.from_pylist(lake, schema=want.schema), want, cols)


def test_digest_ignores_row_order_and_engine_types():
    a = pa.table({"k": pa.array([1, 2, 3], pa.int32()), "x": ["a", "b", None]})
    b = pa.table({"k": pa.array([3, 1, 2], pa.int64()), "x": pa.array([None, "a", "b"], pa.large_string())})
    assert check.lake_matches(a, b, ["k", "x"])


def test_query_result_mismatch_is_caught():
    import pandas as pd

    oracle = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert check.result_matches(oracle.iloc[::-1], oracle)
    assert not check.result_matches(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}), oracle)


def test_oracle_cache_is_keyed_by_sql(tmp_path):
    cache = str(tmp_path / "oracles")
    first = check.run_oracle("SELECT count(*) AS n FROM region", SF_DIR, cache)
    assert len(os.listdir(cache)) == 1
    again = check.run_oracle("SELECT count(*) AS n FROM region", SF_DIR, cache)
    assert again.equals(first)
    other = check.run_oracle("SELECT count(*) + 1 AS n FROM region", SF_DIR, cache)
    assert len(os.listdir(cache)) == 2 and int(other.n[0]) == int(first.n[0]) + 1


def test_tree_cpu_counts_reaped_children():
    import subprocess

    import run

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass\n"
    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert run.tree_cpu_s() - before >= 0.28
    # with no JVM there are no compiler threads to leave out
    assert run.CpuClock(None).jit == []
