"""Seeded DMS-shaped landing data for the CDC workloads, built with pyarrow.

The generator stands outside the system under test: it reads the
read-only TPC-H-like parquet tables and writes a DMS landing layout

    <schema>/<table>/LOAD00000001.parquet ...   full-load files
    <schema>/<table>/20200101-000000001.parquet ...   CDC files, lexically
                                                  increasing, first column Op

into a cache directory, once per (workload, seed). A run links the cached
files into its landing root: LOAD files before set-up, one CDC file per
table before each controller pass (by rename, outside the timed window).

The same seed gives byte-identical files; the seed picks which keys
change, the ops, the new values and the row order inside each file.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

# cdc_bulk: one wide table, ~3% of live keys changed per CDC file
BULK_SCHEMA, BULK_TABLE = "tpch", "lineitem"
BULK_PK = ("l_orderkey", "l_linenumber")
BULK_LOAD_FILES = 4
BULK_CHANGE_FRAC = 0.03
BULK_FILES = 30

# cdc_many_tables: small tables (~9.4k rows: sf0.1 orders rows with
# o_orderkey % 16 == t), one per mode and one schema per mode, ~50 change
# rows per table per file
MANY_TABLES = 4
MANY_SPLIT = 16
MANY_ROWS_PER_FILE = 50
MANY_FILES = 30
MODES = ("cow", "manifest", "part", "keyless")

_WRITE = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def cdc_name(i: int) -> str:
    """DMS-style CDC file name: a timestamp prefix, lexical = chronological."""
    return f"20200101-{i:09d}.parquet"


def load_name(i: int) -> str:
    return f"LOAD{i:08d}.parquet"


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # strip the pandas metadata the source tables carry: files depend only
    # on their rows, never on how the source was written
    pq.write_table(table.replace_schema_metadata(None), path, **_WRITE)


def _with_op(table: pa.Table, ops: np.ndarray) -> pa.Table:
    return table.add_column(0, "Op", pa.array(ops.tolist(), pa.string()))


# ---------------------------------------------------------------- cdc_bulk


def _bulk_base(src_dir: str) -> pa.Table:
    """sf0.1 lineitem with l_linenumber renumbered 1..n inside each order.

    The synthetic source repeats (l_orderkey, l_linenumber) pairs; a
    keyed CDC table needs a unique key, so each order's lines are
    numbered in file order, keeping every row.
    """
    t = pq.read_table(os.path.join(src_dir, "lineitem.parquet"))
    ok = t["l_orderkey"].to_numpy()
    order = np.argsort(ok, kind="stable")
    sorted_ok = ok[order]
    starts = np.r_[0, np.flatnonzero(sorted_ok[1:] != sorted_ok[:-1]) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, len(ok)]))
    line = np.empty(len(ok), np.int32)
    line[order] = (np.arange(len(ok)) - run_start + 1).astype(np.int32)
    idx = t.schema.get_field_index("l_linenumber")
    return t.set_column(idx, "l_linenumber", pa.array(line, pa.int32()))


def _bulk_values(rng: np.random.Generator, n: int, template: pa.Table) -> dict:
    """Fresh non-key values for ``n`` rows, typed like ``template``."""
    ship = rng.integers(
        np.datetime64("1992-01-01", "us").astype(np.int64),
        np.datetime64("1999-01-01", "us").astype(np.int64),
        n,
    ) // 86_400_000_000 * 86_400_000_000
    return {
        "l_partkey": pa.array(rng.integers(1, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_000, n), pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist(), pa.string()),
        "l_shipdate": pa.array(ship, template.schema.field("l_shipdate").type),
    }


def _bulk_rows(keys_ok, keys_ln, values: dict, schema: pa.Schema) -> pa.Table:
    cols = dict(values)
    cols["l_orderkey"] = pa.array(keys_ok, pa.int64())
    cols["l_linenumber"] = pa.array(keys_ln, pa.int32())
    return pa.table([cols[f.name] for f in schema], schema=schema)


def gen_bulk(src_dir: str, out: str, seed: int, n_files: int = BULK_FILES) -> None:
    rng = np.random.default_rng([seed, 1])
    base = _bulk_base(src_dir)
    schema = base.schema.remove_metadata()
    folder = os.path.join(out, BULK_SCHEMA, BULK_TABLE)
    # the full load, split into several LOAD files in source row order
    bounds = np.linspace(0, base.num_rows, BULK_LOAD_FILES + 1).astype(int)
    for i in range(BULK_LOAD_FILES):
        _write(base.slice(bounds[i], bounds[i + 1] - bounds[i]), os.path.join(folder, load_name(i + 1)))

    live_ok = base["l_orderkey"].to_numpy().copy()
    live_ln = base["l_linenumber"].to_numpy().copy()
    next_order = int(live_ok.max()) + 1
    for f in range(n_files):
        n_live = len(live_ok)
        n_change = int(round(BULK_CHANGE_FRAC * n_live))
        n_upd = int(n_change * 0.85)
        n_del = int(n_change * 0.07)
        n_ins = n_change - n_upd - n_del
        pick = rng.choice(n_live, n_upd + n_del, replace=False)
        upd, dele = pick[:n_upd], pick[n_upd:]
        ins_ok = next_order + np.arange(n_ins) // 4
        ins_ln = (np.arange(n_ins) % 4 + 1).astype(np.int32)
        next_order = int(ins_ok.max()) + 1
        # one-op-per-key part, shuffled into random row order
        k_ok = np.r_[live_ok[upd], live_ok[dele], ins_ok]
        k_ln = np.r_[live_ln[upd], live_ln[dele], ins_ln].astype(np.int32)
        ops = np.array(["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins)
        perm = rng.permutation(len(ops))
        k_ok, k_ln, ops = k_ok[perm], k_ln[perm], ops[perm]
        # repeated ops on one key later in the same file: U→U, U→D, I→U
        n_rep = max(3, n_change // 50)
        rep_u = rng.choice(n_upd, n_rep, replace=False)
        rep_i = rng.choice(n_ins, n_rep, replace=False)
        r_ok = np.r_[live_ok[upd[rep_u]], ins_ok[rep_i]]
        r_ln = np.r_[live_ln[upd[rep_u]], ins_ln[rep_i]].astype(np.int32)
        r_ops = np.array(["U"] * (n_rep // 2) + ["D"] * (n_rep - n_rep // 2) + ["U"] * n_rep)
        k_ok, k_ln, ops = np.r_[k_ok, r_ok], np.r_[k_ln, r_ln], np.r_[ops, r_ops]
        rows = _bulk_rows(k_ok, k_ln, _bulk_values(rng, len(ops), base), schema)
        _write(_with_op(rows, ops), os.path.join(folder, cdc_name(f + 1)))
        # advance the live key set: drop deletes (incl. U→D), add inserts
        dead = np.zeros(n_live, bool)
        dead[dele] = True
        dead[upd[rep_u[n_rep // 2:]]] = True
        live_ok = np.r_[live_ok[~dead], ins_ok]
        live_ln = np.r_[live_ln[~dead], ins_ln]


# --------------------------------------------------------- cdc_many_tables


def many_tables() -> list[tuple[str, str, str]]:
    """(mode, schema, table) of every table: schema = mode."""
    return [(MODES[t % 4], MODES[t % 4], f"orders_{t:02d}") for t in range(MANY_TABLES)]


def _orders_values(rng: np.random.Generator, n: int, template: pa.Table) -> dict:
    day = 86_400_000_000
    date = rng.integers(
        np.datetime64("1992-01-01", "us").astype(np.int64) // day,
        np.datetime64("1999-01-01", "us").astype(np.int64) // day,
        n,
    ) * day
    prio = template["o_orderpriority"].unique().to_pylist()
    return {
        "o_custkey": pa.array(rng.integers(1, 15_000, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n).tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500_000, n), 2)),
        "o_orderdate": pa.array(date, template.schema.field("o_orderdate").type),
        "o_orderpriority": pa.array(rng.choice(sorted(prio), n).tolist(), pa.string()),
    }


def gen_many(src_dir: str, out: str, seed: int, n_files: int = MANY_FILES) -> None:
    rng = np.random.default_rng([seed, 2])
    orders = pq.read_table(os.path.join(src_dir, "orders.parquet"))
    schema = orders.schema.remove_metadata()
    key = orders["o_orderkey"].to_numpy()
    next_key = int(key.max()) + 1
    for t, (mode, sch, tbl) in enumerate(many_tables()):
        folder = os.path.join(out, sch, tbl)
        base = orders.filter(pa.array(key % MANY_SPLIT == t))
        _write(base, os.path.join(folder, load_name(1)))
        live = base["o_orderkey"].to_numpy().copy()
        # new keys keep the table's residue so tables never share a key
        fresh = next_key + t + MANY_SPLIT * np.arange(n_files * MANY_ROWS_PER_FILE)
        used = 0
        for f in range(n_files):
            n = MANY_ROWS_PER_FILE
            if mode == "keyless":
                keys = rng.choice(live, n)  # append-only: any values, even repeats
                ops = np.array(["I"] * n)
            else:
                n_upd, n_del, n_ins, n_rep = 38, 4, 4, 4
                pick = rng.choice(len(live), n_upd + n_del, replace=False)
                ins = fresh[used:used + n_ins]
                used += n_ins
                keys = np.r_[live[pick], ins]
                ops = np.array(["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins)
                perm = rng.permutation(len(ops))
                keys, ops = keys[perm], ops[perm]
                # U→U, U→D, I→U, I→U later in the same file
                rep = np.r_[live[pick[:2]], ins[:2]]
                keys = np.r_[keys, rep]
                ops = np.r_[ops, ["U", "D", "U", "U"]]
                dead = np.zeros(len(live), bool)
                dead[pick[n_upd:]] = True
                dead[pick[1]] = True
                live = np.r_[live[~dead], ins]
            cols = _orders_values(rng, len(keys), orders)
            cols["o_orderkey"] = pa.array(keys, pa.int64())
            rows = pa.table([cols[fl.name] for fl in schema], schema=schema)
            _write(_with_op(rows, ops), os.path.join(folder, cdc_name(f + 1)))


# --------------------------------------------------------------- the cache

GENERATORS = {"cdc_bulk": gen_bulk, "cdc_many_tables": gen_many}


def cached_inputs(cache_root: str, workload: str, seed: int, src_dir: str) -> str:
    """Directory holding the generated landing files for (workload, seed),
    generating them on first use. A marker file is written last, so an
    interrupted generation is redone rather than trusted."""
    out = os.path.join(cache_root, f"{workload}-seed{seed}-v{GEN_VERSION}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    GENERATORS[workload](src_dir, out, seed)
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return out


class Landing:
    """A run's landing root, fed from the cache: every LOAD file at
    construction, then one CDC file per table per :meth:`reveal`."""

    def __init__(self, cache_dir: str, root: str):
        self.root = root
        self.pending: dict[str, list[str]] = {}
        shutil.rmtree(root, ignore_errors=True)
        stage = root + ".pending"
        shutil.rmtree(stage, ignore_errors=True)
        for sch in sorted(os.listdir(cache_dir)):
            if sch.startswith("_"):
                continue
            for tbl in sorted(os.listdir(os.path.join(cache_dir, sch))):
                rel = os.path.join(sch, tbl)
                os.makedirs(os.path.join(root, rel))
                os.makedirs(os.path.join(stage, rel))
                names = sorted(os.listdir(os.path.join(cache_dir, rel)))
                for name in names:
                    dst = os.path.join(root if name.startswith("LOAD") else stage, rel, name)
                    # hard links: the landing is read-only to the system
                    os.link(os.path.join(cache_dir, rel, name), dst)
                self.pending[rel] = [
                    os.path.join(stage, rel, n) for n in names if not n.startswith("LOAD")
                ]

    def remaining(self) -> int:
        return min(len(v) for v in self.pending.values())

    def reveal(self) -> list[str]:
        """Move the next CDC file of every table into the landing root;
        return the landed paths."""
        landed = []
        for rel, files in self.pending.items():
            src = files.pop(0)
            dst = os.path.join(self.root, rel, os.path.basename(src))
            os.rename(src, dst)
            landed.append(dst)
        return landed

    def files(self, rel: str) -> tuple[list[str], list[str]]:
        """(LOAD files, landed CDC files) of one table, in name order."""
        names = sorted(os.listdir(os.path.join(self.root, rel)))
        full = [os.path.join(self.root, rel, n) for n in names]
        return (
            [p for p, n in zip(full, names) if n.startswith("LOAD")],
            [p for p, n in zip(full, names) if n.startswith("2")],
        )
