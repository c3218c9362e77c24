"""Manifest-gated atomic commits: the one way a lake table commits.

Both the reference (coalesce(1) append, then boto3 deletes —
DMSCDC_LoadIncremental.py:68-87) and a plain file-level COW have a
crash window: a reader between the append and the delete sees old AND
new copies of the merged rows. Real table formats (Delta/Iceberg) close
it with a metadata pointer; this module is the minimal form of the same
idea:

  * ``_mmanifest.json`` in the table directory lists the LIVE data
    files (plus a monotonically increasing version);
  * readers (``read_table``) load exactly the listed files — orphan
    parquet files from an interrupted write are invisible;
  * writers stage new files with a normal parquet append, then commit
    the new file list with one atomic rename, then delete every listed
    file the new version does not reference (``delete_data_files``).
    A crash before the commit leaves the old version intact; either
    crash leaves only unlisted files, which the table's next commit
    deletes (``vacuum`` also removes them).

Every ``lake_writer`` write (initial load, append, copy-on-write merge,
merge-on-read, compaction) commits here. A table with no
manifest yet reads as a plain directory and is adopted by its first
write. A merge's change feed commits here too: its version lists the
feed files it wrote under ``_change_feed/version=N/`` (``feed_files``),
so a feed batch is a table version, and is retained as long as it.

Every commit also records the table schema (``schema_json``). Every
reader reads the listed files in it (``table_schema``, ``read_files``),
so no read infers a schema, and a file written before an additive
column reads that column as NULL.

A commit also carries its writers' progress marks (``txn``: app id →
the last version that app committed), so what a table has consumed
commits with the data that consumed it.

Partitioned tables commit through the same single manifest: ``files``
entries are paths RELATIVE to the table root (``dept=a/part-x.parquet``),
the manifest records the partition keys, and a partitioned merge appends
its rewritten files beside the live files then swaps ONE manifest
pointer — atomic across every touched partition. ``read_table`` prunes
by partition value (parsed from the path, typed against the probe) AND
by per-file min/max stats. Merge-on-read deletion vectors remain
partitioned too: DVs address files by their manifest-relative path
(= basename on unpartitioned tables, so pre-existing DVs stay valid).
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import posixpath
import re
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST_NAME = "_mmanifest.json"
DELETES_DIR = "_deletes"
CHANGE_FEED_DIR = "_change_feed"
DV_FILE_COL = "_dv_file"
DV_POS_COL = "_dv_pos"
DV_SCHEMA = f"{DV_FILE_COL} string, {DV_POS_COL} long"


@functools.lru_cache(maxsize=None)
def _jclass(jvm, name: str):
    """The JVM class (or static member) ``name``, resolved once per
    gateway: ``jvm.a.b.C`` costs one py4j round trip per dotted step,
    and every commit builds a dozen Hadoop paths."""
    return functools.reduce(getattr, name.split("."), jvm)


def _fs(spark: SparkSession, path: str):
    """(Hadoop ``Path`` class, the FileSystem serving ``path``)."""
    Path = _jclass(spark._jvm, "org.apache.hadoop.fs.Path")
    return Path, Path(path).getFileSystem(spark._jsc.hadoopConfiguration())


def _manifest_path(path: str) -> str:
    return path.rstrip("/") + "/" + MANIFEST_NAME


def delete_data_files(spark: SparkSession, path: str, names) -> None:
    """Delete table-relative data files, then the partition directories
    they leave empty: deepest first, each walked up at most its own
    depth so nested partition levels collapse but the table root is
    never touched. Shared by vacuum and lake_writer's commits."""
    Path, fs = _fs(spark, path)
    base = path.rstrip("/")
    for name in sorted(names):
        fs.delete(Path(f"{base}/{name}"), False)
    rel_dirs = {n.rsplit("/", 1)[0] for n in names if "/" in n}
    for rel in sorted(rel_dirs, key=lambda s: -s.count("/")):
        p = Path(f"{base}/{rel}")
        for _ in range(rel.count("/") + 1):
            if not (fs.exists(p) and len(fs.listStatus(p)) == 0):
                break
            fs.delete(p, False)
            p = p.getParent()


HISTORY_DIR = "_mmanifest_history"


class ConcurrentCommitError(RuntimeError):
    """A compare-and-swap commit lost the race: another writer
    committed the same next version first (or a crashed writer left
    its history entry behind — vacuum the orphan and retry)."""


def _history_path(path: str, version: int) -> str:
    return path.rstrip("/") + f"/{HISTORY_DIR}/v{version:012d}.json"


HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def relative_name(uri: str, levels: int) -> str:
    """The table-relative name the manifest lists for a data file that
    Spark reports as a URI (``input_file_name()``,
    ``_metadata.file_path``): its last ``levels + 1`` path segments
    (``levels`` partition directories, then the file), URI-decoded. The
    URI encodes the on-disk name once more — a space as ``%20``, the
    ``%`` of Spark's own partition escape as ``%25`` — so
    ``dept=50%2525/part-x.parquet`` names ``dept=50%25/part-x.parquet``,
    the directory Spark wrote for the value ``50%``."""
    return unquote("/".join(uri.split("/")[-(levels + 1):]))


def glob_status(spark: SparkSession, root: str, pattern: str) -> list[tuple[str, bool]]:
    """(path, is a directory) of every entry under ``root`` that the
    Hadoop glob ``pattern`` matches, sorted by path; ``pattern`` matches
    entries at one depth. ``listStatus`` of a file path lists the file
    itself, so one ``listStatus`` of every match tells the files from
    the directories, and the paths cross py4j as one string each way:
    the round trips do not grow with the entry count, as a per-entry
    ``isDirectory``/``getPath`` walk's do. (``FileStatus.toString``
    would carry the kind too, but on the local file system it loads
    permissions, a process per entry.)"""
    jvm = spark._jvm
    path = _jclass(jvm, "org.apache.hadoop.fs.Path")(
        re.sub(r"([\\*?\[\]{}])", r"\\\1", root.rstrip("/")) + "/" + pattern
    )
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    as_seq = _jclass(jvm, "scala.collection.immutable.ArraySeq.unsafeWrapArray")
    to_paths = _jclass(jvm, "org.apache.hadoop.fs.FileUtil.stat2Paths")
    found = to_paths(fs.globStatus(path))
    if found is None:  # a literal path that does not exist
        return []
    files = set(as_seq(to_paths(fs.listStatus(found))).mkString("\n").split("\n"))
    return sorted((p, p not in files) for p in as_seq(found).mkString("\n").split("\n") if p)


def list_data_files(
    spark: SparkSession, path: str, recursive: bool = False
) -> list[str]:
    """Paths of the table's parquet data files RELATIVE to the table
    root. Flat listing by default; ``recursive`` lists partition
    directories too, one ``glob_status`` per directory level (hidden
    ``_``/``.`` entries skipped at every level), so the py4j round trips
    grow with the table's depth, not its file count. A flat table yields
    identical output either way."""
    out: list[str] = []
    pattern = "[!._]*"
    while True:
        entries = glob_status(spark, path, pattern)
        depth = pattern.count("/") + 1
        out += [
            "/".join(p.split("/")[-depth:])
            for p, is_dir in entries
            if not is_dir and p.endswith(".parquet")
        ]
        if not (recursive and any(is_dir for _, is_dir in entries)):
            return sorted(out)
        pattern += "/[!._]*"


def read_manifest(spark: SparkSession, path: str) -> dict | None:
    Path, fs = _fs(spark, path)
    mp = Path(_manifest_path(path))
    if not fs.exists(mp):
        return None
    return _read_json(spark, fs, mp)


def _read_json(spark: SparkSession, fs, p) -> dict:
    stream = fs.open(p)
    try:
        # one round trip: py4j returns a byte[] as Python bytes
        data = _jclass(spark._jvm, "org.apache.commons.io.IOUtils").toByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(data).decode("utf-8"))


def _stat_encode(v):
    """JSON-encode a min/max bound with enough type info to compare
    later: ISO strings for temporals (ISO order == chronological order),
    raw numbers / strings otherwise."""
    if isinstance(v, _dt.datetime):
        return {"t": "ts", "v": v.isoformat(sep=" ")}
    if isinstance(v, _dt.date):
        return {"t": "ts", "v": v.isoformat()}
    return v


def _stat_value(encoded, probe):
    """Decode a bound into the comparison domain of ``probe``."""
    if isinstance(encoded, dict) and encoded.get("t") == "ts":
        return encoded["v"]
    return encoded


def _probe_value(v):
    return _stat_encode(v)["v"] if isinstance(v, (_dt.date, _dt.datetime)) else v


def _pad_temporal(s):
    """Within the TEMPORAL comparison domain only: a bare date
    ``YYYY-MM-DD`` compares as midnight, matching Spark's date→timestamp
    promotion — raw lexical order would sort the 10-char date BEFORE
    every same-day timestamp and wrongly prune matching files."""
    return s + " 00:00:00" if isinstance(s, str) and len(s) == 10 else s


def compute_file_stats(
    spark: SparkSession,
    path: str,
    files: list[str],
    cols: list[str],
    schema: StructType,
) -> dict[str, dict]:
    """Per-file min/max of ``cols`` — ONE distributed aggregation
    grouped on ``input_file_name()``, not a driver loop over footers, so
    stats collection costs a single scan however many files there are.
    Output rows are bounded by file count (small), so the collect is
    driver-safe. The scan is coalesced to one task per open cost of its
    estimate (``cdc._coalesce_to_open_cost``): files that fit in one
    task aggregate with no exchange, in one Spark job.

    ``schema`` is the committed table's schema: the files are read with
    its types for ``cols`` only, so no schema-inference job runs (a file
    written before a column was added reads it as NULL).

    ``files`` are the table-relative names the manifest lists, all at
    one depth (the table's partition levels); output keys are those
    names, decoded from each row's URI by :func:`relative_name`. A
    basename alone does not name a file: one write task gives its files
    the same basename in every partition directory it writes. ``cols``
    must be DATA columns — partition columns live in the path, not the
    files, and are pruned by partition value instead."""
    from ..operators import cdc as _cdc

    if not files or not cols:
        return {}
    levels = files[0].count("/")
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"_min_{c}"))
        aggs.append(F.max(c).alias(f"_max_{c}"))
    scan = read_files(spark, path, files, StructType([schema[c] for c in cols]))
    rows = (
        _cdc._coalesce_to_open_cost(scan)
        .groupBy(F.input_file_name().alias("_f"))
        .agg(*aggs)
        .collect()
    )
    out: dict[str, dict] = {}
    for r in rows:
        out[relative_name(r["_f"], levels)] = {
            c: {
                "min": _stat_encode(r[f"_min_{c}"]),
                "max": _stat_encode(r[f"_max_{c}"]),
            }
            for c in cols
        }
    return out


def stats_for_commit(
    spark: SparkSession,
    path: str,
    files: list[str],
    cols: list[str],
    prev: dict | None = None,
    *,
    schema: StructType,
) -> dict[str, dict] | None:
    """Stats map for a new commit: reuse the previous manifest's stats
    for files that are still live (data files are immutable once
    written), scan ONLY the newly added ones. Keeps per-commit stats
    cost proportional to the delta, not the table. ``schema`` is the
    commit's table schema (see :func:`compute_file_stats`)."""
    if not cols:
        return None
    prev_stats = (prev or {}).get("stats", {})
    have = {f: prev_stats[f] for f in files if f in prev_stats}
    missing = [f for f in files if f not in have]
    new = compute_file_stats(spark, path, missing, cols, schema) if missing else {}
    return {**have, **new}


def commit_manifest(
    spark: SparkSession,
    path: str,
    files: list[str],
    stats: dict[str, dict] | None = None,
    delete_files: list[str] | None = None,
    dv_targets: dict[str, list[str]] | None = None,
    schema_json: str | None = None,
    partition_keys: list[str] | None = None,
    properties: dict | None = None,
    expected_base_version: int | None = None,
    feed_files: list[str] | None = None,
    txn: tuple[str, object] | None = None,
) -> int:
    """Atomically publish the live-file list; returns the new version.

    ``expected_base_version`` turns the commit into a compare-and-swap
    (optimistic concurrency, the Delta-log pattern): the new version is
    pinned to ``expected_base_version + 1`` and the per-version history
    file is created with **overwrite=False**, so two writers that both
    read the same base race to create the SAME history path and exactly
    one create succeeds — the loser raises
    :class:`ConcurrentCommitError` before the LATEST pointer moves.
    This closes the check-then-commit window a pre-commit version
    re-read leaves open. No package writer passes it yet; ``None``
    keeps the last-writer-wins behavior every writer relies on today
    (one writer per table).

    ``partition_keys`` (recorded once, carried forward when ``None``)
    marks a partitioned table: ``files`` are then partition-relative
    paths and ``read_table`` prunes them by partition value.

    ``schema_json`` (``df.schema.json()``) is the table schema every
    reader of this version uses (:func:`table_schema`); it also keeps a
    committed-EMPTY version (all rows deleted) readable. ``None``
    carries the previous manifest's recorded schema forward.

    Write-to-temp + rename in the SAME directory — atomic on HDFS and
    POSIX; on S3-style stores swap this for a conditional PUT.
    ``stats`` (from compute_file_stats) rides along in the manifest and
    enables file skipping in ``read_table``.

    ``delete_files`` (position-delete files under ``_deletes/``):

      * ``None`` (default) **carries forward** the previous manifest's
        delete files — the Iceberg-v2 rule that position deletes stay in
        force until the data files they reference are rewritten. An
        append/merge/compaction that doesn't pass the argument can never
        silently resurrect DV-deleted rows. Carried entries whose target
        data files (per ``dv_targets``) ALL left the live set are pruned
        — their deletes were materialized by the rewrite.
      * ``[]`` explicitly clears every delete file (a full rewrite that
        materialized all deletes).
      * a list sets the delete set exactly (the merge-on-read writer,
        :func:`delete_where`, passes carried + newly staged names).

    ``dv_targets`` maps a delete-file basename to the data files its
    rows reference, named as ``files`` names them — recorded at
    DV-commit time, it is what makes carry-forward pruning possible.
    Unknown targets keep the DV forever (conservative; harmless because
    the anti-join matches nothing once the data files are gone).

    ``feed_files`` (change-feed files under ``_change_feed/``, relative
    to it) are this version's own change rows; unlike every other field
    they are never carried forward.

    ``txn`` = (app id, version) records a writer's progress in the
    commit itself (Delta's ``txn`` action): the manifest's ``txn`` map
    (app id → last committed version) is carried forward with this
    entry merged in, so a writer that replays a version it already
    committed can tell (``lake_writer``'s writers return without
    writing).
    """
    prev = read_manifest(spark, path)
    if expected_base_version is not None:
        prev_version = prev["version"] if prev else 0
        if prev_version != expected_base_version:
            raise ConcurrentCommitError(
                f"manifest at {path} advanced to v{prev_version} while "
                f"this writer worked from v{expected_base_version} — "
                "re-read the table state and retry"
            )
        version = expected_base_version + 1
    else:
        version = (prev["version"] + 1) if prev else 1
    prev_targets = (prev or {}).get("dv_targets") or {}
    if delete_files is None:
        live = set(files)
        carried = (prev or {}).get("delete_files") or []
        delete_files = [
            d
            for d in carried
            if not prev_targets.get(d) or any(t in live for t in prev_targets[d])
        ]
    targets_doc = {
        d: sorted({**prev_targets, **(dv_targets or {})}.get(d, []))
        for d in delete_files
        if {**prev_targets, **(dv_targets or {})}.get(d)
    }
    doc = {"version": version, "files": sorted(files)}
    schema_json = schema_json or (prev or {}).get("schema")
    if schema_json:
        doc["schema"] = schema_json
    if partition_keys is None:
        partition_keys = (prev or {}).get("partition_keys")
    if partition_keys:
        doc["partition_keys"] = list(partition_keys)
    # table properties (e.g. the SCD2 history's bucket_partitions count):
    # recorded once, carried forward when None — same contract as
    # partition_keys, so layout invariants survive commits that don't
    # know about them
    if properties is None:
        properties = (prev or {}).get("properties")
    if properties:
        doc["properties"] = dict(properties)
    if stats:
        doc["stats"] = stats
    if delete_files:
        doc["delete_files"] = sorted(delete_files)
    if targets_doc:
        doc["dv_targets"] = targets_doc
    if feed_files:
        doc["feed_files"] = sorted(feed_files)
    marks = dict((prev or {}).get("txn") or {})
    if txn is not None:
        marks[txn[0]] = txn[1]
    if marks:
        doc["txn"] = marks
    payload = json.dumps(doc, sort_keys=True).encode("utf-8")
    Path, fs = _fs(spark, path)
    tmp = Path(
        path.rstrip("/") + f"/._mmanifest.v{version}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(payload)
    finally:
        out.close()
    # durable per-version copy first (enables time travel), then the
    # LATEST pointer swap — the rename is still the commit point.
    # Under expected_base_version the history create is ALSO the CAS
    # point: overwrite=False makes two same-base writers collide on
    # this one path, and Hadoop create(path, false) raises for the
    # loser before its LATEST rename can clobber the winner's.
    hist = Path(_history_path(path, version))
    fs.mkdirs(hist.getParent())
    try:
        hout = fs.create(hist, expected_base_version is None)
    except Exception as exc:  # py4j surfaces FileAlreadyExists here
        if expected_base_version is not None:
            raise ConcurrentCommitError(
                f"lost the commit race for v{version} at {path}: "
                f"another writer (or a crashed one's orphan history "
                f"entry) holds {_history_path(path, version)} — retry "
                f"from a fresh read_manifest ({exc.__class__.__name__})"
            ) from exc
        raise
    try:
        hout.write(payload)
    finally:
        hout.close()
    dst = Path(_manifest_path(path))
    # ATOMIC pointer swap: FileContext.rename with OVERWRITE replaces
    # the manifest in one metadata op — delete-then-rename would open a
    # window with NO manifest at all, during which a concurrent reader
    # falls back to the raw directory (duplicates + resurrected DV
    # deletes) and a crash makes that state stick. Plain FileSystem
    # rename refuses to clobber, hence FileContext.
    fctx = _jclass(spark._jvm, "org.apache.hadoop.fs.FileContext").getFileContext(
        dst.toUri(), spark._jsc.hadoopConfiguration()
    )
    rename = _jclass(spark._jvm, "org.apache.hadoop.fs.Options.Rename")
    renames = spark.sparkContext._gateway.new_array(rename, 1)
    renames[0] = rename.OVERWRITE
    fctx.rename(tmp, dst, renames)
    return version


def list_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed versions with a retained history entry, ascending."""
    entries = glob_status(spark, path.rstrip("/") + "/" + HISTORY_DIR, "v*.json")
    return sorted(int(p.rsplit("/v", 1)[1][:-5]) for p, _ in entries)


def read_version(spark: SparkSession, path: str, version: int) -> dict:
    """The manifest committed as ``version``, from its history entry."""
    uri = _history_path(path, version)
    Path, fs = _fs(spark, uri)
    return _read_json(spark, fs, Path(uri))


def _file_may_match(fstats: dict | None, col: str, op: str, value) -> bool:
    """Conservative skip decision from a file's [min, max] for ``col``.

    True (keep the file) unless the stats PROVE no row can satisfy the
    predicate. Missing stats or None bounds keep the file. Rows with
    NULL in ``col`` never satisfy a comparison predicate, so a file
    whose non-null range excludes it is safe to skip even if it also
    holds nulls (min/max ignore nulls).
    """
    if not fstats or col not in fstats:
        return True
    lo_e, hi_e = fstats[col].get("min"), fstats[col].get("max")
    if lo_e is None or hi_e is None:
        return True
    probe = _probe_value(value)
    lo, hi = _stat_value(lo_e, probe), _stat_value(hi_e, probe)
    temporal = isinstance(value, (_dt.date, _dt.datetime)) or (
        isinstance(lo_e, dict) and lo_e.get("t") == "ts"
    )
    if temporal:  # mixed date/timestamp bounds normalize to one domain
        probe, lo, hi = _pad_temporal(probe), _pad_temporal(lo), _pad_temporal(hi)
    if op == "=":
        return lo <= probe <= hi
    if op == ">":
        return hi > probe
    if op == ">=":
        return hi >= probe
    if op == "<":
        return lo < probe
    if op == "<=":
        return lo <= probe
    raise ValueError(f"unsupported prune op {op!r}")


def _partition_values(relpath: str) -> dict[str, str | None]:
    """Hive partition values parsed from a partition-relative file path
    (``dept=a%20b/part-x.parquet`` → ``{"dept": "a b"}``); the
    ``__HIVE_DEFAULT_PARTITION__`` sentinel decodes to None."""
    out: dict[str, str | None] = {}
    for seg in relpath.split("/")[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = None if v == HIVE_NULL_PART else unquote(v)
    return out


def _partition_may_match(relpath: str, col: str, op: str, value) -> bool:
    """Conservative partition-value prune from the file's path alone.

    The path value is a string; it is coerced into the probe's domain
    (int/float/bool parse, temporal padding) before comparing — a raw
    lexical compare would mis-order numerics (``"10" < "9"``). Coercion
    failure or an absent key keeps the file. A NULL partition value
    (``__HIVE_DEFAULT_PARTITION__``) satisfies no comparison predicate,
    so those files prune away — ``_apply_predicate`` would drop every
    row anyway."""
    vals = _partition_values(relpath)
    if col not in vals:
        return True
    s = vals[col]
    if s is None:
        return False
    probe = _probe_value(value)
    try:
        if isinstance(value, bool):
            pv = s.lower() in ("true", "1")
        elif isinstance(value, int):
            pv = int(s)
        elif isinstance(value, float):
            pv = float(s)
        elif isinstance(value, (_dt.date, _dt.datetime)):
            pv, probe = _pad_temporal(s), _pad_temporal(probe)
        else:
            pv = s
    except ValueError:
        return True
    if op == "=":
        return pv == probe
    if op == ">":
        return pv > probe
    if op == ">=":
        return pv >= probe
    if op == "<":
        return pv < probe
    if op == "<=":
        return pv <= probe
    raise ValueError(f"unsupported prune op {op!r}")


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicate: tuple[str, str, object] | None = None,
) -> DataFrame:
    """Manifest-aware read: exactly the committed files, orphans invisible.

    ``version`` time-travels to an earlier commit (valid while its data
    files haven't been vacuumed). Falls back to a plain directory read
    when the table has no manifest.

    ``predicate`` = (col, op, value) with op in {=, <, <=, >, >=} both
    PRUNES files whose manifest min/max stats prove they can't match —
    the planner never even opens them, the metadata-level skipping that
    makes selective scans at 100 TB cheap — and applies the same filter
    to the surviving rows, so results are identical with or without
    stats. On a partitioned table a predicate on a partition key prunes
    by the partition value parsed from each file's path (typed compare),
    and data-column stats prune within the surviving partitions.
    """
    if version is not None:
        man = read_version(spark, path, version)
    else:
        man = read_manifest(spark, path)
    if man is None:
        df = spark.read.schema(table_schema(spark, path, None)).parquet(path)
        return _apply_predicate(df, predicate)
    names = list(man["files"])
    part_keys = man.get("partition_keys") or []
    if predicate is not None:
        stats = man.get("stats", {})
        col, op, value = predicate
        if col in part_keys:
            names = [n for n in names if _partition_may_match(n, col, op, value)]
        else:
            names = [
                n for n in names if _file_may_match(stats.get(n), col, op, value)
            ]
    if not names:  # a committed-empty version: the recorded schema, no rows
        empty = spark.createDataFrame([], table_schema(spark, path, man))
        return _apply_predicate(empty, predicate)
    df = read_files(spark, path, names, table_schema(spark, path, man))
    dv = read_deletion_vectors(spark, path, man)
    if dv is not None:
        df = apply_deletion_vectors(df, dv, len(part_keys))
    return _apply_predicate(df, predicate)


def table_schema(spark: SparkSession, path: str, man: dict | None) -> StructType:
    """The table schema: the one the manifest ``man`` records. Only a
    plain directory that no commit has adopted yet (``man`` None), or a
    manifest committed without a schema, has it inferred, from the
    merged footers of its files."""
    if man and man.get("schema"):
        return StructType.fromJson(json.loads(man["schema"]))
    return spark.read.option("mergeSchema", "true").parquet(path).schema


def read_files(
    spark: SparkSession, path: str, files: list[str], schema: StructType
) -> DataFrame:
    """The table-relative ``files`` read in the table ``schema``: no
    schema-inference job runs, and a file written before an additive
    column reads it as NULL. ``basePath`` keeps partition columns, typed
    by ``schema``, in the projection of an explicit file list."""
    base = path.rstrip("/")
    return (
        spark.read.schema(schema)
        .option("basePath", base)
        .parquet(*[posixpath.join(base, f) for f in files])
    )


def partition_keys(
    spark: SparkSession, path: str, man: dict | None, files: list[str] | None = None
) -> list[str]:
    """The table's partition keys: the ones the manifest records, or for
    a plain directory with no manifest, the ``k=v`` directory levels its
    first data file sits under (from ``files``, the table's listing,
    when the caller already holds it)."""
    if man is not None:
        return list(man.get("partition_keys") or [])
    if files is None:
        files = list_data_files(spark, path, recursive=True)
    return list(_partition_values(files[0])) if files else []


def read_deletion_vectors(
    spark: SparkSession, path: str, man: dict
) -> DataFrame | None:
    """The manifest version's merged deletion vector: one
    (manifest-relative data-file path, row position) row per superseded
    data row, read in the vectors' fixed schema, so building a read runs
    no schema-inference job. None when the version carries no delete
    files."""
    dv_names = man.get("delete_files") or []
    if not dv_names:
        return None
    base = path.rstrip("/") + "/" + DELETES_DIR
    return spark.read.schema(DV_SCHEMA).parquet(
        *[posixpath.join(base, f) for f in dv_names]
    ).distinct()


def read_table_with_positions(spark: SparkSession, path: str) -> DataFrame:
    """Live rows plus their physical address: ``_dv_file`` (data-file
    basename) and ``_dv_pos`` (row ordinal in that file). The address
    columns are what a merge-on-read writer turns into new deletion
    vectors; regular readers use ``read_table`` which drops them."""
    man = read_manifest(spark, path)
    if man is None:
        raise ValueError(f"{path} has no manifest; positions need committed files")
    part_keys = man.get("partition_keys") or []
    if not man["files"]:
        # mirror read_table's empty fallback (plus the address columns)
        # instead of returning None against the -> DataFrame contract;
        # _tag_positions needs _metadata, absent on a local empty frame,
        # so the address columns are typed NULL literals here
        empty = spark.createDataFrame([], table_schema(spark, path, man))
        return empty.withColumn(
            DV_FILE_COL, F.lit(None).cast("string")
        ).withColumn(DV_POS_COL, F.lit(None).cast("long"))
    df = read_files(spark, path, man["files"], table_schema(spark, path, man))
    tagged = _tag_positions(df, len(part_keys))
    dv = read_deletion_vectors(spark, path, man)
    if dv is not None:
        from ..operators import cdc as _cdc

        dv = _cdc._maybe_broadcast(dv)
        tagged = tagged.join(dv, [DV_FILE_COL, DV_POS_COL], "left_anti")
    return tagged


def _tag_positions(df: DataFrame, levels: int = 0) -> DataFrame:
    """Address rows as (manifest-relative file path, row ordinal).

    ``levels`` = number of partition directory levels: the address is
    the last ``levels + 1`` path segments, which is exactly the
    manifest's partition-relative file entry — and plain basename for
    unpartitioned tables (levels=0), so pre-existing DVs keep matching.
    """
    n = levels + 1
    parts = F.split(F.col("_metadata.file_path"), "/")
    return df.withColumn(
        DV_FILE_COL, F.concat_ws("/", F.slice(parts, -n, n))
    ).withColumn(DV_POS_COL, F.col("_metadata.row_index"))


def delete_where(
    spark: SparkSession, path: str, predicate: tuple[str, str, object]
) -> int:
    """Merge-on-read delete: stage a position-delete file, commit it.

    The Iceberg-v2 position-delete shape, minimal form: rows matching
    ``predicate`` = (col, op, value) are addressed by (data-file
    basename, row ordinal) — no data file is rewritten. ``read_table``
    anti-joins the committed delete files on every read; a later
    compaction or COW merge of the referenced data files materializes
    the deletes and the carry-forward pruning in ``commit_manifest``
    retires the delete file. Returns the new manifest version (or the
    current one unchanged when nothing matched).

    Cost model at scale: one column-pruned scan to find matches (file
    skipping applies via the manifest stats), a delete-file write
    bounded by matched-row count, zero data-file rewrites — the cheap
    path for low-selectivity deletes that copy-on-write would amplify
    into full-file rewrites.
    """
    man = read_manifest(spark, path)
    if man is None:
        raise ValueError(f"{path} has no manifest; merge-on-read needs commits")
    matches = _apply_predicate(read_table_with_positions(spark, path), predicate)
    added, targets = stage_deletion_vectors(spark, path, matches)
    if not added:
        return man["version"]
    carried = man.get("delete_files") or []
    return commit_manifest(
        spark,
        path,
        man["files"],
        stats=man.get("stats"),
        delete_files=carried + added,
        dv_targets=targets,
    )


def stage_deletion_vectors(
    spark: SparkSession, path: str, addressed: DataFrame
) -> tuple[list[str], dict[str, list[str]]]:
    """Write ``addressed`` rows' (data-file basename, row position) as
    new position-delete files under ``_deletes/`` and return (new DV
    basenames, DV→referenced-data-file targets map, in manifest names).
    Staging only — the caller commits.

    One evaluation of ``addressed`` total: the frame is persisted, the
    referenced data files collect from the cache (bounded by live file
    count), and the write coalesces to a file count sized by matched
    rows — a micro-batch CDC merge stages ONE small DV file instead of
    one per shuffle partition (which tripled the per-batch wall at
    bench scale). A zero-match frame stages nothing."""
    dv_dir = path.rstrip("/") + "/" + DELETES_DIR
    addressed = addressed.select(DV_FILE_COL, DV_POS_COL).persist()
    try:
        n = addressed.count()
        if n == 0:
            return [], {}
        # the addresses are URI tails (``_tag_positions``); the targets
        # name the files as the manifest lists them, so that the
        # carry-forward in ``commit_manifest`` finds them live
        target_files = sorted(
            relative_name(r[0], r[0].count("/"))
            for r in addressed.select(DV_FILE_COL).distinct().collect()
        )
        before = set(list_data_files(spark, dv_dir))
        # ~10M addresses (~100 MB) per DV part; micro-batches get 1 file
        addressed.coalesce(max(1, min(64, n // 10_000_000 + 1))).write.mode(
            "append"
        ).parquet(dv_dir)
        added = [f for f in list_data_files(spark, dv_dir) if f not in before]
        return added, {f: target_files for f in added}
    finally:
        addressed.unpersist()


def apply_deletion_vectors(df: DataFrame, dv: DataFrame, levels: int = 0) -> DataFrame:
    """Merge-on-read: drop rows whose (file, position) is deleted.

    ``_metadata.row_index`` is the row's ordinal within its parquet
    file — stable for immutable data files, which is what makes
    positional deletes exact (Iceberg v2's position-delete design).
    The DV side is NORMALLY bounded by rows changed since the last
    materialization — small next to the table — so it broadcasts and
    the anti-join is map-side. The broadcast is size-guarded
    (cdc._maybe_broadcast): a long run of low-selectivity delete_where
    calls before any compaction can accumulate a DV set too big for
    the driver, and that case degrades to a shuffled anti-join.
    """
    from ..operators import cdc as _cdc

    dv = _cdc._maybe_broadcast(dv)
    return _tag_positions(df, levels).join(
        dv, [DV_FILE_COL, DV_POS_COL], "left_anti"
    ).drop(DV_FILE_COL, DV_POS_COL)


_OPS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def _apply_predicate(df: DataFrame, predicate) -> DataFrame:
    if predicate is None:
        return df
    col, op, value = predicate
    return df.where(_OPS[op](F.col(col), F.lit(value)))


def vacuum(
    spark: SparkSession,
    path: str,
    retain_versions: int = 1,
    grace_seconds: int = 600,
) -> list[str]:
    """Delete data files not referenced by the newest ``retain_versions``
    commits, plus the expired history entries (orphans of interrupted
    writes are unlisted everywhere, so they always go). Returns the
    data-file basenames removed.

    The change feed is retained with the versions: every
    ``_change_feed/`` directory in which no retained version lists a
    feed file goes whole (an expired version's, a crashed attempt's, a
    legacy ``batch=N`` one).

    ``grace_seconds`` (Delta/Iceberg-style retention threshold): files
    YOUNGER than this are never deleted even when unlisted — they may
    be the staged output of an in-flight merge that has appended its
    parquet but not yet committed its manifest; deleting them would
    corrupt that commit. ``0`` disables the guard (tests / known-idle
    tables)."""
    import time as _time
    man = read_manifest(spark, path)
    if man is None:
        return []
    versions = list_versions(spark, path)
    kept = versions[-max(retain_versions, 1):]
    keep = set(kept) | {man["version"]}
    # a retained version whose entry cannot be read fails the vacuum:
    # skipping it would delete the files it lists
    docs = [man, *(read_version(spark, path, v) for v in kept)]
    live = {f for d in docs for f in d["files"]}
    live_dv = {f for d in docs for f in d.get("delete_files") or []}
    live_feed = {f for d in docs for f in d.get("feed_files") or []}
    Path, fs = _fs(spark, path)
    now_ms = int(_time.time() * 1000)

    def _old_enough(p) -> bool:
        if grace_seconds <= 0:
            return True
        return now_ms - fs.getFileStatus(p).getModificationTime() >= grace_seconds * 1000

    base = path.rstrip("/")
    removed = [
        name
        for name in list_data_files(spark, path, recursive=True)
        if name not in live
        and _old_enough(Path(f"{base}/{name}"))
    ]
    delete_data_files(spark, path, removed)
    dv_base = path.rstrip("/") + "/" + DELETES_DIR
    for name in list_data_files(spark, dv_base):
        if name not in live_dv:
            target = Path(dv_base + "/" + name)
            if _old_enough(target):
                fs.delete(target, False)
                removed.append(DELETES_DIR + "/" + name)
    feed_dirs = {f.split("/", 1)[0] for f in live_feed}
    for p, _ in glob_status(spark, f"{base}/{CHANGE_FEED_DIR}", "*"):
        name = p.rsplit("/", 1)[1]
        if name not in feed_dirs and _old_enough(Path(p)):
            fs.delete(Path(p), True)
            removed.append(f"{CHANGE_FEED_DIR}/{name}")
    for v in versions:
        if v not in keep:
            fs.delete(Path(_history_path(path, v)), False)
    return removed

