"""CLI: controller passes plus table maintenance.

The reference's deploy is CloudFormation + a Glue trigger running the
controller hourly (/root/reference/README.md); the equivalent here is a
cron/Airflow/k8s schedule of:

    python -m aws_big_data_blog_dmscdc_walkthrough_spark \
        --landing s3a://bucket/dms/ --lake s3a://bucket/lake/ \
        --state /var/lib/dmscdc/state.json

(`run` is implied when the first argument is a flag — the original
single-command form keeps working.) New tables register inactive; set
primary/partition keys in the state file and flip ``active`` to true
(the reference's DynamoDB editing step, DMSCDC_Controller.py:69-82),
then the next pass loads them.

Maintenance subcommands (the operations a lake operator schedules
beside the hourly merge):

    ... sql     --lake <root> --query 'SELECT ... FROM schema.table'
                (registers every lake folder, runs the query — the
                reference README's Athena step, locally)
    ... compact --path <table> [--target-file-bytes N] [--cluster-by c]
                [--stats-cols c] [--zorder]
                (commits through the table's manifest; the partition
                layout comes from the table itself)
    ... vacuum  --path <table> [--retain-versions N] [--grace-seconds S]
                (data files, deletion vectors and change-feed files
                that no retained version lists)
    ... delete  --path <table> --col c --op '=' --value v   (merge-on-read
                position delete, no data files rewritten)
"""

from __future__ import annotations

import argparse
import json
import sys

from .pipeline import controller
from .session import get_spark
from .state.store import JsonStateStore


def _run(args) -> int:
    spark = get_spark("dmscdc-controller")
    report = controller.run_once(
        spark,
        args.landing,
        args.lake,
        JsonStateStore(args.state),
        max_parallel_tables=args.max_parallel_tables,
        register_catalog=not args.no_register,
    )
    out = [
        {
            "path": t.path,
            "skipped": t.skipped,
            "initial": t.did_initial,
            "incremental_files": t.incremental_files,
            "error": t.error,
        }
        for t in report.tables
    ]
    json.dump({"tables": out}, sys.stdout, indent=1)
    print()
    return 1 if any(t.error for t in report.tables) else 0


def _split(csv: str | None) -> list[str]:
    return [c for c in (csv or "").split(",") if c]


def _compact(args) -> int:
    from .sources import lake_writer

    spark = get_spark("dmscdc-compact")
    n = lake_writer.compact_table(
        spark,
        args.path,
        target_file_bytes=args.target_file_bytes,
        cluster_by=_split(args.cluster_by),
        stats_cols=_split(args.stats_cols),
        zorder=args.zorder,
    )
    json.dump({"path": args.path, "output_files": n}, sys.stdout, indent=1)
    print()
    return 0


def _sql(args) -> int:
    """The reference README's "Query the data lake" step (Athena there)
    as one command: register every <schema>/<table> folder under the
    lake root in the session catalog, run the query, print JSON rows."""
    from .sources import catalog, manifest

    spark = get_spark("dmscdc-sql")
    n_tables = 0
    for path, is_dir in manifest.glob_status(spark, args.lake, "*/*"):
        schema, table = path.rsplit("/", 2)[-2:]
        if is_dir and not any(n.startswith(("_", ".")) for n in (schema, table)):
            catalog.register_table(spark, path, schema, table)
            n_tables += 1
    rows = spark.sql(args.query).limit(args.limit).collect()
    json.dump(
        {
            "tables_registered": n_tables,
            "rows": [r.asDict(recursive=True) for r in rows],
        },
        sys.stdout,
        indent=1,
        default=str,
    )
    print()
    return 0


def _vacuum(args) -> int:
    from .sources import manifest

    spark = get_spark("dmscdc-vacuum")
    removed = manifest.vacuum(
        spark, args.path, retain_versions=args.retain_versions,
        grace_seconds=args.grace_seconds,
    )
    json.dump({"path": args.path, "removed": removed}, sys.stdout, indent=1)
    print()
    return 0


def _delete(args) -> int:
    from .sources import manifest

    spark = get_spark("dmscdc-delete")
    value: object = args.value
    for cast in (int, float):
        try:
            value = cast(args.value)
            break
        except ValueError:
            continue
    version = manifest.delete_where(spark, args.path, (args.col, args.op, value))
    json.dump({"path": args.path, "version": version}, sys.stdout, indent=1)
    print()
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # back-compat: the original flag-only invocation means `run`
    if argv and argv[0].startswith("--"):
        argv = ["run", *argv]

    ap = argparse.ArgumentParser(prog="dmscdc-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run_p = sub.add_parser("run", help="one controller pass")
    run_p.add_argument("--landing", required=True, help="landing-zone root (schema/table folders)")
    run_p.add_argument("--lake", required=True, help="lake output root")
    run_p.add_argument("--state", required=True, help="state-store JSON path")
    run_p.add_argument("--max-parallel-tables", type=int, default=4)
    run_p.add_argument("--no-register", action="store_true", help="skip catalog registration")
    run_p.set_defaults(fn=_run)

    c_p = sub.add_parser("compact", help="bin-pack a table's small files")
    c_p.add_argument("--path", required=True)
    c_p.add_argument("--target-file-bytes", type=int, default=128 * 1024 * 1024)
    c_p.add_argument("--cluster-by", default="")
    c_p.add_argument("--stats-cols", default="")
    c_p.add_argument(
        "--zorder",
        action="store_true",
        help="cluster on an interleaved Morton key over --cluster-by "
        "(multi-column file skipping)",
    )
    c_p.set_defaults(fn=_compact)

    s_p = sub.add_parser("sql", help="register lake tables and run a SQL query")
    s_p.add_argument("--lake", required=True, help="lake root (schema/table folders)")
    s_p.add_argument("--query", required=True)
    s_p.add_argument("--limit", type=int, default=100)
    s_p.set_defaults(fn=_sql)

    v_p = sub.add_parser("vacuum", help="reclaim unreferenced files")
    v_p.add_argument("--path", required=True)
    v_p.add_argument("--retain-versions", type=int, default=1)
    v_p.add_argument(
        "--grace-seconds",
        type=int,
        default=600,
        help="never delete unlisted files younger than this (in-flight "
        "commit protection); 0 disables",
    )
    v_p.set_defaults(fn=_vacuum)

    d_p = sub.add_parser("delete", help="merge-on-read position delete")
    d_p.add_argument("--path", required=True)
    d_p.add_argument("--col", required=True)
    d_p.add_argument("--op", required=True, choices=["=", "<", "<=", ">", ">="])
    d_p.add_argument("--value", required=True)
    d_p.set_defaults(fn=_delete)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
