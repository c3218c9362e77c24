"""Landing-zone discovery: the reference controller's S3 walk, re-done
against the Hadoop FileSystem API so the same code serves file://, s3a://
and hdfs:// URIs.

Layout (DMS convention, /root/reference/DMSCDC_Controller.py:29-43):

    <root>/<schema>/<table>/LOAD*.parquet      full-load files
    <root>/<schema>/<table>/2*.parquet         incremental CDC files
                                               (DMS names start with a
                                               timestamp, lexically
                                               ordered — LoadIncremental
                                               relies on that: line 41)

The reference reads parquet only (the blog's DMS endpoint sets
DataFormat=parquet), but DMS's *default* S3 target format is headerless
CSV where full-load files carry the table columns and CDC files prepend
an ``Op`` column (I/U/D). ``read_initial`` / ``read_incremental`` accept
both: format is detected per folder from file extensions, and CSV tables
supply their column DDL from the state store (DMS knows the source
schema; a file has none).

A parquet batch's schema comes from its files' footers, read on the
driver (``_read_parquet``): no schema-inference job runs, and a batch
whose files straddle a source ``ADD COLUMN`` reads every file's
columns, not only the first file's.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .manifest import _jclass, glob_status


@dataclass
class TableFolder:
    schema: str
    table: str
    path: str  # <root>/<schema>/<table>
    initial_files: list[str] = field(default_factory=list)
    incremental_files: list[str] = field(default_factory=list)  # lexical order

    @property
    def format(self) -> str:
        """"parquet", "csv", "json" or "orc", from the files' extension
        (DMS writes one format per endpoint, so per-folder detection is
        safe). ORC isn't a DMS target format, but mixed lakes land it
        from Hive/Trino producers and Spark reads it natively — same
        self-describing contract as parquet."""
        for f in self.initial_files + self.incremental_files:
            if f.endswith(".csv") or f.endswith(".csv.gz"):
                return "csv"
            if f.endswith(".json") or f.endswith(".jsonl") or f.endswith(".json.gz"):
                return "json"
            if f.endswith(".orc"):
                return "orc"
        return "parquet"


def _fs_and_path(spark: SparkSession, uri: str):
    path = _jclass(spark._jvm, "org.apache.hadoop.fs.Path")(uri)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def file_mtime(spark: SparkSession, uri: str) -> int:
    """Modification time (epoch millis) — the reference compares the S3
    LastModified of the LOAD file against stored state
    (DMSCDC_ProcessTable.py:106-113)."""
    fs, path = _fs_and_path(spark, uri)
    return fs.getFileStatus(path).getModificationTime()


def discover_tables(spark: SparkSession, root: str) -> list[TableFolder]:
    """Walk <root>/<schema>/<table>/ and classify each table's files.

    Two globs list the table folders and the entries inside them, at a
    cost that does not grow with the file count; a subfolder of a table
    folder (DMS ``DatePartitionEnabled``) is not a CDC file."""
    files: dict[str, list[str]] = {
        p: [] for p, is_dir in glob_status(spark, root, "*/*") if is_dir
    }
    for p, is_dir in glob_status(spark, root, "*/*/*"):
        parent = p.rsplit("/", 1)[0]
        if not is_dir and parent in files:  # a folder made between the globs waits
            files[parent].append(p)
    tables = []
    for table_dir in sorted(files, key=lambda p: p.rsplit("/", 2)[-2:]):
        schema, table = table_dir.rsplit("/", 2)[-2:]
        names = [(f, f.rsplit("/", 1)[-1]) for f in files[table_dir]]
        tables.append(
            TableFolder(
                schema=schema,
                table=table,
                path=table_dir,
                initial_files=[f for f, n in names if n.startswith("LOAD")],
                incremental_files=[f for f, n in names if n.startswith("2")],
            )
        )
    return tables


def new_incremental_files(
    folder: TableFolder, last_file: str, upto_file: str | None = None
) -> list[str]:
    """Files lexically after the last processed one (DMSCDC_LoadIncremental.py:41-45).

    ``upto_file`` (optional) is a GLOBAL cut barrier: only files at or
    lexically before it are eligible. DMS names CDC files by the time
    it WROTE the batch, so applying every table only up to the same
    name prefix yields a lake that is approximately point-in-time
    consistent at FILE granularity — table A's 12:07 batch never lands
    while table B's 12:05 batch is still pending. It is not a strict
    transactional AS-OF: file names reflect DMS's per-table batch
    flush, not commit LSN, so commits near the cut can land on
    opposite sides for different tables (the guarantee assumes file
    naming is monotone in commit time and roughly aligned across table
    folders — true for steady-state DMS, coarser under backlog).
    Files past the cut stay unconsumed (the mark does not advance past
    them) and apply idempotently on a later pass with a higher barrier.
    """
    files = [f for f in folder.incremental_files if f > last_file]
    if upto_file is not None:
        # compare by file NAME (the DMS commit-time stamp), not full
        # path, so one barrier string applies across every table folder
        files = [f for f in files if f.rsplit("/", 1)[-1] <= upto_file]
    return files


def _require_ddl(folder: TableFolder, schema_ddl: str) -> str:
    if not schema_ddl:
        raise ValueError(
            f"{folder.path}: CSV landing files need a column DDL in the "
            "table state (schema_ddl) — DMS CSV is headerless"
        )
    return schema_ddl


def _read_parquet(spark: SparkSession, files: list[str]) -> DataFrame:
    """Read parquet ``files`` with the schema their footers give.

    Every footer is read in one JVM call, in parallel, on the driver
    (Spark's ``readParquetFootersInParallel``); ``readSchema`` converts
    each with the session's parquet settings, as the inference job's
    task does, and merges them: columns in first-seen order, a column
    some files lack is nullable, a type change raises (the additive rule
    of ``cdc.evolved_schema``, which the commit then applies against the
    table). ``spark.read.parquet(*files)`` runs a job that reads one
    footer, so a column a source ``ADD COLUMN`` added mid-batch was lost.

    The paths cross py4j as one string split on the JVM (py4j sends a
    Python list one element per round trip), so the read costs the same
    round trips for one file as for a thousand."""
    jvm = spark._jvm
    fmt = _jclass(jvm, "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$.MODULE$")
    as_seq = _jclass(jvm, "scala.collection.immutable.ArraySeq.unsafeWrapArray")
    names = _jclass(jvm, "org.apache.hadoop.util.StringUtils.getStrings")("\n".join(files), "\n")
    paths = _jclass(jvm, "org.apache.hadoop.util.StringUtils.stringToPath")(names)
    conf = spark._jsc.hadoopConfiguration()
    statuses = paths[0].getFileSystem(conf).listStatus(paths)
    footers = fmt.readParquetFootersInParallel(conf, as_seq(statuses), False)
    schema = fmt.readSchema(footers, spark._jsparkSession).get()
    return DataFrame(spark.read._jreader.schema(schema).parquet(as_seq(names)), spark)


def read_initial(spark: SparkSession, folder: TableFolder, schema_ddl: str = ""):
    """Read a table's full-load files. Parquet: self-describing
    (DMSCDC_LoadInitial.py:28), schema from the files' footers
    (``_read_parquet``). CSV: headerless, columns from the stored
    DDL. JSON lines: field names in-band, but the stored DDL still fixes
    the TYPES (schema inference over text is neither stable nor cheap at
    scale). Full-load files carry NO Op column in any format."""
    if folder.format == "parquet":
        return _read_parquet(spark, folder.initial_files)
    if folder.format == "orc":
        return spark.read.orc(*folder.initial_files)
    if folder.format == "json":
        return spark.read.schema(_require_ddl(folder, schema_ddl)).json(
            folder.initial_files
        )
    return spark.read.schema(_require_ddl(folder, schema_ddl)).csv(
        folder.initial_files
    )


def read_incremental(
    spark: SparkSession, folder: TableFolder, files: list[str], schema_ddl: str = ""
):
    """Read CDC files (already filtered to the new ones). Parquet files
    carry an ``Op`` column (DMSCDC_LoadIncremental.py:47) and are read
    with the schema of all their footers (``_read_parquet``), so a batch
    that spans a source ``ADD COLUMN`` keeps the new column; DMS CSV CDC
    files prepend Op as the FIRST field before the table columns; JSON
    CDC records carry an ``Op`` field alongside the data fields."""
    if folder.format == "parquet":
        return _read_parquet(spark, files)
    if folder.format == "orc":
        return spark.read.orc(*files)
    if folder.format == "json":
        ddl = "Op STRING, " + _require_ddl(folder, schema_ddl)
        return spark.read.schema(ddl).json(files)
    ddl = "Op STRING, " + _require_ddl(folder, schema_ddl)
    return spark.read.schema(ddl).csv(files)
