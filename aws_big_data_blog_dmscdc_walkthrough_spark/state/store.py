"""Durable per-table pipeline state.

The reference keeps one DynamoDB item per table path
(/root/reference/DMSCDC_Controller.py:45-54) with PrimaryKey,
PartitionKey, LastFullLoadDate, LastIncrementalFile and ActiveFlag,
created inactive so a human reviews keys before the pipeline touches the
table. Same record shape here, behind a small interface; the default
backend is an atomically-rewritten JSON file (state is one tiny record
per table — thousands of tables fit in KBs; a JDBC/dynamo-style backend
can implement the same three methods).

The record holds operator intent (keys, ``active``, per-table options)
and the controller's ``catalog_pending`` flag. What a table consumed is
committed with its data, in its manifest's ``txn`` marks
(pipeline/controller.py); ``last_full_load_ts`` and
``last_incremental_file`` are read only to adopt a table whose manifest
records no mark, and the controller never writes them.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from dataclasses import asdict, dataclass, field


@dataclass
class TableState:
    path: str                      # <root>/<schema>/<table>
    schema: str = ""
    table: str = ""
    primary_key: str = ""          # comma-separated; "" = no change detection
    # comma-separated; "" = unpartitioned. Lays out the table's first
    # load and every full reload; merges keep the layout the manifest
    # records, so an edit takes effect at the next full load.
    partition_key: str = ""
    # adoption only: the marks of a lake written before they moved to
    # the manifest (epoch millis of the processed LOAD file; last CDC file)
    last_full_load_ts: int = 0
    last_incremental_file: str = ""
    active: bool = False           # reference: ActiveFlag gate
    schema_ddl: str = ""           # column DDL for headerless CSV landings
    catalog_pending: bool = False  # a pass began writing; not yet registered
    extra: dict = field(default_factory=dict)

    @property
    def primary_keys(self) -> list[str]:
        # strip: these values are HAND-EDITED in the state file, and a
        # natural "id, site" would otherwise yield a ' site' column
        # that fails resolution with an invisible leading space
        return [k.strip() for k in self.primary_key.split(",") if k.strip()]

    @property
    def partition_keys(self) -> list[str]:
        return [k.strip() for k in self.partition_key.split(",") if k.strip()]

    # --- per-table lake options, carried in `extra` so the record shape
    # stays DynamoDB-compatible (a flat item with an attribute map).
    # A human (or provisioning code) flips these in the state file the
    # same way the reference flips ActiveFlag. Keys no property reads
    # are ignored: every table commits through its manifest, so a
    # legacy manifest opt-in flag in `extra` is inert.

    @staticmethod
    def _flag(value) -> bool:
        """Parse a hand-edited flag: JSON bools pass through; the string
        forms a human (or a DynamoDB export) writes are parsed, so
        '"false"' actually disables — truthiness would silently enable
        it. Unrecognized strings raise rather than guess."""
        if isinstance(value, bool):
            return value
        if isinstance(value, str):
            low = value.strip().lower()
            if low in ("true", "1", "yes", "on"):
                return True
            if low in ("false", "0", "no", "off", ""):
                return False
            raise ValueError(f"unparseable boolean flag: {value!r}")
        return bool(value)

    @property
    def retain_history(self) -> bool:
        """Keep superseded files so earlier versions stay readable."""
        return self._flag(self.extra.get("retain_history", False))

    @property
    def change_feed(self) -> bool:
        """Commit each merge's collapsed changes with it, as that table
        version's change feed (``lake_writer.read_change_feed``)."""
        return self._flag(self.extra.get("change_feed", False))

    @property
    def stats_cols(self) -> list[str]:
        """DATA columns to record per-file min/max for (file skipping)."""
        v = self.extra.get("stats_cols", "")
        if isinstance(v, str):
            return [c.strip() for c in v.split(",") if c.strip()]
        return [str(c) for c in v]


class JsonStateStore:
    """{path: TableState} persisted as one JSON document, atomic rename.

    Thread-safe: the controller's table pool calls ``put`` concurrently
    (the reference gets per-item atomicity for free from DynamoDB,
    DMSCDC_Controller.py:94-100); here a single process-wide lock
    serializes mutation + snapshot + rename so a slow flush can never
    overwrite a newer table's record with a stale snapshot.
    """

    def __init__(self, file_path: str):
        self.file_path = file_path
        self._lock = threading.Lock()
        self._states: dict[str, TableState] = {}
        if os.path.exists(file_path):
            with open(file_path) as fh:
                raw = json.load(fh)
            self._states = {p: TableState(**rec) for p, rec in raw.items()}

    def get(self, path: str) -> TableState | None:
        with self._lock:
            return self._states.get(path)

    def get_or_create(self, path: str, **defaults) -> TableState:
        """Register-if-absent, like the reference's put_item on miss
        (DMSCDC_Controller.py:69-82): new tables land inactive."""
        with self._lock:
            if path not in self._states:
                self._states[path] = TableState(path=path, **defaults)
                self._flush()
            return self._states[path]

    def put(self, state: TableState) -> None:
        with self._lock:
            self._states[state.path] = state
            self._flush()

    def all(self) -> list[TableState]:
        with self._lock:
            return list(self._states.values())

    def _flush(self) -> None:
        """Write the current snapshot; caller must hold ``self._lock``."""
        payload = {p: asdict(s) for p, s in self._states.items()}
        directory = os.path.dirname(os.path.abspath(self.file_path))
        os.makedirs(directory, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=directory, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(payload, fh, indent=1, sort_keys=True)
            os.replace(tmp, self.file_path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
