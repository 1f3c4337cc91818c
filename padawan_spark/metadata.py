"""Partition-manifest persistence.

Mirrors the reference's sidecar manifest
(``/root/reference/src/padawan/metadata.py:6-34``,
``/root/reference/src/padawan/dataset.py:394-429``): a JSON file
recording ``index_columns``, the ordered parquet ``files``, per-file
``sizes``, lexicographic ``lower_bounds`` / ``upper_bounds``, and a
monotone ``max_partition_index`` so appends never reuse a slot.  Bound
values that JSON can't represent use the same tagged codec as the
reference (``json_io.py:13-41``): ``{"$datetime": iso}``,
``{"$date": iso}``, ``{"$timedelta": "NdNsNu"}``, plus
``{"$decimal": str}`` so a DECIMAL index keeps its exact values and a
``"$fold": 1`` beside ``$datetime`` so a local time that a DST fall-back
repeats keeps its instant.

Differences from the reference, by design:

- The schema sidecar is a JSON-serialized Spark ``StructType`` instead of
  an empty parquet file — self-describing parquet makes the sidecar purely
  informational in Spark.
- At 100 TB / millions of files a single JSON manifest is the wrong shape;
  the scale form is the manifest TABLE (:func:`write_manifest_table`,
  one row per file, typed bound columns), which
  :func:`read_manifest_table` prunes on the driver with pyarrow; only
  this module knows its layout.  Per-file sizes and bounds come from
  :mod:`padawan_spark.dataset`: from the data files' parquet footers on
  the driver, or from a distributed stats job that returns one row per
  file, never the data.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import functools
import json
import operator
import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql.types import TimestampType

from .ordering import instant, spark_order

METADATA_FILE = "_padawan_metadata.json"
SCHEMA_FILE = "_padawan_schema.json"
VERSIONS_DIR = "_padawan_versions"
LOCK_FILE = "_padawan_append.lock"


class CommitConflictError(RuntimeError):
    """Another writer holds the manifest commit lock for this path."""


@contextlib.contextmanager
def _file_commit_lock(path: str, purpose: str):
    """Default commit-serialization primitive: an ``O_EXCL`` lock file.

    Advisory and SAME-FILESYSTEM only — on an object store two writers
    can still race, which is why the whole critical section is behind
    :func:`set_commit_lock`: production deployments inject a
    conditional-put / commit-service implementation (the mechanism the
    lakehouse table formats standardize) without touching any caller.
    """
    lock = os.path.join(path, LOCK_FILE)
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent {purpose} in progress at {path} (stale lock? "
            f"remove {lock})") from None
    os.write(fd, f"{os.getpid()} {purpose}".encode())
    os.close(fd)
    try:
        yield
    finally:
        os.unlink(lock)


_COMMIT_LOCK = _file_commit_lock


def set_commit_lock(factory) -> None:
    """Inject the manifest-commit serialization primitive.

    ``factory(path, purpose)`` must return a context manager; entering
    it acquires exclusive commit rights on ``path`` (raising
    :class:`CommitConflictError` — loudly — when another writer holds
    them) and exiting releases.  Every manifest read-modify-write in the
    engine (append, compaction, vacuum) runs inside one acquisition, so
    swapping in an object-store conditional-put or a commit service is
    this one call.  Pass ``None`` to restore the default file lock.
    """
    global _COMMIT_LOCK
    _COMMIT_LOCK = factory if factory is not None else _file_commit_lock


def commit_lock(path: str, purpose: str):
    """The injected commit-lock context manager for ``path`` (see
    :func:`set_commit_lock`)."""
    return _COMMIT_LOCK(path, purpose)

_TIMEDELTA_RE = re.compile(r"^(-?\d+)d(-?\d+)s(-?\d+)u$")


def _encode_value(v):
    if isinstance(v, dt.datetime):
        return {"$datetime": v.isoformat(), **({"$fold": 1} if v.fold else {})}
    if isinstance(v, dt.date):
        return {"$date": v.isoformat()}
    if isinstance(v, dt.timedelta):
        return {"$timedelta": f"{v.days}d{v.seconds}s{v.microseconds}u"}
    if isinstance(v, decimal.Decimal):
        return {"$decimal": str(v)}
    return v


def _decode_value(v):
    if isinstance(v, dict):
        if "$datetime" in v:
            return dt.datetime.fromisoformat(v["$datetime"]).replace(
                fold=v.get("$fold", 0))
        if "$date" in v:
            return dt.date.fromisoformat(v["$date"])
        if "$timedelta" in v:
            m = _TIMEDELTA_RE.match(v["$timedelta"])
            if not m:
                raise ValueError(f"bad timedelta encoding: {v}")
            d, s, u = (int(g) for g in m.groups())
            return dt.timedelta(days=d, seconds=s, microseconds=u)
        if "$decimal" in v:
            return decimal.Decimal(v["$decimal"])
    return v


def encode_bounds(bounds):
    if bounds is None:
        return None
    return [[_encode_value(v) for v in b] for b in bounds]


def decode_bounds(bounds):
    if bounds is None:
        return None
    return [tuple(_decode_value(v) for v in b) for b in bounds]


@dataclass
class Manifest:
    index_columns: tuple[str, ...] = ()
    files: list[str] = field(default_factory=list)
    sizes: list[int] | None = None
    lower_bounds: list[tuple] | None = None
    upper_bounds: list[tuple] | None = None
    max_partition_index: int = -1
    schema_json: str | None = None

    @property
    def known_sizes(self) -> bool:
        return self.sizes is not None

    @property
    def known_bounds(self) -> bool:
        return self.lower_bounds is not None and self.upper_bounds is not None

    @property
    def schema(self):
        """The recorded Spark ``StructType``, or ``None`` when the
        manifest records no schema."""
        if not self.schema_json:
            return None
        from pyspark.sql.types import StructType
        return StructType.fromJson(json.loads(self.schema_json))


def manifest_path(path: str) -> str:
    return os.path.join(path, METADATA_FILE)


def _versions_dir(path: str) -> str:
    return os.path.join(path, VERSIONS_DIR)


def table_id(path: str) -> str | None:
    """Stable identity of this table INSTANCE: minted when the version
    history is first created, destroyed (with the whole directory) by an
    overwrite.  Lets change-data-feed consumers distinguish "same table,
    more versions" from "a different table that reused the path" even
    when the version counters happen to line up.  ``None`` for datasets
    written before identity stamping existed."""
    p = os.path.join(_versions_dir(path), "_table_id")
    try:
        with open(p) as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def _ensure_table_id(path: str) -> str:
    tid = table_id(path)
    if tid is not None:
        return tid
    import uuid
    tid = uuid.uuid4().hex
    os.makedirs(_versions_dir(path), exist_ok=True)
    tmp = os.path.join(_versions_dir(path), "_table_id.tmp")
    with open(tmp, "w") as f:
        f.write(tid)
    os.replace(tmp, os.path.join(_versions_dir(path), "_table_id"))
    return tid


def list_versions(path: str) -> list[int]:
    """Snapshot versions recorded at ``path``, ascending (empty when the
    dataset predates versioning or was never written through us)."""
    d = _versions_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        m = re.match(r"^v(\d+)\.json$", f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def version_at(path: str, ts) -> int:
    """Largest snapshot version committed at or before ``ts`` (a
    ``datetime`` or unix seconds) — timestamp time travel, resolved
    against the archived snapshot files' commit mtimes (the same
    source of truth Delta's ``timestampAsOf`` reads from its log)."""
    import datetime as _dt
    if isinstance(ts, _dt.datetime):
        ts = ts.timestamp()
    vs = list_versions(path)
    best = None
    for v in vs:
        m = os.path.getmtime(os.path.join(_versions_dir(path), f"v{v}.json"))
        if m <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no snapshot at {path} committed at or before {ts} "
            f"(versions: {vs})")
    return best


def _read_schema(path: str) -> str | None:
    """The current schema sidecar's JSON, or ``None`` when there is none."""
    sp = os.path.join(path, SCHEMA_FILE)
    if not os.path.exists(sp):
        return None
    with open(sp) as f:
        return f.read()


def load_manifest(path: str, version: int | None = None) -> Manifest:
    """Load the current manifest, or a pinned SNAPSHOT when ``version``
    is given (time travel: append-only writes retain every file, so any
    archived manifest still describes readable data)."""
    src = manifest_path(path)
    if version is not None:
        src = os.path.join(_versions_dir(path), f"v{version}.json")
        if not os.path.exists(src):
            raise FileNotFoundError(
                f"no snapshot v{version} at {path}; have {list_versions(path)}")
    with open(src) as f:
        raw = json.load(f)
    return Manifest(
        index_columns=tuple(raw["index_columns"]),
        files=list(raw["files"]),
        sizes=list(raw["sizes"]) if raw.get("sizes") is not None else None,
        lower_bounds=decode_bounds(raw.get("lower_bounds")),
        upper_bounds=decode_bounds(raw.get("upper_bounds")),
        max_partition_index=raw.get("max_partition_index", len(raw["files"]) - 1),
        # a snapshot embeds its schema; the current one is the sidecar
        schema_json=(raw.get("schema_json") if version is not None
                     else _read_schema(path)),
    )


def write_manifest(path: str, manifest: Manifest) -> None:
    raw = {
        "index_columns": list(manifest.index_columns),
        "files": manifest.files,
        "sizes": manifest.sizes,
        "lower_bounds": encode_bounds(manifest.lower_bounds),
        "upper_bounds": encode_bounds(manifest.upper_bounds),
        "max_partition_index": manifest.max_partition_index,
    }
    # atomic publish: write a temp file and rename over the manifest, so
    # a crash mid-write can never leave a truncated manifest behind (the
    # old one stays valid until the rename commits — rename is the commit
    # primitive every file-based table format relies on)
    tmp = manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(raw, f)
    os.replace(tmp, manifest_path(path))
    if manifest.schema_json is not None:
        stmp = os.path.join(path, SCHEMA_FILE) + ".tmp"
        with open(stmp, "w") as f:
            f.write(manifest.schema_json)
        os.replace(stmp, os.path.join(path, SCHEMA_FILE))
    # snapshot the manifest as the next version: append-only writes never
    # delete data files, so every archived manifest remains a readable
    # point-in-time view (reproducibility pins for training runs; the
    # lakehouse time-travel idea at manifest granularity).  Overwrite
    # wipes the directory first, so history restarts with the table.
    vs = list_versions(path)
    k = (vs[-1] if vs else 0) + 1
    os.makedirs(_versions_dir(path), exist_ok=True)
    _ensure_table_id(path)
    vraw = dict(raw)
    vraw["schema_json"] = manifest.schema_json
    vtmp = os.path.join(_versions_dir(path), f"v{k}.json.tmp")
    with open(vtmp, "w") as f:
        json.dump(vraw, f)
    os.replace(vtmp, os.path.join(_versions_dir(path), f"v{k}.json"))


def vacuum(path: str, keep_last: int = 1) -> dict:
    """Expire old snapshots and delete data files no remaining manifest
    references — the VACUUM of the time-travel story.  Keeps the newest
    ``keep_last`` snapshots (the current manifest is always safe: it is
    also the newest snapshot).  Returns counts for observability.

    Scale note: this is driver-side file bookkeeping, O(files) set
    arithmetic over manifests — at lakehouse scale the same diff runs as
    a join over manifest TABLES (see ``write_manifest_table``); deletes
    are embarrassingly parallel."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    # vacuum mutates the directory (deletes files + snapshots) based on a
    # read of the version history — the same read-modify-write shape as
    # append/compaction, so it serializes through the same commit lock
    with commit_lock(path, "vacuum"):
        vs = list_versions(path)
        drop = vs[:-keep_last] if len(vs) > keep_last else []
        keep = [v for v in vs if v not in drop]
        referenced = set(load_manifest(path).files)
        for v in keep:
            referenced.update(load_manifest(path, version=v).files)
        removed_files = 0
        for v in drop:
            for f in load_manifest(path, version=v).files:
                if f not in referenced:
                    fp = os.path.join(path, f)
                    if os.path.exists(fp):
                        os.remove(fp)
                        removed_files += 1
            os.remove(os.path.join(_versions_dir(path), f"v{v}.json"))
    return {"snapshots_removed": len(drop), "files_removed": removed_files,
            "snapshots_kept": keep}


def has_manifest(path: str) -> bool:
    return os.path.exists(manifest_path(path))


# ---------------------------------------------------------------------------
# manifest-as-table: the exploding-file-count form (SURVEY §7.4 trap 7)
# ---------------------------------------------------------------------------

MANIFEST_TABLE_DIR = "_padawan_manifest"
MANIFEST_TABLE_FILE = "manifest.parquet"


def manifest_table_path(path: str) -> str:
    return os.path.join(path, MANIFEST_TABLE_DIR)


# key of the table file's key-value metadata: a JSON object with the
# index columns, max_partition_index and whether bounds are known
_TABLE_META = b"padawan.manifest"


def write_manifest_table(path: str, manifest: Manifest) -> None:
    """Persist the manifest as a parquet TABLE for tables with millions
    of files (the Iceberg/Delta manifest shape), written on the driver
    with pyarrow.

    One row per data file: ``pos`` (its place in the manifest), ``file``,
    ``size`` and, when bounds are known, ``lb_i`` / ``ub_i`` for index
    column ``i``, typed as pyarrow infers from the values, except that a
    TIMESTAMP column of the recorded schema holds UTC instants.  Rows are
    sorted null-first by ``lb_0`` in row groups of 64k rows, so
    :func:`read_manifest_table` skips a group by its min/max.  The index
    columns and ``max_partition_index`` are the file's key-value
    metadata, so one rename publishes the table: a reader sees the old
    one or the new one.  Any other file in the table directory, and the
    meta file older versions kept beside it, is removed after."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = len(manifest.files)
    cols = {"pos": pa.array(range(n), pa.int32()),
            "file": pa.array(manifest.files, pa.string()),
            "size": pa.array(manifest.sizes or [None] * n, pa.int64())}
    bounds = manifest.known_bounds
    if bounds:
        order = spark_order(manifest.schema, manifest.index_columns)
        for side, bs in (("lb", manifest.lower_bounds),
                         ("ub", manifest.upper_bounds)):
            for i in range(len(manifest.index_columns)):
                cols[f"{side}_{i}"] = pa.array([order(b)[i] for b in bs])
    table = pa.table(cols).replace_schema_metadata({_TABLE_META: json.dumps({
        "index_columns": list(manifest.index_columns),
        "max_partition_index": manifest.max_partition_index,
        "bounds": bounds})})
    if "lb_0" in cols:
        table = table.take(pc.sort_indices(
            table, sort_keys=[("lb_0", "ascending")],
            null_placement="at_start"))
    tdir = manifest_table_path(path)
    os.makedirs(tdir, exist_ok=True)
    # a name starting with "." is hidden from Spark's file listing
    tmp = os.path.join(tdir, "." + MANIFEST_TABLE_FILE + ".tmp")
    pq.write_table(table, tmp, row_group_size=1 << 16)
    os.replace(tmp, os.path.join(tdir, MANIFEST_TABLE_FILE))
    # what a table Spark wrote (part files, _SUCCESS, .crc) or a failed
    # write left behind
    for f in os.listdir(tdir):
        if f != MANIFEST_TABLE_FILE:
            fp = os.path.join(tdir, f)
            if os.path.isdir(fp):
                shutil.rmtree(fp)
            else:
                os.remove(fp)
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(path, MANIFEST_TABLE_DIR + "_meta.json"))


def _first_column_test(schema, column: str, probe, keep):
    """``keep(field, probe as the column's type)``, or ``None`` (prune
    nothing) when ``column`` is absent or the probe is NULL or does not
    convert to that type exactly."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if probe is None or column not in schema.names:
        return None
    if getattr(schema.field(column).type, "tz", None):
        probe = instant(probe)         # a TIMESTAMP column of instants
    try:
        value = pa.scalar(probe, schema.field(column).type)
    except (pa.ArrowException, TypeError, ValueError, OverflowError):
        return None
    if value.as_py() != probe:
        return None
    test = keep(pc.field(column), value)
    # Spark orders NaN above every number, but NaN compares false both
    # ways here and parquet's min/max statistics leave it out
    if pa.types.is_floating(value.type):
        test = test | pc.field(column).is_nan()
    return test


def read_manifest_table(path: str, lb=None, ub=None) -> Manifest:
    """The :class:`Manifest` of the table's files that may overlap the
    slice from ``lb`` to ``ub`` (``None`` ends are open), in manifest
    order.  A file is dropped when its ``ub_0`` is below ``lb[0]`` or
    its ``lb_0`` above ``ub[0]`` under null-first order (a NULL
    ``lb_0`` is below every probe, a NaN above); the caller applies the
    exact rule, :meth:`Dataset.slice`.  A table in an older layout
    (JSON-string bounds, Spark part files) is answered from the JSON
    manifest: every commit keeps the two in step and rewrites the table
    typed."""
    import pyarrow.parquet as pq

    f = os.path.join(manifest_table_path(path), MANIFEST_TABLE_FILE)
    schema = pq.read_schema(f) if os.path.exists(f) else None
    if schema is None or _TABLE_META not in (schema.metadata or {}):
        return load_manifest(path)
    meta = json.loads(schema.metadata[_TABLE_META])
    tests = [
        _first_column_test(schema, "lb_0", ub[0] if ub else None,
                           lambda c, v: c.is_null() | (c <= v)),
        _first_column_test(schema, "ub_0", lb[0] if lb else None,
                           lambda c, v: c >= v)]
    tests = [t for t in tests if t is not None]
    table = pq.read_table(
        f, filters=functools.reduce(operator.and_, tests) if tests else None
    ).sort_by("pos")
    n, k = table.num_rows, len(meta["index_columns"])

    def _values(name):
        c = table.column(name)
        if getattr(c.type, "tz", None):   # instants: back to local time
            return [TimestampType().fromInternal(v)
                    for v in c.cast("int64").to_pylist()]
        return c.to_pylist()

    def _bounds(side):
        if not meta["bounds"]:
            return None
        cols = [_values(f"{side}_{i}") for i in range(k)]
        return [tuple(c[j] for c in cols) for j in range(n)]

    sizes = table.column("size").to_pylist()
    return Manifest(
        index_columns=tuple(meta["index_columns"]),
        files=table.column("file").to_pylist(),
        sizes=None if None in sizes else sizes,
        lower_bounds=_bounds("lb"),
        upper_bounds=_bounds("ub"),
        max_partition_index=meta["max_partition_index"],
        schema_json=_read_schema(path),
    )
