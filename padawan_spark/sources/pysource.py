"""Custom connector via the Python Data Source API (Spark 4).

The reference's only source is a parquet directory
(``/root/reference/src/padawan/persisted_dataset.py:66-84``); Spark 4's
``pyspark.sql.datasource`` lets this engine add arbitrary pure-Python
connectors (REST paginators, proprietary formats, synthetic generators)
that still plug into Catalyst with a real schema and task-parallel
partitions — each ``InputPartition`` becomes one Spark task, so a
connector scales out exactly like a file scan.

``SequenceSource`` is the in-tree demonstration: a deterministic
partitioned integer sequence (id, square, bucket) — the Python analog of
``spark.range`` with computed columns, used by the ``adv_custom_source``
oracle query.

Every file-backed reader here yields **pyarrow RecordBatches** from
``read()`` (supported by the Python Data Source API on this
PySpark): change files decode via pyarrow, DV
position sets apply as Arrow compute masks, partition values and
change metadata attach as typed constant columns, and the batch
crosses to the JVM over Arrow — no per-row Python anywhere on the
file-volume path.  The only row-wise remnants are genuinely row-shaped:
the manifest CDF's rewrite-commit multiset diff (bounded by one
commit) and the Hudi latest-wins merge of LOG-TOUCHED keys (bounded
by the log; untouched base rows pass through as batches).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader, DataSourceWriter,
    InputPartition, WriterCommitMessage,
)
from pyspark.sql.types import LongType, StructField, StructType

_SCHEMA = StructType([
    StructField("id", LongType(), False),
    StructField("square", LongType(), False),
    StructField("bucket", LongType(), False),
])


def _sequence_batch(lo: int, hi: int):
    """One Arrow record batch of the deterministic sequence — the
    source generates vectorized, never row-at-a-time python."""
    import numpy as np
    import pyarrow as pa
    ids = np.arange(lo, hi, dtype=np.int64)
    return pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(ids * ids), pa.array(ids % 7)],
        names=["id", "square", "bucket"])


class _SequenceReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 8))

    def partitions(self):
        step = (self.n + self.parts - 1) // self.parts
        return [InputPartition((i * step, min((i + 1) * step, self.n)))
                for i in range(self.parts) if i * step < self.n]

    def read(self, partition):
        yield _sequence_batch(*partition.value)


class _SequenceStreamReader(DataSourceStreamReader):
    """Bounded replay STREAM of the same rows (Spark 4 Python streaming
    data source).  Offsets are row positions.  ``latestOffset`` reports
    the EXTERNAL truth — every row of the bounded sequence is already
    available — never reader-internal throttling state: Spark gives the
    reader no start offset here, so any internal progress counter would
    regress after a checkpoint restart and corrupt exactly-once (the
    classic custom-source bug; real sources report broker/file-listing
    state for the same reason).  The planned range splits into
    ``batchRows``-sized InputPartitions, so a 10k-row batch still reads
    task-parallel exactly like the batch reader, and a restart resumes
    from the checkpointed offset with no replay gap or overlap."""

    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.batch_rows = int(options.get("batchRows", 250))

    def initialOffset(self):
        return {"pos": 0}

    def latestOffset(self):
        return {"pos": self.n}

    def partitions(self, start, end):
        lo, hi = start["pos"], end["pos"]
        if hi <= lo:
            return [InputPartition((lo, lo))]
        step = max(1, self.batch_rows)
        return [InputPartition((p, min(p + step, hi)))
                for p in range(lo, hi, step)]

    def read(self, partition):
        lo, hi = partition.value
        if hi > lo:
            yield _sequence_batch(lo, hi)

    def commit(self, end):
        pass  # bounded in-process replay: nothing to reclaim


class SequenceSource(DataSource):
    """``spark.read[Stream].format("pyseq").option("n", ...)``."""

    @classmethod
    def name(cls):
        return "pyseq"

    def schema(self):
        return _SCHEMA

    def reader(self, schema):
        return _SequenceReader(self.options)

    def streamReader(self, schema):
        return _SequenceStreamReader(self.options)


def _aligned_batches(tb, spark_schema, const=None, col_of=None):
    """Yield ``pyarrow.RecordBatch``es of table ``tb`` aligned to the
    declared Spark schema — the batch fast path of every custom
    reader (a Python data source ``read()``
    may yield Arrow record batches directly, so file-backed change
    sets never surface as per-row Python objects).  Columns are
    picked by NAME (through ``col_of`` logical→physical renames),
    constants attach via ``const`` (python value, typed per the
    declared field), missing columns null-fill (schema evolution),
    and the result is CAST to the schema's exact Arrow types (e.g.
    a file's naive ``timestamp[us]`` to Spark's ``us, tz=UTC`` — the
    session runs UTC, so the reinterpretation is exact)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    pa_schema = to_arrow_schema(spark_schema)
    n = tb.num_rows
    have = set(tb.schema.names)
    cols = []
    for field in pa_schema:
        src = (col_of or {}).get(field.name, field.name)
        if const is not None and field.name in const:
            cols.append(pa.repeat(
                pa.scalar(const[field.name], type=field.type), n))
        elif src in have:
            cols.append(tb.column(src))
        else:
            cols.append(pa.nulls(n, type=field.type))
    out = pa.table(cols, names=[f.name for f in pa_schema])
    yield from out.cast(pa_schema).to_batches()


def register_python_sources(spark) -> None:
    """Idempotently register the in-tree Python data sources."""
    spark.dataSource.register(SequenceSource)
    spark.dataSource.register(JsonlSink)
    spark.dataSource.register(ManifestTailSource)
    spark.dataSource.register(ManifestCDFSource)
    spark.dataSource.register(AvroSource)
    spark.dataSource.register(DeltaCDFSource)
    spark.dataSource.register(HudiIncrementalSource)
    spark.dataSource.register(IcebergAppendsSource)
    spark.dataSource.register(IcebergChangesSource)


# ---------------------------------------------------------------------------
# Custom Python Data Source SINK (Spark 4 DataSourceWriter): newline-
# delimited JSON with an explicit commit protocol.  Each task writes its
# partition to a uniquely-named file and returns the name as its commit
# message; the DRIVER's commit() then records exactly the committed
# files in a manifest.  Readers list the manifest, not the directory —
# so files from failed/speculative task attempts are never visible
# (the same two-phase visibility rule every exactly-once lakehouse sink
# implements).
# ---------------------------------------------------------------------------


class _JsonlCommitMessage(WriterCommitMessage):
    """Picklable task commit message: the file this task produced."""

    def __init__(self, filename: str, rows: int):
        self.filename = filename
        self.rows = rows


class _JsonlWriter(DataSourceWriter):
    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonlsink requires a path option")
        self.fields = [f.name for f in schema.fields]

    def write(self, iterator):
        import json as _json
        import os as _os
        import uuid as _uuid
        name = f"part-{_uuid.uuid4().hex}.jsonl"
        full = _os.path.join(self.path, name)
        n = 0
        with open(full, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps(dict(zip(self.fields, row))) + "\n")
                n += 1
        return _JsonlCommitMessage(name, n)

    def commit(self, messages):
        import json as _json
        import os as _os
        manifest = {
            "files": sorted(m.filename for m in messages),
            "rows": sum(m.rows for m in messages),
        }
        with open(_os.path.join(self.path, "_manifest.json"), "w") as fh:
            _json.dump(manifest, fh)

    def abort(self, messages):
        import os as _os
        for m in messages:
            try:
                _os.remove(_os.path.join(self.path, m.filename))
            except OSError:
                pass


class JsonlSink(DataSource):
    """``df.write.format("jsonlsink").option("path", dir).save()`` —
    single-machine demonstration (task files land on a shared local fs;
    a cluster deployment points ``path`` at a shared store)."""

    @classmethod
    def name(cls):
        return "jsonlsink"

    def writer(self, schema, overwrite):
        return _JsonlWriter(self.options, schema)


def read_jsonl_sink(spark, path, schema):
    """Read back ONLY the manifest-committed files of a jsonlsink dir."""
    import json as _json
    import os as _os
    with open(_os.path.join(path, "_manifest.json")) as fh:
        manifest = _json.load(fh)
    files = [_os.path.join(path, f) for f in manifest["files"]]
    return spark.read.schema(schema).json(files)


# ---------------------------------------------------------------------------
# Manifest-tailing STREAM source: the snapshot history of a manifest-
# versioned dataset (dataset.write_parquet archives one version per
# write) is treated as a commit log — offsets are version numbers, and
# each micro-batch reads exactly the files ADDED between two versions
# (the same delta op_incremental_read consumes in batch).  latestOffset
# reports the on-disk version list (external truth → checkpoint-restart
# safe), and each new file is one InputPartition, so a batch of many
# appended files reads task-parallel.  This is the "table as a stream" /
# change-data-feed idea of the lakehouse formats, on the padawan
# manifest.
# ---------------------------------------------------------------------------


class _ManifestTailReader(DataSourceStreamReader):
    def __init__(self, options, schema=None):
        self.path = options["path"]
        self.spark_schema = schema
        self._seen_id = None   # first non-null table id observed this run
        # backpressure: cap how many snapshot versions one
        # micro-batch may admit (0 = unlimited).  A capped stream
        # replays a backlog as bounded batches instead of one giant
        # catch-up batch — the Delta maxFilesPerTrigger idea at version
        # granularity.  The cap anchors on the last offset span this
        # READER instance validated in partitions(); the FIRST batch of
        # any run is uncapped, because latestOffset cannot see the
        # checkpointed start offset (Spark calls it before partitions —
        # observed: even a fresh stream's first latestOffset precedes
        # initialOffset in the runner process) and a low guess would
        # trip the history-regression guard after a restart.  Every
        # batch after the first is bounded.
        self._max_versions = int(options.get("maxVersionsPerTrigger", 0))
        self._last_end = None

    def _stamp(self, tid):
        """Track the first non-null table id seen this RUN and fail
        loudly if it ever changes.  Offsets checkpointed before the
        table existed carry ``id=null`` forever (initialOffset on an
        empty path), so the offset-level identity check alone never
        activates for such streams — this run-level stamp closes that
        window from the first batch where ``table_id()`` materializes."""
        if tid is None:
            return tid
        if self._seen_id is None:
            self._seen_id = tid
        elif self._seen_id != tid:
            raise RuntimeError(
                f"{self._NAME}: table identity at {self.path} changed "
                f"({self._seen_id[:8]}… -> {tid[:8]}…) — the dataset was "
                "overwritten under an active stream.  The old checkpoint "
                "does not describe the new table; restart the stream with "
                "a fresh checkpointLocation to stream it from scratch.")
        return tid

    def initialOffset(self):
        from .. import metadata as _meta
        self._last_end = 0
        return {"v": 0, "id": self._stamp(_meta.table_id(self.path))}

    def latestOffset(self):
        from .. import metadata as _meta
        vs = _meta.list_versions(self.path)
        v = vs[-1] if vs else 0
        if self._max_versions and self._last_end is not None:
            v = max(min(v, self._last_end + self._max_versions),
                    self._last_end)
        return {"v": v,
                "id": self._stamp(_meta.table_id(self.path))}

    def _files_of(self, version: int) -> list | None:
        """Files of a snapshot; ``None`` when that snapshot no longer
        exists (expired by ``metadata.vacuum``, or history was reset by
        an overwrite)."""
        from .. import metadata as _meta
        if version <= 0:
            return []
        try:
            return list(_meta.load_manifest(self.path, version=version).files)
        except FileNotFoundError:
            return None

    def _guard_span(self, start, end) -> tuple:
        """Shared offset-sanity checks (identity stamp + history
        regression); returns ``(lo, hi)``."""
        lo, hi = start["v"], end["v"]
        # table-identity check: an overwrite resets history to v1, so a
        # busy producer can grow the NEW table's version count past the
        # checkpointed offset before the next batch fires — the hi < lo
        # guard alone would then silently diff two unrelated histories.
        # The identity stamp (minted with the version dir, destroyed by
        # overwrite's rmtree) catches that regardless of version numbers.
        # fall back to the run-level stamp for offsets minted before the
        # table existed (id=null) or by pre-identity checkpoints
        sid = start.get("id") or self._seen_id
        eid = self._stamp(end.get("id")) or self._seen_id
        if sid is not None and eid is not None and sid != eid:
            raise RuntimeError(
                f"{self._NAME}: table identity at {self.path} changed "
                f"({sid[:8]}… -> {eid[:8]}…) — the dataset was overwritten "
                "under an active stream.  The old checkpoint does not "
                "describe the new table; restart the stream with a fresh "
                "checkpointLocation to stream it from scratch.")
        if hi < lo:
            # version history only grows under append; a LOWER latest
            # version means the table was overwritten (rmtree resets
            # history to v1) under an active stream — the checkpointed
            # offset no longer describes this table's history, so fail
            # with guidance instead of silently re-emitting rows
            raise RuntimeError(
                f"{self._NAME}: version history at {self.path} regressed "
                f"from v{lo} to v{hi} — the dataset was overwritten under "
                "an active stream.  The old checkpoint does not describe "
                "the new table; restart the stream with a fresh "
                "checkpointLocation to stream it from scratch.")
        self._last_end = hi               # anchor the per-trigger cap
        return lo, hi

    _NAME = "padawan_tail"

    def partitions(self, start, end):
        import os as _os
        lo, hi = self._guard_span(start, end)
        if hi <= lo:
            return [InputPartition(None)]
        base = self._files_of(lo)
        if base is None:
            # the checkpointed snapshot was expired by vacuum: the delta
            # base is gone, so "files added since lo" is unanswerable —
            # fail loudly rather than regress offsets or re-emit history
            raise RuntimeError(
                f"padawan_tail: checkpointed snapshot v{lo} at {self.path} "
                "no longer exists (expired by metadata.vacuum).  Keep at "
                "least the snapshots an active stream may restart from "
                "(vacuum keep_last), or restart the stream with a fresh "
                "checkpointLocation.")
        seen = set(base)
        new = []
        for v in range(lo + 1, hi + 1):
            files = self._files_of(v)
            if files is None:
                # an INTERMEDIATE snapshot expired: safe to skip — file
                # lists are cumulative, so anything it added and a later
                # retained snapshot still references shows up there
                continue
            for f in files:
                if f not in seen:
                    seen.add(f)
                    new.append(_os.path.join(self.path, f))
        return [InputPartition(p) for p in new] or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return
        import pyarrow.parquet as pq
        # Arrow-batch path: whole added files stream as record
        # batches — a backfill commit of 10^8 rows never crosses the
        # Python row boundary
        yield from _aligned_batches(pq.read_table(partition.value),
                                    self.spark_schema)

    def commit(self, end):
        pass  # snapshots are retained until metadata.vacuum


class ManifestTailSource(DataSource):
    """``spark.readStream.format("padawan_tail").schema(...)
    .option("path", dataset_dir)`` — stream the version history of a
    manifest dataset; user-provided schema must match the table.

    Contract under table maintenance (same caveats as any change-data
    feed): ``write_parquet(append=True)`` is the supported producer.
    An OVERWRITE resets version history and breaks the stream (loud
    error on restart — fresh checkpoint required); a VACUUM that
    expires the snapshot a checkpoint restarts from also fails loudly
    (keep enough snapshots for your longest stream outage); a
    COMPACTION re-emits already-streamed rows, because merged files are
    genuinely new files in the manifest delta — downstream consumers
    that must be compaction-proof should deduplicate on a row key."""

    @classmethod
    def name(cls):
        return "padawan_tail"

    def streamReader(self, schema):
        return _ManifestTailReader(self.options, schema)


# ---------------------------------------------------------------------------
# Row-level CDF STREAM source: the streaming twin of dataset.read_changes.
# Offsets are version numbers (same identity/regression guards as
# padawan_tail; version 0 = the empty table); each micro-batch emits the
# CHANGE ROWS of the commits in (start, end] with Delta-CDF
# classification (insert / delete / update_preimage / update_postimage).
# metadata.plan_changes, the planner read_changes also uses, gives each
# commit's added and removed files and holds the vacuum guard; this
# reader only maps them to partitions.  A commit that only adds (or only
# removes) files fans out one InputPartition per file, with no diff
# work; a rewrite commit (copy-on-write delete/merge/compaction) reads
# its added+removed files in one task to cancel verbatim-carried
# survivor rows — bounded by the commit's size, never the table's.
# ---------------------------------------------------------------------------


class _ManifestCDFReader(_ManifestTailReader):
    _NAME = "padawan_cdf"

    def __init__(self, options, schema=None):
        super().__init__(options, schema)
        self.start_version = int(options.get("startingVersion", 0))

    def initialOffset(self):
        from .. import metadata as _meta
        self._last_end = self.start_version
        return {"v": self.start_version,
                "id": self._stamp(_meta.table_id(self.path))}

    def partitions(self, start, end):
        from .. import metadata as _meta
        lo, hi = self._guard_span(start, end)
        if hi <= lo:
            return [InputPartition(None)]
        span = _meta.plan_changes(self.path, lo, hi)
        parts = []
        for v, added, removed in span.commits:
            if added and removed:
                parts.append(InputPartition(
                    ("diff", added, removed, v, list(span.index_columns))))
            else:
                parts += [InputPartition(("rows", f, v, kind))
                          for kind, files in (("insert", added),
                                              ("delete", removed))
                          for f in files]
        return parts or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return
        import pyarrow.parquet as pq
        kind = partition.value[0]
        if kind == "rows":
            # whole-file insert/delete commits — the UNBOUNDED change
            # shape (a backfill append emits entire files) — stream as
            # Arrow record batches
            _k, path, ver, ctype = partition.value
            yield from _aligned_batches(
                pq.read_table(path), self.spark_schema,
                const={"_commit_version": ver, "_change_type": ctype})
            return
        _k, added, removed, ver, ix = partition.value
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from pyspark.sql.pandas.types import to_arrow_schema
        # align every file to the DECLARED data columns (the schema ends
        # with _commit_version, _change_type): a column the file predates
        # reads as nulls, and physical types that vary per file (a
        # writer's int32 vs int64) are cast, so the hash aggregation
        # groups value-identical rows together
        data = StructType(self.spark_schema.fields[:-2])

        def _signed(paths, sign):
            tb = pa.Table.from_batches(
                [b for p in paths
                 for b in _aligned_batches(pq.read_table(p), data)],
                schema=to_arrow_schema(data))
            return tb.append_column(
                "__sign", pa.repeat(pa.scalar(sign, pa.int64()),
                                    tb.num_rows))

        # vectorized MULTISET DIFFERENCE: one Arrow hash aggregation
        # over added(+1) ∪ removed(−1); verbatim copy-on-write survivors
        # land on net == 0 and vanish, and every other row repeats |net|
        # times
        net = (pa.concat_tables([_signed(added, 1), _signed(removed, -1)])
               .group_by(data.names).aggregate([("__sign", "sum")]))
        net = net.filter(pc.not_equal(net["__sign_sum"], 0))
        sign = net["__sign_sum"]
        upd = pa.repeat(pa.scalar(False), net.num_rows)
        if ix and net.num_rows:
            # an index key with both a positive and a negative net row
            # is an update; Arrow groups NULL with NULL and NaN with NaN,
            # as the window of read_changes does
            keyed = net.append_column(
                "__row", pa.array(np.arange(net.num_rows)))
            g = keyed.group_by(ix).aggregate([
                ("__sign_sum", "max"), ("__sign_sum", "min"),
                ("__row", "list")])
            both = pc.and_(pc.greater(g["__sign_sum_max"], 0),
                           pc.less(g["__sign_sum_min"], 0))
            rows = pc.list_flatten(g["__row_list"])
            upd = pc.take(pc.take(both, pc.list_parent_indices(
                g["__row_list"])), pc.sort_indices(rows))
        pos = pc.greater(sign, 0)
        net = net.append_column("_change_type", pc.if_else(
            pos, pc.if_else(upd, "update_postimage", "insert"),
            pc.if_else(upd, "update_preimage", "delete")))
        yield from _aligned_batches(
            net.take(np.repeat(np.arange(net.num_rows),
                               pc.abs(sign).to_numpy())),
            self.spark_schema, const={"_commit_version": ver})


class ManifestCDFSource(DataSource):
    """``spark.readStream.format("padawan_cdf").option("path", dir)`` —
    stream row-level changes of a manifest dataset (the streaming twin
    of :func:`padawan_spark.dataset.read_changes`: both plan each span
    with :func:`padawan_spark.metadata.plan_changes`, so they give the
    same rows).  Offsets are snapshot versions, starting after
    ``startingVersion`` (default 0; version 0 is the empty table, so
    the first write streams as inserts).  The schema is derived from
    the table's manifest (table columns plus
    ``_commit_version``/``_change_type``), so consumers need not repeat
    it.  Same maintenance contract as ``padawan_tail``, stricter on
    vacuum: every snapshot in the un-streamed span must still exist."""

    @classmethod
    def name(cls):
        return "padawan_cdf"

    def schema(self):
        from pyspark.sql.types import StringType

        from .. import metadata as _meta
        st = _meta.load_manifest(self.options["path"]).schema
        if st is None:
            raise ValueError(
                f"padawan_cdf: {self.options['path']} records no schema")
        return StructType(list(st.fields)
                          + [StructField("_commit_version", LongType()),
                             StructField("_change_type", StringType())])

    def streamReader(self, schema):
        return _ManifestCDFReader(self.options, schema)


# ---------------------------------------------------------------------------
# Avro container source: Spark ships Avro only as an external
# package, so the engine reads Object Container Files through the
# dependency-free decoder in functions/avro.py plugged into the Python
# Data Source API — real schema from the file header, one task per
# file (a directory of N files reads N-way parallel; intra-file block
# splitting would additionally need a sync-marker scan, noted here as
# the scale follow-up for single multi-GB files).
# ---------------------------------------------------------------------------


class _AvroReader(DataSourceReader):
    def __init__(self, options, schema=None):
        self.files = _avro_files(options)
        # intra-file parallelism: files above split_bytes are
        # divided at BLOCK boundaries by a driver-side frame walk
        # (~20 bytes I/O per block), so one multi-GB file reads as
        # many tasks instead of one
        self.split_bytes = int(options.get("split_bytes",
                                           32 * 1024 * 1024))
        self.spark_schema = schema
        self.names = list(schema.names) if schema is not None else None
        # Catalyst binds output columns positionally to the declared
        # schema (taken from the FIRST file) — remember its field order
        # so schema-evolved sibling files realign by NAME instead of
        # silently mapping values to the wrong columns

    def partitions(self):
        import os as _os

        from ..functions.avro import scan_avro_block_ranges
        parts = []
        for p in self.files:
            if _os.path.getsize(p) <= self.split_bytes:
                parts.append(InputPartition((p, None, None)))
                continue
            for start, end in scan_avro_block_ranges(
                    p, self.split_bytes):
                parts.append(InputPartition((p, start, end)))
        return parts

    def read(self, partition):
        from ..functions.avro import (decode_avro_py,
                                      decode_avro_py_range)
        path, start, end = partition.value
        if start is None:
            with open(path, "rb") as fh:
                fields, rows = decode_avro_py(fh.read())
        else:
            fields, rows = decode_avro_py_range(path, start, end)
        file_names = [n for n, _t, _nl in fields]
        order = None
        if self.names is not None and file_names != self.names:
            missing = [n for n in self.names if n not in file_names]
            extra = [n for n in file_names if n not in self.names]
            if missing or extra:
                raise ValueError(
                    f"padawan_avro: {path} writer schema fields "
                    f"{file_names} do not match the directory schema "
                    f"{self.names} (missing={missing}, extra={extra})")
            order = [file_names.index(n) for n in self.names]
        if self.spark_schema is None:
            for row in rows:
                yield (tuple(row[i] for i in order) if order
                       else row)
            return
        # Arrow-batch emission: the decoded primitive columns
        # build typed arrays directly, so the per-value Spark tuple
        # converters never run — the python Avro decode is the only
        # row-wise work left, and it is the format's nature
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema
        pa_schema = to_arrow_schema(self.spark_schema)
        chunk_rows = 65536
        for i in range(0, len(rows), chunk_rows):
            chunk = rows[i:i + chunk_rows]
            if order:
                chunk = [tuple(r[j] for j in order) for r in chunk]
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[ci] for r in chunk], type=f.type)
                 for ci, f in enumerate(pa_schema)],
                schema=pa_schema)


def _avro_files(options) -> list:
    import os as _os
    path = options.get("path")
    if not path:
        raise ValueError("padawan_avro requires a path option")
    if _os.path.isdir(path):
        return sorted(
            _os.path.join(path, f) for f in _os.listdir(path)
            if f.endswith(".avro"))
    return [path]


class AvroSource(DataSource):
    """``spark.read.format("padawan_avro").option("path", ...)`` —
    schema inferred from the first file's embedded writer schema."""

    @classmethod
    def name(cls):
        return "padawan_avro"

    def schema(self):
        from ..functions.avro import (_norm_type, avro_spark_schema,
                                      read_avro_header_file)
        path = _avro_files(self.options)[0]
        # header read grows geometrically — the embedded schema JSON
        # can exceed any fixed prefix
        schema, _codec, _sync, _pos = read_avro_header_file(path)
        fields = [(f["name"], t, nl is not None)
                  for f in schema["fields"]
                  for t, nl in [_norm_type(f["type"])]]
        return avro_spark_schema(fields)

    def reader(self, schema):
        return _AvroReader(self.options, schema)


# ---------------------------------------------------------------------------
# Delta CDF stream source: the streaming twin of
# functions.delta.read_delta_changes — offsets are Delta commit
# versions (the initial offset is startingVersion - 1; offset -1 is the
# empty table before commit 0), and each micro-batch reads the change
# files of the versions in (start, end].
# functions.delta.plan_delta_changes, the planner read_delta_changes
# also uses, decides the change events (the cdc-only rule, the
# deletion-vector rewrite rule, the checkpoint-initialized file state,
# the contiguous-JSON guard) and types their partition values; this
# reader maps one event to one InputPartition and decodes rows
# worker-side through pyarrow.
# ---------------------------------------------------------------------------


class _DeltaCDFStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        from ..functions.delta import plan_delta_changes
        self.path = options["path"]
        self.start_version = int(options.get("startingVersion", 0))
        self._max_versions = int(options.get("maxVersionsPerTrigger",
                                             0))
        self._last_end = None
        self.spark_schema = schema
        self.names = list(schema.names)
        # column mapping: partitionValues are physically keyed and
        # 'name' mode reads the physical parquet column; 'id' mode
        # additionally matches each file's columns by parquet footer
        # field id inside read() — the file is open there anyway
        plan = plan_delta_changes(self.path, None)
        self.mapping = plan.mapping
        self.phys = plan.phys
        self.fid_of = {fid: n for n, fid in plan.field_ids.items()}
        # nested columns in a MAPPED table: the read task renames inner
        # struct fields back to their logical names via an arrow view
        self.nested_json = {f["name"]: f["type"] for f in plan.fields
                            if plan.mapping in ("name", "id")
                            and not isinstance(f["type"], str)}

    def initialOffset(self):
        self._last_end = self.start_version - 1
        return {"v": self.start_version - 1}

    def latestOffset(self):
        from ..functions.delta import list_delta_versions
        vs = list_delta_versions(self.path)
        v = vs[-1] if vs else self.start_version - 1
        if self._max_versions and self._last_end is not None:
            v = max(min(v, self._last_end + self._max_versions),
                    self._last_end)
        return {"v": v}

    def partitions(self, start, end):
        import json as _json
        import os as _os

        from ..functions.delta import plan_delta_changes
        lo, hi = start["v"], end["v"]
        self._last_end = hi
        if hi <= lo:
            return [InputPartition(None)]
        return [InputPartition(
            (kind, _os.path.join(self.path, rel), v, pv,
             _json.dumps(inc) if inc else None,
             _json.dumps(exc) if exc else None))
            for v, kind, rel, pv, inc, exc
            in plan_delta_changes(self.path, lo, hi).events
        ] or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return
        kind, full, v, pv, inc_json, exc_json = partition.value
        import os as _os

        import pyarrow as pa
        import pyarrow.parquet as pq
        tb = pq.read_table(full)
        # DV position filters decode IN THIS TASK (never the driver)
        # and apply as ARROW MASKS over the physical row positions:
        # include = emit only these positions (the newly-dead
        # rows of an in-place DV rewrite); exclude = skip these
        # (already-dead rows of a tombstoned/pre-DV'd file).  No
        # per-row python set probe anywhere.
        if inc_json or exc_json:
            import json as _json2

            import numpy as _np
            import pyarrow.compute as _pc

            from ..functions.deltadv import read_dv_positions
            root = _os.path.abspath(self.path)
            inc = exc = None
            if inc_json:
                inc = set(read_dv_positions(
                    root, _json2.loads(inc_json)))
            if exc_json:
                exc = set(read_dv_positions(
                    root, _json2.loads(exc_json)))
            pos = pa.array(_np.arange(tb.num_rows, dtype=_np.int64))
            if inc is not None:
                inc -= (exc or set())
                keep = _pc.is_in(pos, value_set=pa.array(
                    sorted(inc), type=pa.int64()))
            else:
                keep = _pc.invert(_pc.is_in(pos, value_set=pa.array(
                    sorted(exc), type=pa.int64())))
            tb = tb.filter(keep)

        col_of = {c: self.phys.get(c, c) for c in self.names}
        if self.mapping == "id":
            # id mode: the FILE's column names are matched by footer
            # field id (physical names vary per writer/commit)
            for fld in tb.schema:
                fid = (fld.metadata or {}).get(b"PARQUET:field_id")
                if fid is not None and int(fid) in self.fid_of:
                    col_of[self.fid_of[int(fid)]] = fld.name
        if self.nested_json:
            # mapped NESTED columns: inner struct fields carry
            # physical names in the file — view them back to the
            # logical names (zero-copy)
            from ..functions.nested import arrow_logical_view
            for c, tj in self.nested_json.items():
                fc = col_of.get(c, c)
                idx = tb.schema.get_field_index(fc)
                if idx >= 0:
                    tb = tb.set_column(
                        idx, fc,
                        arrow_logical_view(
                            tb.column(idx).combine_chunks(), tj))
        # partition values attach as typed constants; cdc files carry
        # their own _change_type column, and derived events stamp the
        # whole file's rows with one kind
        const = {**pv, "_commit_version": v}
        if kind != "cdc":
            const["_change_type"] = kind
        yield from _aligned_batches(tb, self.spark_schema,
                                    const=const, col_of=col_of)

    def commit(self, end):
        pass


class DeltaCDFSource(DataSource):
    """``spark.readStream.format("padawan_delta_cdf")`` — stream the
    change feed of an existing Delta table; schema = table columns +
    ``_change_type`` + ``_commit_version``.  Offsets are commit
    versions; the stream starts after ``startingVersion - 1`` (default
    0: offset -1 is the empty table, so the first micro-batch holds
    commit 0).  Each span ``(start, end]`` is planned by
    :func:`padawan_spark.functions.delta.plan_delta_changes`, the
    planner of the batch ``read_delta_changes``, so both give the same
    rows: live-file state entering a span initializes from the newest
    CHECKPOINT ``<= start`` (a log-retention-cleaned table streams as
    long as a checkpoint covers the cleaned prefix), the commits
    INSIDE the span need their own JSON, and partition values come
    typed.  Column-mapped tables stream under their LOGICAL names:
    ``name`` mode resolves through the schema's physicalName metadata,
    ``id`` mode by each file's parquet footer field ids inside the
    read task."""

    @classmethod
    def name(cls):
        return "padawan_delta_cdf"

    def schema(self):
        import json as _json

        from ..functions.delta import _delta_type_ddl, replay_delta_log
        schema_json, _pc, _files, _mapping = replay_delta_log(
            self.options["path"])
        sch = _json.loads(schema_json)
        return (", ".join(
            f"{f['name']} {_delta_type_ddl(f['type'])}"
            for f in sch["fields"])
            + ", _change_type string, _commit_version bigint")

    def streamReader(self, schema):
        return _DeltaCDFStreamReader(self.options, schema)


# ---------------------------------------------------------------------------
# Hudi INCREMENTAL streaming source: the CDC surface Hudi
# consumers poll — each micro-batch emits the LATEST state of every
# record key changed in the new instant window, reading ONLY the file
# slices the window's commits touched (partitionToWriteStats pruning,
# same contract as functions.hudi.read_hudi_incremental).  One
# InputPartition per touched file slice; the latest-wins merge runs
# INSIDE the task over that slice alone — correct because a key's
# updates land in its own file group's logs, so no cross-slice state
# is ever needed.  Offsets are commit instants, so a restart resumes
# exactly after the last batch's end instant.
class _HudiIncrementalStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.path = options["path"]
        self.start_instant = str(options.get("startingInstant", "0"))
        self._max_instants = int(options.get("maxInstantsPerTrigger",
                                             0))
        self._last_end = None
        self.spark_schema = schema
        self.names = list(schema.names)
        self.types = {f.name: f.dataType.simpleString()
                      for f in schema.fields}

    def initialOffset(self):
        self._last_end = self.start_instant
        return {"i": self.start_instant}

    def latestOffset(self):
        from ..functions.hudi import list_hudi_commits
        commits = list_hudi_commits(self.path)
        last = self._last_end or self.start_instant
        newer = [c for c in commits if c > last]
        if self._max_instants:
            newer = newer[:self._max_instants]
        return {"i": newer[-1] if newer else last}

    def partitions(self, start, end):
        from ..functions.hudi import (_timeline, _touched_file_ids,
                                      live_hudi_slices)
        lo, hi = start["i"], end["i"]
        self._last_end = hi
        if hi <= lo:
            return [InputPartition(None)]
        committed = tuple(ts for ts, _k in _timeline(self.path)
                          if ts <= hi)
        touched = _touched_file_ids(self.path, lo, hi)
        slices = live_hudi_slices(self.path, as_of=hi)
        parts = [InputPartition(
            (s["base"], tuple(s["logs"]), lo, hi, committed))
            for fid, s in sorted(slices.items()) if fid in touched]
        return parts or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return
        base, logs, lo, hi, committed = partition.value
        committed = set(committed)
        import pyarrow as pa

        from ..functions.hudilog import (BLOCK_DELETE,
                                         DATA_BLOCK_TYPES,
                                         H_INSTANT_TIME,
                                         decode_data_block,
                                         decode_delete_block,
                                         decode_log_blocks)
        # 1. decode the LOGS first — bounded by the log, small by MOR
        #    design: per-key latest-wins among log events alone
        state: dict[str, tuple] = {}
        for lidx, logf in enumerate(logs):
            with open(logf, "rb") as fh:
                blocks = decode_log_blocks(fh.read())
            for seq, blk in enumerate(blocks):
                inst = blk["header"].get(H_INSTANT_TIME)
                if inst not in committed:
                    continue             # failed / future write
                if blk["type"] in DATA_BLOCK_TYPES:
                    for r in decode_data_block(blk):
                        k = r["_hoodie_record_key"]
                        ord_k = (inst, lidx, seq)
                        if k not in state or state[k][0] < ord_k:
                            state[k] = (ord_k, False, r)
                elif blk["type"] == BLOCK_DELETE:
                    for k in decode_delete_block(blk):
                        ord_k = (inst, lidx, seq)
                        if k not in state or state[k][0] < ord_k:
                            state[k] = (ord_k, True, None)
                else:
                    raise NotImplementedError(
                        f"hudi log block type {blk['type']}")
        # 2. the base file splits on the touched-key set with ARROW
        #    compute: rows no log touches
        #    either pass through as record batches (when their own
        #    commit time is in the window) or drop WITHOUT ever
        #    materializing as python objects; ONLY rows whose key the
        #    log touched cross into the row-wise merge — per-task
        #    python work is O(log), not O(base)
        if base is not None:
            import pyarrow.compute as _pc
            import pyarrow.parquet as pq
            tb = pq.read_table(base)
            instc = tb.column("_hoodie_commit_time")
            in_win = _pc.and_(
                _pc.greater(instc, pa.scalar(lo)),
                _pc.less_equal(instc, pa.scalar(hi)))
            if state:
                touched = _pc.is_in(
                    tb.column("_hoodie_record_key"),
                    value_set=pa.array(sorted(state),
                                       type=pa.string()))
                pass_tb = tb.filter(_pc.and_(in_win,
                                             _pc.invert(touched)))
                for r in tb.filter(touched).to_pylist():
                    k = r["_hoodie_record_key"]
                    ord_k = (r["_hoodie_commit_time"], -1, -1)
                    # <= keeps the last duplicate-key base row, the
                    # same row the old seed-then-override loop kept;
                    # a log event at the same instant still wins
                    # (its lidx >= 0 orders above the base's -1)
                    if state[k][0] <= ord_k:
                        state[k] = (ord_k, False, r)
            else:
                pass_tb = tb.filter(in_win)
            yield from _aligned_batches(
                pass_tb, self.spark_schema,
                col_of={"_commit_instant": "_hoodie_commit_time"})

        # temporal conversion shared with the batch MOR decode:
        # log payloads ride Avro logical types (micros / epoch-day
        # ints), parquet base values come back tz-aware — the reviver
        # normalizes both to naive-UTC, through nested types too
        from ..functions.hudi import _temporal_reviver
        revivers = {c: r for c, t in self.types.items()
                    if (r := _temporal_reviver(t)) is not None}

        def conv(c, v):
            r = revivers.get(c)
            return r(v) if r is not None else v

        # 3. merged rows (log-touched keys only) emit as ONE record
        #    batch typed by the declared schema
        out_rows = []
        for k in sorted(state):
            ord_k, deleted, row = state[k]
            inst = ord_k[0]
            if deleted or not (lo < inst <= hi):
                continue
            out_rows.append(tuple(
                inst if c == "_commit_instant" else conv(c, row.get(c))
                for c in self.names))
        if out_rows:
            from pyspark.sql.pandas.types import to_arrow_schema
            pa_schema = to_arrow_schema(self.spark_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[i] for r in out_rows], type=f.type)
                 for i, f in enumerate(pa_schema)],
                schema=pa_schema)

    def commit(self, end):
        pass


class HudiIncrementalSource(DataSource):
    """``spark.readStream.format("padawan_hudi_incremental")`` —
    stream a Hudi table's incremental query: per micro-batch, the
    latest state of every record key changed in the new instant
    window, scanning only the touched file slices.  Schema = data
    columns + ``_commit_instant``."""

    @classmethod
    def name(cls):
        return "padawan_hudi_incremental"

    def schema(self):
        from ..functions.hudi import hudi_table_schema
        cols = hudi_table_schema(self.options["path"])
        return (", ".join(f"{n} {t}" for n, t in cols)
                + ", _commit_instant string")

    def streamReader(self, schema):
        return _HudiIncrementalStreamReader(self.options, schema)


# ---------------------------------------------------------------------------
# Iceberg incremental-APPEND streaming source: the spec's
# incremental scan — offsets are COMMIT-ORDER POSITIONS in the
# snapshot log (snapshot ids are random longs, so id
# comparison would drop a newer-but-smaller id), each micro-batch
# reads exactly the data files ADDED by the snapshots in its span.  Per the spec, only append snapshots may be consumed
# incrementally: a span whose file set shrank (delete/replace/
# overwrite) raises instead of emitting wrong rows.  One
# InputPartition per added file — task-parallel like a file scan.
class _IcebergAppendsStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.path = options["path"]
        self.start_snapshot = int(options.get("startingSnapshotId",
                                              0))
        self.start_ref = options.get("startingRef")
        if self.start_ref and self.start_snapshot:
            raise ValueError(
                "padawan_iceberg_appends: startingRef is exclusive "
                "with startingSnapshotId")
        # FOLLOW a branch across
        # retargets — latestOffset tracks the named branch's HEAD
        # instead of the snapshot-log tail, so fast-forwards stream
        # their new snapshots; a retarget that rewrites history (the
        # previous head is no longer an ancestor of the new one)
        # gates loudly instead of silently re-reading or skipping
        self.follow_ref = options.get("followRef")
        self._follow_head = None         # last head streamed up to
        self._max_snaps = int(options.get("maxSnapshotsPerTrigger",
                                          0))
        # Iceberg's streaming-skip-* options: opt-in to silently
        # skipping delete / overwrite snapshots instead of raising
        self._skip_deletes = str(options.get(
            "skipDeleteSnapshots", "false")).lower() == "true"
        self._skip_overwrites = str(options.get(
            "skipOverwriteSnapshots", "false")).lower() == "true"
        self._last_end = None
        self.spark_schema = schema
        self.names = list(schema.names)

    def _snapshot_ids(self):
        import json as _os_json

        from ..functions.iceberg import _latest_metadata
        with open(_latest_metadata(self.path)) as fh:
            meta = _os_json.load(fh)
        return [s["snapshot-id"]
                for s in sorted(meta.get("snapshots", []),
                                key=lambda s: (
                                    s.get("sequence-number", 0),
                                    s["snapshot-id"]))]

    # real Iceberg snapshot ids are RANDOM longs — a
    # newer snapshot may carry a smaller id, so id comparison as the
    # offset would silently skip it (dropped data).  Offsets are the
    # POSITION in the commit-ordered snapshot list instead ("how many
    # snapshots consumed"); ids resolve from the ordered list only
    # when a span's endpoints are needed.

    def _initial_index(self):
        start = self.start_snapshot
        if self.start_ref:
            # start AT a named tag/branch — the ref resolves
            # once, to the snapshot it points at when the stream
            # starts (consumption begins AFTER that snapshot)
            import json as _json

            from ..functions.iceberg import _latest_metadata
            with open(_latest_metadata(self.path)) as fh:
                refs = _json.load(fh).get("refs") or {}
            if self.start_ref not in refs:
                raise ValueError(
                    f"padawan_iceberg_appends: startingRef "
                    f"{self.start_ref!r} not in the table's refs; "
                    f"have {sorted(refs)}")
            start = refs[self.start_ref]["snapshot-id"]
        if not start:
            return 0
        snaps = self._snapshot_ids()
        if start not in snaps:
            raise ValueError(
                f"padawan_iceberg_appends: starting snapshot "
                f"{start} not in the table's snapshot log")
        return snaps.index(start) + 1

    def initialOffset(self):
        idx = self._initial_index()
        self._last_end = max(self._last_end or 0, idx)
        return {"i": idx}

    def _branch_head_index(self, snaps):
        """Resolve the followed branch's head to a snapshot-log
        index bound, enforcing ancestry continuity: once the stream
        has consumed up to head H, a later head must have H in its
        parent-snapshot-id chain — a retarget onto rewritten history
        raises instead of re-reading or skipping silently."""
        import json as _json

        from ..functions.iceberg import _latest_metadata
        with open(_latest_metadata(self.path)) as fh:
            meta = _json.load(fh)
        refs = meta.get("refs") or {}
        if self.follow_ref not in refs:
            raise ValueError(
                f"padawan_iceberg_appends: followRef "
                f"{self.follow_ref!r} not in the table's refs; "
                f"have {sorted(refs)}")
        head = refs[self.follow_ref]["snapshot-id"]
        if head not in snaps:
            raise ValueError(
                f"padawan_iceberg_appends: followRef head {head} "
                "not in the table's snapshot log")
        if self._follow_head is not None \
                and self._follow_head != head:
            parent_of = {s["snapshot-id"]: s.get("parent-snapshot-id")
                         for s in meta.get("snapshots", [])}
            anc, seen = head, set()
            while anc is not None and anc not in seen:
                if anc == self._follow_head:
                    break
                seen.add(anc)
                anc = parent_of.get(anc)
            else:
                anc = None
            if anc != self._follow_head:
                raise NotImplementedError(
                    f"padawan_iceberg_appends: branch "
                    f"{self.follow_ref!r} was retargeted to "
                    f"{head}, whose ancestry does not contain the "
                    f"previously-streamed head {self._follow_head} "
                    "— history was rewritten; restart the stream "
                    "from an explicit snapshot instead")
        self._follow_head = head
        return snaps.index(head) + 1

    def latestOffset(self):
        snaps = self._snapshot_ids()
        n = len(snaps)
        if self.follow_ref:
            n = min(n, self._branch_head_index(snaps))
        # Spark may poll latestOffset BEFORE initialOffset — falling
        # back to 0 here would throttle the first batch into a span
        # that re-reads pre-start snapshots
        last = (self._last_end if self._last_end is not None
                else self._initial_index())
        if self._max_snaps:
            n = min(n, last + self._max_snaps)
        return {"i": max(n, last)}

    def partitions(self, start, end):
        import json as _json

        from ..functions.iceberg import (_latest_metadata,
                                         _parse_part_spec,
                                         _raw_specs,
                                         _schema_inventory)
        lo_i, hi_i = start["i"], end["i"]
        self._last_end = max(self._last_end or 0, hi_i, lo_i)
        if hi_i <= lo_i:
            return [InputPartition(None)]
        snaps = self._snapshot_ids()
        # walk the span SNAPSHOT BY SNAPSHOT: each snapshot's added
        # files come from ONLY the manifests that snapshot itself
        # added (functions.iceberg.added_data_files — a live-set diff
        # would decode the FULL manifest list once per snapshot,
        # making first-trigger planning
        # O(backlog_snapshots x manifests); this is O(added files)
        # over the whole span).  Non-append snapshots raise per the
        # spec — unless the caller opted into Iceberg's streaming
        # skip options (streaming-skip-delete-snapshots /
        # streaming-skip-overwrite-snapshots): those snapshots then
        # contribute NOTHING and the walk continues past them.
        from ..functions.iceberg import added_data_files
        with open(_latest_metadata(self.path)) as fh:
            meta = _json.load(fh)
        op_of = {s["snapshot-id"]:
                 (s.get("summary") or {}).get("operation", "append")
                 for s in meta.get("snapshots", [])}
        added_files: list[tuple] = []   # (path, pv_items, fmt, spec)
        for sid_ in snaps[lo_i:hi_i]:
            op = op_of.get(sid_, "append")
            if op != "append":
                skip = ((op == "delete" and self._skip_deletes)
                        or (op == "overwrite"
                            and self._skip_overwrites))
                if not skip:
                    raise NotImplementedError(
                        f"padawan_iceberg_appends: snapshot {sid_} "
                        f"is a {op!r} snapshot — only append "
                        "snapshots stream incrementally, per the "
                        "spec; set skipDeleteSnapshots / "
                        "skipOverwriteSnapshots to skip them "
                        "(Iceberg's streaming-skip-* options)")
                continue                 # skipped: contributes nothing
            new_files, removed = added_data_files(self.path, sid_)
            if removed:
                raise NotImplementedError(
                    f"padawan_iceberg_appends: append snapshot "
                    f"{sid_} also removed files — malformed "
                    "snapshot summary")
            for p, pv, f, sp in new_files:
                added_files.append((p, tuple(sorted(pv.items())),
                                    f, sp))
        # every spec data format streams — parquet and ORC read
        # as Arrow tables in the task, Avro through the in-repo
        # decoder (row path: that decoder is row-wise by nature);
        # unknown formats still gate loudly
        bad_fmt = sorted({f for _p, _pv, f, _sp in added_files
                          if f not in ("PARQUET", "ORC", "AVRO")})
        if bad_fmt:
            raise NotImplementedError(
                "padawan_iceberg_appends: unsupported data file "
                f"format(s) {bad_fmt[:3]} in the stream span")
        # identity partition values re-attach per file in the task,
        # resolved under each file's OWN spec
        from ..functions.iceberg import _schema_fields_json
        fld_ids, _n_schemas = _schema_inventory(self.path)
        # nested columns: the task views their inner struct
        # fields to the schema's CURRENT names, verified against the
        # file's nested field ids
        nested_items = tuple(sorted(
            (nm, _json.dumps(f["type"]))
            for nm, f in _schema_fields_json(self.path).items()
            if not isinstance(f["type"], str)))
        # the field-id map rides each
        # partition so the read TASK resolves columns by the file's
        # parquet footer PARQUET:field_id — a schema-evolved table
        # (renamed columns, multiple schema versions) streams
        # correctly; the multi-schema gate is gone
        fid_items = tuple(sorted(
            (fid, name) for name, fid in fld_ids.items()))
        # v3 initial-defaults: a defaulted column added AFTER a
        # file's snapshot must stream as the DEFAULT, not null — the
        # same silent-NULL class as renamed nested leaves in this
        # stream.  Values resolve once at plan
        # time (an unsupported default type gates loudly here).
        from ..functions.iceberg import _ice_default_py, _ice_type_ddl
        dflt_items = tuple(sorted(
            (nm, _ice_default_py(f["initial-default"],
                                 _ice_type_ddl(f["type"]), nm))
            for nm, f in _schema_fields_json(self.path).items()
            if f.get("initial-default") is not None))
        name_of = {v: k for k, v in fld_ids.items()}
        ident_by_spec = {
            s: {fname: src for t, _p, src, fname
                in _parse_part_spec(sp, name_of) if t == "identity"}
            for s, sp in _raw_specs(meta).items()}
        return ([InputPartition(
            (p, f, pv_items,
             tuple(ident_by_spec.get(sp, {}).items()),
             fid_items, nested_items, dflt_items))
            for p, pv_items, f, sp in added_files]
            or [InputPartition(None)])

    def read(self, partition):
        if partition.value is None:
            return
        (p, fmt, pv_items, ident_items, fid_items,
         nested_items, dflt_items) = partition.value
        dflt = dict(dflt_items)
        pv = dict(pv_items)
        src_of = dict(ident_items)       # partition field -> column
        const = {src_of[f]: v for f, v in pv.items() if f in src_of}
        name_of_fid = dict(fid_items)    # field id -> current name
        if fmt == "AVRO":
            # the in-repo Avro decoder is row-wise by nature; field
            # ids ride the embedded writer schema's `field-id` attrs
            from ..functions.avro import (decode_avro_py,
                                          read_avro_header_file)
            schema, _c, _s, _pos = read_avro_header_file(p)
            with open(p, "rb") as fh:
                fields, rows = decode_avro_py(fh.read())
            fnames = [n for n, _t, _nl in fields]
            src_idx = {}
            node_of = {}
            for f, n in zip(schema["fields"], fnames):
                fid = f.get("field-id")
                logical = (name_of_fid.get(int(fid))
                           if fid is not None else None) or n
                src_idx[logical] = fnames.index(n)
                node_of[logical] = f
            conv = {}
            if nested_items:
                # nested-EVOLVED avro: renamed INNER fields
                # resolve per the writer schema's nested id
                # attributes — without this a pre-rename file's
                # renamed leaves would stream as silent NULLs
                import json as _json4

                from ..functions.iceberg import _ice_value_renamer
                from ..functions.nested import (_avro_schema_tree,
                                                match_tree_ice)
                for nm, tj in nested_items:
                    f = node_of.get(nm)
                    if f is None:
                        continue
                    lt = _json4.loads(tj)
                    pt = match_tree_ice(lt, _avro_schema_tree(f))
                    rn = _ice_value_renamer(pt, lt)
                    if rn is not None:
                        conv[nm] = rn
            for r in rows:
                yield tuple(
                    const[c] if c in const
                    else ((conv[c](r[src_idx[c]]) if c in conv
                           else r[src_idx[c]])
                          if c in src_idx else dflt.get(c))
                    for c in self.names)
            return
        # columns match by FIELD ID from the file's own footer:
        # a file written before a rename carries the old physical
        # name but the same id, so the current logical name resolves
        # to it here instead of silently nulling.  Parquet stamps
        # PARQUET:field_id; ORC stamps the spec's iceberg.id type
        # attribute — pyarrow surfaces both as field metadata.
        if fmt == "ORC":
            import pyarrow.orc as po
            tb = po.ORCFile(p).read()
            id_key = b"iceberg.id"
        else:
            import pyarrow.parquet as pq
            tb = pq.read_table(p)
            id_key = b"PARQUET:field_id"
        col_of = {}
        for fld in tb.schema:
            fid = (fld.metadata or {}).get(id_key)
            if fid is not None and int(fid) in name_of_fid:
                col_of[name_of_fid[int(fid)]] = fld.name
        if nested_items:
            # nested columns: view inner struct fields to the
            # schema's current names (zero-copy; verified against
            # the file's nested field ids — a rename streams, a
            # reorder/add gates)
            import json as _json3

            from ..functions.nested import arrow_ice_logical_view
            for nm, tj in nested_items:
                fc = col_of.get(nm, nm)
                idx = tb.schema.get_field_index(fc)
                if idx >= 0:
                    tb = tb.set_column(
                        idx, fc,
                        arrow_ice_logical_view(
                            tb.column(idx).combine_chunks(),
                            _json3.loads(tj), id_key=id_key))
        if dflt:
            # defaulted columns ABSENT from this file attach as typed
            # constants; present columns keep their stored values
            have = set(tb.schema.names)
            for c, v in dflt.items():
                if c not in const and col_of.get(c, c) not in have:
                    const[c] = v
        yield from _aligned_batches(tb, self.spark_schema,
                                    const=const, col_of=col_of)

    def commit(self, end):
        pass


class IcebergAppendsSource(DataSource):
    """``spark.readStream.format("padawan_iceberg_appends")`` —
    stream an Iceberg table's incremental append scan: per
    micro-batch, the rows of exactly the data files added by the new
    snapshots, walked snapshot-by-snapshot with each file's partition
    values/spec taken from its own snapshot's view.  Parquet and ORC
    files read as Arrow record batches in the task (columns resolved
    by field id — schema-evolved tables stream); Avro files decode
    through the in-repo reader.  Non-append snapshots raise per the
    spec unless ``skipDeleteSnapshots`` / ``skipOverwriteSnapshots``
    opt into Iceberg's streaming-skip-* behavior (those snapshots
    then contribute nothing and the walk continues)."""

    @classmethod
    def name(cls):
        return "padawan_iceberg_appends"

    def schema(self):
        from ..functions.iceberg import live_data_files
        fields, _sp, _f, _d = live_data_files(self.options["path"])
        return ", ".join(f"{n} {t}" for n, t in fields)

    def streamReader(self, schema):
        return _IcebergAppendsStreamReader(self.options, schema)


# Iceberg CHANGELOG stream: the streaming twin of
# functions.iceberg.read_iceberg_changes — per micro-batch, the
# row-level insert/delete changes of the new snapshots (added files'
# rows, removed files' rows, v3 deletion-vector deltas), tagged
# _change_type + _commit_snapshot_id.  Offsets are positions in the
# commit-ordered snapshot list (random snapshot ids can't reorder);
# each snapshot diffs against its OWN parent, so the emitted change
# set is chain-exact.  One InputPartition per changed file / DV —
# task-parallel; DV predecessor vectors decode in the task.
class _IcebergChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema):
        self.path = options["path"]
        self.start_snapshot = int(options.get("startingSnapshotId",
                                              0))
        self._max_snaps = int(options.get("maxSnapshotsPerTrigger",
                                          0))
        self._last_end = None
        self.spark_schema = schema
        self.names = list(schema.names)

    def _snapshot_ids(self):
        import json as _json

        from ..functions.iceberg import _latest_metadata
        with open(_latest_metadata(self.path)) as fh:
            meta = _json.load(fh)
        return [s["snapshot-id"]
                for s in sorted(meta.get("snapshots", []),
                                key=lambda s: (
                                    s.get("sequence-number", 0),
                                    s["snapshot-id"]))]

    def _initial_index(self):
        if not self.start_snapshot:
            return 0
        snaps = self._snapshot_ids()
        if self.start_snapshot not in snaps:
            raise ValueError(
                f"padawan_iceberg_changes: starting snapshot "
                f"{self.start_snapshot} not in the snapshot log")
        return snaps.index(self.start_snapshot) + 1

    def initialOffset(self):
        idx = self._initial_index()
        self._last_end = max(self._last_end or 0, idx)
        return {"i": idx}

    def latestOffset(self):
        n = len(self._snapshot_ids())
        last = (self._last_end if self._last_end is not None
                else self._initial_index())
        if self._max_snaps:
            n = min(n, last + self._max_snaps)
        return {"i": max(n, last)}

    def partitions(self, start, end):
        import json as _json

        from ..functions.iceberg import (_latest_metadata,
                                         _live_files_of,
                                         _lookup_partitions,
                                         _parse_part_spec,
                                         _raw_specs,
                                         _schema_inventory,
                                         _snapshot_changes)
        lo_i, hi_i = start["i"], end["i"]
        self._last_end = max(self._last_end or 0, hi_i, lo_i)
        if hi_i <= lo_i:
            return [InputPartition(None)]
        with open(_latest_metadata(self.path)) as fh:
            meta = _json.load(fh)
        from ..functions.iceberg import (_ice_default_py,
                                         _ice_type_ddl,
                                         _schema_fields_json)
        by_id = {s["snapshot-id"]: s
                 for s in meta.get("snapshots", [])}
        # identity partition values attach by SOURCE COLUMN, resolved
        # under each file's own spec (an identity field
        # whose NAME differs from its source column must still fill
        # that column — keying the const by field name silently
        # null-fills it; the batch changelog and the appends stream
        # both resolve field name -> source column the same way)
        fld_ids, _ns = _schema_inventory(self.path)
        name_of = {v: k for k, v in fld_ids.items()}
        ident_by_spec = {
            s: {fname: src for t, _p, src, fname
                in _parse_part_spec(sp, name_of) if t == "identity"}
            for s, sp in _raw_specs(meta).items()}
        # field-id map + v3 initial-defaults ride every partition so
        # the task resolves a renamed column to its old physical name
        # and fills columns absent from pre-add files (the
        # appends stream's shape; threaded through the partition
        # tuple because read() runs on a worker-side copy of this
        # reader, not the driver instance)
        fid_items = tuple(sorted(
            (fid, nm) for nm, fid in fld_ids.items()))
        dflt_items = tuple(sorted(
            (nm, _ice_default_py(f["initial-default"],
                                 _ice_type_ddl(f["type"]), nm))
            for nm, f in _schema_fields_json(self.path).items()
            if f.get("initial-default") is not None))
        # nested columns: the task views inner struct fields
        # to the schema's CURRENT names, verified against the file's
        # nested field ids — the appends stream's shape; with this
        # the changes stream reads EVERY schema-evolution class the
        # batch changelog reads
        nested_items = tuple(sorted(
            (nm, _json.dumps(f["type"]))
            for nm, f in _schema_fields_json(self.path).items()
            if not isinstance(f["type"], str)))
        resolve = (fid_items, dflt_items, nested_items)

        def _iid(sp):
            return tuple(sorted(ident_by_spec.get(sp, {}).items()))

        parts = []
        snaps = self._snapshot_ids()
        # status-based per-snapshot planning (shared with the batch
        # changelog): only the manifests each snapshot itself added
        # decode — O(changed entries), never a live-set walk.  v2
        # delete files: position-delete targets resolve by a
        # column-pruned driver read of the NEW delete files'
        # ``file_path`` column (planning metadata, O(delete file));
        # an equality delete's affected set is the parent's live
        # files below its sequence number — its honest scope.
        for sid in snaps[lo_i:hi_i]:
            if ((by_id[sid].get("summary") or {})
                    .get("operation") == "replace"):
                continue    # compaction: no logical row change
            (added, removed, new_dvs, prev_dvs,
             new_pos, new_eq, prev_pos, prev_eq) = _snapshot_changes(
                self.path, meta, by_id, sid,
                by_id[sid].get("parent-snapshot-id"))
            prev_any = bool(prev_pos or prev_eq or prev_dvs)

            def _prev_bundle(p):
                # the parent's delete artifacts that can apply to
                # data file p — what "already dead" diffs against
                if not prev_any:
                    return None
                return (tuple(prev_pos), tuple(prev_eq),
                        prev_dvs.get(p))

            for p, (pvals, sp, seq) in sorted(added.items()):
                parts.append(InputPartition(
                    ("file", sid, "insert", p,
                     tuple(sorted(pvals.items())), _iid(sp),
                     int(seq), None, resolve)))
            for p, (pvals, sp, seq) in sorted(removed.items()):
                parts.append(InputPartition(
                    ("file", sid, "delete", p,
                     tuple(sorted(pvals.items())), _iid(sp),
                     int(seq), _prev_bundle(p), resolve)))
            if new_pos or new_eq:
                affected = {}
                if new_pos:
                    import pyarrow.parquet as _pq
                    refs = set()
                    for dp in new_pos:
                        col = _pq.read_table(
                            dp, columns=["file_path"]
                        ).column("file_path").to_pylist()
                        refs.update(self._norm_path(v)
                                    for v in col)
                    refs -= set(removed)
                    take = {r: added[r] for r in refs
                            if r in added}
                    missing = refs - set(take)
                    if missing:
                        take.update(_lookup_partitions(
                            self.path, meta, by_id, sid, missing))
                    affected.update(take)
                if new_eq:
                    max_dseq = max(s2 for _p, s2, _e in new_eq)
                    psid = by_id[sid].get("parent-snapshot-id")
                    if psid is not None and psid in by_id:
                        for p2, v in _live_files_of(
                                self.path, meta, by_id,
                                psid).items():
                            if v[2] < max_dseq \
                                    and p2 not in removed:
                                affected.setdefault(p2, v)
                new_bundle = (tuple(new_pos), tuple(new_eq), None)
                for p, (pvals, sp, seq) in sorted(
                        affected.items()):
                    parts.append(InputPartition(
                        ("v2del", sid, "delete", p,
                         tuple(sorted(pvals.items())), _iid(sp),
                         int(seq), _prev_bundle(p), new_bundle,
                         resolve)))
            dv_items = []
            for ref, new in sorted(new_dvs.items()):
                if ref in removed:
                    continue
                old = prev_dvs.get(ref)
                if old == new:
                    continue
                dv_items.append((ref, new, old))
            if dv_items:
                need = {ref for ref, _n, _o in dv_items}
                pv_of = {r: added[r] for r in need if r in added}
                pv_of.update(_lookup_partitions(
                    self.path, meta, by_id, sid,
                    need - set(pv_of)))
                for ref, new, old in dv_items:
                    pvals, sp, _sq = pv_of[ref]
                    parts.append(InputPartition(
                        ("dv", sid, "delete", ref,
                         tuple(sorted(pvals.items())), _iid(sp),
                         new, old, resolve)))
        return parts or [InputPartition(None)]

    def _norm_path(self, v):
        """A delete file's recorded file_path (URI / table-relative)
        -> plain absolute path."""
        import os as _os
        if v.startswith("file:"):
            v = "/" + v[5:].lstrip("/")
        if not v.startswith("/"):
            v = _os.path.join(_os.path.abspath(self.path), v)
        return v

    def _dead_positions(self, p, seq, bundle, fid_items=()):
        """Row positions of data file ``p`` (sequence ``seq``) dead
        under ``(pos_paths, eq_items, dv_entry)`` — computed IN THE
        TASK from the delete artifacts themselves: position files
        filter to this file's path, equality files match null-safely
        under the strict ``seq < dseq`` scope, a DV decodes its
        bitmap.  Equality columns resolve by footer FIELD ID on
        evolved tables (a delete file or data file written
        before a rename carries the old physical name; reading by
        the current name would null-fill and silently skip the
        delete) and gate loudly when unresolvable."""
        import pyarrow.parquet as pq

        from ..functions.iceberg import _read_puffin_dv
        fid_of = {nm: fid for fid, nm in fid_items}

        def _col(t2, name, src):
            fid = fid_of.get(name)
            if fid is not None:
                for fld in t2.schema:
                    m = (fld.metadata or {}).get(
                        b"PARQUET:field_id")
                    if m is not None and int(m) == fid:
                        return t2.column(fld.name).to_pylist()
            if name in t2.schema.names:
                return t2.column(name).to_pylist()
            raise NotImplementedError(
                f"padawan_iceberg_changes: cannot resolve "
                f"equality-delete column {name!r} in {src!r} "
                "(no matching footer field id and no such name)")

        pos_paths, eq_items, dv = bundle
        dead = set()
        for dp in pos_paths:
            t2 = pq.read_table(dp, columns=["file_path", "pos"])
            for fp, pos in zip(t2.column("file_path").to_pylist(),
                               t2.column("pos").to_pylist()):
                if self._norm_path(fp) == p:
                    dead.add(int(pos))
        if eq_items:
            tb = None
            for ep, dseq, enames in eq_items:
                if not (seq < dseq):
                    continue
                t2 = pq.read_table(ep)
                vals = set(zip(*[_col(t2, c, ep)
                                 for c in enames]))
                if tb is None:
                    tb = pq.read_table(p)
                cols = [_col(tb, c, p) for c in enames]
                for i, tup in enumerate(zip(*cols)):
                    if tup in vals:
                        dead.add(i)
        if dv is not None:
            dead.update(_read_puffin_dv(*dv))
        return dead

    def read(self, partition):
        if partition.value is None:
            return
        import pyarrow.parquet as pq

        from ..functions.iceberg import _read_puffin_dv
        kind = partition.value[0]
        if kind == "file":
            (_k, sid, ctype, p, pv, iid, seq,
             prev_bundle, resolve) = partition.value
            tb = pq.read_table(p)
            if ctype == "delete" and prev_bundle is not None:
                # rows already dead at the parent were deleted in
                # EARLIER snapshots — a removed file emits only its
                # live rows
                dead_prev = self._dead_positions(p, seq,
                                                 prev_bundle,
                                                 resolve[0])
                if dead_prev:
                    tb = tb.take(sorted(
                        set(range(tb.num_rows)) - dead_prev))
        elif kind == "v2del":
            (_k, sid, ctype, p, pv, iid, seq, prev_bundle,
             new_bundle, resolve) = partition.value
            dead_new = self._dead_positions(p, seq, new_bundle,
                                            resolve[0])
            if prev_bundle is not None:
                dead_new -= self._dead_positions(p, seq,
                                                 prev_bundle,
                                                 resolve[0])
            tb = pq.read_table(p).take(sorted(dead_new))
        else:
            (_k, sid, ctype, p, pv, iid, new, old,
             resolve) = partition.value
            tb = pq.read_table(p)
            pos = _read_puffin_dv(*new)
            if old is not None:
                base = set(_read_puffin_dv(*old))
                pos = [x for x in pos if x not in base]
            tb = tb.take(sorted(pos))
        # schema evolution: the file's footer field ids
        # resolve renamed columns to their old physical names,
        # defaulted columns absent from pre-add files attach as
        # typed constants, and NESTED columns re-view their inner
        # fields to the current names by nested field id — the
        # appends stream's shape
        fid_items, dflt_items, nested_items = resolve
        name_of_fid = dict(fid_items)
        col_of = {}
        for fld in tb.schema:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None and int(fid) in name_of_fid:
                col_of[name_of_fid[int(fid)]] = fld.name
        if nested_items:
            import json as _json3

            from ..functions.nested import arrow_ice_logical_view
            for nm, tj in nested_items:
                fc = col_of.get(nm, nm)
                idx = tb.schema.get_field_index(fc)
                if idx >= 0:
                    tb = tb.set_column(
                        idx, fc,
                        arrow_ice_logical_view(
                            tb.column(idx).combine_chunks(),
                            _json3.loads(tj),
                            id_key=b"PARQUET:field_id"))
        # partition FIELD name -> SOURCE column: the
        # manifest's partition tuple keys by field name; the row's
        # column is the spec's source — identical for the common
        # same-named identity field, different after a field rename
        src_of = dict(iid)
        const = {src_of[f]: v for f, v in dict(pv).items()
                 if f in src_of}
        if dflt_items:
            have = set(tb.schema.names)
            for c, v in dflt_items:
                if c not in const and col_of.get(c, c) not in have:
                    const[c] = v
        const["_change_type"] = ctype
        const["_commit_snapshot_id"] = int(sid)
        yield from _aligned_batches(tb, self.spark_schema,
                                    const=const, col_of=col_of)

    def commit(self, end):
        pass


class IcebergChangesSource(DataSource):
    """``spark.readStream.format("padawan_iceberg_changes")`` — the
    Iceberg CHANGELOG as a stream: per micro-batch, the row-level
    insert/delete changes of the new snapshots (added files' rows,
    removed files' rows minus their already-dead rows, v3
    deletion-vector deltas — a replacement vector contributes only
    its NEW positions — and rows newly dead under v2
    position-delete / equality-delete files the snapshot added),
    each row tagged ``_change_type`` /
    ``_commit_snapshot_id``.  Snapshots whose operation is
    ``replace`` (compactions) emit nothing.  Options:
    ``startingSnapshotId`` (consume AFTER it),
    ``maxSnapshotsPerTrigger``.  Parquet data files only; EVERY
    schema-evolution class the batch changelog reads streams too:
    columns resolve by the file's footer field ids in the
    task, initial-defaults fill pre-add files, and nested columns
    re-view their inner fields to the current names by nested field
    id."""

    @classmethod
    def name(cls):
        return "padawan_iceberg_changes"

    def schema(self):
        from ..functions.iceberg import live_data_files
        fields, _sp, _f, _d = live_data_files(self.options["path"])
        return (", ".join(f"{n} {t}" for n, t in fields)
                + ", _change_type string, "
                  "_commit_snapshot_id bigint")

    def streamReader(self, schema):
        return _IcebergChangesStreamReader(self.options, schema)
