"""Dataset facade: padawan's partitioned-dataset API re-expressed on Spark.

The reference's ``Dataset`` is an ordered list of lazy partitions with
index columns and per-partition null-first lexicographic bounds
(``/root/reference/src/padawan/dataset.py:59-124``).  Here a Dataset is a
thin metadata companion around a ``pyspark.sql.DataFrame``:

- the DataFrame *is* the logical plan — slicing, joining, mapping, and
  repartitioning are expressed declaratively so Catalyst/AQE perform the
  pruning, pushdown, join-strategy selection, and partition coalescing
  that the reference implements by hand in wrapper-class constructors
  (survey §4 rows 1-13);
- the metadata (index columns, per-partition sizes/bounds) is carried as
  small driver-side lists, exactly like the reference's manifest, and is
  *advisory*: correctness never depends on it (parquet footer stats and
  AQE runtime stats are the real drivers at scale).

Scale stance (100 TB): what reaches the driver is bounded by file or
partition count, or by a batch that is small by contract, never by table
size:

- per-file stats, read from parquet footers on the driver
  (:func:`_footer_stats`), or one stat row per file or partition from a
  distributed job when a footer cannot give them;
- the index keys of a :func:`merge_rows` batch;
- the bloom words :func:`build_bloom_index` collects, at most files x
  words;
- whatever an explicit ``collect()`` asks for.

All pruning predicates are Catalyst boolean trees that push into parquet
scans.
"""

from __future__ import annotations

import bisect
import contextlib
import decimal
import functools
import glob as _glob
import itertools
import json
import math
import os
import shutil
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, ByteType, DateType,
                               DecimalType, DoubleType, FloatType,
                               IntegerType, LongType, ShortType, StringType,
                               StructField, StructType, TimestampNTZType,
                               TimestampType, _parse_datatype_string)

from . import metadata as _meta
from . import ordering as _ord


class StatsUnknownError(Exception):
    """Raised when an operation needs sizes/bounds that were never computed.

    Parity with ``/root/reference/src/padawan/dataset.py:51-52``."""


class AppendError(Exception):
    """Raised on index-column mismatch when appending
    (``/root/reference/src/padawan/dataset.py:364-381``)."""


#: Sentinel for ``partition_ids``: the slot→physical-partition mapping is
#: genuinely unknown (e.g. a concat that had to fall back to a DataFrame
#: union over a file-backed child, whose scan packs files into
#: FilePartitions largest-first).  Partition ACCESS fails loudly instead of
#: silently addressing the wrong partitions; ``reindex()`` recomputes the
#: true mapping with a stats job.
PIDS_UNKNOWN = "unknown"


def _wrap_polars_body(inner):
    """Adapt a polars-frame ``map`` body to the pandas ``mapInPandas``
    contract (reference bodies are written against polars —
    ``mapped_dataset.py:61-69``): each Arrow batch round-trips
    pandas -> ``pl.from_pandas(...).lazy()`` -> body -> ``collect()``
    (when the body returns a LazyFrame) -> ``to_pandas()``.  Runs on
    executors; module-level so the dispatch protocol is unit-testable
    with a stub polars where the real library cannot be installed."""
    def wrapped(pdf, *a, **kw):
        import polars as pl
        out = inner(pl.from_pandas(pdf).lazy(), *a, **kw)
        if isinstance(out, pl.LazyFrame):
            out = out.collect()
        return out.to_pandas()
    return wrapped


def _require(cond: bool, exc: type[Exception], msg: str):
    if not cond:
        raise exc(msg)


@contextlib.contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """``key`` set to ``value`` on the session for the block, then
    restored.  The conf is session-global: a query running concurrently
    on the same session sees it too."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


class Dataset:
    """A Spark DataFrame plus partition-topology metadata.

    Parameters
    ----------
    df : DataFrame
        The logical plan.  For file-backed datasets pass ``files`` instead
        and the scan is constructed (and re-constructed after pruning).
    index_columns : tuple[str, ...]
        Columns the dataset is ordered/sliced/joined on.
    sizes, lower_bounds, upper_bounds
        Optional per-partition stats (None = unknown), same tri-state as
        the reference (``dataset.py:139-151``).
    """

    def __init__(
        self,
        spark: SparkSession,
        df: DataFrame | None = None,
        *,
        files: list[str] | None = None,
        index_columns: Sequence[str] = (),
        sizes: list[int] | None = None,
        lower_bounds: list[tuple] | None = None,
        upper_bounds: list[tuple] | None = None,
        schema: StructType | None = None,
        residual=None,
        partition_ids: list[int] | None = None,
    ):
        self.spark = spark
        self._files = list(files) if files is not None else None
        # Residual slice predicate (a Catalyst Column over unresolved
        # F.col refs).  For file-backed datasets the per-partition view in
        # __getitem__ re-reads the raw file, so the predicate must be
        # re-applied there (reference applies the residual per partition,
        # sliced_dataset.py:137-167).
        self._residual = residual
        # Physical spark_partition_id for each metadata slot.  reindex()
        # drops empty partitions from sizes/bounds; without this mapping,
        # ds[i] and sizes[i] would refer to different partitions whenever
        # any partition is empty.  None = identity.
        if partition_ids is PIDS_UNKNOWN:
            self._partition_ids = PIDS_UNKNOWN
        else:
            self._partition_ids = (list(partition_ids)
                                   if partition_ids is not None else None)
        if df is None:
            _require(files is not None, ValueError, "need df or files")
            if self._files:
                df = _read_files(spark, self._files, schema, residual)
            else:
                _require(schema is not None, ValueError,
                         "zero-partition dataset requires an explicit schema")
                df = _local_df(spark, [], schema)
        self.df = df
        self.index_columns = tuple(index_columns)
        self._sizes = list(sizes) if sizes is not None else None
        self._lower_bounds = list(lower_bounds) if lower_bounds is not None else None
        self._upper_bounds = list(upper_bounds) if upper_bounds is not None else None
        # Every partition of ``df`` is sorted null-first by the index
        # columns, so each parquet file a write makes from one is too
        # and its bounds are its first and last rows (_file_stats).
        # Only repartition sets it.
        self._index_sorted = False

    # ------------------------------------------------------------------
    # Metadata properties (parity: dataset.py:126-226)
    # ------------------------------------------------------------------

    @property
    def known_sizes(self) -> bool:
        return self._sizes is not None

    @property
    def known_bounds(self) -> bool:
        return self._lower_bounds is not None and self._upper_bounds is not None

    @property
    def known_schema(self) -> bool:
        return True  # Spark schemas are always known after analysis

    @property
    def sizes(self) -> list[int]:
        _require(self.known_sizes, StatsUnknownError,
                 "sizes unknown; call reindex() first")
        return list(self._sizes)

    @property
    def lower_bounds(self) -> list[tuple]:
        _require(self.known_bounds, StatsUnknownError,
                 "bounds unknown; call reindex() first")
        return list(self._lower_bounds)

    @property
    def upper_bounds(self) -> list[tuple]:
        _require(self.known_bounds, StatsUnknownError,
                 "bounds unknown; call reindex() first")
        return list(self._upper_bounds)

    @property
    def schema(self) -> StructType:
        return self.df.schema

    # ------------------------------------------------------------------
    # Partition access (parity: dataset.py:267-294)
    # ------------------------------------------------------------------

    def __len__(self) -> int:
        if self._files is not None:
            return len(self._files)
        if self.known_sizes:
            return len(self._sizes)
        return self.df.rdd.getNumPartitions()

    def __getitem__(self, i: int) -> DataFrame:
        n = len(self)
        if i < 0:
            i += n
        _require(0 <= i < n, IndexError, f"partition {i} out of range ({n})")
        if self._files is not None:
            return _read_files(self.spark, [self._files[i]], self.df.schema,
                               self._residual)
        _require(self._partition_ids is not PIDS_UNKNOWN, StatsUnknownError,
                 "physical partition mapping unknown (concat over a "
                 "file-backed input); call reindex() to recompute it")
        pid = self._partition_ids[i] if self._partition_ids is not None else i
        return self.df.where(F.spark_partition_id() == F.lit(pid))

    def __iter__(self) -> Iterator[DataFrame]:
        for i in range(len(self)):
            yield self[i]

    # ------------------------------------------------------------------
    # reindex: stats collection (parity: reindexed_dataset.py:95-141)
    # ------------------------------------------------------------------

    def reindex(self, index_columns: Sequence[str] | None = None,
                collect_stats: bool = True) -> "Dataset":
        ix = self.index_columns if index_columns is None else tuple(index_columns)
        # no-op shortcut (reindexed_dataset.py:129-132) — except when the
        # physical partition mapping is unknown: then the stats job below
        # is exactly what recomputes it
        if (ix == self.index_columns and self.known_sizes
                and (self.known_bounds or not ix)
                and self._partition_ids is not PIDS_UNKNOWN):
            return self
        # prefix fast path: truncate bounds in metadata only, no data pass
        # (reindexed_dataset.py:34-44)
        if (collect_stats and self.known_sizes and self.known_bounds
                and self._partition_ids is not PIDS_UNKNOWN
                and ix == self.index_columns[: len(ix)]):
            k = len(ix)
            return self._with_meta(
                index_columns=ix,
                lower_bounds=[b[:k] for b in self._lower_bounds],
                upper_bounds=[b[:k] for b in self._upper_bounds],
            )
        if not collect_stats:
            return self._with_meta(index_columns=ix, sizes=None,
                                   lower_bounds=None, upper_bounds=None)
        if self._files is not None:
            # file-backed: stats per FILE, in manifest order.  Runtime
            # spark_partition_id order is NOT file order (Spark packs splits
            # largest-first) — partition identity must come from the manifest
            # (survey §7.4 trap 6).  Empty files are dropped
            # (reindexed_dataset.py:59-67).  Without a residual the stats
            # come from the files' footers where they are exact.
            stats = _file_stats(self.spark, self._files, ix,
                                self.df.schema, self._residual)
            kept = [f for f in self._files if os.path.abspath(f) in stats]
            st = [stats[os.path.abspath(f)] for f in kept]
            return Dataset(self.spark, files=kept, index_columns=ix,
                           schema=self.df.schema,
                           sizes=[s[0] for s in st],
                           lower_bounds=[s[1] for s in st],
                           upper_bounds=[s[2] for s in st],
                           residual=self._residual)
        # one row per non-empty physical partition, ordered by its id
        stats = _index_stats(self.df, F.spark_partition_id(), ix)
        nonempty = sorted(stats)
        return self._with_meta(index_columns=ix,
                               sizes=[stats[i][0] for i in nonempty],
                               lower_bounds=[stats[i][1] for i in nonempty],
                               upper_bounds=[stats[i][2] for i in nonempty],
                               partition_ids=nonempty)

    # ------------------------------------------------------------------
    # map: per-partition escape hatch (parity: mapped_dataset.py:72-143)
    # ------------------------------------------------------------------

    def map(self, func: Callable, schema: StructType | str | None = None,
            index_columns: Sequence[str] | None = None,
            preserves: str = "none", shared_args: dict | None = None,
            extra_args: Sequence[tuple] | None = None,
            engine: str = "pandas") -> "Dataset":
        """Apply ``func(frame, *extra, **shared_args) -> frame`` per
        partition.

        ``engine`` selects the frame type handed to ``func``:

        - ``"pandas"`` (default): a ``pandas.DataFrame`` in, one out.
        - ``"polars"``: reference-compatibility shim — ``func`` receives a
          ``polars.LazyFrame`` (built zero-copy-ish from the Arrow batch)
          and may return a polars LazyFrame or DataFrame, so reference
          ``map`` bodies (``mapped_dataset.py:61-69``, e.g.
          ``lambda df: df.with_columns((2*pl.col('a')).alias('b'))``)
          run unmodified.  Requires ``polars`` to be importable (it is
          optional — absent in some deployments; an ImportError at call
          time names the missing package).  Pass ``schema`` whenever the
          output columns differ from the input.

        The reference applies a polars function per partition and lets the
        caller declare what metadata survives (``preserves`` in
        {'none','sizes','bounds','all'}, an unchecked contract —
        ``mapped_dataset.py:126-129``).  ``shared_args`` mirrors the
        reference's broadcast closure args (``mapped_dataset.py:96-104``):
        values are captured once in the task closure (Spark broadcasts the
        serialized function to executors).  Implemented with ``mapInPandas``
        (Arrow-batched); prefer native column expressions where possible —
        this is the slow path.

        ``extra_args`` is the reference's per-partition positional-args
        list (``mapped_dataset.py:96-104``): one tuple per partition,
        unpacked into the call for that partition.  Naive positional
        indexing is not stable across shuffles, so partition identity is
        resolved by KEY, not position: file path for file-backed datasets
        (each row tagged executor-side with its source file), physical
        ``spark_partition_id`` otherwise (mapped through the recorded
        partition-id list when empty partitions were dropped).  Rows are
        buffered per partition key across the task's Arrow batches so
        ``func`` is invoked exactly once per partition with all its rows
        (non-row-local funcs — per-partition aggregates, row numbering —
        are safe).  Divergences from the reference: partitions that
        produce no rows (empty after a residual filter) never invoke
        ``func``; and a single file big enough to be SPLIT ACROSS TASKS
        (> ``spark.sql.files.maxPartitionBytes``) would invoke ``func``
        once per task — keep per-partition files below that size when
        using ``extra_args``.
        """
        _require(preserves in ("none", "sizes", "bounds", "all"), ValueError,
                 f"preserves must be one of none/sizes/bounds/all: {preserves}")
        _require(engine in ("pandas", "polars"), ValueError,
                 f"engine must be pandas or polars: {engine}")
        ix = self.index_columns if index_columns is None else tuple(index_columns)
        out_schema = schema if schema is not None else self.df.schema
        kwargs = dict(shared_args or {})

        if engine == "polars":
            import polars  # noqa: F401 — fail fast on the driver
            func = _wrap_polars_body(func)

        if extra_args is None:
            def apply(it):
                import pandas as pd  # noqa: F401
                for pdf in it:
                    yield func(pdf, **kwargs)

            new_df = self.df.mapInPandas(apply, out_schema)
        else:
            n = len(self)  # raises StatsUnknownError when count unknown
            _require(len(extra_args) == n, ValueError,
                     f"extra_args has {len(extra_args)} entries for "
                     f"{n} partitions")
            args_list = [tuple(a) for a in extra_args]
            key_col = "__padawan_slot__"
            if self._files is not None:
                slot_of = {os.path.abspath(f): i
                           for i, f in enumerate(self._files)}
                tagged = self.df.withColumn(key_col, _file_path())
            else:
                _require(self._partition_ids is not PIDS_UNKNOWN,
                         StatsUnknownError,
                         "physical partition mapping unknown (concat over a "
                         "file-backed input); call reindex() before "
                         "map(extra_args=...)")
                pids = self._partition_ids or list(range(n))
                slot_of = {pid: i for i, pid in enumerate(pids)}
                tagged = self.df.withColumn(key_col, F.spark_partition_id())

            def apply(it):
                import pandas as pd
                # one task may carry several partitions' rows (coalesced
                # file splits), and one partition arrives as SEVERAL Arrow
                # batches (maxRecordsPerBatch) — buffer per key across the
                # whole task so func runs exactly once per partition with
                # all its rows, matching the reference contract
                # (mapped_dataset.py:61-69).  Residual fragmentation: a
                # single file large enough to split across *tasks* would
                # still invoke func once per task; keep such inputs below
                # spark.sql.files.maxPartitionBytes (docstring).
                bufs: dict = {}
                for pdf in it:
                    for key, g in pdf.groupby(key_col, sort=False):
                        bufs.setdefault(key, []).append(
                            g.drop(columns=[key_col]))
                for key, frames in bufs.items():
                    slot = slot_of[key]
                    whole = (frames[0] if len(frames) == 1
                             else pd.concat(frames, ignore_index=True))
                    yield func(whole, *args_list[slot], **kwargs)

            new_df = tagged.mapInPandas(apply, out_schema)
        keep_sizes = preserves in ("sizes", "all")
        # bounds survive only if the new index is a prefix of the old
        # (mapped_dataset.py:24-27, :38-47)
        keep_bounds = (preserves in ("bounds", "all")
                       and ix == self.index_columns[: len(ix)])
        k = len(ix)
        return Dataset(
            self.spark, new_df, index_columns=ix,
            sizes=self._sizes if keep_sizes else None,
            lower_bounds=[b[:k] for b in self._lower_bounds]
            if keep_bounds and self.known_bounds else None,
            upper_bounds=[b[:k] for b in self._upper_bounds]
            if keep_bounds and self.known_bounds else None,
            partition_ids=self._partition_ids,  # mapInPandas is 1:1 per partition
        )

    # ------------------------------------------------------------------
    # rename (parity: renamed_dataset.py:40-51)
    # ------------------------------------------------------------------

    def rename(self, mapping: dict[str, str]) -> "Dataset":
        new_df = self.df.withColumnsRenamed(mapping)
        new_ix = tuple(mapping.get(c, c) for c in self.index_columns)
        # residual is dropped: it references pre-rename column names and the
        # result is no longer file-backed, so it is already baked into df
        return Dataset(self.spark, new_df, index_columns=new_ix,
                       sizes=self._sizes, lower_bounds=self._lower_bounds,
                       upper_bounds=self._upper_bounds,
                       partition_ids=self._partition_ids)

    # ------------------------------------------------------------------
    # slice: lexicographic range selection (parity: sliced_dataset.py:8-194)
    # ------------------------------------------------------------------

    def slice(self, lb: Sequence | None = None, ub: Sequence | None = None,
              inclusive: str = "lower") -> "Dataset":
        """Select rows with index tuple in the given lexicographic range.

        ``lb``/``ub`` may be prefixes of the index columns.  ``inclusive``
        ∈ {'none','lower','upper','both'}.  The reference prunes partitions
        at plan time and attaches residual filters per partition
        (``sliced_dataset.py:41-167``); here the residual predicate is a
        single Catalyst filter (pushed into the scan → row-group skipping),
        and file-level pruning is done on the manifest when bounds are
        known — same effect, one expression.
        """
        lo_incl, hi_incl = _ord.inclusive_ends(inclusive)
        _require(self.index_columns != (), ValueError,
                 "slice requires index columns")
        ix = self.index_columns
        # bounds compared, here and in the predicate, as Spark orders
        # them: a naive TIMESTAMP literal would be converted by mktime,
        # which resolves a repeated DST hour either way
        order = _ord.spark_order(self.df.schema, ix)
        olb, oub = order(lb), order(ub)
        cond = _ord.range_predicate(ix, olb, oub, inclusive)
        # Compose with any prior residual: a file-backed re-slice rebuilds
        # the scan from raw files, so ALL predicates applied so far must be
        # carried, not just this call's.
        residual = self._residual
        if cond is not None:
            residual = cond if residual is None else (residual & cond)

        # --- metadata/file pruning when bounds are known -----------------
        files = self._files
        sizes, lbs, ubs = self._sizes, self._lower_bounds, self._upper_bounds
        pids = self._partition_ids
        if self.known_bounds:
            keep, new_sizes, new_lbs, new_ubs = [], [], [], []
            n = len(self._lower_bounds)
            if pids is None and files is None:
                # pruning metadata without repartitioning the DataFrame:
                # record which physical partitions the kept slots map to
                pids = list(range(n))
            for i in range(n):
                plb, pub = self._lower_bounds[i], self._upper_bounds[i]
                oplb, opub = order(plb), order(pub)
                if not _overlaps(oplb, opub, olb, oub, lo_incl, hi_incl):
                    continue
                keep.append(i)
                inside = _contained(oplb, opub, olb, oub, lo_incl, hi_incl)
                new_sizes.append(self._sizes[i] if (self.known_sizes and inside) else None)
                new_lbs.append(_clamp_lb(plb, lb, len(ix), lo_incl, order))
                new_ubs.append(_clamp_ub(pub, ub, len(ix), hi_incl, order))
            sizes = new_sizes if all(s is not None for s in new_sizes) else None
            lbs, ubs = new_lbs, new_ubs
            if pids is not None:
                pids = [pids[i] for i in keep]
            if files is not None:
                files = [files[i] for i in keep]
                if not files:
                    return Dataset(self.spark, index_columns=ix, files=[],
                                   schema=self.df.schema, sizes=[],
                                   lower_bounds=[], upper_bounds=[])
                # the recorded schema, not the surviving files' own: the
                # columns must not depend on which files survive pruning
                return Dataset(self.spark, files=files, index_columns=ix,
                               sizes=sizes, lower_bounds=lbs, upper_bounds=ubs,
                               schema=self.df.schema, residual=residual)
        new_df = self.df.where(cond) if cond is not None else self.df
        return Dataset(self.spark, new_df, index_columns=ix,
                       sizes=sizes, lower_bounds=lbs, upper_bounds=ubs,
                       residual=residual, partition_ids=pids)

    # ------------------------------------------------------------------
    # join (parity: joined_dataset.py:7-85)
    # ------------------------------------------------------------------

    def join(self, other: "Dataset", how: str = "inner") -> "Dataset":
        """Equi-join on the shared index columns.

        The reference requires identical index columns on both sides and
        supports inner/left/full only (``joined_dataset.py:22-28``); its
        hand-built division-point merge join is exactly what Spark's
        shuffle sort-merge join (or broadcast-hash under AQE, when one
        side is small) does natively.
        """
        _require(self.index_columns == other.index_columns, ValueError,
                 "both datasets must have the same index columns")
        _require(len(self.index_columns) > 0, ValueError,
                 "join requires index columns")
        _require(how in ("inner", "left", "full"), ValueError,
                 f"how must be inner/left/full: {how}")
        ix = list(self.index_columns)
        dup = (set(self.df.columns) & set(other.df.columns)) - set(ix)
        _require(not dup, ValueError,
                 f"duplicate non-index columns: {sorted(dup)}")
        joined = self.df.join(other.df, on=ix, how=how)
        return Dataset(self.spark, joined, index_columns=self.index_columns)

    # ------------------------------------------------------------------
    # repartition (parity: repartitioned_dataset.py:156-417)
    # ------------------------------------------------------------------

    def repartition(self, rows_per_partition: int,
                    index_columns: Sequence[str] | None = None,
                    exact: bool = False,
                    sample_fraction: float | None = None) -> "Dataset":
        """Range-repartition so equal index values share a partition.

        Default path: ``repartitionByRange`` — Spark's sampled range
        partitioner is the built-in equivalent of the reference's
        per-partition sampling + division points
        (``repartitioned_dataset.py:91-153``).  ``exact=True`` reproduces
        the reference's ``sample_fraction=1.0`` exact-size semantics via a
        global ``row_number`` — deterministic but serializes one sort task,
        so it is the *test* path, not the 100 TB path.

        ``sample_fraction`` is the reference's intermediate sampling knob
        (``repartitioned_dataset.py:383-387``): how much of the data the
        range partitioner inspects to choose division points.  Spark's
        sampler is sized per partition, not by fraction, so the fraction
        is translated: ``sampleSizePerPartition ≈ fraction ×
        rows_per_partition``.  The conf is session-global and only read
        when a range exchange MATERIALIZES, so the partitioning is
        materialized eagerly under the scoped conf (``localCheckpoint``)
        and the conf restored afterwards — every derived DataFrame then
        reuses the already-sampled partitioning instead of re-sampling
        under the restored default.  Caveat: the brief session-global
        mutation can race range exchanges of queries running concurrently
        ON THE SAME SESSION during this call; higher fraction → tighter
        partition sizes, more sampling I/O, plus the checkpoint's
        executor-storage cost.
        """
        ix = self.index_columns if index_columns is None else tuple(index_columns)
        total = sum(self._sizes) if self.known_sizes else self.df.count()
        n = max(1, math.ceil(total / rows_per_partition))
        if not ix:
            new_df = self.df.repartition(n)
            return Dataset(self.spark, new_df, index_columns=())
        if sample_fraction is not None and not exact:
            _require(0 < sample_fraction <= 1, ValueError,
                     f"sample_fraction must be in (0, 1]: {sample_fraction}")
            # materialize the sampled partitioning under the scoped conf:
            # localCheckpoint truncates to the physical RDD (partitioning
            # + ordering preserved in the LogicalRDD), so downstream plans
            # — reindex, joins, writes — reuse this exact partitioning
            # rather than re-sampling under whatever the conf is by then
            with _session_conf(
                    self.spark,
                    "spark.sql.execution.rangeExchange.sampleSizePerPartition",
                    str(max(20, int(sample_fraction * rows_per_partition)))):
                new_df = (self.df
                          .repartitionByRange(
                              n, *[F.col(c).asc_nulls_first() for c in ix])
                          .sortWithinPartitions(
                              *[F.col(c).asc_nulls_first() for c in ix])
                          .localCheckpoint(eager=True))
        elif exact:
            from pyspark.sql.window import Window
            w = Window.orderBy(*[F.col(c).asc_nulls_first() for c in ix])
            tagged = self.df.withColumn("__rn", F.row_number().over(w))
            tagged = tagged.withColumn(
                "__part", F.floor((F.col("__rn") - 1) / F.lit(rows_per_partition)))
            # __part rises with the index, so (__part, *ix) is index order
            new_df = (tagged.repartitionByRange(n, "__part")
                      .sortWithinPartitions("__part", *ix)
                      .drop("__rn", "__part"))
        else:
            new_df = (self.df
                      .repartitionByRange(
                          n, *[F.col(c).asc_nulls_first() for c in ix])
                      .sortWithinPartitions(
                          *[F.col(c).asc_nulls_first() for c in ix]))
        out = Dataset(self.spark, new_df, index_columns=ix)
        out._index_sorted = True
        return out

    # ------------------------------------------------------------------
    # collate (parity: collated_dataset.py:7-92)
    # ------------------------------------------------------------------

    def collate(self, rows_per_partition: int) -> "Dataset":
        """Merge (never split) adjacent partitions — ordered by bounds —
        greedily until each batch reaches ``rows_per_partition`` rows
        (parity: ``collated_dataset.py:43-70``).

        File-backed datasets get the exact greedy semantics: groups are
        computed from manifest sizes (driver-side metadata math, no data
        read), each group becomes exactly one output partition, and batch
        sizes/bounds stay known (sums / min-max).  The physical plan is
        ONE parquet scan for any group count — each row is tagged with its
        file's group via a broadcast map join, then a single hash shuffle
        lands every group in its own partition (labels are chosen so their
        murmur3 slots form a perfect permutation — see
        :func:`_perfect_hash_labels`).  Other datasets fall back to
        ``coalesce`` — Spark's own merge-only repacking, the same contract
        without the per-batch guarantee (AQE applies it to shuffle outputs
        automatically)."""
        _require(self.known_sizes, StatsUnknownError,
                 "collate requires known sizes; call reindex() first")
        if self._files is not None and self.known_bounds and self._files:
            order = _ord.sort_partitions(self._lower_bounds, self._upper_bounds)
            groups: list[list[int]] = []
            acc: list[int] = []
            acc_rows = 0
            for i in order:
                acc.append(i)
                acc_rows += self._sizes[i]
                if acc_rows >= rows_per_partition:
                    groups.append(acc)
                    acc, acc_rows = [], 0
            if acc:
                if groups:
                    groups[-1].extend(acc)  # tail merges into the last batch
                else:
                    groups = [acc]
            k = len(groups)
            labels = _perfect_hash_labels(k)
            tagged = _read_tagged(
                self.spark, [(os.path.abspath(self._files[i]), labels[gi])
                             for gi, g in enumerate(groups) for i in g],
                "__label int", self.df.schema, self._residual)
            out = tagged.repartition(k, "__label").drop("__label")
            if self.index_columns:
                out = out.sortWithinPartitions(
                    *[F.col(c).asc_nulls_first() for c in self.index_columns])
            return Dataset(
                self.spark, out, index_columns=self.index_columns,
                sizes=[sum(self._sizes[i] for i in g) for g in groups],
                lower_bounds=[min((self._lower_bounds[i] for i in g),
                                  key=_ord.lex_key) for g in groups],
                upper_bounds=[max((self._upper_bounds[i] for i in g),
                                  key=_ord.lex_key) for g in groups],
            )
        total = sum(self._sizes)
        n = max(1, min(len(self._sizes) or 1, total // rows_per_partition or 1))
        new_df = self.df.coalesce(n)
        return Dataset(self.spark, new_df, index_columns=self.index_columns)

    # ------------------------------------------------------------------
    # disjointness (parity: dataset.py:228-265)
    # ------------------------------------------------------------------

    def is_disjoint(self) -> bool:
        _require(self.known_bounds, StatsUnknownError,
                 "is_disjoint requires known bounds; call reindex() first")
        order = _ord.sort_partitions(self._lower_bounds, self._upper_bounds)
        for a, b in zip(order, order[1:]):
            if _ord.lex_cmp(self._upper_bounds[a], self._lower_bounds[b]) >= 0:
                return False
        return True

    def assert_disjoint(self) -> None:
        _require(self.is_disjoint(), AssertionError,
                 "dataset partitions have overlapping index ranges")

    # ------------------------------------------------------------------
    # sinks / actions (parity: dataset.py:328-558)
    # ------------------------------------------------------------------

    def write_parquet(self, path: str, append: bool = False,
                      manifest_table: bool = False,
                      progress: Callable[[int, int], None] | None = None,
                      merge_schema: bool = False,
                      ) -> "Dataset":
        """Write one parquet file per partition plus the manifest.

        ``merge_schema=True`` (with ``append=True``) evolves the table
        schema: new nullable columns are added to the manifest schema,
        and every scan reads with that schema so pre-evolution files
        surface the new columns as nulls (see ``_check_evolution``).
        The default rejects any appended-schema drift loudly.

        ``progress`` — optional ``(completed_tasks, total_tasks)``
        callback polled while the write's jobs run: the write itself,
        plus a stats job only for files whose footers cannot give exact
        bounds (reference parity: ``progress.py:7-51``).

        ``append=False`` wipes the target (``dataset.py:349-363``);
        ``append=True`` validates index-column equality against the
        existing manifest (``AppendError``, ``dataset.py:364-381``) and
        extends it.  The manifest's per-file sizes and bounds come from
        the written files' parquet footers, read on the driver; files
        whose footers cannot give exact bounds are statted by one
        distributed per-file aggregation job.  Data is never collected.

        ``manifest_table=True`` additionally persists the manifest in its
        scale form — a parquet table of (file, size, bounds) rows sorted
        by lower bound, from which ``scan_parquet_pruned`` reads only the
        rows that may overlap a slice instead of parsing one JSON
        document (SURVEY §7.4 trap 7; the Iceberg/Delta manifest shape
        for million-file tables).
        """
        if progress is not None:
            from .progress import track_progress
            with track_progress(self.spark, progress):
                return self.write_parquet(path, append=append,
                                          manifest_table=manifest_table,
                                          merge_schema=merge_schema)
        if append:
            _require(_meta.has_manifest(path), AppendError,
                     f"cannot append: no manifest at {path}")
            # single-writer guard: appends read-modify-write the manifest,
            # so two concurrent appenders would silently drop one side's
            # files from it.  The whole critical section runs inside the
            # injectable commit lock (metadata.commit_lock — default: an
            # exclusive lock file, same-filesystem only; object-store
            # deployments inject a conditional-put via set_commit_lock),
            # so the second writer FAILS LOUDLY instead.
            try:
                with _meta.commit_lock(path, "append"):
                    old = _meta.load_manifest(path)
                    _require(old.index_columns == self.index_columns,
                             AppendError,
                             f"index columns differ: {old.index_columns} vs "
                             f"{self.index_columns}")
                    _commit(self.spark, path, self.df, self.index_columns,
                            self._check_evolution(old, merge_schema),
                            old=old, keep=range(len(old.files)),
                            manifest_table=manifest_table,
                            sorted_by_index=self._index_sorted)
            except _meta.CommitConflictError as e:
                raise AppendError(str(e)) from None
        else:
            if os.path.exists(path):
                shutil.rmtree(path)
            _commit(self.spark, path, self.df, self.index_columns,
                    self.df.schema.json(), manifest_table=manifest_table,
                    sorted_by_index=self._index_sorted)
        return scan_parquet(self.spark, path)

    def _check_evolution(self, old, merge_schema: bool) -> str | None:
        """Append-side schema contract.  Default: the appended schema
        must match the table's recorded one exactly by (name, type) —
        appending a drifted schema used to record the NEW schema
        silently, leaving mixed files behind an inconsistent manifest.
        ``merge_schema=True`` evolves instead (the Delta/Iceberg ADD
        COLUMN story): new nullable columns append to the table schema,
        existing columns must keep their type, and files from either
        era surface missing columns as nulls because every scan reads
        with the manifest schema.  Returns the schema_json to record."""
        if not old.schema_json:
            return self.df.schema.json()
        old_schema = old.schema
        old_t = {f.name: f.dataType for f in old_schema.fields}
        new_fields = list(self.df.schema.fields)
        conflicts = [f.name for f in new_fields
                     if f.name in old_t and f.dataType != old_t[f.name]]
        _require(not conflicts, AppendError,
                 f"appended column type(s) differ from the table's for "
                 f"{conflicts}; schema evolution only ADDS columns")
        added = [f.name for f in new_fields if f.name not in old_t]
        missing = [n for n in old_t if n not in
                   {f.name for f in new_fields}]
        if not merge_schema:
            _require(not added and not missing, AppendError,
                     f"appended schema differs from the table's "
                     f"(new: {added}, missing: {missing}); pass "
                     f"merge_schema=True to evolve the table schema")
            return old.schema_json
        from pyspark.sql.types import StructField as _SF
        merged = list(old_schema.fields) + [
            _SF(f.name, f.dataType, True) for f in new_fields
            if f.name not in old_t]
        return StructType(merged).json()

    def collect(self, progress: Callable[[int, int], None] | None = None):
        """Materialize as a single in-memory pandas DataFrame
        (reference: one polars frame, ``dataset.py:531-558``).

        ``progress`` — optional ``(completed_tasks, total_tasks)``
        callback polled while the job runs (reference parity:
        ``progress.py:7-51``; see :mod:`padawan_spark.progress`)."""
        if progress is None:
            return self.df.toPandas()
        from .progress import track_progress
        with track_progress(self.spark, progress):
            return self.df.toPandas()

    # ------------------------------------------------------------------

    def _with_meta(self, **kw) -> "Dataset":
        ix = kw.get("index_columns", self.index_columns)
        out = Dataset(
            self.spark, self.df, files=self._files, index_columns=ix,
            sizes=kw.get("sizes", self._sizes),
            lower_bounds=kw.get("lower_bounds", self._lower_bounds),
            upper_bounds=kw.get("upper_bounds", self._upper_bounds),
            residual=kw.get("residual", self._residual),
            partition_ids=kw.get("partition_ids", self._partition_ids),
        )
        # rows sorted by the index are sorted by any prefix of it
        out._index_sorted = (self._index_sorted
                             and ix == self.index_columns[:len(ix)])
        return out


# ---------------------------------------------------------------------------
# slice-pruning helpers (driver-side tuple math on manifest bounds)
# ---------------------------------------------------------------------------

def _cmp_prefix(part_bound: tuple, slice_bound: Sequence) -> int:
    """Compare a partition bound against a (possibly prefix) slice bound on
    the slice bound's length only."""
    k = len(slice_bound)
    return _ord.lex_cmp(tuple(part_bound)[:k], tuple(slice_bound))


def _overlaps(plb, pub, lb, ub, lo_incl, hi_incl) -> bool:
    """Can any row of a partition with bounds [plb, pub] satisfy the slice?

    Slice predicates compare only the first k = len(bound) index columns:
    r[:k] ≥/> lb and r[:k] ≤/< ub.  r ∈ [plb, pub] implies
    plb[:k] ≤ r[:k] ≤ pub[:k], so the partition is excludable iff its
    bound prefix falls strictly outside (or on a strict-open endpoint)."""
    if lb is not None:
        c = _cmp_prefix(pub, lb)
        if c < 0 or (c == 0 and not lo_incl):
            return False
    if ub is not None:
        c = _cmp_prefix(plb, ub)
        if c > 0 or (c == 0 and not hi_incl):
            return False
    return True


def _contained(plb, pub, lb, ub, lo_incl, hi_incl) -> bool:
    """Partition provably entirely inside the slice → sizes survive
    (sliced_dataset.py:85-112): plb[:k] ≥/> lb and pub[:k] ≤/< ub."""
    if lb is not None:
        c = _cmp_prefix(plb, lb)
        if c < 0 or (c == 0 and not lo_incl):
            return False
    if ub is not None:
        c = _cmp_prefix(pub, ub)
        if c > 0 or (c == 0 and not hi_incl):
            return False
    return True


def _clamp_lb(plb, lb, k, lo_incl, order):
    """Tighten a partition lower bound against the slice lower bound,
    comparing both as ``order`` maps them (:func:`ordering.spark_order`).

    Only valid when the slice bound is FULL-LENGTH and inclusive (matching
    the reference, ``sliced_dataset.py:116-120``): a prefix bound ``(2,)``
    admits surviving rows like ``(2, 3)`` that sort below any synthesized
    full-length bound such as ``(2, 5)``, so prefix/strict bounds must keep
    the original partition bound (conservative but correct)."""
    if lb is None or len(lb) != k or not lo_incl:
        return plb
    return plb if _cmp_prefix(order(plb), order(lb)) >= 0 else tuple(lb)


def _clamp_ub(pub, ub, k, hi_incl, order):
    if ub is None or len(ub) != k or not hi_incl:
        return pub
    return pub if _cmp_prefix(order(pub), order(ub)) <= 0 else tuple(ub)


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of a single 32-bit int, matching Spark's
    ``Murmur3Hash`` (seed 42) used by ``HashPartitioning`` for
    IntegerType columns.  Driver-side math only — lets us predict which
    partition ``repartition(k, col)`` sends a given label to."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    kk = x & 0xFFFFFFFF
    kk = (kk * c1) & 0xFFFFFFFF
    kk = ((kk << 15) | (kk >> 17)) & 0xFFFFFFFF
    kk = (kk * c2) & 0xFFFFFFFF
    h = (seed ^ kk) & 0xFFFFFFFF
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # input length in bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    if h >= 1 << 31:  # to Java signed int
        h -= 1 << 32
    return h


def _perfect_hash_labels(k: int) -> list[int]:
    """k integer labels such that ``pmod(murmur3(label), k)`` is a perfect
    permutation — labels[i] hashes to partition slot i.  Tagging collate
    group i with labels[i] makes ``repartition(k, "__label")`` land group i
    exactly in physical partition i (one group per partition, order
    preserved), with one ordinary hash shuffle and a single scan node."""
    labels: list[int | None] = [None] * k
    found, x = 0, 0
    while found < k:
        slot = _murmur3_int32(x) % k  # Python % == Spark pmod for k > 0
        if labels[slot] is None:
            labels[slot] = x
            found += 1
        x += 1
    return labels  # type: ignore[return-value]


# ---------------------------------------------------------------------------
# sources (parity: persisted_dataset.py / in_memory_dataset.py / concat /
# write_metadata)
# ---------------------------------------------------------------------------

def _list_parquet(path: str) -> list[str]:
    return sorted(os.path.basename(p)
                  for p in _glob.glob(os.path.join(path, "*.parquet")))


def _read_files(spark: SparkSession, files: list[str],
                schema: StructType | None = None, residual=None) -> DataFrame:
    """The one parquet read of table files.  A table's files are read with
    its RECORDED ``schema``: the column set is stable under schema
    evolution (files written before a merge_schema append surface the new
    columns as nulls), there is no footer schema inference, and time
    travel reproduces each snapshot's own schema.  ``schema=None`` infers
    it from the files.  ``residual`` is a slice predicate to apply."""
    df = (spark.read.schema(schema) if schema is not None
          else spark.read).parquet(*files)
    return df.where(residual) if residual is not None else df


def _file_path():
    """The absolute path of the file each row was read from, as the
    manifest holds it.  Spark names the file by URI
    (``file:///a/with%20space/x.parquet``): the scheme is stripped and
    percent-escapes decoded, escaping ``+`` first since ``url_decode``
    reads it as a space."""
    uri = F.regexp_replace(F.input_file_name(), "^file:/+", "/")
    return F.url_decode(F.regexp_replace(uri, r"\+", "%2B"))


def _local_df(spark: SparkSession, rows: Sequence[tuple], schema
              ) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in field order of
    ``schema``, a StructType or DDL string), built from an Arrow table so
    it plans as a local relation (``LocalTableScan``): no parallelized
    RDD, no Python worker.  A ``datetime`` in a TIMESTAMP column is
    converted to UTC first: ``createDataFrame`` of a list reads a naive
    one as local time and an aware one as its instant, while pyarrow
    takes the wall clock as UTC and ignores the offset."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    arrays = []
    for c, f, a in zip(cols, schema.fields, arrow):
        if isinstance(f.dataType, TimestampType):
            c = [_ord.instant(v) for v in c]
        arrays.append(pa.array(list(c), type=a.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow),
                                 schema)


def _read_tagged(spark: SparkSession, tags: list[tuple], ddl: str,
                 schema: StructType | None, residual=None) -> DataFrame:
    """The rows of the files in ``tags`` (``(abspath, *values)``, the
    values typed by ``ddl``), each joined to its file's tags on
    :func:`_file_path` by broadcast: a file tagged twice yields its rows
    twice.  Tag before any other join: ``input_file_name`` above a join
    with a second file scan cannot say which scan it means."""
    tag_df = _local_df(spark, tags, "__path string, " + ddl)
    return (_read_files(spark, sorted({t[0] for t in tags}), schema, residual)
            .withColumn("__path", _file_path())
            .join(F.broadcast(tag_df), "__path").drop("__path"))


def _index_stats(df: DataFrame, group, ix: Sequence[str]) -> dict:
    """One distributed pass: ``{group value: (rows, lb, ub)}`` for every
    value of the ``group`` column that has rows, ``lb``/``ub`` the
    null-first lexicographic min/max of the index struct (ordered by
    :func:`ordering.sort_key_cols`, since plain ``min``/``max`` skip
    nulls).  Collects one row per group (bounded by partition or file
    count, not data size)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    if ix:
        key = F.struct(*_ord.sort_key_cols(ix))
        val = F.struct(*[F.col(c) for c in ix])
        aggs += [F.min_by(val, key).alias("__lb"),
                 F.max_by(val, key).alias("__ub")]
    rows = df.groupBy(group.alias("__g")).agg(*aggs).collect()
    return {r["__g"]: (r["__n"], tuple(r["__lb"]) if ix else (),
                       tuple(r["__ub"]) if ix else ()) for r in rows}


#: Footer keys of a file whose dates or timestamps Spark rebased to the
#: legacy hybrid calendar: their raw values are not the ones Spark reads.
_LEGACY_CALENDAR = (b"org.apache.spark.legacyDateTime",
                    b"org.apache.spark.legacyINT96")


def _stat_decoder(col, t) -> Callable | None:
    """How column ``col``'s raw footer min/max becomes the value Spark
    collects for Spark type ``t``, or None when the statistics are not
    exact under Spark's order: floating point (they leave NaN out),
    INT96 timestamps, fixed-length decimals and unsigned integers."""
    phys = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if isinstance(t, (ByteType, ShortType, IntegerType, LongType)):
        signed = kind == "None" or (kind == "Int" and logical["isSigned"])
        return int if phys in ("INT32", "INT64") and signed else None
    if isinstance(t, BooleanType):
        return bool if phys == "BOOLEAN" else None
    if t == StringType():
        return (bytes.decode if phys == "BYTE_ARRAY" and kind == "String"
                else None)
    if isinstance(t, DateType):
        return t.fromInternal if phys == "INT32" and kind == "Date" else None
    if isinstance(t, DecimalType):
        if (phys in ("INT32", "INT64") and kind == "Decimal"
                and logical["scale"] == t.scale):
            return lambda v: decimal.Decimal(v).scaleb(-t.scale)
        return None
    if isinstance(t, (TimestampType, TimestampNTZType)):
        scale = {"milliseconds": 1000, "microseconds": 1}.get(
            logical.get("timeUnit"))
        utc = isinstance(t, TimestampType)
        if (phys == "INT64" and kind == "Timestamp" and scale
                and logical["isAdjustedToUTC"] == utc):
            return lambda v: t.fromInternal(v * scale)
    return None


def _arrow_decoder(at, t) -> Callable | None:
    """How a pyarrow scalar of type ``at`` becomes the value Spark
    collects for Spark type ``t``, or None when ``at`` is not the type
    Spark writes for ``t``."""
    import pyarrow as pa

    if isinstance(t, (TimestampType, TimestampNTZType)):
        scale = {"ms": 1000, "us": 1}.get(getattr(at, "unit", None))
        if (pa.types.is_timestamp(at) and scale
                and (at.tz is not None) == isinstance(t, TimestampType)):
            return lambda v: (t.fromInternal(v.value * scale)
                              if v.is_valid else None)
        return None
    plain = {ByteType(): pa.int8(), ShortType(): pa.int16(),
             IntegerType(): pa.int32(), LongType(): pa.int64(),
             FloatType(): pa.float32(), DoubleType(): pa.float64(),
             BooleanType(): pa.bool_(), StringType(): pa.string(),
             DateType(): pa.date32()}
    want = (pa.decimal128(t.precision, t.scale)
            if isinstance(t, DecimalType) else plain.get(t))
    return (lambda v: v.as_py()) if want is not None and at == want else None


def _footer_stats(path: str, ix: Sequence[str], schema: StructType | None,
                  sorted_by_index: bool) -> tuple | None:
    """``(rows, lb, ub)`` of one parquet file from its footer, read on
    the driver, or None when the footer cannot give them exactly.

    Rows are the footer's row count.  One index column's bounds are its
    column-chunk min/max statistics over all row groups, a NULL lower
    bound when any value is NULL (:func:`_stat_decoder` says which types
    qualify).  Otherwise, in a file sorted by the index, the bounds are
    the first row of the first non-empty row group and the last row of
    the last one: only the index columns of those two row groups are
    decoded."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    if not ix or md.num_rows == 0:
        return md.num_rows, (), ()
    if schema is None or any(k in (md.metadata or {})
                             for k in _LEGACY_CALENDAR):
        return None
    types = {f.name: f.dataType for f in schema.fields}
    leaves = {md.schema.column(i).path: i for i in range(md.num_columns)}
    top = set(pf.schema_arrow.names)
    if not all(c in types and c in leaves and c in top for c in ix):
        return None            # e.g. a column the file predates
    nonempty = [g for g in range(md.num_row_groups)
                if md.row_group(g).num_rows]
    if len(ix) == 1:
        i = leaves[ix[0]]
        dec = _stat_decoder(md.schema.column(i), types[ix[0]])
        chunks = [(md.row_group(g).num_rows,
                   md.row_group(g).column(i).statistics) for g in nonempty]
        if dec and all(st is not None and st.has_null_count
                       and (st.has_min_max or st.null_count == n)
                       for n, st in chunks):
            vals = [st for _, st in chunks if st.has_min_max]
            lo = dec(min(st.min_raw for st in vals)) if vals else None
            hi = dec(max(st.max_raw for st in vals)) if vals else None
            nulls = any(st.null_count for _, st in chunks)
            return md.num_rows, (None if nulls else lo,), (hi,)
    if not sorted_by_index:
        return None
    decs = [_arrow_decoder(pf.schema_arrow.field(c).type, types[c])
            for c in ix]
    if not all(decs):
        return None
    first, last = (pf.read_row_group(g, columns=list(ix))
                   for g in (nonempty[0], nonempty[-1]))

    def row(table, r):
        return tuple(d(table.column(c)[r]) for d, c in zip(decs, ix))

    return md.num_rows, row(first, 0), row(last, last.num_rows - 1)


def _file_stats(spark: SparkSession, files: list[str], ix: Sequence[str],
                schema: StructType | None = None, residual=None,
                sorted_by_index: bool = False) -> dict:
    """Per-file stats ``{abspath: (rows, lb, ub)}`` of the files with
    rows, and the one place that decides how they are found.

    Without a ``residual`` each file's footer answers on the driver
    (:func:`_footer_stats`; ``sorted_by_index`` says every file is
    sorted null-first by ``ix``).  The files it cannot answer or
    pyarrow cannot read, and
    every file under a ``residual`` slice predicate (stats of the
    surviving rows), go to one distributed job grouped by file, so a
    file split across tasks is still aggregated once."""
    import pyarrow as pa

    stats, rest = {}, list(files)
    if residual is None:
        rest = []
        for f in files:
            try:
                got = _footer_stats(f, ix, schema, sorted_by_index)
            except (pa.ArrowException, OSError, ValueError):
                # a footer pyarrow cannot read (a VARIANT column), or a
                # string bound that is not UTF-8
                got = None
            if got is None:
                rest.append(f)
            elif got[0]:
                stats[os.path.abspath(f)] = got
    if rest:
        stats.update(_index_stats(_read_files(spark, rest, schema, residual),
                                  _file_path(), ix))
    return stats


def _commit(spark: SparkSession, path: str, frame: DataFrame | None,
            index_columns, schema_json: str | None, old=None, keep=(),
            manifest_table: bool = False,
            sorted_by_index: bool = False) -> None:
    """The commit every table writer ends with.

    ``frame`` is appended to ``path`` as new data files (``frame=None``
    adopts the parquet files there that neither ``old`` nor any retained
    snapshot lists); a failed write removes the files it added, which no
    manifest lists and ``vacuum`` would never reclaim.  Only added files
    are statted, and empty ones are dropped (``dataset.py:340-347``);
    ``sorted_by_index`` says each partition of ``frame`` is sorted
    null-first by the index, which lets :func:`_file_stats` read any
    file's bounds from its first and last rows.
    The new manifest lists ``old``'s files at the positions in ``keep``,
    then the added files; ``schema_json=None`` records the added files'
    schema (still ``None`` when no added file has rows).  The JSON
    manifest is published with its version snapshot, and the manifest
    table is rewritten when asked for or already present, so
    ``scan_parquet`` and ``scan_parquet_pruned`` always see the same
    files.  Writers that read-modify-write the manifest call this inside
    the commit lock."""
    old = old or _meta.Manifest()
    before = (set(_list_parquet(path)) if frame is not None else
              set(old.files).union(*(
                  _meta.load_manifest(path, version=v).files
                  for v in _meta.list_versions(path))))
    try:
        if frame is not None:
            # timestamps as INT64, whose footer statistics are exact:
            # INT96, Spark's default, has none, for _file_stats or for
            # row-group skipping
            with _session_conf(spark, "spark.sql.parquet.outputTimestampType",
                               "TIMESTAMP_MICROS"):
                frame.write.mode("append").parquet(path)
    except BaseException:
        for f in set(_list_parquet(path)) - before:
            os.remove(os.path.join(path, f))
        raise
    paths = {f: os.path.abspath(os.path.join(path, f))
             for f in _list_parquet(path) if f not in before}
    stats = _file_stats(spark, list(paths.values()), index_columns,
                        StructType.fromJson(json.loads(schema_json))
                        if schema_json else None,
                        sorted_by_index=sorted_by_index)
    added = [f for f in paths if paths[f] in stats]

    def _extend(old_vals, j):
        if keep and old_vals is None:
            return None                 # unknown before, unknown after
        return ([old_vals[i] for i in keep]
                + [stats[paths[f]][j] for f in added])

    if schema_json is None and added:
        schema_json = spark.read.parquet(
            *[paths[f] for f in added]).schema.json()
    man = _meta.Manifest(
        index_columns=tuple(index_columns),
        files=[old.files[i] for i in keep] + added,
        sizes=_extend(old.sizes, 0),
        lower_bounds=_extend(old.lower_bounds, 1),
        upper_bounds=_extend(old.upper_bounds, 2),
        max_partition_index=old.max_partition_index + len(added),
        schema_json=schema_json,
    )
    _meta.write_manifest(path, man)
    if manifest_table or os.path.isdir(_meta.manifest_table_path(path)):
        _meta.write_manifest_table(path, man)


def _manifest_dataset(spark: SparkSession, path: str, man) -> Dataset:
    """The file-backed Dataset a manifest describes, read with its
    recorded schema."""
    return Dataset(spark, files=[os.path.join(path, f) for f in man.files],
                   index_columns=man.index_columns, sizes=man.sizes,
                   lower_bounds=man.lower_bounds,
                   upper_bounds=man.upper_bounds, schema=man.schema)


def scan_parquet(spark: SparkSession, path: str,
                 version: int | None = None,
                 as_of=None) -> Dataset:
    """Directory of parquet files (or one file) → Dataset; loads the manifest
    when present, else globs with unknown stats
    (``persisted_dataset.py:27-43``).

    ``version`` pins a manifest SNAPSHOT (every ``write_parquet`` —
    overwrite or append — archives one under ``_padawan_versions/``):
    append-only writes retain all files, so ``scan_parquet(path,
    version=k)`` reproduces exactly the dataset as of write k — the
    reproducibility pin a training run records so the corpus it read
    can be re-materialized later.  ``as_of`` (a datetime or unix
    seconds) resolves to the newest snapshot committed at or before
    that instant (Delta's ``timestampAsOf``).  ``padawan_spark.
    metadata.list_versions(path)`` enumerates snapshots."""
    if as_of is not None:
        _require(version is None, ValueError,
                 "pass either version= or as_of=, not both")
        version = _meta.version_at(path, as_of)
    if os.path.isfile(path):
        _require(version is None, ValueError,
                 "version= requires a manifest directory, not a file")
        return Dataset(spark, files=[path])
    if not _meta.has_manifest(path):
        _require(version is None, ValueError,
                 f"version= requires a manifest at {path}")
        return Dataset(spark, files=[os.path.join(path, f)
                                     for f in _list_parquet(path)])
    return _manifest_dataset(spark, path,
                             _meta.load_manifest(path, version=version))


def scan_parquet_pruned(spark: SparkSession, path: str,
                        lb: Sequence | None = None,
                        ub: Sequence | None = None,
                        inclusive: str = "lower") -> Dataset:
    """``scan_parquet(path).slice(lb, ub, inclusive)`` for tables with
    millions of files (SURVEY §7.4 trap 7): instead of parsing the whole
    JSON manifest, plan from the manifest TABLE rows (written by
    ``write_parquet(manifest_table=True)``) that may overlap the slice,
    read on the driver by :func:`metadata.read_manifest_table`.
    :meth:`Dataset.slice` then decides which files survive, as for any
    Dataset.  Planning runs no Spark job."""
    _require(os.path.isdir(_meta.manifest_table_path(path)), ValueError,
             f"scan_parquet_pruned requires a manifest table at {path} "
             f"(write with manifest_table=True)")
    ds = _manifest_dataset(spark, path, _meta.read_manifest_table(path, lb, ub))
    if lb is None and ub is None:
        return ds
    return ds.slice(lb, ub, inclusive=inclusive)


def from_pandas(spark: SparkSession, pdf, index_columns: Sequence[str] = ()) -> Dataset:
    """Single in-memory frame → 1-partition dataset with eager stats
    (``in_memory_dataset.py:37-52``)."""
    df = spark.createDataFrame(pdf).coalesce(1)
    ds = Dataset(spark, df, index_columns=index_columns)
    return ds.reindex(index_columns)


def concat(spark_or_datasets, datasets: list[Dataset] | None = None) -> Dataset:
    """Union-all by partition-list concatenation — zero data movement, like
    the reference (``concatenated_dataset.py:93-104``) and like Spark's own
    union.  Requires identical index columns and order-sensitive identical
    schemas (``concatenated_dataset.py:36-65``)."""
    if datasets is None:
        datasets = list(spark_or_datasets)
        spark = datasets[0].spark if datasets else None
    else:
        spark = spark_or_datasets
    _require(len(datasets) > 0 or spark is not None, ValueError,
             "empty concat needs a SparkSession")
    if not datasets:
        raise ValueError("concat of zero datasets requires an explicit schema; "
                         "use Dataset(spark, files=[], schema=...)")
    first = datasets[0]
    for d in datasets[1:]:
        _require(d.index_columns == first.index_columns, ValueError,
                 "concat: index columns differ")
        _require([ (f.name, f.dataType) for f in d.schema.fields ]
                 == [ (f.name, f.dataType) for f in first.schema.fields ],
                 ValueError, "concat: schemas differ (order-sensitive)")
    df = first.df
    for d in datasets[1:]:
        df = df.unionByName(d.df)
    known = all(d.known_sizes for d in datasets)
    knownb = all(d.known_bounds for d in datasets)
    files = None
    residual = None
    # raw-file partition access is only valid when no input carries a
    # residual slice predicate (it would be lost on re-read)
    if all(d._files is not None for d in datasets):
        if all(d._residual is None for d in datasets):
            files = [f for d in datasets for f in d._files]
        else:
            files = None
    pids = None
    if files is None and known and any(d._partition_ids is not None for d in datasets):
        # union concatenates children's physical partitions in order;
        # compose each child's slot→pid map with its running offset.
        # Identity (None) is only trustworthy for DF-backed children —
        # that is the constructor invariant.  A FILE-backed child forced
        # onto this path (sibling non-file, or residual present) reads as
        # one parquet scan over its files, which packs small files into
        # FilePartitions largest-first: slot count and order diverge from
        # physical partitions, so its slot→pid map is simply unknown —
        # emit no pids at all rather than silently wrong ones.
        pids, off = [], 0
        for d in datasets:
            if d._partition_ids is PIDS_UNKNOWN or (
                    d._partition_ids is None and d._files is not None):
                pids = PIDS_UNKNOWN
                break
            child = (d._partition_ids if d._partition_ids is not None
                     else list(range(len(d._sizes))))
            pids.extend(p + off for p in child)
            off += d.df.rdd.getNumPartitions()
    return Dataset(
        first.spark, df, files=files, index_columns=first.index_columns,
        sizes=[s for d in datasets for s in d.sizes] if known else None,
        lower_bounds=[b for d in datasets for b in d.lower_bounds] if knownb else None,
        upper_bounds=[b for d in datasets for b in d.upper_bounds] if knownb else None,
        partition_ids=pids,
    )


def write_metadata(spark: SparkSession, path: str,
                   index_columns: Sequence[str]) -> None:
    """Retro-fit a manifest onto a directory of foreign parquet files
    (``write_metadata.py:22-79``): per-file stats from the footers or
    a distributed job (:func:`_file_stats`), empty files dropped.  It
    commits like every writer: under the commit lock, as a new version
    snapshot, refreshing the manifest table if there is one.
    On a table with a manifest it keeps the listed files and their stats
    and adopts only files no retained snapshot lists, so the files a
    rewrite superseded (kept for time travel until ``vacuum``) stay out;
    the index columns must match the table's, as for an append."""
    ix = tuple(index_columns)
    with _meta.commit_lock(path, "write_metadata"):
        old = (_meta.load_manifest(path) if _meta.has_manifest(path)
               else _meta.Manifest(index_columns=ix))
        _require(old.index_columns == ix, AppendError,
                 f"index columns differ: {old.index_columns} vs {ix}")
        _commit(spark, path, None, ix, old.schema_json, old=old,
                keep=range(len(old.files)))


def compact_parquet(spark: SparkSession, path: str,
                    rows_per_partition: int) -> Dataset:
    """In-place small-file compaction (the OPTIMIZE of the time-travel
    story): read the current manifest, collate partitions up to
    ``rows_per_partition``, write the merged files INTO the same
    directory under new names, and publish a new manifest referencing
    only them.  The superseded small files stay on disk so older pins
    (``scan_parquet(version=k)``) keep reading their exact snapshot;
    :func:`padawan_spark.metadata.vacuum` reclaims them once their
    snapshots expire.  Same shape as Delta/Iceberg OPTIMIZE+VACUUM:
    compaction is a data rewrite + manifest swap, never a delete.

    Concurrency: the read-manifest → rewrite → publish sequence is the
    same lost-update window as append, so it holds the SAME commit lock
    (``metadata.commit_lock``) for its whole duration — a compaction
    racing a concurrent append now fails loudly on one side instead of
    silently dropping the appended files from the new manifest."""
    _require(_meta.has_manifest(path), ValueError,
             f"compact_parquet requires a manifest at {path}")
    with _meta.commit_lock(path, "compact"):
        old = _meta.load_manifest(path)
        ds = _manifest_dataset(spark, path, old)
        comp = ds.collate(rows_per_partition)
        # collate sorts each batch by the index when bounds are known
        _commit(spark, path, comp.df, old.index_columns,
                ds.df.schema.json(), old=old,
                sorted_by_index=ds.known_bounds)
    return scan_parquet(spark, path)


def delete_rows(spark: SparkSession, path: str, lb=None, ub=None,
                inclusive: str = "both") -> Dataset:
    """In-place DELETE of an index-range slice (the lakehouse
    DELETE-with-copy-on-write, the compliance/GDPR primitive): files
    whose bounds do not overlap the slice are left byte-identical;
    overlapping files are rewritten WITHOUT the matching rows (same
    null-first lexicographic semantics as :meth:`Dataset.slice`, so
    delete(lb, ub) removes exactly what ``slice(lb, ub)`` returns) and
    the new manifest references untouched + rewritten files.  Older
    pins keep reading their exact snapshot until
    :func:`padawan_spark.metadata.vacuum` reclaims the superseded
    files.

    Scale shape: bound overlap picks the rewrite set on the manifest
    (file-count work, no data scan), so the data cost is proportional
    to the files the range TOUCHES, not the table — on a date-indexed
    corpus a one-day delete rewrites one day of files.

    Concurrency: the whole read-manifest → rewrite → publish sequence
    holds the commit lock, same as append/compact/vacuum."""
    _require(_meta.has_manifest(path), ValueError,
             f"delete_rows requires a manifest at {path}")
    _require(lb is not None or ub is not None, ValueError,
             "delete_rows requires at least one bound (lb/ub)")
    lo_incl, hi_incl = _ord.inclusive_ends(inclusive)
    with _meta.commit_lock(path, "delete"):
        old = _meta.load_manifest(path)
        ix = old.index_columns
        _require(ix != (), ValueError, "delete_rows requires index columns")
        _require(old.known_bounds, ValueError,
                 "delete_rows requires manifest bounds")
        order = _ord.spark_order(old.schema, ix)
        untouched, affected = [], []
        for i, f in enumerate(old.files):
            if _overlaps(order(old.lower_bounds[i]), order(old.upper_bounds[i]),
                         order(lb), order(ub), lo_incl, hi_incl):
                affected.append(f)
            else:
                untouched.append(i)
        if not affected:            # nothing overlaps: no-op, no version
            return scan_parquet(spark, path)
        cond = _ord.range_predicate(ix, order(lb), order(ub), inclusive)
        survives = ~F.coalesce(cond, F.lit(False))   # null-safe complement
        # a task may pack several affected files into one output file:
        # sort it, so its bounds are its first and last rows
        rewritten = (_read_files(spark, [os.path.join(path, f)
                                         for f in affected],
                                 old.schema, survives)
                     .sortWithinPartitions(
                         *[F.col(c).asc_nulls_first() for c in ix]))
        _commit(spark, path, rewritten, ix, old.schema_json, old=old,
                keep=untouched, sorted_by_index=True)
    return scan_parquet(spark, path)


def _within(df: DataFrame, ix: Sequence[str], intervals: list[tuple]
            ) -> DataFrame:
    """``df`` with column ``__bid``, a row per ``(id, lo, lo_incl, hi,
    hi_incl)`` interval holding the row's index key, by one broadcast
    nested-loop join.  A ``None`` end is unbounded, flagged apart
    (``__has_lo``/``__has_hi``) since a NULL bound VALUE is legal."""
    none_b = (None,) * len(ix)
    schema = StructType(
        [StructField("__bid", IntegerType(), False)]
        + [StructField(f, BooleanType(), False)
           for f in ("__has_lo", "__lo_incl", "__has_hi", "__hi_incl")]
        + [StructField(f"__{e}_{j}", df.schema[c].dataType, True)
           for e in ("lo", "hi") for j, c in enumerate(ix)])
    bdf = _local_df(
        df.sparkSession,
        [(i, lo is not None, lo_incl, hi is not None, hi_incl,
          *(lo or none_b), *(hi or none_b))
         for i, lo, lo_incl, hi, hi_incl in intervals], schema)
    lo, hi = ([F.col(f"__{e}_{j}") for j in range(len(ix))]
              for e in ("lo", "hi"))
    cond = ((~F.col("__has_lo") | F.when(
                F.col("__lo_incl"), _ord.columns_geq(ix, lo))
             .otherwise(_ord.columns_gt(ix, lo)))
            & (~F.col("__has_hi") | F.when(
                F.col("__hi_incl"), _ord.columns_leq(ix, hi))
               .otherwise(_ord.columns_lt(ix, hi))))
    return (df.join(F.broadcast(bdf), on=cond)
            .drop(*[c for c in bdf.columns if c != "__bid"]))


def _probe(keys: list[tuple], lbs: list[tuple], ubs: list[tuple]) -> set:
    """Which of merge_rows' probe intervals hold a batch key: ``2j+1``
    is candidate ``j``, ``[lbs[j], ubs[j]]`` closed; ``2j`` the open gap
    between candidate ``j-1``'s upper and candidate ``j``'s lower bound,
    unbounded at either end.  ``lbs`` are sorted.  For each key a
    bisect finds the candidates whose lower bound is at most the key,
    only the last of which can precede the one gap that may hold it, and
    a walk back over them stops where no earlier upper bound reaches
    the key."""
    lo = [_ord.lex_key(b) for b in lbs]
    reach = list(itertools.accumulate(
        ubs, lambda a, b: max(a, b, key=_ord.lex_key)))
    hits = set()
    for k in keys:
        p = bisect.bisect_right(lo, _ord.lex_key(k))
        if p == 0 or _ord.lex_cmp(ubs[p - 1], k) < 0:
            hits.add(2 * p)
        j = p - 1
        while j >= 0 and _ord.lex_cmp(reach[j], k) >= 0:
            if _ord.lex_cmp(ubs[j], k) >= 0:
                hits.add(2 * j + 1)
            j -= 1
    return hits


def merge_rows(spark: SparkSession, path: str, batch: "Dataset") -> Dataset:
    """In-place MERGE (upsert by index key) — the lakehouse
    DELETE+INSERT in one commit: every ``batch`` row replaces the
    table row with the same index key (if any); the rest insert.

    Copy-on-write like :func:`delete_rows`: the small-by-contract
    batch's index keys are collected once, and everything up to the
    rewrite is planned on the driver from them and the manifest (no
    table scan): the uniqueness check, the batch envelope that picks
    candidate files, and a probe of the keys against the candidates'
    ranges and the gaps around them that finds the files that CONTAIN a
    key (a 2-key batch at opposite table ends rewrites 2 files) and the
    gaps that receive one.  The rewrite is one frame, laid out by the
    manifest's bounds on the driver and written by one labelled
    shuffle, a file per tile:

    - each affected file is rewritten as one file: its surviving rows
      (a null-safe left-anti join) plus the batch rows in its tile;
    - inserts join the tile they fall in; a tile with no affected file
      that receives keys becomes one new file;
    - no tile spans a spared file, so the rewrite stays range-disjoint
      from every kept file;
    - rows keep their file's tile, so overlapping affected files are not
      re-sorted; :func:`compact_parquet` is what changes file sizes.

    Untouched files stay byte-identical, and older pins keep reading
    their snapshot until :func:`padawan_spark.metadata.vacuum`.  Batch
    columns are cast to the table's recorded types, as an INSERT casts
    to its target; a value that does not fit raises and publishes no
    version (an append may evolve the schema, so it rejects a type
    change instead).

    Scale shape: O(files touched + batch), never O(table), in a job
    count that does not depend on how many files or tiles the batch
    touches.  The whole read-manifest → rewrite → publish sequence
    holds the commit lock."""
    _require(_meta.has_manifest(path), ValueError,
             f"merge_rows requires a manifest at {path}")
    with _meta.commit_lock(path, "merge"):
        old = _meta.load_manifest(path)
        ix = old.index_columns
        _require(ix != (), ValueError, "merge_rows requires index columns")
        _require(tuple(batch.index_columns) == tuple(ix), ValueError,
                 f"batch index {batch.index_columns} != table index {ix}")
        _require(old.known_bounds, ValueError,
                 "merge_rows requires manifest bounds")
        table_cols = (old.schema.names if old.schema_json
                      else batch.df.columns)
        _require(set(batch.df.columns) == set(table_cols), ValueError,
                 f"batch columns {sorted(batch.df.columns)} != table "
                 f"columns {sorted(table_cols)}")
        # the batch's keys, small by contract, in one job; the rest of
        # the plan is driver-side bound math under Spark's order (NULL
        # equals NULL, NaN equals NaN), TIMESTAMPs compared as instants
        spark_order = _ord.spark_order(batch.df.schema, ix)
        keys = sorted((spark_order(r) for r in batch.df.select(*ix).collect()),
                      key=_ord.lex_key)
        if not keys:                         # empty batch: no-op
            return scan_parquet(spark, path)
        distinct = 1 + sum(_ord.lex_cmp(a, b) != 0
                           for a, b in zip(keys, keys[1:]))
        _require(distinct == len(keys), ValueError,
                 f"batch has duplicate index keys "
                 f"({len(keys)} rows, {distinct} distinct)")
        lbs = [spark_order(b) for b in old.lower_bounds]
        ubs = [spark_order(b) for b in old.upper_bounds]
        untouched, cands = [], []
        for i in range(len(old.files)):
            (cands if _overlaps(lbs[i], ubs[i], keys[0], keys[-1], True, True)
             else untouched).append(i)
        cands.sort(key=lambda i: _ord.lex_key(lbs[i]))
        m = len(cands)
        hits = _probe(keys, [lbs[i] for i in cands], [ubs[i] for i in cands])
        # tiles, walking the candidates up by lower bound: a spared file
        # closes the tile at its lb and opens the next at its ub; a second
        # affected file cuts the tile at its own lb.  No batch key equals
        # a spared bound (that file would be affected), so every tile is
        # [lo, hi).  A tile with no affected file is live when its gap
        # was hit: a scattered batch over a wide envelope schedules no
        # empty tasks.
        tiles = []                  # (lo, hi, affected file or None, live)
        lo, cur, live = None, None, False
        for j, i in enumerate(cands):
            live = live or 2 * j in hits
            if 2 * j + 1 not in hits:
                tiles.append((lo, lbs[i], cur, live))
                lo, cur, live = ubs[i], None, False
                untouched.append(i)
            else:
                if cur is not None:
                    tiles.append((lo, lbs[i], cur, True))
                    lo = lbs[i]
                cur, live = i, True
        tiles.append((lo, None, cur, live or 2 * m in hits))
        tiles = [t for t in tiles if t[3]]
        labels = _perfect_hash_labels(len(tiles))
        # the batch takes the table's recorded column types, as Spark's
        # INSERT casts to its target; a value that does not fit raises
        conform = ([F.col(c).cast(old.schema[c].dataType) for c in table_cols]
                   if old.schema_json else table_cols)
        frame = _within(batch.df, ix, [
            (labels[t], tlo, True, thi, False)
            for t, (tlo, thi, _, _) in enumerate(tiles)]).select(
                *conform, F.col("__bid").alias("__t"))
        rewrite = [(os.path.abspath(os.path.join(path, old.files[f])),
                    labels[t]) for t, (_, _, f, _) in enumerate(tiles)
                   if f is not None]
        if rewrite:
            # batch keys are small by contract: broadcast-hint the
            # anti-join so the survivor scan never rides
            # autoBroadcastJoinThreshold into a SortMergeJoin.  It is
            # null-safe: a table row with a NULL index key must still be
            # replaced by a null-keyed batch row
            keys = F.broadcast(batch.df.select(*ix).distinct()).alias("b")
            surv = (_read_tagged(spark, rewrite, "__t int", old.schema)
                    .alias("t").join(keys, _ord.keys_eq(ix, "t", "b"),
                                     "left_anti"))
            frame = surv.select(*table_cols, "__t").unionByName(frame)
        frame = (frame.repartition(len(tiles), "__t")
                 .sortWithinPartitions(*[F.col(c).asc_nulls_first()
                                         for c in ix])
                 .drop("__t"))
        _commit(spark, path, frame, ix, old.schema_json, old=old,
                keep=sorted(untouched), sorted_by_index=True)
    return scan_parquet(spark, path)


def read_changes(spark: SparkSession, path: str, from_version: int,
                 to_version: int | None = None) -> DataFrame:
    """Row-level change-data-feed between manifest snapshots (the
    lakehouse CDF an incremental consumer reads after ``delete_rows`` /
    ``merge_rows`` commits; extends the file-delta incremental read to
    row granularity).

    Emits one row per changed row per commit in ``(from_version,
    to_version]`` (``to_version=None`` = current; version 0 is the
    empty table, so ``from_version=0`` includes the first write), with
    two metadata columns: ``_commit_version`` (the snapshot that
    introduced the change) and ``_change_type`` (``insert`` /
    ``delete`` / ``update_preimage`` / ``update_postimage`` — Delta-CDF
    naming; a key present on both sides of one commit is an update,
    keys on one side only are pure inserts/deletes).

    Each commit's added and removed files come from
    :func:`metadata.plan_changes`, the planner the ``padawan_cdf``
    stream also maps to its partitions, and only those files are read,
    all in one scan.  Every such file gets a ``(version, +1)`` tag per
    commit that added it and a ``(version, -1)`` tag per commit that
    removed it, and a broadcast join on the file path gives each row
    one copy per tag.  A commit that only adds or only removes files has
    nothing to cancel, so its rows are tagged ``insert`` or ``delete``
    directly.  The rows of a commit that does both (a copy-on-write
    delete, merge or compaction) are summed by sign per full row: rows
    rewritten verbatim sum to 0 and drop out, and every other row repeats
    ``|sum|`` times, the multiset difference EXCEPT ALL gives.  A key
    whose ``(version, *index)`` window holds both a positive and a
    negative sum is an update; window partitions group NULL keys
    together, and NaN keys likewise, so they classify like any other
    key.  The plan has the same size for any number of commits, and
    building it pins nothing and runs no job (beyond the listing job
    Spark runs for more than 32 files)."""
    span = _meta.plan_changes(path, from_version, to_version)
    schema = span.schema
    _require(schema is not None, ValueError,
             f"no snapshot in [{from_version}, {to_version}] at {path} "
             "records a schema (every snapshot in the span is an empty "
             "table); cannot build a change feed")
    cols = schema.names
    one_sided: list[tuple] = []         # (file, version, sign) tags
    two_sided: list[tuple] = []
    for v, added, removed in span.commits:
        tags = two_sided if added and removed else one_sided
        tags += [(f, v, sign) for files, sign in ((added, 1), (removed, -1))
                 for f in files]

    def _tagged(tags: list[tuple]) -> DataFrame:
        return _read_tagged(spark, tags, "_commit_version bigint, __sign int",
                            schema)

    sign = F.col("__sign")
    parts = []
    if one_sided:
        parts.append(_tagged(one_sided).withColumn(
            "_change_type", F.when(sign > 0, "insert").otherwise("delete")))
    if two_sided:
        net = (_tagged(two_sided).groupBy("_commit_version", *cols)
               .agg(F.sum(sign).alias("__sign")).where(sign != 0))
        upd = F.lit(False)
        # one index per table history: append and write_metadata reject
        # a different one, and an overwrite restarts the versions
        ix = list(span.index_columns)
        if ix:
            from pyspark.sql.window import Window
            w = Window.partitionBy("_commit_version", *ix)
            upd = (F.max(sign).over(w) > 0) & (F.min(sign).over(w) < 0)
        parts.append(net.withColumn(
            "_change_type",
            F.when(sign > 0, F.when(upd, "update_postimage")
                   .otherwise("insert"))
            .when(upd, "update_preimage").otherwise("delete"))
            .withColumn("__sign", F.explode(
                F.array_repeat(sign, F.abs(sign).cast("int")))))
    if not parts:
        return (_local_df(spark, [], schema)
                .withColumn("_commit_version", F.lit(0).cast("bigint"))
                .withColumn("_change_type", F.lit("")))
    return functools.reduce(DataFrame.unionByName, [
        p.select(*cols, "_commit_version", "_change_type") for p in parts])


_REFRESH_STATE_FILE = "_refresh_state.json"


def fold_changes_into_aggregate(spark: SparkSession, target_path: str,
                                changes: DataFrame, keys: Sequence[str],
                                sum_cols: Sequence[str] = ()) -> None:
    """Fold a row-level change set (``read_changes`` schema: data
    columns + ``_change_type``) into a count+sums aggregate table at
    ``target_path``: insert/update_postimage rows add, delete/
    update_preimage rows subtract, per group key.  Creates the table
    from the deltas if it does not exist yet.  Shared by
    :func:`refresh_aggregate` (batch pull) and the streaming
    foreachBatch consumer of the ``padawan_cdf`` source (push) —
    cost is a groupBy over the CHANGES plus a merge of affected
    groups, never a source rescan or a full target rewrite."""
    keys = list(keys)
    sum_cols = list(sum_cols)
    sign = F.when(F.col("_change_type").isin("insert",
                                             "update_postimage"),
                  F.lit(1)).otherwise(F.lit(-1))
    delta = (changes.withColumn("__sign", sign)
             .groupBy(*keys)
             .agg(F.sum("__sign").cast("bigint").alias("d_cnt"),
                  *[F.sum(F.col("__sign") * F.col(c))
                    .alias(f"d_sum_{c}") for c in sum_cols]))
    if not _meta.list_versions(target_path):
        first = delta.select(
            *keys, F.col("d_cnt").alias("cnt"),
            *[F.col(f"d_sum_{c}").alias(f"sum_{c}") for c in sum_cols])
        Dataset(spark, first, index_columns=tuple(keys)) \
            .reindex(tuple(keys)).write_parquet(target_path)
        return
    # touch only the affected groups, without shuffling the MV: the
    # delta is small (one change-window of groups) so BROADCAST it —
    # first as a semi-join filter that reduces the MV scan to affected
    # rows (no exchange on the MV side), then as the probe side of the
    # outer join against that reduced set.  Null-safe equality
    # throughout — group keys may be NULL.
    cur = scan_parquet(spark, target_path).df
    affected = cur.alias("m").join(
        F.broadcast(delta.select(*keys)).alias("dk"),
        on=_ord.keys_eq(keys, "m", "dk"), how="leftsemi")
    joined = delta.alias("d").join(
        F.broadcast(affected.alias("m")),
        on=_ord.keys_eq(keys, "d", "m"), how="left")
    upd = joined.select(
        *[F.col(f"d.{c}") for c in keys],
        (F.coalesce(F.col("m.cnt"), F.lit(0))
         + F.col("d.d_cnt")).cast("bigint").alias("cnt"),
        *[(F.coalesce(F.col(f"m.sum_{c}"), F.lit(0))
           + F.col(f"d.d_sum_{c}")).alias(f"sum_{c}")
          for c in sum_cols])
    # materialize the fold ONCE: the merge reads its batch in two jobs
    # (its keys, then the write), each of which would otherwise recompute
    # the whole CDF+join pipeline.  A no-op change feed folds to an empty
    # batch, which merge_rows commits no version for.
    upd = upd.localCheckpoint(eager=True)
    merge_rows(spark, target_path,
               Dataset(spark, upd, index_columns=tuple(keys)))


def refresh_aggregate(spark: SparkSession, source_path: str,
                      target_path: str, keys: Sequence[str],
                      sum_cols: Sequence[str] = ()) -> Dataset:
    """Incrementally maintained materialized aggregate — the flagship
    consumer of :func:`read_changes`.

    Maintains ``target_path`` as a lakehouse table indexed by ``keys``
    holding ``cnt`` (source row count per group) and ``sum_<c>`` for
    each column in ``sum_cols``.  The first call (or a target whose
    refresh state is missing/diverged) computes the FULL aggregate of
    the source's current snapshot; every later call reads ONLY the
    row-level change feed since the last refreshed source version,
    folds it into per-group deltas (insert/update_postimage add,
    delete/update_preimage subtract — count and sums are
    self-maintainable, so an update moving a row across groups
    adjusts both sides), and :func:`merge_rows` writes ONLY the
    affected groups.  Groups whose count reaches zero are kept with
    ``cnt = 0`` (merge is upsert-only); readers filter them.

    Scale shape: a one-day change set against a 100 TB source costs a
    one-day CDF read + a groupBy over the changes + a merge that
    rewrites only the target files containing affected group keys —
    never a source rescan, never a full MV rewrite.

    Crash/concurrency safety: the sidecar ``_refresh_state.json``
    records the source's ``table_id`` + refreshed version AND the
    target version the refresh produced.  A state/target version
    mismatch (crash between commit and state write, or an out-of-band
    writer touching the MV) or a source table_id change (path reuse)
    is detected and falls back to a full recompute instead of silently
    double-applying deltas."""
    keys = list(keys)
    sum_cols = list(sum_cols)
    agg_exprs = [F.count(F.lit(1)).cast("bigint").alias("cnt")] + [
        F.sum(F.col(c)).alias(f"sum_{c}") for c in sum_cols]
    src_versions = _meta.list_versions(source_path)
    _require(bool(src_versions), ValueError,
             f"source {source_path} has no version history; "
             "refresh_aggregate needs a manifest-tracked table")
    src_ver = src_versions[-1]
    src_id = _meta.table_id(source_path)

    state_path = os.path.join(target_path, _REFRESH_STATE_FILE)
    state = None
    if os.path.exists(state_path):
        try:
            with open(state_path) as fh:
                state = json.load(fh)
        except (OSError, ValueError):
            state = None
    tgt_versions = (_meta.list_versions(target_path)
                    if os.path.isdir(target_path) else [])
    stale = (state is None or not tgt_versions
             or state.get("source_table_id") != src_id
             or state.get("target_version") != tgt_versions[-1]
             or state.get("source_version") not in src_versions)

    if stale:
        # full recompute of the current source snapshot
        full = (scan_parquet(spark, source_path).df
                .groupBy(*keys).agg(*agg_exprs))
        ds = Dataset(spark, full, index_columns=tuple(keys))
        ds.reindex(tuple(keys)).write_parquet(target_path)
    elif state["source_version"] != src_ver:
        changes = read_changes(spark, source_path,
                               state["source_version"], src_ver)
        fold_changes_into_aggregate(spark, target_path, changes, keys,
                                    sum_cols)
    # (state["source_version"] == src_ver: already fresh, nothing to do)

    new_tgt = _meta.list_versions(target_path)[-1]
    tmp = state_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"source_table_id": src_id, "source_version": src_ver,
                   "target_version": new_tgt}, fh)
    os.replace(tmp, state_path)
    return scan_parquet(spark, target_path)


def _bloom_sidecar(path: str, column: str) -> str:
    return os.path.join(path, f"_bloom_{column}.json")


def _bloom_positions(spark: SparkSession, value, m: int, k: int,
                     dtype: str) -> list[int]:
    """The k bloom bit positions of one probe value, computed with the
    SAME executor-side hash (xxhash64 seeded 0..k-1) the index was
    built with — one O(1) local job, no table access."""
    row = (spark.range(1)
           .select(*[F.abs(F.xxhash64(F.lit(value).cast(dtype),
                                      F.lit(i))) % m
                     for i in range(k)]).collect()[0])
    return [int(v) for v in row]


def build_bloom_index(spark: SparkSession, path: str, column: str,
                      m: int = 1 << 16, k: int = 4) -> dict:
    """Per-FILE Bloom-filter index over a NON-index column (the
    Delta/Hudi bloom-index idea): manifest range pruning answers
    index-column predicates; point lookups on any other column
    otherwise scan every file.  One distributed pass computes each
    file's m-bit bloom of ``column`` (k xxhash64 probes per value) as
    sparse 64-bit words — ``explode`` to (file, word, bit-mask) then
    ``bit_or`` per (file, word), so the shuffle is bounded by
    files x m/64 WORDS, never by row count — and stores them in a
    version-stamped sidecar.  :func:`scan_point_lookup` then prunes
    files whose bloom excludes the probe value: false POSITIVES cost a
    wasted file read, false negatives are impossible (property-tested).

    Scale shape: the build is one scan + a word-bounded shuffle; the
    sidecar is O(files x set-bits) on disk; lookups never touch data
    files beyond the surviving set."""
    man = _meta.load_manifest(path)
    _require(column not in man.index_columns, ValueError,
             f"{column!r} is an index column — manifest range pruning "
             "already serves it; bloom indexes are for non-index columns")
    files = [os.path.join(path, f) for f in man.files]
    if not files:
        sidecar = {"column": column, "m": m, "k": k,
                   "version": _meta.list_versions(path)[-1], "files": {}}
    else:
        df = _read_files(spark, files, man.schema)
        dtype = dict(df.dtypes)[column]
        pairs = df.select(
            _file_path().alias("__f"),
            F.explode(F.array(*[
                F.abs(F.xxhash64(F.col(column).cast(dtype), F.lit(i))) % m
                for i in range(k)])).alias("__pos"))
        words = (pairs
                 .select("__f", (F.col("__pos") / 64).cast("int")
                         .alias("__w"),
                         F.expr("shiftleft(cast(1 as bigint), "
                                "cast(__pos % 64 as int))").alias("__m"))
                 .groupBy("__f", "__w")
                 .agg(F.expr("bit_or(__m)").alias("__bits"))
                 .collect())
        base = os.path.abspath(path)
        per_file: dict = {}
        for r in words:
            rel = os.path.relpath(r["__f"], base)
            per_file.setdefault(rel, {})[str(r["__w"])] = int(r["__bits"])
        sidecar = {"column": column, "m": m, "k": k, "dtype": dtype,
                   "version": _meta.list_versions(path)[-1],
                   "files": per_file}
    tmp = _bloom_sidecar(path, column) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(sidecar, fh)
    os.replace(tmp, _bloom_sidecar(path, column))
    return sidecar


def scan_point_lookup(spark: SparkSession, path: str, column: str,
                      value) -> DataFrame:
    """Point lookup ``column = value`` served through the bloom
    sidecar: files whose bloom excludes every probe bit are never
    read.  A missing or STALE sidecar (its version no longer the
    table's current version — data files changed since the build)
    falls back to the full pruned scan, correctness first; rebuild
    with :func:`build_bloom_index` to re-arm it."""
    ds = scan_parquet(spark, path)
    pred = F.col(column).eqNullSafe(F.lit(value)) if value is None \
        else (F.col(column) == F.lit(value))
    sc_path = _bloom_sidecar(path, column)
    if not os.path.exists(sc_path):
        return ds.df.where(pred)
    with open(sc_path) as fh:
        sidecar = json.load(fh)
    if sidecar.get("version") != _meta.list_versions(path)[-1] \
            or value is None:
        return ds.df.where(pred)          # stale sidecar: full scan
    pos = _bloom_positions(spark, value, sidecar["m"], sidecar["k"],
                           sidecar.get("dtype", "bigint"))
    need = {}
    for p in pos:
        need.setdefault(str(p // 64), 0)
        need[str(p // 64)] |= 1 << (p % 64)
    survivors = [
        f for f, words in sidecar["files"].items()
        if all((words.get(w, 0) & bits) == bits
               for w, bits in need.items())]
    if not survivors:
        return ds.df.where(pred).limit(0)
    return _read_files(spark, [os.path.join(path, f) for f in survivors],
                       ds.df.schema, pred)


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """Table history (the DESCRIBE HISTORY operational surface):
    one row per snapshot with its file count, total rows (when the
    manifest records sizes), and the file delta against the previous
    snapshot — derived purely from the archived manifests, O(files)
    driver work, no data reads.  Lets an operator answer "what did
    that commit touch" before replaying the row-level CDF."""
    versions = _meta.list_versions(path)
    _require(bool(versions), ValueError,
             f"{path} has no version history")
    rows = []
    prev: set = set()
    for v in versions:
        man = _meta.load_manifest(path, version=v)
        cur = set(man.files)
        rows.append((v, len(man.files), len(cur - prev), len(prev - cur),
                     sum(man.sizes) if man.known_sizes else None))
        prev = cur
    return _local_df(spark, rows,
                     "version bigint, n_files int, n_added_files int, "
                     "n_removed_files int, total_rows bigint")


FOOTER_STATS_SCHEMA = ("file string, row_group int, column string, "
                       "num_values bigint, null_count bigint, "
                       "min_val string, max_val string")


def scan_parquet_footers(spark: SparkSession, files) -> DataFrame:
    """Distributed parquet FOOTER statistics scan: one row per
    (file, row group, column) with value counts, null counts, and
    min/max statistics — the debugging/ops view behind every pruning
    decision ("why didn't this row group get skipped?").  The file
    list parallelizes as a DataFrame and each task taps only footer
    bytes via pyarrow (O(footer) per file, no data pages), so a
    100k-file audit is one short all-metadata job.  Min/max surface as
    strings (the footer's logical values rendered), matching how
    engine UIs display them."""
    if isinstance(files, str):
        files = [files]
    fdf = _local_df(spark, [(f,) for f in files], "file string")

    def batches(it):
        import pandas as pd
        import pyarrow.parquet as pq
        for pdf in it:
            out = []
            for f in pdf["file"]:
                md = pq.ParquetFile(f).metadata
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        st = col.statistics
                        out.append((
                            os.path.basename(f), rg,
                            col.path_in_schema,
                            col.num_values,
                            st.null_count if st and st.has_null_count
                            else None,
                            str(st.min) if st and st.has_min_max
                            else None,
                            str(st.max) if st and st.has_min_max
                            else None))
            yield pd.DataFrame(out, columns=[
                "file", "row_group", "column", "num_values",
                "null_count", "min_val", "max_val"])

    return fdf.repartition(max(1, min(len(files), 64))) \
        .mapInPandas(batches, FOOTER_STATS_SCHEMA)
