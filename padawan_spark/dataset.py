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

Scale stance (100 TB): nothing here collects data to the driver except
(a) per-partition stat rows (one row per partition — bounded by partition
count, not data size) and (b) explicit ``collect()``.  All pruning
predicates are Catalyst boolean trees that push into parquet scans.
"""

from __future__ import annotations

import functools
import glob as _glob
import json
import math
import os
import shutil
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, LongType, StructField,
                               StructType)

from . import metadata as _meta
from . import ordering as _ord


class StatsUnknownError(Exception):
    """Raised when an operation needs sizes/bounds that were never computed.

    Parity with ``/root/reference/src/padawan/dataset.py:51-52``."""


class AppendError(Exception):
    """Raised on index-column mismatch when appending
    (``/root/reference/src/padawan/dataset.py:364-381``)."""


_INCLUSIVE = ("none", "lower", "upper", "both")

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
                # manifest-backed scans read with the RECORDED schema:
                # stable column set under schema evolution (files written
                # before a merge_schema append lack the new columns and
                # surface them as nulls), no footer schema inference, and
                # time travel reproduces each snapshot's own schema
                reader = (spark.read.schema(schema) if schema is not None
                          else spark.read)
                df = reader.parquet(*self._files)
                if residual is not None:
                    df = df.where(residual)
            else:
                _require(schema is not None, ValueError,
                         "zero-partition dataset requires an explicit schema")
                df = spark.createDataFrame([], schema)
        self.df = df
        self.index_columns = tuple(index_columns)
        self._sizes = list(sizes) if sizes is not None else None
        self._lower_bounds = list(lower_bounds) if lower_bounds is not None else None
        self._upper_bounds = list(upper_bounds) if upper_bounds is not None else None

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
            # schema-pinned so pre-evolution files surface added columns
            # as nulls, identical to the whole-dataset view
            part = (self.spark.read.schema(self.df.schema)
                    .parquet(self._files[i]))
            return part.where(self._residual) if self._residual is not None else part
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
            # (reindexed_dataset.py:59-67).
            stats = _file_stats(self.spark, self._files, ix,
                                residual=self._residual)
            kept = [f for f in self._files if os.path.abspath(f) in stats]
            st = [stats[os.path.abspath(f)] for f in kept]
            return Dataset(self.spark, files=kept, index_columns=ix,
                           schema=self.df.schema,
                           sizes=[s[0] for s in st],
                           lower_bounds=[s[1] for s in st],
                           upper_bounds=[s[2] for s in st],
                           residual=self._residual)
        sizes, lbs, ubs, nonempty = self._stats_job(ix)
        return self._with_meta(index_columns=ix, sizes=sizes,
                               lower_bounds=lbs, upper_bounds=ubs,
                               partition_ids=nonempty)

    def _stats_job(self, ix: tuple[str, ...]):
        """One distributed pass: per-partition count + null-first lex min/max.

        Returns (sizes, lower_bounds, upper_bounds, nonempty_partition_ids),
        ordered by partition id.  Collects one row per partition — safe at
        any data scale (bounded by partition count).
        """
        df = self.df
        pid = F.spark_partition_id().alias("__pid")
        if not ix:
            rows = (df.select(pid).groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
                    .collect())
            stats = {r["__pid"]: (r["__n"], (), ()) for r in rows}
        else:
            key = F.struct(*_ord.sort_key_cols(ix))
            val = F.struct(*[F.col(c) for c in ix])
            rows = (
                df.select(pid, key.alias("__k"), val.alias("__v"))
                .groupBy("__pid")
                .agg(F.count(F.lit(1)).alias("__n"),
                     F.min_by("__v", "__k").alias("__lb"),
                     F.max_by("__v", "__k").alias("__ub"))
                .collect()
            )
            stats = {
                r["__pid"]: (r["__n"],
                             tuple(r["__lb"][c] for c in ix),
                             tuple(r["__ub"][c] for c in ix))
                for r in rows
            }
        nonempty = sorted(stats)
        sizes = [stats[i][0] for i in nonempty]
        lbs = [stats[i][1] for i in nonempty]
        ubs = [stats[i][2] for i in nonempty]
        return sizes, lbs, ubs, nonempty

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
        (joined executor-side via ``input_file_name``), physical
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
                tagged = self.df.withColumn(
                    key_col, F.regexp_replace(F.input_file_name(),
                                              "^file:/+", "/"))
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
        _require(inclusive in _INCLUSIVE, ValueError,
                 f"inclusive must be one of {_INCLUSIVE}: {inclusive}")
        _require(self.index_columns != (), ValueError,
                 "slice requires index columns")
        ix = self.index_columns
        lo_incl = inclusive in ("lower", "both")
        hi_incl = inclusive in ("upper", "both")

        cond = None
        if lb is not None:
            c = (_ord.columns_geq if lo_incl else _ord.columns_gt)(ix, lb)
            cond = c if cond is None else (cond & c)
        if ub is not None:
            c = (_ord.columns_leq if hi_incl else _ord.columns_lt)(ix, ub)
            cond = c if cond is None else (cond & c)
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
                if not _overlaps(plb, pub, lb, ub, lo_incl, hi_incl):
                    continue
                keep.append(i)
                inside = _contained(plb, pub, lb, ub, lo_incl, hi_incl)
                new_sizes.append(self._sizes[i] if (self.known_sizes and inside) else None)
                new_lbs.append(_clamp_lb(plb, lb, len(ix), lo_incl))
                new_ubs.append(_clamp_ub(pub, ub, len(ix), hi_incl))
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
                return Dataset(self.spark, files=files, index_columns=ix,
                               sizes=sizes, lower_bounds=lbs, upper_bounds=ubs,
                               residual=residual)
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
            key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
            prev = self.spark.conf.get(key, None)
            self.spark.conf.set(
                key, str(max(20, int(sample_fraction * rows_per_partition))))
            try:
                # materialize the sampled partitioning under the scoped
                # conf: localCheckpoint truncates to the physical RDD
                # (partitioning + ordering preserved in the LogicalRDD),
                # so downstream plans — reindex, joins, writes — reuse
                # this exact partitioning rather than re-sampling under
                # whatever the conf is by then
                new_df = (self.df
                          .repartitionByRange(
                              n, *[F.col(c).asc_nulls_first() for c in ix])
                          .sortWithinPartitions(
                              *[F.col(c).asc_nulls_first() for c in ix])
                          .localCheckpoint(eager=True))
            finally:
                if prev is None:
                    self.spark.conf.unset(key)
                else:
                    self.spark.conf.set(key, prev)
            return Dataset(self.spark, new_df, index_columns=ix)
        if exact:
            from pyspark.sql.window import Window
            w = Window.orderBy(*[F.col(c).asc_nulls_first() for c in ix])
            tagged = self.df.withColumn("__rn", F.row_number().over(w))
            tagged = tagged.withColumn(
                "__part", F.floor((F.col("__rn") - 1) / F.lit(rows_per_partition)))
            new_df = (tagged.repartitionByRange(n, "__part")
                      .sortWithinPartitions("__part", *ix)
                      .drop("__rn", "__part"))
            return Dataset(self.spark, new_df, index_columns=ix)
        new_df = (self.df
                  .repartitionByRange(n, *[F.col(c).asc_nulls_first() for c in ix])
                  .sortWithinPartitions(*[F.col(c).asc_nulls_first() for c in ix]))
        return Dataset(self.spark, new_df, index_columns=ix)

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
            pairs = [(os.path.abspath(self._files[i]), labels[gi])
                     for gi, g in enumerate(groups) for i in g]
            map_df = self.spark.createDataFrame(
                pairs, "__path string, __label int")
            base = self.spark.read.schema(self.df.schema).parquet(
                *[self._files[i] for g in groups for i in g])
            if self._residual is not None:
                base = base.where(self._residual)
            tagged = (base
                      # file:///x/y → /x/y, matching os.path.abspath keys
                      .withColumn("__path",
                                  F.regexp_replace(F.input_file_name(),
                                                   "^file:/+", "/"))
                      .join(F.broadcast(map_df), "__path")
                      .drop("__path"))
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
        callback polled while the write and stats jobs run (reference
        parity: ``progress.py:7-51``).

        ``append=False`` wipes the target (``dataset.py:349-363``);
        ``append=True`` validates index-column equality against the
        existing manifest (``AppendError``, ``dataset.py:364-381``) and
        extends it.  Stats for the manifest are computed by a distributed
        per-file aggregation job, never by collecting data.

        ``manifest_table=True`` additionally persists the manifest in its
        scale form — a parquet table of (file, size, bounds) rows that
        planning can filter/join distributed instead of parsing one JSON
        document on the driver (SURVEY §7.4 trap 7; the Iceberg/Delta
        manifest shape for million-file tables).
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
                            manifest_table=manifest_table)
            except _meta.CommitConflictError as e:
                raise AppendError(str(e)) from None
        else:
            if os.path.exists(path):
                shutil.rmtree(path)
            _commit(self.spark, path, self.df, self.index_columns,
                    self.df.schema.json(), manifest_table=manifest_table)
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
        return Dataset(
            self.spark, self.df, files=self._files,
            index_columns=kw.get("index_columns", self.index_columns),
            sizes=kw.get("sizes", self._sizes),
            lower_bounds=kw.get("lower_bounds", self._lower_bounds),
            upper_bounds=kw.get("upper_bounds", self._upper_bounds),
            residual=kw.get("residual", self._residual),
            partition_ids=kw.get("partition_ids", self._partition_ids),
        )


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


def _clamp_lb(plb, lb, k, lo_incl=True):
    """Tighten a partition lower bound against the slice lower bound.

    Only valid when the slice bound is FULL-LENGTH and inclusive (matching
    the reference, ``sliced_dataset.py:116-120``): a prefix bound ``(2,)``
    admits surviving rows like ``(2, 3)`` that sort below any synthesized
    full-length bound such as ``(2, 5)``, so prefix/strict bounds must keep
    the original partition bound (conservative but correct)."""
    if lb is None or len(lb) != k or not lo_incl:
        return plb
    return plb if _cmp_prefix(plb, lb) >= 0 else tuple(lb)


def _clamp_ub(pub, ub, k, hi_incl=True):
    if ub is None or len(ub) != k or not hi_incl:
        return pub
    return pub if _cmp_prefix(pub, ub) <= 0 else tuple(ub)


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


def _norm_file_uri(uri: str) -> str:
    """file:///x/y.parquet → /x/y.parquet (normalized absolute path)."""
    if uri.startswith("file:"):
        uri = uri[len("file:"):]
    return os.path.abspath(uri)


def _file_stats(spark: SparkSession, files: list[str], ix: tuple[str, ...],
                residual=None):
    """Distributed per-file stats: {abspath: (nrows, lb, ub)}.

    Uses ``input_file_name()`` grouping so a file split across tasks is
    still aggregated once; one output row per file (bounded by file count,
    not data size — safe at 100 TB).  ``residual`` restricts the stats to
    rows surviving a slice predicate (files with no surviving rows drop
    out, like empty files)."""
    if not files:
        return {}
    df = spark.read.parquet(*files)
    if residual is not None:
        df = df.where(residual)
    fname = F.input_file_name().alias("__f")
    if not ix:
        rows = df.select(fname).groupBy("__f").agg(
            F.count(F.lit(1)).alias("__n")).collect()
        return {_norm_file_uri(r["__f"]): (r["__n"], (), ()) for r in rows}
    key = F.struct(*_ord.sort_key_cols(ix))
    val = F.struct(*[F.col(c) for c in ix])
    rows = (df.select(fname, key.alias("__k"), val.alias("__v"))
            .groupBy("__f")
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.min_by("__v", "__k").alias("__lb"),
                 F.max_by("__v", "__k").alias("__ub"))
            .collect())
    return {_norm_file_uri(r["__f"]): (r["__n"],
                                       tuple(r["__lb"][c] for c in ix),
                                       tuple(r["__ub"][c] for c in ix))
            for r in rows}


def _commit(spark: SparkSession, path: str, df: DataFrame | None,
            index_columns, schema_json: str | None, old=None, keep=(),
            manifest_table: bool = False) -> None:
    """The commit every table writer ends with.

    ``df`` is appended to ``path`` as new data files; ``df=None`` adopts
    every parquet file already there.  Only the added files are statted, and
    empty ones are dropped (``dataset.py:340-347``).  The new manifest
    lists ``old``'s files at the positions in ``keep``, then the added
    files; ``schema_json=None`` records the added files' schema (still
    ``None`` when no added file has rows).  The JSON manifest is
    published with its version snapshot, and the manifest table is
    rewritten when asked for or already present, so ``scan_parquet`` and
    ``scan_parquet_pruned`` always see the same files.  Writers that
    read-modify-write the manifest call this inside the commit lock."""
    before = set()
    if df is not None:
        before = set(_list_parquet(path))
        df.write.mode("append").parquet(path)
    paths = {f: os.path.abspath(os.path.join(path, f))
             for f in _list_parquet(path) if f not in before}
    stats = _file_stats(spark, list(paths.values()), tuple(index_columns))
    added = [f for f in paths if paths[f] in stats]
    old = old or _meta.Manifest()

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
        _meta.write_manifest_table(spark, path, man)


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
    """Scale-path sliced scan for very large file counts: prune files
    with a DISTRIBUTED filter over the parquet manifest TABLE (written
    by ``write_parquet(manifest_table=True)``) BEFORE materializing the
    Dataset, then apply the exact slice residual.

    ``scan_parquet(path).slice(...)`` parses the whole JSON manifest on
    the driver — O(total files) driver memory and parse time, the wrong
    shape at millions of files (SURVEY §7.4 trap 7).  This path filters
    the (file, size, bounds) TABLE as a DataFrame job and collects ONLY
    the surviving rows, so driver cost scales with the files that
    overlap the slice, not the table size.

    Pruning is a CONSERVATIVE first-index-column overlap test (files
    with unknown or non-comparable bounds are kept), which is always a
    superset of the exact file set; the returned Dataset then applies
    the ordinary exact :meth:`Dataset.slice` (all four inclusivity
    modes, full-prefix lex bounds, parquet min/max pushdown) on that
    subset — so results are identical to the driver-side path by
    construction, only cheaper to plan."""
    import datetime as _dt

    _require(os.path.isdir(_meta.manifest_table_path(path)), ValueError,
             f"scan_parquet_pruned requires a manifest table at {path} "
             f"(write with manifest_table=True)")
    t = _meta.load_manifest_table(spark, path)

    def _first_key(col: str, probe):
        """Sortable SQL expression for a bound tuple's first element, or
        None when the probe's type can't be compared lexicographically
        (caller then keeps everything — conservative)."""
        if isinstance(probe, _dt.datetime):
            return F.get_json_object(F.col(col), "$[0].$datetime")
        if isinstance(probe, _dt.date):
            return F.get_json_object(F.col(col), "$[0].$date")
        if isinstance(probe, bool) or isinstance(probe, _dt.timedelta):
            return None                       # not lexicographic — keep all
        if isinstance(probe, (int, float)):
            return F.get_json_object(F.col(col), "$[0]").cast("double")
        if isinstance(probe, str):
            return F.get_json_object(F.col(col), "$[0]")
        return None

    def _probe_lit(probe):
        if isinstance(probe, (_dt.datetime, _dt.date)):
            return F.lit(probe.isoformat())
        if isinstance(probe, (int, float)):
            return F.lit(float(probe))
        return F.lit(probe)

    keep = F.lit(True)
    # overlap test on the FIRST index column (inclusive on both ends —
    # a superset of every inclusivity mode; nulls kept):
    #   file may overlap  iff  file.lb[0] <= ub[0]  AND  file.ub[0] >= lb[0]
    if ub is not None and len(ub) > 0 and ub[0] is not None:
        k = _first_key("lb", ub[0])
        if k is not None:
            keep = keep & (k.isNull() | (k <= _probe_lit(ub[0])))
    if lb is not None and len(lb) > 0 and lb[0] is not None:
        k = _first_key("ub", lb[0])
        if k is not None:
            keep = keep & (k.isNull() | (k >= _probe_lit(lb[0])))
    rows = (t.where(keep | F.col("lb").isNull() | F.col("ub").isNull())
            .orderBy("pos").collect())
    ds = _manifest_dataset(spark, path, _meta._manifest_from_rows(path, rows))
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
        # spark.read.parquet(*files), which packs small files into
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
    (``write_metadata.py:22-79``): distributed stats job, empty files
    dropped.  It commits like every writer: under the commit lock, as a
    new version snapshot, refreshing the manifest table if there is one."""
    with _meta.commit_lock(path, "write_metadata"):
        _commit(spark, path, None, index_columns, None)


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
        _commit(spark, path, comp.df, old.index_columns, ds.df.schema.json(),
                old=old)
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
    _require(inclusive in _INCLUSIVE, ValueError,
             f"inclusive must be one of {_INCLUSIVE}: {inclusive}")
    with _meta.commit_lock(path, "delete"):
        old = _meta.load_manifest(path)
        ix = old.index_columns
        _require(ix != (), ValueError, "delete_rows requires index columns")
        _require(old.known_bounds, ValueError,
                 "delete_rows requires manifest bounds")
        lo_incl = inclusive in ("lower", "both")
        hi_incl = inclusive in ("upper", "both")
        untouched, affected = [], []
        for i, f in enumerate(old.files):
            if _overlaps(old.lower_bounds[i], old.upper_bounds[i],
                         lb, ub, lo_incl, hi_incl):
                affected.append(f)
            else:
                untouched.append(i)
        if not affected:            # nothing overlaps: no-op, no version
            return scan_parquet(spark, path)
        cond = None
        if lb is not None:
            c = (_ord.columns_geq if lo_incl else _ord.columns_gt)(ix, lb)
            cond = c if cond is None else (cond & c)
        if ub is not None:
            c = (_ord.columns_leq if hi_incl else _ord.columns_lt)(ix, ub)
            cond = c if cond is None else (cond & c)
        survives = ~F.coalesce(cond, F.lit(False))   # null-safe complement
        rdr = spark.read.schema(old.schema) if old.schema_json else spark.read
        rewritten = (rdr.parquet(
            *[os.path.join(path, f) for f in affected]).where(survives))
        _commit(spark, path, rewritten, ix, old.schema_json, old=old,
                keep=untouched)
    return scan_parquet(spark, path)


def merge_rows(spark: SparkSession, path: str, batch: "Dataset") -> Dataset:
    """In-place MERGE (upsert by index key) — the lakehouse
    DELETE+INSERT in one commit: every ``batch`` row replaces the
    table row with the same index key (if any); the rest insert.

    Copy-on-write like :func:`delete_rows`: the rewrite set is the
    files that actually CONTAIN a batch key — envelope overlap against
    the manifest picks candidates (file-count work, no table scan),
    then ONE broadcast join of the small-by-contract batch keys against
    a (file, bounds) table tests per-file key membership, so a 2-key
    batch at opposite table ends rewrites 2 files, not every file the
    min/max envelope spans.
    Surviving rows — a left-anti join against the batch's keys over
    ONLY the affected files — union with the batch and re-collate into
    fresh range-disjoint files, collated per REGION (the gaps between
    kept files) so the rewritten files never straddle a kept file's
    range.  Untouched files stay byte-identical, and older pins
    (``scan_parquet(version=k)``) keep reading their exact snapshot
    until :func:`padawan_spark.metadata.vacuum`.

    Scale shape: cost is O(files touched + batch), never O(table); a
    daily upsert against a date-collated 100 TB corpus rewrites one
    day of files, and a scattered batch rewrites only the files its
    keys land in (two fixed-size metadata probe jobs total, however
    many candidates).  The whole read-manifest → rewrite → publish sequence
    holds the commit lock, same as append/compact/delete."""
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
        # one job: batch key range + uniqueness check.  The distinct
        # count runs over a STRUCT of the key columns: countDistinct on
        # bare columns drops null-keyed rows (legal under null-first
        # semantics), which would misreport a single null-key row as a
        # duplicate.
        key = F.struct(*_ord.sort_key_cols(ix))
        val = F.struct(*[F.col(c) for c in ix])
        agg = batch.df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(val).alias("nd"),
            F.min_by(val, key).alias("lb"),
            F.max_by(val, key).alias("ub")).collect()[0]
        if agg["n"] == 0:                    # empty batch: no-op
            return scan_parquet(spark, path)
        _require(agg["n"] == agg["nd"], ValueError,
                 f"batch has duplicate index keys "
                 f"({agg['n']} rows, {agg['nd']} distinct)")
        blb = tuple(agg["lb"][c] for c in ix)
        bub = tuple(agg["ub"][c] for c in ix)
        untouched, candidates = [], []
        for i, f in enumerate(old.files):
            if _overlaps(old.lower_bounds[i], old.upper_bounds[i],
                         blb, bub, True, True):
                candidates.append(i)
            else:
                untouched.append(i)
        # refine the envelope-overlap candidates to per-file KEY
        # membership: a scattered batch (keys at both table extremes)
        # envelope-overlaps every file but only TOUCHES the files that
        # actually contain one of its keys.  The per-file containment
        # test runs as ONE broadcast nested-loop join — batch keys vs a
        # tiny (file_id, lb, ub) bounds table built from the manifest —
        # a single Spark job regardless of candidate count (the prior
        # chunked-aggregate form launched one sequential job per 128
        # candidates: ~800 jobs inside the commit lock on a 100k-file
        # table).  No data files read, no key collection: the join
        # output is the distinct matched file ids, O(candidates) rows.
        candidates.sort(key=functools.cmp_to_key(
            lambda a, b: _ord.lex_cmp(old.lower_bounds[a],
                                      old.lower_bounds[b])))
        ix_fields = [batch.df.schema[c] for c in ix]
        key_df = batch.df.select(*[F.col(c) for c in ix])

        def _probe(rows, schema, cond) -> set:
            """One broadcast-NL-join job: which bounds rows match ≥1 key."""
            bdf = spark.createDataFrame(rows, schema)
            hit = (key_df.join(F.broadcast(bdf), on=cond, how="inner")
                   .select("__bid").distinct().collect())
            return {r["__bid"] for r in hit}

        nb = len(ix_fields)
        file_schema = StructType(
            [StructField("__bid", LongType(), False)]
            + [StructField(f"__lb_{j}", f.dataType, True)
               for j, f in enumerate(ix_fields)]
            + [StructField(f"__ub_{j}", f.dataType, True)
               for j, f in enumerate(ix_fields)])
        lb_cols = [F.col(f"__lb_{j}") for j in range(nb)]
        ub_cols = [F.col(f"__ub_{j}") for j in range(nb)]
        inside_set = _probe(
            [(i, *old.lower_bounds[i], *old.upper_bounds[i])
             for i in candidates],
            file_schema,
            _ord.cols_geq_cols(ix, lb_cols) & _ord.cols_leq_cols(ix, ub_cols)
        ) if candidates else set()
        affected = [i for i in candidates if i in inside_set]
        spared = [i for i in candidates if i not in inside_set]
        untouched = sorted(untouched + spared)
        # The rewritten rows must stay range-disjoint from every KEPT
        # file, so the merge collates per REGION: the open gaps between
        # consecutive SPARED candidates (inside-envelope files holding no
        # batch key).  Fully-outside untouched files cannot interleave —
        # batch keys and affected-file bounds all lie inside the
        # envelope, which the spared/affected candidates tile.  Region r
        # in 0..len(spared) spans (spared[r-1].ub, spared[r].lb), open
        # ends at the extremes; every batch key and every affected file
        # falls strictly inside one region (a key on a spared bound
        # would have made that file affected).
        def _region_pred(r):
            p = None
            if r > 0:
                p = _ord.columns_gt(ix, old.upper_bounds[spared[r - 1]])
            if r < len(spared):
                c = _ord.columns_lt(ix, old.lower_bounds[spared[r]])
                p = c if p is None else (p & c)
            return (F.lit(True) if p is None
                    else F.coalesce(p, F.lit(False)))
        region_files: dict[int, list[int]] = {}
        r = 0
        for i in affected:           # both lists ascend by lower bound
            while r < len(spared) and _ord.lex_cmp(
                    old.lower_bounds[i], old.lower_bounds[spared[r]]) > 0:
                r += 1
            region_files.setdefault(r, []).append(i)
        work = sorted(region_files)
        # pure-insert regions (keys landing in a gap with no affected
        # file): same single broadcast-join probe, gap bounds table this
        # time.  Open ends carry an explicit has_lo/has_hi flag because a
        # NULL bound VALUE is legal (null-first ranges) and cannot double
        # as the open-end sentinel.
        rest = [r for r in range(len(spared) + 1) if r not in region_files]
        if rest:
            region_schema = StructType(
                [StructField("__bid", LongType(), False),
                 StructField("__has_lo", BooleanType(), False),
                 StructField("__has_hi", BooleanType(), False)]
                + [StructField(f"__lo_{j}", f.dataType, True)
                   for j, f in enumerate(ix_fields)]
                + [StructField(f"__hi_{j}", f.dataType, True)
                   for j, f in enumerate(ix_fields)])
            none_b = (None,) * nb
            rows = [(r, r > 0, r < len(spared),
                     *(old.upper_bounds[spared[r - 1]] if r > 0 else none_b),
                     *(old.lower_bounds[spared[r]] if r < len(spared)
                       else none_b))
                    for r in rest]
            lo_cols = [F.col(f"__lo_{j}") for j in range(nb)]
            hi_cols = [F.col(f"__hi_{j}") for j in range(nb)]
            cond = ((~F.col("__has_lo") | _ord.cols_gt_cols(ix, lo_cols))
                    & (~F.col("__has_hi") | _ord.cols_lt_cols(ix, hi_cols)))
            work += sorted(_probe(rows, region_schema, cond))
        work.sort()
        # re-collate each region to the table's prevailing file size so
        # merge does not degrade layout over time
        if old.known_sizes and old.sizes:
            rpp = max(1, sum(old.sizes) // max(1, len(old.sizes)))
        else:
            rpp = 1 << 20
        # batch keys are small by contract (one merge batch, not the
        # table) — broadcast-hint the anti-join so the survivor scan is
        # a broadcast hash join under ANY session conf instead of riding
        # autoBroadcastJoinThreshold into a SortMergeJoin of the regions
        batch_keys = F.broadcast(
            batch.df.select(*[F.col(c) for c in ix]).distinct())
        # null-safe survivor anti-join: a table row with a NULL index key
        # must still be replaced by a null-keyed batch row — plain-equality
        # anti-join would keep it and duplicate the key
        _anti = _ord.keys_eq(ix, "t", "b")
        srdr = spark.read.schema(old.schema) if old.schema_json else spark.read
        parts = []
        for rr in work:
            part = batch.df.where(_region_pred(rr)).select(*table_cols)
            files_r = region_files.get(rr, [])
            if files_r:
                surv = (srdr.parquet(
                    *[os.path.join(path, old.files[i]) for i in files_r])
                    .alias("t")
                    .join(batch_keys.alias("b"), on=_anti, how="left_anti"))
                part = surv.select(*table_cols).unionByName(part)
            parts.append(Dataset(spark, part, index_columns=ix
                                 ).reindex(ix).repartition(rpp))
        if len(parts) == 1:
            merged_ds = parts[0]
        else:
            # pin each region's range partitioning before the union: AQE
            # coalesces a Union of shuffle exchanges across children, and
            # a fused partition spanning two regions would straddle the
            # spared files between them — breaking range-disjointness.
            # localCheckpoint materializes the partitioning (same trick
            # as repartition's sample_fraction path); regions are small
            # (O(files touched + batch)), so the extra materialization
            # is bounded by the rewrite itself.
            merged_ds = concat([
                Dataset(spark, d.df.localCheckpoint(eager=True),
                        index_columns=ix) for d in parts])
        _commit(spark, path, merged_ds.df, ix, old.schema_json, old=old,
                keep=untouched)
    return scan_parquet(spark, path)


def read_changes(spark: SparkSession, path: str, from_version: int,
                 to_version: int | None = None) -> DataFrame:
    """Row-level change-data-feed between manifest snapshots (the
    lakehouse CDF an incremental consumer reads after ``delete_rows`` /
    ``merge_rows`` commits; extends the file-delta incremental read to
    row granularity).

    Emits one row per changed row per commit in ``(from_version,
    to_version]`` (``to_version=None`` = current), with two metadata
    columns: ``_commit_version`` (the snapshot that introduced the
    change) and ``_change_type`` (``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage`` — Delta-CDF naming; a
    key present on both sides of one commit is an update, keys on one
    side only are pure inserts/deletes).

    Scale shape: each commit is diffed by reading ONLY the files that
    commit added or removed (manifest set difference — file-count work
    on the driver, no table scan); rows copy-on-write carried over
    unchanged (survivors of a rewritten file) cancel out via a
    multiset ``EXCEPT ALL`` on the full row, so a one-day delete on a
    100 TB corpus yields a one-day read; an append commit takes a fast
    path that tags the added rows ``insert`` directly (no removed
    files → no EXCEPT ALL, no shuffle of the appended data), and a
    whole-file drop the symmetric ``delete`` path.  The update
    classification joins the change set against itself on the index
    key with NULL-SAFE equality (``<=>``) — delete_rows can remove
    rows whose index keys are NULL under null-first range semantics,
    and plain equality would silently split their updates into
    insert+delete — O(changes), never O(table).  Replaying a long
    history stays plan-bounded: every 8 change-bearing commits the
    accumulated union is ``localCheckpoint``-ed (eagerly — a
    months-long replay materializes intermediate change sets instead
    of building an unbounded lazy plan)."""
    versions = _meta.list_versions(path)
    if versions and from_version < versions[0]:
        raise ValueError(
            f"snapshot v{from_version} at {path} has been vacuumed "
            f"(retained versions: {versions}); the change history "
            f"before v{versions[0]} is gone")
    _require(from_version in versions, ValueError,
             f"no snapshot v{from_version} at {path}; have {versions}")
    if to_version is None:
        to_version = versions[-1]
    _require(to_version in versions and to_version >= from_version,
             ValueError,
             f"bad version range ({from_version}, {to_version}]; "
             f"have {versions}")
    span = [v for v in versions if from_version <= v <= to_version]
    mans = {v: _meta.load_manifest(path, version=v) for v in span}
    # a snapshot records no schema when write_metadata adopted a
    # directory without a non-empty parquet file (every other commit
    # records one) — fall back to the newest snapshot in the span that
    # has a schema, else fail descriptively
    schema = next((mans[v].schema for v in reversed(span)
                   if mans[v].schema_json), None)
    _require(schema is not None, ValueError,
             f"no snapshot in [{from_version}, {to_version}] at {path} "
             "records a schema (every snapshot in the span is an empty "
             "table); cannot build a change feed")
    cols = schema.names
    empty = spark.createDataFrame([], schema)

    def _ver(df: DataFrame, v: int) -> DataFrame:
        return (df.withColumn("_commit_version", F.lit(v).cast("bigint"))
                .select(*cols, "_commit_version", "_change_type"))

    chunks: list[DataFrame] = []
    for v_prev, v in zip(span, span[1:]):
        prev, cur = mans[v_prev], mans[v]
        cur_set, prev_set = set(cur.files), set(prev.files)
        removed = [f for f in prev.files if f not in cur_set]
        added = [f for f in cur.files if f not in prev_set]
        if not removed and not added:
            continue
        # schema-pinned reads: files predating a merge_schema append
        # lack the added columns and must surface them as nulls
        after = (spark.read.schema(schema).parquet(
            *[os.path.join(path, f) for f in added]).select(*cols)
            if added else None)
        before = (spark.read.schema(schema).parquet(
            *[os.path.join(path, f) for f in removed]).select(*cols)
            if removed else None)
        if before is None:
            # pure append: every added row is an insert — no carried-over
            # rows can exist, so skip the EXCEPT ALL shuffle entirely
            chunks.append(_ver(after.withColumn(
                "_change_type", F.lit("insert")), v))
            continue
        if after is None:
            # whole files dropped without rewrite: pure deletes
            chunks.append(_ver(before.withColumn(
                "_change_type", F.lit("delete")), v))
            continue
        # rows rewritten verbatim into new files are not changes
        inserts = after.exceptAll(before)
        deletes = before.exceptAll(after)
        ix = list(cur.index_columns)
        if ix:
            # the changed-key set is O(changes), small by contract —
            # broadcast both the build join and the classification
            # probes so the plan is deterministic (broadcast hash join)
            # regardless of autoBroadcastJoinThreshold / runtime stats
            upd_keys = F.broadcast(
                inserts.select(*ix).distinct().alias("ik")
                .join(F.broadcast(deletes.select(*ix).distinct()
                                  ).alias("dk"),
                      on=_ord.keys_eq(ix, "ik", "dk"), how="inner")
                .select(*[F.col(f"ik.{c}").alias(c) for c in ix])
                .withColumn("__upd", F.lit(1)))

            def _classify(side: DataFrame, hit: str, miss: str) -> DataFrame:
                return (side.alias("s")
                        .join(upd_keys.alias("uk"),
                              on=_ord.keys_eq(ix, "s", "uk"), how="left")
                        .select(*[F.col(f"s.{c}") for c in cols],
                                F.when(F.col("uk.__upd").isNotNull(), hit)
                                 .otherwise(miss).alias("_change_type")))
            inserts = _classify(inserts, "update_postimage", "insert")
            deletes = _classify(deletes, "update_preimage", "delete")
        else:
            inserts = inserts.withColumn("_change_type", F.lit("insert"))
            deletes = deletes.withColumn("_change_type", F.lit("delete"))
        chunks.append(_ver(inserts, v).unionByName(_ver(deletes, v)))
    base = (empty.withColumn("_commit_version", F.lit(0).cast("bigint"))
            .withColumn("_change_type", F.lit("")))
    if not chunks:
        return base
    # bound plan depth on long histories: fold the per-commit unions and
    # materialize every 8 change-bearing commits so the lazy plan never
    # grows unbounded in commit count
    out, pending = None, []
    for ch in chunks:
        pending.append(ch)
        if len(pending) == 8:
            merged = functools.reduce(lambda a, b: a.unionByName(b), pending)
            if out is not None:
                merged = out.unionByName(merged)
            out = merged.localCheckpoint(eager=True)
            pending = []
    if pending:
        merged = functools.reduce(lambda a, b: a.unionByName(b), pending)
        out = merged if out is None else out.unionByName(merged)
    return out


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
    # materialize the fold ONCE: the emptiness probe and the merge's
    # rewrite otherwise each recompute the whole CDF+join pipeline
    upd = upd.localCheckpoint(eager=True)
    if upd.limit(1).count():              # no-op change feeds skip commit
        merge_rows(spark, target_path,
                   Dataset(spark, upd, index_columns=tuple(keys)))


def refresh_aggregate(spark: SparkSession, source_path: str,
                      target_path: str, keys: Sequence[str],
                      sum_cols: Sequence[str] = ()) -> Dataset:
    """Incrementally maintained materialized aggregate — the flagship
    consumer of :func:`read_changes` (r8).

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
    Delta/Hudi bloom-index idea, r8): manifest range pruning answers
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
        df = spark.read.parquet(*files)
        dtype = dict(df.dtypes)[column]
        fname = F.regexp_replace(F.input_file_name(), "^file:", "")
        pairs = df.select(
            fname.alias("__f"),
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
            rel = os.path.relpath(os.path.abspath(r["__f"]), base)
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
    schema = _meta.load_manifest(path).schema
    rd = spark.read.schema(schema) if schema else spark.read
    return rd.parquet(*[os.path.join(path, f)
                        for f in survivors]).where(pred)


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """Table history (the DESCRIBE HISTORY operational surface, r8):
    one row per snapshot with its file count, total bytes (when the
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
        size = sum(man.sizes) if man.known_sizes else None
        rows.append((v, len(man.files), len(cur - prev),
                     len(prev - cur), size))
        prev = cur
    return spark.createDataFrame(
        rows, "version bigint, n_files int, n_added_files int, "
              "n_removed_files int, total_bytes bigint")


FOOTER_STATS_SCHEMA = ("file string, row_group int, column string, "
                       "num_values bigint, null_count bigint, "
                       "min_val string, max_val string")


def scan_parquet_footers(spark: SparkSession, files) -> DataFrame:
    """Distributed parquet FOOTER statistics scan (r8): one row per
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
    fdf = spark.createDataFrame([(f,) for f in files], "file string")

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
