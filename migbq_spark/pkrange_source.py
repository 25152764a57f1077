"""A Spark 4 Python DataSource implementing migbq's PK-range chunked
read as a REAL source — stride partitions + filter pushdown.

The reference's core read loop (public migbq `[pub:H migbq/migbq.py]`,
SURVEY.md §3.1 EP1) is:

    SELECT MIN(pk), MAX(pk) FROM t          -- bounds probe
    for lo in range(min_pk, max_pk, batch_size):
        SELECT * WHERE pk > lo AND pk <= lo+batch_size

Here that loop IS the data source: ``partitions()`` plans one
``InputPartition`` per PK stride (bounds come from parquet row-group
statistics — no data scan), Spark schedules the strides in parallel
across executors, and ``read()`` serves each stride as Arrow record
batches.  ``pushFilters()`` accepts pk comparison predicates and
tightens the planned stride set, so ``WHERE pk > x`` prunes whole
partitions before any task launches — the DataSource-V2 contract,
honored from pure Python.

Scale (100 TB): swap the pyarrow file read inside ``read()`` for the
per-range RDBMS query and this is migbq's MSSQL sweep running N-wide
under Spark's scheduler with pushdown — the same shape
``app/forwarder.py`` gets from the built-in JDBC source, demonstrated
here as a from-scratch source because migbq's sources (TDS cursors) had
no built-in equivalent.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    DataSourceWriter,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

_PA_TO_SPARK = {
    "int32": "int",
    "int64": "bigint",
    "double": "double",
    "float": "float",
    "string": "string",
    "large_string": "string",
}


class PkRangePartition(InputPartition):
    """One migbq stride: pk ∈ [lo, hi)."""

    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi


class PkRangeDataSource(DataSource):
    """``spark.read.format("migbq_pkrange")`` over a parquet file.

    Options: ``path`` (file), ``pk`` (integer primary-key column),
    ``batch_size`` (stride width, default 4096), ``columns``
    (comma-separated projection; default all supported columns).
    """

    @classmethod
    def name(cls) -> str:
        return "migbq_pkrange"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        sch = pq.read_schema(self.options["path"])
        cols = self._columns(sch)
        return ", ".join(
            f"{c} {_PA_TO_SPARK[str(sch.field(c).type)]}" for c in cols
        )

    def _columns(self, sch) -> list[str]:
        opt = self.options.get("columns")
        if opt:
            return [c.strip() for c in opt.split(",")]
        return [
            f.name for f in sch if str(f.type) in _PA_TO_SPARK
        ]

    def reader(self, schema) -> "PkRangeReader":
        return PkRangeReader(dict(self.options), [f.name for f in schema])


class PkRangeReader(DataSourceReader):
    def __init__(self, options: dict, columns: list[str]):
        self.path = options["path"]
        self.pk = options.get("pk", "id")
        self.batch_size = int(options.get("batch_size", "4096"))
        self.columns = columns
        # pushed pk bounds: closed-open [lo, hi)
        self.lo: int | None = None
        self.hi: int | None = None

    # ------------------------------------------------------------ pushdown

    def pushFilters(self, filters):  # noqa: N802 - Spark API name
        """Consume pk comparison predicates; everything else is returned
        to Spark to evaluate post-scan.  Consumed predicates are applied
        EXACTLY in ``read`` (arrow compute), as the contract requires."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = ".".join(attr) if isinstance(attr, tuple) else None
            if col != self.pk or not isinstance(
                f,
                (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual),
            ) or not isinstance(f.value, int):
                yield f  # unsupported → Spark evaluates it
                continue
            if isinstance(f, EqualTo):
                self._tighten(f.value, f.value + 1)
            elif isinstance(f, GreaterThan):
                self._tighten(f.value + 1, None)
            elif isinstance(f, GreaterThanOrEqual):
                self._tighten(f.value, None)
            elif isinstance(f, LessThan):
                self._tighten(None, f.value)
            else:  # LessThanOrEqual
                self._tighten(None, f.value + 1)

    def _tighten(self, lo: int | None, hi: int | None) -> None:
        if lo is not None:
            self.lo = lo if self.lo is None else max(self.lo, lo)
        if hi is not None:
            self.hi = hi if self.hi is None else min(self.hi, hi)

    # ---------------------------------------------------------- planning

    def partitions(self):
        """migbq's bounds probe + stride plan — from row-group STATISTICS
        (metadata only, no data scan), intersected with pushed bounds."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(self.path).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        ci = names[self.pk]
        mn: int | None = None
        mx: int | None = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                continue
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if mn is None:
            return [PkRangePartition(0, 0)]
        lo = mn if self.lo is None else max(mn, self.lo)
        hi = mx + 1 if self.hi is None else min(mx + 1, self.hi)
        if lo >= hi:
            return [PkRangePartition(0, 0)]
        return [
            PkRangePartition(s, min(s + self.batch_size, hi))
            for s in range(lo, hi, self.batch_size)
        ]

    # ------------------------------------------------------------ reading

    def read(self, partition: PkRangePartition):
        if partition.lo >= partition.hi:
            return
        import pyarrow.parquet as pq

        # pyarrow applies the range predicate with row-group statistics
        # pruning — the stride only decompresses pages it needs
        table = pq.read_table(
            self.path,
            columns=self.columns,
            filters=[
                (self.pk, ">=", partition.lo),
                (self.pk, "<", partition.hi),
            ],
        )
        yield from table.to_batches()


def _pickle_self_by_value() -> None:
    """Ship this module BY VALUE inside cloudpickle payloads: the data
    source is unpickled in Spark-launched Python runners (driver-side
    for streaming offset management, workers for reads) that may not
    have this repo on sys.path — an externally-built session can't be
    given PYTHONPATH after its JVM is up, and addPyFile only reaches
    task workers.  By-value pickling embeds the class code itself, so
    no import is needed on the other side."""
    try:
        import sys as _sys

        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(_sys.modules[__name__])
    except Exception:
        pass  # older cloudpickle: fall back to by-reference + PYTHONPATH


def register_pkrange_source(spark) -> None:
    """Idempotently register the source on ``spark``."""
    _pickle_self_by_value()
    try:
        spark.dataSource.register(PkRangeDataSource)
    except Exception:
        pass  # already registered on this session


class PkRangeStreamReader(SimpleDataSourceStreamReader):
    """migbq's INCREMENTAL SYNC loop as a Spark streaming source: the
    stream offset IS the last-forwarded PK (migbq's metadata-table row),
    and every micro-batch forwards `pk > last` up to `batch_size` new
    keys.  Spark's checkpoint persists the offset — exactly-once resume
    without migbq's hand-rolled sqlite bookkeeping.

    `read(start)` serves at most one stride beyond the last offset;
    `readBetweenOffsets` replays a committed range deterministically
    (failure recovery = migbq's ranged re-forward)."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.pk = options.get("pk", "id")
        self.batch_size = int(options.get("batch_size", "4096"))
        self.columns = None  # resolved lazily from the file

    def initialOffset(self) -> dict:
        # start BEFORE the smallest key: the first batch forwards from
        # the real minimum (migbq: SELECT MIN(pk) on first run)
        return {"last_pk": None}

    def _read_range(self, lo_excl, hi_incl):
        import pyarrow.parquet as pq

        filters = []
        if lo_excl is not None:
            filters.append((self.pk, ">", lo_excl))
        if hi_incl is not None:
            filters.append((self.pk, "<=", hi_incl))
        t = pq.read_table(self.path, filters=filters or None)
        cols = [
            f.name for f in t.schema if str(f.type) in _PA_TO_SPARK
        ]
        t = t.select(cols).sort_by(self.pk)
        return t

    def _hi_bound(self, lo_excl):
        """Smallest pk upper bound that — by parquet row-group STATISTICS
        alone, no data read — still guarantees the next stride can fill
        ``batch_size`` rows past ``lo_excl``.  This is what bounds the
        per-micro-batch read: without it, ``read`` would scan every row
        beyond the offset each batch (O(N²/batch) over a full drain).

        Returns ``None`` when stats are missing or when fewer than
        ``batch_size`` rows remain (then the unbounded read IS the
        bounded read — it returns only the tail)."""
        import pyarrow.dataset as ds

        try:
            groups = []  # (min, max, num_rows) per live row group
            for frag in ds.dataset(self.path, format="parquet").get_fragments():
                md = frag.metadata
                names = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                ci = names[self.pk]
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(ci)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        return None  # stats gap → no safe pruning
                    if lo_excl is None or st.max > lo_excl:
                        groups.append(
                            (st.min, st.max, md.row_group(rg).num_rows)
                        )
        except Exception:
            return None
        # Integer min/max stats are exact, so a group with max > lo_excl
        # holds >= 1 row past the offset; a group with min > lo_excl
        # holds ALL its rows past it.  Accumulate groups in max order
        # until the guaranteed row count reaches batch_size — the last
        # accumulated max is a sufficient cap.
        groups.sort(key=lambda g: g[1])
        guaranteed = 0
        for mn, mx, nrows in groups:
            guaranteed += nrows if (lo_excl is None or mn > lo_excl) else 1
            if guaranteed >= self.batch_size:
                return mx
        return None  # tail smaller than one stride: read it all

    def _group_maxima(self, lo_excl):
        """Sorted distinct row-group maxima past ``lo_excl`` (stats
        only, no data read) — the widening ladder for the stats-lied
        retry in ``read``.  Empty on any stats gap."""
        import pyarrow.dataset as ds

        try:
            maxima = set()
            for frag in ds.dataset(self.path, format="parquet").get_fragments():
                md = frag.metadata
                names = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                ci = names[self.pk]
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        return []
                    if lo_excl is None or st.max > lo_excl:
                        maxima.add(st.max)
            return sorted(maxima)
        except Exception:
            return []

    def read(self, start: dict):
        last = start.get("last_pk")
        hi = self._hi_bound(last)
        t = self._read_range(last, hi)
        if t.num_rows == 0 and hi is not None:
            # Defensive (r6 ADVICE): _hi_bound's guarantee rests on
            # row-group min/max stats being EXACT for the pk's physical
            # type.  If stats ever over-promise (e.g. truncated bounds
            # on a non-integer pk), the bounded read could return 0 rows
            # while rows remain past the cap — and an availableNow drain
            # would then terminate early, silently dropping the tail.
            # Widen PROGRESSIVELY through the remaining row-group maxima
            # (doubling the group span each attempt) rather than one
            # unbounded read: on a large backlog the old unbounded retry
            # materialized every remaining row into one Arrow table
            # before the stride cut (r7 ADVICE).  Geometric widening
            # keeps total retry work within ~2x the final bounded read;
            # the unbounded read is the LAST resort only, when even the
            # global stats max returns nothing.
            maxima = [m for m in self._group_maxima(last) if m > hi]
            span = 1
            while t.num_rows == 0 and maxima:
                idx = min(span, len(maxima)) - 1
                t = self._read_range(last, maxima[idx])
                maxima = maxima[idx + 1:]
                span *= 2
            if t.num_rows == 0:
                t = self._read_range(last, None)
        if t.num_rows == 0:
            return iter([]), start
        # Cut the stride at a pk-VALUE boundary, not a row-count
        # boundary: if the batch_size'th row shares its pk with the
        # next row (non-unique pk), extend so equal keys never straddle
        # the offset — `pk > last` would skip the straddlers forever.
        n = min(t.num_rows, self.batch_size)
        pks = t.column(self.pk)
        while n < t.num_rows and pks[n].as_py() == pks[n - 1].as_py():
            n += 1
        t = t.slice(0, n)
        new_last = pks[n - 1].as_py()
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator for replay, and generators don't
        # copy.  One stride is batch_size-bounded by construction (plus
        # any run of duplicate boundary keys).
        rows = [tuple(r.values()) for r in t.to_pylist()]
        return iter(rows), {"last_pk": new_last}

    def readBetweenOffsets(self, start: dict, end: dict):
        t = self._read_range(start.get("last_pk"), end.get("last_pk"))
        return iter([tuple(r.values()) for r in t.to_pylist()])

    def commit(self, end: dict) -> None:
        pass  # offset persistence is Spark's checkpoint


class PkRangeStreamDataSource(DataSource):
    """``spark.readStream.format("migbq_pkrange_stream")``.

    ``path`` may be a single parquet file OR a directory of parquet
    files — the directory form is the real sync scenario, where new
    part files land between runs and the next drain forwards only the
    keys beyond the checkpointed offset."""

    @classmethod
    def name(cls) -> str:
        return "migbq_pkrange_stream"

    def schema(self) -> str:
        import os

        import pyarrow.parquet as pq

        path = self.options["path"]
        if os.path.isdir(path):
            sch = pq.ParquetDataset(path).schema
        else:
            sch = pq.read_schema(path)
        return ", ".join(
            f"{f.name} {_PA_TO_SPARK[str(f.type)]}"
            for f in sch
            if str(f.type) in _PA_TO_SPARK
        )

    def simpleStreamReader(self, schema) -> PkRangeStreamReader:
        return PkRangeStreamReader(dict(self.options))


def register_pkrange_stream_source(spark) -> None:
    """Idempotently register the streaming source on ``spark``."""
    _pickle_self_by_value()
    try:
        spark.dataSource.register(PkRangeStreamDataSource)
    except Exception:
        pass


class LoadJobCommitMessage(WriterCommitMessage):
    """Per-task receipt: (staged file name, rows, bytes).

    ``final_filename`` (streaming epochs only) is the deterministic name
    ``commit`` publishes the attempt-unique staged file under — staging
    names must be attempt-unique so concurrent attempts of one partition
    (speculation, zombie post-retry attempts) can never interleave
    writes into a shared gzip stream, while the published name stays
    deterministic so a REPLAYED epoch overwrites instead of duplicating."""

    def __init__(
        self,
        filename: str,
        n_rows: int,
        n_bytes: int,
        final_filename: str | None = None,
    ):
        self.filename, self.n_rows, self.n_bytes = filename, n_rows, n_bytes
        self.final_filename = final_filename or filename


class LoadJobWriter(DataSourceWriter):
    """migbq's BigQuery LOAD-JOB sink as a Python ``DataSourceWriter``
    with the real two-phase commit protocol: every task stages its rows
    as one gzip-NDJSON part under ``_staging/`` and returns a commit
    message; ``commit()`` runs only when ALL tasks succeeded — it moves
    the parts into the destination and writes a ``_MANIFEST.json``
    (migbq's load-job result row: files, rows, bytes); ``abort()``
    deletes the staging dir so a failed job leaves NOTHING visible.
    That is exactly the atomicity migbq got from BigQuery load jobs —
    rebuilt on the engine's own commit protocol."""

    def __init__(self, options: dict, schema):
        self.dest = options["path"]
        self.cols = [f.name for f in schema.fields]

    def write(self, iterator):
        import gzip
        import json
        import os
        import uuid as _uuid

        from pyspark import TaskContext

        tc = TaskContext.get()
        part = tc.partitionId() if tc is not None else 0
        staging = os.path.join(self.dest, "_staging")
        os.makedirs(staging, exist_ok=True)
        fname = f"part-{part:05d}-{_uuid.uuid4().hex[:8]}.jsonl.gz"
        tmp = os.path.join(staging, fname)
        n = 0
        with gzip.open(tmp, "wt") as fh:
            for row in iterator:
                fh.write(json.dumps(dict(zip(self.cols, row)), sort_keys=True))
                fh.write("\n")
                n += 1
        return LoadJobCommitMessage(fname, n, os.path.getsize(tmp))

    def commit(self, messages):
        import json
        import os
        import shutil
        import tempfile

        staging = os.path.join(self.dest, "_staging")
        files = []
        for m in messages:
            if m is None:
                continue
            shutil.move(
                os.path.join(staging, m.filename),
                os.path.join(self.dest, m.filename),
            )
            files.append(
                {"file": m.filename, "rows": m.n_rows, "bytes": m.n_bytes}
            )
        shutil.rmtree(staging, ignore_errors=True)
        manifest = {
            "n_files": len(files),
            "n_rows": sum(f["rows"] for f in files),
            "files": sorted(files, key=lambda f: f["file"]),
        }
        # Publish the manifest all or nothing (temp file, fsync,
        # os.replace) so a crash never leaves a torn receipt.  Inline,
        # not a package helper: this module ships by value to Python
        # runners that may not be able to import the package.  The temp
        # name starts with a dot, which Spark's file listing skips.
        fd, tmp = tempfile.mkstemp(
            dir=self.dest, prefix="._MANIFEST.json.", suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(manifest, fh, sort_keys=True)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, os.path.join(self.dest, "_MANIFEST.json"))
        except BaseException:
            os.unlink(tmp)
            raise

    def abort(self, messages):
        import os
        import shutil

        shutil.rmtree(os.path.join(self.dest, "_staging"), ignore_errors=True)


class LoadJobSinkDataSource(DataSource):
    """``df.write.format("migbq_loadjob").option("path", dest)``."""

    @classmethod
    def name(cls) -> str:
        return "migbq_loadjob"

    def writer(self, schema, overwrite: bool) -> LoadJobWriter:
        return LoadJobWriter(dict(self.options), schema)


def register_loadjob_sink(spark) -> None:
    """Idempotently register the load-job sink on ``spark``."""
    _pickle_self_by_value()
    try:
        spark.dataSource.register(LoadJobSinkDataSource)
    except Exception:
        pass


class EpochLoadJobStreamWriter(DataSourceStreamWriter):
    """Streaming twin of ``LoadJobWriter``: one load-job commit PER
    MICRO-BATCH.  Tasks stage ``epoch=<batchId>`` parts under
    ``_staging/``; ``commit(messages, batchId)`` publishes the epoch's
    parts and appends a line to ``_EPOCHS.jsonl`` (batchId, files,
    rows).  A REPLAYED epoch (failure between publish and Spark's
    checkpoint commit) overwrites its own ``epoch=<id>`` files instead
    of duplicating — idempotent epoch publication + checkpointed source
    offsets = end-to-end exactly-once, the contract migbq approximated
    with load-job retries."""

    def __init__(self, options: dict, schema):
        self.dest = options["path"]
        self.cols = [f.name for f in schema.fields]
        # failure injection for the crash-replay test: the FIRST write
        # call that sees this path absent creates it and dies AFTER
        # staging its part — simulating a task lost between staging and
        # commit; every later attempt/run proceeds normally
        self.fail_once_path = options.get("fail_once_path")

    def write(self, iterator):
        import gzip
        import json
        import os
        import uuid as _uuid

        from pyspark import TaskContext

        tc = TaskContext.get()
        part = tc.partitionId() if tc is not None else 0
        staging = os.path.join(self.dest, "_staging")
        os.makedirs(staging, exist_ok=True)
        # Stage under an ATTEMPT-unique name (two live attempts of the
        # same partition — speculative execution, or a zombie attempt
        # surviving a retry — must never share a gzip stream); commit()
        # renames to the deterministic epoch filename, which is what
        # keeps a replayed epoch an overwrite rather than a duplicate.
        final = f"part-{part:05d}.jsonl.gz"
        fname = f"part-{part:05d}-{_uuid.uuid4().hex[:8]}.jsonl.gz"
        tmp = os.path.join(staging, fname)
        n = 0
        with gzip.open(tmp, "wt") as fh:
            for row in iterator:
                fh.write(json.dumps(dict(zip(self.cols, row)), sort_keys=True))
                fh.write("\n")
                n += 1
        if self.fail_once_path:
            try:
                fd = os.open(
                    self.fail_once_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.close(fd)
                raise RuntimeError(
                    "injected task failure after staging (crash-replay test)"
                )
            except FileExistsError:
                pass  # already failed once: proceed normally
        return LoadJobCommitMessage(
            fname, n, os.path.getsize(tmp), final_filename=final
        )

    def commit(self, messages, batchId: int):
        import json
        import os
        import shutil

        staging = os.path.join(self.dest, "_staging")
        epoch_dir = os.path.join(self.dest, f"epoch={batchId}")
        shutil.rmtree(epoch_dir, ignore_errors=True)  # replay-idempotent
        os.makedirs(epoch_dir, exist_ok=True)
        files = []
        for m in messages:
            if m is None:
                continue
            src = os.path.join(staging, m.filename)
            if os.path.exists(src):
                # attempt-unique staged name -> deterministic epoch name
                dst = getattr(m, "final_filename", m.filename)
                shutil.move(src, os.path.join(epoch_dir, dst))
                files.append({"file": dst, "rows": m.n_rows})
        # also sweeps losing-attempt leftovers from this epoch
        shutil.rmtree(staging, ignore_errors=True)
        with open(os.path.join(self.dest, "_EPOCHS.jsonl"), "a") as fh:
            fh.write(
                json.dumps(
                    {
                        "batch_id": batchId,
                        "n_files": len(files),
                        "n_rows": sum(f["rows"] for f in files),
                    },
                    sort_keys=True,
                )
                + "\n"
            )

    def abort(self, messages, batchId: int):
        import os
        import shutil

        shutil.rmtree(os.path.join(self.dest, "_staging"), ignore_errors=True)


class EpochLoadJobStreamDataSource(DataSource):
    """``sdf.writeStream.format("migbq_loadjob_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "migbq_loadjob_stream"

    def streamWriter(self, schema, overwrite: bool) -> EpochLoadJobStreamWriter:
        return EpochLoadJobStreamWriter(dict(self.options), schema)


def register_loadjob_stream_sink(spark) -> None:
    """Idempotently register the streaming load-job sink on ``spark``."""
    _pickle_self_by_value()
    try:
        spark.dataSource.register(EpochLoadJobStreamDataSource)
    except Exception:
        pass
