"""The migration pipeline — migbq's run / sync / check lifecycle
(SURVEY.md §3.1 EP1-EP3) executed as Spark jobs.

The reference's hand-rolled serial loop

    for lo in range(min_pk, max_pk, batch_size):
        SELECT * WHERE pk > lo AND pk <= lo+batch_size  → gzip → BQ load job

collapses into ONE declarative pipeline per table (SURVEY §3.2): a
partitioned read whose partitions ARE the PK ranges (JDBC stride or
parquet row groups), a single distributed sink write, and a metadata
update — Spark's scheduler supplies the parallelism, retry, and
speculative re-execution migbq implemented by hand around its loop.

Commands (mirroring `migbq run|sync|check config.yml`):
- run    — full load per table; records progress + per-range job log.
- sync   — incremental: forward only pk > last-migrated (EP2; §2
           `incremental_delta`).
- check  — count reconciliation source vs destination, per PK range
           (EP3; §2 `check_count_reconcile`); with repair=True,
           re-forwards mismatched ranges and dedups the destination by
           keep-latest-per-PK (§2 `win_rownum_dedup` — migbq's BQ dedup
           DML).

Scale notes (100 TB): per-table work is a scan + an append — no driver
funnel; JDBC ingestion parallelism = ceil(pk_span / batch_size) stride
partitions (capped), exactly migbq's batch size semantics run N-wide.
The job log records the *planned* stride ranges with their actual row
counts (computed distributed, one groupBy), so check/retry semantics are
preserved without serializing execution.
"""

from __future__ import annotations

import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migbq_spark.app.config import PipelineConfig, TableSpec
from migbq_spark.app.metadata import MetadataStore
from migbq_spark.session import ensure_runtime_confs

_MAX_JDBC_PARTITIONS = 256

#: message fragments that plausibly mean "this identifier-quoting combo
#: is wrong for this store" (SQLState 42xxx family: syntax error,
#: object/column not found, case-folding mismatches).  Anything else —
#: connectivity, auth, missing driver class — fails every combo the
#: same way and should not be retried as a quoting problem.
_IDENTIFIER_ERR_HINTS = (
    "syntax",
    "column",
    "identifier",
    "not found",
    "does not exist",
    "doesn't exist",
    "invalid object name",
    "unknown table",
    "sqlstate: '42",
    "sqlstate: 42",
)


def _is_identifier_error(e: Exception) -> bool:
    msg = str(e).lower()
    return any(h in msg for h in _IDENTIFIER_ERR_HINTS)


class Forwarder:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = ensure_runtime_confs(spark)
        self.cfg = cfg
        self.meta = MetadataStore(spark, cfg.meta_path)

    # ------------------------------------------------------------- sources

    def read_source(self, table: TableSpec, lo: int | None = None) -> DataFrame:
        """Source read with optional exclusive lower PK bound (sync)."""
        if self.cfg.in_type == "parquet":
            df = self.spark.read.parquet(f"{self.cfg.in_path}/{table.name}.parquet")
        elif self.cfg.in_type == "jdbc":
            df = self._read_jdbc(table)
        else:
            raise ValueError(f"unknown in.type {self.cfg.in_type!r}")
        if lo is not None:
            df = df.filter(F.col(table.pk) > lo)  # pushed to scan/JDBC
        return df

    def _read_jdbc(self, table: TableSpec) -> DataFrame:
        """Partitioned JDBC read: Spark emits one stride query per
        partition — migbq's PK-range sweep, parallelized.  Bounds come
        from a one-row min/max probe (migbq's first query, §2
        `agg_pk_bounds`)."""
        def reader():
            # fresh reader per use: DataFrameReader options accumulate,
            # and 'query' (probe) conflicts with 'dbtable' (range read)
            r = (
                self.spark.read.format("jdbc")
                .option("url", self.cfg.jdbc_url)
                .option("driver", self.cfg.jdbc_driver or "")
            )
            if self.cfg.jdbc_user:
                r = r.option("user", self.cfg.jdbc_user).option(
                    "password", self.cfg.jdbc_password or ""
                )
            return r
        # Identifier quoting is store-dependent: tables created by
        # Spark's own JDBC writer have QUOTED (case-sensitive) column
        # names, while DBA-created MSSQL/MySQL tables are usually
        # unquoted.  Try the plain probe first, then the ANSI-quoted
        # form (Derby/Postgres always; MSSQL with QUOTED_IDENTIFIER ON).
        bounds = None
        probe_err: Exception | None = None
        # (Spark's own JDBC writer quotes COLUMN names at CREATE but
        # passes the table name through unquoted, so the mixed combo is
        # a real case, not an oddity.)
        for pk_q, tbl_q in (
            (table.pk, table.name),
            (f'"{table.pk}"', table.name),
            (f'"{table.pk}"', f'"{table.name}"'),
            (table.pk, f'"{table.name}"'),
        ):
            try:
                bounds = (
                    reader().option(
                        "query",
                        f"SELECT MIN({pk_q}) AS lo, MAX({pk_q}) AS hi "
                        f"FROM {tbl_q}",
                    )
                    .load()
                    .collect()[0]
                )
                break
            except Exception as e:  # noqa: BLE001 - dialect probe
                # Only quoting-plausible failures continue the probe; a
                # connectivity/auth/driver failure would fail all four
                # combos identically and must surface AS ITSELF, not as
                # a misleading last-combo quoted-identifier error.
                if not _is_identifier_error(e):
                    raise
                # keep the FIRST identifier error: the unquoted combo's
                # message names the store's actual complaint
                probe_err = probe_err or e
        if bounds is None:
            raise probe_err
        # positional access: stores with case-insensitive identifiers
        # (Derby, MSSQL default) fold the unquoted `AS lo` alias, so the
        # Row field name is not reliably lowercase
        lo_b, hi_b = bounds[0], bounds[1]
        if lo_b is None:
            return reader().option("dbtable", table.name).load()
        span = max(int(hi_b) - int(lo_b) + 1, 1)
        n_part = min(
            max(span // max(self.cfg.batch_size, 1), 1), _MAX_JDBC_PARTITIONS
        )
        return (
            reader().option("dbtable", table.name)
            .option("partitionColumn", table.pk)
            .option("lowerBound", str(lo_b))
            .option("upperBound", str(int(hi_b) + 1))
            .option("numPartitions", str(n_part))
            .load()
        )

    # --------------------------------------------------------------- sinks

    def _dest_path(self, table: TableSpec) -> str:
        if self.cfg.out_type == "parquet":
            return str(Path(self.cfg.out_path) / table.name)
        raise ValueError(
            f"out.type {self.cfg.out_type!r} needs external connectivity "
            "(bigquery: spark-bigquery-connector, offline-stubbed in "
            "operators/sources.py::bq_sink_adapter)"
        )

    def read_dest(self, table: TableSpec) -> DataFrame | None:
        p = Path(self._dest_path(table))
        if not p.exists():
            return None
        return self.spark.read.parquet(str(p))

    # ------------------------------------------------------------ commands

    def run(self, full_refresh: bool = False) -> dict[str, int]:
        """EP1: bulk migration of every configured table."""
        out: dict[str, int] = {}
        run_id = uuid.uuid4().hex[:12]
        for table in self.cfg.tables:
            if full_refresh:
                dest = Path(self._dest_path(table))
                if dest.exists():
                    shutil.rmtree(dest)
            out[table.name] = self._forward(table, lo=None, run_id=run_id)
        return out

    def sync(self) -> dict[str, int]:
        """EP2: forward only rows beyond the last migrated PK."""
        out: dict[str, int] = {}
        run_id = uuid.uuid4().hex[:12]
        for table in self.cfg.tables:
            out[table.name] = self._forward(
                table, lo=self.meta.last_pk(table.name), run_id=run_id
            )
        return out

    def _forward(self, table: TableSpec, lo: int | None, run_id: str) -> int:
        src = self.read_source(table, lo=lo)
        pk = F.col(table.pk)

        # Plan the migbq-style ranges and their row counts in ONE
        # distributed pass (groupBy on pk div batch_size) — the log keeps
        # migbq's range granularity without serializing execution.  The
        # per-range rows never touch the driver: the log is a distributed
        # parquet append, and only MIN/MAX/COUNT scalars come back (one
        # row) for the progress update, a driver-local JSON file.
        bs = self.cfg.batch_size
        ranges = src.groupBy((pk - 1 - (pk - 1) % bs).alias("range_lo")).agg(
            F.count(F.lit(1)).alias("n_rows"), F.max(pk).alias("max_pk")
        )
        ranges.persist()
        try:
            totals = ranges.agg(
                F.sum("n_rows").alias("n_rows"), F.max("max_pk").alias("last_pk")
            ).collect()[0]
            if totals.n_rows is None:
                return 0

            src.write.mode("append").parquet(self._dest_path(table))

            self.meta.append_jobs_df(
                ranges.select(
                    F.lit(table.name).alias("table_name"),
                    F.col("range_lo"),
                    (F.col("range_lo") + bs).alias("range_hi"),
                    F.col("n_rows"),
                    F.lit("done").alias("state"),
                    F.lit(run_id).alias("run_id"),
                )
            )
        finally:
            ranges.unpersist()
        n_rows = int(totals.n_rows)
        self.meta.set_progress(table.name, int(totals.last_pk), n_rows, run_id)
        return n_rows

    def check(self, repair: bool = False) -> dict[str, DataFrame]:
        """EP3: per-range count reconciliation source vs destination;
        optional repair = re-forward mismatched ranges + dedup dest."""
        reports: dict[str, DataFrame] = {}
        for table in self.cfg.tables:
            pk = F.col(table.pk)
            bs = self.cfg.batch_size
            rng = (pk - 1 - (pk - 1) % bs).alias("range_lo")
            src_counts = (
                self.read_source(table)
                .groupBy(rng)
                .agg(F.count(F.lit(1)).alias("n_src"))
            )
            dest = self.read_dest(table)
            if dest is None:
                dest_counts = self.spark.createDataFrame(
                    [], "range_lo long, n_dst long"
                )
            else:
                dest_counts = (
                    dest.select(pk).distinct()
                    .groupBy(rng)
                    .agg(F.count(F.lit(1)).alias("n_dst"))
                )
            report = (
                src_counts.join(dest_counts, "range_lo", "full")
                .select(
                    "range_lo",
                    F.coalesce("n_src", F.lit(0)).alias("n_src"),
                    F.coalesce("n_dst", F.lit(0)).alias("n_dst"),
                )
                .withColumn("mismatch", F.col("n_src") != F.col("n_dst"))
            )
            reports[table.name] = report
            if repair:
                self._repair(table, report)
        return reports

    def _repair(self, table: TableSpec, report: DataFrame) -> None:
        """Re-forward mismatched ranges, then rewrite the destination
        keeping exactly one row per PK (migbq's ROW_NUMBER()=1 dedup —
        retried loads double-insert, the dedup repairs).  The dedup probe
        is independent of the range reconciliation: duplicate PKs leave
        distinct-count reconciliation green (§2 `agg_having_dups` is the
        reference's separate duplicate check)."""
        # The mismatched-range set stays distributed: a broadcast semi-join
        # selects the rows to re-forward (at 100 TB a fully-corrupt dest
        # would make a collected isin() list |table|/batch_size long).
        # localCheckpoint materializes the mismatch set ONCE before the
        # append below: otherwise the fix.write job would re-run the full
        # source/dest reconciliation AND re-scan the destination parquet
        # it is appending to in the same action — correct only while the
        # file index stays pinned, fragile under task retries (ADVICE r2).
        bad_ranges = (
            report.filter("mismatch").select("range_lo").localCheckpoint(eager=True)
        )
        n_bad = bad_ranges.limit(1).count()
        if n_bad:
            pk = F.col(table.pk)
            bs = self.cfg.batch_size
            fix = self.read_source(table).join(
                F.broadcast(bad_ranges),
                (pk - 1 - (pk - 1) % bs) == F.col("range_lo"),
                "left_semi",
            )
            fix.write.mode("append").parquet(self._dest_path(table))

        dest = self.read_dest(table)
        if dest is None:
            return
        totals = dest.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(table.pk)).alias("nd"),
        ).collect()[0]
        if int(totals.n) == int(totals.nd) and not n_bad:
            return
        # keep-one-per-pk rewrite (atomic swap through a temp dir)
        dest_path = self._dest_path(table)
        deduped = dest.dropDuplicates([table.pk])
        tmp = f"{dest_path}.__dedup__{int(time.time() * 1e6)}"
        deduped.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(dest_path)
        Path(tmp).rename(dest_path)
