"""Migration metadata store — migbq's MigrationMetadataManager re-homed.

The reference keeps per-table progress (last migrated PK, row counts) and
a per-range job log in sqlite via peewee
(`[pub:H migbq/MigrationMetadataManager.py]`, SURVEY.md §1.1/§3.1).
Here the two relations live under `meta.path` in two different forms,
because they grow at different rates:

    progress.json  {table_name: {last_pk, n_rows, updated_run}}
    job_log/       parquet (table_name, range_lo, range_hi, n_rows,
                            state, run_id)

Progress grows with the number of tables, so it is one small JSON
document read and written on the driver: no Spark job, no Python
worker.  Every update replaces the whole document (temp file, fsync,
`os.replace`), so a crash leaves the previous resume point or the new
one, never a torn or missing one — the role migbq's sqlite transaction
played.  The store assumes one
writer per `meta.path`, as migbq's one process per config did.

The job log grows with the number of PK ranges (about 10⁷ rows at
100 TB), so it stays a distributed parquet append that never passes
through the driver.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

JOB_LOG_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("range_lo", T.LongType()),
        T.StructField("range_hi", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("state", T.StringType()),  # pending | done | failed
        T.StructField("run_id", T.StringType()),
    ]
)


class MetadataStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.root = Path(path)
        self.root.mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------- progress

    def progress(self) -> dict[str, dict]:
        """The whole progress document: table name → ``{"last_pk",
        "n_rows", "updated_run"}``; empty before the first forward."""
        try:
            return json.loads((self.root / "progress.json").read_text())
        except FileNotFoundError:
            return {}

    def last_pk(self, table: str) -> int | None:
        entry = self.progress().get(table)
        return entry["last_pk"] if entry else None

    def set_progress(self, table: str, last_pk: int, n_added: int, run_id: str) -> None:
        """Record that run ``run_id`` forwarded ``n_added`` more rows of
        ``table``, up to ``last_pk``; ``n_rows`` is the running total."""
        doc = self.progress()
        n_rows = doc.get(table, {}).get("n_rows", 0) + n_added
        doc[table] = {"last_pk": last_pk, "n_rows": n_rows, "updated_run": run_id}
        # Publish all or nothing: temp file in the same directory, fsync,
        # os.replace.  A failure removes the temp file; a killed process
        # can leave only a hidden `.progress.json.*.tmp`, which no reader
        # opens.
        fd, tmp = tempfile.mkstemp(
            dir=self.root, prefix=".progress.json.", suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(doc, fh, sort_keys=True)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, self.root / "progress.json")
        except BaseException:
            os.unlink(tmp)
            raise

    # -------------------------------------------------------------- job log

    def job_log(self) -> DataFrame:
        p = self.root / "job_log"
        if not p.exists():
            return self.spark.createDataFrame([], JOB_LOG_SCHEMA)
        return self.spark.read.schema(JOB_LOG_SCHEMA).parquet(str(p))

    def append_jobs(self, rows: list[tuple]) -> None:
        self.append_jobs_df(self.spark.createDataFrame(rows, JOB_LOG_SCHEMA))

    def append_jobs_df(self, df: DataFrame) -> None:
        """Distributed job-log append: a plain parquet `append` write —
        O(new ranges) executor work, nothing through the driver.  At
        100 TB / 50k-row batches the log is ~10⁷ rows; the r1 design
        (collect ranges → Python list → rewrite whole log) funneled all
        of it through the driver on every run."""
        df.select(
            [F.col(f.name).cast(f.dataType) for f in JOB_LOG_SCHEMA.fields]
        ).write.mode("append").parquet(str(self.root / "job_log"))

    def missing_ranges(self, table: str) -> DataFrame:
        """migbq's retry scan: ranges recorded but never completed —
        the left_anti join of attempted vs done (SURVEY §2 `join_anti` /
        `retry_missing_ranges`)."""
        log = self.job_log().filter(F.col("table_name") == table)
        attempted = log.select("range_lo", "range_hi").distinct()
        done = (
            log.filter(F.col("state") == "done")
            .select("range_lo", "range_hi")
            .distinct()
        )
        return attempted.join(done, ["range_lo", "range_hi"], "left_anti")
