"""The benchmark's two workloads.

Each workload is a closed loop with one client: the next operation is
sent only after the previous one returned.  Work is counted in rounds;
a round is a fixed amount of work (one pass over the workload's query
ids, or one whole migration lifecycle), and a run repeats rounds until
its measuring time is used up.

The program is driven only through its public entry points:
``registry.queries()[qid](spark, sf_dir)`` followed by a ``noop``
write, ``Forwarder.run/sync/check/read_source`` and ``MetadataStore``'s
public methods.  Correctness is judged outside the timed region: query
results against their DuckDB oracles, the migration destination against
the generator's own record of the source, read with DuckDB.
"""

from __future__ import annotations

import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.fixture import MigrationSource, write_tables
from perfbench.procfs import ProcessTree, TreeSample
from perfbench.trace import SparkStats, StageTotals, Tracer

#: JVM-only ids, bound by the action (scan, join, aggregate, window,
#: shuffle); most are from bench.py's headline suite.  One or two per
#: operator module that has such ids.
QUERY_SQL = (
    "agg_groupby_sum",
    "join_star_5way",
    "win_rownum_dedup",
    "topk_global",
    "dedup_hash_exact",
    "merge_upsert_latest",
    "pivot_event_counts",
    "sessionize_gaps",
    "active_users_7d",
    "stream_tumbling_counts",
)

#: LLM-data-pipeline ids: a build-heavy one (eager checkpoints and
#: driver collects inside the query function) and ones whose CPU is in
#: Python workers (a pandas UDF, a Python data source).
QUERY_DEDUP = (
    "dedup_minhash_portable",
    "mm_decode_headers",
    "pk_range_python_datasource",
)

#: Layers of the query workloads: the operator modules (paths below
#: ``migbq_spark``) whose registered functions the workloads call.
OPERATOR_LAYERS = (
    "operators.aggregates",
    "operators.joins",
    "operators.windows",
    "operators.sorting",
    "operators.textsim",
    "operators.control",
    "operators.training",
    "operators.timeseries",
    "operators.analytics",
    "operators.multimodal",
    "operators.pipeline",
    "operators.sources",
    "streaming.batch_equiv",
)
OPERATOR_FIELDS = {
    "build_s": "s",
    "action_s": "s",
    "jobs": "count",
    "exec_cpu_s": "s",
    "pyworker_cpu_s": "s",
    "shuffle_bytes": "B",
}
APP_METRICS = {
    "app.forwarder.run_self_s": "s",
    "app.forwarder.sync_self_s": "s",
    "app.forwarder.check_self_s": "s",
    "app.forwarder.read_source_s": "s",
    "app.forwarder.jobs_per_sync": "ratio",
    "app.forwarder.jdbc_tasks_per_sync": "ratio",
    "app.forwarder.rows_read_per_row_forwarded": "ratio",
    "app.forwarder.dest_files_per_command": "ratio",
    "app.forwarder.dest_bytes_per_row": "B/row",
    "app.metadata.calls": "count",
    "app.metadata.time_s": "s",
    "app.metadata.jobs": "count",
    "app.metadata.job_log_files": "count",
    "app.metadata.state_bytes": "B",
}
#: Per-round layer metrics a traced round reports (0 where the workload
#: does not reach the layer).
ROUND_LAYER_METRICS = {
    **{f"{m}.{f}": u for m in OPERATOR_LAYERS for f, u in OPERATOR_FIELDS.items()},
    **APP_METRICS,
}


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one benchmark run."""

    #: share of the shipped fixture's fact-table keys a query run keeps
    query_keep: float
    migrate_rows: int
    migrate_delta_rows: int
    migrate_syncs: int
    migrate_batch: int


FULL = Sizes(
    query_keep=0.9,
    migrate_rows=10_000,
    migrate_delta_rows=200,
    migrate_syncs=3,
    migrate_batch=2_500,
)

#: For the benchmark's own tests only.
TINY = Sizes(
    query_keep=0.1,
    migrate_rows=600,
    migrate_delta_rows=40,
    migrate_syncs=3,
    migrate_batch=100,
)


@dataclass
class Op:
    """One timed client operation."""

    kind: str
    seconds: float
    ok: bool
    rows: int = 0
    #: traced query ops: build_s, action_s, jobs, exec_cpu_s,
    #: pyworker_cpu_s and shuffle_bytes of this op alone
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class Round:
    """One round: its ops, wall time, CPU of the process tree and of its
    Python workers, and, when traced, the per-layer figures it produced."""

    wall_s: float
    cpu: float
    pyworker_cpu: float
    ops: list[Op] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def tracing_overhead_s(self) -> float:
        """Round wall time not covered by the ops' own spans: what the
        tracer added around the calls (status-store reads, ``/proc``
        samples, listener-bus waits)."""
        return self.wall_s - sum(o.seconds for o in self.ops)


class Context:
    """What a workload needs from the run: the session, the registry,
    the process tree, a scratch directory and the seed."""

    def __init__(self, spark, queries, oracles, work: Path, seed: int):
        self.spark = spark
        self.queries = queries
        self.oracles = oracles
        self.work = work
        self.seed = seed
        self.tree = ProcessTree()
        self.stats = SparkStats(spark)
        self.tracer = Tracer()
        self.max_worker_hwm_kb = 0
        self._gid = 0
        self.check_failures: list[str] = []

    def sample(self) -> TreeSample:
        s = self.tree.sample()
        self.max_worker_hwm_kb = max(self.max_worker_hwm_kb, s.max_worker_hwm_kb)
        return s

    def next_gid(self) -> str:
        self._gid += 1
        return f"perfbench-{self._gid}"


def run_rounds(workload, ctx: Context, seconds: float, trace: bool) -> list[Round]:
    """Closed loop: whole rounds back to back until ``seconds`` have
    passed, at least one.  A traced run traces every round, so it does
    the same work in the same order as an untraced run of its seed."""
    rounds: list[Round] = []
    t_end = time.perf_counter() + seconds
    while not rounds or time.perf_counter() < t_end:
        rounds.append(workload.round(ctx, len(rounds), trace))
    return rounds


# --------------------------------------------------------------- queries


class QueryWorkload:
    """Invoke each query id once per round, in the listed order; an op is
    the query-function call (build) plus a ``noop`` write (action).

    The order is fixed rather than seeded: in a session's first round
    each engine path's first-use cost (the first Python worker, the
    first window or sort operator) lands on whichever op reaches it
    first, and a seeded order moved those costs between ops from run to
    run (``op_p50_s`` spread 34 % over five seeds).  The seed decides
    which of the shipped fixture's keys the input tables keep."""

    def __init__(self, ids: tuple[str, ...], keep: float):
        self.ids = ids
        self.keep = keep
        self.sf_dir: str = ""

    def prepare(self, ctx: Context) -> dict:
        """Write the seeded subset of the shipped fixture."""
        t0 = time.perf_counter()
        sf = ctx.work / "fixture"
        counts = write_tables(ctx.seed, self.keep, sf)
        self.sf_dir = str(sf)
        return {"gen_s": time.perf_counter() - t0, "input_rows": counts}

    def verify(self, ctx: Context, rounds: list[Round]) -> dict:
        """Compare each id once against its DuckDB oracle, after the timed
        rounds; every op of an id whose result differs counts as failed."""
        from migbq_spark.testing import compare_driver, duckdb_conn

        t0 = time.perf_counter()
        con = duckdb_conn(self.sf_dir)
        wrong = set()
        try:
            for qid in self.ids:
                try:
                    res = compare_driver(ctx.queries[qid](ctx.spark, self.sf_dir), con, ctx.oracles[qid])
                    if not res["ok"]:
                        ctx.check_failures.append(f"{qid}: result differs from its oracle")
                        wrong.add(qid)
                except Exception as e:  # noqa: BLE001 - a failing op is a result
                    ctx.check_failures.append(f"{qid}: {type(e).__name__}: {e}"[:300])
                    wrong.add(qid)
        finally:
            con.close()
        for r in rounds:
            for op in r.ops:
                op.ok = op.ok and op.kind not in wrong
        return {"check_s": time.perf_counter() - t0}

    def round(self, ctx: Context, k: int, traced: bool) -> Round:
        before = ctx.sample()
        t0 = time.perf_counter()
        ops, layers = self._ops(ctx, traced)
        wall = time.perf_counter() - t0
        after = ctx.sample()
        return Round(
            wall_s=wall,
            cpu=after.total - before.total,
            pyworker_cpu=after.pyworker - before.pyworker,
            ops=ops,
            layers=layers,
        )

    def _ops(self, ctx: Context, traced: bool):
        ops: list[Op] = []
        layers: dict[str, float] = {}
        for qid in self.ids:
            fn = ctx.queries[qid]
            if not traced:
                t0 = time.perf_counter()
                ok = self._invoke(ctx, fn)
                ops.append(Op(qid, time.perf_counter() - t0, ok))
                continue
            layer = fn.__module__.removeprefix("migbq_spark.")
            gid = ctx.next_gid()
            s0 = ctx.sample()
            with ctx.stats.group(gid), ctx.tracer.span(layer, qid) as sp:
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span(layer + ".build", qid):
                        df = fn(ctx.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with ctx.tracer.span(layer + ".action", qid):
                        df.write.mode("overwrite").format("noop").save()
                    ok = True
                except Exception:  # noqa: BLE001 - counted as a failed op
                    t1, ok = time.perf_counter(), False
                t2 = time.perf_counter()
            s1 = ctx.sample()
            ctx.stats.settle()
            tot = ctx.stats.totals(gid)
            op = Op(qid, ctx.tracer.duration(sp), ok)
            op.layer = {
                "build_s": t1 - t0,
                "action_s": t2 - t1,
                "jobs": tot.jobs,
                "exec_cpu_s": tot.exec_cpu_s,
                "pyworker_cpu_s": s1.pyworker - s0.pyworker,
                "shuffle_bytes": tot.shuffle_bytes,
            }
            ops.append(op)
            for key, val in op.layer.items():
                layers[f"{layer}.{key}"] = layers.get(f"{layer}.{key}", 0.0) + val
        return ops, layers

    def _invoke(self, ctx: Context, fn) -> bool:
        try:
            fn(ctx.spark, self.sf_dir).write.mode("overwrite").format("noop").save()
        except Exception:  # noqa: BLE001 - counted as a failed op
            return False
        return True


# ------------------------------------------------------------- migration

_DERBY = "org.apache.derby.jdbc.EmbeddedDriver"
_META_METHODS = (
    "progress",
    "last_pk",
    "set_progress",
    "job_log",
    "append_jobs",
    "append_jobs_df",
    "missing_ranges",
)


def _dir_files(path: Path) -> dict[str, int]:
    if not path.exists():
        return {}
    return {p.name: p.stat().st_size for p in path.iterdir() if p.is_file() and p.suffix == ".parquet"}


def _tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class MigrateWorkload:
    """migbq's own traffic: a bulk ``run`` over a fresh Derby table, then
    ``migrate_syncs`` times (seeded delta insert, ``sync``), then fault
    injection (a retried double-load slice plus one deleted destination
    part file) and ``check(repair=True)``.  Inserts, fault injection and
    the correctness gate are not timed."""

    def __init__(self, sizes: Sizes):
        self.sizes = sizes
        self.db_names: list[str] = []

    def prepare(self, ctx: Context) -> dict:
        return {}

    def verify(self, ctx: Context, rounds: list[Round]) -> dict:
        """Each lifecycle is verified at its end."""
        return {}

    # ---------------------------------------------------------------- io

    def _derby_write(self, ctx: Context, url: str, pdf, mode: str) -> None:
        (
            ctx.spark.createDataFrame(pdf)
            .write.format("jdbc")
            .option("url", url)
            .option("dbtable", "src")
            .option("driver", _DERBY)
            .mode(mode)
            .save()
        )

    def _drop_db(self, ctx: Context, name: str) -> None:
        jvm = ctx.spark.sparkContext._jvm
        try:
            jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{name};drop=true")
        except Exception:  # noqa: BLE001 - Derby reports a successful drop as SQLException 08006
            pass

    # ----------------------------------------------------------- lifecycle

    def round(self, ctx: Context, k: int, traced: bool) -> Round:
        """One lifecycle on a fresh Derby database and fresh dest/meta
        directories, both removed at its end."""
        from migbq_spark.app import Forwarder, PipelineConfig

        sz = self.sizes
        src = MigrationSource(ctx.seed, sz.migrate_rows, sz.migrate_delta_rows, k)
        db = f"perfbench_{ctx.seed}_{k}_{time.time_ns()}"
        self.db_names.append(db)
        url = f"jdbc:derby:memory:{db};create=true"
        base = ctx.work / f"migrate-{k}"
        self._derby_write(ctx, url, src.initial, "overwrite")
        cfg = PipelineConfig.from_dict(
            {
                "in": {
                    "type": "jdbc",
                    "url": url,
                    "driver": _DERBY,
                    "tables": {"src": {"pk": "id"}},
                    "batch_size": sz.migrate_batch,
                },
                "out": {"type": "parquet", "path": str(base / "dest")},
                "meta": {"path": str(base / "meta")},
            }
        )
        fwd = Forwarder(ctx.spark, cfg)
        dest = base / "dest" / "src"
        ops: list[Op] = []
        probe = _LayerProbe(ctx, fwd, dest, base / "meta") if traced else None
        busy = cpu = pyworker = 0.0

        def command(kind: str, call):
            # only the commands are timed: inserts, fault injection and
            # the checks between them are not
            nonlocal busy, cpu, pyworker
            before = ctx.sample()
            t0 = time.perf_counter()
            try:
                out = call() if probe is None else probe.command(kind, call)
            except Exception:
                ops.append(Op(kind, time.perf_counter() - t0, False))
                raise
            dt = time.perf_counter() - t0
            after = ctx.sample()
            busy += dt
            cpu += after.total - before.total
            pyworker += after.pyworker - before.pyworker
            if probe is not None:
                # the op is the command's own span, without the probe's reads
                dt = ctx.tracer.duration(probe.cmd_spans[-1][1])
            ops.append(Op(kind, dt, True, sum(out.values()) if kind != "check" else 0))

        problems: list[str] = []
        layers: dict[str, float] = {}
        try:
            command("run", lambda: fwd.run(full_refresh=True))
            for delta in src.deltas(sz.migrate_syncs):
                if len(delta):
                    self._derby_write(ctx, url, delta, "append")
                command("sync", fwd.sync)
            self._inject_faults(ctx, src, dest, k)
            command("check", lambda: fwd.check(repair=True))
            if probe is not None:
                probe.restore()
                layers = probe.layers()
            problems = self._verify(fwd, src, dest, sum(op.rows for op in ops))
        except Exception as e:  # noqa: BLE001 - a failed command fails the round
            problems = [f"{type(e).__name__}: {e}"[:300]]
        finally:
            self._drop_db(ctx, db)
            shutil.rmtree(base, ignore_errors=True)
        if problems:
            ctx.check_failures.extend(f"round {k}: {p}" for p in problems)
            for op in ops:
                op.ok = False
        return Round(
            wall_s=busy,
            cpu=cpu,
            pyworker_cpu=pyworker,
            ops=ops,
            layers=layers,
        )

    def _inject_faults(self, ctx: Context, src: MigrationSource, dest: Path, k: int) -> None:
        """A retried load of an already-forwarded PK slice (duplicates),
        and one lost destination part file (missing rows)."""
        rng = np.random.default_rng([ctx.seed, 0xFA17, k])
        parts = sorted(p for p in dest.glob("part-*.parquet") if p.stat().st_size > 0)
        victim = parts[int(rng.integers(0, len(parts)))]
        rows = src.rows
        lo = int(rng.integers(0, max(len(rows) - 50, 1)))
        dup = rows.iloc[lo : lo + max(len(rows) // 50, 1)]
        schema = pq.read_schema(parts[0])
        pq.write_table(
            pa.Table.from_pandas(dup, preserve_index=False).cast(schema),
            dest / "part-99999-retried-load.snappy.parquet",
        )
        victim.unlink()

    def _verify(self, fwd, src: MigrationSource, dest: Path, forwarded: int) -> list[str]:
        """Destination against the generator's record (DuckDB, not
        Spark), then the metadata store and a final ``check``."""
        problems = []
        con = duckdb.connect()
        try:
            con.register("source_rows", src.rows)
            agg = (
                "SELECT count(*), count(DISTINCT id), "
                "sum(hash(id::BIGINT, grp::INTEGER, amount::DOUBLE, note::VARCHAR)) FROM {}"
            )
            want = con.execute(agg.format("source_rows")).fetchone()
            got = con.execute(agg.format(f"read_parquet('{dest}/*.parquet')")).fetchone()
        finally:
            con.close()
        if got[0] != got[1]:
            problems.append(f"duplicate PKs in destination: {got[0]} rows, {got[1]} keys")
        if got != want:
            problems.append(f"destination (count, keys, hash) {got} != source {want}")
        max_pk = int(src.rows["id"].max())
        if fwd.meta.last_pk("src") != max_pk:
            problems.append(f"progress.last_pk {fwd.meta.last_pk('src')} != max source PK {max_pk}")
        logged = fwd.meta.job_log().groupBy().sum("n_rows").collect()[0][0] or 0
        if int(logged) != forwarded:
            problems.append(f"job_log n_rows {logged} != rows forwarded {forwarded}")
        mismatched = fwd.check()["src"].filter("mismatch").count()
        if mismatched:
            problems.append(f"check after repair: {mismatched} mismatched ranges")
        return problems


class _LayerProbe:
    """Traced-round instrumentation of one Forwarder.

    Spans go around every ``Forwarder`` command the benchmark calls and
    around the calls the forwarder makes into its own ``read_source`` and
    into ``MetadataStore``'s public methods; those inner calls are
    intercepted by wrapping the methods on these two instances only.
    Each span runs under its own job group so Spark jobs are attributed
    to the layer that launched them."""

    def __init__(self, ctx: Context, fwd, dest: Path, meta: Path):
        self.ctx, self.fwd, self.dest, self.meta_dir = ctx, fwd, dest, meta
        self.cmd_spans: list[tuple[str, int, int]] = []  # (kind, span, rows)
        self.sync_jobs = StageTotals()
        self.meta_jobs = StageTotals()
        self.sync_jdbc_parts = 0
        self.sync_jdbc_rows = 0
        self.dest_files_added: list[int] = []
        self.dest_bytes_added = 0
        self._gid = ""
        self._groups: list[str] = []
        self._wrap(fwd, "read_source", "app.forwarder.read_source", ".src")
        for name in _META_METHODS:
            self._wrap(fwd.meta, name, f"app.metadata.{name}", ".meta")

    def _wrap(self, obj, attr: str, span_name: str, suffix: str) -> None:
        inner = getattr(obj, attr)
        probe = self

        def traced(*args, **kwargs):
            with probe.ctx.stats.group(probe._gid + suffix), probe.ctx.tracer.span(span_name, probe._gid):
                return inner(*args, **kwargs)

        setattr(obj, attr, traced)

    def restore(self) -> None:
        for name in _META_METHODS:
            vars(self.fwd.meta).pop(name, None)
        vars(self.fwd).pop("read_source", None)

    def command(self, kind: str, call):
        ctx = self.ctx
        self._gid = ctx.next_gid()
        files0 = _dir_files(self.dest)
        mark = ctx.stats.sql_mark()
        with ctx.stats.group(self._gid), ctx.tracer.span(f"app.forwarder.{kind}", self._gid) as sp:
            out = call()
        ctx.stats.settle()
        files1 = _dir_files(self.dest)
        rows = sum(out.values()) if kind != "check" else 0
        self.cmd_spans.append((kind, sp, rows))
        meta_tot = ctx.stats.totals(self._gid + ".meta")
        self.meta_jobs.add(meta_tot)
        if kind != "check":
            added = set(files1) - set(files0)
            self.dest_files_added.append(len(added))
            self.dest_bytes_added += sum(files1[f] for f in added)
        if kind == "sync":
            for suffix in ("", ".src", ".meta"):
                self.sync_jobs.add(ctx.stats.totals(self._gid + suffix))
            parts, rows_read = ctx.stats.jdbc_scans(mark)
            self.sync_jdbc_parts += parts
            self.sync_jdbc_rows += rows_read
        return out

    def layers(self) -> dict[str, float]:
        tr = self.ctx.tracer
        own = {i for _, i, _ in self.cmd_spans}
        by_kind: dict[str, list[int]] = {}
        for kind, i, _ in self.cmd_spans:
            by_kind.setdefault(kind, []).append(i)
        syncs = by_kind.get("sync", [])
        n_sync = max(len(syncs), 1)
        sync_rows = sum(r for k, _, r in self.cmd_spans if k == "sync")
        all_rows = sum(r for _, _, r in self.cmd_spans)
        meta_top = [
            i for i, s in enumerate(tr.spans) if s.name.startswith("app.metadata.") and s.parent in own
        ]
        read_source_in_sync = [j for i in syncs for j in tr.children(i, "app.forwarder.read_source")]
        files = self.dest_files_added
        return {
            "app.forwarder.run_self_s": sum(tr.self_time(i) for i in by_kind.get("run", [])),
            "app.forwarder.sync_self_s": statistics.fmean([tr.self_time(i) for i in syncs]) if syncs else 0.0,
            "app.forwarder.check_self_s": sum(tr.self_time(i) for i in by_kind.get("check", [])),
            "app.forwarder.read_source_s": sum(tr.duration(j) for j in read_source_in_sync) / n_sync,
            "app.forwarder.jobs_per_sync": self.sync_jobs.jobs / n_sync,
            "app.forwarder.jdbc_tasks_per_sync": self.sync_jdbc_parts / n_sync,
            "app.forwarder.rows_read_per_row_forwarded": self.sync_jdbc_rows / max(sync_rows, 1),
            "app.forwarder.dest_files_per_command": statistics.fmean(files) if files else 0.0,
            "app.forwarder.dest_bytes_per_row": self.dest_bytes_added / max(all_rows, 1),
            "app.metadata.calls": float(len(meta_top)),
            "app.metadata.time_s": sum(tr.duration(i) for i in meta_top),
            "app.metadata.jobs": float(self.meta_jobs.jobs),
            "app.metadata.job_log_files": float(
                sum(1 for p in (self.meta_dir / "job_log").glob("*.parquet"))
            ),
            "app.metadata.state_bytes": float(_tree_bytes(self.meta_dir)),
        }

