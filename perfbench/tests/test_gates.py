"""The benchmark's correctness gate must fail on wrong outputs, and its
inputs must follow the seed.  In-process, on one Spark session."""

from __future__ import annotations

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import run as R
from perfbench import workloads as W
from perfbench.fixture import MigrationSource, build_tables


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    work = tmp_path_factory.mktemp("work")
    R._confine(work)
    spark, queries, oracles, _ = R._setup()
    yield W.Context(spark, queries, oracles, work, 7)
    R._stop(spark)


def test_seed_fixes_the_inputs():
    a, b = MigrationSource(1, 300, 20), MigrationSource(1, 300, 20)
    a.deltas(3), b.deltas(3)
    assert a.rows.equals(b.rows)
    c = MigrationSource(2, 300, 20)
    c.deltas(3)
    assert not a.rows.equals(c.rows)
    assert sum(len(d) == 0 for d in MigrationSource(3, 10, 5).deltas(4)) == 1
    t1, t2, t3 = build_tables(1, 0.5), build_tables(1, 0.5), build_tables(2, 0.5)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(t3["lineitem"])
    for name in ("region", "nation", "supplier", "part", "customer"):
        assert t1[name].equals(t3[name])
    # line items follow their orders into the subset
    assert set(t1["lineitem"].column("l_orderkey").to_pylist()) <= set(
        t1["orders"].column("o_orderkey").to_pylist()
    )


def test_migration_round_passes_and_cleans_up(ctx):
    wl = W.MigrateWorkload(W.TINY)
    rounds = [wl.round(ctx, k, traced=False) for k in range(2)]
    assert ctx.check_failures == []
    assert all(op.ok for r in rounds for op in r.ops)
    assert [op.kind for op in rounds[0].ops] == ["run", "sync", "sync", "sync", "check"]
    assert [op.rows > 0 for op in rounds[0].ops[1:4]] == [True, True, False]
    assert len(set(wl.db_names)) == 2
    assert not any(ctx.work.glob("migrate-*"))
    jvm = ctx.spark.sparkContext._jvm
    for name in wl.db_names:  # dropped: connecting without create fails
        with pytest.raises(Exception):
            jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{name}")


def test_gate_fails_on_corrupted_destination(ctx, monkeypatch):
    """One value changed after the repair: same counts, different
    content hash."""
    wl = W.MigrateWorkload(W.TINY)
    verify = wl._verify

    def corrupt_then_verify(fwd, src, dest, forwarded):
        victim = max(dest.glob("*.parquet"), key=lambda p: p.stat().st_size)
        t = pq.read_table(victim)
        amount = pc.add(t.column("amount"), 0.01)
        pq.write_table(t.set_column(t.schema.get_field_index("amount"), "amount", amount), victim)
        victim.with_name(f".{victim.name}.crc").unlink(missing_ok=True)  # let Spark read it too
        return verify(fwd, src, dest, forwarded)

    monkeypatch.setattr(wl, "_verify", corrupt_then_verify)
    ctx.check_failures.clear()
    r = wl.round(ctx, 0, traced=False)
    assert any("hash" in f or "!=" in f for f in ctx.check_failures)
    assert not any(op.ok for op in r.ops)
    ctx.check_failures.clear()


def test_gate_fails_on_wrong_query_result(ctx):
    oracles = dict(ctx.oracles)
    oracles["topk_global"] = "SELECT * FROM (" + oracles["topk_global"] + ") LIMIT 1"
    bad = W.Context(ctx.spark, ctx.queries, oracles, ctx.work / "q", 7)
    wl = W.QueryWorkload(("topk_global", "agg_groupby_sum"), W.TINY.query_keep)
    wl.prepare(bad)
    r = wl.round(bad, 0, traced=False)
    assert all(op.ok for op in r.ops)
    wl.verify(bad, [r])
    assert {op.kind: op.ok for op in r.ops} == {"topk_global": False, "agg_groupby_sum": True}
    assert len(bad.check_failures) == 1
