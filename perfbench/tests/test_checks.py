"""Each workload's DuckDB check passes on the engine's real output and fails
on a deliberately corrupted copy of it. One Spark session at the smoke size
serves the whole module."""

from __future__ import annotations

import copy
import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark_st(tmp_path_factory):
    harness.require_engine()
    root = tmp_path_factory.mktemp("perfbench")
    st = harness.Settings("backfill", 7, 0, False, size="smoke",
                          run_dir=str(root / "run"))
    harness.prepare_env(st)
    spark = harness.start_session(st, event_log=False)
    yield spark, st
    spark.stop()
    harness.shutdown_jvm()


def _workload(name, spark_st):
    spark, st = spark_st
    wl = workloads.WORKLOADS[name](st)
    wl.begin(spark)
    wl.inputs()
    return wl


def _rewrite(path: str, column: str, fn) -> None:
    t = pq.read_table(path)
    i = t.schema.get_field_index(column)
    pq.write_table(t.set_column(i, column, fn(t.column(column))), path)


def test_backfill_check(spark_st, tmp_path):
    wl = _workload("backfill", spark_st)
    op = wl.op()
    assert wl.check([op]) == [[]]

    def corrupted(mutate) -> list[str]:
        bad = copy.deepcopy(op)
        bad.out["root"] = shutil.copytree(op.out["root"], str(tmp_path / "root"),
                                          dirs_exist_ok=False)
        bad.out["blobs"] = shutil.copytree(op.out["blobs"], str(tmp_path / "blobs"))
        try:
            mutate(bad)
            return wl.check([bad])[0]
        finally:
            shutil.rmtree(tmp_path / "root")
            shutil.rmtree(tmp_path / "blobs")

    def bump_1h_sum(o):
        f = sorted(glob.glob(f"{o.out['root']}/tier=1h/*/*.parquet"))[0]
        _rewrite(f, "sum", lambda c: pc.add(c, 1.0))

    def break_a_block(o):
        f = sorted(glob.glob(f"{o.out['blobs']}/**/*.parquet", recursive=True))[0]
        _rewrite(f, "roundtrip_ok", lambda c: pa.array([False] * len(c)))

    def drop_a_day(o):
        d = sorted(glob.glob(f"{o.out['root']}/tier=1d/ts_bucket=*"))[0]
        shutil.rmtree(d)

    def miscount(o):
        o.out["metrics"]["rows_1m"] += 1

    for mutate, word in [(bump_1h_sum, "1h"), (break_a_block, "gorilla"),
                         (drop_a_day, "lineage"), (miscount, "1m")]:
        fails = corrupted(mutate)
        assert any(word in f for f in fails), (mutate.__name__, fails)
    wl.discard(op)


def test_ingest_check(spark_st):
    wl = _workload("ingest", spark_st)
    try:
        op = wl.op()
        assert wl.check([op]) == [[]]
        assert op.samples_ms and op.layers["stream.dedup.batches"] >= 2
        for key, mutate in [("dups", lambda m: m["dedup"].update(dups=m["dedup"]["dups"] + 1)),
                            ("docs", lambda m: m["dedup"].update(docs=m["dedup"]["docs"] - 1)),
                            ("blobs", lambda m: m["rollup_blobs"].update(roundtrip_ok=False))]:
            bad = copy.deepcopy(op)
            mutate(bad.out["metrics"])
            assert wl.check([bad])[0], key
        wl.discard(op)
    finally:
        wl.end()
