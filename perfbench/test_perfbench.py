"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q

The smoke tests start a local Spark session and run each pipe workload
at a tiny scale, traced, through the same code the benchmark runs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats, workloads as W  # noqa: E402

TINY = {
    "pipe_cadence": W.CadenceShape(history_rows=2048, sensors=8, history_days=40,
                                   readings_per_tick=2, late_corrections=4,
                                   replay_rows=8),
    "pipe_bulk": W.BulkShape(backfill_rows=20_000, sensors=16, history_days=400,
                             batch_rows=2_000, corrections=200),
}


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from meerschaum_spark.session import get_spark
    session = get_spark("perfbench_tests",
                        extra_confs={"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()


def _cadence_batches(spark, seed: int) -> list[pd.DataFrame]:
    feed = W.CadenceFeed(seed, TINY["pipe_cadence"])
    model = W.PipeModel()
    _, frame = feed.backfill(spark)
    model.apply(frame)
    out = [frame]
    for kind in W.SYNC_KINDS:
        _, frame = feed.batch(spark, kind, model)
        model.apply(frame)
        out.append(frame)
    return out


def test_same_seed_same_cadence_batches_other_seed_differs(spark):
    a, b, c = (_cadence_batches(spark, 7), _cadence_batches(spark, 7),
               _cadence_batches(spark, 8))
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    assert any(not x.equals(z) for x, z in zip(a, c))


def test_range_rows_numpy_twin_is_seeded():
    def frames(seed):
        return W.RangeRows(seed, 16, 600).frame(np.arange(0, 500, dtype=np.int64))
    pd.testing.assert_frame_equal(frames(7), frames(7))
    assert not frames(7).equals(frames(8))


def test_bulk_spark_batches_equal_their_numpy_twins(spark):
    feed = W.BulkFeed(5, TINY["pipe_bulk"])
    model = W.PipeModel()
    sdf, frame = feed.backfill(spark)
    model.apply(frame)
    pairs = [(sdf, frame)] + [feed.batch(spark, k, model)
                              for k in ("sync_new", "sync_late")]
    for sdf, frame in pairs:
        got = W.normalize(sdf.toPandas(), W.ALL_COLS)
        assert W.digest(got, W.ALL_COLS) == W.digest(frame, W.ALL_COLS)
    backfill_end, late = pairs[0][1]["ts"].max(), pairs[2][1]
    # a late batch corrects rows in exactly two old partition cells
    old = late[late["ts"] <= backfill_end]
    assert len(old) == TINY["pipe_bulk"].corrections
    assert old["ts"].floordiv(W.CELL_US).nunique() == 2


def test_supported_percentile_needs_ten_samples_beyond():
    assert stats.supported_percentile(19) is None
    assert stats.supported_percentile(20) == 50.0
    assert stats.supported_percentile(99) == 50.0
    assert stats.supported_percentile(100) == 90.0
    assert stats.supported_percentile(999) == 90.0
    assert stats.supported_percentile(1000) == 99.0
    assert stats.supported_percentile(10_000) == 99.9


def test_percentile_interpolates_linearly():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile([2.0], 90) == 2.0


def test_model_split_hand_built():
    def rows(*items):
        return pd.DataFrame(items, columns=W.ALL_COLS).astype(
            {"ts": "int64", "sensor_id": "int64", "value": "float64", "_k": "int64"})

    model = W.PipeModel()
    assert model.apply(rows((10, 1, 1.0, 0), (10, 2, 2.0, 0), (20, 1, 3.0, 0))) == (3, 0)
    split = model.apply(rows(
        (10, 1, 1.0, 0),    # replayed unchanged: neither
        (10, 2, 9.0, 0),    # value changed: update
        (20, 1, 3.0, 5),    # only _k changed: update
        (30, 1, 4.0, 0),    # unseen key, given twice: one insert
        (30, 1, 5.0, 0),    # ... of the last row
    ))
    assert split == (1, 2)
    assert len(model) == 4
    got = model.frame.sort_values(["ts", "sensor_id"])
    assert got["value"].tolist() == [1.0, 9.0, 3.0, 5.0]
    assert got["_k"].tolist() == [0, 0, 5, 0]


@pytest.mark.parametrize("workload", ["pipe_cadence", "pipe_bulk"])
def test_tiny_traced_smoke_run(spark, tmp_path, workload):
    from perfbench.tracing import Tracer

    tracer = Tracer(spark, True)
    log, e2e, layers = W.run_pipe_workload(
        spark, tracer, workload, 3, 0.0, str(tmp_path), shape=TINY[workload])
    assert log.attempted > 0 and log.failed == 0
    # the set-up's input building and checking is timed apart
    assert 0 < log.setup_harness_s <= log.harness_s
    assert all(v > 0 for v, _unit in e2e.values()), e2e
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(layers) == {m["name"] for m in bench["per_layer"]}
    assert set(e2e) | {"setup_s"} == {m["name"] for m in bench["end_to_end"]}
    assert layers["sync_late.files_removed"][0] > 0
    assert layers["read.rows"][0] > 0
    op_ids = {s["op"] for s in tracer.spans}
    assert {s["name"] for s in tracer.spans} >= {"sync_new", "store.append", "read"}
    assert all(s["end"] >= s["start"] for s in tracer.spans)
    assert len(op_ids) == len(tracer.ops)


def test_fails_without_the_engine(tmp_path):
    """Beside only BENCHMARK.json and perfbench/, a run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipe_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
