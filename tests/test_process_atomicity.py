"""Cross-PROCESS write atomicity (VERDICT r10 gap #1).

The in-process ``test_concurrent_syncs_one_pipe`` cannot cover two OS
processes (or two drivers) syncing the same pipe: before r11 the write
lock was a ``threading.RLock`` and the staging swap was bare directory
renames, so interleaved swaps could lose files. These tests spawn REAL
subprocesses, each with its own JVM, against one shared instance dir:

* two concurrent writers upserting interleaved key ranges into the same
  partition cells — final rowcount and values must be exact;
* a writer killed mid-swap (``MRSM_TEST_CRASH_SWAP=after_first_move``,
  ``os._exit(137)`` after the first cell rename) — the manifest must be
  present, and the next reader must roll the swap FORWARD to the exact
  committed state;
* ``ProcessLock`` semantics across processes (blocking exclusion,
  non-blocking failure) and re-entrancy within one;
* a fused small-batch sync killed inside its driver-side Arrow append
  (``MRSM_TEST_CRASH_APPEND``) — an unpublished temp file stays
  invisible and a retry of the batch lands every row exactly once;
* fused syncs in a process whose local time zone is not UTC store
  every input instant unchanged.

Reference parity: connectors/sql/_pipes.py:2217-2809 gets this from the
database transaction; the Parquet store now gets it from flock + a
roll-forward swap manifest (store.py ``recover_interrupted_swap``).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: worker: upsert ``rounds`` batches of rows keyed worker_id mod 2 into
#: the SAME three day-cells as the other worker; every batch rewrites
#: shared cells, so unserialised swaps WOULD interleave.
WORKER = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, {repo!r})
    inst, wid, n, rounds = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
             .appName(f"writer{{wid}}")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    from meerschaum_spark import Pipe
    import datetime as dt
    pipe = Pipe("t", "atom", instance=inst, spark=spark,
                columns={{"datetime": "ts", "id": "k"}}, upsert=True)
    base = dt.datetime(2024, 1, 1)
    for r in range(rounds):
        rows = [(base + dt.timedelta(days=(i % 3), minutes=i),
                 wid + 2 * i, wid * 1000 + r)
                for i in range(n)]
        res = pipe.sync(spark.createDataFrame(rows, "ts timestamp, k long, v long"))
        assert res.success, res.message
    spark.stop()
    print("WORKER_OK", wid)
""")

CRASHER = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, {repo!r})
    inst = sys.argv[1]
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
             .appName("crasher")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    from meerschaum_spark import Pipe
    import datetime as dt
    pipe = Pipe("t", "atom", instance=inst, spark=spark,
                columns={{"datetime": "ts", "id": "k"}}, upsert=True)
    base = dt.datetime(2024, 1, 1)
    if sys.argv[2] == "seed":
        rows = [(base + dt.timedelta(days=i % 3, minutes=i), i, 0)
                for i in range(60)]
        res = pipe.sync(spark.createDataFrame(rows, "ts timestamp, k long, v long"))
        assert res.success, res.message
        print("SEED_OK")
    else:
        # update every third key across all three cells -> multi-cell
        # swap; MRSM_TEST_CRASH_SWAP kills us after the FIRST cell rename
        os.environ["MRSM_TEST_CRASH_SWAP"] = "after_first_move"
        rows = [(base + dt.timedelta(days=i % 3, minutes=i), i, 999)
                for i in range(0, 60, 3)]
        pipe.sync(spark.createDataFrame(rows, "ts timestamp, k long, v long"))
        print("CRASHER_SURVIVED")  # must be unreachable
""")


def _run(script: str, *args: str, timeout: int = 420,
         env: dict | None = None) -> subprocess.CompletedProcess:
    full_env = dict(os.environ)
    full_env["PYTHONPATH"] = REPO
    full_env.pop("MRSM_TEST_CRASH_SWAP", None)
    if env:
        full_env.update(env)
    with tempfile.NamedTemporaryFile(
            "w", suffix=".py", delete=False) as f:
        f.write(script.format(repo=REPO))
        path = f.name
    try:
        return subprocess.run(
            [sys.executable, path, *args],
            capture_output=True, text=True, timeout=timeout, env=full_env)
    finally:
        os.unlink(path)


def _table_rows(inst: str) -> dict[int, int]:
    """{k: v} straight from the parquet files (duckdb — no Spark)."""
    duckdb = pytest.importorskip("duckdb")
    files = glob.glob(os.path.join(inst, "*", "data", "*", "*.parquet"))
    assert files, "no data files written"
    con = duckdb.connect()
    rows = con.execute(
        "SELECT k, v FROM read_parquet(?)", [files]).fetchall()
    out = dict(rows)
    assert len(out) == len(rows), "duplicate keys in stored table"
    return out


@pytest.mark.slow
def test_two_process_writers_exact():
    """Two OS processes upsert interleaved keys into the same cells
    concurrently: every row lands, no duplicates, last value per key."""
    inst = tempfile.mkdtemp(prefix="mrsm_atom_")
    n, rounds = 40, 3
    procs = []
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(WORKER.format(repo=REPO))
        wpath = f.name
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env.pop("MRSM_TEST_CRASH_SWAP", None)
    try:
        for wid in (0, 1):
            procs.append(subprocess.Popen(
                [sys.executable, wpath, inst, str(wid), str(n), str(rounds)],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True, env=env))
        for p in procs:
            out, err = p.communicate(timeout=420)
            assert p.returncode == 0, f"worker failed:\n{out}\n{err[-3000:]}"
            assert "WORKER_OK" in out
    finally:
        os.unlink(wpath)
    got = _table_rows(inst)
    # worker 0 wrote even keys 0..78, worker 1 odd keys 1..79; the last
    # round's value (wid*1000 + rounds-1) must have won for every key
    assert len(got) == 2 * n
    for i in range(n):
        assert got[2 * i] == 0 * 1000 + (rounds - 1)
        assert got[2 * i + 1] == 1 * 1000 + (rounds - 1)


@pytest.mark.slow
def test_crash_mid_swap_rolls_forward():
    """A writer SIGKILL'd between cell renames leaves the manifest; the
    next reader completes the swap to the exact committed state."""
    inst = tempfile.mkdtemp(prefix="mrsm_crash_")
    seed = _run(CRASHER, inst, "seed")
    assert seed.returncode == 0 and "SEED_OK" in seed.stdout, \
        seed.stderr[-3000:]
    crash = _run(CRASHER, inst, "crash")
    assert crash.returncode == 137, (
        f"crash hook did not fire (rc={crash.returncode}):\n"
        f"{crash.stdout}\n{crash.stderr[-3000:]}")
    # the dead writer must have left the manifest + staging behind
    target = next(d for d in os.listdir(inst)
                  if os.path.isdir(os.path.join(inst, d))
                  and not d.startswith("."))
    mpath = os.path.join(inst, target, "_swap_manifest.json")
    assert os.path.isfile(mpath), "no manifest left by crashed writer"
    doc = json.load(open(mpath))
    assert doc["kind"] == "cells" and doc["staged"]
    # recovery: any reader heals it (store.read -> _maybe_recover)
    from meerschaum_spark.store import ParquetPipeStore
    from meerschaum_spark.session import get_spark
    spark = get_spark("meerschaum_spark_tests")
    store = ParquetPipeStore(spark, inst, target, dt_col="ts")
    n = store.read().count()
    assert not os.path.isfile(mpath), "manifest not cleared by recovery"
    assert not glob.glob(os.path.join(inst, target, "_staging_*")), \
        "staging dir not cleaned up"
    assert n == 60
    got = _table_rows(inst)
    assert len(got) == 60
    for k in range(60):
        assert got[k] == (999 if k % 3 == 0 else 0), f"key {k}"


def test_process_lock_excludes_other_process(tmp_path):
    """flock semantics: a child process cannot take the held lock
    non-blocking; after release it can. Re-entrancy in-process."""
    from meerschaum_spark.locking import lockfile_for, process_lock

    store_path = str(tmp_path / "pipe_t")
    lk = process_lock(store_path)
    probe = textwrap.dedent(f"""
        import fcntl, os, sys
        fd = os.open({lockfile_for(store_path)!r}, os.O_RDWR | os.O_CREAT)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            print("ACQUIRED")
        except OSError:
            print("BLOCKED")
    """)
    with lk:
        with lk:  # re-entrant
            assert lk.held
            r = subprocess.run([sys.executable, "-c", probe],
                               capture_output=True, text=True, timeout=60)
            assert r.stdout.strip() == "BLOCKED", r.stderr
        assert lk.held  # inner release keeps the outer hold
    assert not lk.held
    r = subprocess.run([sys.executable, "-c", probe],
                       capture_output=True, text=True, timeout=60)
    assert r.stdout.strip() == "ACQUIRED", r.stderr
    # same-process non-blocking refusal while held by a THREAD
    import threading
    acquired = threading.Event()
    release = threading.Event()

    def holder():
        with lk:
            acquired.set()
            release.wait(30)

    t = threading.Thread(target=holder)
    t.start()
    assert acquired.wait(10)
    assert lk.acquire(blocking=False) is False
    release.set()
    t.join(30)
    assert lk.acquire(blocking=False) is True
    lk.release()


def test_drop_reaps_lockfile_and_lock_still_works(spark, tmp_path):
    """drop() must not strand a lockfile in <root>/.locks, and the
    unlink must not break waiters (the inode-recheck retries onto the
    fresh file)."""
    from meerschaum_spark.locking import lockfile_for
    from meerschaum_spark.store import ParquetPipeStore

    store = ParquetPipeStore(spark, str(tmp_path), "t_reap", dt_col="ts")
    lf = lockfile_for(store.path)
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1)], "ts string, v int"
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "v")
    store.append(df)
    assert os.path.isfile(lf)
    store.drop()
    assert not os.path.isfile(lf)
    # the lock object still functions after the reap (fresh inode)
    with store.lock:
        assert store.lock.held
    store.append(df)  # store usable again
    assert store.read().count() == 1
    store.drop()


#: engine sessions (``get_spark``) for the subprocess tests below
SMALL_SPARK = {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}

#: fused small-batch sync killed inside its driver-side Arrow append
#: (``MRSM_TEST_CRASH_APPEND``: ``after_temp_write`` dies before the
#: first publish rename, ``after_first_publish`` between two cells')
APPEND_CRASHER = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, {repo!r})
    inst, mode = sys.argv[1], sys.argv[2]
    from meerschaum_spark.session import get_spark
    spark = get_spark("append_crasher")
    from meerschaum_spark import Pipe
    from tests.test_process_atomicity import append_batches
    pipe = Pipe("t", "arrow", instance=inst, spark=spark,
                columns={{"datetime": "ts", "id": "k"}})
    seed, batch = append_batches()
    assert pipe.sync(seed).success
    os.environ["MRSM_TEST_CRASH_APPEND"] = mode
    pipe.sync(batch)
    print("CRASHER_SURVIVED")  # must be unreachable
""")


def append_batches() -> tuple[list, list]:
    """(seed, batch): 30 seed rows in one 30-day cell, then 20 new rows
    split over two later cells — a small list batch, so the sync takes
    the fused route and appends through the Arrow writer."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    seed = [{"ts": base + dt.timedelta(minutes=i), "k": i, "v": 0}
            for i in range(30)]
    batch = [{"ts": base + dt.timedelta(days=45 + 35 * (i % 2), minutes=i),
              "k": 100 + i, "v": 1} for i in range(20)]
    return seed, batch


@pytest.mark.slow
@pytest.mark.parametrize("mode", ["after_temp_write", "after_first_publish"])
def test_killed_arrow_append_heals_on_retry(spark, instance_dir, mode):
    """A fused sync SIGKILL'd inside its Arrow append: an unpublished
    temp file is invisible to every reader, a published cell's rows are
    visible (the documented multi-cell crash window), and re-syncing the
    same batch lands every row exactly once."""
    from meerschaum_spark import Pipe

    crash = _run(APPEND_CRASHER, instance_dir, mode, env=SMALL_SPARK)
    assert crash.returncode == 137, (
        f"crash hook did not fire (rc={crash.returncode}):\n"
        f"{crash.stdout}\n{crash.stderr[-3000:]}")
    seed, batch = append_batches()
    pipe = Pipe("t", "arrow", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "k"})
    data = pipe.store.data_path
    temps = glob.glob(os.path.join(data, "*", ".*.tmp"))
    published = set(glob.glob(os.path.join(data, "*", "*.parquet")))
    assert pipe.store._data_files() == published
    if mode == "after_temp_write":
        assert len(temps) == 1
        landed = 0
    else:
        assert temps == []
        landed = 10  # the first cell's rows
    seed_max = max(r["ts"] for r in seed)
    assert pipe.get_data(order=None).count() == 30 + landed
    assert pipe.get_rowcount() == 30 + landed
    if not landed:
        assert pipe.get_sync_time() == seed_max
    else:
        assert pipe.get_sync_time() > seed_max

    res = pipe.sync(batch)
    assert res.success and (res.inserted, res.updated) == (20 - landed, 0)
    assert pipe.get_rowcount() == 50
    got = _table_rows(instance_dir)
    assert got == {**{r["k"]: 0 for r in seed}, **{r["k"]: 1 for r in batch}}
    assert pipe.get_sync_time() == max(r["ts"] for r in batch)


#: fused syncs in a process whose local time zone is not UTC; prints the
#: stored (k, epoch µs, v) rows read straight from the parquet files
TZ_SYNCER = textwrap.dedent("""
    import json, os, sys, time
    sys.path.insert(0, {repo!r})
    assert time.strftime("%Z") in ("EST", "EDT"), time.strftime("%Z")
    inst = sys.argv[1]
    from meerschaum_spark.session import get_spark
    spark = get_spark("tz_syncer")
    import pyarrow.parquet as pq
    from meerschaum_spark import Pipe
    from tests.test_process_atomicity import tz_batches
    pipe = Pipe("t", "tz", instance=inst, spark=spark,
                columns={{"datetime": "ts", "id": "k"}})
    for b in tz_batches():
        res = pipe.sync(b)
        assert res.success, res.message
        print("SYNC", res.inserted, res.updated)
    out = []
    for f in sorted(pipe.store._data_files()):
        t = pq.read_table(f)
        assert t.schema.field("ts").type.tz == "UTC", t.schema
        out += [list(r) for r in zip(t.column("k").to_pylist(),
                                     t.column("ts").cast("int64").to_pylist(),
                                     t.column("v").to_pylist())]
    print("ROWS", json.dumps(sorted(out)))
""")


def tz_batches() -> list:
    """Three pandas batches around the 2024-03-10 US DST switch: a first
    sync (Spark write), new rows (fused route, Arrow append), then one
    late correction of a stored row plus one new row (fused route,
    merge + Arrow append)."""
    import datetime as dt

    import pandas as pd
    base = dt.datetime(2024, 3, 9, 22, tzinfo=dt.timezone.utc)

    def frame(keys, v):
        return pd.DataFrame({
            "ts": [base + dt.timedelta(hours=k, microseconds=k)
                   for k in keys],
            "k": list(keys), "v": [v] * len(keys)})
    return [frame(range(0, 10), 0), frame(range(10, 20), 1),
            frame([5, 20], 2)]


@pytest.mark.slow
def test_fused_sync_keeps_epochs_under_local_timezone(instance_dir):
    """Collected ``Row`` timestamps are naive process-local time; the
    fused route reads the diff through Arrow, so a process whose local
    zone is America/New_York stores every input instant unchanged and
    its late correction replaces the stored row (no duplicate key)."""
    out = _run(TZ_SYNCER, instance_dir,
               env={**SMALL_SPARK, "TZ": "America/New_York"})
    assert out.returncode == 0, f"{out.stdout}\n{out.stderr[-3000:]}"
    assert [ln for ln in out.stdout.splitlines()
            if ln.startswith("SYNC")] == [
        "SYNC 10 0", "SYNC 10 0", "SYNC 1 1"]
    stored = json.loads(next(ln for ln in out.stdout.splitlines()
                             if ln.startswith("ROWS "))[5:])
    expected = {}
    for b in tz_batches():
        for ts, k, v in zip(b["ts"], b["k"], b["v"]):
            expected[int(k)] = [int(k), ts.value // 1000, int(v)]
    assert stored == sorted(expected.values())
