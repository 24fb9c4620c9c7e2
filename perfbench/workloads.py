"""The pipe workloads: seeded batches, the expected-pipe model, the loops.

Both workloads run the same closed loop on one thread: a timed first
sync (the backfill), then whole cycles of incremental syncs, each
followed by the same reads, until the run's seconds are spent. They
differ in the input properties the sync path branches on:

* ``pipe_cadence`` syncs small pandas batches (a few hundred rows, the
  fused driver-local route) into a 0.5M-row history; its corrections
  fall inside the backtrack window.
* ``pipe_bulk`` syncs 50k-row Spark DataFrames built from
  ``spark.range`` (the distributed route) into a 0.5M-row, 13-month
  history; its corrections land in old partition cells.

Every batch has a twin in pandas that feeds ``PipeModel``, the
keep-last-per-key model of what the pipe must hold; each sync's
inserted/updated split, each read and the final table are checked
against it outside the timed region.
"""

from __future__ import annotations

import collections
import contextlib
import datetime
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import stats
from perfbench.tracing import parquet_files

#: 2024-01-01T00:00:00Z, the first timestamp of every history
BASE_EPOCH_S = 1_704_067_200
COLUMNS = {"datetime": "ts", "id": "sensor_id"}
ALL_COLS = ["ts", "sensor_id", "value", "_k"]
WINDOW_COLS = ["ts", "sensor_id", "value"]
#: the window read excludes this ``_k`` value with a negated param
NEGATED_K = 3
#: the engine's default backtrack window; late corrections and replays
#: are drawn from the newest day of data
BACKTRACK_US = 1440 * 60 * 1_000_000
#: the engine's default partition cell width (30 days)
CELL_US = 43_200 * 60 * 1_000_000
HOUR_US = 3600 * 1_000_000
DAY_US = 24 * HOUR_US
#: model key = ts_us * KEY_SENSORS + sensor_id (sensor ids stay below it)
KEY_SENSORS = 1024
SYNC_KINDS = ("sync_new", "sync_late", "sync_replay")
#: read rounds after each untimed warm-up tick
WARM_READ_ROUNDS = 1


# -- the expected pipe ------------------------------------------------------

def normalize(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """Model dtypes for a frame read back from the pipe: ``ts`` as int64
    epoch µs, ids and ``_k`` int64, ``value`` float64."""
    out = pd.DataFrame(index=pd.RangeIndex(len(pdf)))
    for c in cols:
        s = pdf[c].reset_index(drop=True)
        if c == "ts":
            if isinstance(s.dtype, pd.DatetimeTZDtype):
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            if pd.api.types.is_datetime64_dtype(s.dtype):
                s = s.astype("datetime64[us]").astype("int64")
        out[c] = s.astype("float64" if c == "value" else "int64")
    return out


def digest(frame: pd.DataFrame, cols: list[str]) -> tuple[int, int]:
    """Row count and an order-independent hash of ``frame[cols]``."""
    if not len(frame):
        return 0, 0
    hashes = pd.util.hash_pandas_object(
        frame[cols].reset_index(drop=True), index=False).to_numpy()
    return len(frame), int(hashes.sum(dtype=np.uint64))


class PipeModel:
    """The rows the pipe must hold: keep-last per (ts, sensor_id)."""

    def __init__(self) -> None:
        self.frame = pd.DataFrame({
            "ts": np.empty(0, np.int64), "sensor_id": np.empty(0, np.int64),
            "value": np.empty(0, np.float64), "_k": np.empty(0, np.int64)})

    @staticmethod
    def _keyed(frame: pd.DataFrame) -> pd.DataFrame:
        keys = (frame["ts"].to_numpy() * KEY_SENSORS
                + frame["sensor_id"].to_numpy())
        return frame.set_index(pd.Index(keys, name="key"))

    def apply(self, batch: pd.DataFrame) -> tuple[int, int]:
        """Fold one batch in (model dtypes); returns the (inserted,
        updated) split the sync must report."""
        b = self._keyed(batch[ALL_COLS])
        b = b[~b.index.duplicated(keep="last")]
        if not len(self.frame):
            self.frame = b
            return len(b), 0
        present = b.index.isin(self.frame.index)
        hits = b[present]
        old = self.frame.loc[hits.index]
        changed = ((old["value"].to_numpy() != hits["value"].to_numpy())
                   | (old["_k"].to_numpy() != hits["_k"].to_numpy()))
        upd = hits[changed]
        if len(upd):
            self.frame.loc[upd.index, "value"] = upd["value"].to_numpy()
            self.frame.loc[upd.index, "_k"] = upd["_k"].to_numpy()
        fresh = b[~present]
        if len(fresh):
            self.frame = pd.concat([self.frame, fresh])
        return len(fresh), int(changed.sum())

    def __len__(self) -> int:
        return len(self.frame)

    @property
    def newest_us(self) -> int:
        return int(self.frame["ts"].max())

    def between(self, begin_us: int, end_us: int | None = None) -> pd.DataFrame:
        ts = self.frame["ts"].to_numpy()
        mask = ts >= begin_us
        if end_us is not None:
            mask &= ts < end_us
        return self.frame[mask]


def to_utc(ts_us: int) -> datetime.datetime:
    return (datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            + datetime.timedelta(microseconds=int(ts_us)))


def to_us(value) -> int:
    """Epoch µs of a timestamp the engine returns (naive means UTC)."""
    ts = pd.Timestamp(value)
    if ts.tzinfo is None:
        ts = ts.tz_localize("UTC")
    return int(ts.value // 1000)


# -- seeded inputs ----------------------------------------------------------

@dataclass(frozen=True)
class CadenceShape:
    history_rows: int = 500_000
    sensors: int = 64
    history_days: int = 75
    readings_per_tick: int = 5
    late_corrections: int = 64
    replay_rows: int = 320
    #: one cycle of ticks; its order is shuffled per cycle by the seed
    cycle: tuple = ("sync_new",) * 7 + ("sync_late",) * 2 + ("sync_replay",)
    #: read rounds (sync time, two reads, a row count) after each sync
    reads_per_sync: int = 1


@dataclass(frozen=True)
class BulkShape:
    backfill_rows: int = 500_000
    sensors: int = 256
    history_days: int = 400
    batch_rows: int = 50_000
    #: corrections per late batch, split over two old partition cells
    corrections: int = 5_000
    #: nine batches of new rows per batch with corrections; no replays
    cycle: tuple = ("sync_new",) * 9 + ("sync_late",)
    reads_per_sync: int = 1


class RangeRows:
    """Rows whose columns are pure integer functions of a row id, spelled
    in Spark SQL (over ``spark.range``) and in numpy (for the model).
    Row ``i`` is sensor ``i % sensors`` at grid point ``i // sensors``."""

    MULT = 2_654_435_761
    MOD = 1_000_003  # prime: ``j * MOD % span`` is a permutation

    def __init__(self, seed: int, sensors: int, step_s: int):
        self.salt = seed % self.MOD
        self.sensors = sensors
        self.step_s = step_s

    def spark(self, ids, extra_salt: int = 0, offset: float = 0.0):
        """``ids``: a DataFrame with one bigint column ``id``."""
        s = self.sensors
        return ids.selectExpr(
            f"timestamp_seconds({BASE_EPOCH_S} + (id div {s}) * {self.step_s}) AS ts",
            f"id % {s} AS sensor_id",
            f"CAST(pmod((id + {self.salt + extra_salt}) * {self.MULT}, {self.MOD})"
            f" AS DOUBLE) / 1000.0D + {offset!r}D AS value",
            f"pmod(id * 31 + {self.salt}, 8) AS _k")

    def frame(self, ids: np.ndarray, extra_salt: int = 0,
              offset: float = 0.0) -> pd.DataFrame:
        s = self.sensors
        raw = (ids + (self.salt + extra_salt)) * self.MULT % self.MOD
        return pd.DataFrame({
            "ts": (BASE_EPOCH_S + (ids // s) * self.step_s) * 1_000_000,
            "sensor_id": ids % s,
            "value": raw.astype(np.float64) / 1000.0 + offset,
            "_k": (ids * 31 + self.salt) % 8})

    def range(self, spark, lo: int, hi: int):
        """Rows ``[lo, hi)`` as a Spark DataFrame and its model twin."""
        return (self.spark(spark.range(lo, hi)),
                self.frame(np.arange(lo, hi, dtype=np.int64)))


class CadenceFeed:
    """Small pandas batches: every sensor reports on a fixed grid. The
    history is loaded from ``spark.range`` rows; each tick continues the
    grid with seeded random values."""

    name = "pipe_cadence"

    def __init__(self, seed: int, shape: CadenceShape = CadenceShape()):
        self.shape = shape
        self.rng = np.random.default_rng([seed, 1])
        self.per_sensor = shape.history_rows // shape.sensors
        self.step_s = shape.history_days * 86_400 // self.per_sensor
        self.rows = RangeRows(seed, shape.sensors, self.step_s)
        self.next_grid = 0

    def _grid_rows(self, n_grid: int) -> pd.DataFrame:
        s = self.shape.sensors
        grid = np.repeat(np.arange(self.next_grid, self.next_grid + n_grid), s)
        self.next_grid += n_grid
        return pd.DataFrame({
            "ts": (BASE_EPOCH_S + grid * self.step_s) * 1_000_000,
            "sensor_id": np.tile(np.arange(s, dtype=np.int64), n_grid),
            "value": self.rng.normal(20.0, 5.0, len(grid)).round(3),
            "_k": self.rng.integers(0, 8, len(grid)).astype(np.int64)})

    @staticmethod
    def as_input(frame: pd.DataFrame) -> pd.DataFrame:
        """What a pandas caller hands ``Pipe.sync``: naive-UTC datetimes."""
        out = frame.copy()
        out["ts"] = pd.to_datetime(out["ts"], unit="us")
        return out

    def backfill(self, spark):
        self.next_grid = self.per_sensor
        return self.rows.range(spark, 0, self.per_sensor * self.shape.sensors)

    def _recent(self, model: PipeModel, n: int) -> pd.DataFrame:
        """``n`` stored rows from the newest day, in key order."""
        recent = model.between(model.newest_us - BACKTRACK_US)
        pick = self.rng.choice(len(recent), min(n, len(recent)), replace=False)
        return recent.iloc[np.sort(pick)].reset_index(drop=True)

    def batch(self, spark, kind: str, model: PipeModel):
        if kind == "sync_replay":
            frame = self._recent(model, self.shape.replay_rows)
            return self.as_input(frame), frame
        frame = self._grid_rows(self.shape.readings_per_tick)
        if kind == "sync_late":
            late = self._recent(model, self.shape.late_corrections)
            late["value"] = (late["value"]
                             + self.rng.uniform(0.5, 1.5, len(late))).round(3)
            frame = pd.concat([frame, late], ignore_index=True)
        return self.as_input(frame), frame

    def cycle(self) -> list[str]:
        return list(self.rng.permutation(np.array(self.shape.cycle)))


class BulkFeed:
    """Distributed batches: ``RangeRows`` over ``spark.range``, so no
    pandas frame reaches ``Pipe.sync``."""

    name = "pipe_bulk"

    def __init__(self, seed: int, shape: BulkShape = BulkShape()):
        self.shape = shape
        self.rng = np.random.default_rng([seed, 2])
        self.step_s = (shape.history_days * 86_400
                       // (shape.backfill_rows // shape.sensors))
        self.rows = RangeRows(seed, shape.sensors, self.step_s)
        self.next_id = 0
        self.n_late = 0

    def _new(self, spark, n: int):
        lo = self.next_id
        self.next_id += n
        return self.rows.range(spark, lo, self.next_id)

    def _cell_ids(self, cell: int) -> tuple[int, int]:
        """Row ids [lo, hi) whose timestamps fall in partition ``cell``."""
        s, step = self.shape.sensors, self.step_s
        cell_s = CELL_US // 1_000_000

        def first_grid(t_s: int) -> int:
            return max(0, -(-(t_s - BASE_EPOCH_S) // step))
        return first_grid(cell * cell_s) * s, first_grid((cell + 1) * cell_s) * s

    def _old_cells(self) -> list[int]:
        """Cells the backfill fills completely, never reached by new rows."""
        s = self.shape.sensors
        last_ts_us = (BASE_EPOCH_S + ((self.shape.backfill_rows - 1) // s)
                      * self.step_s) * 1_000_000
        return list(range(BASE_EPOCH_S * 1_000_000 // CELL_US,
                          last_ts_us // CELL_US))

    def _corrections(self, spark, b: int):
        """New values for rows of two random old cells; late batch ``b``'s
        values differ from every earlier value of those rows."""
        cells = self.rng.choice(self._old_cells(), 2, replace=False)
        per_cell = self.shape.corrections // 2
        extra, offset = 7919 * (b + 1), 1000.0 * (b + 2)
        mod = RangeRows.MOD
        sdfs, frames = [], []
        for cell in sorted(int(c) for c in cells):
            lo, hi = self._cell_ids(cell)
            n = min(per_cell, hi - lo)
            ids = spark.range(n).selectExpr(f"{lo} + pmod(id * {mod}, {hi - lo}) AS id")
            sdfs.append(self.rows.spark(ids, extra, offset))
            frames.append(self.rows.frame(
                lo + (np.arange(n, dtype=np.int64) * mod) % (hi - lo), extra, offset))
        return sdfs[0].unionByName(sdfs[1]), pd.concat(frames, ignore_index=True)

    def backfill(self, spark):
        return self._new(spark, self.shape.backfill_rows)

    def batch(self, spark, kind: str, model: PipeModel):
        if kind == "sync_new":
            return self._new(spark, self.shape.batch_rows)
        sdf, frame = self._new(spark, self.shape.batch_rows - self.shape.corrections)
        csdf, cframe = self._corrections(spark, self.n_late)
        self.n_late += 1
        return sdf.unionByName(csdf), pd.concat([frame, cframe], ignore_index=True)

    def cycle(self) -> list[str]:
        return list(self.shape.cycle)


FEEDS = {"pipe_cadence": CadenceFeed, "pipe_bulk": BulkFeed}


# -- the run ----------------------------------------------------------------

@dataclass
class RunLog:
    """Operations attempted and failed, and the timings of the loop."""

    attempted: int = 0
    failed: int = 0
    #: operation kind ("sync", "read") -> loop latencies
    timings: dict = field(default_factory=lambda: collections.defaultdict(list))
    sync_rows: int = 0
    backfill_rows: int = 0
    backfill_s: float = 0.0
    #: when the first timed loop operation started (the end of set-up)
    loop_start: float | None = None
    #: seconds the harness spent building inputs and checking results
    harness_s: float = 0.0
    #: ``harness_s`` at ``loop_start``: the harness's share of set-up
    setup_harness_s: float = 0.0
    #: wall seconds of each untimed phase (set-up, final checks)
    phases: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    @contextlib.contextmanager
    def harness(self):
        """Time work of the harness, not of the engine (input frames, the
        model, the checks), so it can be left out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.harness_s += time.perf_counter() - t0

    def start_loop(self) -> float:
        self.loop_start = time.perf_counter()
        self.setup_harness_s = self.harness_s
        return self.loop_start

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}: {detail}", file=sys.stderr)

    def samples(self) -> dict:
        """Per operation kind: the sample count, the highest percentile
        it supports with ten samples beyond it, and p50 and p90 (p90 is
        a diagnostic: no loop is long enough to support it)."""
        out: dict = {"phases_s": self.phases}
        for kind, values in self.timings.items():
            out[kind] = {"n": len(values),
                         "supported_pct": stats.supported_percentile(len(values)),
                         "p50": stats.median(values), "p90": stats.percentile(values, 90)}
        return out

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: FAILED {what}:\n{traceback.format_exc()}",
              file=sys.stderr)


class PipeRun:
    """One workload against one pipe: backfill, loop, final checks."""

    def __init__(self, spark, tracer, feed, instance: str, log: RunLog,
                 seed: int):
        from meerschaum_spark import Pipe

        self.spark = spark
        self.tracer = tracer
        self.feed = feed
        self.log = log
        self.model = PipeModel()
        self.read_rng = np.random.default_rng([seed, 3])
        self.pipe = Pipe("perfbench", feed.name, instance=instance,
                         spark=spark, columns=COLUMNS)
        #: False during warm-up: operations are checked but not recorded
        self.measuring = True
        # a seeded skew over sensors for the newest-hour read
        s = feed.shape.sensors
        weights = 1.0 / np.arange(1, s + 1)
        self.sensor_p = (weights / weights.sum())[self.read_rng.permutation(s)]

    @property
    def data_dir(self) -> str:
        return self.pipe.store.data_path

    def _op(self, kind: str, fn, watch: bool = False):
        if not self.measuring:
            return fn(), None, None
        return self.tracer.run_op(kind, fn, self.data_dir if watch else None)

    def sync(self, kind: str, data, frame: pd.DataFrame) -> float | None:
        try:
            res, wall, rec = self._op(kind, lambda: self.pipe.sync(data), watch=True)
        except Exception:
            self.log.error(kind)
            with self.log.harness():
                self.model.apply(frame)
            return None
        with self.log.harness():
            want = self.model.apply(frame)
        got = (res.inserted, res.updated)
        self.log.check(kind, bool(res) and got == want,
                       f"{res!r}, model expects inserted/updated {want}")
        if rec is not None:
            rec["rows_updated"] = want[1]
        return wall

    def backfill(self) -> None:
        with self.log.harness():
            data, frame = self.feed.backfill(self.spark)
        wall = self.sync("backfill", data, frame)
        self.log.backfill_rows = len(frame)
        self.log.backfill_s = wall or 0.0

    def tick(self, kind: str, read_rounds: int | None = None) -> None:
        with self.log.harness():
            data, frame = self.feed.batch(self.spark, kind, self.model)
        wall = self.sync(kind, data, frame)
        if wall is not None and self.measuring:
            self.log.timings["sync"].append(wall)
            self.log.sync_rows += len(frame)
        for _ in range(self.feed.shape.reads_per_sync if read_rounds is None
                       else read_rounds):
            self.reads()

    def _read_plan(self) -> dict:
        """The arguments and the model's expected answers of one read
        round; reads change nothing, so they are all known up front."""
        newest = self.model.newest_us
        oldest = int(self.model.frame["ts"].min())
        s = self.feed.shape.sensors
        sensors = sorted(int(x) for x in self.read_rng.choice(
            s, min(3, s), replace=False, p=self.sensor_p))
        begin = newest - HOUR_US
        recent = self.model.between(begin)
        recent = recent[recent["sensor_id"].isin(sensors)]

        days = int(self.read_rng.integers(1, 8))
        span = max(1, newest - oldest - days * DAY_US)
        w_begin = oldest + int(self.read_rng.integers(0, span)) // 1_000_000 * 1_000_000
        w_end = w_begin + days * DAY_US
        window = self.model.between(w_begin, w_end)
        window = window[window["_k"] != NEGATED_K]

        c_begin = oldest + int(self.read_rng.integers(0, span)) // 1_000_000 * 1_000_000
        c_end = c_begin + DAY_US
        return {
            "newest": newest,
            "recent": (dict(begin=to_utc(begin), params={"sensor_id": sensors}),
                       digest(recent, ALL_COLS), ALL_COLS),
            "window": (dict(begin=to_utc(w_begin), end=to_utc(w_end),
                            params={"_k": [f"_{NEGATED_K}"]},
                            select_columns=WINDOW_COLS),
                       digest(window, WINDOW_COLS), WINDOW_COLS),
            "count": (dict(begin=to_utc(c_begin), end=to_utc(c_end)),
                      len(self.model.between(c_begin, c_end))),
        }

    def reads(self) -> None:
        """The reads a dashboard issues after each sync."""
        with self.log.harness():
            plan = self._read_plan()
        try:
            got, _, _ = self._op("meta.sync_time", self.pipe.get_sync_time)
            self.log.check("meta.sync_time", to_us(got) == plan["newest"],
                           f"{got} vs model {to_utc(plan['newest'])}")
        except Exception:
            self.log.error("meta.sync_time")

        self.read("read_recent", *plan["recent"])
        self.read("read_window", *plan["window"])

        kwargs, want_n = plan["count"]
        try:
            n, _, _ = self._op("meta.rowcount", lambda: self.pipe.get_rowcount(**kwargs))
            self.log.check("meta.rowcount", n == want_n, f"{n} vs model {want_n}")
        except Exception:
            self.log.error("meta.rowcount")

    def read(self, what: str, kwargs: dict, want: tuple[int, int], cols) -> None:
        def run():
            df = self.pipe.get_data(**kwargs)
            return df, df.toPandas()
        try:
            (df, pdf), wall, rec = self._op("read", run)
        except Exception:
            self.log.error(what)
            return
        if self.measuring:
            self.log.timings["read"].append(wall)
        if rec is not None:
            rec["rows"] = len(pdf)
            rec["files_scanned"] = len(df.inputFiles())
        with self.log.harness():
            got = digest(normalize(pdf, cols), cols)
        self.log.check(what, got == want,
                       f"{got[0]} rows vs model {want[0]} (or hash differs)")

    def final_checks(self) -> None:
        """Row count and an order-independent hash of the whole table."""
        try:
            n = self.pipe.get_rowcount()
            self.log.check("final rowcount", n == len(self.model),
                           f"{n} vs model {len(self.model)}")
            pdf = self.pipe.get_data(order=None).toPandas()
            got = digest(normalize(pdf, ALL_COLS), ALL_COLS)
            self.log.check("final table hash",
                           got == digest(self.model.frame, ALL_COLS),
                           f"{got[0]} rows vs model {len(self.model)}")
        except Exception:
            self.log.error("final checks")

    def store_shape(self) -> dict[str, float]:
        files = parquet_files(self.data_dir)
        parts = {os.path.dirname(f) for f in files}
        size = sum(os.path.getsize(os.path.join(d, x))
                   for d, _dirs, xs in os.walk(self.data_dir) for x in xs)
        return {"partitions": len(parts),
                "files_per_partition": len(files) / max(1, len(parts)),
                "bytes": size}


def run_pipe_workload(spark, tracer, workload: str, seed: int, seconds: float,
                      run_dir: str, shape=None) -> tuple[RunLog, dict, dict]:
    """Backfill (timed), warm up with one untimed tick of each kind,
    then loop whole cycles of ticks until ``seconds`` have passed.
    Returns the log, the end-to-end metrics and the per-layer metrics
    (empty unless traced). ``shape`` overrides the workload's default
    input sizes."""
    log = RunLog()
    feed = FEEDS[workload](seed) if shape is None else FEEDS[workload](seed, shape)
    run = PipeRun(spark, tracer, feed, os.path.join(run_dir, "instance"), log, seed)
    tracer.install()
    try:
        run.backfill()
        # the first sync of each kind pays first-touch planning, and the
        # JIT keeps speeding up planning for dozens of operations after:
        # a long-running sync service pays both once
        run.measuring = False
        with log.phase("warm_up"):
            for kind in dict.fromkeys(feed.shape.cycle):
                run.tick(kind, read_rounds=WARM_READ_ROUNDS)
        run.measuring = True
        t0 = log.start_loop()
        while True:
            for kind in feed.cycle():
                run.tick(kind)
            if time.perf_counter() - t0 >= seconds:
                break
    finally:
        tracer.uninstall()
    log.phases["loop"] = time.perf_counter() - t0
    with log.phase("final_checks"):
        run.final_checks()
    shape = run.store_shape()
    syncs, reads = log.timings["sync"], log.timings["read"]
    e2e = {
        "sync_p50_s": (stats.median(syncs), "s"),
        "read_p50_s": (stats.median(reads), "s"),
        "stored_bytes_per_row": (shape["bytes"] / max(1, len(run.model)), "B/row"),
        "backfill_rows_per_s": (log.backfill_rows / log.backfill_s, "rows/s"),
        "bulk_rows_per_s": (log.sync_rows / sum(syncs), "rows/s"),
    }
    layers = layer_metrics(tracer.ops, shape) if tracer.enabled else {}
    return log, e2e, layers


# -- per-layer metrics ------------------------------------------------------

#: (field, unit) reported for each sync kind, minus the pairs that are
#: zero by construction (no merge without updates, no write on a replay)
_SYNC_FIELDS = (
    ("jobs", "count"), ("tasks", "count"), ("driver_s", "s"),
    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("shuffle_w_bytes", "B"),
    ("to_spark_df_s", "s"), ("store_read_s", "s"), ("store_append_s", "s"),
    ("store_merge_s", "s"), ("registry_s", "s"),
    ("files_added", "count"), ("files_removed", "count"),
)
_ABSENT = {
    "backfill": {"store_read_s", "store_merge_s", "files_removed"},
    "sync_new": {"store_merge_s", "files_removed"},
    "sync_late": set(),
    "sync_replay": {"store_append_s", "store_merge_s", "files_added",
                    "files_removed"},
}
_READ_FIELDS = (
    ("jobs", "count"), ("tasks", "count"), ("driver_s", "s"),
    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("store_read_s", "s"),
    ("files_scanned", "count"), ("rows", "count"),
)


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    out: dict[str, str] = {}
    for kind in ("backfill",) + SYNC_KINDS:
        for fld, unit in _SYNC_FIELDS:
            if fld not in _ABSENT[kind]:
                out[f"{kind}.{fld}"] = unit
    out.update({"backfill.shuffle_r_bytes": "B", "backfill.spill_bytes": "B",
                "sync_late.shuffle_r_bytes": "B", "sync_late.spill_bytes": "B",
                "sync_late.rewrite_amp": "ratio"})
    for fld, unit in _READ_FIELDS:
        out[f"read.{fld}"] = unit
    out.update({"meta.rowcount_s": "s", "meta.rowcount_jobs": "count",
                "meta.sync_time_s": "s", "meta.sync_time_jobs": "count",
                "store.partitions": "count",
                "store.files_per_partition": "count"})
    return out


def layer_metrics(ops: list[dict], shape: dict) -> dict[str, tuple[float, str]]:
    """Medians per operation kind of the traced counters."""
    by_kind: dict[str, list[dict]] = {}
    for rec in ops:
        by_kind.setdefault(rec["kind"], []).append(rec)

    def med(kind: str, fld: str) -> float:
        vals = [r.get(fld, 0) for r in by_kind.get(kind, [])]
        return stats.median(vals) if vals else 0.0

    out: dict[str, tuple[float, str]] = {}
    for name, unit in layer_metric_units().items():
        kind, fld = name.split(".", 1)
        if kind == "meta":
            sub, what = fld.rsplit("_", 1)
            out[name] = (med(f"meta.{sub}", "wall_s" if what == "s" else "jobs"), unit)
        elif kind == "store":
            out[name] = (float(shape[fld]), unit)
        elif fld == "rewrite_amp":
            late = by_kind.get("sync_late", [])
            updated = sum(r.get("rows_updated", 0) for r in late)
            out[name] = (sum(r["rewritten_rows"] for r in late) / max(1, updated), unit)
        else:
            out[name] = (med(kind, fld), unit)
    return out
