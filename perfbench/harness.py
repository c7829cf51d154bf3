"""One benchmark run: sessions, set-up, timed passes, checks, metrics.

A run of workload ``w`` with seed ``s``:

1. launches the Spark JVM and writes ``w``'s inputs for ``s``;
2. loads the reference for ``(w, s)``, computing and caching it the
   first time (never inside a timer);
3. set-up: starts the session three times (the first start is the JVM
   launch above, the other two stop and restart the SparkContext in
   the same JVM), then runs the workload's untimed warm-up passes;
4. runs timed passes until ``seconds`` have elapsed (at least one),
   checking every pass's outputs after its timer stops;
5. reports the end-to-end metrics (untraced run) or, with tracing, the
   per-layer metrics of :mod:`perfbench.tracing`.

All files live under ``.perfbench/`` inside the checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench import tracing
from perfbench.workloads import WORKLOADS, Context, Ops, Workload

HERE = Path(__file__).resolve().parent
SESSION_STARTS = 3
INITIAL_HEAP = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "peak_rss_mb": "MB",
}
# per-layer metrics besides tracing.LAYER_METRICS: counts returned by
# the public calls, derived PageRank rates and the tracing overhead
EXTRA_LAYER_UNITS = {
    "pagerank.supersteps": "count",
    "pagerank.salted": "count",
    "components.rounds": "count",
    "lpa.rounds": "count",
    "triangles.total": "count",
    "edges.rows_out": "count",
    "checkpoint.saves": "count",
    "checkpoint.mb": "MB",
    "pagerank.edges_per_s_per_superstep": "1/s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{name}": unit
        for layer in tracing.LAYERS
        for name, unit in tracing.LAYER_METRICS
    }
    units.update(EXTRA_LAYER_UNITS)
    return units


@dataclass
class PassLog:
    traced: bool
    seconds: list[float] = field(default_factory=list)
    pagerank_seconds: list[float] = field(default_factory=list)
    counters: dict = field(default_factory=dict)


class Session:
    """The Spark session of a run; owns the Spark JVM."""

    def __init__(self, work: Path, trace: bool):
        self.work = work
        self.trace = trace
        self.spark = None
        self.jvm_pid = None

    def conf(self) -> dict[str, str]:
        tmp = self.work / "tmp"
        conf = {
            "spark.local.dir": str(self.work / "local"),
            # a fixed initial heap: without it the timed passes measure
            # how far the heap has grown, which varies run to run
            "spark.driver.extraJavaOptions": f"-Xms{INITIAL_HEAP}",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": str(tmp),
        }
        if self.trace:
            logs = self.work / "eventlog"
            logs.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(logs),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self, cores: int, tracer) -> float:
        """Stop any running session, start one at ``local[cores]`` and
        run one Python-worker job that imports ``cminer_spark``."""
        from cminer_spark import get_spark

        self.stop()
        t0 = time.perf_counter()
        with tracer.span("session"):
            self.spark = get_spark(
                "perfbench", master=f"local[{cores}]", extra_conf=self.conf()
            )
            tracer.tag_current()
            ok = self.spark.range(1, numPartitions=1).mapInArrow(
                _worker_probe, "ok long"
            ).collect()
        elapsed = time.perf_counter() - t0
        if ok[0]["ok"] != 1:
            raise RuntimeError("python workers cannot import cminer_spark")
        if self.jvm_pid is None:
            self.jvm_pid = int(
                self.spark._jvm.java.lang.ProcessHandle.current().pid()
            )
        return elapsed

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing")

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _worker_probe(batches):
    import pyarrow as pa

    import cminer_spark  # noqa: F401

    for _ in batches:
        yield pa.RecordBatch.from_pydict({"ok": [1]})


def _load_reference(workload: Workload, inputs: Path, path: Path) -> dict:
    """The workload's reference for these inputs, cached in ``path``:
    arrays in ``ref.npz``, tables as parquet files."""
    if not (path / "ref.npz").exists():
        want = workload.reference(inputs)
        tmp = path.with_name(path.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        arrays = {k: v for k, v in want.items() if isinstance(v, np.ndarray | np.generic)}
        np.savez(tmp / "ref.npz", **arrays)
        for k, v in want.items():
            if k not in arrays:
                pq.write_table(v, tmp / f"{k}.parquet", compression="zstd")
        shutil.rmtree(path, ignore_errors=True)
        tmp.replace(path)
    with np.load(path / "ref.npz", allow_pickle=False) as z:
        want = {k: z[k] for k in z.files}
    for f in path.glob("*.parquet"):
        want[f.stem] = pq.read_table(f)
    return want


def _host_probe() -> float:
    """Seconds for a fixed pure-Python loop: the speed this host gives
    one core now, which drifts with the load of other guests."""
    t0 = time.perf_counter()
    total = 0
    for i in range(3_000_000):
        total += i
    return time.perf_counter() - t0


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (the
    ``steal`` column of /proc/stat) between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


class Run:
    def __init__(self, root: Path, workload: str, seed: int, seconds: float,
                 trace: bool, scale: float):
        self.root = root
        self.work = root / ".perfbench"
        self.workload = WORKLOADS[workload](scale)
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.attempted = 0
        self.failed = 0
        self.passes: list[PassLog] = []

    # -- plumbing --------------------------------------------------------
    def _fresh_dirs(self) -> tuple[Path, Path, Path]:
        # the cache key covers the code that defines the reference
        code = hashlib.sha256(
            b"".join((HERE / f).read_bytes() for f in ("reference.py", "workloads.py"))
        ).hexdigest()[:12]
        tag = f"{self.workload.name}-{self.seed}-{self.scale:g}-{code}"
        run = self.work / "run"
        shutil.rmtree(run, ignore_errors=True)
        for d in ("tmp", "local", "out"):
            (run / d).mkdir(parents=True, exist_ok=True)
        # the Spark JVM, its launcher, its Python workers and tempfile
        # users (the program's ephemeral state store) all write under
        # the run dir; -XX:-UsePerfData stops each JVM from writing its
        # performance-counter file to /tmp
        os.environ["TMPDIR"] = str(run / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(run / "local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={run / 'tmp'}"
        )
        tempfile.tempdir = str(run / "tmp")
        cache = self.work / "cache"
        cache.mkdir(parents=True, exist_ok=True)
        return run, run / "inputs", cache / tag

    def _one_pass(self, ctx: Context, log: PassLog, want: dict) -> None:
        ops = Ops()
        # start every pass with no dirty pages from the previous one
        os.sync()
        t0 = time.perf_counter()
        try:
            self.workload.run_pass(ctx, ops)
        except Exception:
            # the raising call fails; the pass's time is still recorded
            traceback.print_exc(file=sys.stderr)
            self.attempted += len(ops.names)
            self.failed += 1
            log.seconds.append(time.perf_counter() - t0)
            return
        elapsed = time.perf_counter() - t0
        self.attempted += len(ops.names)
        try:
            bad = self.workload.check(ctx, ops, want)
        except Exception:
            # unreadable or malformed outputs fail every operation
            traceback.print_exc(file=sys.stderr)
            bad = list(ops.names)
        if bad:
            print(f"[perfbench] output mismatch: {bad}", file=sys.stderr)
        self.failed += len(bad)
        log.seconds.append(elapsed)
        if "pagerank_s" in ops.info:
            log.pagerank_seconds.append(ops.info["pagerank_s"])
        log.counters = self.workload.counters(ctx, ops)

    def _timed(self, ctx: Context, log: PassLog, budget: float, want: dict) -> None:
        """Passes until ``budget`` seconds have elapsed, at least one."""
        t_end = time.perf_counter() + budget
        while True:
            if log.traced:
                ctx.tracer.pass_index = len(log.seconds)
            self._one_pass(ctx, log, want)
            if time.perf_counter() >= t_end:
                break
        self.passes.append(log)

    # -- the run ---------------------------------------------------------
    def execute(self) -> dict:
        run_dir, inputs, ref_path = self._fresh_dirs()
        session = Session(run_dir, self.trace)
        tracer = tracing.Tracer(lambda: session.spark and session.spark.sparkContext) \
            if self.trace else tracing.NullTracer()
        null = tracing.NullTracer()
        w = self.workload
        cores = len(os.sched_getaffinity(0))
        try:
            starts = [session.start(cores, tracer)]
            w.prepare(session.spark, inputs, self.seed)
            want = _load_reference(w, inputs, ref_path)
            for _ in range(SESSION_STARTS - 1):
                starts.append(session.start(cores, tracer))
            ctx = Context(session.spark, null, inputs, run_dir / "out")
            warmup = PassLog(False)
            for _ in range(w.warmup_passes):
                self._one_pass(ctx, warmup, want)
            warmup_s = sum(warmup.seconds)
            detail = {
                "session_start_s": starts,
                "warmup_s": warmup.seconds,
                "sizes": {k: int(want[k]) for k in ("turns", "edges", "vertices")},
            }

            if self.trace:
                # untraced then traced passes, half the time each
                self._timed(ctx, PassLog(False), self.seconds / 2, want)
                ctx.tracer = tracer
                self._timed(ctx, PassLog(True), self.seconds / 2, want)
                ctx.tracer = null
            else:
                detail["host_probe_s"] = _host_probe()
                cpu0 = _cpu_ticks()
                self._timed(ctx, PassLog(False), self.seconds, want)
                detail["steal_share"] = _steal_share(cpu0, _cpu_ticks())
            a, f = w.final_checks(ctx, want)
            self.attempted += a
            self.failed += f
            peak = session.peak_rss_mb()
        finally:
            session.shutdown()

        main, traced = self.passes[0], self.passes[-1]
        job_s = statistics.median(main.seconds)
        detail.update(
            {
                "job_s_samples": len(main.seconds),
                "job_s_max": max(main.seconds),
                "job_s_all": main.seconds,
                "counters": main.counters,
                "error_rate": self.failed / max(self.attempted, 1),
            }
        )
        detail["turns_per_s"] = detail["sizes"]["turns"] / job_s
        end_to_end = {
            "setup_s": statistics.median(starts) + warmup_s,
            "job_s": job_s,
            "peak_rss_mb": peak,
        }
        if main.pagerank_seconds:
            detail["pagerank.edges_per_s_per_superstep"] = (
                detail["sizes"]["edges"]
                * main.counters["pagerank.supersteps"]
                / statistics.median(main.pagerank_seconds)
            )
        if not self.trace:
            metrics = {
                k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()
            }
        else:
            layer = tracing.summarize(
                tracer, run_dir / "eventlog", list(range(len(traced.seconds)))
            )
            layer.update({k: 0.0 for k in EXTRA_LAYER_UNITS})
            layer.update(traced.counters)
            layer["pagerank.edges_per_s_per_superstep"] = detail.get(
                "pagerank.edges_per_s_per_superstep", 0.0
            )
            layer["trace.overhead_s"] = statistics.median(traced.seconds) - job_s
            units = per_layer_units()
            metrics = {k: {"value": float(layer[k]), "unit": units[k]} for k in units}
            detail["end_to_end"] = end_to_end
        detail["workload"] = w.name
        detail["seed"] = self.seed
        return {
            "detail": detail,
            "result": {
                "correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": metrics,
            },
        }


def main_run(root: Path, args) -> int:
    run = Run(root, args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    out = run.execute()
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0
