"""Shared benchmark plumbing: run directories, the Spark session, timed
set-up, the capture endpoint process, spans, percentiles and the result
line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
OUT = os.path.join(WORK, "out")


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: int
    trace: bool
    small: bool  # smoke-test sizes
    broken_sink: bool
    run_dir: str
    tracer: "Tracer"
    spark: object = None
    setup_s: float = 0.0
    session_s: float = 0.0


def make_run_dir(workload: str, seed: int) -> str:
    path = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def configure_env(run_dir: str) -> None:
    """Environment for Spark and its Python workers: every temp file
    inside the run directory, the checkout on the workers' import path,
    one local core per visible CPU."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    })


def start_session(ctx: Ctx):
    from flash_cdc_spark.session import get_spark

    tmp = os.path.join(ctx.run_dir, "tmp")
    return get_spark(
        app_name=f"perfbench-{ctx.workload}",
        extra_conf={
            # heap fixed at its maximum, so that its sizing does not
            # differ between runs (cold/warm pass spread 0.06-0.12 with
            # it, 0.16 without, over six alternating pairs on a 4-vCPU VM)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms3g",
            "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
        },
    )


def timed_setup(ctx: Ctx, make_inputs, t_process: float):
    """Start the session and generate the inputs; ``setup_s`` counts
    from process start, so it includes the interpreter, the imports and
    the JVM launch. Returns the inputs."""
    with ctx.tracer.span("harness.setup"):
        t_s = time.time()
        with ctx.tracer.span("session.start"):
            ctx.spark = start_session(ctx)
        ctx.session_s = time.time() - t_s
        inputs = make_inputs()
    ctx.setup_s = time.time() - t_process
    return inputs


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    return vm_hwm_mb(jvm_pid(spark)) + vm_hwm_mb()


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0–100) of ``values``."""
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latency_metrics(lat_ms: list[float]) -> dict:
    """``latency_p50_ms`` and ``latency_p90_ms`` of ``lat_ms`` (0 when
    empty). p99 is printed with the sample count but not reported: it
    rests on the run's one or two slowest micro-batches and spread 30 %
    between runs."""
    if lat_ms:
        print(f"latency samples: {len(lat_ms)}, p99 {pct(lat_ms, 99):.1f} ms")
    return {name: (pct(lat_ms, q) if lat_ms else 0.0, "ms")
            for name, q in (("latency_p50_ms", 50), ("latency_p90_ms", 90))}


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


class Endpoint:
    """The capture endpoint (``endpoint.py``) in its own process."""

    def __init__(self, fault_every: int = 0, fault_seed: int = 0, drop_every: int = 0):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "endpoint.py"),
             "--fault-every", str(fault_every), "--fault-seed", str(fault_seed),
             "--drop-every", str(drop_every)],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "port":
            self.close()
            raise RuntimeError("capture endpoint failed to start")
        self.url = f"http://127.0.0.1:{line[1]}"

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(self.url + path, timeout=30) as resp:
            return json.loads(resp.read())

    def stats(self) -> dict:
        return self._get("/stats")

    def dump(self) -> dict:
        return self._get("/dump")

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        self.proc.wait(timeout=15)
        self.proc.stdout.close()


class Tracer:
    """In-memory spans (name, start, end, parent), written at the end.
    Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return 0
        sid = len(self.spans) + 1
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, **attrs})
        return sid

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, self.current, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid - 1]["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def print_table(title: str, rows: list[tuple]) -> None:
    print(f"== {title}")
    for row in rows:
        name, value, unit = row[:3]
        extra = "  " + row[3] if len(row) > 3 else ""
        print(f"  {name:<44} {value:>14.4f} {unit}{extra}")


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
