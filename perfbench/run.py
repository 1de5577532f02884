"""flash-spark benchmark.

    python3 perfbench/run.py --workload {cdc,batch_suite}
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). See
README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("cdc", "batch_suite")
END_TO_END = ("setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s", "cold_start_s")


def _require_program() -> None:
    """Fail before doing any work when the checkout lacks the program."""
    try:
        import flash_cdc_spark.session  # noqa: F401
        import pyspark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        sys.exit(2)


def _record_untraced(workload: str, metrics: dict) -> None:
    from perfbench.harness import OUT

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"untraced-{workload}.jsonl"), "a", encoding="utf-8") as fh:
        fh.write(json.dumps({k: v for k, (v, _) in metrics.items()}) + "\n")


def _print_overhead(workload: str, traced: dict) -> None:
    """Traced end-to-end numbers against the untraced runs recorded in
    this checkout."""
    from perfbench.harness import OUT, median

    path = os.path.join(OUT, f"untraced-{workload}.jsonl")
    if not os.path.exists(path):
        print("tracing overhead: no untraced run recorded in this checkout")
        return
    with open(path, encoding="utf-8") as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    parts = []
    for name, (value, _) in traced.items():
        base = median([r[name] for r in runs if name in r])
        if base:
            parts.append(f"{name} {value:.4g} vs {base:.4g} ({(value / base - 1) * 100:+.1f}%)")
    print(f"tracing overhead vs median of {len(runs)} untraced runs: " + "; ".join(parts))


def run(args) -> int:
    _require_program()
    from perfbench.harness import (OUT, Ctx, Tracer, configure_env, emit, make_run_dir,
                                   peak_rss_mb, print_table, stop_session)

    run_dir = make_run_dir(args.workload, args.seed)
    configure_env(run_dir)
    ctx = Ctx(workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), small=args.small, broken_sink=args.broken_sink,
              run_dir=run_dir, tracer=Tracer(bool(args.trace)))
    try:
        if args.workload == "batch_suite":
            from perfbench.batch import run_batch

            e2e, check, layers = run_batch(ctx, T_PROCESS)
        else:
            from perfbench.cdc import run_cdc

            e2e, check, layers = run_cdc(ctx, T_PROCESS)
        rss = peak_rss_mb(ctx.spark)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e["setup_s"] = (ctx.setup_s, "s")
    e2e = {k: e2e[k] for k in END_TO_END}
    failed = check["missing"] + check["unexpected"] + check["duplicates"]
    correct = failed == 0 and check.get("mirror_ok", True)
    print(f"check: {json.dumps(check)}")
    print(f"failed_frac {failed / max(1, check['expected']):.6f}  "
          f"duplicate_frac {check['duplicates'] / max(1, check['expected']):.6f}")
    # peak RSS follows the JVM's garbage collections too closely to bound
    # (run-to-run spread 10-30%); it is printed, not reported
    print_table(f"end to end ({args.workload}, seed {args.seed})",
                [(k, v, u) for k, (v, u) in e2e.items()] + [("peak_rss_mb", rss, "MB")])
    if ctx.trace:
        layers["session.start_s"] = (ctx.session_s, "s")
        print_table("per layer", [(k, v, u) for k, (v, u) in sorted(layers.items())])
        _print_overhead(args.workload, e2e)
        spans = os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl")
        ctx.tracer.write(spans)
        print(f"spans: {os.path.relpath(spans, ROOT)} ({len(ctx.tracer.spans)})")
        metrics = layers
    else:
        _record_untraced(args.workload, e2e)
        metrics = e2e
    emit(correct, check["expected"], failed, metrics)
    return 0


def smoke() -> int:
    """Small runs of every workload in both modes, asserting that each
    named metric is emitted, plus a broken sink that must fail."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    names = {0: {m["name"] for m in bench["end_to_end"]}, 1: {m["name"] for m in bench["per_layer"]}}
    cases = [(w, t, False) for w in WORKLOADS for t in (0, 1)] + [("cdc", 0, True)]
    bad = 0
    for workload, trace, broken in cases:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", "1",
               "--seconds", "3", "--trace", str(trace), "--small"] + (["--broken-sink"] if broken else [])
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if result is None:
            problem = f"exit {proc.returncode}: {proc.stderr[-2000:]}"
        elif broken:
            problem = "" if result["failed"] > 0 and not result["correct"] else "broken sink passed"
        else:
            missing = names[trace] - result["metrics"].keys()
            extra = result["metrics"].keys() - names[trace]
            problem = (f"missing {sorted(missing)} extra {sorted(extra)}" if missing or extra
                       else "" if result["correct"] else "outputs incorrect")
        bad += bool(problem)
        print(f"smoke {workload} trace={trace} broken={broken}: {problem or 'ok'}", flush=True)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="smoke-test input sizes")
    ap.add_argument("--broken-sink", action="store_true",
                    help="capture endpoint silently drops every 7th delivery")
    ap.add_argument("--smoke", action="store_true", help="run the benchmark's self-test")
    args = ap.parse_args()
    if args.smoke:
        _require_program()
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
