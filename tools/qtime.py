"""Time individual queries in isolation (bench methodology: warmup +
N timed noop-sink executions, median + trimmed spread), with the bench's
calibration sentinel sampled before and after so ambient load is visible.

Usage:
    python tools/qtime.py [-n ITERS] <query> [query ...]

Also reports construction time (building the DataFrame, driver-side)
separately from execution so plan-construction overhead is visible.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flash_cdc_spark.queries import QUERIES  # noqa: E402
from flash_cdc_spark.session import get_spark  # noqa: E402
from flash_cdc_spark.tables import default_sf_dir  # noqa: E402


def _calibrate(spark) -> float:
    start = time.perf_counter()
    spark.range(200_000_000).selectExpr("count(if(id % 7 = 0, 1, NULL))").collect()
    return time.perf_counter() - start


def main() -> None:
    argv = sys.argv[1:]
    iters = 5
    if argv and argv[0] == "-n":
        iters = int(argv[1])
        argv = argv[2:]
    names = argv
    sf_dir = default_sf_dir()
    spark = get_spark(app_name="qtime")
    spark.range(1000).selectExpr("sum(id)").collect()
    _calibrate(spark)

    quiet = float(os.environ.get("SPARK_GRAFT_QTIME_QUIET", "0"))
    for name in names:
        fn = QUERIES[name]
        pre = _calibrate(spark)
        # optional quiet gate (r11): with SPARK_GRAFT_QTIME_QUIET=<sec>
        # wait until the sentinel reads under the limit (<=20 tries)
        # before measuring — same idea as bench.py's gate, for
        # trustworthy single-query A/Bs on a bursty host
        tries = 0
        while quiet and pre > quiet and tries < 20:
            time.sleep(10)
            pre = _calibrate(spark)
            tries += 1

        def run() -> tuple[float, float]:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            return t1 - t0, t2 - t0

        run()  # warmup
        built, total = zip(*(run() for _ in range(iters)))
        post = _calibrate(spark)
        samples = sorted(total)
        med = statistics.median(samples)
        trimmed = samples[1:-1] if len(samples) >= 4 else samples
        spread = 100.0 * (trimmed[-1] - trimmed[0]) / med
        print(
            f"{name}: median={med:.3f}s build={statistics.median(built):.3f}s "
            f"spread={spread:.1f}% samples={[round(s, 3) for s in samples]} "
            f"calib={pre:.2f}/{post:.2f}",
            flush=True,
        )
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
