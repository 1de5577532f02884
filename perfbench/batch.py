"""The ``batch_suite`` workload: a fixed set of registered queries over
generated tables, one query at a time (closed loop), in a seeded order.

One cold pass, two untimed warm-up passes, then warm passes for
``--seconds`` (at least three).
``spark.catalog.clearCache()`` runs between queries. A query executes
through its own ``QueryExecution`` with no sink, so a traced run can
split it into construct / plan / execute without planning twice; the
cold and warm passes execute the same way. After the timed passes every
result is collected once and checked against the query's DuckDB oracle.
The oracle answers are computed once per generated data set, oracle SQL
and DuckDB version, and cached under ``.perfbench/oracle``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

from perfbench.harness import WORK, Ctx, latency_metrics, median, timed_setup

SF = 0.01
SMOKE_SF = 0.001
MIN_WARM_PASSES = 3
# Pass time still falls by about a third over the first two passes after
# the cold one (JIT and Python-worker warm-up); they are run untimed so
# that the median comes from steady passes, whatever their number.
WARMUP_PASSES = 2

SUITE = [
    "q01_pricing_summary",
    "q13_customer_distribution",
    "q_events_sessionize",
    "q_dedup_prefix_jaccard_join",
    "q_multimodal_dhash_neardup",
    "q_changefeed_flagship",
    "q_envelope_decode_avro",
]
SPLIT = ("construct_s", "plan_s", "execute_s")
# traced-run metrics per suite query
QUERY_LAYER_NAMES = [f"queries.{q}.{part}" for q in SUITE for part in SPLIT + ("first_touch_s",)]


def _canon(cols, rows):
    from tests.oracle_harness import _canon_rows

    return _canon_rows([c.lower() for c in cols], [tuple(r) for r in rows])


def _data_key(tables_dir: str) -> str:
    import duckdb
    from flash_cdc_spark.queries import ORACLE

    h = hashlib.sha256(duckdb.__version__.encode())
    for q in SUITE:
        h.update(f"\0{q}\0{ORACLE[q]}".encode())
    for name in sorted(os.listdir(tables_dir)):
        with open(os.path.join(tables_dir, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()[:20]


def oracle_answers(tables_dir: str) -> dict:
    """Canonical DuckDB rows per suite query, cached by data content."""
    from flash_cdc_spark.queries import ORACLE
    from tests.oracle_harness import duck_connection

    path = os.path.join(WORK, "oracle", _data_key(tables_dir) + ".json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            cached = json.load(fh)
        return {q: (cols, [tuple(tuple(v) for v in row) for row in rows])
                for q, (cols, rows) in cached.items()}
    con = duck_connection(tables_dir)
    answers = {}
    for q in SUITE:
        res = con.execute(ORACLE[q])
        answers[q] = _canon([d[0] for d in res.description], res.fetchall())
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(answers, fh)
    os.replace(tmp, path)
    return answers


def matches(got, want) -> bool:
    from tests.oracle_harness import _values_match

    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if list(g_cols) != list(w_cols) or len(g_rows) != len(w_rows):
        return False
    return all(
        _values_match(a, b) for gr, wr in zip(g_rows, w_rows) for a, b in zip(gr, wr)
    )


def _run_query(ctx: Ctx, q: str, tables: str) -> tuple:
    """One execution: (construct_s, plan_s, execute_s). Planning is
    timed on its own only when tracing."""
    from flash_cdc_spark.queries import QUERIES

    tr = ctx.tracer
    t0 = time.time()
    with tr.span("construct"):
        df = QUERIES[q](ctx.spark, tables)
    t1 = time.time()
    qe = df._jdf.queryExecution()
    if ctx.trace:
        with tr.span("plan"):
            qe.executedPlan()
    t2 = time.time()
    with tr.span("execute"):
        qe.toRdd().count()
    return t1 - t0, t2 - t1, time.time() - t2


def check_query(ctx: Ctx, q: str, tables: str, want) -> bool:
    """Collect the query's result and compare it with its oracle."""
    from flash_cdc_spark.queries import QUERIES

    ctx.spark.catalog.clearCache()
    try:
        df = QUERIES[q](ctx.spark, tables)
        return matches(_canon(df.columns, df.collect()), want)
    except Exception as exc:  # a raising query counts as failed
        print(f"query {q} raised: {exc!r}"[:400])
        return False


def run_batch(ctx: Ctx, t_process: float) -> tuple[dict, dict, dict]:
    sf = SMOKE_SF if ctx.small else SF

    def make_inputs() -> str:
        from perfbench.datagen import write_tables

        out = os.path.join(ctx.run_dir, "tables")
        write_tables(out, sf)
        return out

    tables = timed_setup(ctx, make_inputs, t_process)
    oracle = oracle_answers(tables)
    rng = random.Random(ctx.seed)
    spark, tr = ctx.spark, ctx.tracer
    cold: dict[str, float] = {}
    warm: dict[str, list[tuple]] = {q: [] for q in SUITE}
    passes: list[float] = []
    raised = []

    def warm_pass(kind: str) -> None:
        t_pass = time.time()
        with tr.span("pass", kind=kind):
            for q in rng.sample(SUITE, len(SUITE)):
                if q in raised:
                    continue
                spark.catalog.clearCache()
                with tr.span(f"queries.{q}"):
                    split = _run_query(ctx, q, tables)
                if kind == "warm":
                    warm[q].append(split)
        if kind == "warm":
            passes.append(time.time() - t_pass)

    with tr.span("workload.batch_suite"):
        order = rng.sample(SUITE, len(SUITE))
        t_cold = time.time()
        with tr.span("pass", kind="cold"):
            for q in order:
                spark.catalog.clearCache()
                with tr.span(f"queries.{q}"):
                    try:
                        cold[q] = sum(_run_query(ctx, q, tables))
                    except Exception as exc:  # a raising query counts as failed
                        print(f"query {q} raised: {exc!r}"[:400])
                        raised.append(q)
        cold_pass_s = time.time() - t_cold
        for _ in range(WARMUP_PASSES):
            warm_pass("warmup")
        t_warm = time.time()
        while len(passes) < MIN_WARM_PASSES or time.time() - t_warm < ctx.seconds:
            warm_pass("warm")
    mismatched = raised + [q for q in SUITE
                           if q not in raised and not check_query(ctx, q, tables, oracle[q])]

    lat = [sum(s) * 1000.0 for q in SUITE for s in warm[q]]
    e2e = {
        **latency_metrics(lat),
        "throughput_per_s": (len(SUITE) / median(passes) if passes else 0.0, "1/s"),
        "cold_start_s": (cold_pass_s, "s"),
    }
    check = {"expected": len(SUITE), "missing": len(mismatched), "unexpected": 0,
             "duplicates": 0, "mismatched": mismatched}
    layers = {}
    if ctx.trace:
        layers = query_layer(warm, cold, passes)
        print_query_table(warm, cold)
        layers.update(feed_layers(ctx, tables))
    return e2e, check, layers


def feed_layers(ctx: Ctx, tables: str) -> dict:
    """Feed probes for the traced run: a change feed derived from the
    suite's own ``events`` table, decoded and transformed as a batch.
    The live path (``streaming.*``, the flashfeed offset calls, the
    capture endpoint and the open-loop generator) is not on this
    workload's path and reads 0."""
    from perfbench.cdc import STREAMING_LAYER_UNITS, feed_probes, synth_payloads, write_feed

    feed = os.path.join(ctx.run_dir, "suite-feed.jsonl")
    write_feed(feed, synth_payloads(ctx, tables))
    layers = {name: (0.0, unit) for name, unit in STREAMING_LAYER_UNITS.items()}
    layers["harness.generator_late_ms_max"] = (0.0, "ms")
    layers.update({k: v for k, v in feed_probes(ctx, feed).items() if not k.startswith("queries.")})
    return layers


def per_query(warm: dict, cold: dict) -> dict:
    """Each query's warm-median construct / plan / execute and its first
    touch (cold minus the warm median); a query that raised reads 0."""
    out = {}
    for q in SUITE:
        splits = warm[q]
        parts = [median([s[i] for s in splits]) if splits else 0.0 for i in range(3)]
        first = cold[q] - median([sum(s) for s in splits]) if splits else 0.0
        out[q] = dict(zip(SPLIT + ("first_touch_s",), parts + [first]))
    return out


def query_layer(warm: dict, cold: dict, passes: list[float]) -> dict:
    """Per-query splits and their suite totals, plus the share of the
    warm passes' wall time that construct + plan + execute account for."""
    split = per_query(warm, cold)
    layers = {f"queries.{q}.{part}": (v, "s") for q, parts in split.items() for part, v in parts.items()}
    for part in SPLIT + ("first_touch_s",):
        layers[f"queries.{part}"] = (sum(parts[part] for parts in split.values()), "s")
    n_split = sum(sum(s) for splits in warm.values() for s in splits)
    layers["harness.accounted_frac"] = (n_split / sum(passes) if passes else 0.0, "frac")
    return layers


def print_query_table(warm: dict, cold: dict) -> None:
    print("== per query (warm medians; first touch = cold - warm)")
    names = SPLIT + ("first_touch_s",)
    print(f"  {'query':<32}" + "".join(f" {k:>13}" for k in names))
    for q, parts in per_query(warm, cold).items():
        print(f"  {q:<32}" + "".join(f" {parts[k]:>13.4f}" for k in names))
