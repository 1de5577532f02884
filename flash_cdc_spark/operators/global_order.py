"""Exact global rank / running sum without a single-partition sort.

``Window.orderBy(...)`` with no partition spec is the classic Spark
scale killer: Catalyst plans it as ``Exchange SinglePartition`` +
``Window`` — the ENTIRE input relation sorted and windowed on ONE
task. Fine for a bounded bucket/grid relation; fatal for anything
that grows with the corpus (per-customer, per-part, per-order rows at
100 TB are billions).

This module implements the scale-safe two-phase form as a reusable
operator, the same decomposition ``q_train_sequence_packing`` pioneered
for bucketed cumsums but generalized to ANY total order and made
skew-proof by partitioning on the FULL composite sort key (ties split
across ranges by the unique tiebreak column, so a value pile-up — a
million customers with frequency=1 — cannot recreate the single hot
task):

1. **Boundary sampling (driver-side, bounded).** A seeded sample of
   the order-key columns (~200 rows per bucket, one count job + one
   sample-collect job over a column-pruned projection) is sorted on
   the driver and ``buckets - 1`` quantile boundaries are collected as
   plain Python tuples. The boundaries become LITERALS in the plan, so
   every downstream consumer computes the identical partition
   assignment by construction — the determinism that
   ``repartitionByRange`` cannot give (its sampler is re-seeded per
   physical evaluation, so two consumers of the same logical exchange
   can draw different boundaries and silently mis-rank; caught at
   sf0.1 in r7, regression-pinned below). The r7 fix materialized the
   whole ranged relation with an eager ``localCheckpoint``; this form
   replaces that corpus-scale executor-disk write (and its lineage
   truncation — a lost executor killed the query instead of
   recomputing) with a bounded driver collect, the same pattern the
   repo's trained-state memos use. The input IS persisted
   (MEMORY_AND_DISK) so the count/sample jobs and the two downstream
   branches evaluate the upstream lineage once, not four times — but
   unlike ``localCheckpoint`` the lineage is preserved: a lost block
   recomputes instead of failing the query, and nothing is force-
   written when it fits in memory.
2. A range id ``pid = #boundaries strictly before the row`` is
   attached by a bounded lexicographic-comparison expression
   (≤ buckets−1 literal tuples, full composite key incl. tiebreak,
   null-ordering-aware) — a deterministic FUNCTION of the row.
3. A within-range window ``partitionBy(pid)`` computes each row's
   running count/sum inside its range (parallel — every range is its
   own window group; the hash exchange on pid is deterministic, so
   consumer consistency no longer depends on exchange reuse at all).
4. Per-range totals (one tiny ``groupBy`` over ≤ ``buckets`` rows,
   map-side partials) are turned into prefix offsets with a triangular
   self-join on the bounded totals relation — deliberately NOT a
   window, so the final plan contains NO ``Exchange SinglePartition``
   feeding a ``Window`` anywhere (the invariant
   ``tests/test_plan_audit.py`` enforces registry-wide).
5. Offsets broadcast-join back on pid; global rank = within-rank +
   offset (and likewise for running sums).

Correctness does not depend on the boundaries being balanced — only on
every row landing in exactly one range and ranges being
order-contiguous, which the literal comparison guarantees for ANY
boundary choice; boundary placement only affects parallelism, so the
sample being approximate (or even skewed) can never change values.

Requirements on ``order``: entries must be plain column names /
``F.col(...)`` columns, optionally with ``.asc()/.desc()/
.asc_nulls_last()/...`` modifiers (what every call site uses). Keys
must be a total order (include a unique tiebreak column — required
anyway for deterministic rank/cumsum semantics) and must not contain
floating NaN (Spark orders NaN above +Inf but compares it IEEE-false;
no registered query orders by a NaN-able key).

``global_ntile`` layers exact SQL NTILE semantics on top of the rank
(first ``n mod k`` buckets get ``ceil(n/k)`` rows), so queries keep
bit-identical cross-engine semantics with a DuckDB ``ntile`` oracle
while dropping the global sort; ``multi_exact_ntile`` gets the same
values without a rank by selecting the ``k - 1`` cut keys.

Persist and memo. The module keeps no registry of its own: inputs go
into Spark's cache (``df.persist()`` unless ``df.storageLevel`` shows
the plan cached already). Spark's CacheManager shares a cached
relation between plans with the same result (a rebuild of the same
query, a renamed projection) and never between different data, and
``spark.catalog.clearCache()`` releases it. The literals the
construction jobs collect — range boundaries and NTILE cut keys — go
into ONE memo keyed on ``(plan digest, kind, order spec, buckets or
k)``; the digest (:func:`_plan_digest`) is the input's full data
identity, and an in-memory input has none, so it is never memoized.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Mapping, Sequence
from functools import cmp_to_key, reduce
from typing import Callable, NamedTuple

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "with_global_order",
    "multi_exact_ntile",
    "bounded_running_sum",
    "global_ntile",
]

_PID = "__go_pid"
_CNT = "__go_cnt"
_OFF = "__go_off"

_SAMPLE_PER_BUCKET = 200

# Construction memo: (plan digest, kind, order spec, size) -> the
# literals a construction job collected. Two kinds share it:
# ``"bounds"`` (range boundaries, sized by ``buckets``; they decide
# balance only) and ``"cuts"`` (exact NTILE cut keys, sized by ``k``;
# they decide values). Both are keyed on the same full data identity
# (:func:`_plan_digest`), so re-constructing the same query skips its
# count/sample/selection jobs and a different input never shares an
# entry.
_MEMO: dict[tuple, list[tuple]] = {}

# Plan leaves whose string form HIDES the underlying data: a
# LocalRelation / materialized-RDD scan prints only its output schema,
# so two different in-memory datasets with the same shape canonicalize
# to the SAME string. Plans with such a leaf have no digest and are
# never memoized: a second frame would get the first one's NTILE cuts.
_NON_DEDUP_NODES = ("LocalRelation", "LogicalRDD", "ExistingRDD")


def _persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK, lineage preserved) unless Spark
    already caches its plan. Spark's CacheManager deduplicates on
    ``sameResult``: a rebuild of the same query over the same files
    reuses the cached relation (under its own column names), another
    path or a different in-memory frame does not, and
    ``spark.catalog.clearCache()`` releases everything. The
    ``storageLevel`` check only avoids Spark's "already cached" warning
    on every rebuild."""
    if df.storageLevel == StorageLevel.NONE:
        df.persist()
    return df


def _data_identity(jdf) -> str:
    """Data identity of every file-backed leaf in the ANALYZED plan:
    per scan, the sorted FileIndex root paths + the relation byte size.

    Two properties the r9 ``inputFiles()`` digest lacked:

    - **Cache-substitution-proof.** ``DataFrame.inputFiles()`` reads
      the OPTIMIZED plan, where an already-persisted subplan has been
      replaced by ``InMemoryRelation`` — the file scan vanishes and the
      list comes back EMPTY, so two CACHED plans over different scale
      dirs both hashed with no files at all. The analyzed plan is
      pre-substitution, so the scan (and its location) is always
      visible.
    - **O(1) in file count.** At 100 TB ``inputFiles()`` is O(10⁵)
      paths walked per operator call on the driver (VERDICT r9 scale
      nit); root paths + total bytes is a handful of strings per scan
      with the same identity power (a dataset OVERWRITTEN in place with
      bit-identical total size could collide — but Spark's own cache
      serves stale blocks across an overwrite anyway, so the memo is
      exactly as consistent as the cache the operators persist into).
    """
    plan = jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    parts = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        ident = [rel.getClass().getSimpleName()]
        try:
            roots = rel.location().rootPaths()
            ident.extend(
                sorted(str(roots.apply(j)) for j in range(roots.size()))
            )
        except Exception:
            ident.append(str(rel))  # non-file relation (e.g. JDBC)
        try:
            ident.append(str(rel.sizeInBytes()))
        except Exception:
            pass
        parts.append(";".join(ident))
    parts.sort()
    return "\n".join(parts)


def _plan_digest(df: DataFrame) -> str | None:
    """md5 of the CANONICALIZED analyzed plan string, the data identity
    of its file-backed leaves and the output schema — the one data
    identity the construction memo is keyed on.

    - The canonical string alone is NOT a data identity: a
      ``LogicalRelation`` prints ``Relation[cols] parquet`` with NO
      path, so the same query shape over two scale factors collides
      (caught in r9 by the sf0.1 parity tier). :func:`_data_identity`
      restores it for every file-backed leaf.
    - Canonicalization erases alias names, so two projections that
      differ only in column NAMING collide; the schema tells them
      apart (ADVICE r9).
    - In-memory leaves (``_NON_DEDUP_NODES``) print no data at all:
      such a plan returns None, and None means "do not memoize" — the
      same as when the canonical form is unavailable (e.g. Spark
      Connect)."""
    try:
        canon = (
            df._jdf.queryExecution().analyzed().canonicalized().toString()
        )
        if any(tok in canon for tok in _NON_DEDUP_NODES):
            return None
        h = hashlib.md5(canon.encode())
        h.update(b"\x00")
        h.update(_data_identity(df._jdf).encode())
        h.update(b"\x00")
        h.update(str(df.schema).encode())
    except Exception:
        return None
    return h.hexdigest()


def _memoized(
    digest: str | None,
    kind: str,
    specs: Sequence[tuple],
    build: Callable[[list[int]], list[list[tuple]]],
) -> list[list[tuple]]:
    """One memo entry per spec under ``(digest, kind, *spec)``: the
    hits come from :data:`_MEMO`, ``build(missing indices)`` computes
    every miss in one pass, and the misses are stored unless the
    digest is None."""
    keys = [None if digest is None else (digest, kind, *s) for s in specs]
    out = [None if k is None else _MEMO.get(k) for k in keys]
    missing = [i for i, v in enumerate(out) if v is None]
    if missing:
        for i, v in zip(missing, build(missing)):
            out[i] = v
            if keys[i] is not None:
                _MEMO[keys[i]] = v
    return out


_SORT_SUFFIX = re.compile(r"^(?P<body>.*) (?P<dir>ASC|DESC) NULLS (?P<nulls>FIRST|LAST)$")
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _parse_order(entry: Column | str) -> tuple[Column, bool, bool, str | None]:
    """Normalize one ``order`` entry → (bare key column, descending,
    nulls_first, name-or-None). Sort direction is recovered from the
    Column repr (Spark 4 removed ``Column.expr()``); entries carrying a
    sort modifier must therefore be plain named columns so the bare
    column can be reconstructed — computed expressions are accepted
    only unmodified (ascending). Pre-project an aliased column to order
    descending by an expression. The returned name (when the entry IS a
    plain named column) feeds the single-``F.expr`` SQL fast path — see
    :func:`_pid_expr`."""
    if isinstance(entry, str):
        return F.col(entry), False, True, entry
    s = str(entry)
    body = s[len("Column<'"):-2] if s.startswith("Column<'") and s.endswith("'>") else s
    m = _SORT_SUFFIX.match(body)
    if m is None:
        # plain column / expression, Spark default: ascending nulls first
        name = body[1:-1] if body.startswith("`") and body.endswith("`") else body
        return entry, False, True, name if _IDENT.match(name) else None
    name = m.group("body")
    if name.startswith("`") and name.endswith("`"):
        name = name[1:-1]
    elif not _IDENT.match(name):
        raise ValueError(
            "with_global_order: order entries with .asc()/.desc() "
            f"modifiers must be plain named columns, got {body!r}; "
            "pre-project the expression under an alias first"
        )
    return F.col(name), m.group("dir") == "DESC", m.group("nulls") == "FIRST", name


class _Order(NamedTuple):
    """One parsed total order: the entries as given (for
    ``Window.orderBy``), their bare key columns, (descending,
    nulls_first) metas, plain names (None for expressions), and the
    entries' string forms (the order spec in memo keys)."""

    cols: tuple
    keys: list[Column]
    metas: list[tuple[bool, bool]]
    names: list[str | None]
    spec: tuple[str, ...]


def _parse(order: Sequence[Column | str]) -> _Order:
    parsed = [_parse_order(c) for c in order]
    return _Order(
        tuple(order),
        [p[0] for p in parsed],
        [(p[1], p[2]) for p in parsed],
        [p[3] for p in parsed],
        tuple(str(c) for c in order),
    )


def _cmp_factory(metas: Sequence[tuple[bool, bool]]):
    """Driver-side comparator over key tuples matching Spark's sort
    semantics per column (direction + null ordering)."""

    def cmp(a, b) -> int:
        for (va, vb), (desc, nulls_first) in zip(zip(a, b), metas):
            if va is None or vb is None:
                if va is None and vb is None:
                    continue
                if va is None:
                    r = -1 if nulls_first else 1
                else:
                    r = 1 if nulls_first else -1
            elif va == vb:
                continue
            else:
                r = -1 if va < vb else 1
                if desc:
                    r = -r
            return r
        return 0

    return cmp


def _sample_rows(df: DataFrame, buckets: int) -> list[tuple]:
    """One count job + one bounded sample-collect over a pre-projected
    key relation: returns ~``buckets * 200`` rows regardless of input
    size, or [] for inputs too small to need boundaries."""
    n = df.count()
    if n <= 1 or buckets <= 1:
        return []
    target = buckets * _SAMPLE_PER_BUCKET
    if n <= target:
        return [tuple(r) for r in df.collect()]
    frac = min(1.0, target / n)
    rows = [tuple(r) for r in df.sample(False, frac, seed=42).collect()]
    if not rows:  # sampling jitter on small n
        rows = [tuple(r) for r in df.limit(target).collect()]
    return rows


def _boundaries_from_sample(
    rows: list[tuple],
    metas: Sequence[tuple[bool, bool]],
    buckets: int,
) -> list[tuple]:
    """Sort sampled key tuples on the driver and return up to
    ``buckets - 1`` deduplicated quantile boundary tuples."""
    rows = [
        r
        for r in rows
        if not any(isinstance(v, float) and v != v for v in r)
    ]
    if not rows:
        return []
    cmp = _cmp_factory(metas)
    rows = sorted(rows, key=cmp_to_key(cmp))
    step = len(rows) / buckets
    bounds: list[tuple] = []
    for i in range(1, buckets):
        cand = rows[min(len(rows) - 1, int(i * step))]
        if not bounds or cmp(cand, bounds[-1]) != 0:
            bounds.append(cand)
    return bounds


def _range_boundaries(
    src: DataFrame,
    digest: str | None,
    orders: Sequence[_Order],
    buckets: int,
) -> list[list[tuple]]:
    """Range boundaries per order: memo hits first, then ONE count job
    and ONE sample-collect over the union of every missed order's key
    columns, each order's boundaries derived from that one sample
    driver-side. Sharing the sample (and reusing a memoized one) is
    correctness-free: boundary placement affects balance only, never
    values."""

    def sample(missing: list[int]) -> list[list[tuple]]:
        keys = [k for i in missing for k in orders[i].keys]
        rows = _sample_rows(
            src.select(*[k.alias(f"__go_k{j}") for j, k in enumerate(keys)]),
            buckets,
        )
        out, start = [], 0
        for i in missing:
            nk = len(orders[i].keys)
            out.append(
                _boundaries_from_sample(
                    [r[start : start + nk] for r in rows], orders[i].metas, buckets
                )
            )
            start += nk
        return out

    return _memoized(
        digest, "bounds", [(o.spec, buckets) for o in orders], sample
    )


def _sql_lit(v) -> str | None:
    """Render a collected boundary value as an EXACT Spark SQL literal,
    or None when no exact rendering is known (the caller then falls
    back to the Column-based path). Exactness notes: float goes through
    ``repr`` (shortest round-trip decimal — Java's ``parseDouble`` is
    correctly rounded, so the same bits come back); int gets the ``L``
    suffix (BIGINT, widened against int columns); Decimal the ``BD``
    suffix; dates an ANSI ``DATE`` literal. Timestamps deliberately
    return None — TIMESTAMP'...' binds the session zone (LTZ) and the
    column may be NTZ; the slow path's ``F.lit`` preserves the Python
    type exactly."""
    import datetime
    import decimal

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"{v}L" if -(2**63) <= v < 2**63 else None
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return None
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, decimal.Decimal):
        return f"{v}BD"
    if isinstance(v, datetime.datetime):  # before date — datetime IS a date
        return None
    if isinstance(v, datetime.date):
        return f"DATE'{v.isoformat()}'"
    if isinstance(v, str):
        if re.search(r"[\x00-\x1f\\]", v):
            return None  # control chars / backslashes — let F.lit handle
        return "'" + v.replace("'", "''") + "'"
    return None


def _pid_sql(
    names: Sequence[str],
    metas: Sequence[tuple[bool, bool]],
    boundaries: Sequence[tuple],
) -> str | None:
    """The :func:`_pid_expr` predicate as ONE SQL string, or None when
    a boundary value has no exact literal rendering. Rationale: Column
    construction is one py4j round trip PER OPERATOR — measured ~2-4 ms
    each on this container's loopback — so the fold's ~20 ops × 31
    boundaries cost ~1-2 s of pure driver time per operator call (the
    r9 bench's 'near-uniform inflation' of global-order consumers).
    Building the identical expression as a string and parsing it with a
    single ``F.expr`` call is plan-identical and ~100× cheaper to
    construct."""
    quoted = ["`" + n.replace("`", "``") + "`" for n in names]

    def after(bound: tuple) -> str | None:
        acc = "FALSE"
        for k, (desc, nulls_first), bv in reversed(
            list(zip(quoted, metas, bound))
        ):
            if bv is None:
                eq = f"({k} IS NULL)"
                gt = f"({k} IS NOT NULL)" if nulls_first else "FALSE"
            else:
                lit = _sql_lit(bv)
                if lit is None:
                    return None
                eq = f"({k} <=> {lit})"
                cmp_sql = f"({k} {'<' if desc else '>'} {lit})"
                if nulls_first:
                    gt = f"coalesce({cmp_sql}, FALSE)"
                else:  # null key sorts after every non-null boundary
                    gt = f"(({k} IS NULL) OR coalesce({cmp_sql}, FALSE))"
            acc = f"({gt} OR ({eq} AND {acc}))"
        return acc

    terms = []
    for b in boundaries:
        t = after(b)
        if t is None:
            return None
        terms.append(f"CAST({t} AS INT)")
    return " + ".join(terms)


def _pid_expr(o: _Order, boundaries: Sequence[tuple]) -> Column:
    """pid = number of boundary tuples strictly BEFORE the row under
    the composite order — a bounded literal-comparison expression
    (≤ buckets−1 terms), monotone in the order by construction. When
    every key is a plain named column and every boundary value has an
    exact SQL literal form, the expression is built as one string and
    parsed in a single ``F.expr`` call (see :func:`_pid_sql`); the
    Column-based fold below is the fallback and the semantic
    reference — both construct the identical predicate."""
    if not boundaries:
        return F.lit(0)
    if all(n is not None for n in o.names):
        sql = _pid_sql(o.names, o.metas, boundaries)  # type: ignore[arg-type]
        if sql is not None:
            return F.expr(sql)

    def after(bound: tuple) -> Column:
        # lexicographic "row strictly after bound", folded right-to-left
        acc = F.lit(False)
        for key, (desc, nulls_first), bv in reversed(
            list(zip(o.keys, o.metas, bound))
        ):
            if bv is None:
                eq = key.isNull()
                gt = key.isNotNull() if nulls_first else F.lit(False)
            else:
                lit = F.lit(bv)
                eq = key.eqNullSafe(lit)
                cmp_col = (key < lit) if desc else (key > lit)
                if nulls_first:
                    gt = F.coalesce(cmp_col, F.lit(False))
                else:  # null key sorts after every non-null boundary
                    gt = key.isNull() | F.coalesce(cmp_col, F.lit(False))
            acc = gt | (eq & acc)
        return acc

    return reduce(
        lambda a, b: a + b,
        [after(b).cast("int") for b in boundaries],
    )


def with_global_order(
    df: DataFrame,
    order: Sequence[Column | str],
    *,
    rank_col: str | None = None,
    sums: Mapping[str, Column] | None = None,
    buckets: int = 32,
) -> DataFrame:
    """Attach exact 1-based global rank (``rank_col``) and/or exact
    global running sums (``sums``: out-name → value expression, summed
    in ``order`` with ROWS UNBOUNDED PRECEDING..CURRENT ROW frame) to
    ``df`` under the total order ``order``, with no single-partition
    window. ``order`` must be a total order (include a unique tiebreak
    column) — required anyway for deterministic rank/cumsum semantics.

    ``buckets`` bounds the offsets relation (and the parallelism of the
    within-range phase); at cluster scale raise it toward the shuffle
    partition count.

    Construction runs two bounded-output jobs (a count and a
    ~``buckets*200``-row sample collect) to freeze the range boundaries
    as literals — see the module docstring for why that, not
    ``repartitionByRange``/``localCheckpoint``, is the deterministic
    and fault-tolerant form. The input is persisted in Spark's cache
    (MEMORY_AND_DISK, lineage preserved; a rebuild of the same query
    reuses the cached relation) so its upstream plan evaluates once
    across the boundary jobs and both downstream branches. Re-
    constructing the same query skips both jobs: boundaries are
    memoized on the input's data identity (:func:`_plan_digest`; an
    in-memory input is never memoized).
    """
    if rank_col is None and not sums:
        raise ValueError("request at least one of rank_col / sums")
    o = _parse(order)
    src = _persist(df)
    (boundaries,) = _range_boundaries(src, _plan_digest(df), [o], buckets)
    return _two_phase(src, o, boundaries, rank_col, dict(sums or {}))


def _two_phase(
    src: DataFrame,
    o: _Order,
    boundaries: Sequence[tuple],
    rank_col: str | None,
    sums: Mapping[str, Column],
) -> DataFrame:
    """Phases 1+2 of the exact global order given frozen literal
    boundaries: within-range window + triangular offsets + broadcast
    join-back (see :func:`with_global_order`)."""
    assigned = src.withColumn(_PID, _pid_expr(o, boundaries))

    # Phase 1: within-range running aggregates (parallel window; the
    # hash exchange on the range id keeps each range one group, and is
    # deterministic — pid is a literal function of the row, so both
    # consumers agree whether or not Catalyst reuses the exchange).
    w = (
        Window.partitionBy(_PID)
        .orderBy(*o.cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = assigned
    if rank_col is not None:
        within = within.withColumn(rank_col, F.count(F.lit(1)).over(w))
    for out, expr in sums.items():
        within = within.withColumn(out, F.sum(expr).over(w))

    # Phase 2: per-range totals (≤ buckets rows) → prefix offsets via a
    # triangular self-join on the bounded relation — no window, so no
    # SinglePartition exchange feeds one.
    aggs = [F.count(F.lit(1)).alias(_CNT)] + [
        F.sum(expr).alias(f"__go_s_{out}") for out, expr in sums.items()
    ]
    totals = assigned.groupBy(_PID).agg(*aggs)
    a, b = totals.alias("__go_a"), totals.alias("__go_b")
    off_aggs = []
    if rank_col is not None:
        off_aggs.append(
            F.coalesce(F.sum(f"__go_b.{_CNT}"), F.lit(0)).alias(_OFF)
        )
    for out in sums:
        off_aggs.append(
            F.coalesce(F.sum(f"__go_b.__go_s_{out}"), F.lit(0)).alias(
                f"{_OFF}_{out}"
            )
        )
    offsets = (
        a.join(b, F.col(f"__go_b.{_PID}") < F.col(f"__go_a.{_PID}"), "left")
        .groupBy(F.col(f"__go_a.{_PID}").alias(_PID))
        .agg(*off_aggs)
    )

    out_df = within.join(F.broadcast(offsets), _PID)
    if rank_col is not None:
        out_df = out_df.withColumn(
            rank_col, (F.col(rank_col) + F.col(_OFF)).cast("bigint")
        )
    for out in sums:
        out_df = out_df.withColumn(out, F.col(out) + F.col(f"{_OFF}_{out}"))
    drop = [_PID] + ([_OFF] if rank_col is not None else []) + [
        f"{_OFF}_{out}" for out in sums
    ]
    return out_df.drop(*drop)


def _ntile_cut_ranks(n: int, k: int) -> list[int]:
    """SQL ``NTILE(k)`` boundary ranks ``b_1..b_{k-1}`` (``b_i`` = rows
    in buckets 1..i): first ``n mod k`` buckets hold ``n div k + 1``
    rows, the rest ``n div k`` — bucket of rank ``r`` is
    ``1 + #{i : r > b_i}``."""
    q, rem = divmod(n, k)
    ranks, acc = [], 0
    for i in range(1, k):
        acc += q + 1 if i <= rem else q
        ranks.append(acc)
    return ranks


def multi_exact_ntile(
    df: DataFrame,
    axes: Mapping[str, tuple[Sequence[Column | str], int]],
    *,
    buckets: int = 32,
) -> DataFrame:
    """Attach one exact SQL ``NTILE(k)`` bucket column per axis
    (``axes``: out-column → (total order, k)) with ZERO windows and
    ZERO joins in the output plan.

    The insight: an exact NTILE needs only the ``k-1`` exact CUT KEYS
    per axis — the composite order key of the row at each bucket
    boundary rank — because under a total order, ``rank > b_i`` ⟺
    ``key > key_at(b_i)``. The cuts are found once at construction
    time (selection over the persisted input: per-range counts map
    each boundary rank to (range, local rank); one within-range
    row_number job extracts the ≤ ``k-1`` keys; the axes missing from
    the memo share one sample pass for their range boundaries). Cuts
    decide values, so they are memoized only on the input's full data
    identity (:func:`_plan_digest`: plan, file leaves and schema; an
    in-memory input is never memoized). The output column is then a bounded
    literal-comparison expression ``1 + #{cuts strictly before row}``
    — the same single-``F.expr`` fold the range assignment uses. The
    final plan is ONE scan with per-row arithmetic: no rank windows,
    no ntile join-backs, nothing for AQE to schedule.

    vs :func:`with_global_order` + :func:`global_ntile` (the r7-r9 rfm
    form): that pipeline materializes a full global RANK (3 shuffle
    stages + a broadcast join per axis) only to coarsen it to k
    buckets. When only the bucket is needed, selecting the k-1 cuts is
    strictly less work at every scale — at 100 TB the selection jobs
    touch the persisted input twice (tiny agg + one filtered
    within-range window over ``targets/buckets`` of the data), and the
    query-time cost is pure codegen arithmetic.

    Values are bit-identical to ``ntile(k) OVER (ORDER BY ...)`` by
    construction (exact boundary ranks, exact key comparison under the
    same total order; ``order`` must include a unique tiebreak, as
    everywhere in this module).
    """
    if not axes:
        raise ValueError("multi_exact_ntile: need at least one axis")
    clash = [c for c in axes if c in df.columns]
    if clash:
        raise ValueError(f"output columns already exist on df: {clash}")
    outs = list(axes)
    orders = [_parse(axes[out][0]) for out in outs]
    ks = [axes[out][1] for out in outs]
    src = _persist(df)
    digest = _plan_digest(df)

    def select(missing: list[int]) -> list[list[tuple]]:
        n = src.count()
        bounds = _range_boundaries(
            src, digest, [orders[i] for i in missing], buckets
        )
        return [
            _select_cut_keys(src, orders[i], b, n, ks[i])
            for i, b in zip(missing, bounds)
        ]

    cuts = _memoized(
        digest, "cuts", [(o.spec, k) for o, k in zip(orders, ks)], select
    )
    out_df = src
    for out, o, c in zip(outs, orders, cuts):
        out_df = out_df.withColumn(
            out, (_pid_expr(o, c) + F.lit(1)).cast("int")
        )
    return out_df


def _select_cut_keys(
    src: DataFrame,
    o: _Order,
    bounds: list[tuple],
    n: int,
    k: int,
) -> list[tuple]:
    """Exact distributed selection: the composite order key at each
    NTILE boundary rank. Per-range counts (one bounded agg) map each
    boundary rank to (range id, local rank); one filtered within-range
    ``row_number`` job extracts the ≤ k-1 keys. Returns cut key tuples
    aligned with :func:`_ntile_cut_ranks` (duplicates preserved — an
    empty bucket repeats its cut, which the strictly-after count then
    skips, exactly as NTILE does)."""
    ranks = _ntile_cut_ranks(n, k)
    if not ranks or n == 0:
        return []
    assigned = src.withColumn(_PID, _pid_expr(o, bounds))
    counts = sorted(
        (r[0], r[1])
        for r in assigned.groupBy(_PID).agg(F.count(F.lit(1)).alias("c")).collect()
    )
    prefix: list[tuple[int, int, int]] = []  # (pid, lo_exclusive, hi)
    acc = 0
    for pid, c in counts:
        prefix.append((pid, acc, acc + c))
        acc += c
    targets: dict[int, tuple[int, int]] = {}  # rank -> (pid, local)
    for r in set(ranks):
        for pid, lo, hi in prefix:
            if lo < r <= hi:
                targets[r] = (pid, r - lo)
                break
    pids = sorted({p for p, _ in targets.values()})
    w = Window.partitionBy(_PID).orderBy(*o.cols)
    cond = " OR ".join(
        f"({_PID} = {p} AND __go_rk = {lk})" for p, lk in targets.values()
    )
    sel = (
        assigned.filter(F.col(_PID).isin(pids))
        .withColumn("__go_rk", F.row_number().over(w))
        .filter(F.expr(cond))
        .select(
            F.col(_PID),
            "__go_rk",
            *[key.alias(f"__go_k{i}") for i, key in enumerate(o.keys)],
        )
    )
    by_target = {
        (row[0], row[1]): tuple(row[2:]) for row in sel.collect()
    }
    return [by_target[targets[r]] for r in ranks]


def _lex_before(
    b_keys: Sequence[Column],
    a_keys: Sequence[Column],
    metas: Sequence[tuple[bool, bool]],
) -> Column:
    """Column predicate: composite key ``b`` sorts STRICTLY BEFORE key
    ``a`` under the per-column (descending, nulls_first) order metas —
    the same lexicographic fold :func:`_pid_expr` uses against literal
    boundaries, generalized to column-vs-column comparison."""
    acc = F.lit(False)
    for kb, ka, (desc, nulls_first) in reversed(
        list(zip(b_keys, a_keys, metas))
    ):
        eq = kb.eqNullSafe(ka)
        cmp_col = (kb > ka) if desc else (kb < ka)
        if nulls_first:
            lt = (kb.isNull() & ka.isNotNull()) | F.coalesce(
                cmp_col, F.lit(False)
            )
        else:
            lt = (ka.isNull() & kb.isNotNull()) | F.coalesce(
                cmp_col, F.lit(False)
            )
        acc = lt | (eq & acc)
    return acc


def bounded_running_sum(
    df: DataFrame,
    order: Sequence[Column | str],
    *,
    rank_col: str | None = None,
    sums: Mapping[str, Column] | None = None,
    validate: bool = False,
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact global running sums / rank over a relation that is BOUNDED
    BY CONSTRUCTION — the cheap sibling of :func:`with_global_order`
    for grid/bucket relations whose row count is bounded by a DOMAIN
    (distinct hours, score bins, per-source rows), never by corpus
    rows. Semantics are identical (``ROWS UNBOUNDED PRECEDING ..
    CURRENT ROW`` under the total order ``order``); the implementation
    is one broadcast triangular join — the device phase 2 of
    ``with_global_order`` already uses for its offsets relation —
    instead of the full two-phase decomposition. No boundary jobs, no
    memo, no window anywhere in the plan (the registry-wide
    single-partition-window ban holds trivially), and no fixed
    construction cost: at toy scale this is ~10× cheaper per call than
    the two-phase form, and at cluster scale the O(g²) comparison work
    stays negligible because g is domain-bounded.

    Contract (caller-verified by default; pass ``validate=True`` to
    enforce both clauses at runtime — one cheap job on the persisted
    grid that raises on a corpus-sized or duplicate-key input instead
    of degrading silently):

    - ``df`` must be domain-bounded — a few thousand rows at ANY corpus
      scale. The join emits g·(g+1)/2 rows; at g = 10⁴ that is 5·10⁷
      cheap comparisons spread across the cluster, at corpus-growing g
      it would be quadratic — use :func:`with_global_order` instead.
    - ``order`` must be a TOTAL order on ``df`` (unique composite key):
      required for the join-back, and required anyway for deterministic
      cumsum semantics. Same entry forms as ``with_global_order``
      (named columns, optional ``.asc()/.desc()`` modifiers, no NaN).
    - ``sums`` values follow the determinism conventions: DECIMAL or
      integer terms stay exact under the different fold order; raw
      double terms would not (nothing registry-side passes doubles).

    Output column types match the window form Spark would produce
    (``sum`` over DECIMAL/long aggregates identically), so swapping a
    ``with_global_order`` call for this one on a bounded input is
    value-bit-identical — pinned by the equivalence property test.
    """
    if rank_col is None and not sums:
        raise ValueError("request at least one of rank_col / sums")
    sums = dict(sums or {})
    clash = [c for c in list(sums) + ([rank_col] if rank_col else [])
             if c in df.columns]
    if clash:
        raise ValueError(f"output columns already exist on df: {clash}")

    parsed = [_parse_order(c) for c in order]
    keys = [p[0] for p in parsed]
    metas = [(p[1], p[2]) for p in parsed]
    nk = len(keys)

    # The plan references df three times (both triangular sides + the
    # join-back); persisting the BOUNDED grid in Spark's cache
    # (MEMORY_AND_DISK, lineage preserved — same policy as
    # with_global_order's input) makes the corpus-sized upstream
    # evaluate once, not per reference.
    df = _persist(df)
    vals = df.select(
        *[k.alias(f"__brs_k{i}") for i, k in enumerate(keys)],
        *[expr.alias(f"__brs_v_{out}") for out, expr in sums.items()],
    )

    # Optional contract guard (ADVICE r8): the boundedness and total-
    # order contracts are otherwise caller-verified, and a violation
    # degrades SILENTLY — a corpus-sized grid becomes a quadratic
    # broadcast join (driver OOM), duplicate keys turn the ROWS frame
    # into tie-inclusive RANGE-like sums. Debug mode fails loudly
    # instead; both checks are one cheap job on the persisted grid.
    if validate:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"bounded_running_sum grid has {n} rows (> max_rows="
                f"{max_rows}): the input is not domain-bounded — use "
                "with_global_order for corpus-growing relations"
            )
        n_keys = vals.select(
            *[f"__brs_k{i}" for i in range(nk)]
        ).distinct().count()
        if n_keys != n:
            raise ValueError(
                f"bounded_running_sum order keys are not unique "
                f"({n_keys} distinct of {n} rows): 'order' must be a "
                "TOTAL order, or running sums would double-count ties"
            )
    a, b = vals.alias("__brs_a"), vals.alias("__brs_b")
    ak = [F.col(f"__brs_a.__brs_k{i}") for i in range(nk)]
    bk = [F.col(f"__brs_b.__brs_k{i}") for i in range(nk)]
    all_eq = reduce(
        lambda x, y: x & y, [p.eqNullSafe(q) for p, q in zip(bk, ak)]
    )
    cond = _lex_before(bk, ak, metas) | all_eq

    aggs = []
    if rank_col is not None:
        aggs.append(F.count(F.lit(1)).cast("bigint").alias(rank_col))
    for out in sums:
        aggs.append(F.sum(F.col(f"__brs_b.__brs_v_{out}")).alias(out))
    rel = (
        a.join(F.broadcast(b), cond)
        .groupBy(*[c.alias(f"__brs_a{i}") for i, c in enumerate(ak)])
        .agg(*aggs)
    )

    back = reduce(
        lambda x, y: x & y,
        [k.eqNullSafe(F.col(f"__brs_a{i}")) for i, k in enumerate(keys)],
    )
    return df.join(F.broadcast(rel), back, "inner").drop(
        *[f"__brs_a{i}" for i in range(nk)]
    )


def global_ntile(rank: Column, n_total: Column, k: int) -> Column:
    """Exact SQL ``NTILE(k)`` bucket from a 1-based global rank and the
    total row count: the first ``n mod k`` buckets hold ``n div k + 1``
    rows, the rest ``n div k`` (degenerates to bucket = rank when
    ``n < k``, exactly as NTILE does). Pair with
    :func:`with_global_order` to get NTILE semantics — bit-identical to
    a ``ntile(k) OVER (ORDER BY ...)`` oracle — without its
    single-partition sort."""
    q = F.floor(n_total / k)
    rem = n_total % k
    boundary = rem * (q + 1)
    return (
        F.when(rank <= boundary, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(rem + F.floor((rank - boundary - 1) / q) + 1)
        .cast("int")
    )
