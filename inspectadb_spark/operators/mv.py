"""Summary tables: one definition, declared grains, and aggregate routing.

The continuous-aggregate story has two halves. The *maintenance* half —
keeping a pre-aggregated table up to date as the base table changes — is
``MVDef.store`` (batch refresh), ``streaming/incremental.py``
(exactly-once additive merge from a stream) and ``operators/cdc.py``
(batch merge). This module is the *routing* half: given an aggregate
request, answer it from a compatible summary table instead of re-scanning
the fact table. Both halves speak one measure vocabulary, ``KINDS``: each
kind's partial aggregate over base rows and its merge over partials.

A summary (``MVDef``) stores its measures at one or more declared grains.
Several grains keep ``grouping_id`` as the grain discriminator, so a real
NULL key value can never be confused with an aggregated-away key.

Rewrite algebra (the classic summary-table containment rules), per grain:

- the request's group keys must each be a grain column, or an expression
  over grain columns (e.g. ``month`` derived from a daily key) — coarser
  rollups of the stored grain;
- ``SUM(x)``   -> ``SUM(mv.sum_x)``     (sums are re-additive)
- ``COUNT(*)`` -> ``SUM(mv.cnt)``; ``COUNT(x)`` -> ``SUM(mv.cnt_x)``
  (a stored ``count`` over a column counts NON-NULLs, SQL semantics)
- ``MIN(x)``   -> ``MIN(mv.min_x)``, ``MAX(x)`` -> ``MAX(mv.max_x)``
- ``AVG(x)``   -> ``SUM(mv.sum_x) / SUM(mv.cnt_x)`` — never avg-of-avgs,
  and never divided by the ROW count: AVG ignores NULLs, so deriving it
  requires the stored non-null count of the SAME column (an MV without
  ``(count, x)`` simply refuses to route AVG(x))

A request whose keys are exactly a declared grain (plain columns, no
distinct count) needs no re-aggregation at all: grain rows are unique per
key, so it is served as a filter plus a projection of the stored columns.

Non-decomposable aggregates (exact percentiles, DISTINCT over arbitrary
expressions) are deliberately NOT routable — ``route`` falls back to the
base table, which is the correct answer, not an approximation. The ONE
exception is ``COUNT(DISTINCT k)`` where ``k`` is a column of the serving
grain: the grain rows enumerate every distinct key combination of the
base, so re-counting distinct ``k`` over them is structurally exact
(no stored measure involved). (Mergeable sketches for arbitrary distinct
counts are the separate ``operators/sketches.py`` surface.)

100 TB design: the whole point of the rewrite is scan mass — a daily×dim
summary of a 100 TB fact table is ~|distinct key| rows (MBs-GBs). Routed
queries scan the summary parquet only (plan-pinned in tests/test_mv.py) and
re-aggregate with one small shuffle; the fact table is never touched.

SUM determinism: measures are accumulated as DECIMAL(18,6) inside the MV
(exact, associative — the same ``dsum`` convention as every money aggregate
in queries/registry.py), so MV-routed sums are bit-identical to base-table
sums regardless of partial-aggregation order.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inspectadb_spark.versioned import commit_versioned, read_current

_DEC = "decimal(18,6)"

# kind -> (partial agg sql over source expr, merge agg sql over partial col):
# the one measure vocabulary of summaries and IncrementalAggregate
KINDS = {
    "count": ("COUNT({src})", "SUM({c})"),
    "sum": ("SUM(CAST({src} AS DECIMAL(18,6)))", "SUM({c})"),
    # 12dp exact sum: for products of two 6dp-quantized quantities (e.g.
    # the p² / p·y calibration moments of q324 / S46), whose exact value
    # carries 12 decimal places — the 6dp "sum" kind would silently
    # round each term. DECIMAL(38,12) leaves 26 integer digits, so the
    # additive merge cannot overflow at any realistic state size.
    "sum12": ("SUM(CAST({src} AS DECIMAL(38,12)))", "SUM({c})"),
    "min": ("MIN({src})", "MIN({c})"),
    "max": ("MAX({src})", "MAX({c})"),
    # distinct-set union: partial = this batch's distinct values, merge =
    # dedup'd union of stored set and batch set. Mergeable like a sketch
    # but exact; state per group is the distinct-value set, so use it for
    # bounded-cardinality domains (the incremental inverted-index /
    # audience-membership pattern). Stored sorted so state bytes are
    # canonical across merge orders.
    "set": (
        "array_sort(collect_set({src}))",
        "array_sort(array_distinct(flatten(collect_list({c}))))",
    ),
}
# served output types; every other kind keeps its stored type
_OUT = {"count": "bigint", "sum": "double"}


# -- crash-safe MV storage ---------------------------------------------------
# MV refreshes commit through ``versioned.commit_versioned`` like every other
# whole-state rewrite: a crash mid-refresh leaves the previous committed
# version intact and addressed, the exact crash window an in-place
# overwrite left open (ADVICE r04 item 1).

def resolve_mv_path(path: str) -> str | None:
    """The directory a reader should scan for this MV, or None when no
    refresh has ever committed (route() then falls back to base — a
    partially written summary is never silently aggregated)."""
    _, d, _ = read_current(path)
    return d if d is not None and os.path.exists(d) else None


@dataclass(frozen=True)
class MVDef:
    """A summary-table definition over a base table.

    measures: out_col -> (kind, base_expr) with kind in ``KINDS``.
    ``(count, "*")`` counts rows; ``(count, col)`` counts non-NULLs of the
    column (SQL COUNT semantics — the distinction is what makes routed
    AVG correct under NULLs).

    sets: the declared grains, each a subset of ``keys``; None means the
    one grain ``keys``. Several grains are one ``groupingSets`` pass,
    stored partitioned by ``grouping_id`` so a grain read prunes to its
    own files.
    """

    name: str
    keys: tuple[str, ...]
    measures: dict[str, tuple[str, str]] = field(hash=False)
    sets: tuple[tuple[str, ...], ...] | None = None

    @property
    def grains(self) -> tuple[tuple[str, ...], ...]:
        return (self.keys,) if self.sets is None else self.sets

    def mask(self, grain: tuple[str, ...]) -> int:
        """Spark/ANSI grouping_id: bit per key, FIRST key = MSB; bit set =
        key aggregated away."""
        m = 0
        for k in self.keys:
            m = (m << 1) | (0 if k in grain else 1)
        return m

    def build(self, base: DataFrame) -> DataFrame:
        aggs = []
        for out, (kind, expr) in self.measures.items():
            if kind not in KINDS:
                raise ValueError(f"non-decomposable agg in MV: {kind}")
            aggs.append(F.expr(KINDS[kind][0].format(src=expr)).alias(out))
        if self.sets is None:
            return base.groupBy(*self.keys).agg(*aggs)
        if not all(set(s) <= set(self.keys) for s in self.sets):
            raise ValueError(f"MV {self.name!r}: a declared set is not a "
                             "subset of its keys")
        return (base.groupingSets([list(s) for s in self.sets], *self.keys)
                .agg(F.grouping_id().alias("grouping_id"), *aggs))

    def store(self, base: DataFrame, path: str) -> None:
        """Materialize to parquet (the batch refresh; streaming refresh is
        streaming/incremental.py feeding the same layout). Versioned +
        atomic pointer swap: see ``commit_versioned``."""
        def write(d: str) -> None:
            w = self.build(base).write.mode("overwrite")
            if self.sets is not None:
                w = w.partitionBy("grouping_id")
            w.parquet(d)
        commit_versioned(write, path)


@dataclass(frozen=True)
class AggRequest:
    """An aggregate query: group keys (name -> expr over the BASE columns,
    or None when the key is a plain column) and measures
    (out -> (agg, base_expr)) with agg in {sum, count, min, max, avg,
    count_distinct}. count_distinct routes to a summary only when its
    column is one of the summary's declared grain KEYS (structural
    exactness — see ``_derivable``); otherwise the base answers."""

    keys: dict[str, str | None]
    measures: dict[str, tuple[str, str]]


_SQL_WORDS = frozenset(
    "as and or not case when then else end null true false cast "
    "int integer bigint smallint tinyint float double string varchar "
    "date timestamp decimal boolean interval "
    "from for in is like between distinct".split())

# calendar-unit words double as COMMON COLUMN NAMES (day, month, ...).
# Blanket-skipping them let an expression over a non-MV base column named
# `day` pass validation (ADVICE r04 item 2). They are only skipped in
# positions where an identifier is impossible: right after INTERVAL/a
# number (interval syntax) or as the unit of EXTRACT(unit FROM ...).
_UNIT_WORDS = frozenset(
    "year quarter month week day hour minute second millisecond "
    "microsecond years quarters months weeks days hours minutes seconds "
    "dow doy".split())


def _expr_refs_only(expr: str, allowed) -> bool:
    """True iff every bare identifier in ``expr`` (string literals
    stripped, function names and SQL keywords excluded) is in ``allowed``
    — 'is an expression over MV keys ONLY', not merely 'mentions one'.
    False rejections are safe (base-table fallback); false acceptances
    would crash or mis-answer, so unknown identifiers reject. A token
    that names an MV key is ALWAYS an identifier, even when it collides
    with a keyword/unit word."""
    import re as _re

    no_strings = _re.sub(r"'[^']*'", "''", expr)
    prev, prev2 = "", ""
    for m in _re.finditer(r"[A-Za-z_][A-Za-z0-9_]*|\d+|''", no_strings):
        tok = m.group(0)
        if tok == "''" or tok.isdigit():
            prev2, prev = prev, tok
            continue
        ident = tok
        rest = no_strings[m.end():].lstrip()
        if rest.startswith("("):
            prev2, prev = prev, ident
            continue  # function name
        if ident in allowed:
            prev2, prev = prev, ident
            continue  # an MV key wins over any keyword collision
        low = ident.lower()
        if low in _UNIT_WORDS:
            # identifier-impossible positions only: the unit of an
            # INTERVAL literal (directly after INTERVAL, or after its
            # quantity token which itself follows INTERVAL) or the unit
            # of EXTRACT(unit FROM ...). The FROM test needs BOTH a word
            # boundary ('from_unixtime(ts)' must not validate a stray
            # `day` — ADVICE r05 item 1) and the EXTRACT( context (in
            # `trim(day FROM ts)` the unit position holds a real column
            # reference, which must resolve against `allowed` above).
            after_interval = prev.lower() == "interval" or (
                (prev.isdigit() or prev == "''")
                and prev2.lower() == "interval")
            in_extract = (prev.lower() == "extract"
                          and _re.match(r"from\b", rest, _re.I))
            if after_interval or in_extract:
                prev2, prev = prev, ident
                continue
            return False
        if low in _SQL_WORDS:
            prev2, prev = prev, ident
            continue
        return False
    return True


def _derivable(req_measures: dict, stored_measures: dict,
               stored_keys=()) -> bool:
    """Can every requested measure be derived from the stored ones? The
    ONE copy of the derivability rule (routing and answering both use it,
    so they cannot drift): sum/count/min/max need the exact (agg, expr)
    stored; avg(x) needs BOTH (sum, x) and (count, x);
    count_distinct(x) needs x to be a DECLARED GRAIN KEY of the summary
    (``stored_keys``) — exactness is structural, not measure-algebraic:
    the grain rows enumerate every distinct key combination of the base,
    so distinct-x per (any grouping derived from the keys) is identical
    on the summary and the base. A distinct count can never be derived
    from stored MEASURES (it is not mergeable), so an MV whose keys do
    not contain x simply refuses and the base fallback answers."""
    stored = {(a, e) for _, (a, e) in stored_measures.items()}
    for _, (agg, expr) in req_measures.items():
        if agg == "avg":
            if ("sum", expr) not in stored or ("count", expr) not in stored:
                return False
        elif agg == "count_distinct":
            if expr not in stored_keys:
                return False
        elif (agg, expr) not in stored:
            return False
    return True


def _answer(df: DataFrame, req: AggRequest, stored: dict | None,
            exact: bool) -> DataFrame:
    """Serve ``req`` from ``df``: base rows when ``stored`` is None, else
    one grain's rows, ``stored`` mapping (kind, expr) -> stored column. A
    measure is its kind's partial over base rows, its merge over grain
    rows, or — at an ``exact`` grain, which is projected, never
    aggregated — the stored column itself; one output cast follows."""
    def value(kind: str, expr: str):
        if stored is None:
            return F.expr(KINDS[kind][0].format(src=expr))
        col = stored[(kind, expr)]
        return F.col(col) if exact else F.expr(KINDS[kind][1].format(c=col))

    keys = [(F.col(name) if expr is None else F.expr(expr)).alias(name)
            for name, expr in req.keys.items()]
    measures = []
    for out, (agg, expr) in req.measures.items():
        if agg == "count_distinct":
            # from a grain, expr is a grain column (gated by _derivable):
            # the grain rows carry every distinct base combination, so a
            # distinct count over them equals the base's
            m = F.countDistinct(F.expr(expr)).cast("bigint")
        elif agg == "avg":
            m = value("sum", expr).cast("double") / value("count", expr)
        else:
            m = value(agg, expr)
            if agg in _OUT:
                m = m.cast(_OUT[agg])
        measures.append(m.alias(out))
    if exact:
        return df.select(*keys, *measures)
    return df.groupBy(*keys).agg(*measures)


def stored_rows(path: str) -> int:
    """Total stored rows of a materialized summary (a committed version
    directory, or one grain's partition of it) from parquet FOOTER
    metadata only — the planner's cost signal. No Spark job, no data read;
    at 100 TB this is a handful of footer fetches per candidate grain.

    Memoized on (path, directory mtime): committed version dirs are
    copy-on-write (immutable → permanent hit) — without the memo every
    aggregate() call on the serving hot path re-paid a recursive glob plus
    a footer read per file per candidate."""
    import pyarrow.parquet as pq

    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        key = None
    if key in _STORED_ROWS_CACHE:
        return _STORED_ROWS_CACHE[key]
    total = sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(
        os.path.join(path, "**", "*.parquet"), recursive=True))
    if key is not None:
        _STORED_ROWS_CACHE[key] = total
    return total


_STORED_ROWS_CACHE: dict[tuple[str, int], int] = {}


def route(
    spark: SparkSession,
    req: AggRequest,
    mvs: dict[str, tuple[MVDef, str]],
    base: DataFrame,
) -> tuple[DataFrame, str | None]:
    """Answer ``req`` from the best declared grain of the summaries in
    ``mvs`` (name -> (def, parquet path)), else from ``base``. Returns
    (result, mv_name-or-None).

    A grain is a candidate when every request key is a grain column or an
    expression over grain columns only, and every measure is derivable
    (distinct counts from the grain's columns). An EXACT grain — plain
    keys equal to the grain, no distinct count — is a filter plus a
    projection and beats any grain that re-aggregates; otherwise the
    grain with the fewest stored rows wins (footer metadata; a monthly
    grain beats a daily one for a yearly rollup), then the lower name. A
    summary with no COMMITTED version (mid-refresh crash, never
    refreshed) is simply not a candidate — base fallback, never a partial
    read."""
    distinct = any(a == "count_distinct" for a, _ in req.measures.values())
    plain = all(e is None for e in req.keys.values())
    candidates = []
    for name, (mv, path) in mvs.items():
        grains = [g for g in mv.grains
                  if all(n in g if e is None else _expr_refs_only(e, set(g))
                         for n, e in req.keys.items())
                  and _derivable(req.measures, mv.measures, g)]
        committed = resolve_mv_path(path) if grains else None
        if committed is None:
            continue
        for g in grains:
            exact = plain and not distinct and set(req.keys) == set(g)
            files = committed if mv.sets is None else os.path.join(
                committed, f"grouping_id={mv.mask(g)}")
            candidates.append((not exact, stored_rows(files), name, g, mv,
                               committed))
    if not candidates:
        return _answer(base, req, None, False), None
    inexact, _, name, grain, mv, committed = min(
        candidates, key=lambda c: c[:3])
    df = spark.read.parquet(committed)
    if mv.sets is not None:
        df = df.filter(F.col("grouping_id") == mv.mask(grain))
    stored = {m: out for out, m in mv.measures.items()}
    return _answer(df, req, stored, not inexact), name
