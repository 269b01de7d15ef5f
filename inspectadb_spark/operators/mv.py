"""Materialized-view (summary-table) definition and aggregate-query routing.

The continuous-aggregate story has two halves. The *maintenance* half —
keeping a pre-aggregated table up to date as the base table changes — lives
in ``streaming/incremental.py`` (exactly-once additive merge) and
``operators/cdc.py`` (batch merge). This module is the *routing* half: given
an aggregate request, answer it from a compatible summary table instead of
re-scanning the fact table.

Rewrite algebra (the classic summary-table containment rules):

- the request's group keys must each be an MV key, or an expression over MV
  keys (e.g. ``month`` derived from a daily key) — coarser rollups of the
  stored grain;
- ``SUM(x)``   -> ``SUM(mv.sum_x)``     (sums are re-additive)
- ``COUNT(*)`` -> ``SUM(mv.cnt)``; ``COUNT(x)`` -> ``SUM(mv.cnt_x)``
  (a stored ``count`` over a column counts NON-NULLs, SQL semantics)
- ``MIN(x)``   -> ``MIN(mv.min_x)``, ``MAX(x)`` -> ``MAX(mv.max_x)``
- ``AVG(x)``   -> ``SUM(mv.sum_x) / SUM(mv.cnt_x)`` — never avg-of-avgs,
  and never divided by the ROW count: AVG ignores NULLs, so deriving it
  requires the stored non-null count of the SAME column (an MV without
  ``(count, x)`` simply refuses to route AVG(x))

Non-decomposable aggregates (exact percentiles, DISTINCT over arbitrary
expressions) are deliberately NOT routable — ``route`` falls back to the
base table, which is the correct answer, not an approximation. The ONE
exception is ``COUNT(DISTINCT k)`` where ``k`` is a declared grain KEY of
the summary: the grain rows enumerate every distinct key combination of
the base, so re-counting distinct ``k`` over them is structurally exact
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

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inspectadb_spark.versioned import commit_versioned, read_current

_DEC = "decimal(18,6)"


# -- crash-safe MV storage ---------------------------------------------------
# MV refreshes commit through ``versioned.commit_versioned`` like every other
# whole-state rewrite: a crash mid-refresh leaves the previous committed
# version intact and addressed, the exact crash window an in-place
# overwrite left open (ADVICE r04 item 1).

def resolve_mv_path(path: str) -> str | None:
    """The directory a reader should scan for this MV, or None when no
    refresh has ever committed (route()/answer() then fall back to base —
    a partially written summary is never silently aggregated)."""
    _, d, _ = read_current(path)
    if d is not None and os.path.exists(d):
        return d
    # legacy in-place layout: only routable once fully committed
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    return None


@dataclass(frozen=True)
class MVDef:
    """A summary-table definition over a base table.

    measures: out_col -> (agg, base_expr) with agg in {sum, count, min, max}.
    ``(count, "*")`` counts rows; ``(count, col)`` counts non-NULLs of the
    column (SQL COUNT semantics — the distinction is what makes routed
    AVG correct under NULLs).
    """

    name: str
    keys: tuple[str, ...]
    measures: dict[str, tuple[str, str]] = field(hash=False)

    def build(self, base: DataFrame) -> DataFrame:
        return base.groupBy(*[F.col(k) for k in self.keys]).agg(
            *_measure_aggs(self.measures))

    def store(self, base: DataFrame, path: str) -> None:
        """Materialize to parquet (the batch refresh; streaming refresh is
        streaming/incremental.py feeding the same path). Versioned + atomic
        pointer swap: see ``commit_versioned``."""
        commit_versioned(
            lambda d: self.build(base).write.mode("overwrite").parquet(d),
            path)


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


def _measure_aggs(measures: dict[str, tuple[str, str]]) -> list:
    """The storage-side aggregate list shared by MVDef and GroupingSetMV."""
    aggs = []
    for out, (agg, expr) in measures.items():
        if agg == "count":
            aggs.append(
                (F.count(F.lit(1)) if expr == "*"
                 else F.count(F.expr(expr))).alias(out))
        elif agg == "sum":
            aggs.append(F.sum(F.expr(expr).cast(_DEC)).alias(out))
        elif agg in ("min", "max"):
            aggs.append(getattr(F, agg)(F.expr(expr)).alias(out))
        else:
            raise ValueError(f"non-decomposable agg in MV: {agg}")
    return aggs


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


def _routable(req: AggRequest, mv: MVDef) -> bool:
    for name, expr in req.keys.items():
        if expr is None:
            if name not in mv.keys:
                return False
        elif not _expr_refs_only(expr, set(mv.keys)):
            return False
    return _derivable(req.measures, mv.measures, mv.keys)


def _answer_from_mv(mv_df: DataFrame, req: AggRequest, mv: MVDef) -> DataFrame:
    keys = [
        (F.col(name) if expr is None else F.expr(expr)).alias(name)
        for name, expr in req.keys.items()
    ]
    stored = {(agg, expr): out for out, (agg, expr) in mv.measures.items()}
    aggs = []
    for out, (agg, expr) in req.measures.items():
        if agg == "count_distinct":
            # expr is an MV grain KEY (gated by _derivable): the grain
            # rows carry every distinct base combination, so a distinct
            # count over them equals the base's
            aggs.append(F.countDistinct(F.col(expr))
                        .cast("bigint").alias(out))
        elif agg == "count":
            aggs.append(F.sum(F.col(stored[("count", expr)]))
                        .cast("bigint").alias(out))
        elif agg == "sum":
            aggs.append(
                F.sum(F.col(stored[("sum", expr)])).cast("double").alias(out))
        elif agg == "avg":
            aggs.append(
                (F.sum(F.col(stored[("sum", expr)])).cast("double")
                 / F.sum(F.col(stored[("count", expr)]))).alias(out))
        else:
            aggs.append(getattr(F, agg)(F.col(stored[(agg, expr)])).alias(out))
    return mv_df.groupBy(*keys).agg(*aggs)


def _answer_from_base(base: DataFrame, req: AggRequest) -> DataFrame:
    keys = [
        (F.col(name) if expr is None else F.expr(expr)).alias(name)
        for name, expr in req.keys.items()
    ]
    aggs = []
    for out, (agg, expr) in req.measures.items():
        if agg == "count":
            aggs.append(
                (F.count(F.lit(1)) if expr == "*"
                 else F.count(F.expr(expr))).alias(out))
        elif agg == "count_distinct":
            aggs.append(F.countDistinct(F.expr(expr))
                        .cast("bigint").alias(out))
        elif agg == "sum":
            aggs.append(
                F.sum(F.expr(expr).cast(_DEC)).cast("double").alias(out))
        elif agg == "avg":
            aggs.append(
                (F.sum(F.expr(expr).cast(_DEC)).cast("double")
                 / F.count(F.expr(expr))).alias(out))
        else:
            aggs.append(getattr(F, agg)(F.expr(expr)).alias(out))
    return base.groupBy(*keys).agg(*aggs)


def stored_rows(path: str) -> int:
    """Total stored rows of a materialized summary from parquet FOOTER
    metadata only — the planner's cost signal. No Spark job, no data read;
    at 100 TB this is a handful of footer fetches per candidate MV.
    ``path`` is the COMMITTED version directory (resolve first).

    Files under a ``v<N>`` first-level subdirectory are excluded: when
    ``path`` is a legacy in-place root (resolved via _SUCCESS) that also
    holds junk version dirs from a crashed first versioned refresh,
    ``spark.read.parquet(path)`` reads only the root files, so counting
    the junk would inflate the cost signal and could misroute to a more
    expensive MV (ADVICE r05 item 5). A committed version dir never
    nests another ``v<N>``, so the exclusion is a no-op there.

    Memoized on (path, directory mtime): committed version dirs are
    copy-on-write (immutable → permanent hit), while a legacy in-place
    root rewritten by a refresh changes its mtime and re-counts — without
    the memo every aggregate() call on the serving hot path re-paid a
    recursive glob plus a footer read per file per candidate MV."""
    import glob as _glob
    import os as _os
    import re as _re

    import pyarrow.parquet as pq

    try:
        key = (path, _os.stat(path).st_mtime_ns)
    except OSError:
        key = None
    if key is not None and key in _STORED_ROWS_CACHE:
        return _STORED_ROWS_CACHE[key]
    total = 0
    for f in _glob.glob(_os.path.join(path, "**", "*.parquet"),
                        recursive=True):
        first = _os.path.relpath(f, path).split(_os.sep)[0]
        if _re.fullmatch(r"v\d+", first):
            continue
        total += pq.ParquetFile(f).metadata.num_rows
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
    """Answer ``req`` from the CHEAPEST compatible MV — fewest stored rows
    per footer metadata; a monthly-grain summary beats a daily one for a
    yearly rollup — else the base table. ``mvs`` maps name -> (def,
    parquet path). Returns (result, mv_name-or-None). An MV with no
    COMMITTED version (mid-refresh crash, never refreshed) is simply not
    a candidate — base fallback, never a partial read."""
    candidates = []
    for name, (mv, path) in mvs.items():
        if not _routable(req, mv):
            continue
        committed = resolve_mv_path(path)
        if committed is None:
            continue
        candidates.append((stored_rows(committed), name, mv, committed))
    if candidates:
        _, name, mv, committed = min(candidates, key=lambda c: (c[0], c[1]))
        return _answer_from_mv(spark.read.parquet(committed), req, mv), name
    return _answer_from_base(base, req), None


@dataclass(frozen=True)
class GroupingSetMV:
    """One summary, many grains: the aggregate-navigator form of a
    materialized view. The stored table is GROUP BY CUBE over ``keys``
    restricted to the declared ``sets``, with ``grouping_id`` kept as the
    grain discriminator — so a real NULL key value can never be confused
    with an aggregated-away key (the classic grouping-sets-MV trap).

    Serving an EXACT declared grain is a pure ``grouping_id = mask`` filter
    + projection — NO re-aggregation, no shuffle (plan-pinned in
    tests/test_mv.py). A coarser request re-aggregates from the coarsest
    (cheapest) declared grain that covers it, same algebra as ``MVDef``.

    100 TB design: the cube build is one pass with Spark's Expand (rows ×
    |sets| after the mask filter); storage is Σ per-grain group counts.
    Partition the stored parquet BY grouping_id so grain serving prunes to
    its own files.
    """

    name: str
    keys: tuple[str, ...]
    sets: tuple[tuple[str, ...], ...]
    measures: dict[str, tuple[str, str]] = field(hash=False)

    def mask(self, subset: tuple[str, ...]) -> int:
        """Spark/ANSI grouping_id: bit per key, FIRST key = MSB; bit set =
        key aggregated away."""
        m = 0
        for k in self.keys:
            m = (m << 1) | (0 if k in subset else 1)
        return m

    def build(self, base: DataFrame) -> DataFrame:
        cube = (
            base.cube(*[F.col(k) for k in self.keys])
            .agg(F.grouping_id().alias("grouping_id"),
                 *_measure_aggs(self.measures))
        )
        masks = [self.mask(s) for s in self.sets]
        return cube.filter(F.col("grouping_id").isin(masks))

    def store(self, base: DataFrame, path: str) -> None:
        commit_versioned(
            lambda d: (self.build(base).write.mode("overwrite")
                       .partitionBy("grouping_id").parquet(d)),
            path)

    def answer(self, spark: SparkSession, path: str,
               req: AggRequest) -> DataFrame | None:
        """Serve ``req`` whose keys are plain columns drawn from ``keys``:
        exact declared grain -> filter+project (zero aggregation); coarser
        than some declared grain -> re-aggregate from the coarsest
        (cheapest) covering grain; otherwise None — including when no
        refresh has ever COMMITTED (a partial write is never served)."""
        if any(expr is not None for expr in req.keys.values()):
            return None
        want = tuple(req.keys)
        if not set(want) <= set(self.keys):
            return None
        # count_distinct(x) is structural, not measure-algebraic: it
        # needs a declared grain whose key set holds BOTH the requested
        # keys and x (the grain rows enumerate the distinct base
        # combinations), and it always re-aggregates — the exact-grain
        # pure-filter fast path cannot serve it from stored columns
        dcols = {e for _, (a, e) in req.measures.items()
                 if a == "count_distinct"}
        if not _derivable(req.measures, self.measures,
                          set(self.keys) if dcols else ()):
            return None
        committed = resolve_mv_path(path)
        if committed is None:
            return None
        stored = {(agg, expr): out for out, (agg, expr) in self.measures.items()}
        mv_df = spark.read.parquet(committed)
        exact = None if dcols else next(
            (s for s in self.sets if set(s) == set(want)), None)
        if exact is not None:
            sel = [F.col(k) for k in want]
            for out, (agg, expr) in req.measures.items():
                if agg == "count":
                    sel.append(F.col(stored[("count", expr)]).cast("bigint")
                               .alias(out))
                elif agg == "sum":
                    sel.append(F.col(stored[("sum", expr)]).cast("double")
                               .alias(out))
                elif agg == "avg":
                    sel.append((F.col(stored[("sum", expr)]).cast("double")
                                / F.col(stored[("count", expr)])).alias(out))
                else:
                    sel.append(F.col(stored[(agg, expr)]).alias(out))
            return (mv_df.filter(F.col("grouping_id") == self.mask(exact))
                    .select(*sel))
        covering = [s for s in self.sets if set(want) | dcols <= set(s)]
        if not covering:
            return None
        # the COARSEST covering grain (fewest keys) has the fewest stored
        # rows to fold — cheapest correct source (any covering grain gives
        # the same answer; this picks the smallest scan)
        coarsest = min(covering, key=len)
        sub = MVDef(self.name, coarsest, self.measures)
        return _answer_from_mv(
            mv_df.filter(F.col("grouping_id") == self.mask(coarsest)),
            req, sub)
