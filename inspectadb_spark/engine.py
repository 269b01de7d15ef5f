"""Engine facade: one object that composes the serving layers.

A user of the reference tool talks to a single engine handle — register
tables, run SQL, apply changes, and have aggregate requests served from the
cheapest correct layer. This facade wires the existing parts together; it
adds NO new semantics (each layer is independently tested and oracled):

    aggregate(request)
        1. result cache  — exact-match plan fingerprint + input versions
                           (operators/result_cache.py); a hit costs a
                           metadata check + summary-sized read
        2. MV routing    — SUM/COUNT/MIN/MAX/AVG rewrite against the
                           cheapest compatible summary table
                           (operators/mv.py; footer-row-count cost model)
        3. base table    — the direct aggregate

The provenance string returned with every result ("cache" / "mv:<name>" /
"base") makes the serving decision observable — the first thing an operator
asks when a dashboard slows down. Correctness does not depend on the layer
chosen: the cache key proves byte-identical inputs + an identical plan, and
MV routing is the algebra hash-verified by q239's oracle.

Invalidation is file-version-based end to end: ``apply_changes`` folds a
CDC batch into the table's stored state and commits a new file version,
which rotates every dependent cache fingerprint automatically; MV
staleness is the refresh contract (``refresh_mv`` for batch,
streaming/incremental.py for live).

The fold is ``StreamingCdcApply``'s: latest-wins per key by change order
over state ∪ batch. The stored state keeps each key's order and op under
the fixed columns ``_lsn`` / ``_op`` (delete tombstones included; base
rows carry a NULL order, which every change outranks), so a stale
re-delivery — a change older than the key's stored one — is a no-op, and
a delete of an absent key never resurrects a row. ``tables[t]`` is that
state with tombstones filtered out and the two columns dropped.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inspectadb_spark.catalog import load_tables
from inspectadb_spark.operators.cdc import latest_per_key
from inspectadb_spark.operators.mv import _DEC, AggRequest, GroupingSetMV
from inspectadb_spark.operators.mv import MVDef, _derivable
from inspectadb_spark.operators.mv import route as _mv_route
from inspectadb_spark.operators.result_cache import ResultCache
from inspectadb_spark.versioned import commit_versioned, read_current

# the stored table state's change-order and op columns (engine-internal)
_LSN, _OP = "_lsn", "_op"


def _live(state: DataFrame) -> DataFrame:
    """The user-facing table of a stored state: tombstones out, order and
    op columns dropped."""
    return state.filter(F.col(_OP) != "d").drop(_LSN, _OP)


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str,
                 work_dir: str) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.tables = load_tables(spark, sf_dir)
        self.cache = ResultCache(spark, os.path.join(work_dir, "result_cache"))
        # name -> (def, path, base_table, base_builder-or-None)
        self._mvs: dict[str, tuple] = {}
        self._gs_mvs: dict[str, tuple] = {}
        self._table_version: dict[str, int] = {}
        self._load_committed_tables()
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)

    def _load_committed_tables(self) -> None:
        """Restart continuity: a table whose work_dir pointer exists was
        rewritten by a previous apply_changes — resume from that committed
        version, not the original sf_dir files."""
        root = os.path.join(self.work_dir, "tables")
        if not os.path.isdir(root):
            return
        for table in os.listdir(root):
            if table in self.tables:
                self._publish(table)

    def _state_dir(self, table: str) -> str:
        return os.path.join(self.work_dir, "tables", table)

    def _publish(self, table: str) -> None:
        """Point ``tables[table]`` at its committed state, if any."""
        n, path, _ = read_current(self._state_dir(table))
        if path is not None:
            self.tables[table] = _live(self.spark.read.parquet(path))
            self._table_version[table] = n

    # -- relational entry points ------------------------------------------
    def table(self, name: str) -> DataFrame:
        return self.tables[name]

    def sql(self, text: str) -> DataFrame:
        return self.spark.sql(text)

    def sql_routed(self, text: str) -> tuple[DataFrame, str]:
        """Serve SQL through the layered path when it parses into the
        restricted aggregate grammar (``parse_agg_sql``) over a known
        table; otherwise run it as plain Spark SQL (provenance "sql").
        Routed aggregates use the engine-wide DECIMAL-exact sum convention
        (identical between the MV and base layers, and deterministic),
        not IEEE-double SUM order-dependence."""
        parsed = parse_agg_sql(text)
        if parsed is not None and parsed[0] in self.tables:
            table, req, where, having, order, limit, sel_order = parsed
            out, prov = self.aggregate(table, req)
            # re-project to SELECT-list order: the routed aggregate emits
            # keys-then-measures, so 'SELECT SUM(x) AS s, b, a ...' would
            # otherwise come back (a, b, s) while plain spark.sql returns
            # (s, b, a) — a positional consumer must see one order
            out = out.select(*sel_order)
            # WHERE key = literal predicates filter GROUP KEYS only, so
            # filter-after-aggregate == aggregate-after-filter; Catalyst
            # pushes the filter below the (MV or base) aggregate, pruning
            # the summary scan. HAVING references measure aliases — real
            # columns of the served result — i.e. plain post-agg filters,
            # as are ORDER BY / LIMIT over served columns (LIMIT only
            # parses with a key-complete ORDER BY — a total order, since
            # the group keys are unique — so the cut is deterministic).
            for cond in where + having:
                out = out.filter(F.expr(cond))
            if order:
                out = out.orderBy(*[
                    F.col(c).desc() if d else F.col(c).asc()
                    for c, d in order])
            if limit is not None:
                out = out.limit(limit)
            return out, prov
        star = parse_star_agg_sql(text)
        if star is not None:
            served = self._route_star(star[:6])
            if served is not None:
                return self._present(served, *star[6:])
        star2 = parse_star2_agg_sql(text)
        if star2 is not None:
            served = self._route_star2(star2[:10])
            if served is not None:
                return self._present(served, *star2[10:])
        return self.spark.sql(text), "sql"

    @staticmethod
    def _present(served, having, order, limit):
        """Apply parsed HAVING / ORDER BY / LIMIT to a routed star result.
        All three are pure post-aggregation operations over the served
        columns — HAVING terms compare declared aggregate ALIASES (real
        columns of the result) to numeric literals, ORDER BY references
        output names, and LIMIT only parses under a key-complete ORDER BY
        (a total order, since the group keys are unique per row) — so
        applying them to the routed result is positionally identical to
        plain-SQL execution; the eager-aggregation exactness argument is
        untouched because nothing here runs before the aggregate."""
        out, prov = served
        for cond in having:
            out = out.filter(F.expr(cond))
        if order:
            out = out.orderBy(*[
                F.col(c).desc() if d else F.col(c).asc() for c, d in order])
        if limit is not None:
            out = out.limit(limit)
        return out, prov

    def _route_star(self, star) -> tuple[DataFrame, str] | None:
        """Serve a single-dimension star aggregate —
        ``SELECT d.attr, AGG(f.m) FROM fact f JOIN dim d ON f.k = d.k
        GROUP BY d.attr`` — by eager aggregation: aggregate the fact at
        join-key grain through the layered path, broadcast-join the dim
        attributes onto the (summary-sized) grain rows, and re-aggregate
        to the requested attrs. The rewrite is exact for every supported
        measure regardless of dim-key multiplicity: each k-grain partial
        appears once per matching dim row in BOTH the joined-then-
        aggregated and the aggregated-then-joined forms (SUM/COUNT scale
        together, MIN/MAX are duplication-blind, AVG re-derives from
        sum+count), and an inner join drops NULL/unmatched keys from
        both forms alike.

        A WHERE conjunction of dim-attribute equalities filters the
        broadcast dim BEFORE the grain join: the predicate references
        only dim columns, so filtering dim rows pre-join equals
        filtering the joined rows (inner join), which is exactly where
        plain SQL's pre-aggregation WHERE sits — the eager-aggregation
        exactness argument is untouched because the fact-side grain
        partials are computed independently of which dim rows survive.

        Refuse-by-default: returns None — caller falls through to plain
        Spark SQL — unless some registered MV over the fact table
        DECLARES the denormalized key set ({join key} ∪ fact-side group
        cols) with derivable measures, and every WHERE column exists on
        the dim table. The fact table is then never scanned: the grain
        read is MV- (or cache-) served, the dim is broadcast, and the
        re-aggregation shuffles summary-sized rows.
        """
        fact, dim, fkey, dkey, items, dim_where = star
        if fact not in self.tables or dim not in self.tables:
            return None
        fact_group = [i[2] for i in items if i[0] == "key" and i[1] == "fact"]
        dim_attrs = [i[2] for i in items if i[0] == "key" and i[1] == "dim"]
        aggs = [i for i in items if i[0] == "agg"]
        if not dim_attrs:
            return None  # no dim rollup — the flat grammar handles it
        need_keys = {fkey, *fact_group}
        if need_keys & set(dim_attrs):
            # a dim attr sharing its name with a fact grain column would
            # make the post-join groupBy ambiguous — not provably
            # routable, fall through to plain SQL
            return None
        # grain-level measures under reserved aliases (avg = sum + count)
        gm: dict[str, tuple[str, str]] = {}
        for _, agg, col, alias in aggs:
            if agg == "avg":
                gm[f"__sum_{alias}"] = ("sum", col)
                gm[f"__count_{alias}"] = ("count", col)
            else:
                gm[f"__{agg}_{alias}"] = (agg, col)
        declared = any(
            bt == fact and need_keys <= set(mv.keys)
            and _derivable(gm, mv.measures)
            for mv, _path, bt, _b in self._mvs.values())
        if not declared:
            return None
        dim_base = self.tables[dim]
        if any(c not in dim_base.columns for c, _ in dim_where):
            return None  # unknown dim column: let plain SQL raise it
        req = AggRequest(keys={k: None for k in sorted(need_keys)},
                         measures=gm)
        grain, prov = self.aggregate(fact, req)
        for c, lit in dim_where:
            dim_base = dim_base.filter(F.col(c) == F.expr(lit))
        dimdf = dim_base.select(
            F.col(dkey).alias("__dk"),
            *[F.col(a) for a in dim_attrs])
        joined = grain.join(F.broadcast(dimdf),
                            grain[fkey] == dimdf["__dk"], "inner")
        out_aggs = []
        for _, agg, col, alias in aggs:
            if agg == "sum":
                # per-grain partials re-sum under the engine-wide
                # DECIMAL-exact convention (order-deterministic)
                out_aggs.append(
                    F.sum(F.col(f"__sum_{alias}").cast(_DEC))
                    .cast("double").alias(alias))
            elif agg == "count":
                out_aggs.append(F.sum(f"__count_{alias}")
                                .cast("bigint").alias(alias))
            elif agg == "avg":
                out_aggs.append(
                    (F.sum(F.col(f"__sum_{alias}").cast(_DEC))
                     .cast("double") / F.sum(f"__count_{alias}"))
                    .alias(alias))
            else:
                out_aggs.append(
                    getattr(F, agg)(f"__{agg}_{alias}").alias(alias))
        out = (joined.groupBy(*[F.col(c) for c in dim_attrs + fact_group])
               .agg(*out_aggs)
               .select(*[i[2] if i[0] == "key" else i[3] for i in items]))
        return out, f"star:{prov}"

    def _route_star2(self, star) -> tuple[DataFrame, str] | None:
        """Serve a TWO-dimension star aggregate — ``SELECT d1.a, d2.b,
        AGG(f.m) FROM fact f JOIN dim1 d1 ON f.k1 = d1.dk1 JOIN dim2 d2
        ON f.k2 = d2.dk2 GROUP BY d1.a, d2.b`` — by the same eager
        aggregation as ``_route_star``, at {k1, k2} grain. Exactness
        extends unchanged: a (k1, k2)-grain partial appears once per
        matching (dim1-row, dim2-row) PAIR in both the joined-then-
        aggregated and aggregated-then-joined forms — the dim
        multiplicities MULTIPLY identically (m1·m2 copies of each
        partial), SUM/COUNT scale together, MIN/MAX are duplication-
        blind, AVG re-derives from sum+count, and both inner joins drop
        NULL/unmatched keys from both forms alike. Per-dim WHERE
        equality conjunctions filter each broadcast dim BEFORE its join
        (a predicate over one dim's columns commutes with both inner
        joins). Refuse-by-default is the single-dim contract verbatim:
        an MV over the fact must declare {k1, k2} ∪ fact-side group
        cols with derivable measures; the fact table is never scanned.
        """
        fact, d1, d2, k1, dk1, k2, dk2, items, where1, where2 = star
        if (fact not in self.tables or d1 not in self.tables
                or d2 not in self.tables):
            return None
        fact_group = [i[2] for i in items if i[0] == "key" and i[1] == "fact"]
        attrs1 = [i[2] for i in items if i[0] == "key" and i[1] == "dim1"]
        attrs2 = [i[2] for i in items if i[0] == "key" and i[1] == "dim2"]
        aggs = [i for i in items if i[0] == "agg"]
        if not attrs1 and not attrs2:
            return None  # no dim rollup — not a star
        need_keys = {k1, k2, *fact_group}
        if need_keys & set(attrs1 + attrs2):
            # a dim attr sharing its name with a fact grain column makes
            # the post-join groupBy ambiguous — not provably routable
            return None
        gm: dict[str, tuple[str, str]] = {}
        for _, agg, col, alias in aggs:
            if agg == "avg":
                gm[f"__sum_{alias}"] = ("sum", col)
                gm[f"__count_{alias}"] = ("count", col)
            else:
                gm[f"__{agg}_{alias}"] = (agg, col)
        declared = any(
            bt == fact and need_keys <= set(mv.keys)
            and _derivable(gm, mv.measures)
            for mv, _path, bt, _b in self._mvs.values())
        if not declared:
            return None
        d1_base, d2_base = self.tables[d1], self.tables[d2]
        if any(c not in d1_base.columns for c, _ in where1):
            return None
        if any(c not in d2_base.columns for c, _ in where2):
            return None
        req = AggRequest(keys={k: None for k in sorted(need_keys)},
                         measures=gm)
        grain, prov = self.aggregate(fact, req)
        for c, lit in where1:
            d1_base = d1_base.filter(F.col(c) == F.expr(lit))
        for c, lit in where2:
            d2_base = d2_base.filter(F.col(c) == F.expr(lit))
        dim1df = d1_base.select(F.col(dk1).alias("__dk1"),
                                *[F.col(a) for a in attrs1])
        dim2df = d2_base.select(F.col(dk2).alias("__dk2"),
                                *[F.col(a) for a in attrs2])
        joined = (grain
                  .join(F.broadcast(dim1df),
                        grain[k1] == dim1df["__dk1"], "inner")
                  .join(F.broadcast(dim2df),
                        grain[k2] == dim2df["__dk2"], "inner"))
        out_aggs = []
        for _, agg, col, alias in aggs:
            if agg == "sum":
                out_aggs.append(
                    F.sum(F.col(f"__sum_{alias}").cast(_DEC))
                    .cast("double").alias(alias))
            elif agg == "count":
                out_aggs.append(F.sum(f"__count_{alias}")
                                .cast("bigint").alias(alias))
            elif agg == "avg":
                out_aggs.append(
                    (F.sum(F.col(f"__sum_{alias}").cast(_DEC))
                     .cast("double") / F.sum(f"__count_{alias}"))
                    .alias(alias))
            else:
                out_aggs.append(
                    getattr(F, agg)(f"__{agg}_{alias}").alias(alias))
        out = (joined
               .groupBy(*[F.col(c)
                          for c in attrs1 + attrs2 + fact_group])
               .agg(*out_aggs)
               .select(*[i[2] if i[0] == "key" else i[3] for i in items]))
        return out, f"star2:{prov}"

    # -- summary tables ----------------------------------------------------
    def register_mv(self, mv: MVDef, base_table: str,
                    base_builder=None) -> None:
        """Register + refresh a summary over ``base_table``. An optional
        ``base_builder(df) -> df`` pre-projects derived grain columns
        (e.g. ship_day) before the MV groupBy; it is REMEMBERED so every
        later refresh (manual or apply_changes-triggered) rebuilds from
        the same derived input."""
        if mv.name in self._gs_mvs:
            raise ValueError(
                f"MV name {mv.name!r} already registered as a grouping-sets "
                "MV: the two registries share the storage path, so a reused "
                "name would serve one definition from the other's parquet")
        path = os.path.join(self.work_dir, "mv", mv.name)
        self._mvs[mv.name] = (mv, path, base_table, base_builder)
        self.refresh_mv(mv.name)

    def refresh_mv(self, name: str) -> None:
        reg = self._gs_mvs if name in self._gs_mvs else self._mvs
        mv, path, base_table, base_builder = reg[name]
        base = self.tables[base_table]
        if base_builder is not None:
            base = base_builder(base)
        mv.store(base, path)

    def register_grouping_mv(self, mv: GroupingSetMV, base_table: str,
                             base_builder=None) -> None:
        """Register + refresh a multi-grain (grouping-sets) summary. Exact
        declared grains serve as filter+projection with zero aggregation."""
        if mv.name in self._mvs:
            raise ValueError(
                f"MV name {mv.name!r} already registered as a flat MV: the "
                "two registries share the storage path, so a reused name "
                "would serve one definition from the other's parquet")
        path = os.path.join(self.work_dir, "mv", mv.name)
        self._gs_mvs[mv.name] = (mv, path, base_table, base_builder)
        self.refresh_mv(mv.name)

    # -- CDC apply ---------------------------------------------------------
    def apply_changes(self, table: str, changes: DataFrame,
                      keys: list[str], order_col: str = "lsn",
                      op_col: str = "op",
                      refresh_dependents: bool = True) -> None:
        """Apply a CDC change batch to ``table``: fold it into the table's
        stored state latest-wins per key by ``order_col`` (the module
        docstring's fold: tombstones kept, so a stale re-delivery or a
        repeated delete is a no-op), and commit the new state copy-on-write
        under work_dir (``versioned.commit_versioned``). The new version is
        the invalidation mechanism: every cached result over this table
        stops being addressed (new file versions), and dependent MVs are
        refreshed in the same call by default (``refresh_dependents=False``
        defers them — the documented stale-until-refresh mode). The first
        apply seeds the state from the current table; the original sf_dir
        files are never touched (they may be read-only corpus fixtures)."""
        live = self.tables[table]
        _, committed, _ = read_current(self._state_dir(table))
        state = (self.spark.read.parquet(committed) if committed is not None
                 else live.select("*", F.lit(None).alias(_LSN),
                                  F.lit("c").alias(_OP)))
        batch = changes.select(*live.columns, F.col(order_col).alias(_LSN),
                               F.col(op_col).alias(_OP))
        new_state = latest_per_key(state.unionByName(batch), keys, _LSN)
        commit_versioned(new_state.write.mode("overwrite").parquet,
                         self._state_dir(table))
        self._publish(table)
        self.tables[table].createOrReplaceTempView(table)
        if refresh_dependents:
            # rotate dependent summaries too, so MV-routed plans (and the
            # caches keyed on their files) can never serve pre-change
            # values; pass False to keep MVs stale-until-refresh (the
            # deferred-refresh operating mode)
            for reg in (self._mvs, self._gs_mvs):
                for name, entry in reg.items():
                    if entry[2] == table:
                        self.refresh_mv(name)

    # -- layered aggregate serving ----------------------------------------
    def aggregate(self, base_table: str, req: AggRequest,
                  base_builder=None, use_cache: bool = True,
                  ) -> tuple[DataFrame, str]:
        """Serve an aggregate request; returns (result, provenance)."""
        base = self.tables[base_table]
        if base_builder is not None:
            base = base_builder(base)
        routed, provenance = None, None
        # grouping-set MVs first: an exact-grain hit is a pure filter
        # (cheaper than any re-aggregating route)
        for n, (gs, path, bt, _) in self._gs_mvs.items():
            if bt != base_table:
                continue
            ans = gs.answer(self.spark, path, req)
            if ans is not None:
                routed, provenance = ans, f"gsmv:{n}"
                break
        if routed is None:
            mvs = {n: (mv, path)
                   for n, (mv, path, bt, _) in self._mvs.items()
                   if bt == base_table}
            routed, used = _mv_route(self.spark, req, mvs, base)
            provenance = f"mv:{used}" if used else "base"
        if not use_cache:
            return routed, provenance
        stored, hit = self.cache.get_or_compute(routed)
        return stored, "cache" if hit else provenance


# -- restricted SQL front-end for the serving layer -------------------------

_AGG_RE = re.compile(
    r"^\s*(SUM|COUNT|AVG|MIN|MAX)\s*\(\s*(DISTINCT\s+)?"
    r"(\*|[A-Za-z_][A-Za-z0-9_]*)\s*\)"
    r"\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.IGNORECASE)
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_SHAPE_RE = re.compile(
    r"^\s*SELECT\s+(.*?)\s+FROM\s+([A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"\s+GROUP\s+BY\s+(.+?)"
    r"(?:\s+HAVING\s+(.+?))?"
    r"(?:\s+ORDER\s+BY\s+(.+?))?"
    r"(?:\s+LIMIT\s+(\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_LITERAL = r"(?:-?\d+(?:\.\d+)?|'[^']*')"
_WHERE_COND_RE = re.compile(
    rf"^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*({_LITERAL})$")
_HAVING_COND_RE = re.compile(
    rf"^([A-Za-z_][A-Za-z0-9_]*)\s*(=|<>|!=|<=|>=|<|>)\s*(-?\d+(?:\.\d+)?)$")
_AND_RE = re.compile(r"\s+AND\s+", re.IGNORECASE)
_ORDER_TERM_RE = re.compile(
    r"^([A-Za-z_][A-Za-z0-9_]*)(?:\s+(ASC|DESC))?$",
    re.IGNORECASE)


def _parse_presentation(having_clause, order_clause, limit_clause,
                        key_names, agg_aliases):
    """Validate the post-aggregation presentation clauses shared by the
    flat, star and star2 grammars. HAVING terms must compare a declared
    aggregate ALIAS to a numeric literal (pure post-agg filters over real
    result columns); ORDER BY terms must be served output names (group
    keys or aliases); LIMIT routes only under a key-complete ORDER BY —
    the group keys are unique per result row, so covering them all pins
    a TOTAL order and the cut is deterministic (a partial order could tie
    at the cut and diverge from plain-SQL execution — ADVICE r05 item 4).
    Returns (having_conds, order_terms, limit) or None to refuse."""
    having: list[str] = []
    if having_clause is not None:
        for cond in _AND_RE.split(having_clause.strip()):
            hm = _HAVING_COND_RE.match(cond.strip())
            if not hm or hm.group(1) not in agg_aliases:
                return None  # HAVING must compare a declared agg alias
            having.append(f"{hm.group(1)} {hm.group(2)} {hm.group(3)}")
    order: list[tuple[str, bool]] = []
    if order_clause is not None:
        for term in order_clause.split(","):
            om = _ORDER_TERM_RE.match(term.strip())
            if not om or (om.group(1) not in key_names
                          and om.group(1) not in agg_aliases):
                return None
            order.append(
                (om.group(1), (om.group(2) or "ASC").upper() == "DESC"))
    limit_n = int(limit_clause) if limit_clause is not None else None
    if limit_n is not None and not set(key_names) <= {c for c, _ in order}:
        return None
    return having, order, limit_n


def parse_agg_sql(text: str):
    """Parse the restricted grammar
    ``SELECT <keys and aggs> FROM <table> [WHERE <key>=<lit> [AND ...]]
    GROUP BY <keys> [HAVING <agg_alias> <cmp> <num> [AND ...]]
    [ORDER BY <col> [ASC|DESC], ...] [LIMIT n]`` into
    (table, AggRequest, where_conds, having_conds, order_terms, limit),
    or None when the statement doesn't fit.

    Deliberately narrow: plain column keys, SUM/COUNT/AVG/MIN/MAX over a
    single column (or ``*`` for COUNT), mandatory AS aliases on aggregates.
    The predicate extensions stay provably route-safe: every WHERE column
    must be a GROUP BY key (filtering keys commutes with the aggregation,
    so the routed summary filter gives the same answer as a base-table
    WHERE) and every HAVING term compares a declared aggregate ALIAS to a
    numeric literal (pure post-aggregation filtering). One DISTINCT shape
    parses: ``COUNT(DISTINCT <column>)`` — the MV layer serves it
    structurally when the column is a declared grain key
    (operators/mv.py::_derivable) and the base fallback is exact
    otherwise. Anything else — expressions, joins, non-key WHERE columns,
    OR, SUM/AVG/MIN/MAX DISTINCT, COUNT(DISTINCT *) — returns None and
    the caller falls through to full Spark SQL. Exact-match parsing is
    the point: a mis-parse silently routed to a summary would be a wrong
    answer, so anything not PROVABLY in the grammar is not routed.
    """
    m = _SHAPE_RE.match(text)
    if not m:
        return None
    select_list, table = m.group(1), m.group(2)
    where_clause, group_by, having_clause = m.group(3), m.group(4), m.group(5)
    order_clause, limit_clause = m.group(6), m.group(7)
    keys = []
    for g in group_by.split(","):
        g = g.strip()
        if not _IDENT_RE.match(g):
            return None
        keys.append(g)
    measures: dict[str, tuple[str, str]] = {}
    sel_keys = []
    select_order: list[str] = []
    for item in _split_top_level(select_list):
        item = item.strip()
        if _IDENT_RE.match(item):
            sel_keys.append(item)
            select_order.append(item)
            continue
        am = _AGG_RE.match(item)
        if not am:
            return None
        agg, dist, col, alias = (am.group(1).lower(), am.group(2),
                                 am.group(3), am.group(4))
        if col == "*" and agg != "count":
            return None
        if dist is not None:
            # DISTINCT routes only as COUNT(DISTINCT <column>): the MV
            # layer serves it structurally when the column is a declared
            # grain key (operators/mv.py::_derivable), and the base
            # fallback is exact otherwise. SUM/AVG/MIN/MAX DISTINCT are
            # not provably routable -> refuse, fall through to plain SQL
            if agg != "count" or col == "*":
                return None
            measures[alias] = ("count_distinct", col)
            select_order.append(alias)
            continue
        measures[alias] = (agg, "*" if col == "*" else col)
        select_order.append(alias)
    if sorted(sel_keys) != sorted(keys) or not measures:
        return None
    n_aggs = sum(1 for item in _split_top_level(select_list)
                 if not _IDENT_RE.match(item.strip()))
    if n_aggs != len(measures):  # duplicate aliases collapsed -> not
        return None              # provably the same shape as plain SQL
    where_conds: list[str] = []
    if where_clause is not None:
        for cond in _AND_RE.split(where_clause.strip()):
            wm = _WHERE_COND_RE.match(cond.strip())
            if not wm or wm.group(1) not in keys:
                return None  # non-key / non-equality WHERE: not routable
            where_conds.append(f"{wm.group(1)} = {wm.group(2)}")
    pres = _parse_presentation(having_clause, order_clause, limit_clause,
                               keys, measures)
    if pres is None:
        return None
    having_conds, order_terms, limit_n = pres
    return (table, AggRequest(keys={k: None for k in keys},
                              measures=measures),
            where_conds, having_conds, order_terms, limit_n, select_order)


_STAR_SHAPE_RE = re.compile(
    r"^\s*SELECT\s+(.*?)\s+FROM\s+([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)"
    r"\s+JOIN\s+([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)\s+ON\s+"
    r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"\s+GROUP\s+BY\s+(.+?)"
    r"(?:\s+HAVING\s+(.+?))?"
    r"(?:\s+ORDER\s+BY\s+(.+?))?"
    r"(?:\s+LIMIT\s+(\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_STAR_WHERE_RE = re.compile(
    rf"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*({_LITERAL})$")
_QCOL_RE = re.compile(r"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)$")
_STAR_AGG_RE = re.compile(
    r"^\s*(SUM|COUNT|AVG|MIN|MAX)\s*"
    r"\(\s*(\*|[A-Za-z_]\w*\.[A-Za-z_]\w*)\s*\)"
    r"\s+AS\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE)


def parse_star_agg_sql(text: str):
    """Parse the restricted single-dimension star grammar
    ``SELECT <d.attr | f.col | AGG(f.m) AS alias>... FROM <fact> f
    JOIN <dim> d ON f.k = d.k [WHERE d.attr = <lit> [AND ...]]
    GROUP BY <the non-agg select items>
    [HAVING <agg_alias> <cmp> <num> [AND ...]]
    [ORDER BY <out_col> [ASC|DESC], ...] [LIMIT n]``
    into (fact, dim, fact_key, dim_key, items, dim_where, having, order,
    limit) where each item is ("key", "fact"|"dim", col) or
    ("agg", agg, col-or-*, alias) in SELECT order and dim_where is a list
    of (dim_col, literal_text) equality conditions — or None when the
    statement doesn't fit. HAVING / ORDER BY / LIMIT carry the flat
    grammar's discipline verbatim (``_parse_presentation``): HAVING
    compares declared aggregate aliases to numeric literals, ORDER BY
    references served output names, and LIMIT requires a key-complete
    ORDER BY (total order over unique group keys → deterministic cut).

    Same exact-match philosophy as ``parse_agg_sql``: one INNER equi-join
    on a single qualified column pair, every SELECT/GROUP BY column
    qualified by a declared alias, measures only over fact columns (or
    COUNT(*)) with mandatory AS aliases, no HAVING/expressions/OUTER
    joins, and no duplicate output names. WHERE is accepted ONLY as a
    conjunction of dim-qualified equality-to-literal terms: a predicate
    over dim columns commutes with the inner join (filter the dim before
    joining ≡ filter the joined rows) and runs pre-aggregation on both
    the routed and plain-SQL forms, so routing stays provably exact —
    a fact-side or non-equality WHERE returns None. Anything not
    PROVABLY in the grammar returns None and the caller runs plain
    Spark SQL — a mis-parse silently routed through a summary would be
    a wrong answer.
    """
    m = _STAR_SHAPE_RE.match(text)
    if not m:
        return None
    (sel, fact, fa, dim, da, lq, lc, rq, rc, where_clause, group_by,
     having_clause, order_clause, limit_clause) = m.groups()
    if fa == da or fact == dim or {lq, rq} != {fa, da}:
        return None
    fkey, dkey = (lc, rc) if lq == fa else (rc, lc)
    dim_where: list[tuple[str, str]] = []
    if where_clause is not None:
        for cond in _AND_RE.split(where_clause.strip()):
            wm = _STAR_WHERE_RE.match(cond.strip())
            if not wm or wm.group(1) != da:
                return None  # only dim-side equality predicates commute
            dim_where.append((wm.group(2), wm.group(3)))
    gterms = []
    for g in group_by.split(","):
        qm = _QCOL_RE.match(g.strip())
        if not qm or qm.group(1) not in (fa, da):
            return None
        gterms.append(("fact" if qm.group(1) == fa else "dim", qm.group(2)))
    items: list[tuple] = []
    keys_seen: list[tuple[str, str]] = []
    for item in _split_top_level(sel):
        item = item.strip()
        qm = _QCOL_RE.match(item)
        if qm:
            if qm.group(1) not in (fa, da):
                return None
            side = "fact" if qm.group(1) == fa else "dim"
            items.append(("key", side, qm.group(2)))
            keys_seen.append((side, qm.group(2)))
            continue
        am = _STAR_AGG_RE.match(item)
        if not am:
            return None
        agg, arg, alias = am.group(1).lower(), am.group(2), am.group(3)
        if arg == "*":
            if agg != "count":
                return None
            col = "*"
        else:
            q, col = arg.split(".")
            if q != fa:
                return None  # only fact-side measures re-aggregate safely
        items.append(("agg", agg, col, alias))
    if sorted(keys_seen) != sorted(gterms):
        return None
    if not any(i[0] == "agg" for i in items):
        return None
    names = [i[2] if i[0] == "key" else i[3] for i in items]
    if len(set(names)) != len(names):
        return None
    pres = _parse_presentation(
        having_clause, order_clause, limit_clause,
        [i[2] for i in items if i[0] == "key"],
        {i[3] for i in items if i[0] == "agg"})
    if pres is None:
        return None
    return (fact, dim, fkey, dkey, items, dim_where) + pres


_STAR2_SHAPE_RE = re.compile(
    r"^\s*SELECT\s+(.*?)\s+FROM\s+([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)"
    r"\s+JOIN\s+([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)\s+ON\s+"
    r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)"
    r"\s+JOIN\s+([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)\s+ON\s+"
    r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"\s+GROUP\s+BY\s+(.+?)"
    r"(?:\s+HAVING\s+(.+?))?"
    r"(?:\s+ORDER\s+BY\s+(.+?))?"
    r"(?:\s+LIMIT\s+(\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)


def parse_star2_agg_sql(text: str):
    """Parse the restricted TWO-dimension star grammar
    ``SELECT <d1.a | d2.b | f.col | AGG(f.m) AS alias>... FROM <fact> f
    JOIN <dim1> d1 ON f.k1 = d1.dk1 JOIN <dim2> d2 ON f.k2 = d2.dk2
    [WHERE <dim-qualified equality conjunction>] GROUP BY <the non-agg
    select items> [HAVING ...] [ORDER BY ...] [LIMIT n]`` into
    (fact, dim1, dim2, k1, dk1, k2, dk2, items, where1, where2, having,
    order, limit) — item sides are "fact"/"dim1"/"dim2" — or None.
    The presentation clauses follow ``_parse_presentation`` (alias-only
    HAVING, served-name ORDER BY, key-complete-ORDER-BY-gated LIMIT).

    Single-dim rules apply per join: each ON pairs the fact alias with
    ITS dim's alias (a dim1-dim2 ON term would not be an eager-
    aggregation star and returns None), aliases are pairwise distinct,
    measures are fact-side only, WHERE terms are dim-qualified
    equalities (routed to their own dim), and output names are unique.
    The two dim TABLES may coincide (role-playing dimensions) — sides
    are tracked by alias throughout.
    """
    m = _STAR2_SHAPE_RE.match(text)
    if not m:
        return None
    (sel, fact, fa, dim1, da1, l1q, l1c, r1q, r1c,
     dim2, da2, l2q, l2c, r2q, r2c, where_clause, group_by,
     having_clause, order_clause, limit_clause) = m.groups()
    if len({fa, da1, da2}) != 3 or fact in (dim1, dim2):
        return None
    if {l1q, r1q} != {fa, da1} or {l2q, r2q} != {fa, da2}:
        return None
    k1, dk1 = (l1c, r1c) if l1q == fa else (r1c, l1c)
    k2, dk2 = (l2c, r2c) if l2q == fa else (r2c, l2c)
    where1: list[tuple[str, str]] = []
    where2: list[tuple[str, str]] = []
    if where_clause is not None:
        for cond in _AND_RE.split(where_clause.strip()):
            wm = _STAR_WHERE_RE.match(cond.strip())
            if not wm or wm.group(1) not in (da1, da2):
                return None  # only dim-side equality predicates commute
            (where1 if wm.group(1) == da1 else where2).append(
                (wm.group(2), wm.group(3)))
    side_of = {fa: "fact", da1: "dim1", da2: "dim2"}
    gterms = []
    for g in group_by.split(","):
        qm = _QCOL_RE.match(g.strip())
        if not qm or qm.group(1) not in side_of:
            return None
        gterms.append((side_of[qm.group(1)], qm.group(2)))
    items: list[tuple] = []
    keys_seen: list[tuple[str, str]] = []
    for item in _split_top_level(sel):
        item = item.strip()
        qm = _QCOL_RE.match(item)
        if qm:
            if qm.group(1) not in side_of:
                return None
            items.append(("key", side_of[qm.group(1)], qm.group(2)))
            keys_seen.append((side_of[qm.group(1)], qm.group(2)))
            continue
        am = _STAR_AGG_RE.match(item)
        if not am:
            return None
        agg, arg, alias = am.group(1).lower(), am.group(2), am.group(3)
        if arg == "*":
            if agg != "count":
                return None
            col = "*"
        else:
            q, col = arg.split(".")
            if q != fa:
                return None  # only fact-side measures re-aggregate safely
        items.append(("agg", agg, col, alias))
    if sorted(keys_seen) != sorted(gterms):
        return None
    if not any(i[0] == "agg" for i in items):
        return None
    names = [i[2] if i[0] == "key" else i[3] for i in items]
    if len(set(names)) != len(names):
        return None
    pres = _parse_presentation(
        having_clause, order_clause, limit_clause,
        [i[2] for i in items if i[0] == "key"],
        {i[3] for i in items if i[0] == "agg"})
    if pres is None:
        return None
    return (fact, dim1, dim2, k1, dk1, k2, dk2, items,
            where1, where2) + pres


def _split_top_level(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out
