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

``sql_routed(text)`` enters the same path from SQL: ``parse_routable``
matches one shape — an aggregate over a fact table with 0–2 inner
equi-joined dimensions — on Spark's own parse tree, so every spelling
Spark parses alike routes alike. A flat match is served by ``aggregate``,
a star match by eager aggregation at join-key grain (provenance "star:" /
"star2:" + the grain read's); anything else runs as plain Spark SQL
(provenance "sql").

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

import json
import operator
import os
import re
from decimal import Decimal
from typing import NamedTuple

from pyspark.errors.exceptions.captured import CapturedException
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
        """Serve ``text`` through the layered path when its parse tree
        matches the routable shape (``parse_routable``) over known tables;
        otherwise run it as plain Spark SQL (provenance "sql"). Routed
        aggregates use the engine-wide DECIMAL-exact sum convention
        (identical between the MV and base layers, and deterministic).
        HAVING, ORDER BY and LIMIT then apply to the routed result: all
        three are pure post-aggregation operations over served columns
        (LIMIT only under a key-complete ORDER BY, a total order), so the
        result is positionally identical to plain-SQL execution."""
        q = parse_routable(self.spark, text)
        served = None
        if q is not None and (
                {q.fact, *(j[0] for j in q.joins)} <= self.tables.keys()):
            served = self._route_star(q) if q.joins else self._route_flat(q)
        if served is None:
            return self.spark.sql(text), "sql"
        out, prov = served
        for alias, op, value in q.having:
            out = out.filter(_CMP_OPS[op](F.col(alias), F.lit(value)))
        if q.order:
            out = out.orderBy(*[F.col(c).desc() if desc else F.col(c).asc()
                                for c, desc in q.order])
        if q.limit is not None:
            out = out.limit(q.limit)
        return out, prov

    def _route_flat(self, q: Routable) -> tuple[DataFrame, str]:
        """Serve a single-table aggregate through ``aggregate``. WHERE terms
        compare GROUP keys to literals, so filter-after-aggregate ==
        aggregate-after-filter; Catalyst pushes the filter below the (MV or
        base) aggregate, pruning the summary scan."""
        req = AggRequest(
            keys={i.col: None for i in q.items if i.agg is None},
            measures={i.name: (i.agg, i.col) for i in q.items if i.agg})
        out, prov = self.aggregate(q.fact, req)
        # SELECT-list order, as plain spark.sql: the routed aggregate emits
        # keys-then-measures, and a positional consumer must see one order
        out = out.select(*[i.name for i in q.items])
        for _, col, value in q.where:
            out = out.filter(F.col(col) == F.lit(value))
        return out, prov

    def _route_star(self, q: Routable) -> tuple[DataFrame, str] | None:
        """Serve a star aggregate — ``SELECT d1.a, …, AGG(f.m) FROM fact f
        JOIN dim1 d1 ON f.k1 = d1.dk1 [JOIN dim2 d2 …] GROUP BY d1.a, …`` —
        by eager aggregation: aggregate the fact at join-key grain ({k1, …}
        ∪ fact-side group cols) through the layered path, broadcast-join
        each dim's attributes onto the grain rows, and re-aggregate. Exact
        for every supported measure whatever the dim-key multiplicities: a
        grain partial appears once per matching dim-row combination in BOTH
        the joined-then-aggregated and the aggregated-then-joined forms
        (SUM/COUNT scale together, MIN/MAX are duplication-blind, AVG
        re-derives from sum+count), and the inner joins drop NULL/unmatched
        keys from both alike. A WHERE equality on a dim's columns filters
        that broadcast dim before its join (it commutes with inner joins).

        Refuse-by-default: returns None (plain Spark SQL serves the text)
        unless an MV over the fact DECLARES the grain keys with derivable
        measures, no dim attr shares its name with a grain column (the
        post-join groupBy would be ambiguous), and every WHERE column
        exists on its dim (so plain SQL raises the real analysis error).
        The fact table is then never scanned."""
        attrs = [[i.col for i in q.items if i.agg is None and i.src == n]
                 for n in range(len(q.joins) + 1)]
        dim_attrs = [a for per_dim in attrs[1:] for a in per_dim]
        grain_keys = {fk for _, fk, _ in q.joins} | set(attrs[0])
        if not dim_attrs or ({k.lower() for k in grain_keys}
                             & {a.lower() for a in dim_attrs}):
            return None
        aggs = [i for i in q.items if i.agg]
        # grain-level measures under reserved aliases (avg = sum + count)
        gm: dict[str, tuple[str, str]] = {}
        for i in aggs:
            split = ("sum", "count") if i.agg == "avg" else (i.agg,)
            gm.update({f"__{a}_{i.name}": (a, i.col) for a in split})
        if not any(bt == q.fact and grain_keys <= set(mv.keys)
                   and _derivable(gm, mv.measures)
                   for mv, _path, bt, _b in self._mvs.values()):
            return None
        dims = [self.tables[d] for d, _, _ in q.joins]
        if any(c not in dims[src - 1].columns for src, c, _ in q.where):
            return None
        grain, prov = self.aggregate(q.fact, AggRequest(
            keys={k: None for k in sorted(grain_keys)}, measures=gm))
        joined = grain
        for n, (dim, (_, fkey, dkey)) in enumerate(zip(dims, q.joins), 1):
            for src, c, value in q.where:
                if src == n:
                    dim = dim.filter(F.col(c) == F.lit(value))
            dim = dim.select(F.col(dkey).alias(f"__dk{n}"), *attrs[n])
            joined = joined.join(F.broadcast(dim),
                                 grain[fkey] == dim[f"__dk{n}"], "inner")

        def reaggregate(i: Item):
            if i.agg in ("min", "max"):
                return getattr(F, i.agg)(f"__{i.agg}_{i.name}")
            count = F.sum(f"__count_{i.name}")
            if i.agg == "count":
                return count.cast("bigint")
            # sum partials re-sum under the engine-wide DECIMAL-exact
            # convention (order-deterministic)
            total = F.sum(F.col(f"__sum_{i.name}").cast(_DEC)).cast("double")
            return total if i.agg == "sum" else total / count

        out = (joined.groupBy(*dim_attrs, *attrs[0])
               .agg(*[reaggregate(i).alias(i.name) for i in aggs])
               .select(*[i.name for i in q.items]))
        star = "star" if len(q.joins) == 1 else f"star{len(q.joins)}"
        return out, f"{star}:{prov}"

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



# -- SQL front-end: one matcher over Spark's parse tree ---------------------

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_AGGS = ("sum", "count", "avg", "min", "max")
_CMP = {"EqualTo": "=", "LessThan": "<", "LessThanOrEqual": "<=",
        "GreaterThan": ">", "GreaterThanOrEqual": ">="}
_CMP_OPS = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
            "<=": operator.le, ">": operator.gt, ">=": operator.ge}
# each sort direction's default null order; any other is written out and
# refused (the routed orderBy uses the defaults)
_NULLS = {"Ascending$": "NullsFirst$", "Descending$": "NullsLast$"}
_INNER = {"object": "org.apache.spark.sql.catalyst.plans.Inner$"}
_LITERALS = {"integer": int, "long": int, "double": float, "decimal": Decimal}


class Item(NamedTuple):
    """One SELECT item of a routable aggregate."""
    name: str        # output column
    src: int         # relation: 0 = the fact, n = the dim of joins[n - 1]
    agg: str | None  # None for a group key; "count_distinct" for DISTINCT
    col: str         # source column; "*" for COUNT(*)


class Routable(NamedTuple):
    """``parse_routable``'s record of a routable aggregate."""
    fact: str
    joins: list[tuple[str, str, str]]      # (dim table, fact key, dim key)
    items: list[Item]                      # in SELECT order
    where: list[tuple[int, str, object]]   # (relation, column) = literal
    having: list[tuple[str, str, object]]  # (aggregate alias, op, number)
    order: list[tuple[str, bool]]          # (output name, descending)
    limit: int | None


class _Refuse(Exception):
    """The parse tree is outside the routable shape."""


def _need(ok) -> None:
    if not ok:
        raise _Refuse


def _tree(flat: list[dict]) -> dict:
    """Nest one of ``toJSON``'s pre-order node lists: every node gains its
    short class name under ``cls`` and its children under ``kids``."""
    nodes = iter(flat)

    def build() -> dict:
        n = next(nodes)
        n["cls"] = n["class"].rsplit(".", 1)[-1]
        n["kids"] = [build() for _ in range(n["num-children"])]
        return n
    return build()


def _parts(printed: str) -> list[str]:
    """Name parts that toJSON prints as one "[a, b]" string."""
    parts = printed[1:-1].split(", ")
    _need(all(_IDENT.fullmatch(p) for p in parts))
    return parts


def _name(e: dict, n: int = 1) -> list[str]:
    """The parts of an n-part column name."""
    _need(e["cls"] == "UnresolvedAttribute")
    parts = _parts(e["nameParts"])
    _need(len(parts) == n)
    return parts


def _literal(e: dict, numeric: bool = False):
    """A literal's value, for the types whose printed value round-trips
    (a binary literal prints a JVM object id; NULL is typed void)."""
    _need(e["cls"] == "Literal")
    kind = e["dataType"].split("(")[0]  # decimal(p,s) -> decimal
    _need(kind in _LITERALS or kind == "string" and not numeric)
    return _LITERALS.get(kind, str)(e["value"])


def _conjuncts(e: dict) -> list[dict]:
    if e["cls"] == "And":
        return [c for k in e["kids"] for c in _conjuncts(k)]
    return [e]


def _relations(node: dict) -> list[tuple[str, str | None, dict | None]]:
    """The FROM clause as (table, alias, ON condition), fact first: a
    left-deep chain of inner joins, each with an ON condition."""
    on = None
    prior: list = []
    if node["cls"] == "Join":
        _need(node["joinType"] == _INNER and node["hint"] is None
              and node.get("condition"))
        on = _tree(node["condition"])
        prior = _relations(node["kids"][0])
        node = node["kids"][1]
    alias = None
    if node["cls"] == "SubqueryAlias":
        _need(not node["identifier"]["qualifier"])
        alias = node["identifier"]["name"]
        node = node["kids"][0]
    _need(node["cls"] == "UnresolvedRelation" and not node["isStreaming"])
    table = _parts(node["multipartIdentifier"])
    _need(len(table) == 1)
    return prior + [(table[0], alias, on)]


def parse_routable(spark: SparkSession, text: str) -> Routable | None:
    """Match ``text`` against the one SQL shape ``sql_routed`` serves, on
    Spark's own parse tree (``sqlParser().parsePlan(text).toJSON()``), read
    before analysis: no catalog lookup, so names resolve against the
    engine's own ``tables`` and unknown names parse too.

        SELECT <key | AGG(col) [AS] alias>, ...
        FROM <fact> [f JOIN <dim> d ON f.k = d.dk [JOIN ...]]
        [WHERE <col> = <literal> [AND ...]] GROUP BY <the SELECT keys>
        [HAVING <alias> <cmp> <number> [AND ...]]
        [ORDER BY <output name> [ASC|DESC], ...] [LIMIT n]

    Every spelling Spark parses to one tree matches alike (keyword case,
    comments, line breaks, ``COUNT(1)``, an alias without AS). Returns a
    ``Routable``, or None unless the text is PROVABLY in the shape — a
    mis-match routed through a summary would be a wrong answer:

    - flat (no join): unqualified columns of an unaliased table; WHERE only
      on GROUP BY keys (it commutes with the aggregate); COUNT(DISTINCT
      col) is the one DISTINCT shape (mv.py serves it for grain keys).
    - star (1–2 joins): distinct aliases on every table, the fact not also
      a dim; each ON equates a fact column with its dim's; qualified
      columns; fact-side measures; WHERE only on dim columns.
    - SUM/COUNT/AVG/MIN/MAX of one column (or COUNT(*)), aliased; GROUP BY
      exactly the SELECT keys; unique output names.
    - HAVING compares an aggregate alias to a number; ORDER BY names output
      columns in the default null order; LIMIT needs a key-complete ORDER
      BY (a total order: the cut is deterministic).

    Refused too: any backquote (toJSON prints name parts as one string, so
    `d, x` reads like d.x), literals whose printed value does not
    round-trip (only integer, long, double, decimal and string pass), and
    hints, CTEs, USING joins, FILTER clauses and every other construct,
    which fall out as unmatched tree nodes."""
    if "`" in text:
        return None
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(text)
        flat = json.loads(plan.toJSON())
    except CapturedException:
        return None  # not parseable: plain spark.sql raises the real error
    try:
        return _match(_tree(flat))
    except _Refuse:
        return None


def _match(node: dict) -> Routable:
    limit = None
    if node["cls"] == "GlobalLimit":
        limit = _literal(_tree(node["limitExpr"]), numeric=True)
        _need(isinstance(limit, int) and limit >= 0)
        node = node["kids"][0]
        _need(node["cls"] == "LocalLimit")
        node = node["kids"][0]
    order: list[tuple[str, bool]] = []
    if node["cls"] == "Sort":
        _need(node["global"])
        for term in map(_tree, node["order"]):
            direction = term["direction"]["object"].rsplit(".", 1)[-1]
            _need(term["nullOrdering"]["object"].endswith(_NULLS[direction]))
            order.append((_name(term["kids"][0])[0],
                          direction == "Descending$"))
        node = node["kids"][0]
    having_terms = []
    if node["cls"] == "UnresolvedHaving":
        having_terms = _conjuncts(_tree(node["havingCondition"]))
        node = node["kids"][0]
    _need(node["cls"] == "Aggregate")
    agg_node, node = node, node["kids"][0]
    where_terms = []
    if node["cls"] == "Filter":
        where_terms = _conjuncts(_tree(node["condition"]))
        node = node["kids"][0]

    tables, aliases, ons = zip(*_relations(node))
    star = len(tables) > 1
    _need(len(tables) <= 3)
    if star:
        _need(None not in aliases and len(set(aliases)) == len(aliases)
              and tables[0] not in tables[1:])
    else:
        _need(aliases == (None,))
    src_of = {a: n for n, a in enumerate(aliases)}

    def ref(e: dict) -> tuple[int, str]:
        """(relation, column) of a column reference."""
        if not star:
            return 0, _name(e)[0]
        alias, col = _name(e, 2)
        _need(alias in src_of)
        return src_of[alias], col

    joins = []
    for n, (table, on) in enumerate(zip(tables[1:], ons[1:]), 1):
        _need(on["cls"] == "EqualTo")
        (s1, c1), (s2, c2) = map(ref, on["kids"])
        _need({s1, s2} == {0, n})
        joins.append((table, c1, c2) if s1 == 0 else (table, c2, c1))

    items: list[Item] = []
    for e in map(_tree, agg_node["aggregateExpressions"]):
        if e["cls"] != "Alias":
            src, col = ref(e)
            items.append(Item(col, src, None, col))
            continue
        f = e["kids"][0]
        _need(_IDENT.fullmatch(e["name"]) and f["cls"] == "UnresolvedFunction"
              and f["num-children"] == 1 and not f["ignoreNulls"]
              and not f["orderingWithinGroup"] and not f["isInternal"])
        name = _parts(f["nameParts"])
        _need(len(name) == 1 and name[0].lower() in _AGGS)
        agg, arg = name[0].lower(), f["kids"][0]
        if agg == "count" and arg["cls"] == "Literal":
            # the parser writes COUNT(*) as COUNT(1)
            _need(not f["isDistinct"] and arg["dataType"] == "integer"
                  and arg["value"] == "1")
            items.append(Item(e["name"], 0, "count", "*"))
            continue
        src, col = ref(arg)
        _need(src == 0)  # only fact-side measures re-aggregate safely
        if f["isDistinct"]:
            _need(agg == "count" and not star)
            agg = "count_distinct"
        items.append(Item(e["name"], 0, agg, col))
    keys = [(i.src, i.col) for i in items if i.agg is None]
    group = [ref(e) for e in map(_tree, agg_node["groupingExpressions"])]
    names = [i.name for i in items]
    _need(group and sorted(group) == sorted(keys) and len(keys) < len(items)
          and len({n.lower() for n in names}) == len(names))

    where = []
    for c in where_terms:
        _need(c["cls"] == "EqualTo")
        src, col = ref(c["kids"][0])
        _need(src > 0 if star else (src, col) in keys)
        where.append((src, col, _literal(c["kids"][1])))
    measures = {i.name for i in items if i.agg}
    having = []
    for c in having_terms:
        if c["cls"] == "Not" and c["kids"][0]["cls"] == "EqualTo":
            op, (left, right) = "!=", c["kids"][0]["kids"]
        else:
            _need(c["cls"] in _CMP)
            op, (left, right) = _CMP[c["cls"]], c["kids"]
        (alias,) = _name(left)
        _need(alias in measures)
        having.append((alias, op, _literal(right, numeric=True)))
    _need(all(c in names for c, _ in order))
    _need(limit is None or {col for _, col in keys} <= {c for c, _ in order})
    return Routable(tables[0], joins, items, where, having, order, limit)
