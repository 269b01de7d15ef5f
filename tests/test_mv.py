"""Materialized-view routing (operators/mv.py): rewrite algebra, routing
decisions, plan shape (routed queries scan the MV parquet, never the fact
table), and the keep-best dedup / Zipf-fit operators added alongside.

Correctness of q237/q238/q239 end-to-end is the DuckDB hash match in
test_correctness.py; these tests pin the decisions and the plan.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from inspectadb_spark.operators.mv import AggRequest, MVDef, route
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def base(spark):
    return spark.createDataFrame(
        [Row(day=d, flag=f, qty=q, price=p)
         for d, f, q, p in [
             ("2024-01-01", "A", 1.0, 10.0), ("2024-01-01", "A", 2.0, 20.0),
             ("2024-01-02", "B", 3.0, 30.0), ("2024-02-01", "A", 4.0, 40.0),
             ("2024-02-03", "B", 5.0, 50.0), ("2024-02-03", "B", 6.0, 60.0),
         ]]
    ).withColumn("day", F.to_date("day"))


@pytest.fixture(scope="module")
def mv_stored(spark, base, tmp_path_factory):
    mv = MVDef(
        name="mv_daily",
        keys=("day", "flag"),
        measures={"sum_qty": ("sum", "qty"), "sum_price": ("sum", "price"),
                  "cnt": ("count", "*"), "cnt_qty": ("count", "qty"),
                  "min_qty": ("min", "qty"), "max_qty": ("max", "qty")},
    )
    path = str(tmp_path_factory.mktemp("mv") / "mv_daily")
    mv.store(base, path)
    return mv, path


def test_routed_rollup_equals_direct(spark, base, mv_stored):
    mv, path = mv_stored
    req = AggRequest(
        keys={"month": "trunc(day, 'month')", "flag": None},
        measures={"sum_qty": ("sum", "qty"), "n": ("count", "*"),
                  "avg_qty": ("avg", "qty"), "min_qty": ("min", "qty"),
                  "max_qty": ("max", "qty")},
    )
    routed, used = route(spark, req, {mv.name: (mv, path)}, base)
    assert used == mv.name
    direct, used2 = route(spark, req, {}, base)
    assert used2 is None
    key = lambda r: (str(r["month"]), r["flag"])  # noqa: E731
    got = sorted(routed.collect(), key=key)
    want = sorted(direct.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # avg must be sum/count, not avg-of-avgs: 2024-02/B covers two days
    feb_b = [r for r in got if str(r["month"]).startswith("2024-02")
             and r["flag"] == "B"][0]
    assert feb_b["avg_qty"] == pytest.approx((5.0 + 6.0) / 2)
    assert feb_b["n"] == 2


def test_unroutable_requests_fall_back(spark, base, mv_stored):
    mv, path = mv_stored
    # a group key absent from the MV grain
    req = AggRequest(keys={"qty": None}, measures={"n": ("count", "*")})
    _, used = route(spark, req, {mv.name: (mv, path)}, base)
    assert used is None
    # a measure the MV doesn't store
    req2 = AggRequest(keys={"flag": None},
                      measures={"sp": ("sum", "qty * price")})
    _, used2 = route(spark, req2, {mv.name: (mv, path)}, base)
    assert used2 is None
    # non-decomposable aggregates refuse at definition time
    with pytest.raises(ValueError):
        MVDef("bad", ("day",), {"d": ("count_distinct", "qty")}).build(base)


def test_routed_plan_scans_mv_not_fact_table(spark, base, mv_stored):
    mv, path = mv_stored
    req = AggRequest(keys={"flag": None},
                     measures={"sum_qty": ("sum", "qty")})
    routed, used = route(spark, req, {mv.name: (mv, path)}, base)
    assert used == mv.name
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert os.path.basename(path) in plan


def test_q239_plan_scans_mv_parquet_not_lineitem(spark):
    from inspectadb_spark.queries import REGISTRY

    df = REGISTRY["q239_mv_rewrite"].builder(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "inspectadb_mv_" in plan, "q239 must scan the summary table"
    assert "lineitem" not in plan, "q239 must not re-scan the fact table"


def test_keep_best_policy_hand_case(spark):
    from inspectadb_spark.operators.dedup import keep_best_dedup

    # docs 1/2 share the fingerprint (identical text => identical min
    # window); doc 2 carries the higher quality score so it wins despite
    # the higher id. doc 3 clusters alone.
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abcdefgh", source="s1", n_chars=8),
         Row(doc_id=2, text="abcdefgh", source="s2", n_chars=9),
         Row(doc_id=3, text="zzzzzzzz", source="s1", n_chars=8)]
    )
    got = {r["doc_id"]: r for r in keep_best_dedup(docs).collect()}
    assert not got[1]["keep"] and got[1]["win_id"] == 2
    assert got[1]["win_group"] == "s2"
    assert got[2]["keep"] and got[3]["keep"]


def test_keep_best_tie_breaks_min_id(spark):
    from inspectadb_spark.operators.dedup import keep_best_dedup

    docs = spark.createDataFrame(
        [Row(doc_id=5, text="abcdefgh", source="a", n_chars=8),
         Row(doc_id=9, text="abcdefgh", source="b", n_chars=8)]
    )
    got = {r["doc_id"]: r for r in keep_best_dedup(docs).collect()}
    assert got[5]["keep"] and not got[9]["keep"]
    assert got[9]["win_group"] == "a"


def test_zipf_slope_is_negative_and_exact_on_geometric_counts(spark):
    from inspectadb_spark.operators.text import zipf_fit

    # frequencies 8,4,2,1 over ranks 1..4: ln f = ln 8 - ln 2 * log2(rank)
    # is NOT linear in ln(rank)... use f = c / rank (harmonic) instead:
    # f(r) = 12/r for r in 1..4 -> ln f = ln 12 - 1 * ln r, slope exactly -1.
    text = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3)
    docs = spark.createDataFrame([Row(doc_id=1, text=text, lang="xx")])
    row = zipf_fit(docs).collect()[0]
    assert row["n_types"] == 4 and row["n_tokens"] == 25
    assert row["zipf_slope"] == pytest.approx(-1.0, abs=1e-3)


def test_route_picks_cheapest_compatible_mv(spark, base, mv_stored,
                                            tmp_path_factory):
    """Cost-based selection: a monthly-grain summary (fewer stored rows per
    footer metadata) must win over the daily one for a monthly request,
    while a daily-only request still routes to the daily MV."""
    mv_daily, daily_path = mv_stored
    mv_monthly = MVDef(
        name="mv_monthly",
        keys=("month", "flag"),
        measures={"sum_qty": ("sum", "qty"), "cnt": ("count", "*")},
    )
    monthly_path = str(tmp_path_factory.mktemp("mv2") / "mv_monthly")
    mv_monthly.store(
        base.withColumn("month", F.trunc("day", "month")), monthly_path)
    mvs = {mv_daily.name: (mv_daily, daily_path),
           mv_monthly.name: (mv_monthly, monthly_path)}

    monthly_req = AggRequest(
        keys={"month": None},
        measures={"sum_qty": ("sum", "qty"), "n": ("count", "*")})
    routed, used = route(spark, monthly_req, mvs, base)
    assert used == "mv_monthly"
    # the fallback needs a base that carries the month column the request
    # names (the MV paths derive it from their stored grain)
    direct, _ = route(spark, monthly_req, {},
                      base.withColumn("month", F.trunc("day", "month")))
    k = lambda r: str(r["month"])  # noqa: E731
    assert sorted(map(tuple, routed.collect()), key=lambda t: str(t)) == \
        sorted(map(tuple, direct.collect()), key=lambda t: str(t))

    daily_req = AggRequest(
        keys={"day": None}, measures={"sum_qty": ("sum", "qty")})
    _, used_daily = route(spark, daily_req, mvs, base)
    assert used_daily == mv_daily.name


def test_routability_matches_identifiers_not_substrings(spark, base,
                                                        mv_stored):
    """A request key expression referencing a column that merely CONTAINS
    an MV key's name ("days_open" vs key "day") must not route."""
    mv, path = mv_stored
    req = AggRequest(keys={"x": "length(cast(days_open as string))"},
                     measures={"n": ("count", "*")})
    base2 = base.withColumn("days_open", F.lit(7))
    _, used = route(spark, req, {mv.name: (mv, path)}, base2)
    assert used is None
    # while a real reference with surrounding syntax still routes
    req2 = AggRequest(keys={"m": "trunc(day, 'month')"},
                      measures={"n": ("count", "*")})
    _, used2 = route(spark, req2, {mv.name: (mv, path)}, base)
    assert used2 == mv.name


def test_grouping_set_mv_exact_grain_serves_without_aggregation(
        spark, tmp_path_factory):
    """One summary, many grains: exact-grain requests are a grouping_id
    filter + projection (plan has NO aggregate), coarser requests re-agg
    from the cheapest covering grain (fewest stored rows), and a real NULL
    key value is never confused with an aggregated-away key."""
    base = spark.createDataFrame(
        [("2024-01-01", "A", 1.0), ("2024-01-01", None, 2.0),
         ("2024-01-02", "B", 3.0), ("2024-01-02", "A", 4.0),
         ("2024-01-02", None, 6.0)],
        "day string, flag string, qty double")
    mv = MVDef(
        name="gs", keys=("day", "flag"),
        sets=(("day", "flag"), ("flag",), ()),
        measures={"sum_qty": ("sum", "qty"), "cnt": ("count", "*"),
                  "cnt_qty": ("count", "qty")})
    path = str(tmp_path_factory.mktemp("gs") / "gs")
    mv.store(base, path)
    mvs = {mv.name: (mv, path)}

    # exact grain (flag): filter+project only — no HashAggregate/Exchange
    req = AggRequest(keys={"flag": None},
                     measures={"sq": ("sum", "qty"), "n": ("count", "*"),
                               "a": ("avg", "qty")})
    got, used = route(spark, req, mvs, base)
    assert used == mv.name
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "Exchange" not in plan
    rows = {r["flag"]: (r["sq"], r["n"], r["a"]) for r in got.collect()}
    # the NULL flag row is the REAL null group (2+6), not the grand total
    assert rows[None] == (8.0, 2, 4.0)
    assert rows["A"] == (5.0, 2, 2.5) and rows["B"] == (3.0, 1, 3.0)

    # grand total grain
    tot, used = route(
        spark, AggRequest(keys={}, measures={"n": ("count", "*")}), mvs, base)
    assert used == mv.name and tot.collect()[0]["n"] == 5

    # coarser than (day, flag) but not a declared set: day folds flag away
    day_req = AggRequest(keys={"day": None},
                         measures={"sq": ("sum", "qty")})
    day_df, used = route(spark, day_req, mvs, base)
    assert used == mv.name
    day = {r["day"]: r["sq"] for r in day_df.collect()}
    assert day == {"2024-01-01": 3.0, "2024-01-02": 13.0}

    # underivable measure refuses
    assert route(spark, AggRequest(
        keys={"flag": None}, measures={"m": ("min", "qty")}),
        mvs, base)[1] is None


def test_avg_and_count_are_null_correct_across_layers(spark,
                                                      tmp_path_factory):
    """Review findings: routed AVG must divide by the NON-NULL count (SQL
    semantics), COUNT(col) must skip NULLs in every layer, and a sum-only
    MV must serve SUM without needing any count measure."""
    base = spark.createDataFrame(
        [("A", 10.0), ("A", None), ("B", 4.0), ("B", 6.0), ("B", None)],
        "flag string, qty double")
    mv = MVDef(name="mv_nulls", keys=("flag",),
               measures={"sum_qty": ("sum", "qty"),
                         "cnt": ("count", "*"),
                         "cnt_qty": ("count", "qty")})
    path = str(tmp_path_factory.mktemp("mvn") / "mv_nulls")
    mv.store(base, path)
    req = AggRequest(keys={"flag": None},
                     measures={"a": ("avg", "qty"),
                               "nq": ("count", "qty"),
                               "n": ("count", "*")})
    routed, used = route(spark, req, {mv.name: (mv, path)}, base)
    assert used == mv.name
    direct, _ = route(spark, req, {}, base)
    r = {x["flag"]: x for x in routed.collect()}
    d = {x["flag"]: x for x in direct.collect()}
    assert r["A"]["a"] == d["A"]["a"] == 10.0      # NOT 5.0 (row count)
    assert r["B"]["a"] == d["B"]["a"] == 5.0
    assert r["A"]["nq"] == 1 and r["A"]["n"] == 2
    assert r["B"]["nq"] == 2 and r["B"]["n"] == 3

    # sum-only MV: SUM routes, AVG/COUNT refuse (no crash, base fallback)
    mv2 = MVDef(name="mv_sum_only", keys=("flag",),
                measures={"sum_qty": ("sum", "qty")})
    path2 = str(tmp_path_factory.mktemp("mvs") / "mv_sum_only")
    mv2.store(base, path2)
    sdf, used2 = route(spark, AggRequest(keys={"flag": None},
                                         measures={"s": ("sum", "qty")}),
                       {mv2.name: (mv2, path2)}, base)
    assert used2 == mv2.name
    assert {x["flag"]: x["s"] for x in sdf.collect()} == {"A": 10.0, "B": 10.0}
    _, used3 = route(spark, AggRequest(keys={"flag": None},
                                       measures={"a": ("avg", "qty")}),
                     {mv2.name: (mv2, path2)}, base)
    assert used3 is None


def test_key_expr_with_foreign_column_falls_back_not_crashes(spark, base,
                                                             mv_stored):
    """An expression mentioning an MV key AND a base-only column must not
    route (it would crash on the MV parquet); base fallback answers it."""
    mv, path = mv_stored
    req = AggRequest(keys={"x": "concat(day, region)"},
                     measures={"n": ("count", "*")})
    base2 = base.withColumn("region", F.lit("r1"))
    out, used = route(spark, req, {mv.name: (mv, path)}, base2)
    assert used is None
    assert out.count() > 0  # base path actually answers


# -- crash-safe versioned MV storage (ADVICE r05 medium item) ---------------
def test_mv_refresh_is_versioned_and_crash_safe(spark, base, tmp_path):
    """A refresh writes a NEW version dir + atomic pointer swap; a crash
    mid-refresh (uncommitted junk in a new version dir) must leave routing
    on the previously committed version, and an MV that has never
    committed must not be a route candidate at all."""
    from inspectadb_spark.operators.mv import resolve_mv_path

    mv = MVDef(name="mv_v", keys=("flag",),
               measures={"sum_qty": ("sum", "qty")})
    path = str(tmp_path / "mv_v")
    req = AggRequest(keys={"flag": None}, measures={"s": ("sum", "qty")})

    # never refreshed: not a candidate -> base fallback
    got, used = route(spark, req, {mv.name: (mv, path)}, base)
    assert used is None

    mv.store(base, path)
    v1 = resolve_mv_path(path)
    assert v1 is not None and v1.endswith("v1")
    want = {r["flag"]: r["s"] for r in
            route(spark, req, {}, base)[0].collect()}

    # simulate a crash mid-refresh: a half-written v2 with NO pointer swap
    os.makedirs(os.path.join(path, "v2"), exist_ok=True)
    with open(os.path.join(path, "v2", "part-000.parquet"), "w") as f:
        f.write("garbage half-written parquet")
    assert resolve_mv_path(path) == v1, "uncommitted version never resolves"
    got, used = route(spark, req, {mv.name: (mv, path)}, base)
    assert used == "mv_v"
    assert {r["flag"]: r["s"] for r in got.collect()} == want

    # a real second refresh commits v3 (v2 name taken by the junk dir is
    # fine: the pointer, not directory existence, defines committed)
    mv.store(base.withColumn("qty", F.col("qty") * 2), path)
    got2, used2 = route(spark, req, {mv.name: (mv, path)}, base)
    assert used2 == "mv_v"
    assert {r["flag"]: r["s"] for r in got2.collect()} == {
        k: v * 2 for k, v in want.items()}


def test_grouping_mv_answer_requires_committed_version(spark, base, tmp_path):
    gs = MVDef(name="gs_v", keys=("day", "flag"),
               sets=(("day", "flag"), ("flag",)),
               measures={"sum_qty": ("sum", "qty")})
    path = str(tmp_path / "gs_v")
    mvs = {gs.name: (gs, path)}
    req = AggRequest(keys={"flag": None}, measures={"s": ("sum", "qty")})
    assert route(spark, req, mvs, base)[1] is None, "no committed version"
    gs.store(base, path)
    out, used = route(spark, req, mvs, base)
    assert used == gs.name
    got = {r["flag"]: r["s"] for r in out.collect()}
    direct = {r["flag"]: r["s"] for r in
              base.groupBy("flag").agg(
                  F.sum(F.col("qty").cast("decimal(18,6)")).cast("double")
                  .alias("s")).collect()}
    assert got == direct


# -- identifier validation vs keyword-named columns (ADVICE r05 low item) ---
def test_expr_refs_only_keyword_named_columns(spark):
    from inspectadb_spark.operators.mv import _expr_refs_only

    # a calendar-unit word used as a COLUMN must not slip through
    assert not _expr_refs_only("day", {"ts_day"})
    assert not _expr_refs_only("date_trunc('month', day)", {"ts_day"})
    # ...but IS accepted when it names an actual MV key
    assert _expr_refs_only("day", {"day"})
    assert _expr_refs_only("date_trunc('month', day)", {"day"})
    # identifier-impossible unit positions stay accepted
    assert _expr_refs_only("ts + INTERVAL 1 DAY", {"ts"})
    assert _expr_refs_only("ts + INTERVAL '1' DAY", {"ts"})
    assert _expr_refs_only("extract(month from ts)", {"ts"})
    # unknown plain identifiers still reject
    assert not _expr_refs_only("trunc(other_col, 'month')", {"day"})


def test_grouping_set_mv_count_distinct_routes_via_covering_grain(
        spark, tmp_path_factory):
    """COUNT(DISTINCT key) on a grouping-set MV (VERDICT r8 item 7):
    served by RE-AGGREGATING a declared grain whose key set covers the
    requested keys AND the distinct column — never the exact-grain
    pure-filter path (stored columns cannot hold a distinct count) —
    and refused when no declared grain covers both."""
    base = spark.createDataFrame(
        [("2024-01-01", "A", 1.0), ("2024-01-01", None, 2.0),
         ("2024-01-02", "B", 3.0), ("2024-01-02", "A", 4.0),
         ("2024-01-02", "A", 6.0)],
        "day string, flag string, qty double")
    mv = MVDef(
        name="gsd", keys=("day", "flag"),
        sets=(("day", "flag"), ("flag",), ()),
        measures={"sum_qty": ("sum", "qty"), "cnt": ("count", "*")})
    path = str(tmp_path_factory.mktemp("gsd") / "gsd")
    mv.store(base, path)
    mvs = {mv.name: (mv, path)}

    # distinct flags per day: needs the (day, flag) grain; NULL flag is
    # excluded by COUNT(DISTINCT) on both forms
    req = AggRequest(keys={"day": None},
                     measures={"nf": ("count_distinct", "flag"),
                               "sq": ("sum", "qty")})
    out, used = route(spark, req, mvs, base)
    assert used == mv.name
    got = {r["day"]: (r["nf"], r["sq"]) for r in out.collect()}
    assert got == {"2024-01-01": (1, 3.0), "2024-01-02": (2, 13.0)}

    # exact-grain request WITH a distinct measure still re-aggregates
    # (and is correct): distinct day per (day, flag) group is 1
    req2 = AggRequest(keys={"flag": None},
                      measures={"nd": ("count_distinct", "day")})
    out2, used2 = route(spark, req2, mvs, base)
    assert used2 == mv.name
    got2 = {r["flag"]: r["nd"] for r in out2.collect()}
    assert got2 == {"A": 2, "B": 1, None: 1}

    # refused: a distinct column that is not an MV key at all
    assert route(spark, AggRequest(
        keys={"flag": None},
        measures={"nq": ("count_distinct", "qty")}), mvs, base)[1] is None
