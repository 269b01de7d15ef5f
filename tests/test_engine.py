"""Engine facade (engine.py): layered serving provenance (cache -> MV ->
base), value agreement across every layer, and CDC-style invalidation
through the whole stack. Each layer's own correctness is tested in
test_mv.py / test_result_cache.py; this asserts the COMPOSITION.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inspectadb_spark.engine import Engine, Item, Routable, parse_routable
from inspectadb_spark.operators.mv import AggRequest, MVDef
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("engine")))
    eng.register_mv(
        MVDef(
            name="mv_orders_daily",
            keys=("o_orderdate", "o_orderstatus"),
            measures={"sum_price": ("sum", "o_totalprice"),
                      "cnt": ("count", "*"),
                      "cnt_price": ("count", "o_totalprice")},
        ),
        "orders",
    )
    return eng


@pytest.fixture(scope="module")
def parse(spark):
    """The SQL front-end's matcher on one text."""
    return lambda text: parse_routable(spark, text)


# star-grain summaries the star tests register (re-registering the same
# definition is allowed, so each test can declare what it needs)
MV_ORDERS_BY_CUST = MVDef(
    name="mv_orders_by_cust", keys=("o_custkey",),
    measures={"sum_tp": ("sum", "o_totalprice"), "cnt": ("count", "*"),
              "cnt_tp": ("count", "o_totalprice")})
MV_LI_PART_SUPP = MVDef(
    name="mv_li_part_supp", keys=("l_partkey", "l_suppkey"),
    measures={"sum_ep": ("sum", "l_extendedprice"), "cnt": ("count", "*"),
              "cnt_ep": ("count", "l_extendedprice")})

REQ = AggRequest(
    keys={"o_orderstatus": None},
    measures={"total": ("sum", "o_totalprice"), "n": ("count", "*"),
              "avg_price": ("avg", "o_totalprice")},
)


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_layers_agree_and_provenance_progresses(engine):
    r1, p1 = engine.aggregate("orders", REQ)
    assert p1 == "mv:mv_orders_daily"
    r2, p2 = engine.aggregate("orders", REQ)
    assert p2 == "cache"
    r3, p3 = engine.aggregate("orders", REQ, use_cache=False)
    assert p3 == "mv:mv_orders_daily"
    # unroutable request (distinct grain column not in the MV) -> base
    other = AggRequest(keys={"o_custkey": None},
                       measures={"n": ("count", "*")})
    r4, p4 = engine.aggregate("orders", other, use_cache=False)
    assert p4 == "base"
    direct = engine.sql(
        "SELECT o_orderstatus, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total, "
        "COUNT(*) AS n, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) "
        "AS avg_price FROM orders GROUP BY o_orderstatus")
    assert _rows(r1) == _rows(r2) == _rows(r3) == _rows(direct)
    assert r4.count() > 0


def test_sql_and_table_entry_points(engine):
    n_sql = engine.sql("SELECT COUNT(*) AS n FROM orders").collect()[0]["n"]
    n_df = engine.table("orders").count()
    assert n_sql == n_df > 0


def test_cache_hit_plan_touches_neither_base_nor_mv(engine):
    r, p = engine.aggregate("orders", REQ)
    assert p == "cache"
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "result_cache" in plan
    assert "orders.parquet" not in plan and "mv_orders_daily" not in plan


def test_sql_routed_parses_and_routes(engine):
    df, prov = engine.aggregate("orders", REQ, use_cache=False)
    sdf, sprov = engine.sql_routed(
        "SELECT o_orderstatus, SUM(o_totalprice) AS total, COUNT(*) AS n, "
        "AVG(o_totalprice) AS avg_price FROM orders GROUP BY o_orderstatus")
    assert sprov in ("mv:mv_orders_daily", "cache")
    assert _rows(sdf) == _rows(df)


def test_sql_routed_falls_back_to_full_sql(engine):
    # joins / expressions are outside the grammar -> plain Spark SQL
    df, prov = engine.sql_routed(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
        "WHERE o_totalprice > 0 GROUP BY o_orderstatus")
    assert prov == "sql" and df.count() > 0
    df2, prov2 = engine.sql_routed("SELECT COUNT(*) AS n FROM orders")
    assert prov2 == "sql"


def test_parse_agg_sql_rejects_untrusted_shapes(parse):
    assert parse("SELECT a, SUM(b) AS s FROM t GROUP BY a") is not None
    # key listed in SELECT but not GROUP BY (and vice versa)
    assert parse("SELECT a, b, SUM(c) AS s FROM t GROUP BY a") is None
    # expression keys, missing alias, non-count star
    assert parse(
        "SELECT trunc(a), SUM(b) AS s FROM t GROUP BY trunc(a)") is None
    # COUNT(DISTINCT col) PARSES since round 9 (VERDICT r8 item 7) — the
    # MV layer serves it only for declared grain keys; every other
    # DISTINCT shape still refuses (test_parse_agg_sql_distinct_refusals)
    assert parse("SELECT a, SUM(b) FROM t GROUP BY a") is None
    assert parse("SELECT a, SUM(*) AS s FROM t GROUP BY a") is None


def test_apply_changes_upsert_delete_and_invalidation(spark,
                                                      tmp_path_factory):
    """The docstring's invalidation story, executed: a CDC batch applied to
    orders rewrites the table copy-on-write, after which (a) the fold is
    visible (update + insert + delete), (b) previously-cached aggregates
    MISS (file versions rotated), (c) a registered MV serves stale values
    until refresh_mv."""
    from pyspark.sql import Row

    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("eng2")))
    eng.register_mv(
        MVDef(name="mv_status",
              keys=("o_orderstatus",),
              measures={"cnt": ("count", "*")}),
        "orders")
    req = AggRequest(keys={"o_orderstatus": None},
                     measures={"n": ("count", "*")})
    before, prov0 = eng.aggregate("orders", req)
    n_before = {r["o_orderstatus"]: r["n"] for r in before.collect()}

    orders = eng.table("orders")
    victim, donor = [r for r in orders.limit(2).collect()]
    new_key = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    changes = spark.createDataFrame([
        Row(lsn=1, op="d", **victim.asDict()),
        Row(lsn=2, op="c", **{**donor.asDict(), "o_orderkey": new_key,
                              "o_orderstatus": "Z"}),
    ])
    eng.apply_changes("orders", changes, ["o_orderkey"],
                      refresh_dependents=False)

    # deferred-refresh mode: the MV (and the cache keyed on its files)
    # legitimately serves the PRE-change world — the documented staleness
    # contract, observable via provenance
    stale_df, prov_stale = eng.aggregate("orders", req)
    stale = {r["o_orderstatus"]: r["n"] for r in stale_df.collect()}
    assert "Z" not in stale and prov_stale in ("cache", "mv:mv_status")
    # ...but any BASE-routed plan sees the rotated files immediately
    base_req = AggRequest(keys={"o_orderpriority": None},
                          measures={"n": ("count", "*")})
    base_df, prov_base = eng.aggregate("orders", base_req)
    assert prov_base == "base"
    assert sum(r["n"] for r in base_df.collect()) == \
        sum(n_before.values())  # -1 delete +1 insert

    # refresh rotates the MV files -> cache over them invalidates
    eng.refresh_mv("mv_status")
    after, prov = eng.aggregate("orders", req)
    assert prov != "cache"
    n_after = {r["o_orderstatus"]: r["n"] for r in after.collect()}
    assert n_after["Z"] == 1
    assert n_after[victim["o_orderstatus"]] == \
        n_before[victim["o_orderstatus"]] - 1
    assert sum(n_after.values()) == sum(n_before.values())

    # default mode refreshes dependents in the same call
    changes2 = spark.createDataFrame(
        [Row(lsn=3, op="d", **{**donor.asDict(), "o_orderkey": new_key,
                               "o_orderstatus": "Z"})])
    eng.apply_changes("orders", changes2, ["o_orderkey"])
    final, _ = eng.aggregate("orders", req, use_cache=False)
    assert "Z" not in {r["o_orderstatus"] for r in final.collect()}


def test_grouping_mv_serves_exact_grain_first(spark, tmp_path_factory):
    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("eng3")))
    eng.register_mv(
        MVDef(
            name="gs_orders",
            keys=("o_orderstatus", "o_orderpriority"),
            sets=(("o_orderstatus", "o_orderpriority"),
                  ("o_orderstatus",), ()),
            measures={"sum_price": ("sum", "o_totalprice"),
                      "cnt": ("count", "*")}),
        "orders")
    req = AggRequest(keys={"o_orderstatus": None},
                     measures={"total": ("sum", "o_totalprice"),
                               "n": ("count", "*")})
    df, prov = eng.aggregate("orders", req, use_cache=False)
    assert prov == "gsmv:gs_orders"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan, "exact grain = filter + projection"
    direct = eng.sql(
        "SELECT o_orderstatus, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total, "
        "COUNT(*) AS n FROM orders GROUP BY o_orderstatus")
    assert _rows(df) == _rows(direct)
    # a grain outside the sets but under a declared one re-aggregates
    req2 = AggRequest(keys={"o_orderpriority": None},
                      measures={"n": ("count", "*")})
    df2, prov2 = eng.aggregate("orders", req2, use_cache=False)
    assert prov2 == "gsmv:gs_orders"
    assert df2.count() > 0


def test_apply_changes_idempotent_under_tombstone_redelivery(
        spark, tmp_path_factory):
    """Review finding: a delete for an absent key must not resurrect the
    tombstone payload. Applying the SAME delete batch twice leaves the
    table identical after the first apply."""
    from pyspark.sql import Row

    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("eng4")))
    victim = eng.table("orders").limit(1).collect()[0]
    batch = spark.createDataFrame([Row(lsn=1, op="d", **victim.asDict())])
    n0 = eng.table("orders").count()
    eng.apply_changes("orders", batch, ["o_orderkey"])
    n1 = eng.table("orders").count()
    assert n1 == n0 - 1
    eng.apply_changes("orders", batch, ["o_orderkey"])  # re-delivery
    assert eng.table("orders").count() == n1
    assert eng.table("orders").filter(
        F.col("o_orderkey") == victim["o_orderkey"]).count() == 0


def test_apply_changes_stale_redelivery_matches_streaming_fold(
        spark, tmp_path_factory):
    """A change re-delivered after a newer one for the same key is a no-op:
    an lsn-2 update (price 222) followed by a re-delivered lsn-1 update
    (price 111) leaves 222. The engine and StreamingCdcApply fold one
    batch sequence — that stale re-delivery, a delete of an absent key and
    a re-delivered delete — to the same live rows."""
    from pyspark.sql import Row
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from inspectadb_spark.streaming.cdc_stream import StreamingCdcApply

    wd = tmp_path_factory.mktemp("eng_stale")
    eng = Engine(spark, SF_DIR, str(wd / "engine"))
    orders = eng.table("orders")
    cols = orders.columns
    schema = StructType([*orders.schema.fields,
                         StructField("lsn", LongType()),
                         StructField("op", StringType())])
    upd, gone = [r.asDict() for r in orders.orderBy("o_orderkey")
                 .limit(2).collect()]
    absent = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    key = upd["o_orderkey"]

    def batch(*changes):
        return spark.createDataFrame(
            [Row(**{**row, "lsn": lsn, "op": op}) for lsn, op, row in changes],
            schema)

    batches = [
        batch((2, "u", {**upd, "o_totalprice": 222.0})),
        batch((1, "u", {**upd, "o_totalprice": 111.0})),  # stale
        batch((3, "d", {**upd, "o_orderkey": absent}),
              (4, "d", gone)),
        batch((4, "d", gone)),  # re-delivered delete
    ]

    def price():
        return (eng.table("orders").filter(F.col("o_orderkey") == key)
                .collect()[0]["o_totalprice"])

    eng.apply_changes("orders", batches[0], ["o_orderkey"])
    assert price() == 222.0
    eng.apply_changes("orders", batches[1], ["o_orderkey"])
    assert price() == 222.0, "stale re-delivery overwrote a newer value"
    for b in batches[2:]:
        eng.apply_changes("orders", b, ["o_orderkey"])

    stream = StreamingCdcApply(spark, str(wd / "stream"), ["o_orderkey"])
    seed = orders.select("*", F.lit(0).cast("bigint").alias("lsn"),
                         F.lit("c").alias("op"))
    for i, b in enumerate([seed, *batches]):
        stream._merge_batch(b, i)
    live = _rows(eng.table("orders"))
    assert live == _rows(stream.current_state().select(*cols))
    assert len(live) == orders.count() - 1
    assert not any(r[0] == str(absent) for r in live)


def test_apply_changes_versions_and_derived_grain_refresh(
        spark, tmp_path_factory):
    """Review findings together: (a) table rewrites are versioned —
    consecutive applies never overwrite the files being read; (b) a
    derived-grain MV (base_builder) is refreshed THROUGH its builder by
    apply_changes instead of crashing on the missing derived column."""
    from pyspark.sql import Row

    from inspectadb_spark.operators.mv import MVDef

    wd = str(tmp_path_factory.mktemp("eng5"))
    eng = Engine(spark, SF_DIR, wd)
    eng.register_mv(
        MVDef(name="mv_day", keys=("order_day",),
              measures={"cnt": ("count", "*")}),
        "orders",
        base_builder=lambda df: df.withColumn(
            "order_day", F.date_trunc("day", F.col("o_orderdate"))))
    v1, v2 = [r for r in eng.table("orders").limit(2).collect()]
    for i, victim in enumerate((v1, v2)):
        eng.apply_changes(
            "orders",
            spark.createDataFrame([Row(lsn=i + 1, op="d",
                                       **victim.asDict())]),
            ["o_orderkey"])
    import os as _os

    vdir = _os.path.join(wd, "tables", "orders")
    assert _os.path.exists(_os.path.join(vdir, "CURRENT"))
    assert _os.path.isdir(_os.path.join(vdir, "v2"))
    req = AggRequest(keys={"order_day": None},
                     measures={"n": ("count", "*")})
    df, prov = eng.aggregate(
        "orders", req, use_cache=False,
        base_builder=lambda d: d.withColumn(
            "order_day", F.date_trunc("day", F.col("o_orderdate"))))
    assert prov == "mv:mv_day"
    assert sum(r["n"] for r in df.collect()) == \
        eng.table("orders").count()

    # restart continuity: a fresh Engine on the same work_dir resumes the
    # committed version, not the sf_dir originals
    eng2 = Engine(spark, SF_DIR, wd)
    assert eng2.table("orders").count() == eng.table("orders").count()


def test_parse_agg_sql_rejects_duplicate_aliases_and_counts_nonnull(parse):
    assert parse(
        "SELECT a, SUM(b) AS s, COUNT(*) AS s FROM t GROUP BY a") is None
    # Spark resolves names case-insensitively: s and S collide too
    assert parse(
        "SELECT a, SUM(b) AS s, COUNT(*) AS S FROM t GROUP BY a") is None
    parsed = parse("SELECT a, COUNT(b) AS n FROM t GROUP BY a")
    assert parsed is not None and parsed.items[1] == Item("n", 0, "count", "b")


def test_apply_changes_crash_window_leaves_committed_version(
        spark, tmp_path_factory):
    """Versioned-rewrite crash story: files written for a NEW version
    without the pointer swap (the mid-write crash) must be invisible — a
    fresh Engine still reads the last COMMITTED version."""
    import os as _os

    from pyspark.sql import Row

    wd = str(tmp_path_factory.mktemp("eng6"))
    eng = Engine(spark, SF_DIR, wd)
    victim = eng.table("orders").limit(1).collect()[0]
    eng.apply_changes(
        "orders",
        spark.createDataFrame([Row(lsn=1, op="d", **victim.asDict())]),
        ["o_orderkey"])
    n_committed = eng.table("orders").count()
    # simulate a crash mid-write of v2: version dir exists, pointer not
    # swapped
    v2 = _os.path.join(wd, "tables", "orders", "v2")
    eng.table("orders").limit(5).write.mode("overwrite").parquet(v2)
    eng2 = Engine(spark, SF_DIR, wd)
    assert eng2.table("orders").count() == n_committed
    assert eng2._table_version["orders"] == 1


def test_sql_routed_where_key_and_having(engine):
    """WHERE <key> = literal and HAVING <alias> <cmp> <num> now route
    (VERDICT r04 item 7): hash-equal to the direct Spark SQL, provenance
    still the MV/cache layer, and the plan scans ONLY the summary."""
    routed, prov = engine.sql_routed(
        "SELECT o_orderstatus, SUM(o_totalprice) AS total, COUNT(*) AS n "
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus")
    assert prov in ("mv:mv_orders_daily", "cache")
    # direct comparison off the engine's OWN table handle (the shared
    # `orders` temp view can be re-pointed by other Engine instances on
    # the same SparkSession)
    o = engine.table("orders")
    tot = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    direct = (o.filter("o_orderstatus = 'F'").groupBy("o_orderstatus")
              .agg(F.expr(f"{tot} AS total"), F.expr("COUNT(*) AS n")))
    assert _rows(routed) == _rows(direct) and routed.count() == 1
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "orders.parquet" not in plan

    routed2, prov2 = engine.sql_routed(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
        "GROUP BY o_orderstatus HAVING n > 1")
    assert prov2 in ("mv:mv_orders_daily", "cache")
    direct2 = (o.groupBy("o_orderstatus").agg(F.expr("COUNT(*) AS n"))
               .filter("n > 1"))
    assert _rows(routed2) == _rows(direct2) and routed2.count() > 0

    # combined WHERE + HAVING, multi-term AND
    routed3, prov3 = engine.sql_routed(
        "SELECT o_orderdate, o_orderstatus, COUNT(*) AS n, "
        "SUM(o_totalprice) AS total FROM orders "
        "WHERE o_orderstatus = 'O' AND o_orderstatus = 'O' "
        "GROUP BY o_orderdate, o_orderstatus HAVING n >= 1 AND total > 0")
    assert prov3 in ("mv:mv_orders_daily", "cache")
    direct3 = (o.filter("o_orderstatus = 'O'")
               .groupBy("o_orderdate", "o_orderstatus")
               .agg(F.expr("COUNT(*) AS n"), F.expr(f"{tot} AS total"))
               .filter("n >= 1 AND total > 0"))
    assert _rows(routed3) == _rows(direct3) and routed3.count() > 0


def test_parse_agg_sql_predicate_safety_rules(parse):
    """The refuse-by-default rule survives the grammar growth: anything
    not PROVABLY key-equality WHERE / alias-comparison HAVING rejects."""
    ok = parse("SELECT a, SUM(b) AS s FROM t "
               "WHERE a = 7 GROUP BY a HAVING s > 5")
    assert ok is not None
    assert ok.where == [(0, "a", 7)] and ok.having == [("s", ">", 5)]
    assert ok.order == [] and ok.limit is None
    # WHERE on a non-key column -> not routable
    assert parse("SELECT a, SUM(b) AS s FROM t "
                 "WHERE b = 7 GROUP BY a") is None
    # non-equality WHERE -> not routable
    assert parse("SELECT a, SUM(b) AS s FROM t "
                 "WHERE a > 7 GROUP BY a") is None
    # OR -> not routable (only AND conjunctions parse)
    assert parse("SELECT a, SUM(b) AS s FROM t "
                 "WHERE a = 7 OR a = 8 GROUP BY a") is None
    # HAVING on an undeclared alias / raw aggregate -> not routable
    assert parse("SELECT a, SUM(b) AS s FROM t GROUP BY a "
                 "HAVING x > 5") is None
    assert parse("SELECT a, SUM(b) AS s FROM t GROUP BY a "
                 "HAVING COUNT(*) > 5") is None
    # HAVING against a string literal -> not routable (aggs are numeric)
    assert parse("SELECT a, SUM(b) AS s FROM t GROUP BY a "
                 "HAVING s > 'x'") is None
    # string-literal WHERE values parse
    ok2 = parse("SELECT a, COUNT(*) AS n FROM t "
                "WHERE a = 'x y' GROUP BY a")
    assert ok2 is not None and ok2.where == [(0, "a", "x y")]


def test_sql_routed_order_by_limit(engine, parse):
    """ORDER BY + LIMIT over served columns route as a deterministic
    post-agg top-k; LIMIT without ORDER BY refuses (nondeterministic)."""
    routed, prov = engine.sql_routed(
        "SELECT o_orderdate, o_orderstatus, SUM(o_totalprice) AS total "
        "FROM orders GROUP BY o_orderdate, o_orderstatus "
        "ORDER BY total DESC, o_orderdate ASC, o_orderstatus LIMIT 5")
    assert prov in ("mv:mv_orders_daily", "cache")
    o = engine.table("orders")
    tot = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    direct = (o.groupBy("o_orderdate", "o_orderstatus")
              .agg(F.expr(f"{tot} AS total"))
              .orderBy(F.desc("total"), "o_orderdate", "o_orderstatus")
              .limit(5))
    assert [tuple(str(x) for x in r) for r in routed.collect()] == \
        [tuple(str(x) for x in r) for r in direct.collect()]

    assert parse(
        "SELECT a, SUM(b) AS s FROM t GROUP BY a LIMIT 5") is None
    assert parse(
        "SELECT a, SUM(b) AS s FROM t GROUP BY a ORDER BY zz") is None
    # LIMIT demands a TOTAL order: an ORDER BY that omits a group key can
    # tie at the cut, making the routed top-k diverge from plain SQL
    # (ADVICE r05) — refused; covering every key makes it deterministic.
    assert parse(
        "SELECT a, SUM(b) AS s FROM t GROUP BY a ORDER BY s DESC LIMIT 3"
    ) is None
    ok = parse("SELECT a, SUM(b) AS s FROM t GROUP BY a "
               "ORDER BY s DESC, a LIMIT 3")
    assert ok is not None and ok.order == [("s", True), ("a", False)] \
        and ok.limit == 3
    # ORDER BY without LIMIT never needs the total order
    ok2 = parse(
        "SELECT a, SUM(b) AS s FROM t GROUP BY a ORDER BY s DESC")
    assert ok2 is not None and ok2.order == [("s", True)] \
        and ok2.limit is None


def test_sql_routed_star_join(engine):
    """Single-dimension star aggregates route through eager aggregation
    (VERDICT r05 item 6): the fact aggregates at join-key grain via the
    MV layer, dim attrs broadcast-join onto the grain rows, and the
    re-aggregation is hash-equal to direct Spark SQL with the fact table
    never scanned. Refuse-by-default: no MV declaring the denormalized
    key set -> plain SQL."""
    engine.register_mv(MV_ORDERS_BY_CUST, "orders")
    routed, prov = engine.sql_routed(
        "SELECT c.c_mktsegment, SUM(o.o_totalprice) AS total, "
        "COUNT(*) AS n, AVG(o.o_totalprice) AS avg_price "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment")
    assert prov in ("star:mv:mv_orders_by_cust", "star:cache")
    o, c = engine.table("orders"), engine.table("customer")
    tot = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    direct = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.expr(f"{tot} AS total"), F.expr("COUNT(*) AS n"),
             F.expr(f"{tot} / COUNT(o_totalprice) AS avg_price")))
    assert _rows(routed) == _rows(direct)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "orders.parquet" not in plan  # fact scan fully rewritten away

    # fact-side group col alongside the dim attr still routes (the MV
    # declares the full denormalized key set)
    engine.register_mv(
        MVDef(name="mv_orders_cust_status",
              keys=("o_custkey", "o_orderstatus"),
              measures={"cnt": ("count", "*")}),
        "orders")
    routed2, prov2 = engine.sql_routed(
        "SELECT c.c_mktsegment, o.o_orderstatus, COUNT(*) AS n "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment, o.o_orderstatus")
    assert prov2.startswith("star:")
    direct2 = (o.join(c, o.o_custkey == c.c_custkey)
               .groupBy("c_mktsegment", "o_orderstatus")
               .agg(F.expr("COUNT(*) AS n")))
    assert _rows(routed2) == _rows(direct2)

    # refuse-by-default: measure not derivable from any declared MV
    _, prov3 = engine.sql_routed(
        "SELECT c.c_mktsegment, SUM(o.o_orderkey) AS s "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment")
    assert prov3 == "sql"


def test_parse_star_agg_sql_rejects_unprovable_shapes(parse):
    ok = parse("SELECT d.x, SUM(f.m) AS s FROM fact f JOIN dim d "
               "ON f.k = d.k GROUP BY d.x")
    assert ok == Routable("fact", [("dim", "k", "k")],
                          [Item("x", 1, None, "x"), Item("s", 0, "sum", "m")],
                          [], [], [], None)
    # dim-side equality WHERE parses (filter commutes with the inner
    # join); fact-side / non-equality / unqualified WHERE refuses
    okw = parse("SELECT d.x, SUM(f.m) AS s FROM fact f JOIN dim d "
                "ON f.k = d.k WHERE d.region = 'EU' AND d.tier = 3 "
                "GROUP BY d.x")
    assert okw is not None \
        and okw.where == [(1, "region", "EU"), (1, "tier", 3)]
    assert parse("SELECT d.x, SUM(f.m) AS s FROM fact f JOIN dim d "
                 "ON f.k = d.k WHERE f.m = 3 GROUP BY d.x") is None
    assert parse("SELECT d.x, SUM(f.m) AS s FROM fact f JOIN dim d "
                 "ON f.k = d.k WHERE d.tier > 3 GROUP BY d.x") is None
    assert parse("SELECT d.x, SUM(f.m) AS s FROM fact f JOIN dim d "
                 "ON f.k = d.k WHERE region = 'EU' GROUP BY d.x") is None
    # reversed ON order still resolves the key sides
    assert parse("SELECT d.x, SUM(f.m) AS s FROM fact f JOIN dim d "
                 "ON d.dk = f.fk GROUP BY d.x").joins == [("dim", "fk", "dk")]
    # not provably routable: dim-side measure, unqualified cols, missing
    # alias, GROUP BY mismatch, LEFT JOIN, duplicate output names
    assert parse("SELECT d.x, SUM(d.m) AS s FROM f f2 JOIN d d2 "
                 "ON f2.k = d2.k GROUP BY d.x") is None
    assert parse("SELECT x, SUM(f.m) AS s FROM fact f JOIN dim d "
                 "ON f.k = d.k GROUP BY x") is None
    assert parse("SELECT d.x, SUM(f.m) FROM fact f JOIN dim d "
                 "ON f.k = d.k GROUP BY d.x") is None
    assert parse("SELECT d.x, SUM(f.m) AS s FROM fact f JOIN dim d "
                 "ON f.k = d.k GROUP BY d.x, d.y") is None
    assert parse("SELECT d.x, SUM(f.m) AS s FROM fact f LEFT JOIN dim d "
                 "ON f.k = d.k GROUP BY d.x") is None
    assert parse("SELECT d.x, SUM(f.x) AS x FROM fact f JOIN dim d "
                 "ON f.k = d.k GROUP BY d.x") is None


def test_star_route_serves_post_change_values(spark, tmp_path_factory):
    """CDC invalidation reaches the star path: apply_changes rewrites the
    fact table and refreshes the declaring MV, so the SAME star SQL
    serves post-change values with no extra coordination."""
    from pyspark.sql import Row

    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("eng_star")))
    eng.register_mv(
        MVDef(name="mv_oc", keys=("o_custkey",),
              measures={"cnt": ("count", "*")}),
        "orders")
    sqltext = ("SELECT c.c_mktsegment, COUNT(*) AS n "
               "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
               "GROUP BY c.c_mktsegment")
    before, prov = eng.sql_routed(sqltext)
    assert prov.startswith("star:")
    n_before = {r["c_mktsegment"]: r["n"] for r in before.collect()}

    victim = eng.table("orders").limit(1).collect()[0]
    seg = (eng.table("customer")
           .filter(F.col("c_custkey") == victim["o_custkey"])
           .collect()[0]["c_mktsegment"])
    eng.apply_changes(
        "orders",
        spark.createDataFrame([Row(lsn=1, op="d", **victim.asDict())]),
        ["o_orderkey"])  # default mode refreshes the dependent MV

    after, prov2 = eng.sql_routed(sqltext)
    assert prov2.startswith("star:")
    n_after = {r["c_mktsegment"]: r["n"] for r in after.collect()}
    assert n_after[seg] == n_before[seg] - 1
    assert sum(n_after.values()) == sum(n_before.values()) - 1


def test_star_route_refuses_ambiguous_dim_attr_name(engine, parse):
    """A dim attr named like a fact grain column would make the post-join
    groupBy ambiguous — the route refuses and plain SQL serves it."""
    # the (o_custkey) grain is declared, so each refusal below is the
    # check it names, not a missing summary
    engine.register_mv(MV_ORDERS_BY_CUST, "orders")
    df, prov = engine.sql_routed(
        "SELECT c.c_custkey, SUM(o.o_totalprice) AS total "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_custkey")
    # c_custkey != o_custkey, so this particular text routes fine; the
    # ambiguous case needs identical names on both sides:
    star = parse(
        "SELECT d.k, SUM(f.m) AS s FROM fact f JOIN dim d ON f.k = d.k "
        "GROUP BY d.k")
    assert star is not None  # parses...
    assert star.joins[0][1] == "k" and star.items[0] == Item("k", 1, None, "k")
    # ...but the engine refuses it (name collision with the grain key)
    eng_star = engine._route_star(parse(
        "SELECT c.o_custkey, COUNT(*) AS n "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.o_custkey"))
    assert eng_star is None
    # ...in any letter case (Spark resolves names case-insensitively)
    assert engine._route_star(parse(
        "SELECT c.O_CUSTKEY, COUNT(*) AS n "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.O_CUSTKEY")) is None
    # unknown dim column in WHERE: refused so plain SQL raises the real
    # analysis error instead of the route inventing one
    eng_star2 = engine._route_star(parse(
        "SELECT c.c_mktsegment, COUNT(*) AS n "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE c.no_such_col = 1 GROUP BY c.c_mktsegment"))
    assert eng_star2 is None


def test_star_route_where_dim_attr(engine):
    """WHERE d.attr = lit routes by filtering the broadcast dim before
    the grain join — routed result hash-equals direct Spark SQL, fact
    table still never scanned (VERDICT r6 item 6)."""
    engine.register_mv(
        MVDef(name="mv_orders_by_cust_w", keys=("o_custkey",),
              measures={"sum_tp": ("sum", "o_totalprice"),
                        "cnt": ("count", "*"),
                        "cnt_tp": ("count", "o_totalprice")}),
        "orders")
    routed, prov = engine.sql_routed(
        "SELECT c.c_mktsegment, SUM(o.o_totalprice) AS total, "
        "COUNT(*) AS n "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_mktsegment = 'BUILDING' "
        "GROUP BY c.c_mktsegment")
    assert prov.startswith("star:")
    o, c = engine.table("orders"), engine.table("customer")
    tot = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    direct = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter("c_mktsegment = 'BUILDING'")
        .groupBy("c_mktsegment")
        .agg(F.expr(f"{tot} AS total"), F.expr("COUNT(*) AS n")))
    assert _rows(routed) == _rows(direct)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "orders.parquet" not in plan
    # filter column need not be selected: WHERE on a non-grouped dim attr
    routed2, prov2 = engine.sql_routed(
        "SELECT c.c_mktsegment, COUNT(*) AS n "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_nationkey = 7 "
        "GROUP BY c.c_mktsegment")
    assert prov2.startswith("star:")
    direct2 = (o.join(c, o.o_custkey == c.c_custkey)
               .filter("c_nationkey = 7")
               .groupBy("c_mktsegment").agg(F.expr("COUNT(*) AS n")))
    assert _rows(routed2) == _rows(direct2)
    # fact-side WHERE does not route (plain SQL serves it)
    _, prov3 = engine.sql_routed(
        "SELECT c.c_mktsegment, COUNT(*) AS n "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderstatus = 'F' "
        "GROUP BY c.c_mktsegment")
    assert prov3 == "sql"


def test_sql_routed_star2_join(engine):
    """Two-dimension star aggregates route through the same eager
    aggregation at {k1, k2} grain: dim multiplicities MULTIPLY
    identically in the joined-then-aggregated and aggregated-then-
    joined forms, so the routed result hash-equals direct Spark SQL
    and the fact table is never scanned."""
    engine.register_mv(MV_LI_PART_SUPP, "lineitem")
    routed, prov = engine.sql_routed(
        "SELECT p.p_brand, s.s_nationkey, SUM(l.l_extendedprice) AS rev, "
        "COUNT(*) AS n, AVG(l.l_extendedprice) AS avg_ep "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "GROUP BY p.p_brand, s.s_nationkey")
    assert prov.startswith("star2:")
    li = engine.table("lineitem")
    p, su = engine.table("part"), engine.table("supplier")
    tot = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)"
    direct = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .groupBy("p_brand", "s_nationkey")
        .agg(F.expr(f"{tot} AS rev"), F.expr("COUNT(*) AS n"),
             F.expr(f"{tot} / COUNT(l_extendedprice) AS avg_ep")))
    assert _rows(routed) == _rows(direct)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem.parquet" not in plan  # fact scan rewritten away

    # per-dim WHERE equalities filter each broadcast dim pre-join
    routed2, prov2 = engine.sql_routed(
        "SELECT p.p_brand, s.s_nationkey, COUNT(*) AS n "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "WHERE p.p_size = 10 AND s.s_nationkey = 3 "
        "GROUP BY p.p_brand, s.s_nationkey")
    assert prov2.startswith("star2:")
    direct2 = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .filter("p_size = 10 AND s_nationkey = 3")
        .groupBy("p_brand", "s_nationkey")
        .agg(F.expr("COUNT(*) AS n")))
    assert _rows(routed2) == _rows(direct2)


def test_star2_refusals(engine, parse):
    """Two-dim star refuse-by-default: undeclared key set -> plain SQL;
    fact-side WHERE, dim-dim ON terms and fact-side grain/attr name
    collisions never route."""
    # the (l_partkey, l_suppkey) grain is declared, so each refusal below
    # is the check it names, not a missing summary
    engine.register_mv(MV_LI_PART_SUPP, "lineitem")
    # no MV declares (l_orderkey, l_suppkey) on this engine: plain SQL
    _, prov = engine.sql_routed(
        "SELECT o.o_orderstatus, s.s_nationkey, COUNT(*) AS n "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "GROUP BY o.o_orderstatus, s.s_nationkey")
    assert prov == "sql"
    # fact-side WHERE is not provably routable
    assert parse("SELECT d.a, e.b, COUNT(*) AS n FROM f t "
                 "JOIN d1 d ON t.k1 = d.dk JOIN d2 e ON t.k2 = e.dk "
                 "WHERE t.x = 1 GROUP BY d.a, e.b") is None
    # a dim1-dim2 ON term is not an eager-aggregation star
    assert parse("SELECT d.a, e.b, COUNT(*) AS n FROM f t "
                 "JOIN d1 d ON t.k1 = d.dk JOIN d2 e ON d.k2 = e.dk "
                 "GROUP BY d.a, e.b") is None
    # measures must be fact-side
    assert parse("SELECT d.a, e.b, SUM(d.m) AS s FROM f t "
                 "JOIN d1 d ON t.k1 = d.dk JOIN d2 e ON t.k2 = e.dk "
                 "GROUP BY d.a, e.b") is None
    # parses, but a dim attr named like the grain key refuses in-route
    star = parse("SELECT d.k1, e.b, COUNT(*) AS n FROM f t "
                 "JOIN d1 d ON t.k1 = d.dk JOIN d2 e ON t.k2 = e.dk "
                 "GROUP BY d.k1, e.b")
    assert star is not None
    assert engine._route_star(parse(
        "SELECT p.l_partkey, COUNT(*) AS n "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "GROUP BY p.l_partkey")) is None
    # unknown WHERE column on its dim: refused so plain SQL raises
    assert engine._route_star(parse(
        "SELECT p.p_brand, COUNT(*) AS n "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "WHERE p.no_such_col = 1 GROUP BY p.p_brand")) is None


def test_star_route_having_order_limit(engine, parse):
    """HAVING + ORDER BY + LIMIT on routed star aggregates (VERDICT r7
    item 6): the presentation clauses are pure post-aggregation ops over
    served columns, applied identically to the routed and plain-SQL
    forms; LIMIT routes only under a key-complete ORDER BY and HAVING
    only over declared aggregate aliases."""
    engine.register_mv(
        MVDef(name="mv_orders_by_cust_h", keys=("o_custkey",),
              measures={"sum_tp": ("sum", "o_totalprice"),
                        "cnt": ("count", "*"),
                        "cnt_tp": ("count", "o_totalprice")}),
        "orders")
    routed, prov = engine.sql_routed(
        "SELECT c.c_mktsegment, SUM(o.o_totalprice) AS total, COUNT(*) AS n "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment HAVING n >= 10 "
        "ORDER BY total DESC, c_mktsegment LIMIT 3")
    assert prov.startswith("star:")
    o, c = engine.table("orders"), engine.table("customer")
    tot = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    direct = (o.join(c, o.o_custkey == c.c_custkey)
              .groupBy("c_mktsegment")
              .agg(F.expr(f"{tot} AS total"), F.expr("COUNT(*) AS n"))
              .filter("n >= 10")
              .orderBy(F.desc("total"), "c_mktsegment")
              .limit(3))
    assert [tuple(str(x) for x in r) for r in routed.collect()] == \
        [tuple(str(x) for x in r) for r in direct.collect()]
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "orders.parquet" not in plan  # fact still never scanned
    # plan-quality pin: the presentation clauses compile to a top-k over
    # a post-aggregate filter — never a global sort of the summary
    assert "TakeOrderedAndProject" in plan

    # refusals: HAVING over a key or an expression; LIMIT without a
    # key-complete ORDER BY (ties at the cut could diverge from plain SQL)
    base = ("SELECT d.x, SUM(f.m) AS s FROM fact f JOIN dim d "
            "ON f.k = d.k GROUP BY d.x")
    assert parse(base + " HAVING x > 3") is None
    assert parse(base + " HAVING SUM(m) > 3") is None
    assert parse(base + " LIMIT 5") is None
    assert parse(base + " ORDER BY s DESC LIMIT 5") is None
    assert parse(base + " ORDER BY zz") is None
    ok = parse(base + " HAVING s >= 0 AND s < 100 ORDER BY s DESC, x LIMIT 5")
    assert ok is not None \
        and ok.having == [("s", ">=", 0), ("s", "<", 100)] \
        and ok.order == [("s", True), ("x", False)] and ok.limit == 5
    # star2 carries the same discipline
    base2 = ("SELECT d.a, e.b, COUNT(*) AS n FROM f t "
             "JOIN d1 d ON t.k1 = d.dk JOIN d2 e ON t.k2 = e.dk "
             "GROUP BY d.a, e.b")
    assert parse(base2 + " HAVING a > 3") is None
    assert parse(base2 + " ORDER BY n DESC LIMIT 2") is None
    ok2 = parse(base2 + " HAVING n > 1 ORDER BY n DESC, a, b LIMIT 2")
    assert ok2 is not None and ok2.having == [("n", ">", 1)] \
        and ok2.order == [("n", True), ("a", False), ("b", False)] \
        and ok2.limit == 2


def test_star2_route_having_order_limit(engine):
    """The two-dim star serves HAVING/ORDER BY/LIMIT through the same
    post-aggregation path, value-equal to direct Spark SQL."""
    engine.register_mv(
        MVDef(name="mv_li_ps_h", keys=("l_partkey", "l_suppkey"),
              measures={"cnt": ("count", "*")}),
        "lineitem")
    routed, prov = engine.sql_routed(
        "SELECT p.p_brand, s.s_nationkey, COUNT(*) AS n "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "GROUP BY p.p_brand, s.s_nationkey "
        "HAVING n >= 2 ORDER BY n DESC, p_brand, s_nationkey LIMIT 7")
    assert prov.startswith("star2:")
    li = engine.table("lineitem")
    pt, su = engine.table("part"), engine.table("supplier")
    direct = (li.join(pt, li.l_partkey == pt.p_partkey)
              .join(su, li.l_suppkey == su.s_suppkey)
              .groupBy("p_brand", "s_nationkey")
              .agg(F.expr("COUNT(*) AS n"))
              .filter("n >= 2")
              .orderBy(F.desc("n"), "p_brand", "s_nationkey")
              .limit(7))
    assert [tuple(str(x) for x in r) for r in routed.collect()] == \
        [tuple(str(x) for x in r) for r in direct.collect()]
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem.parquet" not in plan


def test_sql_routed_count_distinct_grain_key(engine):
    """COUNT(DISTINCT <grain col>) routes through the grain MV when the
    MV's declared key set contains the column (VERDICT r8 item 7):
    exactness is structural — the summary's rows enumerate every
    distinct (o_orderdate, o_orderstatus) combination of the base, so
    re-counting distinct dates per status over the summary equals the
    base — and the plan must scan ONLY the summary."""
    routed, prov = engine.sql_routed(
        "SELECT o_orderstatus, COUNT(DISTINCT o_orderdate) AS n_days, "
        "COUNT(*) AS n FROM orders GROUP BY o_orderstatus")
    assert prov in ("mv:mv_orders_daily", "cache")
    o = engine.table("orders")
    direct = (o.groupBy("o_orderstatus")
              .agg(F.countDistinct("o_orderdate").alias("n_days"),
                   F.count("*").alias("n")))
    assert _rows(routed) == _rows(direct) and routed.count() > 0
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "orders.parquet" not in plan

    # presentation clauses compose with the distinct count
    routed2, prov2 = engine.sql_routed(
        "SELECT o_orderstatus, COUNT(DISTINCT o_orderdate) AS n_days "
        "FROM orders GROUP BY o_orderstatus HAVING n_days >= 1 "
        "ORDER BY n_days DESC, o_orderstatus LIMIT 2")
    assert prov2 in ("mv:mv_orders_daily", "cache")
    direct2 = (o.groupBy("o_orderstatus")
               .agg(F.countDistinct("o_orderdate").alias("n_days"))
               .filter("n_days >= 1")
               .orderBy(F.desc("n_days"), "o_orderstatus").limit(2))
    assert [tuple(str(x) for x in r) for r in routed2.collect()] == \
        [tuple(str(x) for x in r) for r in direct2.collect()]


def test_count_distinct_non_key_column_refuses_mv(engine):
    """Refuse-by-default holds: DISTINCT over a column the MV does NOT
    declare as a grain key must not be served from the summary — the
    base fallback answers (exactly), provenance 'base'."""
    # o_orderpriority is not a grain key of ANY MV this module
    # registers on the shared engine (o_custkey IS — mv_orders_cust_*)
    routed, prov = engine.sql_routed(
        "SELECT o_orderstatus, COUNT(DISTINCT o_orderpriority) AS n_pri "
        "FROM orders GROUP BY o_orderstatus")
    assert prov == "base"
    o = engine.table("orders")
    direct = (o.groupBy("o_orderstatus")
              .agg(F.countDistinct("o_orderpriority").alias("n_pri")))
    assert _rows(routed) == _rows(direct) and routed.count() > 0


def test_parse_agg_sql_distinct_refusals(parse):
    """Grammar refusals: DISTINCT is routable ONLY as COUNT(DISTINCT
    <column>); every other DISTINCT shape falls through to plain SQL."""
    ok = parse("SELECT a, COUNT(DISTINCT b) AS d FROM t GROUP BY a")
    assert ok is not None
    assert ok.items[1] == Item("d", 0, "count_distinct", "b")
    assert parse(
        "SELECT a, SUM(DISTINCT b) AS s FROM t GROUP BY a") is None
    assert parse(
        "SELECT a, AVG(DISTINCT b) AS s FROM t GROUP BY a") is None
    assert parse(
        "SELECT a, MIN(DISTINCT b) AS s FROM t GROUP BY a") is None
    assert parse(
        "SELECT a, COUNT(DISTINCT *) AS s FROM t GROUP BY a") is None


def test_routed_sql_preserves_select_list_order(engine, spark):
    """A positional consumer must see the same column order whether the
    statement routed or fell through to plain SQL."""
    text = ("SELECT SUM(o_totalprice) AS s, o_orderstatus "
            "FROM orders GROUP BY o_orderstatus")
    routed, prov = engine.sql_routed(text)
    plain = spark.sql(text)
    assert routed.columns == plain.columns == ["s", "o_orderstatus"]


def test_mv_name_collision_across_registries_raises(spark,
                                                    tmp_path_factory):
    """One registry, one storage path per name: a taken name with a
    different definition (here the same grain declared as a set) raises
    instead of serving one definition from the other's parquet."""
    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("engdup")))
    eng.register_mv(
        MVDef(name="dup_name", keys=("o_orderstatus",),
              measures={"n": ("count", "*")}), "orders")
    with pytest.raises(ValueError, match="already registered"):
        eng.register_mv(
            MVDef(name="dup_name", keys=("o_orderstatus",),
                  sets=(("o_orderstatus",),),
                  measures={"n": ("count", "*")}), "orders")


def test_star_route_serves_from_multi_grain_summary(spark,
                                                    tmp_path_factory):
    """A star aggregate over a fact whose only summary declares several
    grains routes when one declared set covers the grain keys: the
    (o_custkey) set serves the grain read, and the rows equal plain SQL."""
    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("eng_star_gs")))
    eng.register_mv(
        MVDef(name="gs_cust", keys=("o_custkey", "o_orderstatus"),
              sets=(("o_custkey", "o_orderstatus"), ("o_custkey",), ()),
              measures={"sum_tp": ("sum", "o_totalprice"),
                        "cnt": ("count", "*"),
                        "max_tp": ("max", "o_totalprice")}),
        "orders")
    routed, prov = eng.sql_routed(
        "SELECT c.c_mktsegment, SUM(o.o_totalprice) AS total, "
        "COUNT(*) AS n, MAX(o.o_totalprice) AS top "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment")
    assert prov == "star:gsmv:gs_cust"
    plain = eng.sql(
        "SELECT c.c_mktsegment, "
        "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,"
        " COUNT(*) AS n, MAX(o.o_totalprice) AS top "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment")
    assert _rows(routed) == _rows(plain) and routed.count() > 0


def test_mixed_registry_serves_exact_set_and_flat_only_measures(
        spark, tmp_path_factory):
    """A flat and a multi-grain summary on one base share one registry:
    a request at a declared set is projected from the multi-grain summary
    (its exact grain beats the flat summary's re-aggregation), and a
    request only the flat summary can derive routes to it."""
    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("eng_mixed")))
    eng.register_mv(
        MVDef(name="mv_mix_daily", keys=("o_orderdate", "o_orderstatus"),
              measures={"sum_price": ("sum", "o_totalprice"),
                        "cnt": ("count", "*")}),
        "orders")
    eng.register_mv(
        MVDef(name="gs_mix", keys=("o_orderstatus", "o_orderpriority"),
              sets=(("o_orderstatus", "o_orderpriority"),
                    ("o_orderstatus",), ()),
              measures={"sum_price": ("sum", "o_totalprice"),
                        "cnt": ("count", "*")}),
        "orders")
    exact, prov = eng.aggregate("orders", AggRequest(
        keys={"o_orderstatus": None},
        measures={"total": ("sum", "o_totalprice"), "n": ("count", "*")}),
        use_cache=False)
    assert prov == "gsmv:gs_mix"
    plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan, "exact set = filter + projection"
    assert _rows(exact) == _rows(eng.sql(
        "SELECT o_orderstatus, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total, "
        "COUNT(*) AS n FROM orders GROUP BY o_orderstatus"))
    flat, prov2 = eng.aggregate("orders", AggRequest(
        keys={"o_orderstatus": None},
        measures={"n_days": ("count_distinct", "o_orderdate")}),
        use_cache=False)
    assert prov2 == "mv:mv_mix_daily"
    assert _rows(flat) == _rows(eng.sql(
        "SELECT o_orderstatus, COUNT(DISTINCT o_orderdate) AS n_days "
        "FROM orders GROUP BY o_orderstatus"))


def test_sql_routed_parses_unparseable_text_once(engine):
    """A text Spark cannot parse raises Spark's ParseException after ONE
    parse. pyspark logs each captured parse failure at ERROR with its Java
    trace, so parsing again for plain SQL logged every failure twice."""
    import logging

    from pyspark.errors import ParseException
    from pyspark.logger import PySparkLogger

    records = []
    handler = logging.Handler()
    handler.emit = records.append
    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    logger.addHandler(handler)
    try:
        with pytest.raises(ParseException):
            engine.sql_routed(
                "SELECT o_orderstatus, SUM(o_totalprice) AS s FROM orders "
                "GROUP BY o_orderstatus HAVING s > 1e999")
    finally:
        logger.removeHandler(handler)
    assert len(records) == 1


@pytest.fixture(scope="module")
def spelling_engine(spark, tmp_path_factory):
    """An engine with one flat MV and one star-grain MV on orders, plus a
    fact/dim pair sharing the join column name ``k`` (for USING)."""
    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("eng_spell")))
    measures = {"sum_tp": ("sum", "o_totalprice"), "cnt": ("count", "*"),
                "cnt_tp": ("count", "o_totalprice")}
    eng.register_mv(MVDef(name="mv_sp_status", keys=("o_orderstatus",),
                          measures=measures), "orders")
    eng.register_mv(MVDef(name="mv_sp_cust", keys=("o_custkey",),
                          measures=measures), "orders")
    eng.tables["fact_h"] = eng.table("orders").select(
        F.col("o_custkey").alias("k"), "o_totalprice")
    eng.tables["dim_h"] = eng.table("customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment")
    for name in ("fact_h", "dim_h"):
        eng.tables[name].createOrReplaceTempView(name)
    eng.register_mv(MVDef(name="mv_sp_k", keys=("k",),
                          measures={"cnt": ("count", "*")}), "fact_h")
    return eng


FLAT_CANON = ("SELECT o_orderstatus, SUM(o_totalprice) AS total, "
              "COUNT(*) AS n FROM orders GROUP BY o_orderstatus "
              "HAVING n <> 0")
STAR_CANON = ("SELECT c.c_mktsegment, SUM(o.o_totalprice) AS total, "
              "COUNT(*) AS n FROM orders o "
              "JOIN customer c ON o.o_custkey = c.c_custkey "
              "GROUP BY c.c_mktsegment HAVING n <> 0")


def _spellings(canon):
    """The same statement written five other ways."""
    return [
        canon.replace("SELECT", "select").replace("FROM", "from")
        .replace("JOIN", "join").replace(" ON ", " on ")
        .replace("GROUP BY", "group by").replace("HAVING", "having"),
        canon.replace(" AS total", " total").replace(" AS n", " n"),
        canon.replace("COUNT(*)", "COUNT(1)"),
        canon.replace(", SUM", ", -- the measures\n  SUM")
        .replace(" FROM", "\nFROM")
        .replace(" GROUP BY", " -- grain\nGROUP BY"),
        canon.replace("<>", "!="),
    ]


def test_sql_routed_spellings_route_alike(spelling_engine):
    """Every spelling Spark parses to one tree routes like the canonical
    text: same provenance, same rows. Each canonical text is served twice
    first, so its provenance is the cache hit; a spelling that reaches the
    same routed plan hits that cache entry too."""
    eng = spelling_engine
    for canon, prov_want in ((FLAT_CANON, "cache"),
                             (STAR_CANON, "star:cache")):
        eng.sql_routed(canon)
        want, prov = eng.sql_routed(canon)
        assert prov == prov_want
        rows = _rows(want)
        for text in _spellings(canon):
            got, prov = eng.sql_routed(text)
            assert prov == prov_want, text
            assert _rows(got) == rows, text


def test_sql_routed_refuses_parse_tree_hazards(spelling_engine, parse):
    """Texts whose parse tree could mislead the matcher run as plain SQL:
    backquoted names (toJSON prints `d, x` like d.x), literals whose
    printed value does not round-trip (binary, NULL), a non-default null
    order, a hint, a CTE, a USING join and an aggregate FILTER. The
    unhazarded neighbour of each routes, so the refusal is the hazard's."""
    eng = spelling_engine
    flat = ("SELECT o_orderstatus, COUNT(*) AS n FROM orders "
            "GROUP BY o_orderstatus")
    star = ("SELECT d.c_mktsegment, COUNT(*) AS n FROM fact_h f "
            "JOIN dim_h d ON f.k = d.k GROUP BY d.c_mktsegment")
    assert eng.sql_routed(flat)[1] != "sql"
    assert eng.sql_routed(star)[1].startswith("star:")
    hazards = [
        flat.replace("GROUP BY o_orderstatus", "GROUP BY `o_orderstatus`"),
        flat.replace("GROUP BY", "WHERE o_orderstatus = X'0A' GROUP BY"),
        flat.replace("GROUP BY", "WHERE o_orderstatus = NULL GROUP BY"),
        flat + " HAVING n > NULL",
        flat + " ORDER BY n DESC NULLS FIRST, o_orderstatus",
        flat + " ORDER BY o_orderstatus ASC NULLS LAST",
        flat.replace("SELECT", "SELECT /*+ REPARTITION(2) */"),
        "WITH x AS (SELECT 1 AS one) " + flat,
        star.replace("ON f.k = d.k", "USING (k)"),
        flat.replace("COUNT(*)", "COUNT(*) FILTER (WHERE o_totalprice > 0)"),
    ]
    for text in hazards:
        assert eng.sql_routed(text)[1] == "sql", text
    # the qualified-name forgery itself: `f, k` prints like f.k
    assert parse("SELECT d.x, COUNT(*) AS n FROM fact f JOIN dim d "
                 "ON `f, k` = d.k GROUP BY d.x") is None
