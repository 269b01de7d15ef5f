"""Streaming verification S1–S6 (SURVEY.md §5.4).

Prefix-consistency harness: the events table is replayed as k parquet chunks
(file source, maxFilesPerTrigger=1, availableNow trigger); after the stream
drains, sink contents must equal the batch run over the same files — except
where watermark semantics *intend* divergence (S1 late-data drop, asserted
via StreamingQueryProgress state metrics).
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from inspectadb_spark.operators.sessionize import sessionize
from inspectadb_spark.streaming import (
    StreamingCdcApply,
    session_agg,
    sliding_agg,
    stream_dedup,
    tumbling_agg,
)
from tests.conftest import SF_DIR

# r14 driver fast lane (pytest.ini): streaming micro-batch soak suites
# (S1-S70); batch twins of every operator stay in the fast lane —
# builder-run each round with -m ""
pytestmark = pytest.mark.slow

N_CHUNKS = 7


def _events_table() -> pa.Table:
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    # → µs UTC-aware so Spark streams it as TimestampType. ns-encoded corpora
    # floor-divide the raw nanos (same truncation as the batch source's
    # `ts div 1000`, §1.3.1); µs-encoded corpora just re-tag the zone.
    if pa.types.is_timestamp(t.column("ts").type):
        micros = pc.cast(t.column("ts"), pa.timestamp("us"))
        ts = pc.assume_timezone(micros, "UTC")
    else:
        nanos = pc.cast(t.column("ts"), pa.int64())
        micros = pc.divide(nanos, pa.scalar(1000, pa.int64()))
        ts = pc.cast(micros, pa.timestamp("us", tz="UTC"))
    return t.set_column(t.schema.get_field_index("ts"), "ts", ts)


@pytest.fixture(scope="module")
def replay_dir(tmp_path_factory):
    """events split into N_CHUNKS row-range files, mtime-ordered."""
    d = tmp_path_factory.mktemp("events_replay")
    t = _events_table()
    n = t.num_rows
    step = (n + N_CHUNKS - 1) // N_CHUNKS
    now = time.time()
    for i in range(N_CHUNKS):
        chunk = t.slice(i * step, step)
        p = str(d / f"chunk{i:02d}.parquet")
        pq.write_table(chunk, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _stream(spark, path):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _drain(df, name, mode="complete"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


# --------------------------------------------------------------------------
# S2 tumbling window agg ≡ batch (Q49 analog)
def test_s2_tumbling(spark, replay_dir):
    stream = tumbling_agg(_stream(spark, replay_dir))
    _drain(stream, "s2")
    batch = tumbling_agg(spark.read.parquet(replay_dir))
    assert _rows(spark.table("s2")) == _rows(batch)


# S2b sliding window agg ≡ batch (Q50 analog)
def test_s2b_sliding(spark, replay_dir):
    stream = sliding_agg(_stream(spark, replay_dir))
    _drain(stream, "s2b")
    batch = sliding_agg(spark.read.parquet(replay_dir))
    assert _rows(spark.table("s2b")) == _rows(batch)


# S4 session windows ≡ batch sessionize (Q48 analog; end = last + gap)
def test_s4_session_window(spark, replay_dir):
    stream = session_agg(_stream(spark, replay_dir), gap="30 minutes")
    _drain(stream, "s4")
    got = spark.table("s4").select(
        "user_id",
        "start_ts",
        (F.col("end_gap") - F.expr("INTERVAL 30 MINUTE")).alias("end_ts"),
        "n",
    )
    batch = (
        sessionize(spark.read.parquet(replay_dir), "user_id", "ts", "event_id",
                   "INTERVAL 30 MINUTE")
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"),
             F.count("*").alias("n"))
        .select("user_id", "start_ts", "end_ts", "n")
    )
    assert _rows(got) == _rows(batch)


# S3 streaming dedup: doubled input collapses to distinct event_ids
def test_s3_dedup(spark, replay_dir, tmp_path):
    doubled = str(tmp_path / "doubled")
    os.makedirs(doubled)
    now = time.time()
    i = 0
    for f in sorted(os.listdir(replay_dir)):
        for copy in ("a", "b"):
            dst = os.path.join(doubled, f"{copy}_{f}")
            with open(os.path.join(replay_dir, f), "rb") as src, open(dst, "wb") as out:
                out.write(src.read())
            os.utime(dst, (now + i, now + i))
            i += 1
    stream = stream_dedup(_stream(spark, doubled), ["event_id"], watermark=None)
    _drain(stream.select("event_id"), "s3", mode="append")
    n_distinct = spark.read.parquet(replay_dir).select("event_id").distinct().count()
    assert spark.table("s3").count() == n_distinct


# S3b dropDuplicatesWithinWatermark: re-sent records with re-stamped event
# times (within the delay) still dedup — plain dropDuplicates would keep both.
def test_s3b_dedup_within_watermark(spark, tmp_path):
    import datetime as dt

    def ts(sec):
        return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=sec)

    schema = "event_id bigint, ts timestamp"
    first = [(1, ts(0)), (2, ts(10))]
    resend = [(1, ts(120)), (3, ts(130))]  # id 1 re-stamped 2 min later
    d = str(tmp_path / "dw")
    os.makedirs(d)
    now = time.time()
    for i, rows in enumerate([first, resend]):
        p = str(tmp_path / f"st{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(p)
        part = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        dst = os.path.join(d, f"f{i}.parquet")
        os.rename(os.path.join(p, part), dst)
        os.utime(dst, (now + i, now + i))

    src = spark.readStream.schema(
        spark.read.parquet(d).schema
    ).option("maxFilesPerTrigger", 1).parquet(d)
    out = stream_dedup(src, ["event_id"], watermark="10 minutes",
                       within_watermark=True)
    _drain(out.select("event_id"), "s3b", mode="append")
    assert sorted(r[0] for r in spark.table("s3b").collect()) == [1, 2, 3]


# S1 watermark late-data drop: old chunk arriving after new chunks is dropped.
# Two empirically verified Spark subtleties this layout accounts for:
#   (a) the watermark used to FILTER batch N is the one computed from data up
#       to batch N-2 (one-batch propagation lag) — hence a small "advancer"
#       file between the new data and the late file;
#   (b) numRowsDroppedByWatermark counts post-partial-agg GROUPS, not raw
#       input rows — hence the distinct-(window, key) expectation.
def test_s1_watermark_late_drop(spark, tmp_path):
    import datetime as dt

    d = str(tmp_path / "late")
    os.makedirs(d)
    t = _events_table()
    cutoff = pa.scalar(dt.datetime(2024, 1, 3, tzinfo=dt.timezone.utc))
    mask_new = pc.greater_equal(t.column("ts"), cutoff)
    new_part = t.filter(mask_new)
    old_part = t.filter(pc.invert(mask_new))
    assert new_part.num_rows > 0 and old_part.num_rows > 0
    now = time.time()
    for i, (name, part) in enumerate(
        [("a_new", new_part), ("b_adv", new_part.slice(0, 1)), ("c_old", old_part)]
    ):
        p = os.path.join(d, f"{name}.parquet")
        pq.write_table(part, p)
        os.utime(p, (now + i, now + i))

    stream = tumbling_agg(_stream(spark, d), watermark="1 hour")
    q = _drain(stream, "s1", mode="update")
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    hour = pc.floor_temporal(old_part.column("ts"), unit="hour")
    groups = pa.table(
        {"w": hour, "k": old_part.column("event_type")}
    ).group_by(["w", "k"]).aggregate([]).num_rows
    assert dropped == groups
    # no window older than the cutoff day ever reached the sink
    min_w = spark.table("s1").agg(F.min("w")).first()[0]
    assert min_w >= dt.datetime(2024, 1, 3)


# Rate source (§2.2a deterministic-ish stream fixture): generates monotonic
# (timestamp, value) rows; windowed agg over it must drain and cover every
# generated value exactly once.
def test_rate_source_smoke(spark):
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
    )
    agg = stream.groupBy((F.col("value") % 10).alias("bucket")).agg(
        F.count("*").alias("n"), F.sum("value").alias("s")
    )
    # rate rows accrue in wall-clock time, so run briefly rather than
    # availableNow (which would see an empty source at t=0)
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("complete")
        .start()
    )
    deadline = time.time() + 30
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.5)
    q.processAllAvailable()
    q.stop()
    rows = spark.table("rate_smoke").collect()
    total = sum(r["n"] for r in rows)
    assert total > 0
    # values are 0..total-1 exactly once: bucket sums reconstruct the series
    assert sum(r["s"] for r in rows) == total * (total - 1) // 2


# Streaming parquet file sink (append mode + checkpoint): the durable-sink
# path — exactly-once via the sink's commit log, re-readable as a table.
def test_parquet_sink_append(spark, replay_dir, tmp_path):
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    stream = _stream(spark, replay_dir).select("event_id", "event_type", "value")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    back = spark.read.parquet(out)
    src = spark.read.parquet(replay_dir)
    assert back.count() == src.count()
    assert sorted(r[0] for r in back.select("event_id").collect()) == sorted(
        r[0] for r in src.select("event_id").collect()
    )


# S5 stream–static enrichment join
def test_s5_stream_static_join(spark, replay_dir):
    dim = spark.createDataFrame(
        [("click", 1), ("purchase", 2), ("error", 3), ("signup", 4), ("view", 5)],
        ["event_type", "code"],
    )
    stream = _stream(spark, replay_dir).join(dim, "event_type")
    _drain(stream.select("event_id", "code"), "s5", mode="append")
    batch_n = spark.read.parquet(replay_dir).join(dim, "event_type").count()
    assert spark.table("s5").count() == batch_n


# S5b stream–stream time-bounded join (clicks within 1h before purchase)
def test_s5b_stream_stream_join(spark, replay_dir):
    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        c = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        return p, c

    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    sp, sc = split(_stream(spark, replay_dir))
    stream = sp.withWatermark("p_ts", "2 hours").join(
        sc.withWatermark("c_ts", "2 hours"), cond
    )
    _drain(stream.select("p_id", "c_id"), "s5b", mode="append")
    bp, bc = split(spark.read.parquet(replay_dir))
    batch_n = bp.join(bc, cond).count()
    assert spark.table("s5b").count() == batch_n


# S5c stream–stream LEFT OUTER join: unmatched left rows must emit with null
# extension once the watermark passes their join window. Outer results only
# materialize when BOTH sides' watermarks advance beyond the bound, so the
# replay appends two far-future "pusher" files (watermark propagation also
# lags one batch — see S1).
def test_s5c_stream_stream_left_outer(spark, tmp_path):
    import datetime as dt

    def ts(sec):
        return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=sec)

    main = [
        (1, ts(150), 100, "click", 1.0, "{}"),
        (2, ts(200), 100, "purchase", 2.0, "{}"),   # matches click@150 (50s gap)
        (3, ts(300), 200, "purchase", 3.0, "{}"),   # user 200 never clicks
        (4, ts(500), 300, "purchase", 4.0, "{}"),
        (5, ts(10_000), 300, "click", 5.0, "{}"),   # click AFTER purchase: no match
    ]
    push1 = [(90, ts(1_000_000), 999, "click", 0.0, "{}"),
             (91, ts(1_000_000), 999, "purchase", 0.0, "{}")]
    push2 = [(92, ts(2_000_000), 999, "click", 0.0, "{}"),
             (93, ts(2_000_000), 999, "purchase", 0.0, "{}")]
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    d = str(tmp_path / "so")
    os.makedirs(d)
    now = time.time()
    for i, rows in enumerate([main, push1, push2]):
        p = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(p)
        part = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        dst = os.path.join(d, f"f{i}.parquet")
        os.rename(os.path.join(p, part), dst)
        os.utime(dst, (now + i, now + i))

    def sides(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        c = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        return p, c

    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    src = spark.readStream.schema(
        spark.read.parquet(d).schema
    ).option("maxFilesPerTrigger", 1).parquet(d)
    sp, sc = sides(src)
    joined = sp.withWatermark("p_ts", "30 seconds").join(
        sc.withWatermark("c_ts", "30 seconds"), cond, "leftOuter"
    )
    _drain(joined.select("p_id", "c_id"), "s5c", mode="append")
    got = {(r["p_id"], r["c_id"]) for r in spark.table("s5c").collect()
           if r["p_id"] < 90}
    assert got == {(2, 1), (3, None), (4, None)}
def test_s6_stateful(spark, replay_dir):
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, total bigint"
    state_schema = "total bigint"

    def track(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "total": [total]})

    stream = (
        _stream(spark, replay_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    _drain(stream, "s6", mode="update")
    # updates are monotone per user: final value = max
    got = spark.table("s6").groupBy("user_id").agg(F.max("total").alias("total"))
    batch = spark.read.parquet(replay_dir).groupBy("user_id").agg(
        F.count("*").alias("total")
    )
    assert _rows(got) == _rows(batch)


# S7 streaming CDC apply ≡ batch apply_changelog (tombstone-correct)
def test_s7_streaming_cdc_apply(spark, tmp_path):
    from inspectadb_spark.operators.cdc import apply_changelog
    from inspectadb_spark.sources.cdc import derive_cdc_orders
    from inspectadb_spark.queries.registry import tables

    cdc = derive_cdc_orders(tables(spark, SF_DIR)["orders"])
    # write as chunks split by lsn ranges (interleaves ops across chunks)
    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    rows = cdc.orderBy("lsn").collect()
    step = (len(rows) + 4) // 5
    schema = cdc.schema
    now = time.time()
    for i in range(5):
        chunk = rows[i * step:(i + 1) * step]
        if not chunk:
            continue
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"stage{i}"))
        part = [f for f in os.listdir(str(tmp_path / f"stage{i}")) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"c{i:02d}.parquet")
        os.rename(os.path.join(str(tmp_path / f"stage{i}"), part), dst)
        os.utime(dst, (now + i, now + i))

    applier = StreamingCdcApply(spark, str(tmp_path / "state"), ["o_orderkey"])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = applier.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    q.stop()

    got = applier.current_state().select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    want = apply_changelog(cdc, ["o_orderkey"]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    assert _rows(got) == _rows(want)


# --------------------------------------------------------------------------
# S9 streaming training pipeline: stateless ops (deterministic hash-sample ->
# repetition-quality gate -> chunking) compose over an unbounded source and
# replay-match the batch run exactly (append mode, no state, no watermark —
# each micro-batch is embarrassingly parallel, the 100 TB ingest shape).
def test_s9_streaming_training_pipeline(spark, tmp_path):
    from inspectadb_spark.operators import pipeline as P

    src = str(tmp_path / "docs_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    def pipe(docs):
        kept = P.hash_sample(docs, "01234567")  # ~50%
        scored = P.word_repetition(kept).filter("rep_ratio <= 0.8")
        return P.chunk_documents(
            kept.join(scored.select("doc_id"), "doc_id"), size=120, step=90
        )

    schema = spark.read.parquet(src).schema
    stream = pipe(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    _drain(stream, "s9", mode="append")
    batch = pipe(spark.read.parquet(src))
    got, want = _rows(spark.table("s9")), _rows(batch)
    assert len(got) > 0
    assert got == want


# --------------------------------------------------------------------------
# S10 chained stateful operators: tumbling 15-min counts re-aggregated to
# 1-hour windows INSIDE one streaming query (Spark >= 3.4 multiple stateful
# ops). Stream result must equal the same two-level agg run in batch.
def test_s10_chained_window_aggs(spark, replay_dir):
    def two_level(df):
        lvl1 = (
            df.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type")
            .agg(F.count("*").alias("n"))
        )
        return (
            # re-window on the WINDOW STRUCT itself — that is what carries
            # the event-time marker through to the second stateful operator
            lvl1.groupBy(
                F.window(F.col("w15"), "1 hour").alias("w60"), "event_type"
            )
            .agg(F.sum("n").alias("n"))
            .select(
                F.col("w60.start").alias("wstart"), "event_type", "n"
            )
        )

    stream = two_level(_stream(spark, replay_dir))
    _drain(stream, "s10", mode="append")
    # batch analog: same two-level plan; append mode only emits windows the
    # final watermark (= max event time, 0s delay) has closed, so the last
    # still-open hour is correctly withheld by the stream — filter it here.
    raw = spark.read.parquet(replay_dir)
    max_ts = raw.agg(F.max("ts")).first()[0]
    batch = (
        raw
        .groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type")
        .agg(F.count("*").alias("n"))
        .groupBy(F.window(F.col("w15"), "1 hour").alias("w60"), "event_type")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("w60.end") <= F.lit(max_ts))
        .select(F.col("w60.start").alias("wstart"), "event_type", "n")
    )
    got, want = _rows(spark.table("s10")), _rows(batch)
    assert len(got) > 0
    assert got == want


# --------------------------------------------------------------------------
# S11 CSV streaming source: schema-explicit CSV file stream drains to the
# same result as the batch CSV read (ingest-format coverage beyond parquet).
def test_s11_csv_stream_source(spark, tmp_path):
    src = str(tmp_path / "csv_in")
    os.makedirs(src)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    pdf = docs.toPandas().sort_values("doc_id")
    half = len(pdf) // 2
    now = time.time()
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        p = f"{src}/part{i}.csv"
        part.to_csv(p, index=False, header=False)
        os.utime(p, (now + i, now + i))

    schema = "doc_id BIGINT, lang STRING, n_chars BIGINT"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(src)
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
    )
    _drain(stream, "s11", mode="complete")
    batch = (
        spark.read.schema(schema).csv(src)
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
    )
    assert _rows(spark.table("s11")) == _rows(batch)
    assert spark.table("s11").count() > 0


# --------------------------------------------------------------------------
# S12 checkpoint restart, exactly-once: drain part of the input, stop, add
# more files, restart from the SAME checkpoint into the SAME parquet sink —
# every record lands exactly once (no re-read of committed files, no loss).
def test_s12_checkpoint_restart_exactly_once(spark, replay_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    src = str(tmp_path / "src")
    os.makedirs(src)
    files = sorted(os.listdir(replay_dir))
    now = time.time()

    def add(names, base):
        for i, f in enumerate(names):
            dst = os.path.join(src, f)
            with open(os.path.join(replay_dir, f), "rb") as a, open(dst, "wb") as b:
                b.write(a.read())
            os.utime(dst, (base + i, base + i))

    def run_once():
        q = (
            _stream(spark, src)
            .select("event_id", "user_id")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    add(files[:3], now)
    run_once()
    n_first = spark.read.parquet(sink).count()
    add(files[3:], now + 100)
    run_once()

    got = spark.read.parquet(sink)
    want = spark.read.parquet(replay_dir)
    assert n_first < got.count()  # second run appended only the new files
    assert got.count() == want.count()
    # exactly once: no event_id duplicated, none missing
    assert got.select("event_id").distinct().count() == want.count()


# S13 sink maintenance: a replayed stream leaves one file per micro-batch;
# compaction rewrites the sink directory to target-sized files with
# identical contents — the periodic OPTIMIZE pass a 100 TB streaming
# pipeline schedules between checkpoints.
def test_s13_sink_compaction_preserves_stream_output(spark, replay_dir, tmp_path):
    import glob

    from inspectadb_spark.operators.maintenance import compact, input_file_sizes

    out = str(tmp_path / "s13_out")
    ckpt = str(tmp_path / "s13_ckpt")
    stream = _stream(spark, replay_dir).select("event_id", "event_type", "value")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .option("maxFilesPerTrigger", 1)  # force one output file per batch
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    n_small = len(glob.glob(f"{out}/*.parquet"))
    assert n_small > 1  # fragmented, as a real streaming sink would be
    compacted = str(tmp_path / "s13_compacted")
    total = sum(input_file_sizes(spark, spark.read.parquet(out)))
    stats = compact(spark, out, compacted, target_file_bytes=total)
    assert stats["files_out"] == 1
    a = sorted(r.event_id for r in spark.read.parquet(out).collect())
    b = sorted(r.event_id for r in spark.read.parquet(compacted).collect())
    assert a == b


# S14 approx-distinct over the stream: per-day HLL sketch estimates computed
# incrementally by the streaming aggregation must equal the batch sketch of
# the same files (sketches are order-insensitive, so replay == batch).
def test_s14_streaming_hll_distinct_equals_batch(spark, replay_dir):
    def daily_estimate(df):
        return (
            df.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))).alias("approx_users"))
        )

    _drain(daily_estimate(_stream(spark, replay_dir)), "s14")
    batch = daily_estimate(spark.read.parquet(replay_dir))
    assert _rows(spark.table("s14")) == _rows(batch)


# S15 streaming Count-Min sketch: the relational (d, bucket, cnt) grid is a
# plain streaming aggregation, so incremental maintenance over the replayed
# stream must land on exactly the batch grid (order-insensitive counters).
def test_s15_streaming_cms_grid_equals_batch(spark, replay_dir):
    from inspectadb_spark.operators.sketches import cms_sketch

    _drain(cms_sketch(_stream(spark, replay_dir), "user_id"), "s15")
    batch = cms_sketch(spark.read.parquet(replay_dir), "user_id")
    assert _rows(spark.table("s15")) == _rows(batch)


# S16 continuously-maintained replication checksums: table_checksum is sums
# over md5 words, so the streaming aggregation maintains per-bucket
# fingerprints incrementally — final state must equal the batch checksum
# of everything ingested (order-insensitivity is the whole point).
def test_s16_streaming_checksum_equals_batch(spark, replay_dir):
    from inspectadb_spark.operators.cdc import table_checksum

    cols = ["event_type", "value"]
    _drain(table_checksum(_stream(spark, replay_dir), "user_id", cols), "s16")
    batch = table_checksum(spark.read.parquet(replay_dir), "user_id", cols)
    assert _rows(spark.table("s16")) == _rows(batch)


# S17 dynamic-gap session windows over the stream: per-row gap expression
# (purchase holds the session open longer) — incremental session merging
# must land on the batch result.
def test_s17_streaming_dynamic_gap_sessions_equals_batch(spark, replay_dir):
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("45 minutes"))
        .otherwise(F.lit("30 minutes"))
    )

    def agg(df):
        return (
            df.groupBy("user_id", F.session_window("ts", gap).alias("w"))
            .agg(F.count("*").alias("n"))
            .select("user_id", F.col("w.start").alias("start_ts"), "n")
        )

    _drain(agg(_stream(spark, replay_dir)), "s17")
    batch = agg(spark.read.parquet(replay_dir))
    assert _rows(spark.table("s17")) == _rows(batch)


# S18 stream–stream FULL OUTER join: unmatched rows on EITHER side emit with
# null extension after both watermarks pass the join window. Same fixture
# shape as S5c, with an unmatched CLICK (right side) added so the full-outer
# null emission is exercised in both directions.
def test_s18_stream_stream_full_outer(spark, tmp_path):
    import datetime as dt

    def ts(sec):
        return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=sec)

    main = [
        (1, ts(150), 100, "click", 1.0, "{}"),
        (2, ts(200), 100, "purchase", 2.0, "{}"),   # matches click@150 (50s gap)
        (3, ts(300), 200, "purchase", 3.0, "{}"),   # purchase with no click
        (6, ts(400), 400, "click", 6.0, "{}"),      # click with no purchase
    ]
    push1 = [(90, ts(1_000_000), 999, "click", 0.0, "{}"),
             (91, ts(1_000_000), 999, "purchase", 0.0, "{}")]
    push2 = [(92, ts(2_000_000), 999, "click", 0.0, "{}"),
             (93, ts(2_000_000), 999, "purchase", 0.0, "{}")]
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    d = str(tmp_path / "fo")
    os.makedirs(d)
    now = time.time()
    for i, rows in enumerate([main, push1, push2]):
        p = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(p)
        part = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        dst = os.path.join(d, f"f{i}.parquet")
        os.rename(os.path.join(p, part), dst)
        os.utime(dst, (now + i, now + i))

    def sides(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        c = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        return p, c

    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 SECONDS"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    src = spark.readStream.schema(
        spark.read.parquet(d).schema
    ).option("maxFilesPerTrigger", 1).parquet(d)
    sp, sc = sides(src)
    joined = sp.withWatermark("p_ts", "30 seconds").join(
        sc.withWatermark("c_ts", "30 seconds"), cond, "fullOuter"
    )
    _drain(joined.select("p_id", "c_id"), "s18", mode="append")
    got = {(r["p_id"], r["c_id"]) for r in spark.table("s18").collect()
           if (r["p_id"] or 0) < 90 and (r["c_id"] or 0) < 90}
    assert got == {(2, 1), (3, None), (None, 6)}


# S19 streaming global sorted top-k: ORDER BY + LIMIT on an aggregated
# stream is legal only in complete mode (the whole result is re-emitted per
# trigger, so a total order is well-defined). Replay ≡ batch top-3.
def test_s19_streaming_sorted_topk_complete(spark, replay_dir):
    src = _stream(spark, replay_dir)
    top = (
        src.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(3)
    )
    _drain(top, "s19", mode="complete")
    batch = (
        spark.read.parquet(replay_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(3)
    )
    assert [tuple(r) for r in spark.table("s19").orderBy(F.desc("n"), F.asc("event_type")).collect()] \
        == [tuple(r) for r in batch.collect()]


# S20 incremental materialized aggregate (continuous-aggregate analog):
# foreachBatch folds per-batch PARTIAL aggregates into a persisted per-key
# aggregate table; after draining the replay, the table must equal the
# batch aggregate exactly (decimal sums are associative, so chunking can't
# change values). Also asserts merge input size is partials+state, never
# the raw history.
def test_s20_incremental_aggregate(spark, replay_dir, tmp_path):
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    inc = IncrementalAggregate(
        spark,
        state_dir=str(tmp_path / "state"),
        key_exprs={"w": "date_trunc('hour', ts)", "event_type": "event_type"},
        measures=[
            ("n", "count", "*"),
            ("sv", "sum", "value"),
            ("mn", "min", "value"),
            ("mx", "max", "value"),
        ],
    )
    q = inc.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    got = inc.table().select(
        "w", "event_type", "n",
        F.col("sv").cast("double").alias("sv"), "mn", "mx",
    )
    want = (
        spark.read.parquet(replay_dir)
        .groupBy(
            F.expr("date_trunc('hour', ts)").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(value AS DECIMAL(18,6))")).cast("double").alias("sv"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    assert _rows(got) == _rows(want)
    # derived avg in the reader view (never stored) equals the batch avg
    got_avg = inc.table().select(
        "w", "event_type",
        (F.col("sv").cast("double") / F.col("n")).alias("a"),
    )
    want_avg = (
        spark.read.parquet(replay_dir)
        .groupBy(F.expr("date_trunc('hour', ts)").alias("w"), "event_type")
        .agg((F.sum(F.expr("CAST(value AS DECIMAL(18,6))")).cast("double")
              / F.count("*")).alias("a"))
    )
    assert _rows(got_avg) == _rows(want_avg)


def test_s20_rejects_non_decomposable(spark, tmp_path):
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    with pytest.raises(ValueError, match="non-decomposable"):
        IncrementalAggregate(
            spark, str(tmp_path), {"k": "event_type"},
            [("m", "median", "value")],
        )


# S20b restart/resume: a NEW process (new IncrementalAggregate instance) on
# the same state_dir must resume version numbering from the committed
# pointer — regression for the restart bug where _version reset to 0 and
# the next merge overwrote the very parquet directory it was reading.
def test_s20b_incremental_aggregate_resumes_across_restart(spark, tmp_path):
    import datetime as dt

    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    schema = "k string, v double, ts timestamp"
    def write_chunk(dirname, i, rows):
        p = str(tmp_path / f"st{dirname}{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(p)
        part = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{dirname}{i}.parquet")
        os.rename(os.path.join(p, part), dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1)
    write_chunk("a", 0, [("x", 1.0, t0), ("y", 2.0, t0)])

    def make():
        return IncrementalAggregate(
            spark, str(tmp_path / "state"), {"k": "k"},
            [("n", "count", "*"), ("sv", "sum", "v")],
        )

    def stream():
        return (spark.readStream.schema(spark.read.parquet(src).schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    inc1 = make()
    q = inc1.start(stream(), str(tmp_path / "ck1"), available_now=True)
    q.awaitTermination(300); q.stop()

    # "restart": fresh instance, same state_dir, more data, new checkpoint
    write_chunk("b", 1, [("x", 10.0, t0), ("z", 5.0, t0)])
    inc2 = make()
    q = inc2.start(stream(), str(tmp_path / "ck2"), available_now=True)
    q.awaitTermination(300); q.stop()

    got = {r.k: (r.n, float(r.sv)) for r in inc2.table().collect()}
    # ck2 replays chunk a too (new checkpoint) — totals are over both files
    assert got == {"x": (3, 12.0), "y": (2, 4.0), "z": (1, 5.0)}


# S20c crash-window re-delivery: foreachBatch re-runs the LAST batch if the
# process dies between the state pointer swap and the checkpoint commit.
# Additive merges are not idempotent, so the pointer records the applied
# (checkpoint, batch_id) and the merge must skip an already-applied batch —
# but only within the SAME checkpoint (fresh-checkpoint replays start at 0
# and must still apply).
def test_s20c_batch_redelivery_is_not_double_applied(spark, tmp_path):
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"), {"k": "k"},
        [("n", "count", "*"), ("sv", "sum", "v")],
    )
    inc._checkpoint = str(tmp_path / "ck")
    b0 = spark.createDataFrame([("x", 1.0), ("y", 2.0)], "k string, v double")
    inc._merge_batch(b0, 0)
    inc._merge_batch(b0, 0)  # crash-window re-delivery of the same batch
    got = {r.k: (r.n, float(r.sv)) for r in inc.table().collect()}
    assert got == {"x": (1, 1.0), "y": (1, 2.0)}, "batch 0 double-applied"
    inc._merge_batch(b0, 1)  # genuinely new batch id still applies
    got = {r.k: (r.n, float(r.sv)) for r in inc.table().collect()}
    assert got == {"x": (2, 2.0), "y": (2, 4.0)}
    # a NEW checkpoint (backfill/replay into existing state) is not suppressed
    inc2 = IncrementalAggregate(
        spark, str(tmp_path / "state"), {"k": "k"},
        [("n", "count", "*"), ("sv", "sum", "v")],
    )
    inc2._checkpoint = str(tmp_path / "ck2")
    inc2._merge_batch(b0, 0)
    got = {r.k: (r.n, float(r.sv)) for r in inc2.table().collect()}
    assert got == {"x": (3, 3.0), "y": (3, 6.0)}


# StreamingCdcApply restart: resumes version numbering from the committed
# pointer (regression — a reset to v0 would overwrite the version being read).
def test_s7b_cdc_apply_resumes_versioning(spark, tmp_path):
    from inspectadb_spark.streaming.cdc_stream import StreamingCdcApply

    schema = "o_orderkey bigint, lsn bigint, op string, v double"
    a1 = StreamingCdcApply(spark, str(tmp_path / "st"), ["o_orderkey"])
    a1._merge_batch(
        spark.createDataFrame([(1, 1, "c", 10.0), (2, 2, "c", 20.0)], schema), 0
    )
    assert a1._version == 1
    # "restart": fresh instance on the same state_dir
    a2 = StreamingCdcApply(spark, str(tmp_path / "st"), ["o_orderkey"])
    assert a2._version == 1, "must resume from committed version"
    a2._merge_batch(
        spark.createDataFrame([(1, 3, "u", 11.0), (3, 4, "c", 30.0)], schema), 0
    )
    got = {r.o_orderkey: r.v for r in a2.current_state().collect()}
    assert got == {1: 11.0, 2: 20.0, 3: 30.0}


# S21 streaming as-of enrichment (stream-side Q13): versioned dimension ->
# SCD2 validity intervals (one batch-side window) -> STATELESS stream-static
# join, so each event matches exactly one version and no join state is
# carried. Replay must equal the batch as-of join (operators/asof.py) on the
# same inputs, including NULL payloads for events before a user's first
# version.
def test_s21_streaming_asof_enrichment(spark, replay_dir):
    import datetime as dt

    from inspectadb_spark.operators.asof import asof_join
    from inspectadb_spark.streaming.enrich import asof_enrich_stream

    batch = spark.read.parquet(replay_dir)
    users = sorted(r[0] for r in batch.select("user_id").distinct().collect())
    lo, hi = batch.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    rows = []
    for i, u in enumerate(users):
        if i % 7 == 0:
            # late-onboarded key: first version mid-stream -> earlier events
            # must enrich to NULL, not to a later version
            rows.append((u, lo + 2 * span, "gold"))
        else:
            rows.append((u, lo - dt.timedelta(seconds=1), "bronze"))
            rows.append((u, lo + span, "silver"))
            rows.append((u, lo + 2 * span, "gold"))
    dim = spark.createDataFrame(
        rows, "user_id bigint, dim_ts timestamp, tier string"
    )

    cols = ["event_id", "user_id", "ts", "tier"]
    want = asof_join(dim, batch, ["user_id"], "dim_ts", "ts", ["tier"]).select(*cols)
    enriched = asof_enrich_stream(
        _stream(spark, replay_dir), dim, ["user_id"], "ts", "dim_ts", ["tier"],
        watermark="2 hours",
    )
    _drain(enriched.select(*cols), "s21", mode="append")
    got = spark.table("s21").select(*cols)
    assert _rows(got) == _rows(want)
    # the fixture must actually exercise both regimes
    assert got.filter("tier IS NULL").count() > 0
    assert got.filter("tier = 'silver'").count() > 0


# --------------------------------------------------------------------------
# S22 streaming mixture enforcement: thresholds are PROFILED in batch
# (rebalance_thresholds), then enforced STATELESSLY on a document stream
# (apply_rebalance = stream-static broadcast join + pure md5 acceptance —
# no state store, no watermark). The admitted set must equal the batch
# rebalance of the same corpus: the md5 rule is row-local, so arrival
# order/batching cannot change any decision.
def test_s22_streaming_mixture_enforcement(spark, tmp_path):
    from inspectadb_spark.operators import pipeline as P

    src = str(tmp_path / "docs_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    batch_docs = spark.read.parquet(src)
    thr = P.rebalance_thresholds(batch_docs, "source",
                                 target_weights={"src1": 3, "src2": 1,
                                                 "src3": 1, "src4": 1})
    # profile frame is static (collected once in production); re-create it
    # as a literal DataFrame to prove nothing leaks from the batch lineage
    profile = spark.createDataFrame(thr.collect(), schema=thr.schema)

    schema = batch_docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    kept_stream = (
        P.apply_rebalance(stream, profile, "source")
        .filter("_keep").select("doc_id", "source")
    )
    _drain(kept_stream, "s22", mode="append")

    kept_batch = (
        P.apply_rebalance(batch_docs, profile, "source")
        .filter("_keep").select("doc_id", "source")
    )
    got, want = _rows(spark.table("s22")), _rows(kept_batch)
    assert len(got) > 0
    assert got == want
    # and the profile path is identical to the one-shot batch operator
    one_shot = (
        P.rebalance_mixture(batch_docs, "source",
                            target_weights={"src1": 3, "src2": 1,
                                            "src3": 1, "src4": 1})
        .filter("_keep").select("doc_id", "source")
    )
    assert want == _rows(one_shot)


# S23 incrementally-maintained Count-Min sketch: after draining the chunked
# replay, the persisted grid must EXACTLY equal the batch-built sketch over
# the same rows (CMS merge is lossless element-wise addition), and point
# estimates must upper-bound exact counts (the CMS guarantee).
def test_s23_streaming_cms_equals_batch(spark, replay_dir, tmp_path):
    from inspectadb_spark.operators.sketches import cms_estimate, cms_sketch
    from inspectadb_spark.streaming.incremental import StreamingCms

    cms = StreamingCms(spark, str(tmp_path / "state"), col="event_type")
    q = cms.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    grid = cms.table()
    batch = spark.read.parquet(replay_dir)
    want = cms_sketch(batch, "event_type")
    assert _rows(grid.select("d", "bucket", "cnt")) == _rows(want)

    exact = batch.groupBy("event_type").agg(F.count("*").alias("true_n"))
    est = cms_estimate(grid, exact.select("event_type"), "event_type")
    joined = est.join(exact, "event_type").collect()
    assert len(joined) > 0
    assert all(r.est >= r.true_n for r in joined)


# S24 streaming CUSUM ≡ batch closed form: the stateful recursion over the
# chunked replay must reproduce the batch operator's per-key
# (n_alerts, max_cusum, n) EXACTLY (integer-cents arithmetic both sides).
def test_s24_streaming_cusum_equals_batch(spark, replay_dir):
    from inspectadb_spark.operators.timeseries import cusum_alerts
    from inspectadb_spark.streaming.monitor import streaming_cusum

    stream = streaming_cusum(
        _stream(spark, replay_dir), "event_type", "ts", "event_id", "value",
        k_cents=5200, h_cents=80000,
    )
    _drain(stream, "s24", mode="update")
    # updates are monotone in n per key: the final state is the max-n row
    got = (
        spark.table("s24")
        .groupBy("key")
        .agg(F.expr("max_by(n_alerts, n)").alias("n_alerts"),
             F.expr("max_by(max_s_cents, n)").alias("max_s_cents"),
             F.max("n").alias("n"))
        .select(
            F.col("key").alias("event_type"), "n_alerts",
            (F.col("max_s_cents").cast("double") / 100).alias("max_cusum"),
            "n",
        )
    )
    batch = cusum_alerts(
        spark.read.parquet(replay_dir),
        key_col="event_type", ts_col="ts", value_col="value",
        id_col="event_id", k=52.0, h=800.0,
    )
    assert _rows(got) == _rows(batch)


# S25 incremental set-union aggregate: the "set" kind folds per-batch
# distinct sets into the stored set (exact, mergeable) — after the drain
# the per-type audience set equals the batch collect_set exactly.
def test_s25_incremental_set_union(spark, replay_dir, tmp_path):
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    inc = IncrementalAggregate(
        spark,
        state_dir=str(tmp_path / "state"),
        key_exprs={"event_type": "event_type"},
        measures=[("users", "set", "user_id"), ("n", "count", "*")],
    )
    q = inc.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    got = inc.table().select("event_type", "users", "n")
    want = (
        spark.read.parquet(replay_dir)
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_set("user_id")).alias("users"),
             F.count("*").alias("n"))
    )
    assert _rows(got) == _rows(want)


# S26 continuous drift monitor composition: an IncrementalAggregate
# maintains the live (type, bin) histogram of the stream's second half;
# after the drain its counts equal the batch histogram EXACTLY, and the
# PSI computed from the incremental table (pandas reference arithmetic)
# equals the batch q173 scores — i.e. SCALE.md's "rolling drift monitor"
# claim is executable, not aspirational.
def test_s26_incremental_drift_monitor(spark, replay_dir, tmp_path):
    import math

    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    batch = spark.read.parquet(replay_dir)
    mid = batch.agg(F.expr("MAX(event_id) DIV 2").alias("m")).collect()[0].m

    inc = IncrementalAggregate(
        spark,
        state_dir=str(tmp_path / "state"),
        key_exprs={
            "event_type": "event_type",
            "bin": "CAST(LEAST(FLOOR(value / 50.0), 9) AS INT)",
        },
        measures=[("n", "count", "*")],
    )
    stream = _stream(spark, replay_dir).filter(F.col("event_id") > mid)
    q = inc.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    q.stop()

    got_counts = inc.table()
    want_counts = (
        batch.filter(F.col("event_id") > mid)
        .groupBy("event_type",
                 F.expr("CAST(LEAST(FLOOR(value / 50.0), 9) AS INT)")
                 .alias("bin"))
        .agg(F.count("*").alias("n"))
    )
    assert _rows(got_counts.select("event_type", "bin", "n")) == _rows(want_counts)

    # PSI from the incremental table (reference arithmetic) == batch q173
    from inspectadb_spark.queries.registry import REGISTRY
    import inspectadb_spark.queries.stats  # noqa: F401

    h0 = (
        batch.filter(F.col("event_id") <= mid)
        .groupBy("event_type",
                 F.expr("CAST(LEAST(FLOOR(value / 50.0), 9) AS INT)")
                 .alias("bin"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    h1 = got_counts.collect()

    def ppm_table(rows):
        c = {}
        for r in rows:
            c[(r.event_type, r.bin)] = r.n
        types = {k[0] for k in c}
        out = {}
        for t in types:
            tot = sum(c.get((t, b), 0) for b in range(10))
            for b in range(10):
                out[(t, b)] = ((c.get((t, b), 0) + 1) * 1_000_000) // (tot + 10)
        return out, types

    p0, types = ppm_table(h0)
    p1, _ = ppm_table(h1)

    from decimal import ROUND_HALF_UP, Decimal

    def q6(v):  # mirror the engines' DECIMAL 6-dp HALF_UP per-term rounding
        return Decimal(repr(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP)

    want_psi = {}
    for t in types:
        s6 = sum(
            q6((p0[(t, b)] - p1[(t, b)]) / 1_000_000
               * math.log(p0[(t, b)] / p1[(t, b)]))
            for b in range(10)
        )
        want_psi[t] = float(Decimal(s6).quantize(Decimal("0.0001"),
                                                 ROUND_HALF_UP))

    # the replay holds exactly the SF_DIR events rows, so the batch q173
    # output is the ground truth for the PSI assembled from incremental
    # streaming state
    from inspectadb_spark.queries.registry import REGISTRY
    import inspectadb_spark.queries.stats  # noqa: F401

    got_psi = {r.event_type: r.psi for r in
               REGISTRY["q173_psi_drift"].builder(spark, SF_DIR).collect()}
    assert got_psi == want_psi


# S27 multi-source streaming reconciliation: TWO replica streams union
# into one stateful last-writer-wins aggregate; after draining both
# replays the per-key winners equal batch lww_merge exactly. Exercises
# streaming UNION + a stateful max_by keyed on the replication key.
def test_s27_streaming_lww_merge(spark, replay_dir, tmp_path):
    batch = spark.read.parquet(replay_dir)

    def replica(df, tag, mod, bump):
        return df.select(
            F.col("user_id").alias("k"),
            (F.col("value") + F.when(F.col("event_id") % mod == 0, bump)
             .otherwise(0.0)).alias("val"),
            F.when(F.col("event_id") % mod == 0, 2).otherwise(1).alias("v"),
            F.lit(tag).alias("_replica"),
            "event_id",
        )

    sa = replica(_stream(spark, replay_dir), "a", 3, 100.0)
    sb = replica(_stream(spark, replay_dir), "b", 4, 200.0)
    merged = (
        sa.unionByName(sb)
        .groupBy("k")
        .agg(F.expr("max_by(val, struct(v, _replica, event_id))").alias("val"),
             F.expr("max_by(_replica, struct(v, _replica, event_id))")
             .alias("_replica"),
             F.expr("max_by(v, struct(v, _replica, event_id))").alias("v"))
    )
    _drain(merged, "s27", mode="complete")

    ba = replica(batch, "a", 3, 100.0)
    bb = replica(batch, "b", 4, 200.0)
    want = (
        ba.unionByName(bb)
        .groupBy("k")
        .agg(F.expr("max_by(val, struct(v, _replica, event_id))").alias("val"),
             F.expr("max_by(_replica, struct(v, _replica, event_id))")
             .alias("_replica"),
             F.max("v").alias("v"))
    )
    got = spark.table("s27")
    assert _rows(got) == _rows(want)


# S28 streaming KMV signature maintenance: the bottom-k distinct sketch
# (q189) kept live by distinct-union + bottom-k merges. KMV merge is
# lossless, so after draining the chunked replay the persisted signature
# table equals the batch-built signature over the same rows EXACTLY —
# live cross-source overlap dashboards read |groups|·k rows of state,
# never raw history.
def test_s28_streaming_kmv_equals_batch(spark, replay_dir, tmp_path):
    from inspectadb_spark.operators.sketches import kmv_signature
    from inspectadb_spark.streaming.incremental import StreamingKmv

    kmv = StreamingKmv(spark, str(tmp_path / "state"),
                       group_col="event_type", key_col="user_id", k=32)
    q = kmv.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    got = kmv.table().select("g", "h")
    batch = spark.read.parquet(replay_dir)
    want = kmv_signature(batch, "event_type", "user_id", k=32).select("g", "h")
    assert _rows(got) == _rows(want)
    # bounded state: at most k rows per group
    per_group = {r["g"]: r["n"] for r in
                 got.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 32 for n in per_group.values())


# S29 live conversion-rate monitor: an IncrementalAggregate maintains per-
# type (n, k) counts over the stream; after the drain, the q191 Wilson-CI
# arithmetic applied to the LIVE STATE equals the batch q191 report
# byte-for-byte — the monitoring composition (S26's PSI pattern) for
# binomial rates.
def test_s29_incremental_wilson_monitor(spark, replay_dir, tmp_path):
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    inc = IncrementalAggregate(
        spark,
        state_dir=str(tmp_path / "state"),
        key_exprs={"event_type": "event_type"},
        measures=[("n", "count", "*"),
                  ("k", "sum", "CASE WHEN value > 100 THEN 1 ELSE 0 END")],
    )
    q = inc.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    from inspectadb_spark.queries.stats import _WILSON

    live = inc.table().select(
        "event_type", F.col("n"),
        F.col("k").cast("bigint").alias("k"),
    ).withColumn("phat", F.expr("CAST(k AS DOUBLE) / n")).select(
        "event_type", "n", "k",
        F.round(F.col("phat").cast("decimal(18,6)"), 4).cast("double")
        .alias("rate"),
        F.expr(_WILSON.format(sign="-")).alias("ci_lo"),
        F.expr(_WILSON.format(sign="+")).alias("ci_hi"),
    )
    batch = spark.read.parquet(replay_dir)
    want = (
        batch.groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.expr("CASE WHEN value > 100 THEN 1 ELSE 0 END"))
             .alias("k"))
        .withColumn("phat", F.expr("CAST(k AS DOUBLE) / n"))
        .select(
            "event_type", "n", "k",
            F.round(F.col("phat").cast("decimal(18,6)"), 4).cast("double")
            .alias("rate"),
            F.expr(_WILSON.format(sign="-")).alias("ci_lo"),
            F.expr(_WILSON.format(sign="+")).alias("ci_hi"),
        )
    )
    assert _rows(live) == _rows(want)


# S30 streaming Misra–Gries heavy-hitter state: bounded at m+1 rows, no
# false negatives above n/(m+1), undercount <= n/(m+1), exact total via
# the sentinel row — and the live candidate set, run through q198's exact
# verifier, reproduces the batch heavy-hitter report.
def test_s30_streaming_misra_gries_heavy_hitters(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq2
    from collections import Counter

    from inspectadb_spark.streaming.incremental import StreamingMisraGries

    items = []
    for i in range(20):
        items += [f"hot{i:02d}"] * (300 // (i + 1))
    items += [f"tail{j:05d}" for j in range(4000)]
    # deterministic interleave so heavy mass is spread across chunks
    # (hashlib, not hash(): PYTHONHASHSEED randomizes str hash per process)
    import hashlib
    items.sort(key=lambda s: hashlib.md5(s.encode()).hexdigest())
    d = tmp_path / "mg_replay"
    d.mkdir()
    step = (len(items) + 7) // 8
    now = time.time()
    for i in range(8):
        chunk = items[i * step:(i + 1) * step]
        p = str(d / f"c{i:02d}.parquet")
        pq2.write_table(pa.table({"item": chunk}), p)
        os.utime(p, (now + i, now + i))

    m = 60
    mg = StreamingMisraGries(spark, str(tmp_path / "state"),
                             item_expr="item", m=m)
    q = mg.start(_stream(spark, str(d)), str(tmp_path / "ckpt"),
                 available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = {r["item"]: r["cnt"] for r in mg.table().collect()}
    n = len(items)
    assert state.pop(None) == n                      # exact sentinel total
    assert len(state) <= m                           # bounded state
    exact = Counter(items)
    bound = n // (m + 1)
    for item, c in exact.items():
        if c > bound:                                # no false negatives
            assert item in state
    for item, c in state.items():                    # undercount bound
        assert c <= exact[item] and exact[item] - c <= bound

    # composition: exact verify of the live candidates == batch HH report
    denom = m  # threshold n/denom, m >= denom
    cands = spark.createDataFrame([(k,) for k in state], "item string")
    batch = spark.read.parquet(str(d))
    verified = {
        (r["item"], r["cnt"])
        for r in batch.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * denom >= n).collect()
    }
    want = {(k, c) for k, c in exact.items() if c * denom >= n}
    assert verified == want and len(want) > 0


# S31 streaming gap profile ≡ batch q206 sufficient statistics: the
# cross-batch last-event state makes the stream's (n, min, max, Σ, Σ²)
# equal the batch window computation exactly after a time-ordered replay.
def test_s31_streaming_gap_profile_equals_batch(spark, replay_dir):
    from inspectadb_spark.streaming.monitor import streaming_gap_profile

    out = streaming_gap_profile(_stream(spark, replay_dir))
    _drain(out, "s31", mode="update")
    # update mode emits one row per (user, micro-batch); the final state
    # per user is the row with the largest n_gaps
    got = {}
    for r in spark.table("s31").collect():
        cur = got.get(r["user_id"])
        if cur is None or r["n_gaps"] > cur[0]:
            got[r["user_id"]] = (r["n_gaps"], r["min_gap_s"],
                                 r["max_gap_s"], r["sum_s"], r["sum_sq"])

    ev = spark.read.parquet(replay_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    batch = (
        ev.select("user_id", (us - F.lag(us).over(w)).alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .select("user_id", F.expr("gap_us DIV 1000000").alias("gap_s"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.min("gap_s").alias("mn"),
             F.max("gap_s").alias("mx"), F.sum("gap_s").alias("s"),
             F.sum(F.col("gap_s") * F.col("gap_s")).alias("sq"))
    )
    want = {r["user_id"]: (r["n"], r["mn"], r["mx"], r["s"], r["sq"])
            for r in batch.collect()}
    # users with a single event have no gaps: stream emits n_gaps=0 rows,
    # batch omits them — compare the gap-bearing keys exactly
    got_gaps = {u: v for u, v in got.items() if v[0] > 0}
    assert got_gaps == want and len(want) > 0


# S32 live DAU/WAU dashboard from incremental state: the "set" aggregate
# kind maintains exact per-day distinct-user sets over the stream; after
# the drain, q217's DAU/WAU/stickiness arithmetic applied to the STATE
# table equals the batch computation byte-for-byte. Trailing distincts
# can't roll up from daily counts — but they CAN from daily sets, which
# is exactly what the incremental table stores.
def test_s32_incremental_dau_wau_equals_batch(spark, replay_dir, tmp_path):
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    day_expr = "CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)"
    agg = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"day": day_expr},
        measures=[("users", "set", "user_id")])
    q = agg.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = agg.table()  # (day, users: sorted array)

    def dashboard(ud):
        dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
        fan = ud.select(
            "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
            "day",
        ).select("user_id",
                 F.expr("day + make_interval(0, 0, 0, o)").alias("day"))
        wau = fan.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
        bounds = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        return _rows(
            dau.join(wau, "day").join(F.broadcast(bounds))
            .filter((F.col("day") >= F.expr("d0 + make_interval(0, 0, 0, 6)"))
                    & (F.col("day") <= F.col("d1")))
            .select("day", "dau", "wau",
                    F.expr("dau * 1000000 DIV wau").alias("stick")))

    live = dashboard(
        state.select("day", F.explode("users").alias("user_id")))
    batch = dashboard(
        spark.read.parquet(replay_dir)
        .select(F.expr(day_expr).alias("day"), "user_id").distinct())
    assert live == batch and len(live) > 0


# S33 live z-score anomaly state: an IncrementalAggregate maintains per-
# type exact (n, Σv, Σv²) in DECIMAL over the stream; after the drain the
# q73-style z-score arithmetic applied to the LIVE STATE equals the batch
# sufficient statistics byte-for-byte (sum kinds route through
# DECIMAL(18,6), so merge order cannot change a digit).
def test_s33_incremental_zscore_state_equals_batch(spark, replay_dir,
                                                   tmp_path):
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    agg = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"event_type": "event_type"},
        measures=[("n", "count", "*"),
                  ("sv", "sum", "value"),
                  ("svv", "sum", "value * value")])
    q = agg.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    live = _rows(agg.table().select("event_type", "n", "sv", "svv"))
    batch = _rows(
        spark.read.parquet(replay_dir).groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(value AS DECIMAL(18,6))")).alias("sv"),
            F.sum(F.expr("CAST(value * value AS DECIMAL(18,6))"))
            .alias("svv")))
    assert live == batch and len(live) > 0


# S34 streaming-maintained summary table + MV ROUTING composed (the two
# halves of the continuous-aggregate story): IncrementalAggregate maintains
# hourly-grain state from the replayed stream; operators/mv.py routes a
# coarser per-type rollup AGAINST THAT STATE; the routed answer must equal
# the direct batch aggregate over the full history — and the fallback path
# (no compatible MV) must agree.
def test_s34_incremental_state_routes_via_mv(spark, replay_dir, tmp_path):
    from inspectadb_spark.operators.mv import AggRequest, MVDef, route
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"w": "date_trunc('hour', ts)",
                   "event_type": "event_type"},
        measures=[("cnt", "count", "*"), ("sv", "sum", "value"),
                  ("cnt_v", "count", "value")])
    q = inc.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()
    state_path = inc._read_ptr()[0]

    mv = MVDef(name="inc_hourly", keys=("w", "event_type"),
               measures={"sv": ("sum", "value"), "cnt": ("count", "*"),
                         "cnt_v": ("count", "value")})
    req = AggRequest(
        keys={"event_type": None},
        measures={"sv": ("sum", "value"), "n": ("count", "*"),
                  "av": ("avg", "value")})
    hist = spark.read.parquet(replay_dir)
    routed, used = route(spark, req, {mv.name: (mv, state_path)}, hist)
    assert used == mv.name
    direct, used2 = route(spark, req, {}, hist)
    assert used2 is None
    assert _rows(routed) == _rows(direct) and routed.count() > 0


# S35 streaming referential-integrity monitor: stream-static broadcast
# probe against the parent key domain + tumbling orphan counts. Parent =
# customers with even keys only, so replayed events yield a deterministic
# nonzero orphan rate; stream result must equal the batch run of the SAME
# operator on the full history.
def test_s35_streaming_orphan_monitor(spark, replay_dir):
    from inspectadb_spark.streaming.monitor import streaming_orphan_monitor

    hist = spark.read.parquet(replay_dir)
    parent = (hist.select((F.col("user_id")).alias("pk"))
              .where(F.col("pk") % 2 == 0).distinct())
    live = streaming_orphan_monitor(
        _stream(spark, replay_dir), parent, "user_id", "pk")
    _drain(live, "s35")
    batch = streaming_orphan_monitor(hist, parent, "user_id", "pk")
    got = _rows(spark.table("s35"))
    want = _rows(batch)
    assert got == want and len(got) > 0
    # the planted odd-key orphans are actually detected
    assert any(int(r[2]) > 0 for r in got)

    # the default watermark makes APPEND mode viable (finalized windows
    # emit, state is bounded) — the long-running-feed contract the
    # unwatermarked aggregate could not honor (ADVICE r05 item 3)
    live_wm = streaming_orphan_monitor(
        _stream(spark, replay_dir), parent, "user_id", "pk",
        delay="2 hours")
    _drain(live_wm, "s35_append", mode="append")
    appended = _rows(spark.table("s35_append"))
    assert len(appended) > 0, "append mode must emit finalized windows"
    assert set(appended) <= set(want), "append rows are finalized truths"


# S36 persistent cross-run dedup registry: run 1 drains one replay dir,
# run 2 (a NEW instance — simulated restart + new source) drains a second
# dir whose keys overlap run 1. Keys seen in ANY earlier run stay
# suppressed; within-batch and cross-batch first-wins is deterministic
# (ordered by (ts, event_id)); re-delivering the last batch must not
# duplicate output (idempotent batch=<id> path + pointer guard).
def test_s36_cross_run_dedup_registry(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import time as _time

    from inspectadb_spark.streaming.dedup_registry import DedupRegistry

    def mk(d, files):
        os.makedirs(d, exist_ok=True)
        now = _time.time()
        for i, rows in enumerate(files):
            t = pa.table({
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "event_id": pa.array([r[2] for r in rows], pa.int64()),
            })
            p = os.path.join(d, f"c{i}.parquet")
            pq.write_table(t, p)
            os.utime(p, (now + i, now + i))

    run1 = str(tmp_path / "run1")
    #          key ts  id
    mk(run1, [[(1, 10, 100), (2, 11, 101), (3, 12, 102), (2, 9, 103)],
              [(2, 1, 104), (4, 13, 105)]])
    run2 = str(tmp_path / "run2")
    mk(run2, [[(3, 20, 200), (4, 21, 201), (5, 22, 202), (1, 23, 203)]])

    def stream_of(d):
        schema = spark.read.parquet(d).schema
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(d))

    state = str(tmp_path / "reg_state")
    out = str(tmp_path / "reg_out")
    r1 = DedupRegistry(spark, state, out, ["k"], ["ts", "event_id"])
    q = r1.start(stream_of(run1), str(tmp_path / "ck1"), available_now=True)
    q.awaitTermination(300)
    q.stop()
    got1 = {r["k"]: (r["ts"], r["event_id"]) for r in r1.emitted().collect()}
    # batch 0: key 2 appears twice -> (9,103) wins within batch; batch 1's
    # (1,104) for key 2 arrives later, loses cross-batch
    assert got1 == {1: (10, 100), 2: (9, 103), 3: (12, 102), 4: (13, 105)}

    # restart: NEW instance over the same persisted state, different source
    r2 = DedupRegistry(spark, state, out, ["k"], ["ts", "event_id"])
    q = r2.start(stream_of(run2), str(tmp_path / "ck2"), available_now=True)
    q.awaitTermination(300)
    q.stop()
    got2 = {r["k"]: (r["ts"], r["event_id"]) for r in r2.emitted().collect()}
    assert got2 == {**got1, 5: (22, 202)}, "only key 5 is new in run 2"

    # crash-window re-delivery of run 2's only batch: guard makes it a no-op
    batch = spark.read.parquet(run2)
    r2._apply_batch(batch, 0)
    assert {r["k"] for r in r2.emitted().collect()} == {1, 2, 3, 4, 5}
    assert r2.emitted().count() == 5


# S37 streaming quantile serving: the q184 value-histogram grid maintained
# LIVE by IncrementalAggregate (bin-keyed counts are decomposable, so the
# drained state equals the batch-built grid EXACTLY), then vhist_quantile
# served off the live state — identical estimates to the batch sketch, and
# within one bin width of the exact batch percentile.
def test_s37_streaming_quantile_grid(spark, replay_dir, tmp_path):
    from inspectadb_spark.operators.sketches import vhist_quantile, vhist_sketch
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    width, n_bins = 25, 20
    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"bin": f"CAST(LEAST(FLOOR(value / {width}.0),"
                          f" {n_bins - 1}) AS INT)"},
        measures=[("cnt", "count", "*")])
    q = inc.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    hist = spark.read.parquet(replay_dir)
    live_grid = inc.table().select("bin", "cnt")
    batch_grid = vhist_sketch(hist, "value", width, n_bins)
    assert _rows(live_grid) == _rows(batch_grid)

    pcts = [50, 90, 99]
    live_q = {r["p"]: r["est"]
              for r in vhist_quantile(live_grid, pcts, width).collect()}
    batch_q = {r["p"]: r["est"]
               for r in vhist_quantile(batch_grid, pcts, width).collect()}
    assert live_q == batch_q
    exact = hist.agg(*[
        F.expr(f"percentile(value, {p / 100.0}D)").alias(str(p))
        for p in pcts]).collect()[0]
    for p in pcts:
        assert abs(live_q[p] - exact[str(p)]) <= width


# S38 the product loop LIVE: streamed CDC apply (S7 machinery) maintains
# the current-state table; a daily summary MV is built from that state and
# a monthly rollup is ROUTED through it — the result must hash-equal the
# fully-batch q248 pipeline over the same changelog. Streaming ingest,
# batch semantics, served from the summary: one assertion for the whole
# loop.
def test_s38_streaming_cdc_to_routed_summary(spark, tmp_path):
    from inspectadb_spark.operators.mv import AggRequest, MVDef, route
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.queries.registry import tables
    from inspectadb_spark.sources.cdc import derive_cdc_orders

    cdc = derive_cdc_orders(tables(spark, SF_DIR)["orders"])
    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    rows = cdc.orderBy("lsn").collect()
    step = (len(rows) + 3) // 4
    schema = cdc.schema
    now = time.time()
    for i in range(4):
        chunk = rows[i * step:(i + 1) * step]
        if not chunk:
            continue
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(tmp_path / f"stage{i}"))
        part = [f for f in os.listdir(str(tmp_path / f"stage{i}"))
                if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"c{i:02d}.parquet")
        os.rename(os.path.join(str(tmp_path / f"stage{i}"), part), dst)
        os.utime(dst, (now + i, now + i))

    applier = StreamingCdcApply(spark, str(tmp_path / "state"),
                                ["o_orderkey"])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = applier.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    q.stop()

    cur = (applier.current_state()
           .withColumn("order_day",
                       F.date_trunc("day", F.col("o_orderdate")))
           .withColumn("cents",
                       F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")))
    mv = MVDef(name="mv_live_orders_daily",
               keys=("order_day", "o_orderstatus"),
               measures={"sum_cents": ("sum", "cents"),
                         "cnt": ("count", "*")})
    path = str(tmp_path / "mv_live")
    mv.store(cur, path)
    req = AggRequest(
        keys={"month": "date_trunc('month', order_day)",
              "o_orderstatus": None},
        measures={"n_orders": ("count", "*"),
                  "revenue_cents": ("sum", "cents")})
    out, used = route(spark, req, {mv.name: (mv, path)}, cur)
    assert used == mv.name
    live = out.select(
        "month", "o_orderstatus", "n_orders",
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"))
    batch = REGISTRY["q248_cdc_to_summary"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(batch) and live.count() > 0


# S39 streaming FK enforcement: each micro-batch is split clean-vs-
# quarantine by the same enforce_inclusion probe as batch q251 (static
# parent re-read per batch), each side appended to its own sink. After
# draining, clean ∪ quarantine must partition the input, and both sides
# must equal the batch operator's split exactly.
def test_s39_streaming_fk_quarantine(spark, replay_dir, tmp_path):
    from inspectadb_spark.operators.quality import enforce_inclusion

    hist = spark.read.parquet(replay_dir)
    parent = (hist.select(F.col("user_id").alias("pk"))
              .where(F.col("pk") % 3 == 0).distinct())
    clean_dir = str(tmp_path / "clean")
    quar_dir = str(tmp_path / "quar")

    def split(batch, _bid):
        c, qr = enforce_inclusion(batch, parent, "user_id", "pk")
        c.write.mode("append").parquet(clean_dir)
        qr.write.mode("append").parquet(quar_dir)

    q = (_stream(spark, replay_dir).writeStream.foreachBatch(split)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()

    got_c = spark.read.parquet(clean_dir)
    got_q = spark.read.parquet(quar_dir)
    want_c, want_q = enforce_inclusion(hist, parent, "user_id", "pk")
    assert _rows(got_c) == _rows(want_c)
    assert _rows(got_q) == _rows(want_q)
    assert got_c.count() + got_q.count() == hist.count()
    assert got_q.count() > 0


# S40 streaming champion tracking (keep-best dedup, live): per winnowing-
# fingerprint cluster, maintain the best (max n_chars, tie min doc_id)
# member as documents stream in — an IncrementalAggregate with a
# struct-MAX measure (the comparison IS the policy, exactly as the batch
# operator). After draining, per-cluster winners must equal batch
# keep_best_dedup over the full corpus.
def test_s40_streaming_champion_tracking(spark, tmp_path):
    from inspectadb_spark.operators.dedup import keep_best_dedup
    from inspectadb_spark.operators.text import char_fingerprint
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    src = str(tmp_path / "docs_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"h": "coalesce(fp, md5(text))"},
        measures=[("w", "max",
                   "named_struct('q', n_chars, 'nid', -doc_id)")])

    # fingerprinting is a per-batch stateless transform ahead of the fold
    base_stream = (spark.readStream
                   .schema(spark.read.parquet(src).schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))

    def with_fp(batch, bid):
        fp = char_fingerprint(batch)
        inc._merge_batch(batch.join(fp, "doc_id", "left"), bid)

    q = (base_stream.writeStream.foreachBatch(with_fp)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()

    live = {r["h"]: (-r["w"]["nid"], r["w"]["q"])
            for r in inc.table().collect()}
    docs = spark.read.parquet(src)
    batch = keep_best_dedup(docs)
    want = {r["h"]: (r["win_id"], None) for r in batch.collect()}
    assert set(live) == set(want)
    for h, (wid, _) in want.items():
        assert live[h][0] == wid, f"cluster {h}: live {live[h][0]} != {wid}"


# S41 Bloom-backed dedup registry: bounded state (≤ m bit rows forever),
# NEVER a duplicate emission across runs (the safe error direction); with
# a comfortably-sized filter the planted replay dedups exactly like the
# exact registry. State size asserted ≤ m while keys number in the
# hundreds.
def test_s41_bloom_dedup_registry_never_emits_duplicates(spark, tmp_path):
    from inspectadb_spark.streaming.dedup_registry import BloomDedupRegistry

    import pyarrow as pa
    import pyarrow.parquet as pq2

    def mk(d, files):
        os.makedirs(d, exist_ok=True)
        now = time.time()
        for i, ks in enumerate(files):
            t = pa.table({"k": pa.array(ks, pa.int64()),
                          "seq": pa.array(list(range(len(ks))), pa.int64())})
            p = os.path.join(d, f"c{i}.parquet")
            pq2.write_table(t, p)
            os.utime(p, (now + i, now + i))

    run1 = str(tmp_path / "r1")
    mk(run1, [list(range(0, 200)), list(range(100, 300))])
    run2 = str(tmp_path / "r2")
    mk(run2, [list(range(250, 400))])

    def stream_of(d):
        schema = spark.read.parquet(d).schema
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(d))

    state, out = str(tmp_path / "st"), str(tmp_path / "out")
    r1 = BloomDedupRegistry(spark, state, out, ["k"], ["seq"], m=65536)
    q = r1.start(stream_of(run1), str(tmp_path / "ck1"), available_now=True)
    q.awaitTermination(300)
    q.stop()
    r2 = BloomDedupRegistry(spark, state, out, ["k"], ["seq"], m=65536)
    q = r2.start(stream_of(run2), str(tmp_path / "ck2"), available_now=True)
    q.awaitTermination(300)
    q.stop()

    emitted = [r["k"] for r in r2.emitted().collect()]
    assert len(emitted) == len(set(emitted)), "never a duplicate emission"
    # at m=65536 for 400 keys the FP rate is ~0 -> exact-equivalent here
    assert sorted(emitted) == list(range(400))
    assert r2.seen_keys().count() <= 65536


# S42 dedup-registry state I/O is O(batch keys), not O(keys ever seen):
# each non-compacting batch writes ONLY its own new keys as a delta
# directory (the r04 scale finding killed the full-registry rewrite);
# every compact_every-th batch folds base+deltas into one base, and
# superseded directories survive one extra swap so a reader holding the
# previous pointer never loses files mid-plan.
def test_s42_dedup_registry_delta_state_io(spark, tmp_path):
    from inspectadb_spark.streaming.dedup_registry import DedupRegistry

    state, out = str(tmp_path / "st"), str(tmp_path / "out")
    reg = DedupRegistry(spark, state, out, ["k"], ["seq"], compact_every=3)
    reg._checkpoint = str(tmp_path / "ck")

    def batch(keys):
        return spark.createDataFrame(
            [(k, i) for i, k in enumerate(keys)], "k long, seq long")

    def ptr_paths():
        return reg._read_ptr()["paths"]

    def rows_in(path):
        return spark.read.parquet(path).count()

    # batch 0: 100 keys -> one delta holding exactly those 100
    reg._apply_batch(batch(range(100)), 0)
    p0 = ptr_paths()
    assert len(p0) == 1 and rows_in(p0[0]) == 100

    # batch 1: 150 keys, 50 overlap -> the NEW state dir holds only the
    # 100 genuinely-new keys (O(batch), not O(total=200))
    reg._apply_batch(batch(range(50, 200)), 1)
    p1 = ptr_paths()
    assert len(p1) == 2 and p1[0] == p0[0]
    assert rows_in(p1[1]) == 100
    assert reg.seen_keys().count() == 200

    # batch 2: third path still under compact_every -> delta again
    reg._apply_batch(batch(range(200, 210)), 2)
    p2 = ptr_paths()
    assert len(p2) == 3 and rows_in(p2[2]) == 10

    # batch 3: would be the 4th path -> compaction folds everything into
    # ONE base holding all 211 distinct keys
    reg._apply_batch(batch(range(209, 211)), 3)
    p3 = ptr_paths()
    assert len(p3) == 1 and rows_in(p3[0]) == 211
    # one-swap grace: the superseded delta dirs still exist right now...
    assert all(os.path.exists(p) for p in p2)
    # ...and are gone after the NEXT swap commits
    reg._apply_batch(batch(range(211, 212)), 4)
    assert all(not os.path.exists(p) for p in p2)
    assert reg.seen_keys().count() == 212

    # first-wins semantics held throughout
    emitted = [r["k"] for r in reg.emitted().collect()]
    assert sorted(emitted) == list(range(212))
    assert len(emitted) == len(set(emitted))


def test_s43_dedup_registry_init_gc_reclaims_leaked_state(spark, tmp_path):
    """A crash between pointer swaps (or a shutdown right after the last
    swap) leaves superseded/partial state dirs on disk that the in-memory
    retirement list can never reclaim. Init must GC every v*/d* dir the
    committed pointer does not reference — and must NOT touch referenced
    dirs, other files, or the out_dir."""
    from inspectadb_spark.streaming.dedup_registry import DedupRegistry

    state, out = str(tmp_path / "st"), str(tmp_path / "out")
    reg = DedupRegistry(spark, state, out, ["k"], ["seq"], compact_every=3)
    reg._checkpoint = str(tmp_path / "ck")
    reg._apply_batch(
        spark.createDataFrame([(1, 0), (2, 1)], "k long, seq long"), 0)
    committed = reg._read_ptr()["paths"]

    # simulate crash leftovers: a superseded base never retired and a
    # partially written delta that never committed
    for junk in ("v9", "d9"):
        os.makedirs(os.path.join(state, junk))
        with open(os.path.join(state, junk, "part-0.parquet"), "w") as f:
            f.write("partial")
    marker = os.path.join(state, "NOTES.txt")
    with open(marker, "w") as f:
        f.write("not a state dir")

    reg2 = DedupRegistry(spark, state, out, ["k"], ["seq"], compact_every=3)
    assert not os.path.exists(os.path.join(state, "v9"))
    assert not os.path.exists(os.path.join(state, "d9"))
    assert all(os.path.exists(p) for p in committed)  # committed untouched
    assert os.path.exists(marker)                     # non-state files kept
    assert reg2.seen_keys().count() == 2
    # versioning resumes from the committed pointer, not the junk's v9
    reg2._checkpoint = str(tmp_path / "ck")
    reg2._apply_batch(
        spark.createDataFrame([(2, 0), (3, 1)], "k long, seq long"), 1)
    assert reg2.seen_keys().count() == 3
    emitted = sorted(r["k"] for r in reg2.emitted().collect())
    assert emitted == [1, 2, 3]


# S44 streaming winnowing registry (the q268 pair-finder's live form):
# documents replayed in 4 chunks maintain a persistent (doc_id, fp)
# posting index via the delta-state machinery; after draining, pairs()
# over the maintained index must hash-equal the batch
# winnowing_neardup_pairs over the full corpus (shared code path, stop
# list recomputed at read time). State I/O is O(batch postings) per
# micro-batch (S42 contract) and redelivery is a no-op (S36 contract).
def test_s44_streaming_winnowing_registry(spark, tmp_path):
    from inspectadb_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_neardup_pairs,
    )
    from inspectadb_spark.streaming.dedup_registry import WinnowingRegistry

    src = str(tmp_path / "docs_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    reg = WinnowingRegistry(spark, str(tmp_path / "st"),
                            str(tmp_path / "out"), compact_every=3)
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = reg.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    q.stop()

    docs = spark.read.parquet(src)
    canon = lambda df: sorted(  # noqa: E731
        tuple(str(x) for x in r) for r in df.collect())
    # batch ≡ stream: the maintained index reproduces the batch pairs
    assert canon(reg.pairs()) == canon(winnowing_neardup_pairs(docs))
    # ...because the index IS the batch posting table
    assert canon(reg.index()) == canon(winnowing_fingerprints(docs))

    # S42 contract: the next batch's state write is one delta holding
    # exactly that batch's postings, not a rewrite of the whole index
    extra = spark.createDataFrame(
        [(900_001, "the winnowing scheme fingerprints every substring "
                   "window of this brand new document exactly once")],
        "doc_id long, text string")
    n_index = reg.index().count()
    n_extra = winnowing_fingerprints(extra).count()
    assert n_extra > 0
    reg._apply_batch(extra, 10_000)
    paths = reg._read_ptr()["paths"]
    assert spark.read.parquet(paths[-1]).count() == n_extra
    assert reg.index().count() == n_index + n_extra

    # S36 contract: crash-window redelivery of the same batch is a no-op
    reg._apply_batch(extra, 10_000)
    assert reg.index().count() == n_index + n_extra
    # first-seen doc wins: a re-crawl of an indexed id (changed text)
    # contributes no postings at all
    recrawl = spark.createDataFrame(
        [(900_001, "completely different text for the same identifier "
                   "that must not half-merge into the posting set")],
        "doc_id long, text string")
    reg._apply_batch(recrawl, 10_001)
    assert reg.index().count() == n_index + n_extra


# S43 the continuous-aggregate -> star-dashboard seam, two dims deep:
# IncrementalAggregate maintains (user, type)-grain state from the
# replayed stream; the Engine serves a TWO-dimension star SQL (user
# bucket x type family) from that live state through _route_star —
# never scanning the event history — and the answer must hash-equal the
# direct batch join-then-aggregate over the full history.
def test_s43_incremental_state_serves_star2(spark, replay_dir, tmp_path):
    from inspectadb_spark.engine import Engine
    from inspectadb_spark.operators.mv import MVDef
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"user_id": "user_id", "event_type": "event_type"},
        measures=[("cnt", "count", "*"), ("sv", "sum", "value"),
                  ("cnt_v", "count", "value")])
    q = inc.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()
    state_path = inc._read_ptr()[0]

    hist = spark.read.parquet(replay_dir)
    dim_u = (hist.select(F.col("user_id").alias("uk")).distinct()
             .withColumn("bucket", F.expr("CAST(uk % 3 AS INT)")))
    dim_t = (hist.select(F.col("event_type").alias("tk")).distinct()
             .withColumn("family", F.expr(
                 "CASE WHEN tk IN ('purchase', 'signup')"
                 " THEN 'commit' ELSE 'browse' END")))
    eng = Engine(spark, SF_DIR, str(tmp_path / "eng"))
    eng.tables["events_hist"] = hist
    eng.tables["dim_user"] = dim_u
    eng.tables["dim_type"] = dim_t
    # splice the STREAM-maintained state in as the declaring MV store
    # (register_mv would rebuild from the base scan — the seam under
    # test is that the live state itself serves)
    mv = MVDef(name="live_ue", keys=("user_id", "event_type"),
               measures={"sv": ("sum", "value"), "cnt": ("count", "*"),
                         "cnt_v": ("count", "value")})
    eng._mvs["live_ue"] = (mv, state_path, "events_hist", None)

    routed, prov = eng.sql_routed(
        "SELECT du.bucket, dt.family, SUM(f.value) AS sv, COUNT(*) AS n, "
        "AVG(f.value) AS av "
        "FROM events_hist f JOIN dim_user du ON f.user_id = du.uk "
        "JOIN dim_type dt ON f.event_type = dt.tk "
        "GROUP BY du.bucket, dt.family")
    assert prov == "star2:mv:live_ue"
    tot = "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
    direct = (hist.join(dim_u, hist.user_id == dim_u.uk)
              .join(dim_t, hist.event_type == dim_t.tk)
              .groupBy("bucket", "family")
              .agg(F.expr(f"{tot} AS sv"), F.expr("COUNT(*) AS n"),
                   F.expr(f"{tot} / COUNT(value) AS av")))
    canon = lambda df: sorted(  # noqa: E731
        tuple(str(x) for x in r) for r in df.collect())
    assert canon(routed) == canon(direct) and routed.count() > 0
    # the fact grain is READ, not recomputed: the executed plan's grain
    # scan carries the reserved __sum_/__count_ measure columns, which
    # exist only in the streaming state (or the result cache written
    # over it) — never in the event history. Column names survive plan
    # stringification where file paths get truncated.
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "__sum_sv" in plan and "__count_n" in plan


# S45 live experimentation monitor (VERDICT r7 item 7): a user-grain
# IncrementalAggregate keyed by (user_id, arm) maintains each user's
# high-value-conversion flag over the event stream; after the drain, the
# SRM gate (q320) and the two-proportion z readout (q321) computed from
# the LIVE STATE — through the very same srm_readout/two_prop_readout
# arithmetic the batch queries use — equal the batch reports
# byte-for-byte. The S29 Wilson-monitor composition for experiment
# guardrails: state is one row per distinct user (bounded by the user
# population, independent of stream length), merge per batch is
# O(|users| + |batch|).
def test_s45_live_experimentation_monitor(spark, replay_dir, tmp_path):
    from inspectadb_spark.queries.registry import REGISTRY
    from inspectadb_spark.queries.training import (
        _ARM_EXPR, _CONV_EXPR, srm_readout, two_prop_readout)
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    inc = IncrementalAggregate(
        spark,
        state_dir=str(tmp_path / "state"),
        # arm is a pure function of user_id, so keying by both keeps the
        # state at exactly one row per user while making the per-arm
        # readout a plain filter-free aggregate over the state
        key_exprs={"user_id": "user_id", "arm": _ARM_EXPR},
        measures=[("conv", "max", _CONV_EXPR)],
    )
    q = inc.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = inc.table()
    # bounded state: exactly one row per distinct user ever seen
    n_users = (spark.read.parquet(replay_dir)
               .select("user_id").distinct().count())
    assert state.count() == n_users

    s = state.agg(
        F.sum(F.expr("CASE WHEN arm = 'a' THEN 1 ELSE 0 END"))
        .cast("bigint").alias("na"),
        F.sum(F.expr("CASE WHEN arm = 'a' THEN conv ELSE 0 END"))
        .cast("bigint").alias("ca"),
        F.sum(F.expr("CASE WHEN arm = 'b' THEN 1 ELSE 0 END"))
        .cast("bigint").alias("nb"),
        F.sum(F.expr("CASE WHEN arm = 'b' THEN conv ELSE 0 END"))
        .cast("bigint").alias("cb"))
    live_srm = srm_readout(s.select("na", "nb"))
    live_z = two_prop_readout(s)

    # the replay IS the corpus events table, so the batch references are
    # the registry queries themselves at SF_DIR
    want_srm = REGISTRY["q320_srm_check"].builder(spark, SF_DIR)
    want_z = REGISTRY["q321_two_proportion_z"].builder(spark, SF_DIR)
    assert _rows(live_srm) == _rows(want_srm)
    assert _rows(live_z) == _rows(want_z)


# S46 live calibration monitor (VERDICT r8 item 8): one bin-grain
# IncrementalAggregate over the held-out event stream — enriched against
# the BROADCAST static train model (hour-of-day purchase rate, the q294
# predictor) — maintains per-confidence-bin exact sufficient statistics
# (n, Σp, Σp², Σy, Σp·y); after the drain, q295's ECE/MCE and q324's
# OLS calibration fit computed from the LIVE STATE — through the very
# same ece_readout/calibration_fit_readout closed forms the batch
# queries use — equal the batch reports byte-for-byte. Σp² and Σp·y ride
# the 12dp exact-sum kind (a 6dp decimal sum would round each squared
# 6dp prediction). State is one row per confidence bin (≤ 10 rows,
# independent of stream length); merge per batch is O(bins + |batch|).
def test_s46_live_calibration_monitor(spark, replay_dir, tmp_path):
    from inspectadb_spark.queries.registry import REGISTRY
    from inspectadb_spark.queries.stats import (
        calibration_fit_readout, ece_readout)
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    # static train model: the q294/q295/q324 hour-of-day predictor fit
    # on the first half (days <= 15) — at deployment this is the frozen
    # model table the live monitor scores against
    tr = (spark.read.parquet(replay_dir).filter("day(ts) <= 15")
          .groupBy(F.expr("CAST(hour(ts) AS INT)").alias("hr"))
          .agg(F.expr(
              "ROUND(CAST(SUM(CASE WHEN event_type = 'purchase'"
              " THEN 1.0 ELSE 0 END) / COUNT(*) AS DECIMAL(18,6)), 6)")
              .alias("p")))
    enriched = (
        _stream(spark, replay_dir)
        .filter("day(ts) > 15")
        .select(F.expr("CAST(hour(ts) AS INT)").alias("hr"),
                F.expr("CASE WHEN event_type = 'purchase'"
                       " THEN 1 ELSE 0 END").alias("y"))
        .join(F.broadcast(tr), "hr"))
    inc = IncrementalAggregate(
        spark,
        state_dir=str(tmp_path / "state"),
        key_exprs={"bin": "CAST(LEAST(FLOOR(CAST(p AS DOUBLE) * 10), 9)"
                          " AS INT)"},
        measures=[("n", "count", "1"), ("sp", "sum", "p"),
                  ("spp", "sum12", "p * p"), ("sy", "sum", "y"),
                  ("spy", "sum", "p * y")],
    )
    q = inc.start(enriched, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = inc.table()
    # bounded state: one row per occupied confidence bin, never more
    # than the 10 declared bins
    assert 0 < state.count() <= 10

    live_ece = ece_readout(state.select(
        "n", "sp", F.col("sy").alias("pos")))
    live_fit = calibration_fit_readout(state.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sp").cast("double").alias("sp"),
        F.sum("spp").cast("double").alias("spp"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("spy").cast("double").alias("spy")))

    # the replay IS the corpus events table, so the batch references are
    # the registry queries themselves at SF_DIR
    want_ece = REGISTRY["q295_ece"].builder(spark, SF_DIR)
    want_fit = REGISTRY["q324_calibration_fit"].builder(spark, SF_DIR)
    assert _rows(live_ece) == _rows(want_ece)
    assert _rows(live_fit) == _rows(want_fit)


# S47 live drift monitor (the third deployment guardrail, completing the
# S45 experiment-health / S46 calibration pair): a (type, bin)-grain
# IncrementalAggregate maintains exact value-bin counts of the CURRENT
# window (event_id > mid) over the stream; the frozen REFERENCE
# distribution (the first half, computed at deployment) is a static
# count table. After the drain, q173's PSI computed from reference ∪
# live state — through the very same psi_readout closed form the batch
# query uses — equals the batch report byte-for-byte. State is one row
# per occupied (event_type, bin) cell (≤ |types|·10, independent of
# stream length).
def test_s47_live_drift_monitor(spark, replay_dir, tmp_path):
    from inspectadb_spark.queries.registry import REGISTRY
    from inspectadb_spark.queries.stats import psi_readout
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    hist = spark.read.parquet(replay_dir)
    mid = hist.agg(F.expr("MAX(event_id) DIV 2").alias("m")).collect()[0]["m"]
    # frozen reference: the first half's exact bin counts
    ref = (hist.filter(F.col("event_id") <= mid)
           .groupBy("event_type",
                    F.expr("CAST(LEAST(FLOOR(value / 50.0), 9) AS INT)")
                    .alias("bin"))
           .agg(F.count("*").alias("n"))
           .withColumn("half", F.lit(0)))

    inc = IncrementalAggregate(
        spark,
        state_dir=str(tmp_path / "state"),
        key_exprs={"event_type": "event_type",
                   "bin": "CAST(LEAST(FLOOR(value / 50.0), 9) AS INT)"},
        measures=[("n", "count", "1")],
    )
    q = inc.start(_stream(spark, replay_dir).filter(F.col("event_id") > mid),
                  str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = inc.table()
    n_types = hist.select("event_type").distinct().count()
    assert 0 < state.count() <= n_types * 10  # bounded (type, bin) grid

    live = psi_readout(ref.unionByName(
        state.withColumn("half", F.lit(1))
        .select("event_type", "bin", "half", "n")))
    want = REGISTRY["q173_psi_drift"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


# S48 live model-eval monitor (VERDICT r10 item 5, completing the
# S45-experiment-health / S46-calibration / S47-drift deployment-guardrail
# family with ranking quality): a (user_id, event_type)-grain
# IncrementalAggregate maintains the exact sufficient statistics of the
# q291/q292 recommender eval over the stream — s (model-half interaction
# count, the ranking score), r (graded second-half relevance), rhv
# (high-value second-half relevance). After the drain, NDCG@3/@1 and
# MRR/hit@k computed from the LIVE STATE — through the very same
# ndcg_readout / mrr_readout closed forms the batch queries use — equal
# the batch reports byte-for-byte. State is one row per OBSERVED
# (user, type) pair: bounded by the user x type domain, independent of
# stream length; merge per batch is O(state + |batch|).
def test_s48_live_model_eval_monitor(spark, replay_dir, tmp_path):
    from inspectadb_spark.queries.registry import REGISTRY
    from inspectadb_spark.queries.training import mrr_readout, ndcg_readout
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    inc = IncrementalAggregate(
        spark,
        state_dir=str(tmp_path / "state"),
        key_exprs={"user_id": "user_id", "event_type": "event_type"},
        measures=[
            ("s", "sum", "CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END"),
            ("r", "sum", "CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END"),
            ("rhv", "sum", "CASE WHEN day(ts) > 15 AND value > 150"
                           " THEN 1 ELSE 0 END"),
        ],
    )
    q = inc.start(_stream(spark, replay_dir), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = inc.table()
    hist = spark.read.parquet(replay_dir)
    n_users = hist.select("user_id").distinct().count()
    n_types = hist.select("event_type").distinct().count()
    # bounded state: the (user, type) grid, never the event count
    assert 0 < state.count() <= n_users * n_types

    # the 'sum' kind carries DECIMAL(18,6); the statistics are integer
    # counts, so the cast back to bigint is exact
    ints = state.select(
        "user_id", "event_type",
        F.col("s").cast("bigint").alias("s"),
        F.col("r").cast("bigint").alias("r"),
        F.col("rhv").cast("bigint").alias("rhv"))
    live_ndcg = ndcg_readout(ints.select("user_id", "event_type", "s", "r"))
    live_mrr = mrr_readout(ints.select("user_id", "event_type", "s",
                                       F.col("rhv").alias("r")))

    # the replay IS the corpus events table, so the batch references are
    # the registry queries themselves at SF_DIR
    want_ndcg = REGISTRY["q291_ndcg"].builder(spark, SF_DIR)
    want_mrr = REGISTRY["q292_mrr"].builder(spark, SF_DIR)
    assert _rows(live_ndcg) == _rows(want_ndcg)
    assert _rows(live_mrr) == _rows(want_mrr)


# S49 live training-mixture monitor (completing the deployment-guardrail
# family with the INGESTION-side guardrail: S45 experiment health, S46
# calibration, S47 drift, S48 ranking eval watch the serving side; S49
# watches the corpus a training run is about to consume): a (source)-grain
# IncrementalAggregate maintains exact doc counts and char mass as
# documents stream in; q249's temperature-scaled sampling weights computed
# from the LIVE STATE — through the very same mixture_readout closed form
# the batch query uses — equal the batch report byte-for-byte after the
# drain. State is one row per source (|sources|, independent of corpus
# size); per batch the merge is O(state + |batch sources|).
def test_s49_live_mixture_monitor(spark, tmp_path):
    from inspectadb_spark.queries.llm import mixture_readout
    from inspectadb_spark.queries.registry import REGISTRY
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    src = str(tmp_path / "docs_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"source": "source"},
        measures=[("n", "count", "*"), ("chars", "sum", "n_chars")],
    )
    q = inc.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = inc.table()
    n_sources = spark.read.parquet(src).select("source").distinct().count()
    assert state.count() == n_sources  # bounded: the source domain

    # the 'sum' kind carries DECIMAL(18,6); n_chars is integral, so the
    # readout's bigint cast is exact
    live = mixture_readout(state).orderBy("source")
    want = REGISTRY["q249_mixture_temperature"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


# S50 streaming ANN serving: a stream of query vectors served against the
# PERSISTED IVF index (stream-static, the retrieval-service shape). Each
# micro-batch runs ivf_knn_join_from_index — stateless per query row, so
# the union of per-batch results equals the one-shot batch serve over the
# same queries EXACTLY (and the index is never rescanned beyond each
# batch's probed cells). Window/top-k runs inside foreachBatch where it
# is a plain batch op — no streaming-unsupported-operator contortions.
def test_s50_streaming_ann_serving_from_persisted_index(spark, tmp_path):
    from inspectadb_spark.operators.similarity import (
        ivf_knn_join_from_index, kmeans_fit, save_ivf_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=6, iters=1)
    idx = str(tmp_path / "ivf_index")
    save_ivf_index(e, cents, idx)

    # the query stream: a deterministic sample replayed in 3 chunks
    qsrc = str(tmp_path / "queries")
    os.makedirs(qsrc)
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    qt = t.filter(pc.equal(pc.bit_wise_and(t.column("vec_id"), 3), 1))
    step = (qt.num_rows + 2) // 3
    now = time.time()
    for i in range(3):
        p = f"{qsrc}/chunk{i:02d}.parquet"
        pq.write_table(qt.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    out = str(tmp_path / "served")

    def serve(batch, _bid):
        (ivf_knn_join_from_index(spark, idx, batch, k=3, n_probe=2)
         .write.mode("append").parquet(out))

    q = (spark.readStream.schema(spark.read.parquet(qsrc).schema)
         .option("maxFilesPerTrigger", 1).parquet(qsrc)
         .writeStream.foreachBatch(serve)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()

    live = spark.read.parquet(out)
    want = ivf_knn_join_from_index(spark, idx, spark.read.parquet(qsrc),
                                   k=3, n_probe=2)
    assert _rows(live) == _rows(want) and live.count() > 0


# S50b streaming FILTERED ANN serving (VERDICT r11 item 5): production
# query streams carry metadata predicates; each micro-batch routes its
# queries to their predicate's allowed-id set and serves through the
# pre-filter semi join (q350's shape on the batched path). Stateless per
# query row, so the union of filtered micro-batch serves equals the
# one-shot filtered batch serve EXACTLY — per predicate group.
def test_s50b_streaming_filtered_ann_serving(spark, tmp_path):
    from inspectadb_spark.operators.similarity import (
        ivf_knn_join_from_index, kmeans_fit, save_ivf_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cents, _ = kmeans_fit(e, k=6, iters=1)
    idx = str(tmp_path / "ivf_index")
    save_ivf_index(e, cents, idx)

    # two predicate groups, keyed by a query-side routing attribute
    allowed_by_pred = {
        "en": d.filter(F.col("lang") == "en").select("doc_id"),
        "not_en": d.filter(F.col("lang") != "en").select("doc_id"),
    }

    qsrc = str(tmp_path / "queries")
    os.makedirs(qsrc)
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    qt = t.filter(pc.equal(pc.bit_wise_and(t.column("vec_id"), 3), 1))
    step = (qt.num_rows + 2) // 3
    now = time.time()
    for i in range(3):
        p = f"{qsrc}/chunk{i:02d}.parquet"
        pq.write_table(qt.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    out = str(tmp_path / "served")

    def serve(batch, _bid):
        # route each query row to its predicate group (vec_id parity here;
        # a real stream would carry the predicate as a column), then serve
        # each group through its allowed-id pre-filter
        for pred, routed in (("en", batch.filter(F.col("vec_id") % 2 == 1)),
                             ("not_en",
                              batch.filter(F.col("vec_id") % 2 == 0))):
            (ivf_knn_join_from_index(
                spark, idx, routed, k=3, n_probe=2,
                allowed=allowed_by_pred[pred])
             .withColumn("pred", F.lit(pred))
             .write.mode("append").parquet(out))

    q = (spark.readStream.schema(spark.read.parquet(qsrc).schema)
         .option("maxFilesPerTrigger", 1).parquet(qsrc)
         .writeStream.foreachBatch(serve)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()

    live = spark.read.parquet(out)
    qall = spark.read.parquet(qsrc)
    want = None
    for pred, flt in (("en", F.col("vec_id") % 2 == 1),
                      ("not_en", F.col("vec_id") % 2 == 0)):
        one = (ivf_knn_join_from_index(
            spark, idx, qall.filter(flt), k=3, n_probe=2,
            allowed=allowed_by_pred[pred])
            .withColumn("pred", F.lit(pred)))
        want = one if want is None else want.unionByName(one)
    assert _rows(live) == _rows(want) and live.count() > 0
    # the filter really bit: every served neighbor satisfies its predicate
    en_ids = {r.doc_id for r in allowed_by_pred["en"].collect()}
    for r in live.collect():
        assert (r.n_id in en_ids) == (r.pred == "en")


# S51 live IVF index ingestion: new vectors stream INTO the persisted
# index as cell-partitioned delta commits (atomic pointer, batch-keyed
# overwrite-idempotent paths, periodic compaction — the DedupRegistry
# crash story applied to an ANN index). After the drain the committed
# lists equal the from-scratch assignment of the full collection, and
# serving from the index equals the inline k-NN join over base ∪ ingested.
def test_s51_streaming_ivf_index_ingestion(spark, tmp_path):
    from inspectadb_spark.operators.similarity import (
        ivf_assign, ivf_knn_join, ivf_knn_join_from_index, kmeans_fit,
        read_ivf_lists, save_ivf_index,
    )
    from inspectadb_spark.streaming.ann_index import StreamingIvfIngest

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 4 != 1)
    incoming = e.filter(F.col("vec_id") % 4 == 1)
    cents, _ = kmeans_fit(base, k=4, iters=1)
    idx = str(tmp_path / "ivf_index")
    save_ivf_index(base, cents, idx)

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    it = t.filter(pc.equal(pc.bit_wise_and(t.column("vec_id"), 3), 1))
    step = (it.num_rows + 2) // 3
    now = time.time()
    for i in range(3):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(it.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    # compact_every=3: commits 1-2 stay delta appends, commit 3 compacts
    inc = StreamingIvfIngest(spark, idx, compact_every=3)
    q = inc.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    # compaction fired: one committed base, no dangling deltas in the ptr
    assert len(inc.committed_paths()) == 1
    assert "lists_v" in inc.committed_paths()[0]

    # committed lists ≡ from-scratch assignment of the full collection
    lists = read_ivf_lists(spark, idx)
    got = {(r.vec_id, r._cell) for r in lists.select("vec_id", "_cell").collect()}
    want = {(r.vec_id, r._cell)
            for r in ivf_assign(e, inc.cents).select("vec_id", "_cell").collect()}
    assert got == want and len(got) == e.count()

    # serving parity: index serve ≡ inline join over base ∪ ingested
    queries = e.filter(F.col("vec_id") % 9 == 4)
    served = ivf_knn_join_from_index(spark, idx, queries, k=3, n_probe=2)
    inline = ivf_knn_join(queries, e, cents, k=3, n_probe=2)
    assert _rows(served) == _rows(inline)

    # crash-window idempotence: re-applying the last batch is a no-op
    n_before = read_ivf_lists(spark, idx).count()
    inc._apply_batch(incoming.limit(5), 2)
    assert read_ivf_lists(spark, idx).count() == n_before


# S52 live IVF staleness watch (the rebuild trigger closing the index
# lifecycle: build → persist → serve → ingest → WATCH): a (cell)-grain
# IncrementalAggregate maintains exact (n, Σd²) of incoming vectors under
# the frozen model — Lloyd's objective, directly comparable to the
# trained inertia. Merging any chunking of the input equals the one-shot
# batch partial exactly (decimal sums); a distribution shift trips the
# stale flag against the trained per-vector bar.
def test_s52_live_ivf_drift_monitor(spark, tmp_path):
    from inspectadb_spark.operators.similarity import kmeans_fit
    from inspectadb_spark.streaming.ann_index import (
        StreamingIvfDrift, ivf_drift_readout,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    train = e.filter(F.col("vec_id") % 2 == 0)
    cents, inertia = kmeans_fit(train, k=4, iters=2)
    n_trained = train.count()

    # the incoming stream: the other half, SHIFTED — a real distribution
    # move the frozen model cannot represent
    shifted = e.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(5.0))
        .alias("embedding"))
    src = str(tmp_path / "incoming")
    shifted.coalesce(1).write.parquet(src)
    # re-split into 3 mtime-ordered chunks for the replay
    import glob
    one = glob.glob(f"{src}/part-*.parquet")[0]
    t = pq.read_table(one)
    os.remove(one)
    step = (t.num_rows + 2) // 3
    now = time.time()
    for i in range(3):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    mon = StreamingIvfDrift(spark, str(tmp_path / "state"), cents)
    q = mon.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = mon.table()
    assert 0 < state.count() <= 4  # one row per occupied cell

    # batch ≡ stream: the merged chunked state equals the one-shot partial
    live = ivf_drift_readout(state, inertia[-1], n_trained)
    batch = ivf_drift_readout(
        mon._partial(spark.read.parquet(src)), inertia[-1], n_trained)
    assert _rows(live) == _rows(batch)

    # the shift trips the stale flag on the overall (-1) row
    overall = {r.cell: r.stale for r in live.collect()}
    assert overall[-1] is True


# S51b: an empty micro-batch (a trigger with no new files delivers one)
# must be a no-op — an empty delta directory would poison the committed-
# path union with an unreadable parquet root.
def test_s51b_empty_batch_is_noop(spark, tmp_path):
    from inspectadb_spark.operators.similarity import (
        kmeans_fit, read_ivf_lists, save_ivf_index,
    )
    from inspectadb_spark.streaming.ann_index import StreamingIvfIngest

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(40)
    cents, _ = kmeans_fit(e, k=2, iters=1)
    idx = str(tmp_path / "ivf_index")
    save_ivf_index(e, cents, idx)

    inc = StreamingIvfIngest(spark, idx)
    inc._checkpoint = str(tmp_path / "ckpt")
    n0 = read_ivf_lists(spark, idx).count()
    inc._apply_batch(e.filter(F.lit(False)), 0)
    assert inc._read_ptr() is None  # nothing committed
    assert read_ivf_lists(spark, idx).count() == n0


# S53 streaming serving from the persisted IVF-PQ index: the S50 scenario
# with the CODE-list index — each micro-batch of query vectors is served
# through ivf_pq_knn_join_from_index with an exact rerank against the base
# table. The function is stateless per row, so the union of micro-batch
# serves equals the one-shot batch serve exactly — and at a full rerank
# budget both equal full-precision ivf_knn_join (pinned in test_cluster).
def test_s53_streaming_pq_serving_from_persisted_index(spark, tmp_path):
    from inspectadb_spark.operators.similarity import (
        ivf_pq_knn_join_from_index, kmeans_fit, pq_fit, save_ivf_pq_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=6, iters=1)
    books = pq_fit(e, m=8, ks=16, iters=2, sample=400)
    idx = str(tmp_path / "ivfpq_index")
    save_ivf_pq_index(e, cents, books, idx)

    qsrc = str(tmp_path / "queries")
    os.makedirs(qsrc)
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    qt = t.filter(pc.equal(pc.bit_wise_and(t.column("vec_id"), 7), 2))
    step = (qt.num_rows + 2) // 3
    now = time.time()
    for i in range(3):
        p = f"{qsrc}/chunk{i:02d}.parquet"
        pq.write_table(qt.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    out = str(tmp_path / "served")

    def serve(batch, _bid):
        (ivf_pq_knn_join_from_index(
            spark, idx, batch, k=3, n_probe=2, rerank=40, vectors=e)
         .write.mode("append").parquet(out))

    q = (spark.readStream.schema(spark.read.parquet(qsrc).schema)
         .option("maxFilesPerTrigger", 1).parquet(qsrc)
         .writeStream.foreachBatch(serve)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()

    live = spark.read.parquet(out)
    want = ivf_pq_knn_join_from_index(
        spark, idx, spark.read.parquet(qsrc), k=3, n_probe=2,
        rerank=40, vectors=e)
    assert _rows(live) == _rows(want) and live.count() > 0


# S54 streaming quarantine ingest: a stream of raw JSON lines is split per
# micro-batch into good rows and quarantined raw lines (two sinks). The
# split is a pure projection (quarantine_split_lines), so the union of
# micro-batch outputs equals the one-shot batch split exactly — and the
# quarantine sink keeps raw bytes for replay, the crash-safe ingest shape:
# a retried batch rewrites the same lines, never loses them.
def test_s54_streaming_quarantine_ingest(spark, tmp_path):
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from inspectadb_spark.sources.files import (
        quarantine_split_lines, read_json_with_quarantine,
    )

    schema = StructType([StructField("id", IntegerType()),
                         StructField("name", StringType())])
    src = str(tmp_path / "lines")
    os.makedirs(src)
    now = time.time()
    all_lines = []
    for i in range(3):
        chunk = [f'{{"id": {i * 10 + j}, "name": "r{i * 10 + j}"}}'
                 for j in range(8)]
        chunk.insert(3, f"GARBAGE chunk {i}")
        chunk.insert(6, f'{{"id": "bad-{i}", "name": "typed"}}')
        all_lines += chunk
        p = f"{src}/chunk{i:02d}.txt"
        with open(p, "w") as f:
            f.write("\n".join(chunk) + "\n")
        os.utime(p, (now + i, now + i))

    good_out = str(tmp_path / "good")
    quar_out = str(tmp_path / "quarantine")

    def split(batch, _bid):
        g, b = quarantine_split_lines(batch, schema, "json")
        g.write.mode("append").parquet(good_out)
        b.write.mode("append").text(quar_out)

    q = (spark.readStream.schema("value string")
         .option("maxFilesPerTrigger", 1).text(src)
         .writeStream.foreachBatch(split)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()

    live_good = spark.read.parquet(good_out)
    live_bad = spark.read.text(quar_out)
    # batch ≡ stream: the one-shot batch reader over the same files
    want_good, want_bad = read_json_with_quarantine(spark, src, schema)
    assert _rows(live_good) == _rows(want_good)
    assert _rows(live_bad) == _rows(want_bad)
    # total-preserving across the whole stream
    assert live_good.count() + live_bad.count() == len(all_lines)
    assert live_bad.count() == 6


# --------------------------------------------------------------------------
# S55 live k-anonymity / l-diversity monitor (the privacy face of the
# guardrail family: S45 experiment health, S46 calibration, S47 drift,
# S48 ranking eval, S49 training mixture — S55 watches RELEASE hygiene as
# rows accumulate): a (nation, bal_band) quasi-identifier-grain
# IncrementalAggregate maintains the exact group size (`count` kind) and
# the sorted distinct sensitive-value set (`set` kind — bounded, 5 market
# segments) as customers stream in; the q343 audit read from the LIVE
# STATE — through the very same k_anonymity_readout closed form the batch
# query uses — equals the batch report byte-for-byte after the drain.
# State is one row per occupied QI cell (|nations| x |balance bands|,
# independent of corpus size); per batch the merge is O(state + batch
# cells).
def test_s55_live_k_anonymity_monitor(spark, tmp_path):
    from inspectadb_spark.operators.privacy import k_anonymity_readout
    from inspectadb_spark.queries.registry import REGISTRY
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    src = str(tmp_path / "cust_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/customer.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"nation": "c_nationkey",
                   "bal_band": "CAST(FLOOR(c_acctbal / 2000) AS INT)"},
        measures=[("n", "count", "*"), ("svals", "set", "c_mktsegment")],
    )
    q = inc.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = inc.table()
    n_cells = (spark.read.parquet(src)
               .selectExpr("c_nationkey",
                           "CAST(FLOOR(c_acctbal / 2000) AS INT) AS b")
               .distinct().count())
    assert state.count() == n_cells  # bounded: the occupied QI cells

    live = k_anonymity_readout(state)
    want = REGISTRY["q343_k_anonymity"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


# --------------------------------------------------------------------------
# S56 live generalization-ladder watch (the enforce-side twin of S55: as
# rows accumulate, the generalization width a release needs SHRINKS — the
# watch answers "could we publish finer bands yet?" continuously): a
# (nation, base-band) QI-cell-grain IncrementalAggregate maintains exact
# counts; q344's whole operating curve — per-width risk mass and the
# budgeted chosen width — read from the LIVE STATE through the very same
# anonymize_sweep_from_groups closed form the batch query uses, equals
# the batch sweep byte-for-byte after the drain. Everything below the
# base group-by is model-sized, so the live readout costs the same at any
# stream history length.
def test_s56_live_generalization_ladder_watch(spark, tmp_path):
    from inspectadb_spark.operators.privacy import anonymize_sweep_from_groups
    from inspectadb_spark.queries.registry import REGISTRY
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    src = str(tmp_path / "cust_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/customer.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"nation": "c_nationkey",
                   "b0": "CAST(FLOOR(c_acctbal / 2000) AS INT)"},
        measures=[("n", "count", "*")],
    )
    q = inc.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    live = anonymize_sweep_from_groups(inc.table(), ["nation"])
    want = REGISTRY["q344_k_anonymize_sweep"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


# --------------------------------------------------------------------------
# S57 live t-closeness monitor (the third privacy watch: S55 k-anonymity /
# l-diversity, S56 generalization ladder, S57 distributional skew): a
# (nation, bal_band, segment)-grain IncrementalAggregate maintains the
# exact pair counts (`count` kind) as customers stream in; the q345 audit
# read from the LIVE STATE — through the very same t_closeness_readout
# closed form the batch query uses — equals the batch report byte-for-byte
# after the drain. State is one row per occupied (QI, sensitive) cell
# (bounded by |QI domain| x |sensitive domain|, independent of corpus
# size); the global marginal and total the readout needs are re-derived
# from that state, so no second state table is required.
def test_s57_live_t_closeness_monitor(spark, tmp_path):
    from inspectadb_spark.operators.privacy import t_closeness_readout
    from inspectadb_spark.queries.registry import REGISTRY
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    src = str(tmp_path / "cust_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/customer.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"nation": "c_nationkey",
                   "bal_band": "CAST(FLOOR(c_acctbal / 2000) AS INT)",
                   "s": "c_mktsegment"},
        measures=[("c", "count", "*")],
    )
    q = inc.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = inc.table()
    n_cells = (spark.read.parquet(src)
               .selectExpr("c_nationkey",
                           "CAST(FLOOR(c_acctbal / 2000) AS INT) AS b",
                           "c_mktsegment")
               .distinct().count())
    assert state.count() == n_cells  # bounded: occupied (QI, s) cells

    live = t_closeness_readout(state, ["nation", "bal_band"], "s")
    want = REGISTRY["q345_t_closeness"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


# --------------------------------------------------------------------------
# S58 live DP release (the release-side member of the privacy watches:
# S55 k-anonymity, S56 generalization ladder, S57 t-closeness, S58 noisy
# publication): a (nation)-grain IncrementalAggregate maintains exact cell
# counts as customers stream in; the q347 Laplace release read from the
# LIVE STATE — through the very same dp_release_from_counts closed form —
# equals the batch release byte-for-byte after the drain. This is stronger
# than the usual batch ≡ stream: the mechanism's noise is a pure function
# of the cell key (keyed PRF), so the live and batch releases are the SAME
# DP release, not two draws from the same distribution — re-publishing as
# the stream grows re-perturbs only counts that changed. State is one row
# per occupied cell.
def test_s58_live_dp_release(spark, tmp_path):
    from inspectadb_spark.operators.privacy import dp_release_from_counts
    from inspectadb_spark.queries.registry import REGISTRY
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    src = str(tmp_path / "cust_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/customer.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"nation": "c_nationkey"},
        measures=[("n", "count", "*")],
    )
    q = inc.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = inc.table()
    assert state.count() == (spark.read.parquet(src)
                             .select("c_nationkey").distinct().count())

    live = dp_release_from_counts(state, ["nation"])
    want = REGISTRY["q347_dp_noisy_release"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


# --------------------------------------------------------------------------
# S59 live DSIR importance model (the ingestion-side guardrail beside S49's
# mixture watch: as pool documents stream in, the hashed-unigram domain
# model that drives q346's selection stays current without re-counting the
# corpus): a (bucket)-grain IncrementalAggregate maintains the DSIR
# sufficient statistic — raw token count (`count` kind) and target token
# count (conditional `sum` kind) per md5 feature bucket, key expr shared
# verbatim via dsir_bucket_sql — and scoring the pool FROM THE LIVE MODEL
# through the same dsir_weights_from_model closed form equals the one-shot
# batch weights byte-for-byte after the drain. State is ≤ B = 256 rows
# forever, independent of corpus size; this is also the deployment shape:
# a frozen/live model scores NEW shards without touching old ones.
def test_s59_live_dsir_importance_model(spark, tmp_path):
    from inspectadb_spark.operators.pipeline import (
        dsir_bucket_sql, dsir_importance_weights, dsir_weights_from_model,
    )
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    src = str(tmp_path / "docs_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    step = (t.num_rows + 3) // 4
    now = time.time()
    for i in range(4):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"bk": dsir_bucket_sql()},
        measures=[("cr", "count", "*"),
                  ("ct", "sum", "CASE WHEN lang = 'en' THEN 1 ELSE 0 END")],
    )
    stream = (_stream(spark, src)
              .select("lang",
                      F.explode(F.split(F.col("text"), " ")).alias("tok")))
    q = inc.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = inc.table()
    assert state.count() <= 256          # bounded: the feature buckets

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    live = dsir_weights_from_model(docs, state)
    want = dsir_importance_weights(docs, F.col("lang") == "en")
    assert _rows(live) == _rows(want)


# --------------------------------------------------------------------------
# S60 state-store observability: any stateful streaming query's internal
# state is readable AS A TABLE from its checkpoint (statestore /
# state-metadata sources, wrapped in streaming/state_reader.py) — the
# debugging surface for "why is this job's state growing / why did this
# key stop updating" that needs no instrumentation of the running query.
# Pinned trustworthy three ways: (a) the audited state of a complete-mode
# aggregation equals the query's own output byte-for-byte, (b) the
# metadata row matches the operator actually run, (c) batchId time-travel
# reads an EARLIER state version whose keys are a strict subset — and the
# skew audit accounts for every key.
def test_s60_state_store_reader_audits_streaming_state(spark, tmp_path):
    from inspectadb_spark.streaming.state_reader import (
        query_state, state_metadata, state_size_by_partition,
    )

    src = str(tmp_path / "cust_replay")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/customer.parquet")
    step = (t.num_rows + 1) // 2
    now = time.time()
    for i in range(2):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    ckpt = str(tmp_path / "ckpt")
    agg = (_stream(spark, src)
           .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n")))
    q = (agg.writeStream.format("memory").queryName("s60_agg")
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()

    # (a) state ≡ the query's own complete-mode output
    st = query_state(spark, ckpt).select(
        "c_nationkey", F.col("count").alias("n"))
    out = spark.table("s60_agg")
    assert _rows(st) == _rows(out)
    # and ≡ the batch ground truth
    want = (spark.read.parquet(src)
            .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n")))
    assert _rows(st) == _rows(want)

    # (b) the inventory names the operator and its commit range
    md = state_metadata(spark, ckpt).collect()
    assert len(md) == 1 and md[0].operatorName == "stateStoreSave"
    assert md[0].maxBatchId >= 1  # two chunks, maxFilesPerTrigger=1

    # (c) time-travel: batch 0 saw only the first chunk's keys
    early = query_state(spark, ckpt, batch_id=0).select("c_nationkey")
    first_keys = {r.c_nationkey for r in
                  spark.read.parquet(f"{src}/chunk00.parquet")
                  .select("c_nationkey").distinct().collect()}
    assert {r.c_nationkey for r in early.collect()} == first_keys
    assert len(first_keys) <= st.count()

    # the skew audit accounts for every key exactly once
    sizes = state_size_by_partition(spark, ckpt)
    assert sizes.agg(F.sum("n_keys")).first()[0] == st.count()


# --------------------------------------------------------------------------
# S61 state observability across the other two stateful operator classes
# (S60 covered aggregation): dropDuplicates state keys ARE the distinct
# keys seen (≡ batch distinct — the cross-run dedup registry's internal
# twin, now auditable from the checkpoint), and a stream-stream join's
# buffered sides read back as the exact row sets Spark is holding — the
# "why is this join's state growing" question answered by two table reads
# (left grows with customers, right with orders; both pinned to the batch
# ground truth).
def test_s61_state_reader_covers_dedup_and_join_state(spark, tmp_path):
    from inspectadb_spark.streaming.state_reader import (
        query_state, state_metadata,
    )

    csrc = str(tmp_path / "cust")
    osrc = str(tmp_path / "ord")
    os.makedirs(csrc), os.makedirs(osrc)
    pq.write_table(pq.read_table(f"{SF_DIR}/customer.parquet"),
                   f"{csrc}/a.parquet")
    pq.write_table(pq.read_table(f"{SF_DIR}/orders.parquet"),
                   f"{osrc}/a.parquet")

    # dropDuplicates: state = the distinct key set
    ck1 = str(tmp_path / "ck_dedup")
    dd = _stream(spark, csrc).dropDuplicates(["c_nationkey"])
    q = (dd.writeStream.format("memory").queryName("s61_dd")
         .outputMode("append").option("checkpointLocation", ck1)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    st = query_state(spark, ck1)
    assert st.columns == ["c_nationkey", "partition_id"]  # void payload gone
    want = {r.c_nationkey for r in spark.read.parquet(csrc)
            .select("c_nationkey").distinct().collect()}
    assert {r.c_nationkey for r in st.collect()} == want

    # stream-stream inner join: each buffered side reads back whole
    ck2 = str(tmp_path / "ck_join")
    lhs = _stream(spark, csrc).select(F.col("c_custkey").alias("k"), "c_name")
    rhs = _stream(spark, osrc).select(F.col("o_custkey").alias("k"),
                                      "o_orderkey")
    q = (lhs.join(rhs, "k").writeStream.format("memory")
         .queryName("s61_join").outputMode("append")
         .option("checkpointLocation", ck2)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    md = state_metadata(spark, ck2)
    assert {r.operatorName for r in md.collect()} == {"symmetricHashJoin"}
    left = query_state(spark, ck2, join_side="left")
    right = query_state(spark, ck2, join_side="right")
    n_cust = spark.read.parquet(csrc).count()
    n_ord = spark.read.parquet(osrc).count()
    assert left.count() == n_cust and right.count() == n_ord
    # buffered payloads are the real rows, not hashes of them
    assert ({(r.k, r.c_name) for r in left.collect()}
            == {(r.c_custkey, r.c_name) for r in
                spark.read.parquet(csrc).select("c_custkey", "c_name")
                .collect()})
    # and the join's emitted output matches the batch join
    got = spark.table("s61_join").count()
    want_n = (spark.read.parquet(csrc).selectExpr("c_custkey AS k")
              .join(spark.read.parquet(osrc).selectExpr("o_custkey AS k"),
                    "k").count())
    assert got == want_n


# --------------------------------------------------------------------------
# Review regressions: null keys/items, idle-trigger rewrites, pointer
# format cross-parsing, and key-schema generality of the stateful monitors.

def test_dedup_registry_suppresses_null_keys_across_batches(spark, tmp_path):
    """NULL is a dedup key like any other: the first null-key row wins and
    every later one is suppressed — a plain (non-null-safe) anti join
    would re-emit it every batch forever."""
    from inspectadb_spark.streaming.dedup_registry import DedupRegistry

    src = str(tmp_path / "src")
    os.makedirs(src)
    import pyarrow as pa
    now = time.time()
    for i in range(3):
        t = pa.table({"k": [None, f"k{i}"], "seq": [i * 2, i * 2 + 1],
                      "payload": [f"null-{i}", f"val-{i}"]})
        p = f"{src}/c{i}.parquet"
        pq.write_table(t, p)
        os.utime(p, (now + i, now + i))

    reg = DedupRegistry(spark, str(tmp_path / "state"),
                        str(tmp_path / "out"), ["k"], ["seq"])
    q = reg.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    out = spark.read.parquet(str(tmp_path / "out"))
    nulls = out.filter(F.col("k").isNull()).collect()
    assert len(nulls) == 1               # first-seen-wins, once, forever
    assert nulls[0].payload == "null-0"
    assert out.count() == 4              # 1 null + k0/k1/k2


def test_misra_gries_ignores_null_items_and_counts_only_tracked(spark,
                                                                tmp_path):
    from inspectadb_spark.streaming.incremental import StreamingMisraGries

    src = str(tmp_path / "src")
    os.makedirs(src)
    import pyarrow as pa
    t = pa.table({"tok": ["a"] * 6 + [None] * 10 + ["b"] * 3})
    pq.write_table(t, f"{src}/c0.parquet")

    mg = StreamingMisraGries(spark, str(tmp_path / "state"),
                             item_expr="tok", m=4)
    q = mg.start(_stream(spark, src), str(tmp_path / "ckpt"),
                 available_now=True)
    q.awaitTermination(300)
    q.stop()
    state = {r.item: r.cnt for r in mg.table().collect()}
    # the sentinel (NULL item) holds the TRACKED total — nulls excluded
    assert state[None] == 9
    assert state["a"] == 6 and state["b"] == 3


def test_incremental_aggregate_skips_empty_batch_rewrite(spark, tmp_path):
    from inspectadb_spark.streaming.incremental import IncrementalAggregate

    inc = IncrementalAggregate(
        spark, str(tmp_path / "state"),
        key_exprs={"k": "k"}, measures=[("n", "count", "*")])
    df = spark.createDataFrame([("a",), ("b",)], "k string")
    inc._merge_batch(df, 0)
    v_after_data = inc._version
    inc._merge_batch(df.limit(0), 1)
    # the idle trigger rewrote nothing: same version, same state
    assert inc._version == v_after_data
    assert {r.k: r.n for r in inc.table().collect()} == {"a": 1, "b": 1}


def test_gap_profile_accepts_string_keys(spark, tmp_path):
    """key_col generality is real: the output schema carries the key's own
    name and type (a hardcoded 'user_id bigint' crashed string keys)."""
    from inspectadb_spark.streaming.monitor import streaming_gap_profile

    src = str(tmp_path / "src")
    os.makedirs(src)
    import datetime
    import pyarrow as pa
    base = datetime.datetime(2024, 1, 1)
    t = pa.table({
        "session_id": ["s1"] * 3 + ["s2"] * 2,
        "ts": [base + datetime.timedelta(seconds=s)
               for s in (0, 10, 40, 5, 6)],
        "event_id": [1, 2, 3, 4, 5]})
    pq.write_table(t, f"{src}/c0.parquet")

    prof = streaming_gap_profile(_stream(spark, src), key_col="session_id")
    q = (prof.writeStream.format("memory").queryName("s_gap_str")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    q.stop()
    rows = {r.session_id: r for r in spark.table("s_gap_str").collect()}
    assert rows["s1"].n_gaps == 2 and rows["s1"].sum_s == 40
    assert rows["s2"].n_gaps == 1 and rows["s2"].sum_s == 1


def test_ingest_pointer_wire_format_cross_parses(spark, tmp_path):
    """Four code sites speak the INGEST/registry pointer format (writers:
    DedupRegistry, StreamingIvfIngest; readers: their _read_ptr,
    read_ivf_lists, gc_index). Pin the wire format once so drift in any
    one of them fails loudly: 'paths|joined \\n checkpoint \\n batch'."""
    from inspectadb_spark.operators.similarity import (
        kmeans_fit, read_ivf_lists, save_ivf_index,
    )
    from inspectadb_spark.streaming.ann_index import (
        StreamingIvfIngest, gc_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e.limit(200), k=4, iters=1)
    idx = str(tmp_path / "idx")
    save_ivf_index(e.filter("vec_id < 200"), cents, idx)
    inc = StreamingIvfIngest(spark, idx)
    inc._checkpoint = str(tmp_path / "ck")
    inc._apply_batch(e.filter("vec_id >= 200 AND vec_id < 250"), batch_id=0)

    raw = open(f"{idx}/INGEST").read()
    lines = raw.strip().splitlines()
    assert len(lines) == 3, raw                       # paths, ckpt, batch
    paths = [p for p in lines[0].split("|") if p]
    assert lines[1] == inc._checkpoint and lines[2] == "0"
    # every parser agrees with the writer
    assert inc.committed_paths() == paths
    assert read_ivf_lists(spark, idx).count() == 250
    # gc with a redundantly-spelled index path must not delete live dirs
    aliased = os.path.join(str(tmp_path), ".", "idx")
    gc_index(aliased)
    for p in paths:
        assert os.path.exists(p), p
    assert read_ivf_lists(spark, idx).count() == 250


# S62 live SPRT monitor (the streaming face of q353): sequential tests are
# streaming-NATIVE — the whole point is deciding mid-stream — but their
# state is order-dependent, so StreamingSprt offsets each micro-batch's
# internal LLR path by the stored running LLR and freezes the first
# crossing. For any chunking that respects event order, the drained
# readout equals the one-shot batch q353 BYTE-FOR-BYTE — including
# decisions frozen in earlier chunks that later evidence cannot unfreeze.
def test_s62_live_sprt_monitor_equals_batch(spark, tmp_path):
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.streaming.incremental import StreamingSprt

    # chunk events in global (ts, event_id) order — the order the test
    # statistic itself is defined over
    src = str(tmp_path / "events")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    step = (t.num_rows + 2) // 3
    now = time.time()
    for i in range(3):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    step_sql = ("CASE WHEN value > 100"
                " THEN ROUND(CAST(ln(2.0) AS DECIMAL(18,6)), 4)"
                " ELSE ROUND(CAST(ln(0.8 / 0.9) AS DECIMAL(18,6)), 4) END")
    mon = StreamingSprt(spark, str(tmp_path / "state"), key="event_type",
                        order_cols=["ts", "event_id"], step_sql=step_sql)
    q = mon.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    live = mon.readout().orderBy("event_type")
    want = REGISTRY["q353_sprt"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)
    # decisions actually varied (the fixture straddles the hypotheses)
    decs = {r.decision for r in live.collect()}
    assert len(decs) >= 2, decs

    # crash-window idempotence: re-applying the last batch is a no-op
    last = spark.read.parquet(f"{src}/chunk02.parquet")
    before = _rows(mon.readout())
    mon._merge_batch(last, batch_id=2)
    assert _rows(mon.readout()) == before


def test_gc_index_aborts_on_empty_pointer(spark, tmp_path):
    # review r12: an existing-but-zero-byte INGEST pointer is UNREADABLE,
    # not empty — a foreign writer may be mid-write. gc must delete
    # NOTHING (interpreting it as "no references" would destroy every
    # committed base/delta the finished pointer is about to reference).
    from inspectadb_spark.operators.similarity import (
        kmeans_fit, read_ivf_lists, save_ivf_index,
    )
    from inspectadb_spark.streaming.ann_index import (
        StreamingIvfIngest, gc_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e.filter("vec_id < 200"), k=4, iters=1)
    idx = str(tmp_path / "idx")
    save_ivf_index(e.filter("vec_id < 200"), cents, idx)
    inc = StreamingIvfIngest(spark, idx)
    inc._checkpoint = str(tmp_path / "ck")
    inc._apply_batch(e.filter("vec_id >= 200 AND vec_id < 250"), batch_id=0)
    committed = inc.committed_paths()
    assert committed
    # truncate the pointer (simulated foreign mid-write). The abort must
    # be LOUD (PointerUnreadableWarning) so an operator can tell a safe
    # abort from an empty sweep (ADVICE r12) — and delete NOTHING.
    from inspectadb_spark.streaming.ann_index import PointerUnreadableWarning

    open(f"{idx}/INGEST", "w").close()
    with pytest.warns(PointerUnreadableWarning, match="GC aborted"):
        assert gc_index(idx) == []
    for p in committed:
        assert os.path.exists(p), p
    # the ingester's own reader treats it as "no committed ingest" too —
    # never IndexError (review r12 second pass)
    assert inc.committed_paths() == [os.path.join(idx, "lists")]
    # a NON-empty fragment (prefix of line 1 only) is just as unreadable:
    # the committed wire format is 3 lines, so gc aborts on fewer
    with open(f"{idx}/INGEST", "w") as f:
        f.write(committed[0][:len(committed[0]) // 2])
    with pytest.warns(PointerUnreadableWarning, match="GC aborted"):
        assert gc_index(idx) == []
    for p in committed:
        assert os.path.exists(p), p
    # restore the pointer: everything still serves
    with open(f"{idx}/INGEST", "w") as f:
        f.write("|".join(committed) + f"\n{inc._checkpoint}\n0")
    assert read_ivf_lists(spark, idx).count() == 250


def test_sprt_state_preserves_non_string_key_type(spark, tmp_path):
    # review r12: the empty-state schema must derive the key type from
    # the batch — a hardcoded string key would silently coerce a bigint
    # key and persist the wrong dtype into the state parquet
    from inspectadb_spark.streaming.incremental import StreamingSprt

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(200)
    batch = ev.select((F.col("user_id") % 4).cast("bigint").alias("grp"),
                      "ts", "event_id", "value")
    step_sql = ("CASE WHEN value > 100"
                " THEN ROUND(CAST(ln(2.0) AS DECIMAL(18,6)), 4)"
                " ELSE ROUND(CAST(ln(0.8 / 0.9) AS DECIMAL(18,6)), 4) END")
    mon = StreamingSprt(spark, str(tmp_path / "state"), key="grp",
                        order_cols=["ts", "event_id"], step_sql=step_sql)
    mon._checkpoint = str(tmp_path / "ck")
    mon._merge_batch(batch, batch_id=0)
    out = mon.readout()
    assert dict(out.dtypes)["grp"] == "bigint"
    assert out.count() == 4


def test_sprt_order_contract_violation_is_loud(spark, tmp_path):
    # ADVICE r12: if micro-batch boundaries violate the (order_cols)
    # global order (out-of-order file arrival, maxFilesPerTrigger>1 over
    # unsorted files), the batch-equals-stream guarantee silently breaks
    # and decisions freeze on the wrong rows. The monitor now carries the
    # per-key max order tuple and REFUSES such a batch loudly, state
    # untouched.
    from inspectadb_spark.streaming.incremental import (
        OrderContractViolation, StreamingSprt,
    )

    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .orderBy("ts", "event_id").limit(400).collect())
    cols = ev[0].asDict().keys()
    mk = lambda rows: spark.createDataFrame(rows, schema=list(cols))  # noqa: E731
    step_sql = ("CASE WHEN value > 100"
                " THEN ROUND(CAST(ln(2.0) AS DECIMAL(18,6)), 4)"
                " ELSE ROUND(CAST(ln(0.8 / 0.9) AS DECIMAL(18,6)), 4) END")
    mon = StreamingSprt(spark, str(tmp_path / "state"), key="event_type",
                        order_cols=["ts", "event_id"], step_sql=step_sql)
    mon._checkpoint = str(tmp_path / "ck")
    # batch 0 delivers the LATER half first — a mis-ordered source
    mon._merge_batch(mk(ev[200:]), batch_id=0)
    before = _rows(mon.readout())
    with pytest.raises(OrderContractViolation, match="global-order"):
        mon._merge_batch(mk(ev[:200]), batch_id=1)
    # state not advanced by the refused batch
    assert _rows(mon.readout()) == before
    # an equal order tuple (redelivery under a NEW batch id) is just as
    # much a violation — the row would be double-counted
    with pytest.raises(OrderContractViolation, match="global-order"):
        mon._merge_batch(mk(ev[399:]), batch_id=2)
    # an in-order continuation under the same monitor still works: state
    # advances only past the committed max
    assert _rows(mon.readout()) == before


def test_sprt_state_without_max_ord_upgrades_in_place(spark, tmp_path):
    # state written before the order guard existed has no max_ord column;
    # the first post-upgrade merge must accept it (no committed watermark
    # to check against) and write the guarded schema going forward.
    from inspectadb_spark.streaming.incremental import (
        OrderContractViolation, StreamingSprt,
    )

    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .orderBy("ts", "event_id").limit(300).collect())
    cols = list(ev[0].asDict().keys())
    mk = lambda rows: spark.createDataFrame(rows, schema=cols)  # noqa: E731
    step_sql = ("CASE WHEN value > 100"
                " THEN ROUND(CAST(ln(2.0) AS DECIMAL(18,6)), 4)"
                " ELSE ROUND(CAST(ln(0.8 / 0.9) AS DECIMAL(18,6)), 4) END")
    mon = StreamingSprt(spark, str(tmp_path / "state"), key="event_type",
                        order_cols=["ts", "event_id"], step_sql=step_sql)
    mon._checkpoint = str(tmp_path / "ck")
    mon._merge_batch(mk(ev[:100]), batch_id=0)
    # simulate a pre-guard deployment: rewrite the committed state
    # parquet without max_ord
    committed = mon._read_ptr()[0]
    legacy = mon.table().drop("max_ord")
    legacy.write.mode("overwrite").parquet(str(tmp_path / "legacy"))
    import shutil as _sh

    _sh.rmtree(committed)
    _sh.move(str(tmp_path / "legacy"), committed)
    assert "max_ord" not in mon.table().columns
    # post-upgrade merge accepts the batch and re-arms the guard
    mon._merge_batch(mk(ev[100:200]), batch_id=1)
    assert "max_ord" in mon.table().columns
    with pytest.raises(OrderContractViolation):
        mon._merge_batch(mk(ev[:50]), batch_id=2)
    # and an in-order batch still lands
    mon._merge_batch(mk(ev[200:]), batch_id=3)
    want = {}
    for r in ev:
        want[r["event_type"]] = want.get(r["event_type"], 0) + 1
    got = {r["event_type"]: r["n_events"] for r in mon.readout().collect()}
    assert got == want


# S63 live XmR monitor (the streaming face of q359, VERDICT r12 item 5):
# the moving range is order-dependent, so StreamingXmr accumulates each
# batch's internal sum-of-|dv| plus one boundary range against the carried
# last value. For any order-respecting chunking, the drained LIMITS equal
# the one-shot batch q359 closed form BYTE-FOR-BYTE, and serving-side
# flag_ooc over the history reproduces q359's n_ooc / first_ooc_rn exactly.
def test_s63_live_xmr_monitor_equals_batch(spark, tmp_path):
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.streaming.incremental import StreamingXmr

    src = str(tmp_path / "events")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    step = (t.num_rows + 2) // 3
    now = time.time()
    for i in range(3):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    value_sql = "ROUND(CAST(value AS DECIMAL(18,6)), 4)"
    mon = StreamingXmr(spark, str(tmp_path / "state"), key="event_type",
                       order_cols=["ts", "event_id"], value_sql=value_sql)
    q = mon.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    live = mon.readout().orderBy("event_type")
    want = (REGISTRY["q359_xmr_control_chart"].builder(spark, SF_DIR)
            .select("event_type", "n", "xbar", "mr_bar", "ucl", "lcl"))
    assert _rows(live) == _rows(want)

    # serving-side point judgment over the full history reproduces the
    # batch query's OOC columns exactly (decimal-boundary semantics)
    flagged = mon.flag_ooc(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ooc = (flagged.withColumn("rn", F.row_number().over(w))
           .groupBy("event_type")
           .agg(F.sum(F.col("ooc").cast("int")).cast("bigint")
                .alias("n_ooc"),
                F.coalesce(F.min(F.when(F.col("ooc"), F.col("rn"))),
                           F.lit(0)).cast("bigint").alias("first_ooc_rn"))
           .orderBy("event_type"))
    want_ooc = (REGISTRY["q359_xmr_control_chart"].builder(spark, SF_DIR)
                .select("event_type", "n_ooc", "first_ooc_rn"))
    assert _rows(ooc) == _rows(want_ooc)
    # the fixture flags real points (q326 class)
    assert any(r["n_ooc"] > 0 for r in ooc.collect())

    # crash-window idempotence: re-applying the last batch is a no-op
    last = spark.read.parquet(f"{src}/chunk02.parquet")
    before = _rows(mon.readout())
    mon._merge_batch(last, batch_id=2)
    assert _rows(mon.readout()) == before


def test_xmr_order_contract_violation_is_loud(spark, tmp_path):
    from inspectadb_spark.streaming.incremental import (
        OrderContractViolation, StreamingXmr,
    )

    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .orderBy("ts", "event_id").limit(200).collect())
    cols = list(ev[0].asDict().keys())
    mk = lambda rows: spark.createDataFrame(rows, schema=cols)  # noqa: E731
    mon = StreamingXmr(spark, str(tmp_path / "state"), key="event_type",
                       order_cols=["ts", "event_id"],
                       value_sql="ROUND(CAST(value AS DECIMAL(18,6)), 4)")
    mon._checkpoint = str(tmp_path / "ck")
    mon._merge_batch(mk(ev[100:]), batch_id=0)
    before = _rows(mon.readout())
    with pytest.raises(OrderContractViolation, match="global-order"):
        mon._merge_batch(mk(ev[:100]), batch_id=1)
    assert _rows(mon.readout()) == before


# --------------------------------------------------------------------------
# S64-S68: live twins for the rest of the round-12 statistics family
# (q362, q358, q360, q361, q363) — VERDICT r12 item 7's pair-with-a-
# streaming-twin lesson applied retroactively. Unlike SPRT/XmR these are
# order-INDEPENDENT: the sufficient state is a decomposable aggregate
# (top-51 array, value histograms, variance triples, 2x2 cells), so any
# chunking drains to the batch query byte-for-byte.
def _chunked_replay(tmp_path, table_path, n_chunks=4, name="replay"):
    src = str(tmp_path / name)
    os.makedirs(src)
    t = pq.read_table(table_path)
    step = (t.num_rows + n_chunks - 1) // n_chunks
    now = time.time()
    for i in range(n_chunks):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))
    return src


def _drain_monitor(mon, stream, tmp_path):
    q = mon.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    q.stop()


def test_s64_live_hill_monitor_equals_batch(spark, tmp_path):
    # state per type: top-51 (value, event_id) as ONE bounded array +
    # n_pos — union-then-cut is a lossless merge for order statistics
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.streaming.stat_monitors import (
        hill_monitor, hill_readout,
    )

    src = _chunked_replay(tmp_path, f"{SF_DIR}/events.parquet")
    mon = hill_monitor(spark, str(tmp_path / "state"))
    _drain_monitor(mon, _stream(spark, src), tmp_path)
    # bounded state: <= 51 stored order statistics per key
    assert mon.table().selectExpr("max(size(top))").first()[0] <= 51
    live = hill_readout(mon)
    want = REGISTRY["q362_hill_tail_index"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


def test_s65_live_conformal_monitor_equals_batch(spark, tmp_path):
    # state: exact counts per (type, split, 4dp value) — bounded by the
    # quantized value DOMAIN, not the stream length; the k-th-smallest
    # calibration residual is an order statistic of a multiset, read
    # from cumulative histogram counts
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.streaming.stat_monitors import (
        conformal_monitor, conformal_readout,
    )

    src = _chunked_replay(tmp_path, f"{SF_DIR}/events.parquet")
    mon = conformal_monitor(spark, str(tmp_path / "state"))
    _drain_monitor(mon, _stream(spark, src), tmp_path)
    state = mon.table()
    # domain-sized, not stream-sized: distinct (type, sp, v) cells
    n_rows = spark.read.parquet(src).count()
    assert state.count() <= n_rows
    assert state.count() == (spark.read.parquet(src)
                             .selectExpr("event_type", "event_id % 3",
                                         "ROUND(CAST(value AS"
                                         " DECIMAL(18,6)), 4)")
                             .distinct().count())
    live = conformal_readout(state)
    want = REGISTRY["q358_conformal_interval"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


def test_s66_live_neyman_monitor_equals_batch(spark, tmp_path):
    # state: (n, sum-cents, sum-cents^2) per nation — the classic
    # mergeable variance triple; the allocation report is a 25-row
    # readout at any history length
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.streaming.stat_monitors import (
        neyman_monitor, neyman_readout,
    )

    src = _chunked_replay(tmp_path, f"{SF_DIR}/customer.parquet")
    mon = neyman_monitor(spark, str(tmp_path / "state"))
    _drain_monitor(mon, _stream(spark, src), tmp_path)
    assert mon.table().count() <= 25
    live = neyman_readout(mon.table())
    want = REGISTRY["q360_neyman_allocation"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


def test_s67_live_nzv_monitor_equals_batch(spark, tmp_path):
    # state: exact counts per (metric, cents value) — q361's own
    # value-domain-sized table, maintained live over the melted stream
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.streaming.stat_monitors import (
        nzv_melt, nzv_monitor, nzv_readout,
    )

    src = _chunked_replay(tmp_path, f"{SF_DIR}/lineitem.parquet")
    mon = nzv_monitor(spark, str(tmp_path / "state"))
    _drain_monitor(mon, nzv_melt(_stream(spark, src)), tmp_path)
    live = nzv_readout(mon.table())
    want = REGISTRY["q361_nzv_screen"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


def test_s68_live_did_monitor_equals_batch(spark, tmp_path):
    # state: the 2 x |segments| cell table (n, sum price) over the
    # orders-joined-customer feed (the stream-static enrich shape);
    # leave-one-out control cells and the DiD estimate are a 10-row
    # readout
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.streaming.stat_monitors import (
        did_monitor, did_readout,
    )

    joined = str(tmp_path / "joined.parquet")
    (spark.read.parquet(f"{SF_DIR}/orders.parquet")
     .join(spark.read.parquet(f"{SF_DIR}/customer.parquet"),
           F.col("o_custkey") == F.col("c_custkey"))
     .select("c_mktsegment", "o_orderdate", "o_totalprice")
     .coalesce(1).write.mode("overwrite").parquet(joined))
    import glob as _glob

    part = _glob.glob(f"{joined}/part-*.parquet")[0]
    src = _chunked_replay(tmp_path, part)
    mon = did_monitor(spark, str(tmp_path / "state"))
    _drain_monitor(mon, _stream(spark, src), tmp_path)
    assert mon.table().count() <= 10
    live = did_readout(mon.table())
    want = REGISTRY["q363_diff_in_differences"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


def test_s63b_xmr_finer_chunking_still_equals_batch(spark, tmp_path):
    # 7 chunks -> 6 batch-boundary moving ranges reconstructed from the
    # carried last value; the "any order-respecting chunking" claim
    # exercised at a different granularity than S63's 3 chunks
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.streaming.incremental import StreamingXmr

    # XmR needs order-respecting chunk boundaries: sort, then slice
    src = str(tmp_path / "sorted")
    os.makedirs(src)
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    step = (t.num_rows + 6) // 7
    now = time.time()
    for i in range(7):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))
    mon = StreamingXmr(spark, str(tmp_path / "state"), key="event_type",
                       order_cols=["ts", "event_id"],
                       value_sql="ROUND(CAST(value AS DECIMAL(18,6)), 4)")
    _drain_monitor(mon, _stream(spark, src), tmp_path)
    live = mon.readout().orderBy("event_type")
    want = (REGISTRY["q359_xmr_control_chart"].builder(spark, SF_DIR)
            .select("event_type", "n", "xbar", "mr_bar", "ucl", "lcl"))
    assert _rows(live) == _rows(want)


def test_s64b_hill_finer_chunking_still_equals_batch(spark, tmp_path):
    # order-INDEPENDENT: 7 arbitrary (unsorted) chunks drain to the same
    # top-51 state — union-then-cut is lossless for order statistics
    from inspectadb_spark.queries import REGISTRY
    from inspectadb_spark.streaming.stat_monitors import (
        hill_monitor, hill_readout,
    )

    src = _chunked_replay(tmp_path, f"{SF_DIR}/events.parquet", n_chunks=7)
    mon = hill_monitor(spark, str(tmp_path / "state"))
    _drain_monitor(mon, _stream(spark, src), tmp_path)
    live = hill_readout(mon)
    want = REGISTRY["q362_hill_tail_index"].builder(spark, SF_DIR)
    assert _rows(live) == _rows(want)


# S69 streaming ingestion at the PQ tier — the missing lifecycle leg:
# without it a code index only grows by full offline rebuild. Each batch
# is cell-assigned + PQ-encoded against the FROZEN models and committed
# as code deltas behind the same atomic pointer as S51; readers union
# base + deltas with the same partition pruning.
def test_s69_pq_ingest_serves_like_rebuild(spark, tmp_path):
    from inspectadb_spark.operators.similarity import (
        cosine_topk, ivf_pq_topk_from_index, kmeans_fit, pq_fit,
        read_ivf_pq_lists, save_ivf_pq_index,
    )
    from inspectadb_spark.streaming.ann_index import StreamingIvfPqIngest

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base, rest = e.filter("vec_id < 350"), e.filter("vec_id >= 350")
    cents, _ = kmeans_fit(base, k=6, iters=1)
    books = pq_fit(base, m=8, ks=16, iters=2, sample=400)
    idx = str(tmp_path / "pq_idx")
    save_ivf_pq_index(base, cents, books, idx)

    inc = StreamingIvfPqIngest(spark, idx, compact_every=8)
    inc._checkpoint = str(tmp_path / "ck")
    for i, lo in enumerate(range(350, 500, 50)):
        inc._apply_batch(
            e.filter(f"vec_id >= {lo} AND vec_id < {lo + 50}"), batch_id=i)

    # every vector serves: committed lists = full 500-vector code table
    lists = read_ivf_pq_lists(spark, idx)
    assert lists.count() == 500
    assert len(inc.committed_paths()) == 4  # base-swap pointer: 1 + 3

    # ingested codes are BYTE-IDENTICAL to a from-scratch rebuild over
    # the same frozen models — serving cannot tell ingested from built
    idx2 = str(tmp_path / "pq_rebuild")
    save_ivf_pq_index(e, cents, books, idx2)
    rows = lambda df: sorted(  # noqa: E731
        tuple(str(x) for x in r) for r in df.collect())
    got = lists.select("vec_id", "_pq", "_vnorm", "_cell")
    want = (spark.read.parquet(f"{idx2}/pq_lists")
            .select("vec_id", "_pq", "_vnorm", "_cell"))
    assert rows(got) == rows(want)

    # full-budget serving over the GROWN collection equals exact brute —
    # and equals serving from the rebuilt index, path for path
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    served = ivf_pq_topk_from_index(spark, idx, qvec, k=10, n_probe=6,
                                    rerank=500, vectors=e)
    assert rows(served) == rows(cosine_topk(e, qvec, k=10))
    assert rows(served) == rows(ivf_pq_topk_from_index(
        spark, idx2, qvec, k=10, n_probe=6, rerank=500, vectors=e))

    # ADC-only partial serving can return ingested ids
    adc = ivf_pq_topk_from_index(spark, idx, qvec, k=50, n_probe=6)
    assert any(r.vec_id >= 350 for r in adc.collect())

    # crash-window idempotence: re-applying the last batch is a no-op
    before = rows(read_ivf_pq_lists(spark, idx))
    inc._apply_batch(e.filter("vec_id >= 450"), batch_id=2)
    assert rows(read_ivf_pq_lists(spark, idx)) == before

    # filtered serving over the grown index: full budget == filtered
    # brute (the q350/q352 commutation, now across base + deltas)
    allowed = e.filter("vec_id % 2 = 0").select(
        F.col("vec_id").alias("doc_id"))
    fserved = ivf_pq_topk_from_index(spark, idx, qvec, k=10, n_probe=6,
                                     rerank=500, vectors=e, allowed=allowed)
    fbrute = cosine_topk(e.filter("vec_id % 2 = 0"), qvec, k=10)
    assert rows(fserved) == rows(fbrute)


def test_s69b_pq_ingest_compaction_preserves_serving(spark, tmp_path):
    from inspectadb_spark.operators.similarity import (
        ivf_pq_topk_from_index, kmeans_fit, pq_fit, read_ivf_pq_lists,
        save_ivf_pq_index,
    )
    from inspectadb_spark.streaming.ann_index import (
        StreamingIvfPqIngest, gc_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = e.filter("vec_id < 300")
    cents, _ = kmeans_fit(base, k=4, iters=1)
    books = pq_fit(base, m=8, ks=16, iters=2, sample=300)
    idx = str(tmp_path / "pq_idx")
    save_ivf_pq_index(base, cents, books, idx)

    # compact_every=3: the 3rd commit folds base+deltas into pq-code
    # lists_v1; superseded dirs retire one swap late, gc sweeps the rest
    inc = StreamingIvfPqIngest(spark, idx, compact_every=3)
    inc._checkpoint = str(tmp_path / "ck")
    for i, lo in enumerate(range(300, 500, 50)):
        inc._apply_batch(
            e.filter(f"vec_id >= {lo} AND vec_id < {lo + 50}"), batch_id=i)
    paths = inc.committed_paths()
    assert any("lists_v" in p for p in paths)  # compaction really ran
    assert read_ivf_pq_lists(spark, idx).count() == 500
    removed = gc_index(idx)
    assert read_ivf_pq_lists(spark, idx).count() == 500
    for p in paths:
        assert os.path.exists(p), p
    # serving is intact after compaction + gc
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 1).select("embedding").first()[0]]
    got = ivf_pq_topk_from_index(spark, idx, qvec, k=10, n_probe=4)
    assert got.count() == 10


# S70 live PQ codebook-staleness watch — the codebook complement of S52:
# per occupied cell, exact decimal sums of the PQ reconstruction error
# ||v - decode(encode(v))||^2 of incoming vectors under the FROZEN
# centroid + codebook models, read through the same ivf_drift_readout
# closed form against a byte-comparable trained bar.
def test_s70_live_pq_codebook_drift_watch(spark, tmp_path):
    from inspectadb_spark.operators.similarity import kmeans_fit, pq_fit
    from inspectadb_spark.streaming.ann_index import (
        StreamingPqDrift, ivf_drift_readout, pq_reconstruction_stats,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    train = e.filter(F.col("vec_id") % 2 == 0)
    cents, _ = kmeans_fit(train, k=4, iters=2)
    books = pq_fit(train, m=8, ks=16, iters=2, sample=250)
    trained_d2, n_trained = pq_reconstruction_stats(train, cents, books)

    # incoming stream: the other half SHIFTED — reconstruction error
    # explodes when the frozen codebooks can't represent the new range
    shifted = e.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(5.0))
        .alias("embedding"))
    src = str(tmp_path / "incoming")
    shifted.coalesce(1).write.parquet(src)
    import glob

    one = glob.glob(f"{src}/part-*.parquet")[0]
    t = pq.read_table(one)
    os.remove(one)
    step = (t.num_rows + 2) // 3
    now = time.time()
    for i in range(3):
        p = f"{src}/chunk{i:02d}.parquet"
        pq.write_table(t.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))

    mon = StreamingPqDrift(spark, str(tmp_path / "state"), cents, books)
    q = mon.start(_stream(spark, src), str(tmp_path / "ckpt"),
                  available_now=True)
    q.awaitTermination(300)
    q.stop()

    state = mon.table()
    assert 0 < state.count() <= 4  # one row per occupied cell

    # batch ≡ stream: the merged chunked state equals the one-shot partial
    live = ivf_drift_readout(state, trained_d2, n_trained)
    batch = ivf_drift_readout(
        mon._partial(spark.read.parquet(src)), trained_d2, n_trained)
    assert _rows(live) == _rows(batch)

    # the shift trips the stale flag on the overall (-1) row
    overall = {r.cell: r.stale for r in live.collect()}
    assert overall[-1] is True

    # sanity: the UNSHIFTED half does NOT trip the bar (the watch is a
    # drift detector, not a constant alarm)
    calm = ivf_drift_readout(
        mon._partial(e.filter(F.col("vec_id") % 2 == 1)),
        trained_d2, n_trained)
    calm_overall = {r.cell: r.stale for r in calm.collect()}
    assert calm_overall[-1] is False
