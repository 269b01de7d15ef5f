"""The workloads: one client, closed loop, fixed work per run.

Every workload sets up several times (engine, tables, summaries) and
reports the median, warms up once untimed, then runs ``rounds`` whole
rounds of the same operations and checks every answer against the
reference build. Tracing adds spans around each call into the engine and
reads Spark's counters after each request; it never changes the calls made.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import probe
import spec
from checks import norm_rows, rows_match

# Rounds per run at --seconds 8, scaled for other run lengths, so the work
# is fixed per run length, not per clock. A round takes about 15 s (cdc,
# five applies and the stream drain) and 7 to 9 s (llm_batch, one pass) on
# a quiet 4-core host. The counts keep a full evaluation of BENCHMARK.json
# inside its run budget (README, "Run budget").
ROUNDS_AT_8S = {"cdc": 1, "llm_batch": 3}
WARM_STEPS = 3  # cdc applies before the clock starts
# Set-ups per run, reported as their median. The first is cold (a cdc
# set-up takes about 9 s cold and 2 s warm); the median of three is a warm
# one.
SETUP_REPS = 3

# Every workload reports every end-to-end metric; a pass is one round of
# the workload's fixed operation list.
E2E_UNITS = {"setup_s": "s", "pass_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "catalog.load_s": "s",
    "engine.register_mv_s": "s", "queries.build_s": "s",
    "queries.build_jobs": "count", "spark.analysis_s": "s",
    "spark.optimization_s": "s", "spark.planning_s": "s",
    "spark.floor_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.scan_rows": "rows",
    "spark.scan_bytes": "bytes", "spark.shuffle_bytes": "bytes",
    "spark.shuffle_records": "rows", "spark.broadcast_builds": "count",
    "spark.broadcast_bytes": "bytes", "spark.result_rows": "rows",
    "spark.spill_bytes": "bytes", "spark.python_rows": "rows",
    "spark.python_bytes": "bytes", "engine.aggregate_s": "s",
    "engine.cache_hits": "count", "engine.cache_misses": "count",
    "engine.mv_routes": "count", "engine.base_routes": "count",
    "operators.result_cache.fingerprint_s": "s", "engine.apply_s": "s",
    "operators.mv.refresh_s": "s", "engine.write_amplification": "ratio",
    "engine.freshness_s": "s",
    "streaming.cdc_stream.batch_s": "s", "streaming.cdc_stream.batches": "count",
    "streaming.cdc_stream.state_rows": "rows",
    "streaming.cdc_stream.write_amplification": "ratio",
    "streaming.cdc_stream.changes_per_s": "rows/s",
    "operators.dedup.job_s": "s", "operators.tokenizer.job_s": "s",
    "jvm.gc_s": "s", "host.cpu_probe_s": "s", "host.cpu_probe_end_s": "s",
    "host.steal_s": "s", "process.peak_rss_mb": "MB", "trace.read_s": "s",
}


def rounds(workload: str, seconds: int) -> int:
    return max(1, round(seconds * ROUNDS_AT_8S[workload] / 8))


class Context:
    def __init__(self, spark, build, cdc_dir, work, seed, n_rounds, trace,
                 session_s) -> None:
        self.spark = spark
        self.data = os.path.join(build, "data")
        with open(os.path.join(build, "expected.json")) as f:
            self.expected = json.load(f)
        self.cdc_dir = cdc_dir
        self.work = work
        self.seed = seed
        self.rounds = n_rounds
        self.trace = trace
        self.counters = probe.SparkCounters(spark, trace) if trace.enabled else None
        self.session_s = session_s
        self.gc0 = 0.0


class Result:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}
        self.rss_mb = 0.0
        self.gc_s = 0.0
        self.host: dict[str, float] = {}
        # per-sample times behind the medians, for the run record
        self.samples: dict[str, list[float]] = {}

    def op(self, ok: bool, known_fault: bool = False) -> None:
        """Count one operation. A failure makes the run incorrect unless
        the operation is one that fails by a known fault of the engine."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.correct = self.correct and known_fault

    def metrics(self, traced: bool) -> dict:
        if traced:
            vals = dict(self.layers)
            vals["jvm.gc_s"] = self.gc_s
            vals["host.cpu_probe_s"] = self.host["host.cpu_probe_s.before"]
            vals["host.cpu_probe_end_s"] = self.host["host.cpu_probe_s.after"]
            vals["host.steal_s"] = self.host["host.steal_s"]
            vals["process.peak_rss_mb"] = self.rss_mb
            return {k: {"value": float(vals[k]), "unit": u}
                    for k, u in LAYER_UNITS.items()}
        return {k: {"value": float(self.e2e[k]), "unit": u}
                for k, u in E2E_UNITS.items()}


# -- shared steps --------------------------------------------------------------

def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _new_engine(ctx: Context, name: str) -> tuple[object, float, float]:
    """An Engine over the seed's tables with the summaries over orders;
    returns it with its catalog-load and MV-registration times."""
    from inspectadb_spark.engine import Engine
    from inspectadb_spark.operators.mv import MVDef

    with ctx.trace.span("catalog.load"):
        eng, t_load = _timed(lambda: Engine(ctx.spark, ctx.data,
                                            os.path.join(ctx.work, name)))
    t = time.perf_counter()
    with ctx.trace.span("engine.register_mv"):
        for mv_name, keys, measures in spec.MVS:
            eng.register_mv(MVDef(name=mv_name, keys=keys, measures=measures),
                            "orders")
    return eng, t_load, time.perf_counter() - t


def _setup(ctx: Context, res: Result, make) -> tuple[object, float]:
    """SETUP_REPS set-ups; returns the last one and the median time."""
    times, loads, regs = [], [], []
    for i in range(SETUP_REPS):
        with ctx.trace.span("setup"):
            t = time.perf_counter()
            obj, t_load, t_reg = make(i)
            times.append(time.perf_counter() - t)
        loads.append(t_load)
        regs.append(t_reg)
    res.layers["session.start_s"] = ctx.session_s
    res.layers["catalog.load_s"] = probe.median(loads)
    res.layers["engine.register_mv_s"] = probe.median(regs)
    return obj, probe.median(times)


def _instrument_engine(ctx: Context, eng, res: Result) -> None:
    """Traced runs only: spans and routing counts around Engine.aggregate
    and the result cache's fingerprint, installed from outside."""
    from inspectadb_spark.operators import result_cache

    inner = eng.aggregate

    def aggregate(base_table, req, base_builder=None, use_cache=True):
        with ctx.trace.span("engine.aggregate"):
            t = time.perf_counter()
            out, prov = inner(base_table, req, base_builder, use_cache)
            res.layers["engine.aggregate_s"] += time.perf_counter() - t
        if prov == "cache":
            res.layers["engine.cache_hits"] += 1
        else:
            res.layers["engine.cache_misses"] += 1 if use_cache else 0
            key = "engine.base_routes" if prov == "base" else "engine.mv_routes"
            res.layers[key] += 1
        return out, prov

    eng.aggregate = aggregate
    fp = result_cache.fingerprint

    def fingerprint(df):
        with ctx.trace.span("operators.result_cache.fingerprint"):
            t = time.perf_counter()
            out = fp(df)
            res.layers["operators.result_cache.fingerprint_s"] += (
                time.perf_counter() - t)
            return out

    result_cache.fingerprint = fingerprint


def _collect(ctx: Context, res: Result, name: str, make_df, counted: bool,
             builder: bool = True):
    """One request: build the DataFrame (a registry builder, or an Engine
    call when ``builder`` is False), run it to rows in Python; returns the
    normalised rows and the time taken."""
    c = ctx.counters if counted else None
    with ctx.trace.span(name):
        group = c.group() if c else None
        t0 = time.perf_counter()
        with ctx.trace.span("queries.build" if builder else "engine.call"):
            out = make_df()
        t1 = time.perf_counter()
        df = out[0] if isinstance(out, tuple) else out
        if c and builder:
            res.layers["queries.build_s"] += t1 - t0
            res.layers["queries.build_jobs"] += len(c.jobs(group))
        with ctx.trace.span("spark.collect"):
            rows = df.collect()
        elapsed = time.perf_counter() - t0
        if c:
            c.request_done(group, df, len(rows))
    return norm_rows(rows), elapsed


def _finish_counters(ctx: Context, res: Result) -> None:
    if ctx.counters:
        for k, v in ctx.counters.totals.items():
            res.layers[k] = v
        res.layers["trace.read_s"] = ctx.trace.read_s


def _floor(ctx: Context, floors: list) -> None:
    if ctx.trace.enabled:
        t = time.perf_counter()
        floors.append(probe.floor_s(ctx.spark))
        ctx.trace.read_s += time.perf_counter() - t


# -- cdc -------------------------------------------------------------------------

def _stream_drain(ctx: Context, applier, src: str, name: str,
                  traced: bool) -> tuple[list[dict], list[int]]:
    """Drain the files in ``src`` through ``applier`` (availableNow, one
    file per micro-batch, resuming from the checkpoint under ``name``);
    returns Spark's progress record of each micro-batch that read rows and,
    when ``traced``, the bytes of each state version written."""
    amp = []
    inner = applier._merge_batch
    if traced:
        def merge(batch, batch_id):
            inner(batch, batch_id)
            with open(os.path.join(applier.state_dir, "CURRENT")) as f:
                amp.append(probe.dir_bytes(f.read().strip()))

        applier._merge_batch = merge
    schema = ctx.spark.read.parquet(os.path.join(src, os.listdir(src)[0])).schema
    stream = (ctx.spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    with ctx.trace.span("streaming.drain"):
        q = applier.start(stream, os.path.join(ctx.work, name, "ckpt"),
                          available_now=True)
        q.awaitTermination()
    q.stop()
    applier._merge_batch = inner
    return [p for p in q.recentProgress if p["numInputRows"] > 0], amp


class _Stream:
    """The ``StreamingCdcApply`` the cdc rounds drain their files through,
    with what its micro-batches did, summed over the run."""

    def __init__(self, ctx: Context) -> None:
        from inspectadb_spark.streaming.cdc_stream import StreamingCdcApply

        self.applier = StreamingCdcApply(
            ctx.spark, os.path.join(ctx.work, "stream", "state"),
            ["o_orderkey"])
        self.src = os.path.join(ctx.work, "stream-src")
        os.makedirs(self.src)
        self.prog: list[dict] = []
        self.amp: list[int] = []
        self.change_bytes = 0

    def round(self, ctx: Context, res: Result, exp: dict, r: int) -> None:
        """Add round ``r``'s files to the source and drain them, then check
        the state against the lsn-keeping fold: the round's last file is a
        stale re-delivery, which must change nothing."""
        for n in exp["stream_files"][r]:
            f = os.path.join(ctx.cdc_dir, "stream", f"r{r:03d}", n)
            shutil.copy2(f, self.src)
            self.change_bytes += os.path.getsize(f)
        p, a = _stream_drain(ctx, self.applier, self.src, "stream",
                             ctx.trace.enabled)
        self.prog += p
        self.amp += a
        state = self.applier.current_state().select(*exp["columns"]).collect()
        res.op(rows_match(norm_rows(state), exp["stream_states"][r]))

    def finish(self, ctx: Context, res: Result) -> None:
        busy = [p["durationMs"]["triggerExecution"] / 1000 for p in self.prog]
        res.samples["stream_batch_s"] = busy
        if ctx.trace.enabled:
            layer = "streaming.cdc_stream."
            res.layers[layer + "batches"] = len(self.prog)
            res.layers[layer + "batch_s"] = probe.median(busy)
            res.layers[layer + "write_amplification"] = (
                sum(self.amp) / self.change_bytes)
            res.layers[layer + "state_rows"] = (
                self.applier._state_raw().count())
            # change rows folded per second of micro-batch execution
            # (Spark's triggerExecution)
            res.layers[layer + "changes_per_s"] = (
                sum(p["numInputRows"] for p in self.prog) / sum(busy))


def cdc(ctx: Context) -> Result:
    from inspectadb_spark.operators.mv import AggRequest
    from inspectadb_spark.streaming.cdc_stream import StreamingCdcApply

    res = Result()
    with open(os.path.join(ctx.cdc_dir, "expected.json")) as f:
        exp = json.load(f)
    steps = exp["steps"]

    def read(e, r):
        if r["kind"] == "sql_routed":
            return lambda: e.sql_routed(r["text"])
        req = AggRequest(keys={k: None for k in r["keys"]},
                         measures=r["measures"])
        return lambda: e.aggregate("orders", req)
    engines = []

    def make(i):
        eng, t_load, t_reg = _new_engine(ctx, f"engine{i}")
        engines.append(eng)
        return eng, t_load, t_reg

    eng, t_med = _setup(ctx, res, make)
    if ctx.trace.enabled:
        _instrument_engine(ctx, eng, res)
    mv_names = [m[0] for m in spec.MVS]
    amp = [0, 0]  # traced: bytes of new table versions, change bytes

    def batch(b):
        return os.path.join(ctx.cdc_dir, f"b{b:04d}.parquet")

    def apply_and_read(e, i, timed):
        b, _ = steps[i]
        c = ctx.counters if timed else None
        t0 = time.perf_counter()
        with ctx.trace.span("cdc.apply"):
            group = c.group() if c else None
            changes = ctx.spark.read.parquet(batch(b))
            if c:
                with ctx.trace.span("engine.apply_changes"):
                    t = time.perf_counter()
                    e.apply_changes("orders", changes, ["o_orderkey"],
                                    refresh_dependents=False)
                    res.layers["engine.apply_s"] += time.perf_counter() - t
                with ctx.trace.span("operators.mv.refresh"):
                    t = time.perf_counter()
                    for n in mv_names:
                        e.refresh_mv(n)
                    res.layers["operators.mv.refresh_s"] += (
                        time.perf_counter() - t)
                c.request_done(group)
                with open(os.path.join(e.work_dir, "tables",
                                       "orders", "CURRENT")) as f:
                    amp[0] += probe.dir_bytes(f.read().strip())
                amp[1] += os.path.getsize(batch(b))
            else:
                e.apply_changes("orders", changes, ["o_orderkey"])
        r = spec.CDC_READS[spec.CDC_READ_AT[i % spec.STEPS_PER_ROUND]]
        fresh = _collect(ctx, res, "cdc.fresh_read", read(e, r), timed, False)
        t_fresh = time.perf_counter() - t0
        repeat = _collect(ctx, res, "cdc.repeat_read", read(e, r), timed,
                          False)
        return t_fresh, fresh, repeat

    # warm-up: the round's three feed batches on a set-up engine that is
    # then dropped, and the first file through a throwaway stream. The
    # apply path keeps getting faster for five to ten applies (after a
    # two-apply warm-up the first timed round ran 7 to 35% slower than the
    # second); three is what the run budget allows (README, "Run budget").
    t_warm = time.perf_counter()
    for i in range(WARM_STEPS):
        _, fresh, repeat = apply_and_read(engines[0], i, timed=False)
        if not (rows_match(fresh[0], exp["reads"][i])
                and rows_match(repeat[0], fresh[0])):
            res.correct = False
    warm_src = os.path.join(ctx.work, "warm-src")
    os.makedirs(warm_src)
    shutil.copy2(os.path.join(ctx.cdc_dir, "stream", "r000",
                              exp["stream_files"][0][0]), warm_src)
    _stream_drain(ctx, StreamingCdcApply(
        ctx.spark, os.path.join(ctx.work, "warm-stream", "state"),
        ["o_orderkey"]), warm_src, "warm-stream", False)
    res.e2e["setup_s"] = ctx.session_s + t_med + time.perf_counter() - t_warm

    ctx.gc0 = probe.gc_s(ctx.spark)
    stream = _Stream(ctx)
    fresh_t, step_t, passes, floors = [], [], [], []
    per = spec.STEPS_PER_ROUND
    for r in range(len(steps) // per):
        _floor(ctx, floors)
        t_pass = time.perf_counter()
        for i in range(r * per, (r + 1) * per):
            t_step = time.perf_counter()
            t_fresh, fresh, repeat = apply_and_read(eng, i, timed=True)
            fresh_t.append(t_fresh)
            step_t.append(time.perf_counter() - t_step)
            # the fresh read after a stale re-delivery fails by a known
            # fault: apply_changes keeps no per-key lsn (README, "The one
            # failing operation")
            res.op(rows_match(fresh[0], exp["reads"][i]),
                   known_fault=steps[i][1] == "stale")
            res.op(rows_match(repeat[0], fresh[0]))
        stream.round(ctx, res, exp, r)
        passes.append(time.perf_counter() - t_pass)
    final = norm_rows(eng.table("orders").collect())
    if not rows_match(final, exp["final_state"]):
        res.correct = False

    res.samples = {"freshness_s": fresh_t, "step_s": step_t, "pass_s": passes}
    stream.finish(ctx, res)
    res.e2e["pass_s"] = probe.median(passes)
    res.layers["engine.freshness_s"] = probe.median(fresh_t)
    res.layers["spark.floor_s"] = probe.median(floors)
    if ctx.trace.enabled:
        res.layers["engine.write_amplification"] = amp[0] / amp[1]
    _finish_counters(ctx, res)
    return res


# -- llm_batch -------------------------------------------------------------------

def llm_batch(ctx: Context) -> Result:
    from inspectadb_spark.catalog import load_tables
    from inspectadb_spark.queries import REGISTRY

    res = Result()
    exp = ctx.expected["llm"]

    def make(i):
        with ctx.trace.span("catalog.load"):
            _, t = _timed(lambda: load_tables(ctx.spark, ctx.data))
        return None, t, 0.0

    _, t_med = _setup(ctx, res, make)

    def one_pass(timed, fam_times):
        t_pass = time.perf_counter()
        for family, qid in spec.LLM_JOBS:
            rows, dt = _collect(ctx, res, f"job:{qid}", lambda q=qid:
                                REGISTRY[q].builder(ctx.spark, ctx.data),
                                timed)
            ok = rows_match(rows, exp[qid])
            fam_times[family] = fam_times.get(family, 0.0) + dt
            if timed:
                res.op(ok)
            elif not ok:
                res.correct = False
        return time.perf_counter() - t_pass

    t_warm = time.perf_counter()
    one_pass(False, {})
    res.e2e["setup_s"] = ctx.session_s + t_med + time.perf_counter() - t_warm
    ctx.gc0 = probe.gc_s(ctx.spark)
    passes, fams, floors = [], [], []
    for _ in range(ctx.rounds):
        _floor(ctx, floors)
        fam = {}
        passes.append(one_pass(True, fam))
        fams.append(fam)
    res.samples = {"pass_s": passes}
    res.e2e["pass_s"] = probe.median(passes)
    for family in {f for f, _ in spec.LLM_JOBS}:
        res.layers[f"operators.{family}.job_s"] = probe.median(
            [f[family] for f in fams])
    res.layers["spark.floor_s"] = probe.median(floors)
    _finish_counters(ctx, res)
    return res


def run(workload: str, ctx: Context) -> Result:
    return {"cdc": cdc, "llm_batch": llm_batch}[workload](ctx)
