"""Incrementally-maintained aggregate tables (continuous-aggregate analog).

``foreachBatch`` folds each micro-batch's *partial* aggregates into a
persisted per-key aggregate table — the streaming materialized-view /
hypertable-rollup pattern: queries read the (tiny) aggregate table instead
of rescanning the raw stream history.

Only decomposable aggregates are supported, because only they merge by
re-aggregation: the measure kinds are ``operators/mv.py``'s ``KINDS``, the
vocabulary summary tables are built and re-aggregated from — count
(merge: sum), sum (sum — routed through DECIMAL(18,6) so merge order can
never change the value), sum12, min (min), max (max), set (union). avg is
derived as sum/count in the reader view, never stored.

State versions commit through ``versioned.commit_versioned`` (the same
crash story as ``StreamingCdcApply``); on a transactional table format the
body of ``_merge_batch`` becomes a single MERGE INTO with additive updates. Merge cost per batch is O(|groups| + |batch partials|) —
independent of stream history length; state size is the group count.

Idempotence: unlike latest-wins CDC apply, additive merges are NOT
idempotent under micro-batch re-delivery, so the pointer file records the
(checkpoint, batch_id) that produced each version and ``_merge_batch``
skips a batch it has already applied — closing the crash window between
the pointer swap and Spark's checkpoint commit, where foreachBatch
re-delivers the last batch. The guard is checkpoint-scoped because batch
ids restart at 0 under a fresh checkpoint (a deliberate
replay-into-existing-state run must not be suppressed).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inspectadb_spark.operators.mv import KINDS
from inspectadb_spark.versioned import commit_versioned, read_current


class IncrementalAggregate:
    """Maintains ``SELECT keys, aggs FROM stream GROUP BY keys`` incrementally.

    ``measures``: list of (alias, kind, source_sql_expr) with kind in
    count | sum | sum12 | min | max | set.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_exprs: dict[str, str],
        measures: list[tuple[str, str, str]],
    ) -> None:
        for _, kind, _ in measures:
            if kind not in KINDS:
                raise ValueError(f"non-decomposable aggregate kind: {kind!r}")
        self.spark = spark
        self.state_dir = state_dir
        self.key_exprs = dict(key_exprs)
        self.measures = list(measures)
        os.makedirs(state_dir, exist_ok=True)
        self._checkpoint: str | None = None

    # -- state bookkeeping (versioned.commit_versioned, the pointer trailer
    # carrying the (checkpoint, batch_id) that produced each version)
    @property
    def _version(self) -> int:
        """Committed state version, read from the pointer: a restarted
        process resumes numbering instead of overwriting the version CURRENT
        still points at (Spark refuses to overwrite a path it is reading)."""
        return read_current(self.state_dir)[0]

    def _read_ptr(self) -> tuple[str, str | None, int | None] | None:
        """(state_path, source_checkpoint, last_batch_id) or None."""
        _, path, trailer = read_current(self.state_dir)
        if path is None:
            return None
        if len(trailer) >= 2:
            return path, trailer[0], int(trailer[1])
        return path, None, None

    def _applied(self, batch_id: int) -> bool:
        """Whether ``batch_id`` of this checkpoint is already inside the
        committed state: the crash-window re-delivery between the pointer
        swap and Spark's checkpoint commit. Double-applying an additive
        merge would permanently inflate counts/sums."""
        committed = self._read_ptr()
        return (
            committed is not None
            and self._checkpoint is not None
            and committed[1] == self._checkpoint
            and committed[2] is not None
            and batch_id <= committed[2]
        )

    def _commit(self, new_state: DataFrame, batch_id: int) -> None:
        commit_versioned(new_state.write.mode("overwrite").parquet,
                         self.state_dir,
                         (self._checkpoint or "", str(batch_id)))

    def table(self) -> DataFrame | None:
        """The current aggregate table (finalized columns)."""
        committed = self._read_ptr()
        if committed is None:
            return None
        return self.spark.read.parquet(committed[0])

    def _partial(self, batch: DataFrame) -> DataFrame:
        # group directly by the aliased key expressions (a select-then-group
        # would duplicate any key that is itself a plain column reference)
        keys = [F.expr(e).alias(a) for a, e in self.key_exprs.items()]
        aggs = [
            F.expr(KINDS[kind][0].format(src=src)).alias(alias)
            for alias, kind, src in self.measures
        ]
        return batch.groupBy(*keys).agg(*aggs)

    def _merge_states(self, merged_in: DataFrame) -> DataFrame:
        """Fold stored state + this batch's partials into the new state.
        The default re-aggregates each decomposable measure; sketch
        subclasses override this with their own lossless merge."""
        merges = [
            F.expr(KINDS[kind][1].format(c=alias)).alias(alias)
            for alias, kind, _ in self.measures
        ]
        return merged_in.groupBy(*self.key_exprs).agg(*merges)

    def _merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied(batch_id):
            return
        if batch.isEmpty():
            # an idle trigger (watermark advance, availableNow drain tail)
            # carries zero information; without this guard it would still
            # rewrite the ENTIRE state table — O(|state|) I/O per no-op
            return
        partial = self._partial(batch)
        state = self.table()
        merged_in = partial if state is None else state.unionByName(partial)
        self._commit(self._merge_states(merged_in), batch_id)

    def start(self, stream: DataFrame, checkpoint_dir: str,
              available_now: bool = False, **options):
        """``available_now=True`` drains the current input and terminates —
        the batch-replay/backfill mode; default is a continuous query."""
        self._checkpoint = checkpoint_dir
        w = (
            stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start(**options)


class StreamingCms(IncrementalAggregate):
    """Incrementally-maintained Count-Min frequency sketch over a stream —
    the q84/q94 mergeable-sketch story in streaming form.

    Each micro-batch contributes its own (d, bucket, cnt) grid (bounded:
    ≤ depth×width rows regardless of batch size) and the foreachBatch merge
    is element-wise SUM — CMS merge is lossless, so after draining any
    chunking of the input the persisted grid equals the batch-built sketch
    over the same rows EXACTLY (asserted in S23). Inherits the
    (checkpoint, batch_id) re-delivery guard: additive sketch merges are
    not idempotent, so the crash window is closed the same way.

    State size: depth×width rows forever, independent of stream history —
    the sketch is the 100 TB answer to per-key COUNT(*) rollups whose key
    cardinality would blow up exact state.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        col: str,
        depth: int = 4,
        width: int = 256,
        salt: str = "cms",
    ) -> None:
        super().__init__(
            spark,
            state_dir,
            key_exprs={"d": "d", "bucket": "bucket"},
            measures=[("cnt", "count", "*")],
        )
        self._cms_args = (col, depth, width, salt)

    def _partial(self, batch: DataFrame) -> DataFrame:
        from inspectadb_spark.operators.sketches import cms_sketch

        col, depth, width, salt = self._cms_args
        return cms_sketch(batch, col, depth, width, salt)


class StreamingKmv(IncrementalAggregate):
    """Incrementally-maintained bottom-k (KMV) distinct signatures per group
    — the q189 sketch kept live over a stream.

    Each micro-batch contributes its own bottom-k signature (≤ k rows per
    group regardless of batch size); the merge is distinct-union + bottom-k,
    which is the KMV merge rule and is LOSSLESS: after draining any chunking
    of the input, the persisted signature equals the batch-built signature
    over the same rows EXACTLY (asserted in S28). The merge is also
    idempotent (set semantics), but the (checkpoint, batch_id) re-delivery
    guard is inherited anyway — re-applying a batch is wasted work even
    when it is harmless.

    State size: |groups| × k rows forever, independent of stream history —
    live cross-source overlap/Jaccard dashboards read the signature table
    (`kmv_pairwise_jaccard`-style merge over pairs) without rescanning raw
    history.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        group_col: str,
        key_col: str,
        k: int = 128,
    ) -> None:
        super().__init__(spark, state_dir, key_exprs={"g": group_col},
                         measures=[])
        self._kmv = (group_col, key_col, k)

    def _partial(self, batch: DataFrame) -> DataFrame:
        from inspectadb_spark.operators.sketches import kmv_signature

        group_col, key_col, k = self._kmv
        return kmv_signature(batch, group_col, key_col, k=k).select("g", "h")

    def _merge_states(self, merged_in: DataFrame) -> DataFrame:
        from inspectadb_spark.operators.sketches import bottom_k

        _, _, k = self._kmv
        # state schema stays (g, h) so the next batch's partial unions
        # cleanly; rank is recomputable and not part of the sketch
        return bottom_k(merged_in.select("g", "h").distinct(),
                        ["g"], k).select("g", "h")


class StreamingMisraGries(IncrementalAggregate):
    """Live heavy-hitter candidates with BOUNDED state: a Misra–Gries
    summary of size ``m`` maintained incrementally — the streaming
    companion of q198's batch two-phase operator.

    Each micro-batch contributes exact per-item partial counts; the merge
    is additive followed by the batched MG shrink (subtract the (m+1)-th
    largest count from every entry, drop non-positives). MG summaries are
    mergeable (Agarwal et al., "Mergeable Summaries"): after draining ANY
    chunking of the input the state (a) holds at most m items, (b) contains
    EVERY item with true count > n/(m+1) — no false negatives for the
    q198 threshold when m >= denom — and (c) under-counts each kept item
    by at most n/(m+1). An exact-total row (item = NULL sentinel, never
    shrunk) rides along so thresholds and error bars are computable from
    state alone. The emitted candidate set feeds q198's exact verifier
    for a precise dashboard; the state itself is the alerting surface.

    State size: <= m+1 rows forever, independent of vocabulary — the
    property a plain IncrementalAggregate count table cannot give on an
    unbounded token domain.
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 item_expr: str, m: int) -> None:
        super().__init__(spark, state_dir, key_exprs={"item": item_expr},
                         measures=[("cnt", "count", "*")])
        self.m = m

    def _partial(self, batch: DataFrame) -> DataFrame:
        # NULL items are excluded BEFORE counting: NULL is the exact-total
        # sentinel's reserved key, so a null-valued item_expr row (e.g. a
        # regexp_extract miss) would otherwise merge into the sentinel and
        # silently inflate n — and with it every threshold and error bar.
        # n therefore counts tracked (non-null) rows only, keeping the
        # n/(m+1) guarantee aligned with what the summary actually saw.
        counts = (super()._partial(batch)
                  .filter(F.col("item").isNotNull()))
        total = batch.select(
            F.lit(None).cast("string").alias("item"),
            F.coalesce(
                F.sum(F.expr(
                    f"CASE WHEN ({self.key_exprs['item']}) IS NOT NULL "
                    "THEN 1 ELSE 0 END")),
                F.lit(0)).cast("bigint").alias("cnt"),
        )
        return counts.unionByName(total)

    def _merge_states(self, merged_in: DataFrame) -> DataFrame:
        merged = merged_in.groupBy("item").agg(F.sum("cnt").alias("cnt"))
        sentinel = merged.filter(F.col("item").isNull())
        items = merged.filter(F.col("item").isNotNull())
        # model-sized lookup: the (m+1)-th largest count, if any
        kth_row = (items.orderBy(F.desc("cnt"), F.asc("item"))
                   .select("cnt").offset(self.m).limit(1).collect())
        if kth_row:
            kth = kth_row[0][0]
            items = (items.filter(F.col("cnt") > kth)
                     .withColumn("cnt", F.col("cnt") - F.lit(kth)))
        return items.unionByName(sentinel)


class OrderContractViolation(RuntimeError):
    """A micro-batch delivered rows at or below a key's committed max
    order tuple, breaking the global-order contract a sequential test's
    batch-equals-stream guarantee depends on. State was NOT advanced."""


def _refuse_out_of_order(j: DataFrame, key: str, order_cols: list[str],
                         batch_id: int) -> None:
    """Raise OrderContractViolation if any row of ``j`` (columns: key,
    ``_ord`` = this batch's order tuple, ``_max_ord`` = the key's
    committed watermark, null when unknown) sits at or below the
    committed max. Shared by every order-dependent monitor so the
    refusal semantics can't drift between them; O(batch), runs BEFORE
    any state write."""
    viol = (j.filter(F.col("_max_ord").isNotNull()
                     & (F.col("_ord") <= F.col("_max_ord")))
            .select(key, "_ord", "_max_ord").limit(3).collect())
    if viol:
        detail = "; ".join(
            f"key={r[0]!r} got order={r[1]} <= committed max={r[2]}"
            for r in viol)
        raise OrderContractViolation(
            f"batch {batch_id} violates the ({', '.join(order_cols)})"
            f" global-order contract: {detail}. State not advanced; "
            "re-deliver the stream in order (e.g. ordered file source, "
            "maxFilesPerTrigger=1 over sorted files).")


class StreamingSprt(IncrementalAggregate):
    """Live Wald SPRT monitor (the streaming face of q353): per key, the
    running log-likelihood ratio over an ORDER-DEFINED indicator stream,
    with the first boundary crossing frozen the moment it happens.

    Sequential tests are the one aggregate family whose state is
    order-dependent, so this is NOT a decomposable-kind subclass: each
    micro-batch's internal LLR path is offset by the stored running LLR,
    the first in-batch crossing (if the key is still undecided) is
    detected against the offset path, and the decision (step index + LLR
    at crossing) freezes while n/llr keep accumulating for the undecided
    readout. Batch ≡ stream EXACTLY — for any chunking of the stream that
    respects the event order (the contract every sequential test already
    imposes on its data; an ordered file/kafka source satisfies it) the
    drained state equals the one-shot batch computation byte-for-byte
    (S62).

    State per key: (key, n, llr, dec_rn, dec_llr, max_ord) — one row,
    merge cost O(|keys| + |batch|) independent of history; the same
    version-pointer/crash/idempotence story as IncrementalAggregate.

    The batch ≡ stream guarantee holds ONLY while micro-batch boundaries
    respect the (order_cols) global order per key — the contract an
    ordered file/kafka source satisfies but out-of-order file arrival or
    ``maxFilesPerTrigger > 1`` over unsorted files silently breaks, after
    which decisions freeze on the wrong rows. The monitor therefore
    carries the per-key max order tuple in state and REFUSES the batch
    (OrderContractViolation, state untouched) when any row arrives at or
    below it — order-contract violations are loud, never silently wrong
    (ADVICE r12).
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 key: str, order_cols: list[str], step_sql: str,
                 bar: str = "2.9444") -> None:
        # reuse the pointer bookkeeping; measures unused (merge overridden)
        super().__init__(spark, state_dir, key_exprs={key: key},
                         measures=[("n", "count", "*")])
        self.key = key
        self.order_cols = list(order_cols)
        self.step_sql = step_sql
        self.bar = bar

    def _merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        if self._applied(batch_id):
            return
        if batch.isEmpty():
            return
        k = self.key
        w = Window.partitionBy(k).orderBy(*self.order_cols)
        ord_t = F.struct(*[F.col(c) for c in self.order_cols])
        p = (batch.select(k, *self.order_cols,
                          F.expr(self.step_sql).alias("step"))
             .withColumn("_ord", ord_t)
             .withColumn("cum", F.sum("step").over(
                 w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
             .withColumn("rn", F.row_number().over(w)))
        state = self.table()
        if state is None:
            # derive the key's type from the batch — a hardcoded string
            # key would silently coerce a non-string key (e.g. bigint
            # user_id) in the first unionByName and persist the wrong
            # dtype into the state parquet forever
            state = (batch.select(k, ord_t.alias("max_ord")).limit(0)
                     .withColumn("n", F.lit(0).cast("bigint"))
                     .withColumn("llr", F.lit(0).cast("decimal(38,6)"))
                     .withColumn("dec_rn", F.lit(None).cast("bigint"))
                     .withColumn("dec_llr",
                                 F.lit(None).cast("decimal(38,6)")))
        elif "max_ord" not in state.columns:
            # state written before the order guard existed: no committed
            # watermark to check the first post-upgrade batch against
            state = state.join(
                batch.select(k, ord_t.alias("max_ord")).limit(0),
                k, "left")
        st = state.select(
            F.col(k), F.col("n").alias("_off_n"), F.col("llr").alias("_off"),
            F.col("dec_rn").alias("_dec_rn"), F.col("dec_llr").alias("_dec_llr"),
            F.col("max_ord").alias("_max_ord"))
        j = (p.join(F.broadcast(st), k, "left")
             .withColumn("_off", F.coalesce(F.col("_off"),
                                            F.lit(0).cast("decimal(38,6)")))
             .withColumn("_off_n", F.coalesce(F.col("_off_n"), F.lit(0)))
             .withColumn("_abs_llr", F.abs(F.col("_off") + F.col("cum"))))
        # Order-contract guard (ADVICE r12): a row at or below the key's
        # committed max order tuple means this batch is NOT a suffix of
        # the ordered stream — the LLR path (and any frozen decision)
        # would be computed on the wrong rows. Refuse loudly BEFORE any
        # state is written. j is persisted across the guard's job and the
        # state write so the window+join over the batch runs once, not
        # twice (the guard would otherwise double the per-batch scan).
        j = j.persist()
        try:
            _refuse_out_of_order(j, k, self.order_cols, batch_id)
            crossing = F.when(
                F.col("_dec_rn").isNull()
                & (F.col("_abs_llr") >= F.expr(self.bar)),
                F.struct(F.col("rn").alias("rn"),
                         (F.col("_off") + F.col("cum")).alias("llr")))
            fin = F.struct(F.col("rn").alias("rn"),
                           (F.col("_off") + F.col("cum")).alias("llr"))
            upd = j.groupBy(k).agg(
                (F.min("_off_n") + F.count(F.lit(1))).cast("bigint")
                .alias("n"),
                F.max(fin).getField("llr").cast("decimal(38,6)")
                .alias("llr"),
                F.min("_dec_rn").alias("_old_rn"),
                F.min("_dec_llr").alias("_old_llr"),
                F.min("_off_n").alias("_off_n0"),
                F.min(crossing).alias("_cross"),
                F.max("_ord").alias("max_ord"))
            upd = upd.select(
                F.col(k),
                "n", "llr",
                F.coalesce(F.col("_old_rn"),
                           (F.col("_off_n0") + F.col("_cross.rn"))
                           .cast("bigint"))
                .alias("dec_rn"),
                F.coalesce(F.col("_old_llr"),
                           F.col("_cross.llr").cast("decimal(38,6)"))
                .alias("dec_llr"),
                "max_ord")
            # keys silent in this batch carry over untouched
            carried = state.join(upd.select(k), k, "anti")
            self._commit(carried.unionByName(upd), batch_id)
        finally:
            j.unpersist()

    def readout(self) -> DataFrame | None:
        """(key, n_events, n_at_decision, decision, llr_readout) — the
        q353 contract, read from the live state table."""
        t = self.table()
        if t is None:
            return None
        return t.select(
            F.col(self.key),
            F.col("n").cast("bigint").alias("n_events"),
            F.coalesce(F.col("dec_rn"), F.lit(0)).cast("bigint")
            .alias("n_at_decision"),
            F.when(F.col("dec_rn").isNull(), F.lit("continue"))
            .when(F.col("dec_llr") > 0, F.lit("accept_h1"))
            .otherwise(F.lit("accept_h0")).alias("decision"),
            F.coalesce(F.col("dec_llr"), F.col("llr")).cast("double")
            .alias("llr_readout"))


class StreamingXmr(IncrementalAggregate):
    """Live XmR individuals control-chart monitor (the streaming face of
    q359, VERDICT r12 item 5): per key, natural process limits
    xbar ± 2.66·MRbar maintained incrementally over an ORDER-DEFINED
    measurement stream.

    The moving range makes this order-dependent (like StreamingSprt, not
    a decomposable-kind subclass): each micro-batch contributes its
    internal Σ|Δ| plus ONE boundary range |first_of_batch − last_of_state|,
    which reproduces the full-series Σ|Δ| exactly for any chunking that
    respects the (order_cols) order — decimal addition is exact, so the
    drained limits equal the one-shot q359 computation byte-for-byte
    (S63). The same order-contract guard as StreamingSprt refuses a
    mis-ordered batch loudly, state untouched.

    State per key: (key, n, sum_v, sum_mr, last_v, max_ord) — the
    (n, Σv, ΣMR) triple q359's docstring calls "the live-monitor shape"
    plus the carried last value that makes MR incremental; one row per
    key, merge cost O(|keys| + |batch|) independent of history.

    Readout is the LIMITS surface (n, xbar, mr_bar, ucl, lcl) through
    q359's exact closed form; judging points is the serving-side
    ``flag_ooc(batch)``, which compares measurements against the current
    limits in decimal space — run over the full history it reproduces
    q359's n_ooc / first_ooc_rn exactly (pinned in S63).
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 key: str, order_cols: list[str], value_sql: str) -> None:
        super().__init__(spark, state_dir, key_exprs={key: key},
                         measures=[("n", "count", "*")])
        self.key = key
        self.order_cols = list(order_cols)
        self.value_sql = value_sql

    def _merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        if self._applied(batch_id):
            return
        if batch.isEmpty():
            return
        k = self.key
        w = Window.partitionBy(k).orderBy(*self.order_cols)
        ord_t = F.struct(*[F.col(c) for c in self.order_cols])
        p = (batch.select(k, *self.order_cols,
                          F.expr(self.value_sql).alias("v"))
             .withColumn("_ord", ord_t)
             .withColumn("_prev", F.lag("v").over(w)))
        # one ordered-window pass, then a per-key aggregate: batch-internal
        # moving ranges + the batch's first/last values for the boundary
        bagg = p.groupBy(k).agg(
            F.count(F.lit(1)).cast("bigint").alias("_bn"),
            F.sum("v").cast("decimal(38,4)").alias("_bsum"),
            F.sum(F.abs(F.col("v") - F.col("_prev")))
            .cast("decimal(38,4)").alias("_bmr"),
            F.min_by("v", "_ord").cast("decimal(38,4)").alias("_first"),
            F.max_by("v", "_ord").cast("decimal(38,4)").alias("_last"),
            F.min("_ord").alias("_ord"),
            F.max("_ord").alias("_bmax_ord"))
        state = self.table()
        if state is None:
            state = (batch.select(k, ord_t.alias("max_ord")).limit(0)
                     .withColumn("n", F.lit(0).cast("bigint"))
                     .withColumn("sum_v", F.lit(0).cast("decimal(38,4)"))
                     .withColumn("sum_mr", F.lit(0).cast("decimal(38,4)"))
                     .withColumn("last_v",
                                 F.lit(None).cast("decimal(38,4)")))
        st = state.select(
            F.col(k), F.col("n").alias("_sn"), F.col("sum_v").alias("_sv"),
            F.col("sum_mr").alias("_smr"), F.col("last_v").alias("_slast"),
            F.col("max_ord").alias("_max_ord"))
        # persist the per-key batch aggregate (model-sized) across the
        # guard's job and the state write — one batch scan, not two
        j = bagg.join(F.broadcast(st), k, "left").persist()
        try:
            _refuse_out_of_order(j, k, self.order_cols, batch_id)
            boundary = F.when(F.col("_slast").isNotNull(),
                              F.abs(F.col("_first") - F.col("_slast"))) \
                .otherwise(F.lit(0))
            upd = j.select(
                F.col(k),
                (F.coalesce(F.col("_sn"), F.lit(0)) + F.col("_bn"))
                .cast("bigint").alias("n"),
                (F.coalesce(F.col("_sv"), F.lit(0)) + F.col("_bsum"))
                .cast("decimal(38,4)").alias("sum_v"),
                (F.coalesce(F.col("_smr"), F.lit(0))
                 + F.coalesce(F.col("_bmr"), F.lit(0)) + boundary)
                .cast("decimal(38,4)").alias("sum_mr"),
                F.col("_last").alias("last_v"),
                F.col("_bmax_ord").alias("max_ord"))
            carried = state.join(upd.select(k), k, "anti")
            self._commit(carried.unionByName(upd), batch_id)
        finally:
            j.unpersist()

    def _limits(self) -> DataFrame | None:
        """(key, n, xq, mrq) with xq/mrq as R4 DECIMALS — q359's base CTE
        closed form off the state triple (kept decimal so flag_ooc's
        comparisons stay boundary-exact; readout() releases doubles)."""
        t = self.table()
        if t is None:
            return None
        return t.select(
            F.col(self.key), F.col("n"),
            F.expr("ROUND(CAST(CAST(sum_v AS DOUBLE) / n"
                   " AS DECIMAL(18,6)), 4)").alias("xq"),
            F.expr("CASE WHEN n > 1 THEN"
                   " ROUND(CAST(CAST(sum_mr AS DOUBLE) / (n - 1)"
                   " AS DECIMAL(18,6)), 4) END").alias("mrq"))

    def readout(self) -> DataFrame | None:
        """(key, n, xbar, mr_bar, ucl, lcl) — q359's limit columns, read
        from the live state through the identical closed form."""
        lims = self._limits()
        if lims is None:
            return None
        return lims.select(
            F.col(self.key),
            F.col("n").cast("bigint").alias("n"),
            F.col("xq").cast("double").alias("xbar"),
            F.col("mrq").cast("double").alias("mr_bar"),
            F.expr("CAST(xq + 2.66 * mrq AS DOUBLE)").alias("ucl"),
            F.expr("CAST(xq - 2.66 * mrq AS DOUBLE)").alias("lcl"))

    def flag_ooc(self, batch: DataFrame) -> DataFrame:
        """Serve-side point judgment: the batch's rows with an ``ooc``
        flag against the CURRENT limits, compared in decimal space (the
        exact q359 boundary semantics). The limits table is model-sized
        (one row per key) — always a broadcast join."""
        lims = self._limits()
        if lims is None:
            raise ValueError("flag_ooc before any committed state")
        v = F.expr(self.value_sql).alias("_v")
        return (batch.withColumn("_v", v)
                .join(F.broadcast(lims.drop("n")), self.key, "left")
                .withColumn(
                    "ooc",
                    F.coalesce(
                        (F.col("_v") > F.col("xq") + 2.66 * F.col("mrq"))
                        | (F.col("_v") < F.col("xq") - 2.66 * F.col("mrq")),
                        F.lit(False)))
                .drop("_v", "xq", "mrq"))
