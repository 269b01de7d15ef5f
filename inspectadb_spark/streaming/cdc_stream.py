"""Streaming CDC apply: fold a change-log *stream* into a current-state table.

``foreachBatch`` + the batch ``apply_changelog`` builder: each micro-batch
merges the new changes into the persisted state (latest-wins by lsn,
tombstones kept in state, dropped from ``current_state``). State versions
commit through ``versioned.commit_versioned``, so a crash mid-batch leaves
the previous consistent version readable — the same pattern a MERGE INTO
against a transactional table format (Delta/Iceberg) gives for free; with
such a sink the body of ``_merge_batch`` becomes a single ``mergeInto``
(whenMatched update/delete, whenNotMatched insert).

Idempotent under micro-batch re-delivery: re-applying any prefix of changes
cannot change the latest-wins outcome (max-lsn row per key is stable).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from inspectadb_spark.operators.cdc import latest_per_key
from inspectadb_spark.versioned import commit_versioned, read_current


class StreamingCdcApply:
    """Maintains current state for a keyed change stream via foreachBatch."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        order_col: str = "lsn",
        op_col: str = "op",
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.op_col = op_col
        os.makedirs(state_dir, exist_ok=True)

    # -- state bookkeeping ---------------------------------------------------
    @property
    def _version(self) -> int:
        """Committed state version, read from the pointer: a restarted
        process resumes numbering instead of overwriting the version CURRENT
        points at (Spark refuses to overwrite a path it is lazily reading).
        No batch-id guard is needed: latest-wins by lsn IS idempotent under
        re-delivery."""
        return read_current(self.state_dir)[0]

    def _state_raw(self) -> DataFrame | None:
        """Internal state: latest row per key INCLUDING delete tombstones."""
        _, path, _ = read_current(self.state_dir)
        return None if path is None else self.spark.read.parquet(path)

    def current_state(self) -> DataFrame | None:
        """User-facing view: tombstones filtered out."""
        raw = self._state_raw()
        if raw is None:
            return None
        from pyspark.sql import functions as F

        return raw.filter(F.col(self.op_col) != "d")

    def _merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        # union the batch with prior state and keep the max-lsn row per key
        # (Engine.apply_changes folds the same way): state rows carry their
        # lsn, so a re-delivered older change loses to the stored one
        if batch.isEmpty():
            return  # idle trigger: don't rewrite the whole state for a no-op
        state = self._state_raw()
        merged_input = batch if state is None else state.unionByName(batch)
        new_state = latest_per_key(merged_input, self.key_cols, self.order_col)
        commit_versioned(new_state.write.mode("overwrite").parquet,
                         self.state_dir)

    # -- entry point ---------------------------------------------------------
    def start(self, change_stream: DataFrame, checkpoint_dir: str,
              available_now: bool = False, **options):
        """Attach to a streaming change-log DataFrame; returns the query.

        State rows must retain op/order columns for cross-batch merging —
        ``apply_changelog`` keeps all input columns, so they do.
        ``available_now=True`` drains the current input and terminates (the
        backfill/replay mode); default is a continuous query.
        """
        w = (
            change_stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start(**options)
