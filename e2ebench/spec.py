"""What each workload runs, shared by the reference build and the runs.

A cdc read is given as the Engine call the workload makes; the reference
build evaluates its keys and measures over the folded state.
"""

from __future__ import annotations

# Summary tables over orders, registered by cdc: (name, keys, measures).
MVS = [
    ("mv_orders_status", ("o_orderstatus", "o_orderpriority"),
     {"sum_price": ("sum", "o_totalprice"), "cnt": ("count", "*"),
      "cnt_price": ("count", "o_totalprice")}),
    ("mv_orders_cust", ("o_custkey",),
     {"sum_price": ("sum", "o_totalprice"), "cnt": ("count", "*")}),
]

# cdc: after every apply, one fresh read then one repeat read of the same
# request. CDC_READ_AT picks the request by the step's place in its round
# (three batches, stale re-delivery, repair); the stale step reads the
# status totals, which always show the probe key's price.
CDC_READS = [
    dict(name="status_mv", kind="aggregate", keys=("o_orderstatus",),
         measures={"total": ("sum", "o_totalprice"), "n": ("count", "*"),
                   "avg_price": ("avg", "o_totalprice")}),
    dict(name="prio_sql", kind="sql_routed", keys=("o_orderpriority",),
         measures={"total": ("sum", "o_totalprice"), "n": ("count", "*")},
         text=("SELECT o_orderpriority, SUM(o_totalprice) AS total, "
               "COUNT(*) AS n FROM orders GROUP BY o_orderpriority")),
    dict(name="cust_base", kind="aggregate", keys=("o_custkey",),
         measures={"n": ("count", "*"), "top": ("max", "o_totalprice")}),
]
CDC_READ_AT = (2, 1, 0, 0, 1)
STEPS_PER_ROUND = len(CDC_READ_AT)

# llm_batch: registry jobs by operator family. q250 (similarity) and q44e
# (cluster) cost 6 and 10 s a pass here and are left out to keep a run
# inside its time budget; q135 runs both of those operator modules.
LLM_JOBS = [
    ("dedup", "q44b_simhash"),
    ("dedup", "q135_semantic_dedup"),
    ("tokenizer", "q194_bpe_merges"),
]

