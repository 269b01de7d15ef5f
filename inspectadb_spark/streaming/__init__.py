"""Structured Streaming operators (SURVEY.md §2.2k).

Every builder here accepts a streaming *or* batch DataFrame and returns a
lazy transformed DataFrame — the same plan incrementalized by Spark's
micro-batch engine when the input is unbounded (SIGMOD'18 prefix-consistency
model: a deterministic pipeline over a finite replayed input must equal the
batch run, which is exactly how tests/test_streaming.py verifies these).
"""

from inspectadb_spark.streaming.windows import (
    tumbling_agg,
    sliding_agg,
    session_agg,
    stream_dedup,
)
from inspectadb_spark.streaming.cdc_stream import StreamingCdcApply
from inspectadb_spark.streaming.incremental import IncrementalAggregate, StreamingCms

__all__ = [
    "tumbling_agg",
    "sliding_agg",
    "session_agg",
    "stream_dedup",
    "StreamingCdcApply",
    "IncrementalAggregate",
    "StreamingCms",
]
