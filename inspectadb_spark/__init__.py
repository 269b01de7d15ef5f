"""inspectadb_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of the
InspectaDB reference (https://github.com/inspectadb/inspectadb, pinned read-only
at /root/reference — a licenses-only checkout, see SURVEY.md §0: the capability
contract is reconstructed evidence, not ported code).

Design principles (SURVEY.md §3.4, §4):
- Declare logical plans with the DataFrame/SQL API; let Catalyst/Tungsten pick
  physical strategies (broadcast vs SMJ, codegen, AQE).
- Built-in `pyspark.sql.functions` always preferred; Pandas UDFs only where
  built-ins genuinely cannot express the semantics.
- All composite operators (CDC apply, SCD2, sessionize, dedup, similarity) are
  *plan builders*: Python functions that return lazy DataFrames.
"""

from inspectadb_spark.engine import Engine
from inspectadb_spark.operators.mv import AggRequest, MVDef
from inspectadb_spark.operators.result_cache import ResultCache
from inspectadb_spark.session import get_session, configure
from inspectadb_spark.catalog import load_table, load_tables, register_views, TABLES

__all__ = [
    "AggRequest",
    "Engine",
    "MVDef",
    "ResultCache",
    "get_session",
    "configure",
    "load_table",
    "load_tables",
    "register_views",
    "TABLES",
]

__version__ = "0.1.0"
