"""PySpark-native analytics engine with the query surface of the reference
order-flow pipeline (Bretsera/Live-Market-Data-Orderflow-Analysis-Big-Data-Project-),
generalized to a full batch + streaming relational engine plus
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns).

Layout:
    session.py    SparkSession factory / runtime conf normalization
    schemas.py    reference tick & candle schemas (StructType DSL)
    sources/      batch table loaders + streaming sources + sinks
    operators/    tick parsing, candles, as-of join, dedup, similarity, text
    functions/    column-expression helpers (hash-stable agg conventions)
    streaming/    S-block streaming builders (watermark/session/state)
    queries/      the declared query contract (queries() + oracle_sql())
"""

from .session import get_spark, ensure_engine_confs
from .sources.tables import TABLES, load_table, register_views

__all__ = [
    "get_spark",
    "ensure_engine_confs",
    "TABLES",
    "load_table",
    "register_views",
]
