"""data_pipeline_package_for_python_spark — a PySpark-native analytics engine.

A clean-room, Spark-first engine with the capabilities of the reference
dataflow DSL (PEKEW/Data-Pipeline-Package-for-Python) extended to a full
relational / streaming / LLM-data-pipeline operator surface (SURVEY.md §2.2).

Layout:
- ``core``       — the pipeline-orchestration DSL (Pipeline, V, >>, ALL/PREV)
- ``session``    — SparkSession factory with scale-oriented defaults, the
                   per-context state holder and scoped session conf
- ``sources``    — readers/writers (parquet/csv/json/orc, partitioned sinks)
- ``operators``  — relational verbs Spark lacks as single calls (as-of join,
                   dedup family, similarity search, text analysis, skew tools)
- ``functions``  — curated scalar-function surface (re-export + extras)
- ``streaming``  — Structured Streaming helpers with batch-equivalence
- ``queries``    — the SURVEY §2.2 correctness catalog (spark + oracle SQL)
"""

from .core import ALL, PREV, Pipeline, V, create_placeholder, fanin
from .plans import PreparedQuery, prepare
from .session import get_spark

__version__ = "0.1.0"

__all__ = [
    "ALL",
    "PREV",
    "Pipeline",
    "PreparedQuery",
    "V",
    "create_placeholder",
    "fanin",
    "get_spark",
    "prepare",
]
