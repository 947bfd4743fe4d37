"""PySpark-native analytics engine with the query surface of the reference
OLAP DBMS (early ClickHouse, v1.1.54189 — see SURVEY.md).

Architecture (Spark-first, not a port):

- ``session``      — SparkSession factory tuned for columnar OLAP (AQE on,
                     Arrow on, UTC, shuffle partitions sized to cores).
- ``sources``      — table catalog over parquet dirs + MergeTree-family
                     write/compaction policies re-expressed as Spark jobs.
- ``dialect``      — the CH-SQL front-end: lexer, translator and the
                     function library (``dialect/functions_map.py``, the
                     one implementation of every reference function name).
- ``functions``    — Column-side helpers with no SQL twin (charset,
                     collation, dictionaries, exact hash ports).
- ``operators``    — query-clause operators Spark lacks natively:
                     ANY JOIN, ARRAY JOIN, LIMIT BY, WITH TOTALS,
                     deterministic SAMPLE, FINAL dedup, sequenceMatch.
- ``streaming``    — Buffer / MaterializedView semantics on Structured
                     Streaming.
- ``pipeline``     — large-scale training-data ops: dedup (exact, MinHash-
                     LSH, SimHash, n-gram Jaccard, embedding), similarity
                     search, text analysis, multimodal column plumbing.

Everything here is plain DataFrame/Catalyst; physical execution
(vectorization, codegen, spill, partial aggregation — reference §4.3) is
delegated to Tungsten by construction.
"""

from .session import get_session
from .sources.catalog import TABLES, load_tables, register_tables

__all__ = ["get_session", "load_tables", "register_tables", "TABLES"]
