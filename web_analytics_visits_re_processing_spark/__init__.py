"""PySpark-native web-analytics / sessionization engine.

A from-scratch, Spark-first rebuild of the query and data-processing
capabilities of ``konosp/Web-Analytics-Visits-re-processing`` (an Apache
Beam 2.3 batch pipeline that re-processes raw web-analytics hit logs into
sessions, see ``/root/reference/main.py:209-234``), extended with the
large-scale training-data-pipeline operators a modern 100 TB deployment
needs: deduplication, similarity search, text analysis, and multimodal
column handling.

Design principles (SURVEY.md §1.3/§4):

- **DataFrame-declarative.** Every operator is expressed with the
  DataFrame / SQL API so Catalyst gets predicate pushdown, column
  pruning, join re-ordering, whole-stage codegen, and AQE for free.
  The reference's per-row Python ``DoFn``s are the anti-pattern we
  specifically avoid.
- **One shuffle where one shuffle suffices.** Sessionization shuffles
  once on the user key; visits and hits both derive from that single
  exchange.
- **Streaming-compatible expressions.** The daily job numbers and keys
  visits in one sorted pass, a ``lag`` window and a running sum
  (``with_session_columns``). The visits aggregate
  ``sessionize_visits`` cuts the same visits with ``session_window``
  and keys them with the same expression; it runs unchanged under
  Structured Streaming with a watermark (streaming/ package).
- **Python only at the edges.** Pandas UDFs (Arrow-batched) appear only
  where built-in expressions genuinely cannot express the semantics
  (e.g. vectorized embedding math, the pure-Python image codec).
"""

from web_analytics_visits_re_processing_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
