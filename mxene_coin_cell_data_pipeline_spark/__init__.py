"""mxene_coin_cell_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``raa67-cmyk/mxene-coin-cell-data-pipeline`` (an eager
pandas battery-cycling ETL), extended with large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
column plumbing).

Design stance (SURVEY.md §7):
- Everything is a composable ``DataFrame -> DataFrame`` function over an
  explicit canonical schema; no RDDs, no driver-side row loops.
- All per-cycle operators are keyed by ``(cell_id, cycle_index)`` when a
  ``cell_id`` column is present, so single-cell reference semantics
  generalize to partitioned multi-cell data for free.
- The batch reference operators, dQ/dV included, compile to built-in
  Catalyst expressions, array functions and windows, with no Python
  kernel. Python kernels (``mapInPandas``/``applyInPandas``) appear
  only in extension operators, such as the media codecs, the BLAS
  near-dup and the streaming energy accumulator.
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
