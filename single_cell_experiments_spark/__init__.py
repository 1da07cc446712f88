"""sce-spark: a PySpark-native analytics engine with the capabilities of
``lasersonlab/single-cell-experiments``.

The reference is a set of Scanpy-on-Spark/Zarr scaling experiments (RDDs of
NumPy row-chunks; see SURVEY.md §0.2 — `/root/reference/` was empty when this
engine was written, so citations are to SURVEY.md's [M]-tagged module names,
e.g. ``anndata_spark.py`` / ``scanpy_spark.py`` / ``zarr_spark.py``, not to
file:line).  This engine re-expresses the same computational capabilities —
plus the north-star large-scale training-data operators (dedup, similarity
search, multimodal columns, text analysis) — as idiomatic Spark DataFrame /
SQL programs that Catalyst can optimize, instead of hand-scheduled RDD maps.

Layout
------
- ``session``    : SparkSession construction / runtime tuning (UTC, AQE, Arrow)
- ``catalog``    : loaders for the 10 driver parquet tables; ns-timestamp shim
- ``registry``   : QuerySpec registry backing ``__spark_entry__`` contract
- ``api``        : ``AnnFrame`` — the chainable AnnData-style user object
                   (the reference ``AnnDataRdd`` switching surface)
- ``operators/`` : relational core, single-cell kernels, dedup, similarity,
                   text analysis, as-of join, multimodal plumbing, MLlib ops
- ``functions/`` : cross-engine-deterministic helpers (decimal aggregation,
                   polynomial string hashing) + scalar function coverage
- ``sources/``   : Zarr v2/v3 read + write behind one format interface
                   (``zarr`` core, ``zarrv2``/``zarrv3`` formats, ``pyds``
                   Spark DataSource), sparse CSR/CSC, 10x HDF5, sinks
- ``plans/``     : plan-inspection helpers (pushdown / broadcast assertions)
- ``streaming/`` : Structured Streaming jobs + batch-equivalent oracles
"""

from .api import AnnFrame  # noqa: F401
from .session import get_spark, tune  # noqa: F401
from .catalog import load_table, register_views, TABLES  # noqa: F401
from .registry import REGISTRY, queries, oracle_sql  # noqa: F401

__version__ = "0.1.0"
