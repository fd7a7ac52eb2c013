"""prclz-spark: from-scratch PySpark-native spatial analytics engine.

Reproduces the semantics of `mansueto-institute/prclz` (see SURVEY.md) on an
idiomatic Spark architecture: WKB geometry columns, cover-cell equi-joins,
ring-expansion kNN, applyInPandas geometry/graph kernels, lineage ledger.
"""

from . import zipcache

__version__ = "0.1.0"

zipcache.install()
