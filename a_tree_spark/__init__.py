"""a_tree_spark — a PySpark-native boolean-expression matching +
geospatial tiling engine.

Re-expresses the capabilities of the `a-tree` Rust crate
(github.com/AntoineGagne/a-tree, vendored read-only at /root/reference)
Spark-first: expressions compile on the driver into a broadcast shared
DAG; events flow as DataFrames; matching runs vectorized over Arrow
batches; spatial joins are cell-id equi-joins handled by Catalyst.
"""

__version__ = "0.1.0"

from . import _zipgate

# every kernel closure and broadcast evaluator imports this package when
# it unpickles in a Python worker, so the worker gates its per-task zip
# re-reads from its first task on (see _zipgate)
_zipgate.install()
