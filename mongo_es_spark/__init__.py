"""mongo_es_spark — a PySpark-native rebuild of the mongo-es CDC/ETL
pipeline (reference: iftech-engineering/mongo-es), extended with the
operators a large-scale training-data pipeline needs (dedup, similarity
search, text analysis, multimodal columns).

Layout:

* ``config``      — task/config model (control plane)
* ``paths``       — lodash-parity dot-path access (semantic spec)
* ``core``        — pure-Python transform/compaction spec (golden tests)
* ``plans``       — Task -> DataFrame logical-plan builders (scan/tail)
* ``operators``   — DataFrame operators: transform, compaction, lookup
                    joins, dedup, similarity, text analysis, multimodal
* ``sources``     — batch/streaming sources (parquet fixtures, CDC feed,
                    optional MongoDB connector)
* ``streaming``   — the tail phase (Structured Streaming query,
                    foreachBatch sinks, checkpoint hooks) and the
                    fold-stream runtime that drains a feed through
                    any incremental store (``streaming.fold``)
* ``functions``   — reusable column-expression helpers
"""

from .config import CheckPoint, Config, Controls, Task, read_config
from .core import merge_oplogs, transformer

__all__ = [
    "CheckPoint",
    "Config",
    "Controls",
    "Task",
    "read_config",
    "merge_oplogs",
    "transformer",
]

__version__ = "0.1.0"
