"""renkodf_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of srlcarlg/renkodf, rebuilt Spark-first.

Core surface:
- `operators.renko.renko`       ticks DF -> wide Renko brick DF (grouped-map kernel)
- `operators.renko.renko_df`    wide DF -> one of 7 OHLC mode projections
- `operators.renko.to_rws`      wide DF -> state-export table (warm start)
- `live.RenkoLive`              single-process incremental engine (RenkoWS parity)
- `streaming.renko_stream`      Structured Streaming incremental operator
- `operators.{dedup,similarity,text,multimodal,asof}`  large-scale
  training-data pipeline operators (SURVEY.md §2 Part B + north star)
"""

import importlib

# public name -> defining module, imported on first use.  Spark's Python
# worker daemon (`renkodf_spark.worker_daemon`) imports this package;
# eager imports would preload pandas into the daemon and every worker it
# forks, where pyspark's own daemon does not load it
_EXPORTS = {
    "renko": "renkodf_spark.operators.renko",
    "renko_df": "renkodf_spark.operators.renko",
    "renko_pandas": "renkodf_spark.operators.renko",
    "to_rws": "renkodf_spark.operators.renko",
    "RenkoLive": "renkodf_spark.live",
    "MODES": "renkodf_spark.schema",
}
__all__ = list(_EXPORTS)
__version__ = "0.1.0"


def __getattr__(name):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(_EXPORTS[name]), name)
