"""hadoop_multiple_streaming_spark — a PySpark-native analytics/ETL engine.

Re-expresses the capabilities of hyonaldo/hadoop-multiple-streaming
(a Hadoop Streaming extension that runs N map/reduce pipelines over ONE
input with a single scan) idiomatically on Spark:

* one shared scan feeding N branch pipelines (``plans.runner``),
* a byte-faithful subprocess pipe operator for streaming-compatible
  mappers/reducers (``operators.pipe``),
* the Hadoop ``aggregate`` reducer family as native DataFrame
  aggregations (``operators.aggregate``),
* key/value line semantics (``functions.kv``),
* text/sequence/parquet sources and ``out/<dirKey>/`` sinks
  (``sources.io``),
* plus large-scale training-data-pipeline operators: deduplication,
  similarity search, text analysis, multimodal columns
  (``operators.dedup`` / ``similarity`` / ``text`` / ``multimodal``)
  and a Structured Streaming fan-out (``streaming.fanout``).

Everything is DataFrame-first so Catalyst/AQE optimize the plans; RDDs
appear only inside the pipe operator where exact line-in/line-out
subprocess semantics are required.
"""

__version__ = "0.2.0"

# first, so a reused Python worker installs it on its first task that
# unpickles a function from this package (see _zipcache)
from . import _zipcache  # noqa: E402

_zipcache.install()

from .operators.asof import asof_join, interval_join  # noqa: E402,F401
from .operators.pipe import grouped_pipe_reduce, pipe_map, pipe_reduce  # noqa: E402,F401
from .plans.model import AGGREGATE, NONE, Branch, JobSpec  # noqa: E402,F401
from .plans.runner import JobResult, plan_branches, run_job  # noqa: E402,F401
from .session import get_spark  # noqa: E402,F401

__all__ = [
    "AGGREGATE",
    "NONE",
    "Branch",
    "JobResult",
    "JobSpec",
    "asof_join",
    "get_spark",
    "grouped_pipe_reduce",
    "interval_join",
    "pipe_map",
    "pipe_reduce",
    "plan_branches",
    "run_job",
]
