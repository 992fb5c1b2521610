"""gmall_flink_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference real-time e-commerce warehouse
(HelloPain/gmall-flink, a Flink 1.17 DataStream/SQL codebase).

This is NOT a port of the Flink runtime: every capability is re-expressed as
declarative DataFrame / Spark SQL plans so Catalyst + Tungsten pick the
physical strategy (predicate pushdown, broadcast joins, whole-stage codegen,
AQE). See SURVEY.md at the repo root for the full operator inventory this
package implements.

Layout:
  session.py    SparkSession factory (timezone, AQE, shuffle sizing)
  schemas.py    envelope / page-log / config StructTypes  (SURVEY §1)
  sources/      batch + streaming readers, CDC-envelope synthesizer (§2.1)
  sinks/        kafka-style / upsert / parquet writers (§2.2)
  operators/    cdc predicates, dedup suite, join suite, window aggs (§2.3-2.8)
  functions/    scalar/table functions: tokenizer, dates, text metrics (§2.9-2.10)
  queries/      the oracle-checked query catalog (driver contract)
  streaming/    Structured Streaming lifts of the 17 pipelines (§2.11)
  llm/          LLM-data-pipeline extras: dedup, similarity, multimodal

Worker code: Spark's Python workers may run without this package on
their import path (a driver that adds it to its own ``sys.path`` only),
so the package is registered with cloudpickle BY VALUE below, once, for
every submodule. A function shipped to a worker (a ``mapInPandas``
kernel, an ``applyInPandasWithState`` function, an RDD closure) may
therefore call the package's module-level functions: they travel with
the task, code included. The rule: a shipped function names package
functions and constants directly, never a package module object
(``mm.decode_png``) — a module travels with its whole namespace,
session-stage locks included, and fails at pickle time; nothing it
reaches may hold a lock, a session or a DataFrame; and it must not
import the package when it runs on the worker.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])
