"""dbt_jaffleshop_spark — a PySpark-native analytics engine.

A brand-new engine providing the query and data-processing capabilities of
the dbt "jaffle-shop" reference project (see SURVEY.md), re-expressed
Spark-first:

* ``session``    — SparkSession factory (UTC, AQE, tuned shuffle).
* ``sources``    — source/seed registry over parquet & CSV with explicit
                   schemas (reference: models/staging/__sources.yml).
* ``functions``  — the expression library (the analogue of the reference's
                   Jinja macro layer, macros/*.sql).
* ``models``     — the 16-model pipeline DAG (staging views + mart tables +
                   date spine), role-mapped onto the TPC-H-ish testdata.
* ``plans``      — DAG registry, topological scheduling and the
                   materialization policy (view vs table vs cache).
* ``testing``    — the declarative data-test operators (unique / not_null /
                   accepted_values / relationships / expression_is_true)
                   and the fixture-injection unit-test runner.
* ``semantic``   — semantic models + MetricQuery builder (simple / ratio /
                   derived / cumulative metrics, saved queries).
* ``llm``        — beyond-reference large-scale training-data operators:
                   dedup, similarity search, text analysis, multimodal.
* ``streaming``  — Structured Streaming daily-summary (beyond-reference).

Everything here is built only on public Apache Spark / PySpark APIs.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Python workers cannot import this package: only the Spark driver has
# it on its path (`__spark_entry__.py` puts it there and may run from
# any cwd, with a session not built by `session.get_spark`).
# Registering the package makes cloudpickle ship every package function,
# class and constant a worker function uses by value, so mapInPandas /
# applyInPandasWithState take plain module functions.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
