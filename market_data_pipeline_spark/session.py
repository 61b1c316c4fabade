"""SparkSession factory with the engine's canonical configuration.

The reference pins Asia/Ho_Chi_Minh for market data
(/root/reference/src/extractors/price_extractor.py:15); for the driver's
DuckDB-oracle comparison we pin UTC instead so naive parquet timestamps hash
identically on both engines (SURVEY.md §7.3 "Timezone"). Business-zone
conversions are explicit ``from_utc_timestamp`` calls where needed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# directory holding the package, so Python workers can import ``pyworker``
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "market_data_pipeline_spark") -> SparkSession:
    """Build (or reuse) the canonical session.

    Scale notes (tuned for local[32] testing, shaped for a real cluster):
    - AQE on: runtime partition coalescing + skew-join splitting replace the
      reference's hand-tuned thread pool (src/pipeline.py:217-243).
    - shuffle.partitions is pinned at 32 (AQE coalesces small stages); on a
      1000-executor cluster this is overridden by AQE target sizes anyway.
    - ANSI off: the reference's semantics are ``errors='coerce'`` (bad cast ->
      null, /0 -> null), which is classic-Spark and matches DuckDB doubles.
    - Arrow on: every pandas-UDF hop is vectorized.
    - Python workers fork from ``pyworker`` instead of ``pyspark.daemon``.
      Before each task the stock worker calls ``importlib.invalidate_caches()``,
      and on CPython < 3.13 every zip importer on the worker path re-parses
      its archive's whole directory in pure Python: 16 importers (12 over
      ``pyspark.zip``, 2 each over the spark-core jar and py4j), 0.15-0.25 s
      of fixed cost per Python task on 3.11, ~40 % of a ``quote_stream``
      micro-batch. ``pyworker`` re-reads an archive only when its mtime or
      size changed. The daemon module is a static conf, so sessions we only
      ``tune_existing`` keep the stock daemon; ``executorEnv.PYTHONPATH``
      lets workers import it whatever the driver's cwd. Drop both confs once
      the engine requires CPython >= 3.13, whose zipimport reads lazily.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # INT64-micros parquet timestamps (not INT96): the modern physical
        # type, and the one whose footers carry min/max statistics — the
        # versioned table format reads commit stats from footers (r9), and
        # INT96 column chunks publish no usable bounds, which would demote
        # timestamp file-skipping to "never prunes"
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        # single-node: every task is node-local; a nonzero locality wait
        # only adds scheduler latency (on a real cluster leave the default)
        .config("spark.locality.wait", "0s")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.python.daemon.module", "market_data_pipeline_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable knobs to a session we didn't create.

    The driver hands ``entry(spark)``/``queries()`` an existing session;
    static confs (master, memory) are out of our hands, but correctness-
    critical ones (timezone, ANSI) are runtime-settable and must be pinned.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # runtime-settable; see get_spark — footer commit stats need INT64
    # timestamps, INT96 chunks publish no bounds
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    return spark
