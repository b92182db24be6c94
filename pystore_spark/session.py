"""SparkSession factory with engine defaults.

Defaults chosen for correctness + scale:

* UTC session timezone → deterministic timestamp semantics (the
  reference normalizes tz-aware data to UTC at write:
  pystore/collection.py:365-370).
* AQE on → runtime shuffle-partition coalescing and skew-join
  handling at cluster scale.
* ``spark.sql.legacy.parquet.nanosAsLong`` → lets Spark scan Parquet
  TIMESTAMP(NANOS) columns (written by pandas/pyarrow ns data) as long
  nanoseconds, which the source layer converts to TimestampType.
  Without it the scan fails with PARQUET_TYPE_ILLEGAL.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pystore_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        configure(active)
        return active
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 100k-row Arrow batches: ~10× fewer batch boundaries than the
        # 10k default — faster toArrow/toPandas collects and fuller
        # vectorization in mapInPandas kernels at ~tens of MB per batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # required for format("pystore")'s pushFilters reader
        # (datasource.py); Spark refuses to plan a pushdown-capable
        # Python data source while this is off
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .getOrCreate()
    )
    return spark


#: sessions already configured this process — configure() is called
#: from every load_table()/entry() so hot query paths hit it hundreds
#: of times per bench run; the conf round-trips and the data-source
#: re-registration are pure py4j overhead after the first call
#: (r12 optimization). WeakSet: a stopped session's entry drops with
#: the object, and a NEW session object (even with the same confs)
#: configures fresh.
_CONFIGURED: "weakref.WeakSet" = weakref.WeakSet()

#: the runtime confs configure() pins, in the order it sets them
_PINNED_CONFS = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # int64 µs adjusted-to-UTC — the one parquet timestamp encoding the
    # Spark writer, the Arrow writer (arrow_path.py), and both readers
    # agree on; INT96 (the default) breaks Arrow-side schema unification
    # when an item mixes Spark- and Arrow-written files
    ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
    ("spark.sql.execution.arrow.maxRecordsPerBatch", "100000"),
)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally created
    session (the driver hands us its own SparkSession). Idempotent
    and memoized per session object — repeat calls are a set lookup
    plus one read of each pinned conf. The memo stays self-healing:
    if external code mutates a pinned conf after the first call (the
    session timeZone, or ``nanosAsLong``, which the scan schema memo
    in utils.read_parquet keys on), or the conf bridge fails, the
    fast path drops the memo and falls through to full
    reconfiguration instead of computing on the wrong settings."""
    if spark in _CONFIGURED:
        try:
            if all(spark.conf.get(k) == v for k, v in _PINNED_CONFS):
                return spark
        except Exception:
            pass  # conf bridge failed — re-assert below
        _CONFIGURED.discard(spark)
    for k, v in _PINNED_CONFS:
        spark.conf.set(k, v)
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static conf on some builds; best-effort
    try:
        # make format("pystore") available everywhere the engine runs
        # (datasource.py); re-registration is a harmless replace
        from pystore_spark import datasource

        datasource.register(spark)
    except Exception:
        pass  # Python Data Source API needs Spark 4; best-effort
    try:
        _CONFIGURED.add(spark)
    except TypeError:
        pass  # non-weakref-able session stub (tests/Connect mocks)
    return spark
