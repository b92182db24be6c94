"""External sources: CSV reader + the synthetic-benchmark table loader.

``read_csv`` mirrors the reference's CSV → indexed frame helper
(pystore/utils.py:36-62) but returns a lazy Spark DataFrame.

``load_table``/``load_tables`` read the driver's test parquet,
normalizing Parquet TIMESTAMP(NANOS) columns (scanned as long ns under
``spark.sql.legacy.parquet.nanosAsLong``) to µs TimestampType, which
matches DuckDB's read of the same files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pystore_spark.session import configure
from pystore_spark.utils import read_parquet

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# columns that are TIMESTAMP(NANOS) in the synthetic data
_NS_TS_COLS = {"events": ["ts"]}


# Column-metadata key marking the designated index of a Spark frame;
# Collection._prepare_input reads it so a read_csv(...)-sourced write
# is index-keyed without the caller restating index_col (the reference
# sets the dask index directly: pystore/utils.py:36-62).
INDEX_META_KEY = "pystore_spark.index"


def read_csv(
    spark: SparkSession,
    urlpath: str,
    index_col: str | None = None,
    index_name: str | None = None,
    header: bool = True,
    infer_schema: bool = True,
    **options: str,
) -> DataFrame:
    df = (
        spark.read.option("header", str(header).lower())
        .option("inferSchema", str(infer_schema).lower())
        .options(**options)
        .csv(urlpath)
    )
    if index_col is not None:
        if index_name and index_col != index_name:
            df = df.withColumnRenamed(index_col, index_name)
        df = df.withMetadata(index_name or index_col, {INDEX_META_KEY: True})
    return df


def read_jsonl(
    spark: SparkSession,
    urlpath: str,
    index_col: str | None = None,
    schema: str | None = None,
    multiline: bool = False,
    corrupt_col: str | None = "_corrupt_record",
    **options: str,
) -> DataFrame:
    """JSON-Lines reader — the interchange format pretraining corpora
    actually arrive in (one JSON document per line; ``.jsonl`` /
    ``.jsonl.gz``, compression auto-detected by extension). Pass an
    explicit DDL ``schema`` ("doc_id LONG, text STRING, meta ...") to
    skip the inference pass — at corpus scale inference is a full
    extra read of the data.

    Corrupt-line surfacing: under Spark's default PERMISSIVE mode a
    user-supplied schema makes unparseable lines SILENT all-null rows
    unless the schema also carries the corrupt-record column — so when
    a ``schema`` is given this reader auto-appends ``corrupt_col``
    (default ``_corrupt_record``) and sets
    ``columnNameOfCorruptRecord``, keeping bad lines visible (feed
    them to the encoding-health gate rather than silently dropping;
    the column is NULL for clean lines — drop it before writing if
    unwanted). Pass ``corrupt_col=None`` to opt out, or
    ``mode="FAILFAST"`` to raise on the first bad line instead (the
    column is then omitted). Schema-inferred reads keep Spark's
    native behavior (the column appears only when corrupt lines
    exist).

    ``index_col`` tags the designated key column exactly like
    :func:`read_csv`, so ``collection.write(item, read_jsonl(...))``
    is index-keyed without restating it."""
    reader = spark.read.options(**options)
    if schema is not None:
        mode = str(options.get("mode", "PERMISSIVE")).upper()
        if (
            corrupt_col
            and mode == "PERMISSIVE"
            and corrupt_col not in schema
        ):
            schema = f"{schema}, {corrupt_col} STRING"
            reader = reader.option(
                "columnNameOfCorruptRecord", corrupt_col
            )
        reader = reader.schema(schema)
    if multiline:
        reader = reader.option("multiLine", "true")
    df = reader.json(urlpath)
    if index_col is not None:
        df = df.withMetadata(index_col, {INDEX_META_KEY: True})
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NS_TS_COLS.get(name, []):
        if c in df.columns and dict(df.dtypes).get(c) == "bigint":
            # long ns → µs timestamp (same truncation DuckDB applies);
            # integer division — ns epochs exceed 2^53, so FP division
            # would round the low microsecond digit
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
    # parquet timestamps written without UTC adjustment surface as
    # TIMESTAMP_NTZ, which Spark refuses to cast to BIGINT or feed to
    # unix_micros; with the session tz pinned to UTC the LTZ cast is
    # epoch-identical to DuckDB's naive-timestamp reading, so normalize
    # every query to one timestamp type here
    for c, dt in df.dtypes:
        if dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
