"""The Parquet scan constructor (utils.read_parquet): a scan built on
the memoized footer schema must equal Spark's own inferring read --
same schema, same rows, same partition columns -- on every item
shape, and must skip the inference job when the schema source file is
already known."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pystore_spark import config, manifest as mf, utils


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _live(c, name):
    man = utils.read_manifest(c._item_path(name))
    base = mf.base_dir(c._item_path(name), man)
    return [str(base / f) for f in man["files"]], base


def _assert_same_scan(spark, paths, base):
    for order in (paths, paths[::-1]):
        want = spark.read.option("basePath", str(base)).parquet(*order)
        got = utils.read_parquet(spark, order, base)
        assert got.schema == want.schema
        assert got.columns == want.columns
        assert _rows(got) == _rows(want)


def _frame(start, n, **extra):
    idx = pd.date_range(start, periods=n, freq="D")
    cols = {"v": np.arange(n, dtype="float64"), "k": np.arange(n) % 7}
    cols.update(extra)
    return pd.DataFrame(cols, index=idx)


def _time_item(c):
    c.write("it", _frame("2024-01-01", 120), freq="M")


def _size_item(c):
    c.write("it", _frame("2024-01-01", 50), npartitions=3)


def _dv_item(c):
    _time_item(c)
    c.delete_where("it", [[("v", "<", 40.0)]], mode="dv")


def _mixed_item(c):
    # Arrow-written first (the driver tier), then a Spark-written append
    _time_item(c)
    old = config.DRIVER_PATH_MAX_BYTES
    config.DRIVER_PATH_MAX_BYTES = 0
    try:
        c.append("it", _frame("2024-06-01", 60))
    finally:
        config.DRIVER_PATH_MAX_BYTES = old


def _evolved_item(c):
    # a later bucket gains a column: the files disagree on the schema
    _time_item(c)
    c.append(
        "it",
        _frame("2024-09-01", 40, extra=np.ones(40)),
        validate_schema=False,
    )


@pytest.mark.parametrize(
    "build",
    [_time_item, _size_item, _dv_item, _mixed_item, _evolved_item],
    ids=["time", "size", "dv", "mixed", "evolved"],
)
def test_scan_matches_inferring_read(test_collection, spark, build):
    build(test_collection)
    paths, base = _live(test_collection, "it")
    assert len(paths) > 1
    _assert_same_scan(spark, paths, base)
    if build is not _size_item:
        assert all("_pb=" in p for p in paths)
    if build is _dv_item:
        man = utils.read_manifest(test_collection._item_path("it"))
        from pystore_spark import dv

        mask = dv.mask_frame(spark, test_collection._item_path("it"), man)
        assert mask.count() == 40
        assert mask.schema.simpleString() == "struct<file:string,pos:bigint>"
    if build is _mixed_item:
        writers = {
            pq.ParquetFile(p).metadata.created_by.split()[0] for p in paths
        }
        assert writers == {"parquet-cpp-arrow", "parquet-mr"}
    if build is _evolved_item:
        schemas = {tuple(pq.read_schema(p).names) for p in paths}
        assert len(schemas) > 1
    # the engine's own read still agrees with the plain scan
    data = test_collection.item("it").data
    assert data.count() == test_collection.item("it").to_pandas().shape[0]


def test_schema_comes_from_the_smallest_path(spark, tmp_path):
    """Spark infers from the lexicographically smallest file, not the
    first argument: _pb=1/z.parquet wins over _pb=2/a.parquet."""
    (tmp_path / "_pb=2").mkdir()
    (tmp_path / "_pb=1").mkdir()
    a = str(tmp_path / "_pb=2" / "a.parquet")
    z = str(tmp_path / "_pb=1" / "z.parquet")
    pq.write_table(pa.table({"x": [1, 2], "onlyA": ["a", "b"]}), a)
    pq.write_table(pa.table({"x": [3], "onlyZ": [1.5]}), z)
    for order in ([a, z], [z, a]):
        got = utils.read_parquet(spark, order, tmp_path)
        assert got.columns == ["x", "onlyZ", "_pb"]
    _assert_same_scan(spark, [a, z], tmp_path)


def test_rewritten_source_file_is_picked_up(spark, tmp_path):
    from pystore_spark.sources import load_table

    src = tmp_path / "custom.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), src)
    assert load_table(spark, str(tmp_path), "custom").columns == ["a"]
    pq.write_table(
        pa.table({"a": [1.5, 2.5, 3.5], "b": ["x", "y", "z"]}), src
    )
    df = load_table(spark, str(tmp_path), "custom")
    assert df.schema == spark.read.parquet(str(src)).schema
    assert df.columns == ["a", "b"]
    assert df.count() == 3


def test_conf_flip_uses_its_own_memo_entry(spark, tmp_path):
    """``nanosAsLong`` is part of the memo key: with it off, the scan
    fails exactly like Spark's inferring read instead of reusing the
    bigint schema memoized with it on."""
    from pyspark.errors import AnalysisException

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    path = str(tmp_path / "n.parquet")
    pq.write_table(
        pa.table({"t": pa.array([1, 2], pa.timestamp("ns"))}), path
    )
    assert spark.conf.get(conf) == "true"
    assert utils.read_parquet(spark, path).schema.simpleString() == (
        "struct<t:bigint>"
    )
    spark.conf.set(conf, "false")
    try:
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path)
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            utils.read_parquet(spark, path)
    finally:
        spark.conf.set(conf, "true")
    keys = [k for k in utils._SCHEMA_MEMO if k[0] == path]
    assert len(keys) == 1 and "true" in keys[0][-1]


def test_directory_and_partition_key_collisions_fall_back(spark, tmp_path):
    d = tmp_path / "_pb=1"
    d.mkdir()
    # a data column named like the hive partition key of its own path
    pq.write_table(pa.table({"_pb": ["in-file"], "x": [1]}), d / "f.parquet")
    path = str(d / "f.parquet")
    want = spark.read.option("basePath", str(tmp_path)).parquet(path)
    got = utils.read_parquet(spark, [path], tmp_path)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    # a directory: Spark's own listing and inference
    assert utils._footer_schema(spark, [str(d)]) is None
    assert _rows(utils.read_parquet(spark, d)) == _rows(
        spark.read.parquet(str(d))
    )


def test_rebuilding_item_data_starts_no_spark_job(test_collection, spark):
    test_collection.write("it", _frame("2024-01-01", 120), freq="M")
    test_collection.item("it").data  # the first scan fills the memo
    sc = spark.sparkContext
    group = f"scan-schema-{os.getpid()}"
    sc.setJobGroup(group, "rebuild item data")
    try:
        df = test_collection.item("it").data
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() == 120
