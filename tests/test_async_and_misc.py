"""Async wrappers, chunked reads, CSV source, catalog exceptions,
metadata cache — remaining reference-surface parity."""

from __future__ import annotations

import asyncio

import pandas as pd
import pytest

import pystore_spark as ps
from pystore_spark.async_operations import async_pystore
from pystore_spark.exceptions import (
    CollectionExistsError,
    CollectionNotFoundError,
    ItemExistsError,
    ItemNotFoundError,
    PyStoreError,
    ValidationError,
)


def _frame(n=5, v=0.0):
    idx = pd.date_range("2024-01-01", periods=n, freq="D")
    return pd.DataFrame({"value": [v + i for i in range(n)]}, index=idx)


def test_async_write_read_roundtrip(test_collection):
    async def run():
        async with async_pystore(test_collection) as ac:
            await ac.write("a", _frame())
            out = await ac.read("a")
            items = await ac.list_items()
            return out, items

    out, items = asyncio.run(run())
    assert len(out) == 5
    assert items == ["a"]


def test_async_batch_and_parallel_append(test_collection):
    async def run():
        async with async_pystore(test_collection) as ac:
            await ac.write_batch({"x": _frame(), "y": _frame(v=10)})
            await ac.parallel_append(
                {"x": _frame(v=100).iloc[:2], "y": _frame(v=200).iloc[:2]}
            )
            return await ac.read_batch(["x", "y"])

    out = asyncio.run(run())
    assert len(out["x"]) == 5  # 2 overlapping keys upserted
    assert out["x"]["value"].iloc[0] == 100.0


def test_exception_taxonomy(test_store, test_collection):
    assert issubclass(ItemNotFoundError, PyStoreError)
    with pytest.raises(ItemNotFoundError):
        test_collection.delete_item("missing")
    with pytest.raises(CollectionNotFoundError):
        test_store.delete_collection("missing")
    test_collection.write("a", _frame())
    with pytest.raises(ItemExistsError):
        test_collection.write("a", _frame())
    test_store.collection("c2")
    with pytest.raises(CollectionExistsError):
        test_store.create_collection("c2")
    with pytest.raises(ValidationError):
        test_collection.write("bad_input", 42)  # unsupported type


def test_metadata_cache_ttl(test_collection, monkeypatch):
    test_collection.write("a", _frame(), metadata={"v": 1})
    m1 = test_collection.get_item_metadata("a")
    assert m1["v"] == 1
    # mutate sidecar behind the cache's back; cached copy served
    from pystore_spark import utils

    meta = utils.read_metadata(test_collection._item_path("a"))
    meta["v"] = 2
    utils.write_metadata(test_collection._item_path("a"), meta)
    assert test_collection.get_item_metadata("a")["v"] == 1
    assert test_collection.get_item_metadata("a", use_cache=False)["v"] == 2


def test_read_csv_source(spark, tmp_path):
    csv = tmp_path / "data.csv"
    csv.write_text("ts,value\n2024-01-01,1.5\n2024-01-02,2.5\n")
    df = ps.read_csv(spark, str(csv), index_col="ts", index_name="index")
    out = df.toPandas()
    assert list(out.columns) == ["index", "value"]
    assert len(out) == 2


def test_chunked_read_iterator(test_collection):
    test_collection.write("big", _frame(100))
    it = test_collection.item("big")
    total = 0
    for row in it.data.toLocalIterator():
        total += 1
    assert total == 100


def test_item_head_tail_index(test_collection):
    test_collection.write("a", _frame(10))
    assert len(test_collection.item("a").head(3)) == 3
    tail = test_collection.item("a").tail(3)
    assert len(tail) == 3
    assert tail.index.is_monotonic_increasing
    last = test_collection.index("a", last=True)
    assert last == pd.Timestamp("2024-01-10")


def test_write_threaded(test_collection):
    t = test_collection.write_threaded("bg", _frame())
    test_collection.wait_for_tasks()
    assert test_collection.item("bg").to_pandas().shape[0] == 5


def test_rebalance_partitions(test_collection):
    test_collection.write("a", _frame(50))
    n = test_collection.rebalance_partitions("a", target_size_mb=128)
    assert n >= 1
    out = test_collection.item("a").to_pandas()
    assert len(out) == 50
    meta = test_collection.item("a").metadata
    assert "_partitions" in meta and "_partition_strategy" in meta


def test_read_in_chunks(test_collection):
    test_collection.write("chunky", _frame(95))
    chunks = list(test_collection.read_in_chunks("chunky", chunk_size=30))
    assert [len(c) for c in chunks] == [30, 30, 30, 5]
    assert sum(len(c) for c in chunks) == 95


def test_item_size_bytes(test_collection):
    test_collection.write("sz", _frame(100))
    assert test_collection.item_size_bytes("sz") > 0


def test_optimize_item_dtypes(test_collection):
    df = _frame(10)
    df["count"] = pd.Series(range(10), index=df.index, dtype="int64")
    test_collection.write("opt", df)
    casts = test_collection.optimize_item_dtypes("opt")
    assert casts.get("count") == "tinyint"
    out = test_collection.item("opt").to_pandas()
    assert out["count"].dtype.name == "int8"
    assert len(out) == 10


def test_async_store_close_shuts_shared_pool(test_store, test_collection):
    """AsyncStore.close shuts the ONE executor shared by all its
    collection wrappers (reference pystore/async_operations.py:147-174)."""
    import asyncio

    import pandas as pd

    from pystore_spark.async_operations import AsyncStore

    astore = AsyncStore(test_store)
    acol = astore.collection(test_collection.collection)
    assert acol._pool is astore._pool  # shared, not per-collection

    df = pd.DataFrame(
        {"v": [1.0, 2.0]},
        index=pd.date_range("2024-01-01", periods=2),
    )
    asyncio.run(acol.write("async_close_item", df))
    astore.close()
    with pytest.raises(RuntimeError):  # pool no longer accepts work
        asyncio.run(acol.write("async_close_item2", df))
    # per-collection wrappers with their own pool are unaffected
    from pystore_spark.async_operations import AsyncCollection

    own = AsyncCollection(test_collection)
    asyncio.run(own.write("async_own_pool", df))
    own.close()


def test_memory_info_and_monitor():
    from pystore_spark import memory as mem

    info = mem.get_memory_info()
    assert info["total_gb"] > 0
    assert 0.0 <= info["used_percent"] <= 1.0
    assert info["process_rss_gb"] > 0
    assert mem.check_memory_usage() == pytest.approx(
        mem.get_memory_info(), rel=0.5
    )
    with mem.MemoryMonitor("test") as mon:
        _ = [0] * 1000
    assert mon.delta_gb is not None


def test_executor_memory_report(spark):
    from pystore_spark.memory import executor_memory_report

    report = executor_memory_report(spark)
    assert len(report) >= 1  # local mode: the driver-executor
    row = report[0]
    assert row["max_memory_gb"] > 0
    assert 0.0 <= row["used_percent"] <= 1.0


def test_memory_efficient_read_restores_conf(spark):
    from pystore_spark.memory import memory_efficient_read

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    with memory_efficient_read(spark, max_partition_bytes=4 << 20):
        assert spark.conf.get(key) in ("4194304", str(4 << 20))
    assert spark.conf.get(key) == before


def test_async_maintenance_surface(test_collection):
    import asyncio

    import numpy as np
    import pandas as pd

    from pystore_spark.async_operations import AsyncCollection

    df = pd.DataFrame(
        {"v": np.arange(2_000.0)},
        index=pd.date_range("2024-01-01", periods=2_000, freq="min"),
    )
    test_collection.write("am", df)

    async def go():
        ac = AsyncCollection(test_collection)
        try:
            stats = await ac.analyze("am")
            comp = await ac.compact("am")
            maint = await ac.maintain("am")
            return stats, comp, maint
        finally:
            ac.close()

    stats, comp, maint = asyncio.run(go())
    assert stats["n_rows"] == 2_000
    assert comp["buckets_compacted"] >= 0
    assert "am" in maint and "gc_removed" in maint["am"]


def test_store_maintain_runs_over_all_collections(test_store, spark):
    import pandas as pd

    a = test_store.collection("col_a")
    b = test_store.collection("col_b")
    a.write("x", pd.DataFrame({"v": [1.0, 2.0]},
                              index=pd.DatetimeIndex(
                                  ["2024-01-01", "2024-01-02"])))
    b.write("y", pd.DataFrame({"v": [3.0]},
                              index=pd.DatetimeIndex(["2024-01-01"])))
    res = test_store.maintain(refresh_rollups=False)
    assert set(res) >= {"col_a", "col_b"}
    assert "x" in res["col_a"] and "y" in res["col_b"]
    sub = test_store.maintain(collections=["col_a"])
    assert set(sub) == {"col_a"}


def test_read_jsonl_roundtrip_and_index_tag(test_collection, spark):
    """JSONL source: explicit-schema read (no inference pass), gzip
    handled by extension, the index tag flows into write() like
    read_csv's, and corrupt lines surface instead of vanishing."""
    import gzip
    import json
    import tempfile
    from pathlib import Path

    from pystore_spark.sources import read_jsonl

    with tempfile.TemporaryDirectory() as tmp:
        p = Path(tmp) / "corpus.jsonl.gz"
        with gzip.open(p, "wt") as f:
            for i in range(5):
                f.write(json.dumps(
                    {"doc_id": i, "text": f"document number {i}"}
                ) + "\n")
        df = read_jsonl(
            spark, str(p), index_col="doc_id",
            schema="doc_id LONG, text STRING",
        )
        assert df.count() == 5
        c = test_collection
        c.write("jl", df.drop("_corrupt_record"))  # index from the tag
        out = c.item("jl").to_pandas()
        assert out.index.name == "doc_id" and len(out) == 5

        # ADVICE r5: an explicit user schema must NOT turn corrupt
        # lines into silent all-null rows — the reader auto-appends
        # the corrupt-record column under PERMISSIVE
        bad = Path(tmp) / "bad.jsonl"
        bad.write_text('{"doc_id": 1, "text": "ok"}\nnot json at all\n')
        got = read_jsonl(
            spark, str(bad), schema="doc_id LONG, text STRING"
        )
        assert "_corrupt_record" in got.columns  # auto-appended
        rows = got.collect()
        assert sum(r["_corrupt_record"] is not None for r in rows) == 1
        # opt-out keeps the user schema byte-for-byte
        plain = read_jsonl(
            spark, str(bad), schema="doc_id LONG, text STRING",
            corrupt_col=None,
        )
        assert plain.columns == ["doc_id", "text"]


def test_async_round6_surface(spark, test_collection):
    """The round-6 derived-state APIs ride the same pool delegation."""
    import asyncio

    import pandas as pd

    from pystore_spark.async_operations import AsyncCollection

    ac = AsyncCollection(test_collection)

    async def flow():
        df = pd.DataFrame({
            "ts": pd.date_range("2024-01-01", periods=12, freq="h"),
            "kind": ["a", "b"] * 6,
            "v": [float(i) for i in range(12)],
        })
        await ac.write("ev6", df, index_col="ts", freq="D")
        await ac.create_matview(
            "mv6", "SELECT kind, count(*) AS n FROM ev6 GROUP BY kind"
        )
        st = await ac.matview_status("mv6")
        assert st["fresh"]
        hist = await ac.history("ev6")
        assert hist[-1]["current"]
        ch = await ac.changes("ev6", since=hist[-1]["version"])
        assert ch.count() == 0
        return st

    asyncio.run(flow())
    ac.close()


def test_configure_self_heals_conf_drift(spark):
    """ADVICE r12: configure() memoization must stay self-healing —
    the fast path verifies one sentinel conf and falls through to
    full reconfiguration when external code mutated it."""
    from pystore_spark.session import configure

    configure(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set(
            "spark.sql.session.timeZone", "America/New_York"
        )
        configure(spark)  # memo hit must detect drift and re-assert
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "UTC"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_configure_restores_every_pinned_conf(spark):
    """The memoized fast path checks every pinned conf, not only the
    timezone: the Parquet scan schema memo keys on ``nanosAsLong``."""
    from pystore_spark.session import configure

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    configure(spark)
    try:
        spark.conf.set(conf, "false")
        configure(spark)
        assert spark.conf.get(conf) == "true"
    finally:
        spark.conf.set(conf, "true")


def test_distrust_filters_walks_plan_nodes(spark):
    """estimate_size_bytes(distrust_filters=True) matches plan nodes,
    not the rendered plan text: an alias or literal reading "Filter x"
    / "Join y" stays trusted, a real Filter or Join does not."""
    from pyspark.sql import functions as F

    from pystore_spark.partition import estimate_size_bytes

    named = (
        spark.range(100)
        .withColumn("s", F.lit("Filter x"))
        .withColumnRenamed("id", "Join y")
    )
    assert estimate_size_bytes(named, distrust_filters=True) is not None
    assert (
        estimate_size_bytes(spark.range(100).filter("id > 3"), True)
        is None
    )
    joined = spark.range(10).join(spark.range(10), "id")
    assert estimate_size_bytes(joined, distrust_filters=True) is None
    assert estimate_size_bytes(joined) is not None
