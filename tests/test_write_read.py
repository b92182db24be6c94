"""Write/read round-trip — tier-1 golden equality (reference test
strategy: tests/test_write_read.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import pystore_spark as ps
from pystore_spark.exceptions import ItemExistsError, ItemNotFoundError


def test_write_read_roundtrip(test_collection, sample_data):
    test_collection.write("item1", sample_data, metadata={"source": "unit"})
    out = test_collection.item("item1").to_pandas()
    pd.testing.assert_frame_equal(
        out, sample_data.rename_axis("index"), check_freq=False
    )


def test_write_existing_raises(test_collection, sample_data):
    test_collection.write("item1", sample_data)
    with pytest.raises(ItemExistsError):
        test_collection.write("item1", sample_data)
    test_collection.write("item1", sample_data, overwrite=True)  # ok


def test_missing_item_raises(test_collection):
    with pytest.raises(ItemNotFoundError):
        test_collection.item("nope")


def test_metadata_roundtrip(test_collection, sample_data):
    test_collection.write("item1", sample_data, metadata={"symbol": "AAPL", "n": 3})
    meta = test_collection.item("item1").metadata
    assert meta["symbol"] == "AAPL"
    assert meta["n"] == 3
    assert "_updated" in meta


def test_filters_and_columns(test_collection, sample_data):
    test_collection.write("item1", sample_data)
    it = test_collection.item(
        "item1", filters=[("category", "==", "A")], columns=["value1"]
    )
    out = it.to_pandas()
    expected = sample_data[sample_data["category"] == "A"][["value1"]]
    assert len(out) == len(expected)
    assert list(out.columns) == ["value1"]
    np.testing.assert_allclose(
        out["value1"].to_numpy(), expected["value1"].to_numpy()
    )


def test_filters_dnf_or(test_collection, sample_data):
    test_collection.write("item1", sample_data)
    out = test_collection.item(
        "item1",
        filters=[[("category", "==", "A")], [("category", "==", "B")]],
    ).to_pandas()
    expected = sample_data[sample_data["category"].isin(["A", "B"])]
    assert len(out) == len(expected)


def test_filters_in_notin(test_collection, sample_data):
    test_collection.write("item1", sample_data)
    n_in = len(
        test_collection.item(
            "item1", filters=[("category", "in", ["A", "B"])]
        ).to_pandas()
    )
    n_out = len(
        test_collection.item(
            "item1", filters=[("category", "not in", ["A", "B"])]
        ).to_pandas()
    )
    assert n_in + n_out == len(sample_data)


def test_index_range_filter(test_collection, sample_data):
    test_collection.write("item1", sample_data)
    cut = pd.Timestamp("2024-02-01")
    out = test_collection.item(
        "item1", filters=[("index", ">=", cut)]
    ).to_pandas()
    assert len(out) == (sample_data.index >= cut).sum()
    assert out.index.min() >= cut


def test_nanosecond_roundtrip(test_collection, sample_data_nanosecond):
    test_collection.write("ns_item", sample_data_nanosecond)
    out = test_collection.item("ns_item").to_pandas()
    assert len(out) == len(sample_data_nanosecond)
    pd.testing.assert_index_equal(
        out.index, sample_data_nanosecond.index.rename("index")
    )


def test_epochdate_roundtrip(test_collection, sample_data):
    test_collection.write("epoch_item", sample_data, epochdate=True)
    out = test_collection.item("epoch_item").to_pandas()
    assert isinstance(out.index, pd.DatetimeIndex)
    assert len(out) == len(sample_data)


@pytest.mark.parametrize("engine", ["arrow", "spark"])
@pytest.mark.parametrize("epochdate", [False, True])
def test_non_ns_datetime_units_roundtrip(
    test_collection, monkeypatch, engine, epochdate
):
    """µs/ms datetimes (what pyarrow's to_pandas returns) and µs
    timedeltas must be stored as their real instants, not their
    own-unit integers taken as ns (which read back in 1970)."""
    from pystore_spark import config

    if engine == "spark":
        monkeypatch.setattr(config, "DRIVER_PATH_MAX_BYTES", 0)
    idx = pd.DatetimeIndex(
        ["2024-01-02 03:04:05.123456", "2024-01-03 00:00:00.000001",
         "2024-01-04"]
    ).as_unit("us")
    df = pd.DataFrame(
        {
            "v": [1.0, 2.0, 3.0],
            "ts_ms": pd.DatetimeIndex(
                ["2020-01-01 00:00:00.001", "2020-01-02",
                 "2020-01-03 00:00:00.5"]
            ).as_unit("ms"),
            "ts_tz": idx.tz_localize("America/New_York"),
            "td": pd.to_timedelta([1, 2, 1500], unit="us").as_unit("us"),
        },
        index=idx,
    )
    test_collection.write("units", df, epochdate=epochdate)
    out = test_collection.item("units").to_pandas()
    want = df.rename_axis("index")
    want.index = want.index.as_unit("ns")
    for name in ("ts_ms", "ts_tz", "td"):
        want[name] = want[name].dt.as_unit("ns")
    pd.testing.assert_frame_equal(out, want, check_freq=False)


def test_empty_frame_with_schema(test_collection):
    empty = pd.DataFrame({"value": pd.Series(dtype="float64"),
                          "timestamp": pd.Series(dtype="datetime64[ns]")})
    test_collection.write("empty_item", empty)
    out = test_collection.item("empty_item").to_pandas()
    assert list(out.columns) == ["value", "timestamp"]
    assert len(out) == 0


def test_custom_index_name(test_collection):
    df = pd.DataFrame(
        {"v": [1.0, 2.0]},
        index=pd.DatetimeIndex(
            ["2024-01-01", "2024-01-02"], name="custom_index_name"
        ),
    )
    test_collection.write("named_idx", df)
    out = test_collection.item("named_idx").to_pandas()
    assert out.index.name == "custom_index_name"


def test_sorted_invariant_on_unsorted_write(test_collection):
    idx = pd.DatetimeIndex(["2024-01-03", "2024-01-01", "2024-01-02"])
    df = pd.DataFrame({"v": [3.0, 1.0, 2.0]}, index=idx)
    test_collection.write("unsorted", df)
    out = test_collection.item("unsorted").to_pandas()
    assert out.index.is_monotonic_increasing
    assert out.loc[pd.Timestamp("2024-01-01"), "v"] == 1.0


def test_spark_dataframe_input(test_collection, spark):
    sdf = spark.range(5).selectExpr(
        "timestamp_seconds(1704067200 + id*86400) as index", "id * 1.5 as v"
    )
    test_collection.write("spark_item", sdf)
    out = test_collection.item("spark_item").to_pandas()
    assert len(out) == 5
    assert list(out.columns) == ["v"]


def test_store_catalog(spark, temp_store_path):
    st = ps.store("s1", spark=spark)
    st.collection("c1").write(
        "i1",
        pd.DataFrame({"v": [1.0]}, index=pd.DatetimeIndex(["2024-01-01"])),
    )
    assert "s1" in ps.list_stores()
    assert "c1" in st.list_collections()
    assert st.collection("c1").items == ["i1"]
    st.collection("c1").delete_item("i1")
    assert st.collection("c1").items == []
    st.delete_collection("c1")
    assert "c1" not in st.list_collections()
    ps.delete_store("s1")
    assert "s1" not in ps.list_stores()


def test_list_items_metadata_filter(test_collection, sample_data):
    test_collection.write("a", sample_data, metadata={"kind": "x"})
    test_collection.write("b", sample_data, metadata={"kind": "y"})
    assert test_collection.list_items(kind="x") == ["a"]
    assert sorted(test_collection.list_items()) == ["a", "b"]


def test_arrow_and_spark_read_paths_agree(test_collection):
    import numpy as np
    import pandas as pd

    col = test_collection
    idx = pd.date_range("2023-01-01", periods=4000, freq="h")
    df = pd.DataFrame(
        {
            "v": np.arange(4000.0),
            "k": np.arange(4000) % 5,
            "s": [f"x{i%7}" for i in range(4000)],
        },
        index=idx,
    )
    col.write("parity", df)
    it_a = col.item(
        "parity", filters=[("k", "in", [1, 3])], columns=["v", "k"]
    )
    a = it_a.to_pandas(engine="arrow")
    b = col.item(
        "parity", filters=[("k", "in", [1, 3])], columns=["v", "k"]
    ).to_pandas(engine="spark")
    pd.testing.assert_frame_equal(a, b)
    full_a = col.item("parity").to_pandas(engine="arrow")
    full_b = col.item("parity").to_pandas(engine="spark")
    pd.testing.assert_frame_equal(full_a, full_b)


def test_collection_sql_joins_items(test_collection):
    import numpy as np
    import pandas as pd

    idx = pd.date_range("2024-01-01", periods=50, freq="D")
    test_collection.write(
        "trades", pd.DataFrame({"px": np.arange(50.0)}, index=idx)
    )
    test_collection.write(
        "quotes", pd.DataFrame({"qty": np.arange(50) * 2}, index=idx)
    )
    out = test_collection.sql(
        "SELECT t.index, t.px, q.qty FROM trades t "
        "JOIN quotes q ON t.index = q.index WHERE t.px >= 40"
    )
    rows = out.collect()
    assert len(rows) == 10
    assert all(r["qty"] == int(r["px"]) * 2 for r in rows)


def test_store_sql_joins_across_collections(test_store):
    import numpy as np
    import pandas as pd

    idx = pd.date_range("2024-01-01", periods=50, freq="D")
    a = test_store.collection("alpha")
    b = test_store.collection("beta")
    a.write("px", pd.DataFrame({"px": np.arange(50.0)}, index=idx))
    b.write("qty", pd.DataFrame({"qty": np.arange(50.0) * 2}, index=idx))

    out = test_store.sql(
        "SELECT a.index, a.px, b.qty, a.px * b.qty AS notional "
        "FROM alpha__px a JOIN beta__qty b ON a.index = b.index "
        "ORDER BY a.index"
    ).toPandas()
    assert len(out) == 50
    assert (out["notional"] == out["px"] * out["qty"]).all()


def test_compression_codec_sticky_for_item_lifetime(test_collection):
    """write(compression='zstd') rides the persisted partition plan,
    so appends keep the codec without re-specifying it; both the
    Arrow client read and the Spark read handle the files."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from pystore_spark import utils

    c = test_collection
    pdf = pd.DataFrame(
        {"v": np.arange(90_000, dtype="float64")},
        index=pd.date_range("2023-01-01", periods=90_000, freq="min"),
    )
    c.write("z", pdf, compression="zstd")
    item_path = c._item_path("z")
    man = utils.read_manifest(item_path)
    codecs = {
        pq.ParquetFile(str(item_path / rel))
        .metadata.row_group(0)
        .column(0)
        .compression.lower()
        for rel in man["files"]
    }
    assert codecs == {"zstd"}

    extra = pd.DataFrame(
        {"v": [1.0]}, index=pd.DatetimeIndex(["2023-03-05"])
    )
    c.append("z", extra)
    man = utils.read_manifest(item_path)
    codecs = {
        pq.ParquetFile(str(item_path / rel))
        .metadata.row_group(0)
        .column(0)
        .compression.lower()
        for rel in man["files"]
    }
    assert codecs == {"zstd"}
    out = c.item("z").to_pandas()
    assert len(out) == 90_001
    assert len(c.item("z").to_pandas(engine="arrow")) == 90_001

    import pytest

    with pytest.raises(ValueError, match="compression must be"):
        c.write("bad", pdf.head(5), compression="lz4")


def test_compression_survives_replanning_paths(test_collection):
    """Review finding: size-layout appends, compact and rebalance
    re-derive a fresh plan — each must INHERIT the item's codec, not
    silently reset it to snappy."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from pystore_spark import utils

    c = test_collection

    def codecs(item):
        ip = c._item_path(item)
        man = utils.read_manifest(ip)
        return {
            pq.ParquetFile(str(ip / rel))
            .metadata.row_group(0)
            .column(0)
            .compression.lower()
            for rel in man["files"]
        }

    # size-layout item (non-time index) through the driver Arrow path
    small = pd.DataFrame({"k": range(200), "v": range(200)})
    c.write("s", small, index_col="k", compression="zstd")
    assert codecs("s") == {"zstd"}
    c.append("s", pd.DataFrame({"k": [500], "v": [1]}))
    assert codecs("s") == {"zstd"}  # arrow size re-plan inherited

    # whole-item Spark append path (size layout, forced via npartitions)
    big = pd.DataFrame(
        {"k": np.arange(60_000), "v": np.arange(60_000, dtype="f8")}
    )
    c.write("b", big, index_col="k", npartitions=4, compression="zstd")
    c.append("b", pd.DataFrame({"k": [99_999], "v": [1.0]}))
    assert codecs("b") == {"zstd"}

    # compact + rebalance on a time-layout zstd item
    ts = pd.DataFrame(
        {"v": np.arange(90_000, dtype="f8")},
        index=pd.date_range("2023-01-01", periods=90_000, freq="min"),
    )
    c.write("t", ts, compression="zstd")
    c.compact("t")
    assert codecs("t") == {"zstd"}
    c.rebalance_partitions("t")
    assert codecs("t") == {"zstd"}


def test_n_rows_footer_count(test_collection, spark):
    """Item.n_rows: exact count from parquet footers, no Spark job;
    filtered handles fall back to the Spark count."""
    import pandas as pd

    df = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=120, freq="h"),
        "v": [float(i) for i in range(120)],
    })
    test_collection.write("nr", df, index_col="ts", freq="D")
    assert test_collection.item("nr").n_rows() == 120
    test_collection.append(
        "nr", df.assign(ts=df["ts"] + pd.Timedelta(days=30)),
        duplicate_handling="keep_all",
    )
    assert test_collection.item("nr").n_rows() == 240
    # time travel counts that version's files
    assert test_collection.item("nr", version=1).n_rows() == 120
    # filtered handle: exact filtered count via Spark
    h = test_collection.item("nr", filters=[[("v", "<", 10.0)]])
    assert h.n_rows() == 20
    # bucketed items count the same way
    test_collection.write(
        "nrb", pd.DataFrame({"k": range(50), "v": [1.0] * 50}),
        bucket_by="k", n_buckets=4, index_col="k",
    )
    assert test_collection.item("nrb").n_rows() == 50


def test_describe_detail(test_collection):
    import pandas as pd

    col = test_collection
    df = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=60, freq="h"),
        "kind": ["a", "b"] * 30,
        "v": [float(i) for i in range(60)],
    })
    col.write("dd", df, index_col="ts", freq="D")
    col.add_constraint("dd", "v_ok", "v >= 0")
    col.create_matview(
        "dd_mv", "SELECT kind, count(*) AS n FROM dd GROUP BY kind"
    )
    d = col.describe("dd")
    assert d["n_rows"] == 60 and d["n_files"] >= 1
    assert d["layout"]["strategy"] == "time"
    assert d["index_columns"] == ["ts"]
    assert d["constraints"] == {"v_ok": "v >= 0"}
    assert d["matviews_of"] == ["dd_mv"]
    assert d["n_versions_readable"] >= 1
    dm = col.describe("dd_mv")
    assert dm["roles"] == {"matview": True}
    col.write(
        "dd_b", pd.DataFrame({"k": range(20), "v": [1.0] * 20}),
        bucket_by="k", n_buckets=2, index_col="k",
    )
    db = col.describe("dd_b")
    assert db["roles"] == {"bucketed": True}
    assert db["bucket_spec"]["n"] == 2
