"""Driver-side Arrow fast path (arrow_path.py): engine routing,
mixed-engine layout compatibility, merge-semantics parity with the
Spark path, and the recover-before-merge append guarantee."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from pystore_spark import config
from pystore_spark.exceptions import DataIntegrityError


def _frame(n=100, start="2023-01-01", freq="h", v0=0.0):
    return pd.DataFrame(
        {"value": np.arange(n, dtype="float64") + v0,
         "tag": [f"t{i % 3}" for i in range(n)]},
        index=pd.date_range(start, periods=n, freq=freq),
    )


def _parquet_names(path):
    return sorted(f.name for f in Path(path).rglob("*.parquet"))


@pytest.fixture
def spark_only(monkeypatch):
    """Force every write/append through the Spark engine."""
    monkeypatch.setattr(config, "DRIVER_PATH_MAX_BYTES", 0)


import re

# staged file names are <committoken>-<writer name>; the Arrow writer
# names files part-<i>.parquet, Spark appends task uuid + codec
# segments — the name is how we know which engine ran
_ARROW_NAME = re.compile(r"[0-9a-f]{8}-part-\d{5}\.parquet")


def test_small_pandas_write_uses_arrow_engine(test_collection):
    test_collection.write("a", _frame())
    names = _parquet_names(test_collection.item("a").path)
    assert len(names) == 1 and _ARROW_NAME.fullmatch(names[0])


def test_big_estimate_falls_back_to_spark(test_collection, monkeypatch):
    monkeypatch.setattr(config, "DRIVER_PATH_MAX_BYTES", 1024)
    test_collection.write("a", _frame())
    names = _parquet_names(test_collection.item("a").path)
    assert not any(_ARROW_NAME.fullmatch(n) for n in names)
    out = test_collection.item("a").to_pandas()
    assert len(out) == 100


def test_mixed_engine_item_reads_identically(test_collection, spark):
    """Spark-written base + Arrow-path append must unify for BOTH
    readers (timestamp physical types must match across engines)."""
    base = _frame(20_000, freq="min")
    old = config.DRIVER_PATH_MAX_BYTES
    try:
        config.DRIVER_PATH_MAX_BYTES = 0
        test_collection.write("m", base)  # Spark engine
    finally:
        config.DRIVER_PATH_MAX_BYTES = old
    extra = _frame(10, start="2023-01-01", freq="min", v0=1000.0)
    test_collection.append("m", extra)  # Arrow engine (keep_last)

    it = test_collection.item("m")
    arrow_pdf = it.to_pandas(engine="arrow")
    spark_pdf = it.to_pandas(engine="spark")
    pd.testing.assert_frame_equal(arrow_pdf, spark_pdf)
    assert arrow_pdf.loc[pd.Timestamp("2023-01-01 00:00"), "value"] == 1000.0
    assert len(arrow_pdf) == 20_000


def test_arrow_append_matches_spark_append_semantics(
    test_collection, spark_only, spark
):
    """Run the same strategy matrix through the Spark engine and the
    Arrow engine; both must agree row-for-row."""
    results = {}
    for engine, thr in (("spark", 0), ("arrow", 256 << 20)):
        old = config.DRIVER_PATH_MAX_BYTES
        config.DRIVER_PATH_MAX_BYTES = thr
        try:
            for strat in ("keep_last", "keep_first", "keep_all"):
                name = f"{engine}_{strat}"
                test_collection.write(name, _frame(50))
                inc = _frame(30, start="2023-01-01", v0=500.0)
                # two in-frame duplicates of the first key: input order
                # is the tiebreaker
                inc = pd.concat(
                    [inc, _frame(1, start="2023-01-01", v0=900.0)]
                )
                test_collection.append(name, inc, duplicate_handling=strat)
                results[name] = (
                    test_collection.item(name)
                    .to_pandas()
                    .sort_values(["value"])
                    .sort_index(kind="stable")
                    .reset_index()
                )
        finally:
            config.DRIVER_PATH_MAX_BYTES = old
    for strat in ("keep_last", "keep_first", "keep_all"):
        pd.testing.assert_frame_equal(
            results[f"spark_{strat}"], results[f"arrow_{strat}"]
        )


def test_arrow_append_error_strategy(test_collection):
    test_collection.write("e", _frame(50))
    with pytest.raises(DataIntegrityError):
        test_collection.append(
            "e", _frame(5), duplicate_handling="error"
        )
    # non-overlapping appends pass
    test_collection.append(
        "e", _frame(5, start="2024-01-01"), duplicate_handling="error"
    )
    assert len(test_collection.item("e").to_pandas()) == 55


def _plant_orphan(path: Path) -> Path:
    """Simulate a crashed append: a staged file that never made it
    into the manifest — sitting INSIDE a live bucket dir, where the
    old directory-listing reader would have picked it up."""
    import shutil

    bucket = path / "_pb=2023-11"
    assert bucket.exists()
    src = next(bucket.glob("*.parquet"))
    orphan = bucket / "deadbeef-part-00000.parquet"
    shutil.copy2(src, orphan)
    return orphan


def _check_orphan_isolated(test_collection, df, monkeypatch):
    path = Path(test_collection.item("big").path)
    orphan = _plant_orphan(path)

    extra = pd.DataFrame(
        {"value": [1e6], "tag": ["t0"]},
        index=pd.DatetimeIndex(["2023-11-05 00:05:30"]),
    )
    test_collection.append("big", extra)
    out = test_collection.item("big").to_pandas()
    nov = out.loc["2023-11-01":"2023-11-30 23:59:59"]
    expected = df.loc["2023-11-01":"2023-11-30 23:59:59"]
    # the orphan's duplicate rows were NOT merged in (readers and the
    # merge resolve strictly through the manifest), and nothing from
    # the live bucket was lost
    assert len(nov) == len(expected) + 1
    assert nov["value"].max() == 1e6
    # aged orphans are garbage-collected at the next append's recovery
    monkeypatch.setattr(config, "ORPHAN_GRACE_SECONDS", 0.0)
    assert test_collection.recover_item("big") >= 1
    assert not orphan.exists()
    assert len(test_collection.item("big").to_pandas()) == len(out)


def test_append_ignores_crashed_staged_files(test_collection, monkeypatch):
    """A crash mid-append leaves staged-but-uncommitted files in live
    bucket dirs; they must be invisible to reads AND to the next
    append's merge (no duplicated rows), then GC'd once aged."""
    df = _frame(50_000, freq="10min")  # monthly buckets
    test_collection.write("big", df)
    _check_orphan_isolated(test_collection, df, monkeypatch)


def test_append_ignores_crashed_staged_files_spark_engine(
    test_collection, spark_only, monkeypatch
):
    df = _frame(50_000, freq="10min")
    test_collection.write("big", df)
    _check_orphan_isolated(test_collection, df, monkeypatch)


def test_arrow_write_time_layout_matches_spark_plan(test_collection):
    """Both engines must pick the same partition plan for the same
    frame (plan_from_stats is the shared core)."""
    df = _frame(20_000, freq="h")  # ~2.3y span → quarterly
    test_collection.write("t", df)
    plan = test_collection.item("t")._plan
    assert plan.kind == "time" and plan.freq == "Q"
    buckets = sorted(
        p.name for p in Path(test_collection.item("t").path).glob("_pb=*")
    )
    assert buckets[0] == "_pb=2023-Q1"


def test_arrow_append_creates_and_merges_buckets(test_collection):
    df = _frame(50_000, freq="10min")
    test_collection.write("b", df)
    path = Path(test_collection.item("b").path)
    before = {p.name for p in path.glob("_pb=*")}
    extra = pd.DataFrame(
        {"value": [5.0], "tag": ["t1"]},
        index=pd.DatetimeIndex(["2030-06-15"]),
    )
    test_collection.append("b", extra)
    after = {p.name for p in path.glob("_pb=*")}
    assert after - before == {"_pb=2030-06"}
    out = test_collection.item(
        "b", filters=[("index", ">=", pd.Timestamp("2030-01-01"))]
    ).to_pandas()
    assert len(out) == 1 and out["value"].iloc[0] == 5.0


def test_filters_on_arrow_written_timestamps(test_collection):
    """tz-aware µs storage + naive timestamp filter literals must work
    through both the Arrow dataset reader and the Spark reader."""
    df = _frame(200, freq="D")
    test_collection.write("f", df)
    flt = [("index", ">=", pd.Timestamp("2023-03-01")),
           ("index", "<", pd.Timestamp("2023-04-01"))]
    it = test_collection.item("f", filters=flt)
    via_arrow = it.to_pandas(engine="arrow")
    via_spark = it.to_pandas(engine="spark")
    expected = df.loc["2023-03-01":"2023-03-31 23:59:59"]
    assert len(via_arrow) == len(expected)
    pd.testing.assert_frame_equal(via_arrow, via_spark)


def test_write_append_sequence_across_threshold_boundary(test_collection):
    """Property: the SAME write/append sequence yields identical data
    and equivalent manifests no matter which side of
    DRIVER_PATH_MAX_BYTES each step lands on — just below, just above,
    and mixed per step (arrow_path gating must be a pure engine
    choice, never a semantic one)."""
    from pystore_spark import arrow_path, utils

    base = _frame(20_000, freq="10min")  # ~5 monthly buckets
    est = arrow_path.estimate_pandas_bytes(base)
    seq = [
        # overlap upsert into the first bucket (keep_last)
        ("append", _frame(100, start="2023-01-02", freq="min", v0=9000.0)),
        # brand-new future bucket
        ("append", _frame(50, start="2023-06-01", freq="min", v0=-5.0)),
        # in-frame duplicate keys: input order is the tiebreaker
        ("append", pd.concat([
            _frame(3, start="2023-06-01", freq="min", v0=111.0),
            _frame(1, start="2023-06-01", freq="min", v0=222.0),
        ])),
    ]
    scenarios = {
        # threshold per step: [write, append1, append2, append3]
        "all_arrow": [256 << 20] * 4,
        "all_spark": [0] * 4,
        "just_below_then_above": [est - 1, 256 << 20, 256 << 20, 0],
        "just_above_then_below": [est + est // 2, 0, 0, 256 << 20],
    }
    results, manifests = {}, {}
    old = config.DRIVER_PATH_MAX_BYTES
    try:
        for name, thresholds in scenarios.items():
            config.DRIVER_PATH_MAX_BYTES = thresholds[0]
            test_collection.write(name, base)
            for thr, (op, data) in zip(thresholds[1:], seq):
                config.DRIVER_PATH_MAX_BYTES = thr
                test_collection.append(name, data)
            results[name] = test_collection.item(name).to_pandas()
            manifests[name] = utils.read_manifest(
                test_collection.item(name)._path
            )
    finally:
        config.DRIVER_PATH_MAX_BYTES = old

    def buckets(man):
        return {f.rsplit("/", 1)[0] for f in man["files"] if "/" in f}

    ref_name = "all_arrow"
    ref = results[ref_name]
    ref_man = manifests[ref_name]
    ref_buckets = buckets(ref_man)
    assert len(ref_buckets) >= 4  # the layout really is time-bucketed
    for name, got in results.items():
        # byte-identical client view
        pd.testing.assert_frame_equal(got, ref, check_freq=False)
        man = manifests[name]
        # identical manifests modulo file names: same version history
        # length, same live bucket set, no stray stale entries beyond
        # the replaced buckets
        assert man["version"] == ref_man["version"], name
        assert buckets(man) == ref_buckets, name


# ---------------------------------------------------------------------------
# bucket-local append: key-only decision, add-file vs bucket rewrite
# ---------------------------------------------------------------------------
def _bucket_files(test_collection, name):
    from pystore_spark import manifest as mf
    from pystore_spark import utils

    man = utils.read_manifest(test_collection._item_path(name))
    return man, mf.bucket_file_map(man)


def test_disjoint_append_adds_one_file_to_its_bucket(test_collection):
    """Fresh keys under keep_last drop no stored row: the batch lands
    as one new file in its bucket, beside the stored file, which stays
    live — nothing goes stale."""
    df = _frame(20_000, freq="10min")  # monthly buckets
    test_collection.write("d", df)
    man0, before = _bucket_files(test_collection, "d")
    extra = _frame(5, start="2023-02-10 00:05", freq="10min", v0=1e6)
    test_collection.append("d", extra)
    man1, after = _bucket_files(test_collection, "d")
    assert len(before["_pb=2023-02"]) == 1
    assert set(after["_pb=2023-02"]) > set(before["_pb=2023-02"])
    assert len(after["_pb=2023-02"]) == 2
    assert {b: f for b, f in after.items() if b != "_pb=2023-02"} == {
        b: f for b, f in before.items() if b != "_pb=2023-02"
    }
    assert not man1.get("stale")
    assert man1["version"] == man0["version"] + 1
    out = test_collection.item("d").to_pandas()
    assert out.index.is_monotonic_increasing
    pd.testing.assert_frame_equal(
        out, pd.concat([df, extra]).sort_index().rename_axis("index"),
        check_freq=False,
    )

    # compact() folds the added files back to one file per bucket
    rep = test_collection.compact("d")
    assert rep["buckets_compacted"] == 1
    _, folded = _bucket_files(test_collection, "d")
    assert all(len(f) == 1 for f in folded.values())
    assert folded.keys() == before.keys()
    pd.testing.assert_frame_equal(
        test_collection.item("d").to_pandas(), out
    )


def test_keep_last_collapses_stored_duplicates(test_collection):
    """A bucket that already holds duplicate keys (left by keep_all)
    is merged and rewritten by a keep_last append even when the batch
    brings only fresh keys: keep_last collapses stored duplicates."""
    test_collection.write("k", _frame(2_000, freq="h"), freq="M")
    dups = _frame(3, start="2023-02-01", freq="h", v0=500.0)
    test_collection.append("k", dups, duplicate_handling="keep_all")
    _, files = _bucket_files(test_collection, "k")
    assert len(files["_pb=2023-02"]) == 2  # keep_all added a file
    assert len(test_collection.item("k").to_pandas()) == 2_003
    fresh = pd.DataFrame(
        {"value": [-1.0], "tag": ["t9"]},
        index=pd.DatetimeIndex(["2023-02-01 00:30"]),
    )
    test_collection.append("k", fresh)
    man, files = _bucket_files(test_collection, "k")
    assert len(files["_pb=2023-02"]) == 1  # rewritten, not added to
    assert man["stale"]
    out = test_collection.item("k").to_pandas()
    assert len(out) == 2_001 and out.index.is_unique
    # which STORED duplicate survives is unspecified (the Spark path
    # ranks all stored rows alike), but it is one of them
    assert out.loc[pd.Timestamp("2023-02-01 01:00"), "value"] in (
        745.0, 501.0,
    )


def test_error_strategy_counts_overlap_across_buckets(test_collection):
    """duplicate_handling='error' sums the overlap over every touched
    bucket and raises before anything is staged."""
    test_collection.write("e3", _frame(3_000, freq="h"), freq="M")
    path = Path(test_collection.item("e3").path)
    man0, _ = _bucket_files(test_collection, "e3")
    files0 = _parquet_names(path.parent)
    stamps = ["2023-01-05", "2023-01-06", "2023-02-05", "2023-02-06",
              "2023-03-05", "2023-03-06", "2023-03-07 00:30"]
    inc = pd.DataFrame(
        {"value": np.arange(7.0), "tag": ["x"] * 7},
        index=pd.DatetimeIndex(stamps),
    )
    with pytest.raises(DataIntegrityError, match=r"create 6 duplicate"):
        test_collection.append("e3", inc, duplicate_handling="error")
    man1, _ = _bucket_files(test_collection, "e3")
    assert man1["version"] == man0["version"]
    assert _parquet_names(path.parent) == files0


def _multi_frame(n, start, v0=0.0):
    ts = pd.date_range(start, periods=n, freq="6h")
    idx = pd.MultiIndex.from_arrays(
        [ts.repeat(2), ["a", "b"] * n], names=["ts", "sym"]
    )
    return pd.DataFrame(
        {"value": np.arange(2 * n, dtype="float64") + v0}, index=idx
    )


@pytest.mark.parametrize("multi", [False, True], ids=["key", "multikey"])
def test_multi_bucket_upsert_parity_all_strategies(
    test_collection, spark, multi
):
    """A batch that both overlaps and extends several buckets, with an
    in-batch duplicate: the Arrow path (merge_arrow for one key,
    merge_pandas for a MultiIndex) and the Spark path must agree row
    for row under every strategy, and raise alike under 'error'."""
    if multi:
        base = _multi_frame(600, "2023-01-01")  # 150 days
        inc = _multi_frame(200, "2023-02-15", v0=1e4)
        inc = pd.concat([inc, _multi_frame(1, "2023-03-01", v0=-7.0)])
    else:
        base = _frame(3_000, freq="h")
        inc = _frame(1_500, start="2023-02-15", freq="h", v0=1e4)
        inc = pd.concat([inc, _frame(1, start="2023-03-01", v0=-7.0)])
    results, errors, rewrote = {}, {}, {}
    old = config.DRIVER_PATH_MAX_BYTES
    try:
        for engine, thr in (("spark", 0), ("arrow", 256 << 20)):
            for strat in ("keep_last", "keep_first", "keep_all", "error"):
                name = f"{engine}_{strat}"
                config.DRIVER_PATH_MAX_BYTES = 256 << 20
                test_collection.write(name, base, freq="M")
                config.DRIVER_PATH_MAX_BYTES = thr
                try:
                    test_collection.append(
                        name, inc, duplicate_handling=strat
                    )
                except DataIntegrityError as exc:
                    errors[name] = str(exc)
                man, files = _bucket_files(test_collection, name)
                assert len(files) >= 4  # a multi-bucket time layout
                rewrote[name] = bool(man.get("stale"))
                out = test_collection.item(name).to_pandas()
                assert out.index.is_monotonic_increasing
                results[name] = (
                    out.reset_index()
                    .sort_values(list(out.reset_index().columns))
                    .reset_index(drop=True)
                )
    finally:
        config.DRIVER_PATH_MAX_BYTES = old
    for strat in ("keep_last", "keep_first", "keep_all", "error"):
        pd.testing.assert_frame_equal(
            results[f"spark_{strat}"], results[f"arrow_{strat}"]
        )
    # only keep_last drops stored rows, so only it rewrites buckets
    assert {n for n, r in rewrote.items() if r and "arrow" in n} == {
        "arrow_keep_last"
    }
    assert errors["arrow_error"] == errors["spark_error"]
    assert set(errors) == {"arrow_error", "spark_error"}
    assert len(results["arrow_keep_all"]) == len(base) + len(inc)
