"""Driver-side Arrow fast path for small writes and appends.

Rationale — the write-side mirror of the Arrow read fast path
(item.py:182-187): a sub-threshold frame should not pay Spark
scheduler + shuffle + task-launch latency to reach disk. The reference
engine is single-node (pystore/collection.py:316-350 writes with
pandas/Dask in-process), so for small frames the honest comparison is
driver-side I/O; this module provides it while keeping the layout
byte-compatible with the Spark writer:

* same hive ``_pb=<bucket>`` directory layout and bucket strings
  (partition.bucket_expr / bucket_value),
* same snappy Parquet with TIMESTAMP_MICROS adjusted-to-UTC physical
  type (session.py sets ``spark.sql.parquet.outputTimestampType`` so
  the Spark writer matches),
* same JSON sidecar (utils.write_metadata) and partition-plan dict,
* same manifest commit protocol (Collection._commit_staged), so crash
  recovery and the observed-state guards are shared.

A single item may freely mix Spark-written and Arrow-written files;
both Spark and pyarrow.dataset readers unify them.

Appends to a time-layout item touch only the buckets the incoming
rows fall in, and decide from the keys alone what to write. Only the
index column(s) of each touched stored bucket are read, to learn
whether the merge would drop a stored row — which only ``keep_last``
does, when the batch repeats a stored key or the bucket already holds
a duplicate key:

* nothing dropped (new days or new keys; always so for keep_first,
  error and keep_all): the surviving incoming rows become one new
  sorted file per touched bucket, committed as a pure file addition
  (``scope='add'``). No stored byte is re-read or re-encoded; the
  bucket holds one more file until ``compact()`` / ``maintain()``
  folds it — the add-file commit of Delta Lake.
* something dropped (an upsert): each touched bucket is read, merged,
  sorted and cast by its own worker thread, and the merged buckets
  replace the touched buckets' files (``scope='buckets'``).

Size-layout items are merged and rewritten whole.

Scale discipline: above ``config.DRIVER_PATH_MAX_BYTES`` (default
256 MB, env ``PYSTORE_SPARK_DRIVER_PATH_MAX_BYTES``) every entry point
returns False and the caller runs the distributed Spark path — the
driver never materializes data-scale frames. For appends the bound is
incoming + touched-bucket bytes, so a small append to a 100 TB item
still qualifies: it reads at most the touched time buckets through
pyarrow and commits only their file pointers.
"""

from __future__ import annotations

import warnings
from pathlib import Path
from typing import Any, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pystore_spark import config
from pystore_spark.exceptions import DataIntegrityError, ValidationError
from pystore_spark.pandas_compat import META_KEY, flatten_pandas, index_columns
from pystore_spark.partition import (
    PARTITION_COL,
    PartitionPlan,
    plan_from_stats,
)

# physical storage type for timestamps — what Spark writes under
# outputTimestampType=TIMESTAMP_MICROS with a UTC session timezone
TS_STORAGE = pa.timestamp("us", tz="UTC")
TS_CLIENT = pa.timestamp("ns")  # pandas-facing convention (naive UTC)


# ---------------------------------------------------------------------------
# type normalization
# ---------------------------------------------------------------------------
def normalize_read_types(tbl: pa.Table) -> pa.Table:
    """Storage timestamps (tz-aware µs, or legacy naive) → naive ns,
    the pandas-facing convention every caller of the Arrow read path
    expects (``restore_pandas`` re-localizes from sidecar metadata).
    Values are UTC wall-clock either way, so the cast only relabels.
    Falls back to the stored unit when ns would overflow."""
    fields = []
    changed = False
    for f in tbl.schema:
        if pa.types.is_timestamp(f.type) and (
            f.type.tz is not None or f.type.unit != "ns"
        ):
            fields.append(pa.field(f.name, TS_CLIENT, f.nullable))
            changed = True
        else:
            fields.append(f)
    if not changed:
        return tbl
    try:
        return tbl.cast(pa.schema(fields))
    except pa.ArrowInvalid:
        # out-of-ns-range timestamps: drop only the tz, keep the unit
        fields = [
            pa.field(f.name, pa.timestamp(f.type.unit), f.nullable)
            if pa.types.is_timestamp(f.type) and f.type.tz is not None
            else f
            for f in tbl.schema
        ]
        return tbl.cast(pa.schema(fields))


def storage_schema(schema: pa.Schema) -> pa.Schema:
    """Map an in-memory Arrow schema to the on-disk one (timestamps →
    TIMESTAMP_MICROS adjusted-to-UTC)."""
    return pa.schema(
        [
            pa.field(f.name, TS_STORAGE, f.nullable)
            if pa.types.is_timestamp(f.type)
            else f
            for f in schema
        ]
    )


_EMPTY_DTYPE_MAP = [
    # mirrors Collection._create_df's empty-frame mapping
    (pd.api.types.is_datetime64_any_dtype, TS_STORAGE),
    (pd.api.types.is_integer_dtype, pa.int64()),
    (pd.api.types.is_float_dtype, pa.float64()),
    (pd.api.types.is_bool_dtype, pa.bool_()),
]


def _schema_for_empty(flat: pd.DataFrame) -> pa.Schema:
    fields = []
    for c in flat.columns:
        t: pa.DataType = pa.string()
        for pred, arrow_t in _EMPTY_DTYPE_MAP:
            if pred(flat[c].dtype):
                t = arrow_t
                break
        fields.append(pa.field(str(c), t, True))
    return pa.schema(fields)


def table_from_flat(flat: pd.DataFrame) -> pa.Table:
    """Flattened pandas frame → Arrow table with on-disk types."""
    if len(flat) == 0:
        return pa.Table.from_pandas(
            flat, schema=_schema_for_empty(flat), preserve_index=False
        )
    tbl = pa.Table.from_pandas(flat, preserve_index=False)
    return tbl.cast(storage_schema(tbl.schema))


# ---------------------------------------------------------------------------
# size estimation (no Spark jobs)
# ---------------------------------------------------------------------------
def estimate_pandas_bytes(pdf: pd.DataFrame) -> int:
    """Cheap upper-ish estimate: shallow buffer bytes + a flat 48 B per
    object cell (strings/containers)."""
    shallow = int(pdf.memory_usage(index=True, deep=False).sum())
    n_obj = sum(1 for d in pdf.dtypes if d == object)
    return shallow + 48 * n_obj * len(pdf)


def concat_live(frames: Sequence[pd.DataFrame | pd.Series],
                ignore_index: bool = True):
    """``pd.concat`` excluding empty entries: pandas deprecated letting
    empty frames participate in result-dtype inference (FutureWarning,
    behavior flips in a future release) — dropping them up front keeps
    today's dtypes under both. All-empty returns the first entry."""
    live = [f for f in frames if len(f)]
    if not live:
        return frames[0]
    if len(live) == 1:
        out = live[0]
        return out.reset_index(drop=True) if ignore_index else out
    return pd.concat(live, ignore_index=ignore_index)


def dir_bytes(path: Path) -> int:
    from pystore_spark.fs import fs_for

    fs = fs_for(path)
    return sum(fs.size(f) for f in fs.list_files(path, ".parquet"))


# ---------------------------------------------------------------------------
# bucket labels (vectorized, format-identical to partition.bucket_value)
# ---------------------------------------------------------------------------
def bucket_labels(idx: pd.Series, freq: str) -> pd.Series:
    """Bucket string per row. Integer factorize + per-unique format, so
    the string formatting cost is O(distinct buckets), not O(rows)."""
    dt = idx.dt
    if freq == "Y":
        key = dt.year.to_numpy(np.int64)
        fmt = lambda k: f"{k:04d}"  # noqa: E731
    elif freq == "Q":
        key = (dt.year.to_numpy(np.int64) * 10 + dt.quarter.to_numpy(np.int64))
        fmt = lambda k: f"{k // 10:04d}-Q{k % 10}"  # noqa: E731
    elif freq == "M":
        key = dt.year.to_numpy(np.int64) * 100 + dt.month.to_numpy(np.int64)
        fmt = lambda k: f"{k // 100:04d}-{k % 100:02d}"  # noqa: E731
    elif freq == "D":
        key = (
            dt.year.to_numpy(np.int64) * 10_000
            + dt.month.to_numpy(np.int64) * 100
            + dt.day.to_numpy(np.int64)
        )
        fmt = lambda k: f"{k // 10_000:04d}-{(k // 100) % 100:02d}-{k % 100:02d}"  # noqa: E731
    else:
        raise ValueError(f"unknown partition freq {freq!r}")
    codes, uniques = pd.factorize(key)
    labels = np.array([fmt(int(u)) for u in uniques], dtype=object)
    return pd.Series(labels[codes], index=idx.index)


# ---------------------------------------------------------------------------
# file writing
# ---------------------------------------------------------------------------
def _write_file(
    tbl: pa.Table, path: Path, compression: str = "snappy"
) -> None:
    from pystore_spark.fs import fs_for

    fs = fs_for(path)
    fs.mkdirs(path.parent)
    with fs.open_write(path) as sink:
        pq.write_table(tbl, sink, compression=compression)


def _write_files(
    jobs: list[tuple[pa.Table, Path]], compression: str = "snappy"
) -> None:
    """Write several parquet files concurrently — pyarrow releases the
    GIL during encode, so threads give near-linear speedup."""
    if len(jobs) <= 1:
        for t, p in jobs:
            _write_file(t, p, compression)
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, len(jobs))) as pool:
        list(pool.map(lambda j: _write_file(j[0], j[1], compression), jobs))


def write_table_files(
    tbl: pa.Table, tmp: Path, plan: PartitionPlan, idx_cols: list[str]
) -> None:
    """Write a (client-typed) table into ``tmp`` under the plan's
    layout: sorted by index, hive ``_pb`` dirs for time plans (one file
    per bucket), ``npartitions`` contiguous range slices otherwise —
    the same on-disk shape partition.apply_layout produces."""
    icol = idx_cols[0]
    if tbl.num_rows:
        order = pc.sort_indices(
            tbl, sort_keys=[(c, "ascending") for c in idx_cols if c in tbl.column_names]
        )
        tbl = tbl.take(order)
    if plan.kind == "time" and icol in tbl.column_names and tbl.num_rows:
        labels = bucket_labels(
            normalize_read_types(tbl.select([icol])).column(icol).to_pandas(),
            plan.freq,
        ).to_numpy()
        out = tbl.cast(storage_schema(tbl.schema))
        # sorted by index ⇒ buckets are contiguous slices
        bounds = np.flatnonzero(labels[1:] != labels[:-1]) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(labels)]))
        _write_files(
            [
                (
                    out.slice(int(s), int(e - s)),
                    tmp / f"{PARTITION_COL}={labels[s]}" / "part-00000.parquet",
                )
                for s, e in zip(starts, ends)
            ],
            compression=plan.compression or "snappy",
        )
        return
    out = tbl.cast(storage_schema(tbl.schema))
    n = max(1, int(plan.npartitions))
    rows = out.num_rows
    if rows == 0 or n == 1:
        _write_file(
            out, tmp / "part-00000.parquet",
            plan.compression or "snappy",
        )
        return
    per = -(-rows // n)  # ceil
    _write_files(
        [
            (out.slice(start, per), tmp / f"part-{i:05d}.parquet")
            for i, start in enumerate(range(0, rows, per))
        ],
        compression=plan.compression or "snappy",
    )


# ---------------------------------------------------------------------------
# input adapters
# ---------------------------------------------------------------------------
def _incoming_to_table(
    col: Any, data: Any, epochdate: bool, index_col: str | None = None
) -> tuple[pa.Table, dict] | None:
    """(client-typed Arrow table, pandas meta) for sub-threshold input,
    or None → caller must use the Spark path.

    pandas input is already driver-side — zero Spark jobs. Spark input
    pays exactly ONE job (the Arrow collect); that is still cheaper
    than the Spark write path's 2-3 passes whenever the frame is small
    (each pass re-executes the scan, and a small source is typically
    one parquet row group = a serial task no matter the cluster size),
    so the gate is one target output partition
    (config.PARTITION_TARGET_BYTES)."""
    threshold = config.DRIVER_PATH_MAX_BYTES
    if threshold <= 0:
        return None
    if isinstance(data, pd.Series):
        data = data.to_frame()
    if isinstance(data, pd.DataFrame):
        if estimate_pandas_bytes(data) > threshold:
            return None
        flat, meta = flatten_pandas(
            data, epochdate=epochdate, index_col=index_col
        )
        return table_from_flat(flat), meta
    from pyspark.sql import DataFrame as SparkDataFrame

    if isinstance(data, SparkDataFrame):
        if data.isStreaming:
            return None
        from pystore_spark.partition import estimate_size_bytes

        est = estimate_size_bytes(data)
        if est is None or est > min(threshold, config.PARTITION_TARGET_BYTES):
            return None
        meta = col._spark_input_meta(data, index_col)
        return normalize_read_types(data.toArrow()), meta
    return None  # Item handles / unknown types → Spark path


# ---------------------------------------------------------------------------
# write entry point
# ---------------------------------------------------------------------------
def try_write(
    col: Any,
    item: str,
    data: Any,
    metadata: dict | None,
    npartitions: int | None,
    epochdate: bool,
    index_col: str | None,
    compression: str | None = None,
    must_not_exist: bool = False,
    freq: str | None = None,
) -> bool:
    """Driver-side write; True when fully handled. Any failure before
    filesystem mutation falls back (returns False). ``must_not_exist``
    makes the commit a true CREATE (raises ConcurrentCommitError if a
    manifest appeared since the caller's existence check)."""
    try:
        got = _incoming_to_table(col, data, epochdate, index_col)
        if got is None:
            return False
        tbl, pmeta = got
        idx_cols = index_columns(pmeta)
        icol = idx_cols[0]
        plan = _plan_for_table(col, tbl, icol, npartitions, freq)
        if compression is not None:
            plan.compression = compression
    except Exception:
        return False

    sidecar = dict(metadata or {})
    sidecar[META_KEY] = pmeta
    sidecar["_partition_plan"] = plan.to_dict()
    col._atomic_install(
        item,
        lambda tmp: write_table_files(tbl, Path(tmp), plan, idx_cols),
        sidecar,
        must_not_exist=must_not_exist,
    )
    return True


def _plan_for_table(
    col: Any, tbl: pa.Table, icol: str, npartitions: int | None,
    freq: str | None = None,
) -> PartitionPlan:
    nrows = tbl.num_rows
    minmax = None
    is_time = False
    if icol in tbl.column_names:
        t = tbl.schema.field(icol).type
        is_time = pa.types.is_timestamp(t) or pa.types.is_date(t)
        if is_time and nrows:
            mm = pc.min_max(tbl.column(icol)).as_py()
            lo, hi = mm["min"], mm["max"]
            if lo is not None and hi is not None:
                minmax = (pd.Timestamp(lo), pd.Timestamp(hi))
    try:
        parallelism = col.spark.sparkContext.defaultParallelism
    except Exception:
        parallelism = 1
    return plan_from_stats(
        nrows=nrows,
        index_minmax=minmax,
        size_bytes=tbl.nbytes or None,
        is_time=is_time,
        parallelism=parallelism,
        npartitions=npartitions,
        freq=freq,
    )


# ---------------------------------------------------------------------------
# merge (Arrow-native for single-key items; pandas fallback otherwise —
# strategy-for-strategy identical to merge.py)
# ---------------------------------------------------------------------------
def _align_tables(ex: pa.Table, inc: pa.Table) -> tuple[pa.Table, pa.Table]:
    """unionByName(allowMissingColumns=True) column alignment: output
    order = existing columns then incoming-only columns; a side missing
    a column gets typed nulls."""
    cols = list(ex.column_names) + [
        c for c in inc.column_names if c not in ex.column_names
    ]

    def fix(t: pa.Table) -> pa.Table:
        arrays, fields = [], []
        for c in cols:
            if c in t.column_names:
                arrays.append(t.column(c))
                fields.append(t.schema.field(c))
            else:
                src = ex if c in ex.column_names else inc
                f = src.schema.field(c)
                arrays.append(pa.nulls(t.num_rows, type=f.type))
                fields.append(pa.field(f.name, f.type, True))
        return pa.table(arrays, schema=pa.schema(fields))

    return fix(ex), fix(inc)


def merge_arrow(
    ex: pa.Table,
    inc: pa.Table,
    key: str,
    strategy: str,
    order_col: str | None = None,
) -> pa.Table:
    """Single-key merge without materializing payload columns in
    pandas: only the key column is hashed (pandas ``duplicated`` on the
    concatenated keys), then each side is boolean-filtered in Arrow and
    concatenated. Semantics identical to merge.merge_append — incoming
    input order (or ``order_col``) is the within-incoming tiebreaker,
    keep_last collapses pre-existing duplicate keys, keep_first
    preserves them."""
    from pystore_spark.merge import INPUT_ORD_COL

    ex, inc = _align_tables(ex, inc)
    if order_col is not None and order_col in inc.column_names:
        inc = inc.take(
            pc.sort_indices(inc, sort_keys=[(order_col, "ascending")])
        )
        if order_col == INPUT_ORD_COL:
            # the reserved stamped ordinal (merge.INPUT_ORD_COL) is
            # plumbing — once incoming is sorted by it, drop it so it
            # never reaches storage (mirrors merge_append._strip)
            inc = inc.drop_columns([INPUT_ORD_COL])
            if INPUT_ORD_COL in ex.column_names:
                ex = ex.drop_columns([INPUT_ORD_COL])
    if strategy == "keep_all":
        return pa.concat_tables([ex, inc], promote_options="permissive")

    ex_k = ex.column(key).to_pandas()
    inc_k = inc.column(key).to_pandas()
    if strategy == "error":
        overlap = int(inc_k.isin(ex_k.unique()).sum())
        if overlap:
            raise DataIntegrityError(
                f"append would create {overlap} duplicate index entries "
                "(duplicate_handling='error')"
            )
        return pa.concat_tables([ex, inc], promote_options="permissive")

    comb = concat_live([ex_k, inc_k])
    n_ex = len(ex_k)
    if strategy == "keep_first":
        dup = comb.duplicated(keep="first").to_numpy()
        parts = [ex, inc.filter(pa.array(~dup[n_ex:]))]
    else:  # keep_last
        dup = comb.duplicated(keep="last").to_numpy()
        parts = [
            ex.filter(pa.array(~dup[:n_ex])),
            inc.filter(pa.array(~dup[n_ex:])),
        ]
    return pa.concat_tables(parts, promote_options="permissive")



def merge_pandas(
    existing: pd.DataFrame,
    incoming: pd.DataFrame,
    keys: list[str],
    strategy: str,
    order_col: str | None = None,
) -> pd.DataFrame:
    """Same semantics as merge.merge_append, driver-side: incoming input
    order is the keep_first/keep_last tiebreaker (``order_col`` overrides),
    keep_last also collapses pre-existing duplicate keys, keep_first
    preserves them (union-with-anti-join shape)."""
    # column alignment mirrors unionByName(allowMissingColumns=True)
    cols = list(existing.columns) + [
        c for c in incoming.columns if c not in existing.columns
    ]
    existing = existing.reindex(columns=cols)
    incoming = incoming.reindex(columns=cols)
    if order_col is not None and order_col in incoming.columns:
        incoming = incoming.sort_values(order_col, kind="stable")
        from pystore_spark.merge import INPUT_ORD_COL

        if order_col == INPUT_ORD_COL:
            # reserved stamped ordinal: plumbing, never stored
            existing = existing.drop(columns=[INPUT_ORD_COL])
            incoming = incoming.drop(columns=[INPUT_ORD_COL])

    if strategy == "keep_all":
        return concat_live([existing, incoming])
    if strategy == "error":
        overlap = int(
            incoming.set_index(keys).index.isin(
                existing.set_index(keys).index
            ).sum()
        )
        if overlap:
            raise DataIntegrityError(
                f"append would create {overlap} duplicate index entries "
                "(duplicate_handling='error')"
            )
        return concat_live([existing, incoming])
    if strategy == "keep_first":
        fresh = incoming.drop_duplicates(subset=keys, keep="first")
        mask = ~fresh.set_index(keys).index.isin(existing.set_index(keys).index)
        return concat_live([existing, fresh[mask]])
    # keep_last
    merged = concat_live([existing, incoming])
    return merged.drop_duplicates(subset=keys, keep="last")


# ---------------------------------------------------------------------------
# append entry point
# ---------------------------------------------------------------------------
def try_append(
    col: Any,
    item: str,
    data: Any,
    npartitions: int | None,
    epochdate: bool,
    duplicate_handling: str,
    validate_schema: bool,
    order_col: str | None = None,
    sidecar_extra: dict | None = None,
) -> bool:
    """Driver-side append; True when fully handled. The size gate is
    incoming + touched buckets (time layout, :func:`_append_buckets`:
    add-file or bucket rewrite, decided from the keys — see the module
    docstring) or incoming + whole item (size layout: merge and
    rewrite). All reads and merges happen before any filesystem
    mutation; after that the shared commit protocol provides the same
    crash guarantees as the Spark path."""
    threshold = config.DRIVER_PATH_MAX_BYTES
    if threshold <= 0:
        return False

    existing_item = col.item(item)
    from pystore_spark import dv as _dv
    from pystore_spark import utils as _utils

    if _dv.dv_map(existing_item._manifest):
        # deletion-vector masks apply positionally on the Spark scan;
        # the arrow fast path cannot honor them — a bucket merge here
        # would resurrect masked rows
        return False
    sidecar = _utils.merge_sidecar(existing_item.metadata, sidecar_extra)
    evo = sidecar.get("_schema_evolution")
    if evo and evo.get("enabled"):
        return False  # evolution semantics live in the Spark path
    plan = existing_item._plan or PartitionPlan("size", npartitions=1)
    item_path = Path(existing_item.path)

    try:
        got = _incoming_to_table(
            col, data, epochdate,
            index_col=col._append_index_hint(item, data),
        )
        if got is None:
            return False
        inc_tbl, inc_meta = got
    except Exception:
        return False
    pmeta = sidecar.get(META_KEY) or inc_meta
    idx_cols = index_columns(pmeta)
    icol = idx_cols[0]

    if inc_tbl.num_rows == 0:
        warnings.warn(f"append of empty data to {item!r} is a no-op",
                      stacklevel=3)
        return True

    dataset, _ = existing_item._arrow_dataset_and_filter()
    data_cols = [c for c in dataset.schema.names if c != PARTITION_COL]

    # schema compatibility — same check & message as the Spark path
    # (the reserved stamped ordinal is merge plumbing, not schema —
    # exempt ONLY when order_col names it and merge will strip it)
    from pystore_spark.merge import INPUT_ORD_COL

    ord_exempt = order_col == INPUT_ORD_COL
    missing = [c for c in data_cols if c not in inc_tbl.column_names]
    extra = [
        c
        for c in inc_tbl.column_names
        if c not in data_cols
        and not (c == INPUT_ORD_COL and ord_exempt)
    ]
    if validate_schema and (missing or extra):
        raise ValidationError(
            "schema mismatch on append: "
            f"missing columns {missing}, unexpected columns {extra}"
        )

    time_scoped = (
        plan.kind == "time"
        and icol in inc_tbl.column_names
        and pa.types.is_timestamp(inc_tbl.schema.field(icol).type)
    )
    if time_scoped and inc_tbl.column(icol).null_count:
        return False  # null bucket keys → let Spark handle layout
    try:
        # client-typed (ns) on BOTH sides: pandas input arrives
        # storage-typed (µs UTC) from table_from_flat, and a µs-UTC vs
        # ns concat is an Arrow type error — which the broad fallbacks
        # below would swallow, silently demoting every pandas append
        # to the Spark path (the writers re-cast to storage)
        inc_tbl = normalize_read_types(inc_tbl)
    except Exception:
        return False
    if time_scoped:
        return _append_buckets(
            col, item, existing_item, dataset, data_cols, inc_tbl,
            idx_cols, plan, duplicate_handling, order_col, sidecar,
        )

    # size layout (or non-timestamp index): full driver rewrite.
    # Conversion + merge happen BEFORE any filesystem mutation, so an
    # unexpected conversion failure (exotic nested types, overflow)
    # can still fall back to the Spark path; semantic errors propagate
    try:
        from pystore_spark import manifest as mf

        if mf.item_bytes(item_path) + inc_tbl.nbytes > threshold:
            return False
        ex_tbl = normalize_read_types(dataset.to_table(columns=data_cols))
        out = _merge_tables(
            ex_tbl, inc_tbl, idx_cols, duplicate_handling, order_col
        )
    except (ValidationError, DataIntegrityError):
        raise
    except Exception:
        return False

    expect, expect_dv = _observed_state(existing_item._manifest)
    new_plan = (
        plan
        if plan.kind == "time"
        else _plan_for_table(col, out, icol, npartitions)
    )
    # re-derived plans inherit the item's codec (lifetime setting)
    new_plan.compression = plan.compression
    sidecar["_partition_plan"] = new_plan.to_dict()
    col._atomic_install(
        item,
        lambda tmp: write_table_files(out, Path(tmp), new_plan, idx_cols),
        sidecar,
        expect_files=expect,
        expect_dv=expect_dv,
    )
    return True


def _observed_state(man: dict | None):
    """(expect_files, expect_dv) for a commit computed from ``man``:
    a concurrent commit landing in a touched bucket (or anywhere, for
    the item and add scopes) since then raises ConcurrentCommitError —
    the caller-retries contract, as for a lost manifest CAS. The dv
    expectation is empty because try_append's entry bail-out proved
    the dv map empty: ANY fresh mask on a replaced file conflicts."""
    from pystore_spark import manifest as mf

    if man is None:
        return None, None
    return mf.bucket_file_map(man), {}


def _merge_tables(
    ex: pa.Table, inc: pa.Table, idx_cols: list[str], strategy: str,
    order_col: str | None,
) -> pa.Table:
    """Client-typed merge: merge_arrow for single-key items (payload
    never leaves Arrow), merge_pandas for MultiIndex items."""
    if len(idx_cols) == 1:
        return merge_arrow(ex, inc, idx_cols[0], strategy, order_col)
    merged = merge_pandas(
        ex.to_pandas(), inc.to_pandas(), idx_cols, strategy, order_col
    )
    return _merged_to_table(merged, ex.schema, inc.schema)


def _key_index(tbl: pa.Table, idx_cols: list[str]) -> pd.Index:
    """A client-typed table's index keys as a pandas Index: the
    equality merge_arrow / merge_pandas dedupe by (NaN equals NaN)."""
    if len(idx_cols) == 1:
        return pd.Index(tbl.column(idx_cols[0]).to_numpy())
    return pd.MultiIndex.from_frame(tbl.select(idx_cols).to_pandas())


def _incoming_keep_mask(
    stored_keys, inc_tbl: pa.Table, idx_cols: list[str],
    rows: dict[str, np.ndarray], stored: list[str], strategy: str,
) -> np.ndarray | None:
    """The key-only decision. Returns which incoming rows the merge
    keeps when it drops no stored row, or None when it would drop one.

    Only ``keep_last`` drops stored rows: a stored key the batch
    repeats, or a stored key that is already duplicated (keep_last
    collapses pre-existing duplicates). The scan stops at the first
    such bucket. ``keep_first`` drops the incoming rows whose key is
    stored; ``error`` raises with the overlap summed over every
    touched bucket; ``keep_all`` reads no keys at all."""
    keep = np.ones(inc_tbl.num_rows, dtype=bool)
    if strategy == "keep_all" or not stored:
        return keep
    inc_keys = _key_index(inc_tbl, idx_cols)
    overlap = 0
    for b in stored:
        ex_keys = stored_keys(b)
        pos = rows[b]
        hit = inc_keys[pos].isin(ex_keys)
        if strategy == "keep_last" and (hit.any() or not ex_keys.is_unique):
            return None
        keep[pos] = ~hit
        overlap += int(hit.sum())
    if strategy == "error" and overlap:
        raise DataIntegrityError(
            f"append would create {overlap} duplicate index entries "
            "(duplicate_handling='error')"
        )
    return keep


def _append_buckets(
    col: Any, item: str, existing_item: Any, dataset: Any,
    data_cols: list[str], inc_tbl: pa.Table, idx_cols: list[str],
    plan: PartitionPlan, strategy: str, order_col: str | None,
    sidecar: dict,
) -> bool:
    """Time-layout append of client-typed ``inc_tbl``, scoped to the
    buckets its rows fall in (module docstring). When any touched
    bucket drops a stored row, EVERY touched bucket is rewritten: a
    buckets-scope commit replaces the files of each bucket it stages
    into, so an added file there would lose that bucket's stored rows.
    Incoming columns or types that differ from the stored schema force
    the rewrite too, so a bucket's files keep one schema. Reads and
    merges precede any filesystem mutation: a conversion failure still
    falls back to the Spark path (False); semantic errors propagate."""
    from pystore_spark import manifest as mf

    item_path = Path(existing_item.path)
    icol = idx_cols[0]
    try:
        labels = bucket_labels(inc_tbl.column(icol).to_pandas(), plan.freq)
        rows = labels.groupby(labels.to_numpy()).indices
        buckets = sorted(rows)
        live = mf.live_buckets(item_path)
        if live is None:
            from pystore_spark.fs import fs_for

            _fs = fs_for(item_path)
            live = {
                b for b in buckets
                if _fs.exists(item_path / f"{PARTITION_COL}={b}")
            }
        stored = [b for b in buckets if b in live]
        touched_bytes = mf.item_bytes(item_path, buckets=set(buckets))
        if touched_bytes + inc_tbl.nbytes > config.DRIVER_PATH_MAX_BYTES:
            return False

        def read_bucket(b: str, columns: list[str]) -> pa.Table:
            return normalize_read_types(
                dataset.to_table(
                    columns=columns, filter=pc.field(PARTITION_COL) == b
                )
            )

        empty = normalize_read_types(
            dataset.schema.empty_table().select(data_cols)
        )
        keep = _incoming_keep_mask(
            lambda b: _key_index(read_bucket(b, idx_cols), idx_cols),
            inc_tbl, idx_cols, rows, stored, strategy,
        )
        added = None
        if keep is not None:
            # merging into the empty stored schema applies the
            # within-batch tiebreak and strips order plumbing
            added = _merge_tables(
                empty, inc_tbl.filter(pa.array(keep)), idx_cols,
                strategy, order_col,
            )
            if [(f.name, f.type) for f in added.schema] != [
                (f.name, f.type) for f in empty.schema
            ]:
                added = None
        if added is None:
            sort_keys = [(c, "ascending") for c in idx_cols]

            def merge_bucket(b: str) -> pa.Table:
                ex = read_bucket(b, data_cols) if b in stored else empty
                out = _merge_tables(
                    ex, inc_tbl.take(rows[b]), idx_cols, strategy, order_col
                )
                out = out.take(pc.sort_indices(out, sort_keys=sort_keys))
                return out.cast(storage_schema(out.schema))

            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(8, len(buckets))) as pool:
                merged = list(pool.map(merge_bucket, buckets))
    except (ValidationError, DataIntegrityError):
        raise
    except Exception:
        return False

    man = existing_item._manifest
    expect, expect_dv = _observed_state(man)
    compression = plan.compression or "snappy"
    if added is None:
        col._install_buckets(
            item,
            lambda tmp: _write_files(
                [
                    (t, Path(tmp) / f"{PARTITION_COL}={b}"
                     / "part-00000.parquet")
                    for b, t in zip(buckets, merged)
                ],
                compression,
            ),
            sidecar,
            expect_files=expect,
            expect_dv=expect_dv,
        )
        return True
    if expect is not None:
        # the decision read these files' keys: a mask landing on any
        # of them since then conflicts (an add replaces no file, so
        # the buckets-scope check on replaced files would see nothing)
        expect_dv = {
            f: None
            for b in stored
            for f in expect.get(f"{PARTITION_COL}={b}", ())
        }

    def write_added(tmp) -> None:
        # every incoming row may be a keep_first loser: the commit
        # still lands (sidecar_extra, one version per append) with no
        # file added
        if added.num_rows:
            write_table_files(added, Path(tmp), plan, idx_cols)

    col._commit_staged(
        item, write_added, sidecar, scope="add",
        expect_files=expect, expect_dv=expect_dv,
    )
    return True


def _merged_to_table(
    merged: pd.DataFrame, ex_schema: pa.Schema, inc_schema: pa.Schema
) -> pa.Table:
    """Merged pandas frame → Arrow table under the union target schema
    (existing columns keep their stored types — int columns that picked
    up NaN during pandas alignment go back to int-with-null; incoming-
    only columns take their incoming types)."""
    fields = []
    for name in merged.columns:
        if name in ex_schema.names:
            f = ex_schema.field(name)
        elif name in inc_schema.names:
            f = inc_schema.field(name)
        else:  # pragma: no cover — merge only produces known columns
            f = pa.field(name, pa.string())
        fields.append(pa.field(f.name, f.type, True))
    target = pa.schema(fields)
    tbl = pa.Table.from_pandas(merged, schema=target, preserve_index=False)
    return normalize_read_types(tbl)
