"""pandas ↔ Spark type round-trip.

The reference flattens exotic pandas dtypes into Parquet-safe encodings
at write and restores them at read, with the recipe recorded in the
JSON sidecar (reference: pystore/dataframe.py:62-278,
pystore/collection.py:240-270, read-back pystore/item.py:67-93).

This module does the same for the Spark engine, but pandas-side work
happens only at the ingest/egress boundary — everything between is a
Spark DataFrame. Encodings:

| pandas               | storage                          | sidecar key |
|----------------------|----------------------------------|-------------|
| (Multi)Index         | plain columns                    | index       |
| tz-aware datetime    | UTC naive timestamp              | timezones   |
| datetime64[ns] w/ ns | + ``{col}__ns`` long (epoch ns)  | ns_columns  |
| Timedelta            | long nanoseconds                 | conversions |
| Period               | string + freq                    | conversions |
| Interval             | ``{col}__left``/``__right``      | conversions |
| Categorical          | string + categories/ordered      | conversions |
| list/tuple/ndarray   | native ArrayType (JSON fallback) | conversions |
| dict                 | native MapType (JSON fallback)   | conversions |
| other objects        | JSON string                      | conversions |
"""

from __future__ import annotations

import json
import warnings
from typing import Any

import numpy as np
import pandas as pd

from pystore_spark.exceptions import ValidationError

META_KEY = "_pandas_meta"
DEFAULT_INDEX_NAME = "index"


def _safe_json(value: Any) -> str | None:
    """Per-cell JSON encode with graceful fallback — reference:
    pystore/dataframe.py:87-102 (safe_json_dumps)."""
    def default(o: Any):
        if isinstance(o, set):
            return sorted(o, key=repr)
        if isinstance(o, np.ndarray):
            return o.tolist()
        if isinstance(o, (np.integer, np.floating, np.bool_)):
            return o.item()
        if isinstance(o, complex):
            return {"__complex__": [o.real, o.imag]}
        if isinstance(o, pd.DataFrame):
            return {"__frame__": o.to_dict(orient="list")}
        if isinstance(o, (pd.Timestamp, np.datetime64)):
            return str(o)
        return str(o)

    if value is None or (isinstance(value, float) and np.isnan(value)):
        return None
    try:
        return json.dumps(value, default=default)
    except Exception:
        return None


def _decode_json(s: Any) -> Any:
    if s is None or (isinstance(s, float) and np.isnan(s)):
        return None
    obj = json.loads(s)
    if isinstance(obj, dict) and "__complex__" in obj:
        re_, im = obj["__complex__"]
        return complex(re_, im)
    if isinstance(obj, dict) and "__frame__" in obj:
        return pd.DataFrame(obj["__frame__"])
    return obj


def validate_for_storage(pdf: pd.DataFrame) -> None:
    """Storage invariants — reference: pystore/dataframe.py:441-461."""
    cols = list(pdf.columns)
    if len(cols) != len(set(map(str, cols))):
        raise ValidationError("duplicate column names are not supported")
    if len(cols) > 1000:
        warnings.warn(f"DataFrame has {len(cols)} columns (>1000); "
                      "consider restructuring", stacklevel=3)


def flatten_pandas(
    pdf: pd.DataFrame, epochdate: bool = False,
    index_col: str | None = None,
) -> tuple[pd.DataFrame, dict]:
    """Flatten a pandas DataFrame into Parquet/Spark-safe columns and
    return (flat_frame, transform_metadata). Works on a copy.

    ``index_col`` promotes that COLUMN to the index before flattening
    (``write(pdf, index_col=...)`` used to honor it only for Spark
    input, silently keeping the pandas RangeIndex as the item's merge
    key — appends then upserted on row position, overwriting unrelated
    rows). A trivial unnamed RangeIndex is discarded; any other
    existing index is preserved as a column."""
    validate_for_storage(pdf)
    pdf = pdf.copy()
    if index_col is not None and (
        index_col != pdf.index.name
        and index_col not in (pdf.index.names or [])
    ):
        if index_col not in pdf.columns:
            raise ValidationError(
                f"index_col {index_col!r} not in columns "
                f"{list(pdf.columns)}"
            )
        # Only a POSITIONAL unnamed index is dropped (a fresh
        # RangeIndex, or the integer leftovers of a filtered frame) —
        # it cannot round-trip under a meaningful name and the caller
        # explicitly designated index_col as the key. Anything else —
        # a named index, a MultiIndex, or an unnamed NON-integer index
        # (e.g. a DatetimeIndex of event times) — is real data and is
        # preserved as a column.
        positional = (
            not isinstance(pdf.index, pd.MultiIndex)
            and pdf.index.name is None
            and (
                isinstance(pdf.index, pd.RangeIndex)
                or pd.api.types.is_integer_dtype(pdf.index.dtype)
            )
        )
        if not positional:
            try:
                pdf = pdf.reset_index()
            except ValueError as exc:
                # unnamed index colliding with an existing 'index'
                # column — fail with intent instead of pandas' message
                raise ValidationError(
                    "cannot promote index_col "
                    f"{index_col!r}: the frame's unnamed index would "
                    "reset into a column name that already exists; "
                    "name the index (df.index.name = ...) first"
                ) from exc
        pdf = pdf.set_index(index_col)
    meta: dict[str, Any] = {"index": {}, "timezones": {}, "conversions": {},
                            "ns_columns": []}

    # ---- index → columns (MultiIndex natural fit: SURVEY §1.3) ----
    if isinstance(pdf.index, pd.MultiIndex):
        names = [
            n if n is not None else f"level_{i}"
            for i, n in enumerate(pdf.index.names)
        ]
        meta["index"] = {"columns": names, "multi": True}
        pdf.index = pdf.index.set_names(names)
        pdf = pdf.reset_index()
    else:
        name = pdf.index.name if pdf.index.name else DEFAULT_INDEX_NAME
        meta["index"] = {
            "columns": [name],
            "multi": False,
            "named": pdf.index.name is not None,
        }
        pdf.index = pdf.index.rename(name)
        pdf = pdf.reset_index()

    conversions = meta["conversions"]
    for col in list(pdf.columns):
        s = pdf[col]
        dtype = s.dtype

        # tz-aware datetimes → UTC naive (session tz is UTC)
        if isinstance(dtype, pd.DatetimeTZDtype):
            meta["timezones"][col] = str(dtype.tz)
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            pdf[col] = s
            dtype = s.dtype

        if pd.api.types.is_datetime64_any_dtype(dtype):
            # int64 views are in the dtype's own unit (pandas 2 keeps
            # s/ms/us — pyarrow's to_pandas yields us); only an ns
            # column can hold sub-µs values, and the stored epoch /
            # shadow longs are always ns
            if s.dt.unit == "ns":
                vals = s.astype("int64", copy=False)
                if bool(((vals % 1000) != 0).any()):
                    # Spark timestamps are µs — persist full ns
                    # fidelity in a shadow long column and keep the
                    # visible column µs-aligned (safe Arrow
                    # conversion, no fallback)
                    pdf[col + "__ns"] = vals
                    meta["ns_columns"].append(col)
                    pdf[col] = pdf[col].dt.floor("us")
            if epochdate:
                # reference epochdate=True stores the index as epoch
                # int64 (pystore/utils.py:65-75)
                conversions[col] = {"kind": "epoch_ns"}
                pdf[col] = s.astype("datetime64[ns]").astype("int64")
            continue

        if pd.api.types.is_timedelta64_dtype(dtype):
            conversions[col] = {"kind": "timedelta_ns"}
            pdf[col] = s.astype("timedelta64[ns]").astype("int64")
            continue

        if isinstance(dtype, pd.PeriodDtype):
            freq = dtype.freq.freqstr
            conversions[col] = {"kind": "period", "freq": freq}
            pdf[col] = s.astype(str)
            continue

        if isinstance(dtype, pd.IntervalDtype):
            closed = getattr(s.array, "closed", "right")
            subtype = str(dtype.subtype)
            conversions[col] = {
                "kind": "interval", "closed": closed, "subtype": subtype,
            }
            pdf[col + "__left"] = s.array.left
            pdf[col + "__right"] = s.array.right
            pdf = pdf.drop(columns=[col])
            continue

        if isinstance(dtype, pd.CategoricalDtype):
            conversions[col] = {
                "kind": "categorical",
                "categories": [
                    c if isinstance(c, (str, int, float, bool)) else str(c)
                    for c in dtype.categories
                ],
                "ordered": bool(dtype.ordered),
            }
            pdf[col] = s.astype(str).where(s.notna(), None)
            continue

        if dtype == object:
            non_null = s.dropna()
            if non_null.empty:
                continue
            sample = non_null.iloc[: min(len(non_null), 100)]
            if all(isinstance(v, str) for v in sample):
                continue  # plain strings are Parquet-native
            if all(isinstance(v, (list, tuple, np.ndarray)) for v in sample):
                try:
                    pdf[col] = s.map(
                        lambda v: list(v) if v is not None else None,
                        na_action="ignore",
                    )
                    conversions[col] = {"kind": "array"}
                    continue
                except Exception:
                    pass
            if all(isinstance(v, dict) for v in sample) and not any(
                "__" in str(k) for v in sample for k in v
            ):
                # uniform dicts round-trip as JSON too (MapType needs
                # uniform value types; JSON is the safe general path)
                pass
            mixed = len({type(v).__name__ for v in sample}) > 1
            if mixed:
                warnings.warn(
                    f"column {col!r} has mixed object types; storing as JSON",
                    stacklevel=3,
                )
            conversions[col] = {"kind": "json"}
            pdf[col] = s.map(_safe_json, na_action="ignore")
            continue

    return pdf, meta


def restore_pandas(pdf: pd.DataFrame, meta: dict | None) -> pd.DataFrame:
    """Inverse of :func:`flatten_pandas` on a materialized pandas frame
    (applied after ``toPandas()``)."""
    if not meta:
        return pdf
    pdf = pdf.copy()
    conversions = meta.get("conversions", {})
    ns_columns = set(meta.get("ns_columns", []))
    tzs = meta.get("timezones", {})

    # rebuild ns-precision datetimes from the shadow long column
    for col in list(ns_columns):
        ns_col = col + "__ns"
        if ns_col in pdf.columns:
            pdf[col] = pd.to_datetime(pdf[ns_col], unit="ns")
            pdf = pdf.drop(columns=[ns_col])

    interval_cols = [
        (c, spec) for c, spec in conversions.items() if spec["kind"] == "interval"
    ]
    for col, spec in conversions.items():
        kind = spec["kind"]
        if kind == "epoch_ns" and col in pdf.columns:
            pdf[col] = pd.to_datetime(pdf[col], unit="ns")
        elif kind == "timedelta_ns" and col in pdf.columns:
            pdf[col] = pd.to_timedelta(pdf[col], unit="ns")
        elif kind == "period" and col in pdf.columns:
            freq = spec["freq"]
            # pandas freq alias fixups (reference notes 'ME'→'M':
            # pystore/dataframe.py:258-263)
            freq = {"ME": "M", "YE": "Y", "QE": "Q"}.get(freq, freq)
            pdf[col] = pd.PeriodIndex(pdf[col], freq=freq)
        elif kind == "categorical" and col in pdf.columns:
            # extend the recorded dictionary with values appended
            # AFTER the dtype optimizer recorded it — a frozen list
            # would silently turn new values into NaN on read
            cats = [str(c) for c in spec["categories"]]
            known = set(cats)
            extra = sorted(
                {
                    str(v)
                    for v in pdf[col].dropna().unique()
                    if str(v) not in known
                }
            )
            pdf[col] = pd.Categorical(
                pdf[col],
                categories=cats + extra,
                ordered=spec["ordered"],
            )
        elif kind == "json" and col in pdf.columns:
            pdf[col] = pdf[col].map(_decode_json, na_action="ignore")
        elif kind == "array" and col in pdf.columns:
            pdf[col] = pdf[col].map(
                lambda v: list(v) if v is not None else None, na_action="ignore"
            )

    for col, spec in interval_cols:
        left, right = col + "__left", col + "__right"
        if left in pdf.columns and right in pdf.columns:
            arr = pd.IntervalIndex.from_arrays(
                pdf[left], pdf[right], closed=spec["closed"]
            )
            pos = list(pdf.columns).index(left)
            pdf = pdf.drop(columns=[left, right])
            pdf.insert(min(pos, len(pdf.columns)), col, arr)

    for col, tz in tzs.items():
        if col in pdf.columns:
            pdf[col] = (
                pd.to_datetime(pdf[col]).dt.tz_localize("UTC").dt.tz_convert(tz)
            )

    idx = meta.get("index") or {}
    cols = [c for c in idx.get("columns", []) if c in pdf.columns]
    if cols:
        pdf = pdf.set_index(cols if idx.get("multi") else cols[0])
        if not idx.get("multi") and not idx.get("named", True):
            # unnamed single index stored under the default name —
            # keep the stored name (reference keeps "index")
            pass
    return pdf


def index_columns(meta: dict | None) -> list[str]:
    if not meta:
        return [DEFAULT_INDEX_NAME]
    cols = (meta.get("index") or {}).get("columns") or [DEFAULT_INDEX_NAME]
    return list(cols)
