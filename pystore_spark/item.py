"""Item: a lazy Spark DataFrame over one partitioned Parquet dataset.

Reference: pystore/item.py:36-100. The scan is declarative —
``spark.read.parquet`` + ``filter`` + ``select`` — so Catalyst provides
predicate pushdown to Parquet row groups, column pruning, and (for
time-layout items) hive partition pruning on the derived ``_pb``
bucket column, onto which index range predicates are rewritten here.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pystore_spark import utils
from pystore_spark.exceptions import (
    ItemNotFoundError,
    SnapshotNotFoundError,
    VersionNotFoundError,
)
from pystore_spark.filters import filters_to_column
from pystore_spark.pandas_compat import META_KEY, index_columns, restore_pandas
from pystore_spark.partition import PARTITION_COL, PartitionPlan, bucket_value


def _prune_tuples(
    filters: Sequence | None, freq: str, index_cols: list[str]
) -> list:
    """Derive ``_pb`` predicates from index range predicates so the
    hive partition layout prunes directories before any file I/O.

    Bucket strings are zero-padded and lexicographically monotonic in
    time, so ``index >= X`` implies ``_pb >= bucket(X)``.
    """
    if not filters:
        return []
    flist = list(filters)
    if all(isinstance(f, tuple) and len(f) == 3 for f in flist):
        groups = [flist]
        single = True
    else:
        groups = [list(g) for g in flist]
        single = False
    out_groups = []
    for g in groups:
        extra = []
        for col, op, value in g:
            if col not in index_cols:
                continue
            try:
                if op in ("==", "="):
                    extra.append((PARTITION_COL, "==", bucket_value(freq, value)))
                elif op in (">", ">="):
                    extra.append((PARTITION_COL, ">=", bucket_value(freq, value)))
                elif op in ("<", "<="):
                    extra.append((PARTITION_COL, "<=", bucket_value(freq, value)))
                elif op == "in":
                    extra.append(
                        (PARTITION_COL, "in",
                         sorted({bucket_value(freq, v) for v in value}))
                    )
            except Exception:
                continue  # non-timestamp value; skip pruning for this term
        out_groups.append(g + extra)
    return out_groups[0] if single else out_groups


def _version_as_of(path: Path, ts: Any) -> int:
    """Largest committed version whose ``_updated`` stamp is ≤ ts.
    Stamps are zero-padded ``%Y-%m-%d %H:%M:%S.%f`` UTC strings, so
    chronological order IS lexicographic order; walk versions newest-
    first and stop at the first hit (cold path: O(versions-after-ts)
    single-object GETs, no data I/O). tz-aware inputs convert to UTC
    first (stamps are UTC; formatting the local wall time would
    shift the comparison by the UTC offset); naive inputs are taken
    as already-UTC."""
    if getattr(ts, "tzinfo", None) is not None:
        if hasattr(ts, "tz_convert"):  # pandas Timestamp
            ts = ts.tz_convert("UTC")
        else:  # stdlib datetime
            from datetime import timezone as _tz

            ts = ts.astimezone(_tz.utc)
    if hasattr(ts, "strftime"):
        ts = ts.strftime("%Y-%m-%d %H:%M:%S.%f")
    ts = str(ts)
    hit = None
    hit_upd = None
    for v in sorted(utils.list_versions(path), reverse=True):
        man = utils.read_version_manifest(path, v)
        if man is None:
            continue
        upd = str((man.get("metadata") or {}).get("_updated") or "")
        if hit is not None:
            # tie-break: metadata-only commits (stamp=False — analyze,
            # GC) inherit the prior _updated, so the NEWEST version at
            # this stamp may have been committed after ts. Resolve to
            # the SMALLEST version sharing the stamp — the one the
            # stamp actually belongs to — so the reported version is
            # never a commit that postdates ts.
            if upd == hit_upd:
                hit = v
                continue
            return hit
        if upd <= ts:
            hit, hit_upd = v, upd
    if hit is not None:
        return hit
    raise VersionNotFoundError(
        f"no committed version of {path} at or before {ts!r} "
        "is still readable (older history is GC'd on the stale-"
        "retention clock)"
    )


class Item:
    """Handle to one stored item; ``.data`` is the lazy DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        datastore: str,
        collection: str,
        item: str,
        snapshot: str | None = None,
        filters: Sequence | None = None,
        columns: Sequence[str] | None = None,
        version: int | None = None,
        as_of: Any = None,
    ):
        self.spark = spark
        self.datastore = str(datastore)
        self.collection = collection
        self.item = item
        self.snapshot = snapshot
        if (version is not None or as_of is not None) and snapshot:
            raise ValueError("version/as_of and snapshot are exclusive")
        if version is not None and as_of is not None:
            raise ValueError("pass either version or as_of, not both")

        from pystore_spark.fs import fs_for

        base = Path(datastore) / collection
        self._fs = fs_for(base)
        if snapshot:
            snap_root = base / utils.SNAPSHOT_DIR / snapshot
            if not self._fs.exists(snap_root):
                raise SnapshotNotFoundError(
                    f"snapshot {snapshot!r} does not exist in collection "
                    f"{collection!r}"
                )
            self._path = snap_root / item
            if not self._fs.exists(self._path):
                raise ItemNotFoundError(
                    f"item {item!r} does not exist in snapshot {snapshot!r}"
                )
        else:
            self._path = base / item
            if not self._fs.exists(self._path):
                raise ItemNotFoundError(
                    f"item {item!r} does not exist in collection {collection!r}"
                )

        self._manifest = utils.read_manifest(self._path)
        if as_of is not None:
            version = _version_as_of(self._path, as_of)
        if version is not None:
            self._manifest = self._resolve_version(int(version))
        self.version = (
            int(self._manifest.get("version", 0))
            if self._manifest is not None
            else None
        )
        self.metadata = (
            (self._manifest.get("metadata") or {})
            if self._manifest is not None
            else utils.read_metadata(self._path)
        )
        self._pandas_meta = self.metadata.get(META_KEY) or {}
        self._plan = PartitionPlan.from_dict(self.metadata.get("_partition_plan"))
        self._index_cols = index_columns(self._pandas_meta)
        self._filters = filters
        self._columns = list(columns) if columns is not None else None
        self._df: DataFrame | None = None

    @property
    def path(self) -> str:
        return str(self._path)

    @property
    def index_column(self) -> str:
        return self._index_cols[0]

    def _resolve_version(self, version: int) -> dict:
        """Time-travel: the manifest as of commit ``version``, with a
        driver-side availability check against the CURRENT manifest —
        a historical file is on disk iff it is still live or still in
        the stale-retention map (O(1) set math, no per-file stats)."""
        man = utils.read_version_manifest(self._path, version)
        if man is None:
            raise VersionNotFoundError(
                f"version {version} of item {self.item!r} is unknown "
                f"or GC'd; readable versions: "
                f"{utils.list_versions(self._path)}"
            )
        cur = self._manifest
        if cur is None:
            raise VersionNotFoundError(
                f"item {self.item!r} has no manifest (legacy layout); "
                "time travel requires manifest commits"
            )
        if int(cur.get("version", 0)) != int(version):
            avail = set(cur.get("files") or []) | set(
                cur.get("stale") or {}
            )
            missing = [
                f for f in (man.get("files") or []) if f not in avail
            ]
            if missing:
                raise VersionNotFoundError(
                    f"version {version} of item {self.item!r} "
                    f"references {len(missing)} file(s) already "
                    "garbage-collected (beyond the stale-retention "
                    "window)"
                )
        return man

    def _resolved_filters(self) -> Sequence | None:
        """Input filters, augmented with derived ``_pb`` bucket terms
        for time-layout items (partition pruning)."""
        if self._plan is not None and self._plan.kind == "time":
            return _prune_tuples(self._filters, self._plan.freq, self._index_cols)
        return self._filters

    def raw_frame(self) -> DataFrame:
        """Unfiltered, unprojected DataFrame over the item's LIVE files
        (manifest-resolved), with the ``_pb`` partition column intact —
        the scan the engine's own merge paths build on. Readers staying
        on the manifest never observe a mid-commit state; a raw
        ``spark.read.parquet(dir)`` would also pick up staged and
        stale-retained files."""
        self._require_spark_fs()
        if self._manifest is not None:
            from pystore_spark import manifest as mf

            base = mf.base_dir(self._path, self._manifest)
            files = [
                str(base / f) for f in (self._manifest.get("files") or [])
            ]
            if files:
                df = utils.read_parquet(self.spark, files, base)
                return self._apply_dv(df)
        return utils.read_parquet(self.spark, self._path)

    def _apply_dv(self, df: DataFrame) -> DataFrame:
        """Apply the manifest's deletion-vector mask (dv.py) to a
        direct parquet scan. Identity when the item has no masks.
        EVERY Spark read of manifest files routes through here —
        including raw_frame, which the rewrite paths (compact,
        bucket-merge append, rebalance) build on, so any rewrite
        materializes the mask and the departing files' dv entries can
        be dropped at commit."""
        from pystore_spark import dv as dvm
        from pystore_spark import manifest as mf

        man = self._manifest
        if not dvm.dv_map(man):
            return df
        mask = dvm.mask_frame(self.spark, self._path, man)
        if mask is None:
            return df
        return dvm.apply_mask(
            df, mask, dvm.dv_total(man), mf.base_dir(self._path, man)
        )

    def _require_spark_fs(self) -> None:
        from pystore_spark.exceptions import StorageError

        if not self._fs.spark_readable:
            raise StorageError(
                f"Spark scan of item {self.item!r} requires Spark-"
                "accessible storage; this backend is driver-side only "
                "(use to_pandas(engine='arrow') / read_in_chunks)"
            )

    def _bloom_prune(
        self, rels: list[str], filters: Sequence | None
    ) -> tuple[list[str], bool]:
        """Bloom pass over the zonemap-pruned candidates (bloom.py):
        equality/``in`` terms on the item's ``_bloom_columns`` drop
        files whose per-file filter proves the value absent. Returns
        ``(files, proven_empty)``; any failure (no sidecars, columns
        enabled after these files were written, unreadable sidecar)
        degrades to no pruning, never to a wrong answer. Snapshot and
        versioned reads resolve sidecars through the manifest's base
        dir — the live item dir that owns the data files."""
        man = self._manifest or {}
        bcols = (man.get("metadata") or {}).get("_bloom_columns") or []
        if not bcols or not rels or not filters:
            return rels, False
        from pystore_spark import bloom as bl
        from pystore_spark import manifest as mf

        blooms = getattr(self, "_bloom_rows", None)
        if blooms is None:
            # memoized per handle — scan_report + .data on the same
            # Item share one sidecar read; a fresh collection.item()
            # call re-reads (the handle pins one manifest anyway)
            try:
                blooms = bl.load(
                    mf.base_dir(self._path, man), self._fs,
                    cols=list(bl.normalize_bloom_cols(bcols)),
                )
            except Exception:
                blooms = {}
            self._bloom_rows = blooms
        if not blooms:
            return rels, False
        return bl.prune(rels, filters, blooms, bcols)

    def _load(self) -> DataFrame:
        self._require_spark_fs()
        filters = self._resolved_filters()
        if self.metadata.get("_bucket_spec"):
            # bucketed item: the scan must come from the catalog table
            # (bucketed.py) or Spark drops the HashPartitioning that
            # makes co-located joins exchange-free; filters/projection
            # still push down through the relation like any scan
            from pystore_spark import bucketed as bk
            from pystore_spark import dv as dvm

            df = bk.bucketed_frame(self)
            if dvm.dv_map(self._manifest):
                # deletion-vector mask over the catalog scan: the view
                # files are hard links (same bytes, same row
                # positions, same BASENAME), so the mask joins on
                # basename; the mask side broadcasts, which preserves
                # the relation's HashPartitioning — co-located joins
                # stay shuffle-free
                mask = dvm.mask_frame(
                    self.spark, self._path, self._manifest
                )
                if mask is not None:
                    dvm.assert_basename_injective(
                        self._manifest.get("files") or []
                    )
                    df = dvm.apply_mask_basename(
                        df, mask, dvm.dv_total(self._manifest)
                    )
            cond = filters_to_column(filters)
            if cond is not None:
                df = df.filter(cond)
            if self._columns is not None:
                # same projection the generic path produces — keeps
                # the __ns nanosecond shadow columns a pandas restore
                # needs (see _projected_columns)
                df = df.select(*self._projected_columns(df.columns))
            return df
        if self._manifest is not None:
            from pystore_spark import manifest as mf

            base = mf.base_dir(self._path, self._manifest)
            rels = mf.prune_files(
                self._manifest.get("files") or [],
                filters,
                stats=self._manifest.get("stats"),
            )
            rels, bloom_empty = self._bloom_prune(rels, filters)
            if bloom_empty:
                # result proven empty — one file supplies the schema;
                # filter(false) below folds it to an empty relation,
                # so the probe never pays listing/footer reads over
                # the full candidate set (measured 160-file items:
                # miss probes went from O(files) to flat)
                rels = rels[:1]
            if rels:
                df = utils.read_parquet(
                    self.spark, [base / r for r in rels], base
                )
                if not bloom_empty:
                    df = self._apply_dv(df)
            else:
                df = utils.read_parquet(self.spark, self._path)
        else:
            bloom_empty = False
            df = utils.read_parquet(self.spark, self._path)
        cond = filters_to_column(filters)
        if cond is not None:
            df = df.filter(cond)
        if bloom_empty:
            # the bloom pass PROVED no live file holds a matching row
            # (no false negatives); filter(false) folds the whole scan
            # to an empty relation with the item's schema — a point-
            # lookup miss costs zero file reads
            df = df.filter(F.lit(False))
        if PARTITION_COL in df.columns:
            df = df.drop(PARTITION_COL)
        if self._columns is not None:
            keep = [c for c in self._index_cols if c not in self._columns]
            ns_shadow = [
                c + "__ns"
                for c in (self._pandas_meta.get("ns_columns") or [])
                if (c in self._columns or c in keep) and c + "__ns" in df.columns
            ]
            df = df.select(*keep, *self._columns, *ns_shadow)
        return df

    @property
    def data(self) -> DataFrame:
        if self._df is None:
            self._df = self._load()
        return self._df

    def resample(
        self,
        unit: str,
        aggs: dict,
        dims: Sequence[str] = (),
    ) -> DataFrame:
        """Ad-hoc downsampling over this handle's (filtered) data —
        the pandas ``.resample()`` idiom as one keyed aggregation:
        ``item.resample("day", {"px": ["open", "max", "min",
        "close"], "qty": ["sum"]})``. Plain aggregates share the
        rollup builder's decimal-exact sums; ``open``/``close``
        compile to ``min_by``/``max_by`` on the index (no window, no
        sort). For a MAINTAINED aggregate use
        ``Collection.create_rollup`` — this is the one-shot query."""
        from pystore_spark import rollup as R
        from pystore_spark.exceptions import ValidationError

        if unit not in R._UNITS:
            raise ValidationError(
                f"unsupported resample unit {unit!r}; "
                f"supported: {R._UNITS}"
            )
        idx = self.index_column
        base_aggs: dict[str, list[str]] = {}
        extra = []
        for col, fns in aggs.items():
            plain = [f for f in fns if f in R._AGG_FNS]
            if plain:
                base_aggs[col] = plain
            for f in fns:
                if f == "open":
                    extra.append(
                        F.min_by(col, idx).alias(f"{col}_open")
                    )
                elif f == "close":
                    extra.append(
                        F.max_by(col, idx).alias(f"{col}_close")
                    )
                elif f not in R._AGG_FNS:
                    raise ValidationError(
                        f"unsupported resample aggregate {f!r}; "
                        f"supported: {sorted(R._AGG_FNS)} + "
                        "['open', 'close']"
                    )
        exprs = (R.agg_exprs(base_aggs) if base_aggs else []) + extra
        if not exprs:
            raise ValidationError("resample needs at least one aggregate")
        bucket = F.date_trunc(unit, F.col(idx)).alias("bucket")
        return self.data.groupBy(
            bucket, *[F.col(d) for d in dims]
        ).agg(*exprs)

    def stats(self) -> dict | None:
        """Column statistics recorded by ``Collection.analyze`` (or
        None if never analyzed). ``as_of_version`` vs
        ``self.version`` tells you how stale they are."""
        return self.metadata.get("_column_stats")

    def scan_report(self) -> dict:
        """What the driver-side pruning achieves for this handle's
        filters BEFORE Spark schedules a single task: live file count,
        files surviving bucket + zonemap pruning, and the byte totals
        of each (from the manifest's size map — no filesystem I/O).
        The observability hook for layout tuning: after a
        ``rebalance_partitions(zorder=...)`` the selected share for a
        multi-dimensional predicate should collapse."""
        from pystore_spark import manifest as mf

        if self._manifest is None:
            return {
                "n_files_live": None,
                "n_files_selected": None,
                "bytes_live": None,
                "bytes_selected": None,
                "note": "legacy item (no manifest) — Spark lists files",
            }
        files = list(self._manifest.get("files") or [])
        flt = self._resolved_filters()
        rels = mf.prune_files(
            files, flt, stats=self._manifest.get("stats")
        )
        rels, bloom_empty = self._bloom_prune(rels, flt)
        sizes = self._manifest.get("sizes") or {}

        def tot(fl):
            return sum(int(sizes.get(r, 0)) for r in fl)

        return {
            "n_files_live": len(files),
            "n_files_selected": 0 if bloom_empty else len(rels),
            "bytes_live": tot(files),
            "bytes_selected": 0 if bloom_empty else tot(rels),
            "bloom_proven_empty": bloom_empty,
            "filters": list(flt) if flt else [],
        }

    def _arrow_dataset_and_filter(self):
        """(pyarrow dataset, filter expression) for this item — the
        shared plumbing of every driver-side Arrow read (to_pandas,
        index, read_in_chunks): DNF filter pushdown, hive ``_pb``
        partition pruning, NO Spark job."""
        import pyarrow as pa
        import pyarrow.dataset as pa_ds

        from pystore_spark.filters import filters_to_arrow_expression

        from pystore_spark import dv as dvm

        if dvm.dv_map(self._manifest):
            from pystore_spark.exceptions import StorageError

            # positional masks need row indexes, which the arrow
            # dataset scan does not surface; the Spark path applies
            # them (engine='auto' callers fall back transparently)
            raise StorageError(
                f"item {self.item!r} carries deletion-vector masks — "
                "the driver-side Arrow fast path cannot apply "
                "positional masks; use the Spark read (engine='spark' "
                "/ Item.data) or compact() to materialize the deletes"
            )
        flt = self._resolved_filters()
        pa_fs = self._fs.as_pyarrow_filesystem()
        partitioning = pa_ds.partitioning(
            pa.schema([(PARTITION_COL, pa.string())]), flavor="hive"
        )
        if self._manifest is not None:
            from pystore_spark import manifest as mf

            base = mf.base_dir(self._path, self._manifest)
            rels = mf.prune_files(self._manifest.get("files") or [], flt)
            # bloom pass: a proven-empty verdict still reads one
            # pruned dataset — the arrow filter yields the empty frame
            # with the right schema, no short-circuit needed
            rels, _bloom_empty = self._bloom_prune(rels, flt)
            if rels:
                dataset = pa_ds.dataset(
                    [str(base / r) for r in rels],
                    format="parquet",
                    partitioning=partitioning,
                    partition_base_dir=str(base),
                    filesystem=pa_fs,
                )
                expr = filters_to_arrow_expression(
                    flt, schema=dataset.schema
                )
                return dataset, expr
        # legacy directory-listing layout. _pb=... hive dirs start with
        # '_', which the default ignore_prefixes would skip — list the
        # ignores explicitly.
        dataset = pa_ds.dataset(
            str(self._path),
            format="parquet",
            partitioning=partitioning,
            ignore_prefixes=[
                ".", "_pystore_metadata", "_manifest", "_SUCCESS",
                "_committed", "_started", "_versions", "_blooms",
            ],
            filesystem=pa_fs,
        )
        expr = filters_to_arrow_expression(flt, schema=dataset.schema)
        return dataset, expr

    def _projected_columns(self, schema_names: Sequence[str]) -> list[str]:
        """The column list ``_load``'s projection produces, computed
        from a schema name list — lets the Arrow path build the same
        projection without touching Spark (required for non-Spark
        backends, and skips plan analysis on the client read path)."""
        names = [c for c in schema_names if c != PARTITION_COL]
        if self._columns is None:
            return names
        keep = [c for c in self._index_cols if c not in self._columns]
        ns_shadow = [
            c + "__ns"
            for c in (self._pandas_meta.get("ns_columns") or [])
            if (c in self._columns or c in keep) and c + "__ns" in names
        ]
        return [*keep, *self._columns, *ns_shadow]

    def _arrow_table(self, columns: list[str] | None = None):
        """Driver-side read via ``pyarrow.dataset`` — the client-read
        fast path: a store client shouldn't pay scheduler+shuffle
        latency to fetch an item it can stream straight off storage.
        Storage timestamps (µs adjusted-to-UTC) come back as the
        pandas-facing naive-ns convention. ``columns=None`` applies
        the item's own projection."""
        from pystore_spark import dv as dvm
        from pystore_spark.arrow_path import normalize_read_types

        if dvm.dv_map(self._manifest):
            return self._arrow_table_masked(columns)
        dataset, expr = self._arrow_dataset_and_filter()
        if columns is None:
            columns = self._projected_columns(dataset.schema.names)
        return normalize_read_types(
            dataset.to_table(columns=columns, filter=expr)
        )

    def _arrow_table_masked(self, columns: list[str] | None = None):
        """Driver-side read of a deletion-vector-masked item — the
        client fast path stays Spark-free under masks: unmasked files
        stream through one pruned dataset with full pushdown; each
        MASKED file is read positionally (mask exclusion needs row
        alignment, so its DNF filter applies after the mask, in
        memory). Output is identical to the Spark read."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as pa_ds
        import pyarrow.parquet as pq

        from pystore_spark import dv as dvm
        from pystore_spark import manifest as mf
        from pystore_spark.arrow_path import normalize_read_types
        from pystore_spark.filters import filters_to_arrow_expression

        man = self._manifest
        dvmap = dvm.dv_map(man)
        base = mf.base_dir(self._path, man)
        flt = self._resolved_filters()
        rels = mf.prune_files(
            man.get("files") or [], flt, stats=man.get("stats")
        )
        rels, bloom_empty = self._bloom_prune(rels, flt)
        pa_fs = self._fs.as_pyarrow_filesystem()
        file_schema = pq.read_schema(
            str(base / (rels or man["files"])[0]), filesystem=pa_fs
        )
        proj = (
            columns
            if columns is not None
            else self._projected_columns(file_schema.names)
        )
        proj = [c for c in proj if c != PARTITION_COL]
        empty = pa.table(
            {
                c: pa.array([], type=file_schema.field(c).type)
                for c in proj
            }
        )
        if bloom_empty or not rels:
            return normalize_read_types(empty)
        masked = [r for r in rels if r in dvmap]
        clean = [r for r in rels if r not in dvmap]
        # the post-mask filter evaluates on the FILE columns: a
        # positional file read has no hive partition column, so ``_pb``
        # terms are resolved PER FILE against the file's bucket value
        # (recovered from its rel path) to True/False constants and the
        # DNF simplified — exact, unlike blanket stripping, which used
        # to silently NARROW a disjunct consisting only of _pb terms.
        def _pb_of(rel):
            for seg in rel.split("/"):
                if seg.startswith(PARTITION_COL + "="):
                    return seg.split("=", 1)[1]
            return None

        def _eval_pb(op, val, b):
            try:
                if op in ("==", "="):
                    return b == val
                if op == "!=":
                    return b != val
                if op == ">=":
                    return b >= val
                if op == ">":
                    return b > val
                if op == "<=":
                    return b <= val
                if op == "<":
                    return b < val
                if op == "in":
                    return b in val
                if op == "not in":
                    return b not in val
            except TypeError:
                return None
            return None  # unknown op / incomparable → can't resolve

        def _strip_pb_for(f, bucket):
            """Resolve _pb terms against this file's bucket value.
            Returns ``(filter_or_None, keep_file)``: a True term drops
            out of its conjunct (redundant), a False term kills its
            disjunct, an unresolvable term drops out (widens the
            conjunct — the derived companion's index term still
            filters exactly). A disjunct emptied by True/unresolved
            terms makes the whole filter TRUE (read all rows); all
            disjuncts False skips the file entirely."""
            if not f:
                return f, True
            single = all(isinstance(t, tuple) for t in f)
            groups = [list(f)] if single else [list(g) for g in f]
            out = []
            for g in groups:
                g2 = []
                dead = False
                for t in g:
                    if t[0] != PARTITION_COL:
                        g2.append(t)
                        continue
                    v = (
                        _eval_pb(t[1], t[2], bucket)
                        if bucket is not None
                        else None
                    )
                    if v is False:
                        dead = True
                        break
                if dead:
                    continue
                if not g2:
                    return None, True  # TRUE disjunct → no filter
                out.append(g2)
            if not out:
                return None, False  # every disjunct false
            return (out[0] if single else out), True

        # filter columns must be read alongside the projection so the
        # post-mask filter can evaluate, then dropped again
        fcols = sorted(
            {
                t[0]
                for grp in (flt or [])
                for t in ([grp] if isinstance(grp, tuple) else grp)
                if t and t[0] != PARTITION_COL
                and t[0] in file_schema.names
            }
        )
        read_cols = list(dict.fromkeys([*proj, *fcols]))
        parts: list[pa.Table] = []
        if clean:
            partitioning = pa_ds.partitioning(
                pa.schema([(PARTITION_COL, pa.string())]), flavor="hive"
            )
            dataset = pa_ds.dataset(
                [str(base / r) for r in clean],
                format="parquet",
                partitioning=partitioning,
                partition_base_dir=str(base),
                filesystem=pa_fs,
            )
            expr = filters_to_arrow_expression(
                flt, schema=dataset.schema
            )
            parts.append(dataset.to_table(columns=proj, filter=expr))
        # masked positions, one read per referenced dv dir
        by_ref: dict[str, list[str]] = {}
        for r in masked:
            by_ref.setdefault(dvmap[r]["ref"], []).append(r)
        drop: dict[str, set[int]] = {}
        for ref, rs in by_ref.items():
            t = pa_ds.dataset(
                str(base / ref), format="parquet", filesystem=pa_fs
            ).to_table(
                columns=["file", "pos"],
                filter=pa_ds.field("file").isin(rs),
            )
            for f_, p_ in zip(
                t.column("file").to_pylist(), t.column("pos").to_pylist()
            ):
                drop.setdefault(f_, set()).add(int(p_))
        for r in masked:
            flt_file, keep_file = _strip_pb_for(flt, _pb_of(r))
            if not keep_file:
                continue  # every disjunct false for this bucket
            pf = pq.ParquetFile(str(base / r), filesystem=pa_fs)
            gone = np.fromiter(
                drop.get(r, ()), dtype=np.int64
            )
            batches = []
            offset = 0
            for batch in pf.iter_batches(columns=read_cols):
                n = batch.num_rows
                keep = ~np.isin(
                    np.arange(offset, offset + n), gone
                )
                offset += n
                if keep.all():
                    batches.append(batch)
                elif keep.any():
                    batches.append(batch.filter(pa.array(keep)))
            if batches:
                tbl = pa.Table.from_batches(batches)
            else:
                tbl = pa.table(
                    {
                        c: pa.array(
                            [], type=file_schema.field(c).type
                        )
                        for c in read_cols
                    }
                )
            if flt_file:
                expr = filters_to_arrow_expression(
                    flt_file, schema=tbl.schema
                )
                if expr is not None:
                    tbl = tbl.filter(expr)
            parts.append(tbl.select(proj))
        # unify nullability before concat: Spark marks the appended
        # copies' columns non-nullable while the originals read back
        # nullable — same types, different flags
        target = pa.schema(
            [(c, file_schema.field(c).type) for c in proj]
        )
        out = (
            pa.concat_tables([p.cast(target) for p in parts])
            if parts
            else empty
        )
        return normalize_read_types(out)

    def _restore_meta(self, pdf_columns) -> dict:
        meta = self._pandas_meta
        if self._columns is not None and meta:
            meta = dict(meta)
            meta["conversions"] = {
                c: s
                for c, s in (meta.get("conversions") or {}).items()
                if c in pdf_columns or c + "__left" in pdf_columns
            }
        return meta

    def to_pandas(self, sort: bool = True, engine: str = "auto") -> pd.DataFrame:
        """Materialize and apply inverse type transforms (reference:
        pystore/item.py:67-93).

        ``engine="auto"`` streams the parquet directly through
        pyarrow (no Spark job — measured ~30× faster for full-item
        client reads) and falls back to the Spark collect path if the
        Arrow read fails; ``"spark"``/``"arrow"`` force a path.
        """
        if engine in ("auto", "arrow"):
            try:
                pdf = self._arrow_table().to_pandas()
                if sort:
                    present = [
                        c for c in self._index_cols if c in pdf.columns
                    ]
                    if present:
                        # na_position='first' matches Spark orderBy's
                        # nulls-first default so both engines agree
                        pdf = pdf.sort_values(
                            present, kind="mergesort", na_position="first"
                        ).reset_index(drop=True)
                return restore_pandas(pdf, self._restore_meta(pdf.columns))
            except Exception:
                if engine == "arrow":
                    raise
        df = self.data
        if sort:
            present = [c for c in self._index_cols if c in df.columns]
            if present:
                df = df.orderBy(*present)
        pdf = df.toPandas()
        return restore_pandas(pdf, self._restore_meta(pdf.columns))

    def n_rows(self) -> int:
        """EXACT row count from parquet footers — O(live files) footer
        reads on the driver, no Spark job, no data I/O. At 100 TB a
        ``data.count()`` schedules a cluster scan to learn a number
        the footers already store; this answers the monitoring /
        sanity-check shape ("did the append land?") in milliseconds.
        Counts the FULL item: a handle carrying row filters falls
        back to the filtered Spark count (footers can't apply
        predicates exactly)."""
        if self._filters:
            return int(self.data.count())
        import pyarrow.parquet as pq

        pa_fs = self._fs.as_pyarrow_filesystem()
        if self._manifest is not None:
            from pystore_spark import manifest as mf

            base = mf.base_dir(self._path, self._manifest)
            paths = [
                str(base / r) for r in (self._manifest.get("files") or [])
            ]
        else:
            paths = self._fs.list_files(self._path, ".parquet")
        total = 0
        for p in paths:
            total += pq.ParquetFile(
                p, filesystem=pa_fs
            ).metadata.num_rows
        if self._manifest is not None:
            # merge-on-read deletes: footer counts include masked rows;
            # the manifest records each file's masked count (dv.py)
            from pystore_spark import dv as dvm

            total -= dvm.dv_total(self._manifest)
        return total

    def head(self, n: int = 5) -> pd.DataFrame:
        df = self.data
        present = [c for c in self._index_cols if c in df.columns]
        pdf = df.orderBy(*present).limit(n).toPandas() if present else (
            df.limit(n).toPandas()
        )
        return restore_pandas(pdf, self._pandas_meta)

    def tail(self, n: int = 5) -> pd.DataFrame:
        df = self.data
        present = [c for c in self._index_cols if c in df.columns]
        if present:
            pdf = (
                df.orderBy(*[F.col(c).desc() for c in present])
                .limit(n)
                .toPandas()
                .iloc[::-1]
                .reset_index(drop=True)
            )
        else:
            pdf = df.limit(n).toPandas()
        return restore_pandas(pdf, self._pandas_meta)

    def index(self, last: bool = False) -> Any:
        """Index-only scan; ``last=True`` returns max(index) (fixes the
        reference's repr-parsing: pystore/collection.py:149-156)."""
        col = self.index_column
        if last:
            if not self._fs.spark_readable:
                return self._arrow_table([col]).to_pandas()[col].max()
            return self.data.agg(F.max(col).alias("last")).first()["last"]
        try:
            # index-only Arrow scan: one column, no Spark job
            return self._arrow_table([col]).to_pandas()[col]
        except Exception:
            return self.data.select(col).toPandas()[col]
