"""Materialized query views: arbitrary collection SQL materialized as
a store item, with manifest-pinned freshness.

This generalizes the pinning protocol :mod:`pystore_spark.rollup`
uses for time-bucket aggregates (record the source manifest's file
list; "fresh" == the lists still match) from ONE source item and ONE
query shape to ANY ``Collection.sql`` query over ANY set of items.
A matview's sidecar records

* the SQL text itself (so ``refresh_matview`` is self-contained —
  nothing to re-pass, exactly like ``refresh_rollup``), and
* per-dependency ``{item: sorted(manifest file list)}`` captured
  BEFORE the query ran.

Freshness is a pure driver-side string comparison against the current
manifests — no data read, no timestamps (mtimes lie across object
stores), and it composes with every mutation path in the engine:
append, upsert, compact, delete_where, z-order rebalance all commit a
new file list, so all of them flip dependent matviews to stale.

Capturing the pin BEFORE executing the query makes the race with a
concurrent append safe in the conservative direction: if an append
commits between the capture and the scan, the matview may contain the
newer rows but is RECORDED as older — the next status check says
stale and a refresh converges. The reverse (recorded newer than the
data actually aggregated) can never happen.

Scale note (100 TB): the freshness check is O(manifest bytes) on the
driver; a refresh re-runs the recorded SQL, which plans exactly like
any other collection query (partition pruning, pushdown, broadcast).
Use :meth:`Collection.create_rollup` when the query IS a time-bucket
aggregate — its refresh is O(changed buckets); a matview refresh is a
full recompute of an arbitrary query, which is the honest cost of
generality.

Reference parity: the reference engine has no materialized views;
this is a beyond-reference capability. Its closest primitive is the
snapshot (reference: pystore/collection.py:238-294), which pins input
BYTES; a matview pins query RESULTS against those same manifests.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING, Sequence

if TYPE_CHECKING:  # pragma: no cover
    from pystore_spark.collection import Collection

MATVIEW_META_KEY = "_matview"

_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def infer_dependencies(collection: "Collection", query: str) -> list[str]:
    """Default dependency inference: collection items whose SQL view
    name appears as an identifier token in the query. A heuristic on
    purpose (a quoted string literal containing an item name counts
    as a hit — the only cost is a spurious stale), overridable with
    an explicit ``depends_on``."""
    mapping = collection.sql_view_names()
    tokens = set(_TOKEN_RE.findall(query))
    return sorted(n for n, view in mapping.items() if view in tokens)


def dep_state(collection: "Collection", items: Sequence[str]) -> dict:
    """``{item: sorted manifest file list}`` for the given items —
    the freshness pin. Items without a manifest (legacy layout) pin
    as an empty list; ``matview_status`` flags them under
    ``"unpinned"`` so the blind spot is visible."""
    from pystore_spark import utils

    out: dict[str, list[str]] = {}
    for n in items:
        man = utils.read_manifest(collection._item_path(n)) or {}
        out[n] = sorted(man.get("files") or [])
    return out


def dep_dv_state(collection: "Collection", items: Sequence[str]) -> dict:
    """``{item: deletion-vector map}`` companion pin: a dv-only
    commit (delete_where/update_where/merge_into mode='dv') changes a
    dependency's visible rows WITHOUT changing its file list, so the
    file pin alone would leave dependents fresh while they serve
    deleted rows."""
    from pystore_spark import utils

    out: dict[str, dict] = {}
    for n in items:
        man = utils.read_manifest(collection._item_path(n)) or {}
        out[n] = dict(man.get("dv") or {})
    return out


def stale_dependencies(collection: "Collection", spec: dict) -> dict:
    """Compare the recorded pin against current manifests. Returns
    ``{"stale": [...], "missing": [...], "unpinned": [...]}``."""
    pinned: dict = spec.get("dep_files") or {}
    pinned_dv: dict = spec.get("dep_dv") or {}
    stale, missing, unpinned = [], [], []
    for n, files in pinned.items():
        if not collection.item_exists(n):
            missing.append(n)
            continue
        if not files:
            unpinned.append(n)
        current = dep_state(collection, [n])[n]
        cur_dv = dep_dv_state(collection, [n])[n]
        # pre-dv specs pinned no dv map: treat as {} so a mask that
        # has since appeared flips stale (never silently fresh)
        if current != files or cur_dv != dict(pinned_dv.get(n) or {}):
            stale.append(n)
    return {"stale": stale, "missing": missing, "unpinned": unpinned}


_MERGE_FNS = ("sum", "min", "max")

# aggregates the engine AUTO-DECOMPOSES into mergeable state, exactly
# like Spark's own partial aggregation does (Average -> sum+count
# buffers; approx distinct -> a mergeable sketch):
#   avg                   -> SUM + COUNT companion columns; the output
#                            column recomputes as sum/count after the
#                            fold (Spark's Average.evaluateExpression)
#   approx_count_distinct -> a DataSketches HLL companion
#                            (hll_sketch_agg); sketch union is LOSSLESS
#                            (register-wise max), so the incremental
#                            estimate equals the full-rebuild estimate
#                            bit-for-bit. The output expression is
#                            rewritten to hll_sketch_estimate at CREATE
#                            time too — HyperLogLog++ inside Spark's
#                            approx_count_distinct exposes no sketch,
#                            so both paths must share the DataSketches
#                            estimator to agree.
_DECOMPOSABLE_FNS = ("avg", "approx_count_distinct")

#: prefix for engine-maintained companion columns stored IN the view
#: item alongside the user-visible output (the materialized analogue
#: of Spark's partial-agg buffer attributes)
IVM_COL_PREFIX = "__ivm_"


def _find_agg_item(query: str, fn: str, alias: str):
    """Locate ``FN ( <balanced> ) AS alias`` in the query text.
    Returns ``(start, end, inner_expr)`` spans over the full item or
    ``None``. Textual on purpose — consistent with the module's
    conservative textual screen; a miss is a loud create-time error,
    never a wrong result."""
    for m in re.finditer(rf"\b{fn}\s*\(", query, re.IGNORECASE):
        depth, i = 1, m.end()
        while i < len(query) and depth:
            if query[i] == "(":
                depth += 1
            elif query[i] == ")":
                depth -= 1
            i += 1
        if depth:
            continue
        inner = query[m.end(): i - 1].strip()
        tail = re.match(
            rf"\s+AS\s+{re.escape(alias)}\b", query[i:], re.IGNORECASE
        )
        if tail:
            return (m.start(), i + tail.end(), inner)
    return None


def decompose_query(query: str, merge: dict) -> tuple[str, dict, dict]:
    """Rewrite ``query`` so every ``avg`` / ``approx_count_distinct``
    merge column carries mergeable companion state. Returns
    ``(exec_query, companions, derived)`` where ``companions`` maps
    companion column -> fold function (``sum`` | ``hll_union``) and
    ``derived`` maps output column -> recompute spec applied after
    each incremental fold. Derived deterministically from
    (query, merge) at BOTH create and refresh — nothing new persists
    in the sidecar spec."""
    from pystore_spark.exceptions import ValidationError

    companions: dict[str, str] = {}
    derived: dict[str, tuple] = {}
    edits: list[tuple[int, int, str]] = []
    for col, fn in merge.items():
        if fn not in _DECOMPOSABLE_FNS:
            continue
        hit = _find_agg_item(query, fn, col)
        if hit is None:
            raise ValidationError(
                f"incremental merge declares {col!r} as {fn!r} but "
                f"`{fn.upper()}(...) AS {col}` was not found in the "
                "query text — alias the aggregate exactly, or "
                "decompose it manually into sum+count columns"
            )
        start, end, inner = hit
        if fn == "avg":
            s, c = f"{IVM_COL_PREFIX}sum__{col}", f"{IVM_COL_PREFIX}cnt__{col}"
            edits.append(
                (end, end, f", SUM({inner}) AS {s}, COUNT({inner}) AS {c}")
            )
            companions[s] = "sum"
            companions[c] = "sum"
            derived[col] = ("avg", s, c)
        else:
            h = f"{IVM_COL_PREFIX}hll__{col}"
            # hll_sketch_agg accepts only int/bigint/string/binary —
            # route through CAST(x AS STRING), which is injective for
            # the numeric/temporal types approx distinct is used on
            # and ignores nulls exactly like approx_count_distinct
            sk = f"hll_sketch_agg(CAST(({inner}) AS STRING))"
            edits.append((
                start, end,
                f"CAST(hll_sketch_estimate({sk}) AS BIGINT) AS {col}, "
                f"{sk} AS {h}",
            ))
            companions[h] = "hll_union"
            derived[col] = ("hll", h)
    exec_query = query
    for start, end, text in sorted(edits, reverse=True):
        exec_query = exec_query[:start] + text + exec_query[end:]
    return exec_query, companions, derived

# constructs that make "aggregate the delta, fold with sum/min/max"
# unsound even when keys+merge cover the output: post-aggregation
# filters/limits (HAVING/LIMIT/QUALIFY/OFFSET) can hide a group whose
# delta-local aggregate fails the filter while the total passes;
# DISTINCT, window functions (OVER) and set operations are not
# distributive; JOIN/LATERAL pair rows ACROSS the frame (a delta-only
# substitution loses every old×new pair — self-joins included); time
# travel pins its own file lists. The screen is TEXTUAL and
# conservative on purpose — a match merely falls back to the full
# rebuild, it never changes a result. A second structural check in
# try_incremental_refresh requires the dependency's view name to
# appear EXACTLY ONCE, which also catches scalar subqueries over the
# same table (``WHERE v > (SELECT avg(v) FROM ev)``).
_NON_DISTRIBUTIVE = re.compile(
    r"\b(HAVING|LIMIT|QUALIFY|OFFSET|DISTINCT|OVER|JOIN|LATERAL"
    r"|UNION|INTERSECT|EXCEPT)\b|\bAS\s+OF\b",
    re.IGNORECASE,
)


def _distributive_query(query: str) -> bool:
    return _NON_DISTRIBUTIVE.search(query) is None


def build_and_write(
    collection: "Collection",
    name: str,
    query: str,
    depends_on: Sequence[str] | None,
    overwrite: bool,
    index_col: str | None,
    incremental: dict | None = None,
    **write_kwargs,
) -> dict:
    """Capture the pin, run the SQL, write the item with the spec
    sidecar. Returns the spec written."""
    from pystore_spark.exceptions import ValidationError

    deps = (
        sorted(set(depends_on))
        if depends_on is not None
        else infer_dependencies(collection, query)
    )
    if not deps:
        raise ValidationError(
            "matview has no dependencies — pass depends_on explicitly "
            "(no collection item name appears in the query text)"
        )
    if name in deps:
        raise ValidationError(
            f"matview {name!r} cannot depend on itself"
        )
    pin = dep_state(collection, deps)  # BEFORE the scan — see module doc
    dv_pin = dep_dv_state(collection, deps)
    exec_query, companions = query, {}
    if incremental is not None:
        keys = list(incremental.get("keys") or [])
        merge = dict(incremental.get("merge") or {})
        bad = [
            f for f in merge.values()
            if f not in _MERGE_FNS + _DECOMPOSABLE_FNS
        ]
        if bad:
            raise ValidationError(
                f"incremental merge functions must be one of "
                f"{_MERGE_FNS + _DECOMPOSABLE_FNS}, got {bad} (COUNT "
                "merges as 'sum'; avg and approx_count_distinct are "
                "auto-decomposed into mergeable companion state; "
                "exact count distinct and medians cannot be merged "
                "and must stay full-rebuild)"
            )
        exec_query, companions, _ = decompose_query(query, merge)
        incremental = {"keys": keys, "merge": merge}
    df = collection.sql(exec_query, items=deps)
    if incremental is not None:
        declared = set(keys) | set(merge)
        visible = set(df.columns) - set(companions)
        missing = declared - visible
        if missing or visible - declared:
            raise ValidationError(
                "incremental spec must cover the query output exactly: "
                f"keys+merge={sorted(declared)} vs output columns "
                f"{sorted(visible)}"
            )
    spec = {
        "query": query,
        "depends_on": deps,
        "dep_files": pin,
        "dep_dv": dv_pin,
        "index_col": index_col,
        "incremental": incremental,
        # persisted so refreshes reproduce the create-time PHYSICAL
        # layout (freq/compression/npartitions) — a refresh must never
        # silently change how the view is stored
        "write_kwargs": dict(write_kwargs),
    }
    collection.write(
        name,
        df,
        overwrite=overwrite,
        index_col=index_col,
        sidecar_extra={MATVIEW_META_KEY: spec},
        **write_kwargs,
    )
    return spec


def try_incremental_refresh(
    collection: "Collection", name: str, spec: dict, stale: list
) -> dict | None:
    """Incremental view maintenance for algebraic aggregates: when the
    matview declared ``incremental={"keys": [...], "merge": {col:
    sum|min|max}}``, has exactly ONE dependency, and that dependency
    only GREW (pinned files ⊆ current files — pure appends, the
    append-only fact-table case), refresh by running the persisted SQL
    over the DELTA FILES ONLY and folding the partial aggregate into
    the stored view with the declared merge functions — O(new data) +
    O(view), never O(dependency). Anything else (compaction, deletes,
    multi-dep, time travel in the SQL) returns None and the caller
    does the honest full rebuild.

    The fold casts every merged column back to the stored view's
    exact type, so decimal sums don't creep up the precision ladder
    (sum(decimal(30,6)) → decimal(38,6)) and the schema stays stable
    across any number of refreshes."""
    from pyspark.sql import functions as F

    inc = spec.get("incremental")
    deps = spec.get("depends_on") or []
    if not inc or len(deps) != 1 or len(stale) != 1:
        return None
    if not _distributive_query(spec["query"]):
        return None
    dep0 = deps[0]
    view0 = collection.sql_view_names([dep0])[dep0]
    if len(
        [t for t in _TOKEN_RE.findall(spec["query"]) if t == view0]
    ) != 1:
        # the delta substitution rebinds EVERY reference of the view;
        # more than one (self-join arms, scalar subqueries over the
        # same table) would lose old×delta interactions — rebuild
        return None
    dep = deps[0]
    it = collection.item(dep)
    cur_files = sorted((it._manifest or {}).get("files") or [])
    pinned = list(spec["dep_files"].get(dep) or [])
    if not pinned or not set(pinned) <= set(cur_files):
        return None  # shrank or rewrote: delta is not expressible
    cur_dv = dict((it._manifest or {}).get("dv") or {})
    if cur_dv != dict((spec.get("dep_dv") or {}).get(dep) or {}):
        # a dv commit changed visible rows of CARRIED files — a
        # delete, which "aggregate the delta and fold" cannot
        # express; rebuild. (Equality also proves no delta file is
        # masked: masking one would have changed the map.)
        return None
    delta = [f for f in cur_files if f not in set(pinned)]
    if not delta:
        return None
    from pystore_spark import manifest as mf
    from pystore_spark.partition import PARTITION_COL
    from pystore_spark.utils import read_parquet

    base = mf.base_dir(it._path, it._manifest)
    ddf = read_parquet(collection.spark, [base / f for f in delta], base)
    if PARTITION_COL in ddf.columns:
        ddf = ddf.drop(PARTITION_COL)
    view = collection.sql_view_names([dep])[dep]
    ddf.createOrReplaceTempView(view)
    exec_query, companions, derived = decompose_query(
        spec["query"], inc["merge"]
    )
    try:
        # spark.sql resolves the relation eagerly, so the analyzed
        # plan survives the drop below; the drop keeps the delta
        # frame from shadowing the item for later SQL in the session
        part = collection.spark.sql(exec_query)
        old = collection.item(name).data
        old_types = {f.name: f.dataType for f in old.schema.fields}
        keys = inc["keys"]
        # fold list: plain sum/min/max outputs + companion state; the
        # decomposed outputs (avg / approx distinct) are NOT folded —
        # they recompute from their companions below, exactly like
        # Spark's Average.evaluateExpression over partial-agg buffers
        fold_fns = {
            c: fn for c, fn in inc["merge"].items() if c not in derived
        }
        fold_fns.update(companions)
        aggs = []
        for c, fn in fold_fns.items():
            if fn == "hll_union":
                # DataSketches HLL union is register-wise max — the
                # merged sketch equals the sketch of the union, so the
                # estimate matches a full rebuild exactly
                aggs.append(F.hll_union_agg(c).alias(c))
            else:
                aggs.append(
                    getattr(F, fn)(c).cast(old_types[c]).alias(c)
                )
        merged = (
            old.unionByName(part.select(*old.columns))
            .groupBy(*keys)
            .agg(*aggs)
        )
        for c, d in derived.items():
            if d[0] == "avg":
                _, s, cnt = d
                merged = merged.withColumn(
                    c,
                    F.when(
                        F.col(cnt) > 0, F.col(s) / F.col(cnt)
                    ).cast(old_types[c]),
                )
            else:
                _, h = d
                merged = merged.withColumn(
                    c, F.hll_sketch_estimate(F.col(h)).cast(old_types[c])
                )
        merged = merged.select(*old.columns)
        new_spec = {
            **spec,
            "dep_files": {dep: cur_files},
            "dep_dv": {dep: cur_dv},
        }
        collection.write(
            name,
            merged,
            overwrite=True,
            index_col=spec.get("index_col"),
            sidecar_extra={MATVIEW_META_KEY: new_spec},
            **(spec.get("write_kwargs") or {}),
        )
    finally:
        collection.spark.catalog.dropTempView(view)
    return {
        "mode": "incremental",
        "stale": stale,
        "delta_files": len(delta),
    }
