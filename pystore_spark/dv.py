"""Deletion vectors — merge-on-read row-level DELETE.

``delete_where(item, filters, mode="dv")`` removes rows WITHOUT
rewriting any data file: the matching rows' positions are written to a
small deletion-vector parquet under ``_dv/`` and the manifest's
``dv`` map points each masked data file at it. Readers anti-join the
mask on ``(file basename, row position)`` — the positions come from
Spark's ``_metadata.row_index`` parquet metadata column, so the join
keys cost no extra storage and survive any scan order.

Why this matters at 100 TB: the rewrite mode re-reads and re-writes
every FILE containing a matching row — a GDPR-style delete of a few
thousand rows scattered across a 100k-file item rewrites terabytes.
The dv mode's cost is O(matching rows) + one manifest CAS, full stop.

Consistency model (the part that must be airtight):

* **Mask lifetime = file lifetime.** The ``dv`` map is keyed by data
  file rel path; ``write_manifest`` prunes it to the live file list at
  every commit. That is SOUND because every rewrite path in the engine
  (compaction, bucket-merge append, rewrite delete, rebalance) reads
  through ``Item.raw_frame``/``Item.data``, which apply the mask — a
  replacement file is born with the mask materialized, so dropping the
  departed file's entry can never resurrect rows.
* **Masks only grow.** A second dv delete on an already-masked file
  writes the UNION of old+new positions into the new commit's dv
  parquet and re-points the file's entry. Old dv dirs may still be
  referenced by OTHER files' entries or by older version manifests;
  stale subset rows in them are harmless (anti-join is idempotent) and
  GC reclaims unreferenced dirs on the stale-retention clock.
* **Time travel / snapshots** carry the map inside their manifests and
  therefore see exactly their version's mask. Pre-delete versions show
  the rows; post-delete versions don't.
* **Derived freshness** (matviews, rollups, incremental indexes) pins
  include the dv map, so a dv-only commit flips dependents stale just
  like a file-set change.

File naming is the load-bearing assumption of the basename join key:
the staging protocol gives every live file a commit-token-unique
basename (collection._commit_staged). :func:`assert_basename_injective`
checks the invariant over the live set before every basename-keyed
mask join and refuses otherwise — hand-copied/imported files or a
legacy layout must fail loudly, not silently drop the wrong file's
rows.

Reference parity: the reference engine has no row-level delete at all
(pystore/collection.py has only item/snapshot deletion); both
delete_where modes are beyond-reference, this one Delta-DV-shaped.
"""

from __future__ import annotations

import uuid
from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from pystore_spark.utils import read_parquet

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

DV_DIR = "_dv"
#: every mask dir's data schema, as :func:`write_mask_dir` writes it --
#: mask reads pin it instead of inferring it from a footer
MASK_SCHEMA = "file STRING, pos BIGINT"

#: above this many masked rows the broadcast hint is dropped and the
#: anti-join shuffles — a mass-deleted item's mask can outgrow the
#: driver (AQE still picks broadcast when the stats allow)
BROADCAST_MASK_MAX_ROWS = 4_000_000


def dv_map(man: dict | None) -> dict[str, dict]:
    """``{data_file_rel: {"ref": dv_dir_rel, "n": masked_rows}}``."""
    return dict((man or {}).get("dv") or {})


def dv_total(man: dict | None) -> int:
    return sum(int(e.get("n", 0)) for e in dv_map(man).values())


def dv_refs(man: dict | None) -> set[str]:
    return {e["ref"] for e in dv_map(man).values() if e.get("ref")}


def mask_frame(spark, item_path, man: dict | None) -> "DataFrame | None":
    """The union of every referenced dv parquet: ``(file basename,
    pos)``. Duplicate rows (an old ref's subset of a re-masked file)
    are harmless under anti-join. None when the manifest has no
    masks."""
    refs = dv_refs(man)
    if not refs:
        return None
    from pystore_spark import manifest as mf

    base = mf.base_dir(item_path, man or {})
    return read_parquet(
        spark, [base / r for r in sorted(refs)], schema=MASK_SCHEMA
    )


def scan_keys(base) -> tuple:
    """The (rel path, position) join-key columns over a parquet
    scan's ``_metadata`` — shared by mask application and mask
    building. The rel path is recovered by stripping the item base
    dir from ``file_path`` after normalizing the URI scheme (Spark
    local scans report ``file:/...``; the engine's Spark-readable
    backends are local filesystems — object stores are driver-side
    only, so the leading-slash normalization is total here)."""
    normalized = F.regexp_replace(
        F.col("_metadata.file_path"), "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/"
    )
    prefix = str(base).rstrip("/") + "/"
    return (
        F.substring(normalized, len(prefix) + 1, 1 << 30).alias(
            "__dv_f"
        ),
        F.col("_metadata.row_index").alias("__dv_p"),
    )


def apply_mask(
    df: "DataFrame", mask: "DataFrame", total_masked: int, base,
    keep_keys: bool = False,
) -> "DataFrame":
    """Anti-join the scan against the mask on (rel path, position).
    ``df`` must be a direct parquet scan (``_metadata`` resolvable).
    The mask broadcasts while small; beyond
    BROADCAST_MASK_MAX_ROWS it shuffles (AQE may still broadcast).
    ``keep_keys=True`` leaves the ``__dv_f``/``__dv_p`` join keys on
    the result — the shape the dv-writing paths consume."""
    fkey, pkey = scan_keys(base)
    m = mask.select(
        F.col("file").alias("__dv_f"), F.col("pos").alias("__dv_p")
    )
    if total_masked <= BROADCAST_MASK_MAX_ROWS:
        m = F.broadcast(m)
    out = (
        df.withColumn("__dv_f", fkey)
        .withColumn("__dv_p", pkey)
        .join(m, on=["__dv_f", "__dv_p"], how="left_anti")
    )
    return out if keep_keys else out.drop("__dv_f", "__dv_p")


def stage_union_mask(
    spark, item_path, man: dict, mask: "DataFrame",
    per_file: dict[str, int],
) -> tuple[str, dict[str, tuple[str, int]], dict[str, dict | None]]:
    """Shared commit plumbing of every dv-writing path (delete,
    update, merge): union ``mask`` with the touched files' EXISTING
    masks (each file's entry must point at ONE dir holding its full
    mask), write the dv dir, and derive the commit inputs. Returns
    ``(dv_rel, dv_entries, expect_dv)`` — ``dv_entries`` merges into
    the manifest's dv map, ``expect_dv`` is the observed-state guard
    (the touched files' entries as THIS computation saw them; a
    concurrent dv commit repointing one must conflict, see
    Collection._commit_staged). On commit failure the caller removes
    ``dv_rel``."""
    from pystore_spark import manifest as mf

    old_map = dv_map(man)
    touched = set(per_file)
    old_refs = {
        e["ref"]
        for rel, e in old_map.items()
        if rel in touched and e.get("ref")
    }
    if old_refs:
        base = mf.base_dir(item_path, man)
        prior = read_parquet(
            spark,
            [Path(base) / r for r in sorted(old_refs)],
            schema=MASK_SCHEMA,
        ).filter(F.col("file").isin(sorted(touched)))
        mask = mask.unionByName(prior)
    rel = write_mask_dir(spark, item_path, mask)
    return (
        rel,
        {r: (rel, n) for r, n in per_file.items()},
        {r: old_map.get(r) for r in touched},
    )


def mask_debt(item_path, man: dict | None, rels) -> bool:
    """True when any of ``rels``' dv positions exceed
    ``config.DV_FOLD_MASKED_FRACTION`` of its footer rows — the
    compact/maintain fold trigger (Delta-purge analog): a well-sized
    file that is mostly masked never qualifies for rewrite under the
    small-file census alone, so every read would pay its anti-join
    over mostly-dead rows forever. Footer reads only for MASKED
    files: O(masked files) driver metadata I/O, zero when unmasked."""
    dvmap = dv_map(man)
    if not dvmap:
        return False
    import pyarrow.parquet as pq

    from pystore_spark import config

    for r in rels:
        e = dvmap.get(r)
        if not e:
            continue
        try:
            nrows = pq.ParquetFile(
                str(Path(item_path) / r)
            ).metadata.num_rows
        except Exception:
            continue  # unreadable footer: small-file rule decides
        if nrows and (
            int(e.get("n", 0)) / nrows
            > config.DV_FOLD_MASKED_FRACTION
        ):
            return True
    return False


def assert_basename_injective(files) -> None:
    """Refuse the basename-keyed mask join when two live files share a
    basename. The staging rename makes basenames commit-token unique,
    so this never fires on engine-written items — it exists for
    hand-copied/imported files or legacy layouts, where a silent
    collision would drop rows of the WRONG file."""
    names = [f.rsplit("/", 1)[-1] for f in files]
    if len(set(names)) != len(names):
        from collections import Counter

        dupes = sorted(
            n for n, k in Counter(names).items() if k > 1
        )[:5]
        from pystore_spark.exceptions import StorageError

        raise StorageError(
            "deletion-vector basename join requires unique live-file "
            f"basenames; duplicates: {dupes} — the item contains "
            "files that bypassed the staging rename (hand-copied or "
            "legacy layout); compact/rewrite the item first"
        )


def apply_mask_basename(
    df: "DataFrame", mask: "DataFrame", total_masked: int
) -> "DataFrame":
    """Mask application keyed on file BASENAME instead of item-rel
    path — for scans whose physical paths differ from the manifest's
    (a bucketed item's hard-linked ``_bucketview`` catalog scan: view
    files keep the original name, bytes and therefore row positions
    are identical). Callers must first run
    :func:`assert_basename_injective` over the live file list —
    commit-token-unique staged basenames are what make this key
    sound."""
    bname = lambda c: F.element_at(F.split(c, "/"), -1)  # noqa: E731
    m = mask.select(
        bname(F.col("file")).alias("__dv_f"),
        F.col("pos").alias("__dv_p"),
    )
    if total_masked <= BROADCAST_MASK_MAX_ROWS:
        m = F.broadcast(m)
    return (
        df.withColumn(
            "__dv_f", bname(F.col("_metadata.file_path"))
        )
        .withColumn("__dv_p", F.col("_metadata.row_index"))
        .join(m, on=["__dv_f", "__dv_p"], how="left_anti")
        .drop("__dv_f", "__dv_p")
    )


def masked_scan(spark, item_path, man: dict, files: list[str]):
    """Manifest-file scan with the existing mask applied and the join
    keys STILL PRESENT (columns ``__dv_f``/``__dv_p``) — the input for
    computing NEW matches without re-counting already-deleted rows.
    Delegates to :func:`apply_mask` so the broadcast policy and key
    contract live in one place."""
    from pystore_spark import manifest as mf

    base = mf.base_dir(item_path, man)
    df = read_parquet(spark, [base / f for f in files], base)
    mask = mask_frame(spark, item_path, man)
    if mask is None:
        fkey, pkey = scan_keys(base)
        return df.withColumn("__dv_f", fkey).withColumn("__dv_p", pkey)
    return apply_mask(df, mask, dv_total(man), base, keep_keys=True)


def write_mask_dir(
    spark, item_path: Path, frame: "DataFrame", npartitions: int = 1
) -> str:
    """Write a dv parquet dir under ``_dv/dv-<token>/`` and return its
    rel path. The dir is invisible until a manifest references it — a
    crash here leaves an unreferenced dir for GC, never a torn read.
    ``frame`` must have columns (file STRING, pos LONG)."""
    token = uuid.uuid4().hex[:12]
    rel = f"{DV_DIR}/dv-{token}"
    (
        frame.select(
            F.col("file").cast("string"), F.col("pos").cast("long")
        )
        .repartition(max(1, npartitions))
        .write.mode("error")
        .parquet(str(Path(item_path) / rel))
    )
    return rel
