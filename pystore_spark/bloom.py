"""Per-file Bloom-filter file skipping for equality / ``in``
predicates on identifier-shaped columns.

The manifest zonemap (manifest.gather_file_stats) gives min/max file
skipping for NUMERIC columns — useless for hash-distributed string
identifiers, where every file's [min, max] spans essentially the whole
id space (``doc_id = md5(...)`` is uniform by construction). The bloom
sidecar closes that gap: a point lookup ``("doc_id", "==", x)`` — the
shape of every id-probe, targeted delete and index-repair read — skips
every file whose filter proves the id absent, instead of scanning the
whole item. At 100 TB that is the difference between one file read and
a full-corpus scan.

Reference parity note: the reference engine has no file skipping at
all (pystore/item.py reads the whole dask dataset and filters
row-level); this is a beyond-reference scale feature, the string-id
complement of the numeric zonemap.

**Layout.** ``<item>/_blooms/<token>.parquet`` — one sidecar per
commit, one row per (data file, column)::

    file  string  -- manifest-relative data-file path (sorted)
    col   string
    m     int64   -- filter size in bits (power of two)
    k     int32   -- hash count
    n     int64   -- values hashed in
    bits  binary  -- m/8 bytes; NULL = saturated filter (never prunes)

**Commit protocol.** ``Collection._commit_staged`` builds filters for
the just-staged files (column-pruned reads of data that is page-cache
hot — the commit wrote it moments ago) and writes one sidecar *after*
the data files are staged and *before* the manifest CAS. A crash in
between leaves an orphan sidecar whose rows reference never-live
files — harmless, because pruning only ever *intersects* the
manifest's live list — and ``maintain`` folds dead rows out. Sidecars
are exempt from ``gc_item``'s orphan sweep (they are not data files
and are never named by a manifest). A lost manifest CAS deletes the
commit's sidecar along with its staged data files.

**Soundness.** Every non-null value of the column is hashed in
(Kirsch–Mitzenmacher double hashing off a single md5), so Bloom
filters have **no false negatives**: a "no bit set" verdict proves no
row of that file can satisfy the equality — pruning is sound, and a
probe value absent from *every* live file proves the whole result
empty (the read path then short-circuits with ``filter(false)``,
which Catalyst folds to an empty relation — zero files scanned on a
miss). False positives only cost an extra file read. SQL semantics
make ``== NULL`` never match, so excluding nulls from the filter is
exact. Saturated filters (> half the bits set — the file held more
distinct values than the size cap budgets for) are recorded with
``bits = NULL`` and never prune.

**Scale.** Sidecar size is ~BITS_PER_KEY/8 bytes per stored value
(≤ ~0.2% of typical text data); rows are sorted by ``file`` so a
candidate-scoped load pushes a range predicate into the parquet scan.
Build cost is O(files just committed), never O(item).
"""

from __future__ import annotations

import hashlib
import logging
import re
from pathlib import Path
from typing import Any, Iterable, Sequence

from pystore_spark.utils import read_parquet

log = logging.getLogger(__name__)

BLOOM_DIR = "_blooms"
#: bits budgeted per stored value: k=7 hashes at m/n=12 gives an
#: expected false-positive rate of ~0.3% per file
BITS_PER_KEY = 12
K_HASHES = 7
MIN_BITS = 1 << 10  # 128 B floor — tiny files still get a filter
MAX_BITS = 1 << 23  # 1 MiB cap per (file, col); beyond ~700k values
#: the fill check below degrades the filter to "never prunes"
SATURATION_FILL = 0.5

# ---------------------------------------------------------------------------
# hashing
# ---------------------------------------------------------------------------


def _canon(v: Any) -> bytes | None:
    """Canonical hash bytes for a value, or None when the type has no
    stable cross-writer representation (floats, timestamps, …) — such
    terms are simply untestable, never wrong. Integers canonicalize
    through ``str(int(v))`` so a stored numpy int64 and a probe-side
    Python int hash identically; bools are excluded (an int subclass
    with a different str form, and a 2-value column never needs a
    bloom)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, str):
        return v.encode("utf-8")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, int):
        return str(v).encode("ascii")
    # numpy integers (storage side) without importing numpy eagerly
    if type(v).__module__ == "numpy" and hasattr(v, "dtype"):
        kind = getattr(v.dtype, "kind", "")
        if kind in ("i", "u"):
            return str(int(v)).encode("ascii")
    return None


#: token-mode tokenizer: lowercased alphanumeric runs of ≥2 chars.
#: Both the build side (file text values) and the probe side (the
#: `contains` needle) MUST use this exact split — the no-false-
#: negative proof only holds when a matching substring's tokens are a
#: subset of the file's indexed tokens, which the shared regex and
#: the boundary rule below guarantee.
TOKEN_RE = re.compile(r"[0-9a-z]{2,}")


def _tokens(text: str, interior_only: bool = False) -> list[bytes]:
    """Distinct token bytes of a text value.

    ``interior_only`` implements the soundness rule for SUBSTRING
    (`contains`) probes: a needle token touching the needle's own
    start or end may match mid-word in the haystack (needle
    ``"ream filt"`` inside ``"stream filter"`` — ``ream`` is not an
    indexed token of the file), so only tokens strictly inside the
    needle — bounded by non-token chars within the needle itself and
    therefore complete tokens of ANY matching text — may be tested.
    `has_token` probes assert token boundaries in their row-level
    semantics, so they index-test every token (interior_only=False)."""
    low = text.lower()
    out: dict[bytes, None] = {}
    for m in TOKEN_RE.finditer(low):
        if interior_only and (m.start() == 0 or m.end() == len(low)):
            continue
        out.setdefault(m.group().encode("ascii"), None)
    return list(out)


def normalize_bloom_cols(entries: Sequence) -> dict[str, str]:
    """``_bloom_columns`` sidecar entries → {col: mode}. Plain strings
    mean value mode; ``{"col": c, "mode": "tokens"}`` opts a text
    column into token indexing for `contains` pruning."""
    out: dict[str, str] = {}
    for e in entries or ():
        if isinstance(e, str):
            out[e] = "values"
        elif isinstance(e, dict) and e.get("col"):
            mode = e.get("mode", "values")
            if mode not in ("values", "tokens"):
                raise ValueError(
                    f"bloom mode must be 'values' or 'tokens', got {mode!r}"
                )
            out[str(e["col"])] = mode
        else:
            raise ValueError(f"bad bloom column entry: {e!r}")
    return out


def _hash_pair(data: bytes) -> tuple[int, int]:
    d = hashlib.md5(data).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,  # odd → full period on 2^b
    )


def _set_bits(bits: bytearray, h1: int, h2: int, m: int, k: int) -> None:
    for j in range(k):
        p = (h1 + j * h2) % m
        bits[p >> 3] |= 1 << (p & 7)


def _test_bits(bits: bytes, h1: int, h2: int, m: int, k: int) -> bool:
    for j in range(k):
        p = (h1 + j * h2) % m
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def _size_for(n_values: int) -> int:
    m = MIN_BITS
    target = max(MIN_BITS, BITS_PER_KEY * max(n_values, 1))
    while m < target and m < MAX_BITS:
        m <<= 1
    return m


def build_filter(
    values: Iterable[Any], mode: str = "values"
) -> tuple[int, int, int, bytes | None]:
    """(m, k, n, bits) over the canonicalizable values; bits is None
    when the filter saturated (fill > SATURATION_FILL — prune nothing
    rather than prune slowly with a useless FPR). ``mode='tokens'``
    hashes the distinct TOKEN_RE tokens of string values instead of
    the values themselves — the `contains`/`has_token` index."""
    if mode == "tokens":
        toks: dict[bytes, None] = {}
        for v in values:
            if isinstance(v, str):
                for t in _tokens(v):
                    toks.setdefault(t, None)
        canon = list(toks)
    else:
        canon = [b for b in (_canon(v) for v in values) if b is not None]
    m = _size_for(len(canon))
    bits = bytearray(m >> 3)
    for b in canon:
        h1, h2 = _hash_pair(b)
        _set_bits(bits, h1, h2, m, K_HASHES)
    nset = sum(bin(x).count("1") for x in bits)
    if nset > m * SATURATION_FILL:
        return m, K_HASHES, len(canon), None
    return m, K_HASHES, len(canon), bytes(bits)


# ---------------------------------------------------------------------------
# build + sidecar I/O
# ---------------------------------------------------------------------------

#: above this many staged files the commit hook builds filters with a
#: Spark job (one task per file) instead of a driver loop — the driver
#: build reads the full bloom column of every staged file, which is
#: O(commit rows) serial I/O; a big append/compact should pay that on
#: the executors
SPARK_BUILD_MIN_FILES = 16


def build_for_files_spark(
    spark,
    item_path: str | Path,
    rels: Sequence[str],
    cols: Sequence[str],
) -> list[dict]:
    """Distributed twin of :func:`build_for_files`: one task per
    staged file (``input_file_name`` groupBy → applyInPandas),
    bit-identical output (same canonicalization, same md5 double
    hashing — pinned by a parity test). Only the finished filters
    (one row per file × col, ~m/8 bytes each) come back to the
    driver, which writes the single per-commit sidecar; per-commit
    file counts are bounded (an append's staged set), so the collect
    is too."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    modes = normalize_bloom_cols(cols)
    base = Path(item_path)
    paths = [str(base / r) for r in rels]
    # absolute-URI → manifest-relative mapping done executor-side by
    # suffix match (input_file_name returns a file:/ URI)
    rel_by_tail = {r: r for r in rels}

    df = read_parquet(spark, paths).select(
        F.input_file_name().alias("_file"),
        *list(modes),
    )

    out_schema = T.StructType(
        [
            T.StructField("file", T.StringType()),
            T.StructField("col", T.StringType()),
            T.StructField("m", T.LongType()),
            T.StructField("k", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("bits", T.BinaryType()),
        ]
    )
    rel_items = sorted(rel_by_tail)
    build_modes = dict(modes)

    def _one_file(pdf: pd.DataFrame) -> pd.DataFrame:
        uri = pdf["_file"].iloc[0]
        rel = next(
            (r for r in rel_items if uri.endswith(r)), None
        )
        rows = []
        if rel is not None:
            for c, mode in build_modes.items():
                if c not in pdf.columns:
                    continue
                vals = pdf[c].dropna().tolist()
                if mode == "values" and vals and _canon(vals[0]) is None:
                    continue
                m, k, n, bits = build_filter(vals, mode=mode)
                rows.append((rel, c, m, k, n, bits))
        return pd.DataFrame(
            rows, columns=["file", "col", "m", "k", "n", "bits"]
        )

    got = (
        df.groupBy("_file")
        .applyInPandas(_one_file, schema=out_schema)
        .collect()
    )
    return [
        {
            "file": r["file"], "col": r["col"], "m": r["m"],
            "k": r["k"], "n": r["n"],
            "bits": bytes(r["bits"]) if r["bits"] is not None else None,
        }
        for r in got
    ]


def build_for_files(
    item_path: str | Path,
    fs,
    rels: Sequence[str],
    cols: Sequence[str],
) -> list[dict]:
    """One bloom row per (file, col) — driver-side, column-pruned
    parquet reads of exactly the given files (the just-staged commit
    set: O(commit), never O(item), and page-cache hot at the commit
    call site). Float/temporal columns are skipped (no canonical
    bytes — the numeric zonemap covers them); unreadable files are
    skipped (they simply never prune). ``cols`` accepts the raw
    ``_bloom_columns`` entries (strings or {"col","mode"} dicts)."""
    import pyarrow.parquet as pq

    modes = normalize_bloom_cols(cols)
    base = Path(item_path)
    rows: list[dict] = []
    for rel in sorted(rels):
        try:
            have = set(pq.read_schema(fs.open_read(base / rel)).names)
            want = [c for c in modes if c in have]
            if not want:
                continue  # evolved-away columns → no rows, conservative
            tbl = pq.read_table(
                fs.open_read(base / rel),
                columns=want,
                use_threads=False,
            )
        except Exception:
            continue  # unreadable → no bloom row, never prunes
        for c, mode in modes.items():
            if c not in tbl.column_names:
                continue
            col = tbl.column(c)
            vals = [v for v in col.to_pylist() if v is not None]
            if mode == "values" and vals and _canon(vals[0]) is None:
                continue  # uncanonicalizable dtype — zonemap territory
            m, k, n, bits = build_filter(vals, mode=mode)
            rows.append(
                {"file": rel, "col": c, "m": m, "k": k, "n": n,
                 "bits": bits}
            )
    return rows


def write_sidecar(
    item_path: str | Path, fs, rows: Sequence[dict], token: str
) -> str | None:
    """Write one commit's bloom rows as ``_blooms/<token>.parquet``
    (rows sorted by file so candidate-scoped loads can push a range
    predicate). Returns the relative path, or None for empty rows."""
    if not rows:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(rows, key=lambda r: (r["file"], r["col"]))
    tbl = pa.table(
        {
            "file": pa.array([r["file"] for r in rows], pa.string()),
            "col": pa.array([r["col"] for r in rows], pa.string()),
            "m": pa.array([r["m"] for r in rows], pa.int64()),
            "k": pa.array([r["k"] for r in rows], pa.int32()),
            "n": pa.array([r["n"] for r in rows], pa.int64()),
            "bits": pa.array([r["bits"] for r in rows], pa.binary()),
        }
    )
    rel = f"{BLOOM_DIR}/{token}.parquet"
    path = Path(item_path) / rel
    fs.mkdirs(path.parent)
    with fs.open_write(path) as sink:
        pq.write_table(tbl, sink, compression="zstd")
    return rel


def load(
    item_path: str | Path,
    fs,
    cols: Sequence[str] | None = None,
    files: Sequence[str] | None = None,
) -> dict[tuple[str, str], tuple[int, int, int, bytes | None]]:
    """All bloom rows of an item as {(file, col): (m, k, n, bits)}.
    ``files`` (the post-zonemap candidate list) filters the loaded
    rows to the candidates. Sidecars are ~BITS_PER_KEY/8 bytes per
    stored value (≤ ~0.2% of typical text data) so each is read fully
    driver-side; rows stay sorted by file so a future candidate-range
    pushdown into the parquet scan needs no format change. Sidecars
    deleted mid-listing by a concurrent fold are skipped — the fold
    rewrote their live rows elsewhere first."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    root = Path(item_path) / BLOOM_DIR
    if not fs.isdir(root):
        return {}
    out: dict[tuple[str, str], tuple[int, int, int, bytes | None]] = {}
    want_files = set(files) if files is not None else None
    want_cols = set(cols) if cols is not None else None
    for f in sorted(fs.list_files(root, ".parquet")):
        try:
            tbl = pq.read_table(fs.open_read(f), use_threads=False)
        except Exception:
            continue
        if want_files is not None:
            tbl = tbl.filter(
                pc.is_in(
                    tbl.column("file"),
                    value_set=pa.array(sorted(want_files)),
                )
            )
        for rec in tbl.to_pylist():
            if want_cols is not None and rec["col"] not in want_cols:
                continue
            # later sidecars win (repair/backfill rewrites supersede)
            out[(rec["file"], rec["col"])] = (
                rec["m"], rec["k"], rec["n"], rec["bits"]
            )
    return out


# ---------------------------------------------------------------------------
# pruning
# ---------------------------------------------------------------------------


def prune(
    files: Sequence[str],
    filters: Sequence | None,
    blooms: dict[tuple[str, str], tuple[int, int, int, bytes | None]],
    bloom_cols: Sequence[str],
) -> tuple[list[str], bool]:
    """Bloom pass over an (already zonemap-pruned) candidate list.

    Returns ``(kept, proven_empty)``. Same DNF semantics as
    manifest.prune_files: a file survives if at least one OR-group
    could match it on all its bloom-testable terms. Testable terms by
    column mode:

    * **values** — ``==`` / ``in``: the probe value's hash must hit.
    * **tokens** — ``contains`` (substring): every INTERIOR token of
      the needle must hit (edge tokens may match mid-word — see
      ``_tokens``); ``has_token`` (token-boundary match, see
      filters.py): EVERY token of the needle must hit; ``==``/``in``:
      equality implies containment, so the value's full token set
      must hit.

    No bloom row / saturated row / untestable op or value → the term
    passes (conservative). Matches prune_files' convention of
    returning the input list when pruning would drop everything — but
    additionally reports ``proven_empty=True`` for that case, which is
    a *proof* (no false negatives) that the result set is empty: the
    caller can fold the whole scan to an empty relation."""
    files = list(files)
    if not filters or not blooms:
        return files, False
    flist = list(filters)
    if all(isinstance(f, tuple) and len(f) == 3 for f in flist):
        groups = [flist]
    else:
        groups = [list(g) for g in flist]
    modes = normalize_bloom_cols(bloom_cols)

    def _value_hashes(v: Any) -> list[list[tuple[int, int]]] | None:
        """Value-mode probe: one single-hash alternative per value."""
        vals = (
            list(v) if isinstance(v, (list, tuple, set, frozenset))
            else [v]
        )
        out = []
        for x in vals:
            b = _canon(x)
            if b is None:
                return None  # one untestable value → term untestable
            out.append([_hash_pair(b)])
        return out

    def _token_hashes(
        v: Any, interior_only: bool
    ) -> list[list[tuple[int, int]]] | None:
        """Token-mode probe: each alternative is a CONJUNCTION of
        token hashes that must all hit for the file to admit it."""
        vals = (
            list(v) if isinstance(v, (list, tuple, set, frozenset))
            else [v]
        )
        out = []
        for x in vals:
            if not isinstance(x, str):
                return None
            toks = _tokens(x, interior_only=interior_only)
            if not toks:
                return None  # nothing provable for this value
            out.append([_hash_pair(t) for t in toks])
        return out

    # prepped term: (col, alternatives) where alternatives is a list
    # of hash-conjunctions — the file admits the term if ANY
    # alternative has ALL its hashes present
    prepped: list[list[tuple[str, list[list[tuple[int, int]]]]]] = []
    any_testable = False
    for g in groups:
        terms = []
        for col, op, v in g:
            mode = modes.get(col)
            if mode is None:
                continue
            alts = None
            if mode == "values" and op in ("==", "=", "in"):
                alts = _value_hashes(v)
            elif mode == "tokens":
                if op == "contains":
                    alts = _token_hashes(v, interior_only=True)
                elif op == "has_token":
                    alts = _token_hashes(v, interior_only=False)
                elif op in ("==", "=", "in"):
                    alts = _token_hashes(v, interior_only=False)
            if alts is not None:
                terms.append((col, alts))
                any_testable = True
        prepped.append(terms)
    if not any_testable:
        return files, False

    def keep(rel: str) -> bool:
        for terms in prepped:
            ok = True
            for col, alts in terms:
                row = blooms.get((rel, col))
                if row is None:
                    continue  # no filter for this file → can't prune
                m, k, _n, bits = row
                if bits is None:
                    continue  # saturated → never prunes
                if not any(
                    all(
                        _test_bits(bits, h1, h2, m, k)
                        for h1, h2 in conj
                    )
                    for conj in alts
                ):
                    ok = False
                    break
            if ok:
                return True
        return False

    kept = [f for f in files if keep(f)]
    if kept:
        return kept, False
    return files, True


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------


def fold(item_path: str | Path, fs, live_files: Sequence[str]) -> dict:
    """Fold an item's bloom sidecars: merge every per-commit parquet
    into one, dropping rows whose data file is no longer live (deleted
    buckets, compacted-away files, crash orphans). Write-new-then-
    delete-old — a concurrent reader that already listed the old
    sidecars reads duplicate rows at worst (last one wins and all
    copies are identical). O(sidecar bytes), no Spark job."""
    import uuid

    root = Path(item_path) / BLOOM_DIR
    olds = sorted(fs.list_files(root, ".parquet")) if fs.isdir(root) else []
    if not olds:
        return {"sidecars_before": 0, "rows_live": 0, "rows_dropped": 0}
    all_rows = load(item_path, fs)
    live = set(live_files)
    kept_rows = [
        {"file": f, "col": c, "m": m, "k": k, "n": n, "bits": bits}
        for (f, c), (m, k, n, bits) in sorted(all_rows.items())
        if f in live
    ]
    n_dropped = len(all_rows) - len(kept_rows)
    if len(olds) <= 1 and n_dropped == 0:
        return {
            "sidecars_before": len(olds),
            "rows_live": len(kept_rows),
            "rows_dropped": 0,
        }
    write_sidecar(
        item_path, fs, kept_rows, f"fold-{uuid.uuid4().hex[:8]}"
    )
    for f in olds:
        try:
            fs.delete(f, missing_ok=True)
        except OSError:
            pass
    return {
        "sidecars_before": len(olds),
        "rows_live": len(kept_rows),
        "rows_dropped": n_dropped,
    }
