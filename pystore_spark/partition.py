"""Write-path partition planning.

The reference plans Dask partitions: time-based monthly/quarterly/
yearly divisions for datetime-indexed frames >10k rows, else
size-based ``ceil(bytes / 128MB)`` clamped [1,100]
(pystore/partition.py:38-172, pystore/collection.py:272-301).

Spark-first translation:

* **time-based** → a derived hive-style bucket column ``_pb``
  (``2023`` / ``2023-Q1`` / ``2023-03``, lexicographically monotonic in
  time) written with ``partitionBy('_pb')``. Index range predicates are
  rewritten onto ``_pb`` at read time → Catalyst partition pruning
  skips whole directories before any I/O (the 100 TB win).
* **size-based** → ``repartitionByRange('index')`` into
  ``ceil(bytes / 128MB)`` output tasks.
* Always ``sortWithinPartitions('index')`` so Parquet row-group
  min/max stats stay tight → row-group skipping for index predicates
  (replaces Dask's sorted divisions).
"""

from __future__ import annotations

import math
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pystore_spark import config

PARTITION_COL = "_pb"

TIME_PARTITION_MIN_ROWS = 10_000  # reference trigger: pystore/collection.py:283


def bucket_expr(freq: str, index_col: str = "index") -> Column:
    """Lexicographically time-ordered bucket string for the index."""
    c = F.col(index_col)
    if freq == "Y":
        return F.date_format(c, "yyyy")
    if freq == "Q":
        return F.concat(
            F.date_format(c, "yyyy"), F.lit("-Q"), F.quarter(c).cast("string")
        )
    if freq == "M":
        return F.date_format(c, "yyyy-MM")
    if freq == "D":
        return F.date_format(c, "yyyy-MM-dd")
    raise ValueError(f"unknown partition freq {freq!r}")


def bucket_value(freq: str, ts: Any) -> str:
    """Python-side bucket string for a timestamp (for pruning rewrites)."""
    import pandas as pd

    t = pd.Timestamp(ts)
    if freq == "Y":
        return f"{t.year:04d}"
    if freq == "Q":
        return f"{t.year:04d}-Q{(t.month - 1) // 3 + 1}"
    if freq == "M":
        return f"{t.year:04d}-{t.month:02d}"
    if freq == "D":
        return f"{t.year:04d}-{t.month:02d}-{t.day:02d}"
    raise ValueError(f"unknown partition freq {freq!r}")


def choose_time_freq(span_days: float) -> str:
    """Frequency by index span — reference: pystore/partition.py:117-124
    (monthly <1y, quarterly <3y, yearly otherwise)."""
    if span_days <= 366:
        return "M"
    if span_days <= 3 * 366:
        return "Q"
    return "Y"


def size_based_npartitions(size_bytes: int | None, nrows: int | None = None) -> int:
    """ceil(bytes / 128MB), clamped — reference: pystore/partition.py:38-81."""
    if size_bytes is None or size_bytes <= 0:
        if nrows is not None:
            size_bytes = max(nrows, 1) * 64  # rough 64 B/row fallback
        else:
            return 1
    n = math.ceil(size_bytes / config.PARTITION_TARGET_BYTES)
    return max(1, min(n, config.MAX_PARTITIONS))


ROWS_PER_PARTITION_FLOOR = 20_000


def _default_parallelism(df: DataFrame) -> int:
    try:
        return max(df.sparkSession.sparkContext.defaultParallelism, 1)
    except Exception:
        return 1


def _floor_to_parallelism(n: int, nrows: int | None, parallelism: int) -> int:
    """Raise the partition count so non-tiny writes use the cluster.

    A pure bytes/128MB target picks 1 partition for anything under
    128 MB, which serializes the sort+encode+write of a multi-100k-row
    item into ONE task while the other executors idle. Floor at one
    partition per ~20k rows, capped by the cluster's parallelism (tiny
    frames keep 1 partition — no small-file explosion).
    """
    if nrows is None:
        return n
    floor = min(parallelism, math.ceil(max(nrows, 1) / ROWS_PER_PARTITION_FLOOR))
    return max(n, floor, 1)


#: bounded FIFO of live pinned frames (r12 optimization, generalized
#: r13). A kernel that persists an intermediate so several plan
#: consumers materialize it once (semdedup's O(corpus) assignment,
#: bm25's shared (id, term) aggregation) cannot unpersist it itself —
#: the frame materializes lazily with the caller's action — so
#: repeated calls in one session previously accumulated dead cached
#: blocks until executor storage memory degraded the whole session
#: (the round-12 bench measured a 1.4-1.8x end-of-session drift from
#: exactly this). Evicting the oldest pin only drops a performance
#: hint: a still-live reference to an evicted frame recomputes from
#: lineage, results unchanged. Cap is env-tunable and the registry is
#: lock-guarded for concurrent callers (ADVICE r12); note eviction is
#: FIFO by pin order — interleaving more than cap concurrent
#: pipelines trades their reuse away, never their correctness.
import os as _os
import threading as _threading

_PIN_CACHE: list = []
_PIN_CACHE_CAP = int(
    _os.environ.get("PYSTORE_SPARK_PIN_CACHE_CAP", 2)
)
_PIN_LOCK = _threading.Lock()


def pin_frame(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK — a lost executor recomputes
    from lineage; checkpoint blocks would not be fault-tolerant) and
    register it in the bounded FIFO, unpersisting the oldest past the
    cap."""
    from pyspark import StorageLevel

    # Spark's CacheManager keys entries on the CANONICALIZED plan: a
    # kernel re-invoked on the same input (bench loop, pipeline
    # retry) re-pins an identical plan, which maps to the SAME cache
    # entry. Two consequences the registry must handle explicitly:
    # (1) unpersisting an evicted old pin would clobber a live
    # same-plan pin's cache mid-query (measured: bm25's shared child
    # silently recomputed 4x, 1.1 s -> 3.4 s warm); (2) letting the
    # entry survive would hand the NEXT invocation the previous
    # call's materialized blocks — cross-run reuse the bench contract
    # forbids (every timed run must compute from the parquet inputs).
    # So: retire any live same-plan pin FIRST, then persist fresh —
    # each call gets within-query reuse only, and FIFO eviction past
    # the cap can then unpersist unconditionally (same-plan
    # duplicates never coexist).
    try:
        new_plan = df._jdf.queryExecution().analyzed()
    except Exception:
        new_plan = None
    # ONE critical section for retire-scan + persist + append: a
    # check-then-act gap would let two concurrent same-plan pinners
    # both pass the scan and register duplicates sharing one
    # CacheManager entry, which later FIFO eviction would unpersist
    # under the survivor (review r13). The py4j calls inside are
    # short (tiny driver-side plans) and this lock guards nothing
    # else.
    with _PIN_LOCK:
        stale = []
        if new_plan is not None:
            for lv in list(_PIN_CACHE):
                try:
                    same = new_plan.sameResult(
                        lv._jdf.queryExecution().analyzed()
                    )
                except Exception:
                    # a dead/stopped pin must not block retiring the
                    # others — cross-run cache reuse is the failure
                    # mode being prevented here
                    continue
                if same:
                    _PIN_CACHE.remove(lv)
                    stale.append(lv)
        for lv in stale:
            try:
                lv.unpersist()
            except Exception:
                pass
        pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
        _PIN_CACHE.append(pinned)
        evict = []
        while len(_PIN_CACHE) > _PIN_CACHE_CAP:
            evict.append(_PIN_CACHE.pop(0))
    for old in evict:
        try:
            old.unpersist()
        except Exception:
            pass
    return pinned


def _distrusted(name: str) -> bool:
    return name == "Filter" or name.endswith("Join")


def _has_node(plan, match) -> bool:
    """True when a node of the JVM ``plan`` tree has a ``nodeName``
    that ``match`` accepts. The walk covers the nodes the rendered
    plan shows: children, inner children (a cached relation's plan,
    subqueries) and the current plan under an adaptive node or a
    query stage."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if match(name):
            return True
        for kids in (node.children(), node.innerChildren()):
            stack.extend(kids.apply(i) for i in range(kids.size()))
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
    return False


def estimate_size_bytes(
    df: DataFrame, distrust_filters: bool = False
) -> int | None:
    """Best-effort logical-plan size estimate (Catalyst stats).

    ``distrust_filters=True`` (ADVICE r12): return None — "unknown",
    so size-gated SKEW guards fall through to their cheap probe —
    when the optimized plan has a Filter or Join node, whose
    size-only estimates can drift far from reality (a join can
    multiply, and compressed-source ratios propagate through
    selections). Nodes are matched by name over a walk of the plan
    tree, so a column alias or string literal reading "Filter x"
    does not count. Callers whose small-tier has its own second-line
    defense (the KMeans driver tier's row cap + maxResultSize
    fallback) keep the plain estimate; callers whose small-tier would
    silently skip a single-reducer guard pass the flag."""
    try:
        # _jdf: no public stats API in PySpark
        plan = df._jdf.queryExecution().optimizedPlan()
        if distrust_filters and _has_node(plan, _distrusted):
            return None
        stats = plan.stats()
        # py4j auto-converts scala BigInt to Python int; str() covers both
        size = int(str(stats.sizeInBytes()))
        # Catalyst returns Long.MaxValue-ish when unknown
        if 0 < size < (1 << 60):
            return size
    except Exception as exc:  # py4j bridge / stats API drift
        import logging

        logging.getLogger(__name__).debug(
            "estimate_size_bytes: Catalyst stats unavailable (%s)", exc
        )
    return None


class PartitionPlan:
    """Resolved layout for one item write: either hive time buckets
    (freq in {Y,Q,M,D}) or N range partitions."""

    def __init__(
        self,
        kind: str,
        freq: str | None = None,
        npartitions: int = 1,
        compression: str | None = None,
    ):
        self.kind = kind  # 'time' | 'size'
        self.freq = freq
        self.npartitions = npartitions
        # parquet codec for this item's files; None → engine default
        # (snappy). Riding on the plan — which persists in the sidecar
        # and reaches every writer (Spark + Arrow paths, appends,
        # compact, delete rewrites) — keeps the codec sticky for the
        # item's lifetime without threading a parameter everywhere.
        self.compression = compression

    def to_dict(self) -> dict:
        d = {
            "strategy": self.kind,
            "freq": self.freq,
            "npartitions": self.npartitions,
        }
        if self.compression:
            d["compression"] = self.compression
        return d

    @classmethod
    def from_dict(cls, d: dict | None) -> "PartitionPlan | None":
        if not d:
            return None
        return cls(
            d.get("strategy", "size"),
            d.get("freq"),
            d.get("npartitions", 1),
            d.get("compression"),
        )


def plan_from_stats(
    nrows: int | None,
    index_minmax: tuple | None,
    size_bytes: int | None,
    is_time: bool,
    parallelism: int = 1,
    npartitions: int | None = None,
    freq: str | None = None,
) -> PartitionPlan:
    """Layout decision from already-known stats — the pure core shared
    by the Spark planner below and the driver-side Arrow write path
    (arrow_path.py), so both engines pick identical layouts.

    ``freq`` (Y/Q/M/D) forces a time layout at that granularity
    regardless of the row-count trigger — the explicit-layout knob for
    callers that know their access pattern (per-bucket incremental
    stats/rollups, pruning-heavy scans on small-but-growing items)."""
    if freq is not None:
        if freq not in ("Y", "Q", "M", "D"):
            raise ValueError(f"freq must be one of Y/Q/M/D, got {freq!r}")
        if not is_time:
            raise ValueError(
                "freq= forces a time layout, but the index column is "
                "not a timestamp/date"
            )
        n = _floor_to_parallelism(
            size_based_npartitions(size_bytes, nrows), nrows or 1,
            parallelism,
        )
        return PartitionPlan(
            "time", freq=freq,
            npartitions=max(1, int(npartitions or n)),
        )
    if npartitions is not None:
        return PartitionPlan("size", npartitions=max(1, int(npartitions)))
    if (
        is_time
        and nrows is not None
        and nrows > TIME_PARTITION_MIN_ROWS
        and index_minmax is not None
    ):
        lo, hi = index_minmax
        if lo is not None and hi is not None:
            span_days = (hi - lo).total_seconds() / 86400.0
            n = _floor_to_parallelism(
                size_based_npartitions(size_bytes, nrows), nrows, parallelism
            )
            return PartitionPlan(
                "time", freq=choose_time_freq(span_days), npartitions=n
            )
    n = _floor_to_parallelism(
        size_based_npartitions(size_bytes, nrows), nrows, parallelism
    )
    return PartitionPlan("size", npartitions=n)


def plan_partitions(
    df: DataFrame,
    index_col: str = "index",
    npartitions: int | None = None,
    nrows: int | None = None,
    index_minmax: tuple | None = None,
    freq: str | None = None,
) -> PartitionPlan:
    """Pick the layout for a write.

    ``nrows``/``index_minmax`` may be passed by callers that already
    know them (pandas input) to avoid extra Spark jobs. ``freq``
    forces a time layout at that granularity (see plan_from_stats).
    """
    if npartitions is not None and freq is None:
        return PartitionPlan("size", npartitions=max(1, int(npartitions)))

    is_time = isinstance(
        df.schema[index_col].dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
    ) if index_col in df.columns else False

    parallelism = _default_parallelism(df)

    if is_time and (nrows is None or index_minmax is None):
        # ONE fused stats job (count + min + max) instead of two
        # separate scans — planning overhead is pure latency on the
        # write path
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(index_col).alias("lo"),
            F.max(index_col).alias("hi"),
        ).first()
        if nrows is None:
            nrows = row["n"]
        if index_minmax is None:
            index_minmax = (row["lo"], row["hi"])
    return plan_from_stats(
        nrows=nrows,
        index_minmax=index_minmax,
        size_bytes=estimate_size_bytes(df),
        is_time=is_time,
        parallelism=parallelism,
        npartitions=npartitions,
        freq=freq,
    )


def apply_layout(
    df: DataFrame,
    plan: PartitionPlan,
    index_col: str = "index",
    small: bool = False,
) -> DataFrame:
    """Shape the DataFrame for writing under the plan (adds ``_pb`` for
    time layouts; range-repartitions and sorts within partitions so the
    on-disk layout is monotonic by index — SURVEY O1).

    ``small=True`` (caller measured the frame under one target
    partition, config.PARTITION_TARGET_BYTES) swaps the range exchange
    for a hash exchange on the bucket: no sampling pass over the input
    (repartitionByRange scans the input once just to pick range
    bounds), one sorted file per bucket, and the per-bucket
    serialization that would be a skew hazard at TB scale is bounded by
    the 128 MB gate. ``sortWithinPartitions`` keeps row-group min/max
    stats tight either way."""
    if plan.kind == "time" and index_col in df.columns:
        df = df.withColumn(PARTITION_COL, bucket_expr(plan.freq, index_col))
        n = max(plan.npartitions, 1)
        if small:
            df = df.repartition(n, PARTITION_COL)
        else:
            # range-partition on (bucket, index): a bucket larger than
            # one task's share splits across *contiguous* tasks (unlike
            # hash-repartition by bucket, which pins each bucket to a
            # single task — a TB-scale month would serialize). Sorting
            # within partitions keeps row-group min/max stats tight.
            df = df.repartitionByRange(n, PARTITION_COL, index_col)
        return df.sortWithinPartitions(PARTITION_COL, index_col)
    if index_col in df.columns and plan.npartitions > 1 and not small:
        return df.repartitionByRange(plan.npartitions, index_col).sortWithinPartitions(
            index_col
        )
    if index_col in df.columns:
        return df.coalesce(max(1, plan.npartitions)).sortWithinPartitions(index_col)
    return df.coalesce(max(1, plan.npartitions))


# ---------------------------------------------------------------------------
# Z-order (Morton) layout for multi-dimensional pruning
# ---------------------------------------------------------------------------
ZORDER_BITS = 16


def zorder_value(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = ZORDER_BITS,
) -> Column:
    """Morton (bit-interleaved) z-value over ``cols`` — sorting files
    by it gives every listed column *locally tight* min/max footer
    stats, so parquet row-group/file skipping works for predicates on
    ANY of the dimensions, not just the leading sort key (a linear
    sort prunes only its first column; each file spans the full range
    of the others).

    Each column is min/max-normalized to a ``bits``-bit integer (one
    fused stats job over the frame — acceptable on the offline
    compaction path), then bits interleave column-major:
    ``z = Σ_i Σ_c bit(v_c, i) << (i·ncols + c)``. Pure Catalyst
    shift/mask expressions — whole-stage codegen, no UDF. Numeric and
    timestamp/date columns only; ``bits × ncols`` must fit a long
    (≤ 63).
    """
    cols = list(cols)
    if not cols:
        raise ValueError("zorder needs at least one column")
    if bits * len(cols) > 63:
        raise ValueError(
            f"{bits} bits x {len(cols)} columns overflows a 64-bit z-value"
        )
    dtypes = dict(df.dtypes)
    numeric: list[Column] = []
    for c in cols:
        dt = dtypes.get(c)
        if dt is None:
            raise ValueError(f"zorder column {c!r} not in DataFrame")
        col = F.col(c)
        if dt.startswith("timestamp"):
            col = col.cast("timestamp").cast("double")
        elif dt == "date":
            col = col.cast("timestamp").cast("double")
        elif dt in ("string", "binary"):
            raise ValueError(
                f"zorder column {c!r} has non-orderable-numeric type {dt}"
            )
        else:
            col = col.cast("double")
        numeric.append(col)

    stats = df.agg(
        *[F.min(c).alias(f"lo{i}") for i, c in enumerate(numeric)],
        *[F.max(c).alias(f"hi{i}") for i, c in enumerate(numeric)],
    ).first()

    max_bucket = (1 << bits) - 1
    z: Column = F.lit(0).cast("long")
    n = len(cols)
    for ci, col in enumerate(numeric):
        lo, hi = stats[f"lo{ci}"], stats[f"hi{ci}"]
        if lo is None or hi is None or hi == lo:
            bucket = F.lit(0).cast("long")
        else:
            bucket = F.least(
                F.lit(max_bucket).cast("long"),
                F.floor(
                    (col - F.lit(float(lo)))
                    / F.lit(float(hi) - float(lo))
                    * (max_bucket + 1)
                ).cast("long"),
            )
        bucket = F.coalesce(bucket, F.lit(0).cast("long"))
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                    bit * n + ci,
                ).cast("long")
            )
    return z


def exact_route_ids(spark, n: int) -> list[int]:
    """``n`` long values ``r_0..r_{n-1}`` with
    ``pmod(murmur3_hash(r_p), n) == p`` — hash-preimages that make
    ``df.repartition(n, route_col)`` an EXACT router: a row carrying
    ``r_p`` lands in Spark partition ``p``, no collisions, no sampling.

    Spark's hash partitioning is ``pmod(hash(expr), n)``; the preimages
    are found by evaluating ``F.hash`` over a small candidate range
    (one tiny job, ≤ a few·n rows — negligible on the offline
    compaction path that uses this). Deterministic: murmur3 is seeded
    constant in Spark, candidates scan ascending.
    """
    routes: dict[int, int] = {}
    lo = 0
    while len(routes) < n:
        hi = lo + max(64, 8 * n)
        rows = (
            spark.range(lo, hi)
            .select(
                F.col("id"),
                F.pmod(F.hash(F.col("id")), F.lit(n)).alias("p"),
            )
            .collect()
        )
        for r in sorted(rows, key=lambda r: r["id"]):
            routes.setdefault(int(r["p"]), int(r["id"]))
        lo = hi
    return [routes[p] for p in range(n)]


def zorder_route(
    df: DataFrame, zv: Column, n: int, z_bits: int = 63
) -> tuple[DataFrame, str]:
    """Deterministic equal-count routing of rows into ``n`` z-ordered
    output partitions. Returns ``(df_with_route_col, route_col_name)``.

    Replaces ``repartitionByRange(n, zv)``, whose reservoir boundary
    sampling makes file boundaries vary run-to-run (a flaky layout is
    a flaky pruning guarantee). Here the boundaries come from an EXACT
    histogram of the z-value's high bits:

    1. one aggregation ``groupBy(zv >> shift).count()`` — granule
       count bounded at ``max(4096, 16·n)`` (driver-collected; a few
       MB even at 100k output files);
    2. driver-side cumulative walk assigns each granule a bucket
       0..n-1 at equal row share (deterministic: granules ascending);
    3. the granule→bucket map broadcast-joins back (O(1)/row), and the
       bucket id maps through :func:`exact_route_ids` so the final
       ``repartition(n, route)`` places bucket *b* in partition *b*
       exactly.

    Every step is a pure function of the data — layouts are
    reproducible across runs and machines.
    """
    spark = df.sparkSession
    # granule = high bits of the z-value; resolution scales with n so
    # boundaries can always split finely enough
    target_granules = max(4096, 16 * n)
    shift = 0
    max_z_bits = max(1, min(63, z_bits))
    while (1 << (max_z_bits - shift)) > target_granules and shift < max_z_bits:
        shift += 1
    g = F.shiftright(zv, shift).alias("_zg")
    hist = sorted(
        (int(r["_zg"]), int(r["count"]))
        for r in df.select(g).groupBy("_zg").count().collect()
    )
    total = sum(c for _, c in hist) or 1
    routes = exact_route_ids(spark, n)
    mapping = []
    cum = 0
    for gv, c in hist:
        bucket = min(n - 1, int(cum * n // total))
        mapping.append((gv, routes[bucket]))
        cum += c
    map_df = spark.createDataFrame(
        mapping, T.StructType([
            T.StructField("_zg", T.LongType()),
            T.StructField("_zroute", T.LongType()),
        ])
    )
    out = df.withColumn("_zg", F.shiftright(zv, shift)).join(
        F.broadcast(map_df), "_zg", "left"
    ).drop("_zg").withColumn(
        "_zroute", F.coalesce(F.col("_zroute"), F.lit(routes[0]))
    )
    return out, "_zroute"
