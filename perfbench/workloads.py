"""The benchmark workloads.

Each workload builds its inputs from a seed (``make_inputs``), sets up
its state (``setup``), warms every op path (``warm_up``), then yields
closed-loop operations (``ops``). An operation is
``(kind, class, run, check)``: ``run()`` is the timed call into the
engine's public API; ``check(result)`` runs untimed, advances the
workload's model and returns a list of problems, empty when the output
matched the model. ``final_check`` compares the end state against it.

Op classes are ``write``, ``read``, ``dml``, ``export``, ``maint`` and
``query``; the runner reports latency per class and per op kind.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd

import datagen

Op = tuple[str, str, Callable[[], Any], Callable[[Any], list[str]]]

_US = pd.Timedelta(microseconds=1)
_DAY = pd.Timedelta(days=1)


def frame_hash(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive content hash) of ``df``; columns
    are compared by name and values canonicalised by type family."""
    df = df[sorted(df.columns)]
    canon = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            canon[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_numeric_dtype(s):
            canon[c] = s.astype("float64").round(6)
        else:
            canon[c] = s.astype(str)
    h = pd.util.hash_pandas_object(pd.DataFrame(canon), index=False)
    return len(df), int(h.sum() % (1 << 64))


def _mismatch(what: str, got: Any, want: Any) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


class Workload:
    """Common state: the Spark session, the seeded generator and a
    fresh store directory per set-up."""

    name = ""

    def __init__(self, spark, seed: int, sf: float, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.sf = sf
        self.work_dir = work_dir
        self.rng = np.random.default_rng(seed)
        self.col = None
        self._reps = 0
        #: wall seconds of each step of the warm-up, for the detail line
        self.warm_steps_s: dict[str, float] = {}
        #: True when the op last yielded by ``ops`` closed its block
        self.block_end = False

    def fresh_collection(self):
        from pystore_spark import config
        from pystore_spark.store import Store

        self._reps += 1
        root = os.path.join(self.work_dir, f"store{self._reps}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        config.set_path(root)
        self.store_root = root
        self.col = Store("bench", spark=self.spark).collection("c")
        return self.col

    def make_inputs(self) -> None:
        """Build the seeded inputs (untimed, before any set-up)."""

    def setup(self) -> None:
        raise NotImplementedError

    def warm(self, kinds) -> None:
        """Run one checked op of each kind, so the loop starts with the
        JVM, the page cache and the metadata cache warm for every op
        path; billed to set-up."""
        for kind in kinds:
            _, _, run, check = self._op(kind)
            t0 = time.perf_counter()
            out = run()
            self.warm_steps_s[kind] = time.perf_counter() - t0
            problems = check(out)
            if problems:
                raise RuntimeError(f"warm-up {kind}: {problems}")

    def _op(self, kind: str) -> Op:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Timed once, after the last set-up; billed to set-up."""

    def after_setup(self) -> None:
        """Untimed work between the warm-up and the timed loop."""

    def ops(self) -> Iterator[Op]:
        raise NotImplementedError

    def final_check(self) -> list[str]:
        return []

    def live_arrow_bytes(self) -> int:
        """Arrow ``nbytes`` of the live rows (for ``space_amp``)."""
        return 0

    def space_root(self) -> str:
        """The directory whose bytes ``space_amp`` divides by the live
        rows' bytes."""
        return self.store_root

    def blocks(self, mix: dict[str, int], first: str | None = None,
               last: str | None = None):
        """Endless op kinds in shuffled blocks with the exact counts of
        ``mix``, opened by one ``first`` of them and closed by ``last``,
        so every seed runs the same proportions and the loop can stop
        where a block ends."""
        while True:
            kinds = [k for k, n in mix.items() for _ in range(n)]
            self.rng.shuffle(kinds)
            if first is not None:
                kinds.remove(first)
                kinds.insert(0, first)
            if last is not None:
                kinds.append(last)
            for i, kind in enumerate(kinds):
                self.block_end = i == len(kinds) - 1
                yield kind


# ---------------------------------------------------------------------------
# store_rw: time-keyed lineitem item, pandas writes beside reads
# ---------------------------------------------------------------------------
class StoreRW(Workload):
    name = "store_rw"
    item_name = "fact"
    #: one op of each kind per block (see README, "Workload parameters")
    MIX = {"append": 1, "upsert": 1, "read_range": 1, "read_filter": 1,
           "read_point": 1}
    #: upsert the rows whose orderkey falls in one residue class mod
    #: 10, a 10% slice, as bench.py's storage cycle does
    UPSERT_MOD = 10
    #: a range read spans one 30-day month of ship dates
    RANGE_DAYS = 30
    #: bench.py's storage-cycle projection
    COLS = ["l_quantity", "l_extendedprice"]

    def make_inputs(self) -> None:
        n_line = max(6_000, int(6_000_000 * self.sf))
        self.n_orders = max(1_500, int(1_500_000 * self.sf))
        t = datagen.lineitem(self.rng, n_line, self.n_orders,
                             max(200, int(200_000 * self.sf)),
                             max(10, int(10_000 * self.sf)))
        self.base = self._keyed(t.to_pandas())
        # an append is one more ship day at the table's daily rate
        self.append_rows = max(10, n_line // datagen.SHIP_DAYS)

    @staticmethod
    def _keyed(df: pd.DataFrame) -> pd.DataFrame:
        # unique time key: ship date + (orderkey, linenumber) as µs,
        # as bench.py's storage cycle derives it
        off = df["l_orderkey"] * 10 + df["l_linenumber"]
        idx = pd.DatetimeIndex(df["l_shipdate"] + off * _US, name="index")
        return df.drop(columns=["l_shipdate"]).set_index(idx)

    def setup(self) -> None:
        col = self.fresh_collection()
        col.write("fact", self.base)
        self.model = self.base.copy()
        self.next_order = self.n_orders
        self.last_day = self.base.index.max().normalize()

    def warm_up(self) -> None:
        self.warm(self.MIX)

    def live_arrow_bytes(self) -> int:
        import pyarrow as pa

        return pa.Table.from_pandas(self.model).nbytes

    def _new_rows(self) -> pd.DataFrame:
        n_orders = max(1, self.append_rows // 4)
        t = datagen.lineitem(self.rng, self.append_rows, n_orders, 1000,
                             100).to_pandas()
        t["l_orderkey"] = t["l_orderkey"] + self.next_order
        self.next_order += n_orders
        self.last_day += _DAY
        t["l_shipdate"] = self.last_day
        return self._keyed(t)

    def _upsert_rows(self) -> pd.DataFrame:
        r = int(self.rng.integers(0, self.UPSERT_MOD))
        m = self.model
        upd = m[m["l_orderkey"] % self.UPSERT_MOD == r].copy()
        upd["l_quantity"] = upd["l_quantity"] + 1
        return upd

    def _apply(self, rows: pd.DataFrame) -> None:
        m = pd.concat([self.model, rows])
        self.model = m[~m.index.duplicated(keep="last")]

    def _read(self, filters, columns=None):
        return lambda: self.col.item(
            "fact", filters=filters, columns=columns
        ).to_pandas(sort=False)

    def _check_read(self, mask: np.ndarray, cols: list[str]):
        want = self.model.loc[mask, cols]
        want_n, want_q = len(want), float(want["l_quantity"].sum())

        def check(got: pd.DataFrame) -> list[str]:
            return _mismatch("rows", len(got), want_n) + _mismatch(
                "sum(l_quantity)", float(got["l_quantity"].sum()), want_q)
        return check

    def ops(self) -> Iterator[Op]:
        for kind in self.blocks(self.MIX):
            yield self._op(kind)

    def _op(self, kind: str) -> Op:
        col = self.col
        if kind == "append":
            rows = self._new_rows()

            def check(_):
                self._apply(rows)
                return []
            return kind, "write", lambda: col.append("fact", rows), check
        if kind == "upsert":
            rows = self._upsert_rows()

            def check(_):
                self._apply(rows)
                return []
            return kind, "write", lambda: col.append(
                "fact", rows, duplicate_handling="keep_last"), check
        idx = self.model.index
        if kind == "read_range":
            # a month ending on one of the last 365 days
            back = int(self.rng.integers(0, 365))
            hi = self.last_day + _DAY - back * _DAY
            lo = hi - self.RANGE_DAYS * _DAY
            mask = (idx >= lo) & (idx < hi)
            flt = [("index", ">=", lo), ("index", "<", hi)]
            return kind, "read", self._read(flt, self.COLS), \
                self._check_read(mask, self.COLS)
        if kind == "read_filter":
            # bench.py's read: one return flag, seeded here
            flag = ["A", "N", "R"][int(self.rng.integers(0, 3))]
            mask = (self.model["l_returnflag"] == flag).to_numpy()
            flt = [("l_returnflag", "==", flag)]
            return kind, "read", self._read(flt, self.COLS), \
                self._check_read(mask, self.COLS)
        key = idx[int(self.rng.integers(0, len(idx)))]
        mask = idx == key
        return kind, "read", self._read([("index", "==", key)]), \
            self._check_read(mask, ["l_quantity"])

    def final_check(self) -> list[str]:
        got = self.col.item("fact").to_pandas()
        return _mismatch("final (rows, hash)",
                         frame_hash(got.reset_index()),
                         frame_hash(self.model.reset_index()))


# ---------------------------------------------------------------------------
# store_dml: merge-on-read DML on a daily-bucketed events item, plus the
# curation cycle on a document corpus
# ---------------------------------------------------------------------------
class StoreDML(Workload):
    name = "store_dml"
    item_name = "ev"
    #: one op of each kind per block, then ``compact`` (see README,
    #: "Workload parameters"); ``curate`` is the curation cycle, three
    #: ops in a row
    MIX = {"dv_delete": 1, "dv_update": 1, "merge": 1, "append": 1,
           "read_agg": 1, "curate": 1}
    MERGE_MATCHED = 40
    MERGE_NEW = 10
    EVENT_TYPES = datagen.EVENT_TYPES

    def make_inputs(self) -> None:
        self.n_users = max(15, int(15_000 * self.sf))
        t = datagen.events(self.rng, max(1_000, int(1_000_000 * self.sf)),
                           self.n_users)
        self.base = self._frame(t)
        # an append is one more day at the table's daily rate
        self.append_rows = max(10, len(self.base) // datagen.EVENT_DAYS)
        self.corpus = Corpus(self.spark, self.rng)

    @staticmethod
    def _frame(t) -> pd.DataFrame:
        # pandas' default nanosecond index unit (pyarrow's to_pandas
        # keeps the parquet microsecond unit)
        df = t.drop(["props"]).to_pandas()
        df["ts"] = df["ts"].astype("datetime64[ns]")
        return df.set_index("ts")

    def setup(self) -> None:
        col = self.fresh_collection()
        col.write("ev", self.base, freq="D")
        self.model = self.base.copy()
        self.next_id = int(self.base["event_id"].max()) + 1
        self.last_day = self.base.index.max().normalize()

    def warm_up(self) -> None:
        # the corpus is built once, on the last set-up's store
        t0 = time.perf_counter()
        self.corpus.setup(self.col)
        self.warm_steps_s["corpus_setup"] = time.perf_counter() - t0
        self.warm([k for k in self.MIX if k != "curate"]
                  + ["compact", *Corpus.cycle])

    def live_arrow_bytes(self) -> int:
        import pyarrow as pa

        return pa.Table.from_pandas(self.model).nbytes

    def space_root(self) -> str:
        return self.col._item_path("ev")

    def ops(self) -> Iterator[Op]:
        # compact closes a block and materializes the masks; opening the
        # next block with a dv op keeps every append and read of the
        # block on the masked (Spark) path, whatever the shuffle
        for kind in self.blocks(self.MIX, first="dv_delete", last="compact"):
            if kind == "curate":
                for k in Corpus.cycle:
                    yield self.corpus.op(k)
            else:
                yield self._op(kind)

    def _window(self):
        etype = self.EVENT_TYPES[int(self.rng.integers(0, 5))]
        days = (self.last_day - self.model.index.min().normalize()).days
        lo = self.model.index.min().normalize() + int(
            self.rng.integers(0, days + 1)) * _DAY + int(
            self.rng.integers(0, 4)) * pd.Timedelta(hours=6)
        hi = lo + pd.Timedelta(hours=6)
        flt = [[("event_type", "==", etype), ("ts", ">=", lo),
                ("ts", "<", hi)]]
        mask = ((self.model["event_type"] == etype).to_numpy()
                & (self.model.index >= lo) & (self.model.index < hi))
        return flt, mask

    def _new_events(self, n: int, start: pd.Timestamp, days: int):
        t = datagen.events(self.rng, n, self.n_users, first_id=self.next_id,
                           start_us=start.value // 1000, days=days)
        self.next_id += n
        return self._frame(t)

    def _op(self, kind: str) -> Op:
        if kind in Corpus.cycle:
            return self.corpus.op(kind)
        col = self.col
        if kind == "dv_delete":
            flt, mask = self._window()

            def check(_):
                self.model = self.model[~mask]
                return []
            return kind, "dml", lambda: col.delete_where(
                "ev", flt, mode="dv"), check
        if kind == "dv_update":
            flt, mask = self._window()

            def check(_):
                self.model.loc[mask, "value"] += 1.0
                return []
            return kind, "dml", lambda: col.update_where(
                "ev", flt, set={"value": "value + 1"}, mode="dv"), check
        if kind == "merge":
            pos = self.rng.choice(len(self.model), self.MERGE_MATCHED,
                                  replace=False)
            matched = self.model.iloc[pos].copy()
            matched["value"] = np.round(
                self.rng.uniform(0, 200, len(matched)), 2)
            first = self.model.index.min().normalize()
            new = self._new_events(self.MERGE_NEW, first,
                                   (self.last_day - first).days + 1)
            src = pd.concat([matched, new])

            def check(rep):
                m = self.model
                upd = m["event_id"].isin(matched["event_id"]).to_numpy()
                vals = matched.set_index("event_id")["value"]
                m.loc[upd, "value"] = m.loc[upd, "event_id"].map(vals).to_numpy()
                self.model = pd.concat([m, new])
                return _mismatch("merge (updated, inserted)",
                                 (rep["n_updated"], rep["n_inserted"]),
                                 (self.MERGE_MATCHED, self.MERGE_NEW))
            return kind, "dml", lambda: col.merge_into(
                "ev", src, on="event_id", when_matched={"value": "s.value"},
                when_not_matched="insert_all", mode="dv"), check
        if kind == "append":
            self.last_day += _DAY
            rows = self._new_events(self.append_rows, self.last_day, 1)

            def check(_):
                self.model = pd.concat([self.model, rows])
                return []
            return kind, "write", lambda: col.append("ev", rows), check
        if kind == "compact":
            return kind, "maint", lambda: col.compact("ev"), lambda _: []
        want_n = len(self.model)
        want_s = float(self.model["value"].sum())

        def run():
            from pyspark.sql import functions as F

            r = col.item("ev").data.agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
            ).collect()[0]
            return int(r["n"]), float(r["s"] or 0.0)

        def check(got):
            n, s = got
            out = _mismatch("count", n, want_n)
            if abs(s - want_s) > 1e-6 * max(1.0, abs(want_s)):
                out.append(f"sum(value): got {s!r}, want {want_s!r}")
            return out
        return "read_agg", "read", run, check

    def final_check(self) -> list[str]:
        got = self.col.item("ev").to_pandas()
        return _mismatch("final (rows, hash)",
                         frame_hash(got.reset_index()),
                         frame_hash(self.model.reset_index())
                         ) + self.corpus.final_check()


# ---------------------------------------------------------------------------
# analytics: registry queries to the noop sink
# ---------------------------------------------------------------------------
#: the queries the timed loop runs: one per execution layer (scan,
#: join + shuffle + aggregate, window, as-of join, text functions,
#: Arrow UDF via mapInPandas, BPE merge loop). ``sessionization`` is
#: left out: it truncates timestamps to whole seconds, so a gap just
#: over 30 minutes can disagree with its oracle on generated data.
ANALYTICS_QUERIES = [
    "scan_filter_pushdown",
    "revenue_by_nation",
    "running_sum_per_user",
    "asof_join_orders_events",
    "minhash_signatures",
    "image_content_stats",
    "bpe_tokenize_counts",
]


class Analytics(Workload):
    name = "analytics"
    queries = ANALYTICS_QUERIES

    def make_inputs(self) -> None:
        from pystore_spark.queries import QUERIES

        self.specs = {q: QUERIES[q] for q in self.queries}
        self.sf_dir = datagen.write_tables(
            self.seed, self.sf, os.path.join(self.work_dir, "tables"))
        self.oracle_problems: list[str] = []

    def _noop(self, spec) -> None:
        spec.spark_fn(self.spark, self.sf_dir).write.mode(
            "overwrite").format("noop").save()

    def setup(self) -> None:
        # one pass that collects every query's result to the driver;
        # the first repetition is the cold one, and the last one's
        # results are oracle-checked
        self.collected = {q: s.spark_fn(self.spark, self.sf_dir).toPandas()
                          for q, s in self.specs.items()}

    def after_setup(self) -> None:
        from oracle import check_queries

        self.oracle_problems = check_queries(self.sf_dir, self.collected)
        del self.collected

    def ops(self) -> Iterator[Op]:
        # a block is one pass over the queries, in seeded order
        while True:
            order = list(self.rng.permutation(self.queries))
            for i, q in enumerate(order):
                spec = self.specs[q]
                self.block_end = i == len(order) - 1
                yield q, "query", lambda spec=spec: self._noop(spec), \
                    lambda _: []

    def final_check(self) -> list[str]:
        return list(self.oracle_problems)



# ---------------------------------------------------------------------------
# the curation cycle: ingest -> near-dedup -> export refresh, on a
# document corpus in the same store as store_dml's item
# ---------------------------------------------------------------------------
class Corpus:
    """A curated corpus with its dedup index and training-shard export.
    ``cycle`` is the daily curation cycle: ``ingest`` a batch through a
    ``CurationPipeline`` and the dedup index, ``refresh`` the export
    with the batch's ids, ``read_shard`` one shard back."""

    cycle = ("ingest", "refresh", "read_shard")
    #: the test data's documents at sf0.01; tools/dedup_index_scale.py
    #: probes its 100-doc batch against this corpus too
    DOCS = 500
    #: an ingest batch, of which injected duplicates of stored docs
    #: (see README, "Workload parameters")
    BATCH = 100
    EXACT_DUPS = 10
    NEAR_DUPS = 10
    N_SHARDS = 16
    #: CurationPipeline quality gate, the pipeline docstring's example
    MIN_CHARS = 100
    #: ids of injected duplicates start here (the shifted-id recipe of
    #: tools/scale_probe.py); new docs count up from ``NEW_ID``
    DUP_ID = 1 << 40
    NEW_ID = 1 << 30

    def __init__(self, spark, rng: np.random.Generator):
        self.spark = spark
        self.rng = rng
        self.base = datagen.documents(rng, self.DOCS).select(
            ["doc_id", "text"]).to_pandas()

    def setup(self, col) -> None:
        """Write the corpus, build its dedup index, export it."""
        self.col = col
        col.write("corpus", self.base, index_col="doc_id")
        col.build_dedup_index("cidx", "corpus")
        col.export_training_shards("shards", "corpus",
                                   n_shards=self.N_SHARDS)
        self.model = self.base.copy()
        self.next_new = self.NEW_ID
        self.next_dup = self.DUP_ID
        self.exact_ids: list[int] = []

    @staticmethod
    def _rotate(text: str) -> str:
        # tools/scale_probe.py's near-duplicate: the token sequence
        # rotated by one
        toks = text.split()
        return " ".join(toks[1:] + toks[:1])

    def _batch(self) -> tuple[pd.DataFrame, pd.DataFrame, list[int]]:
        n_new = self.BATCH - self.EXACT_DUPS - self.NEAR_DUPS
        new = datagen.documents(self.rng, n_new, first_id=self.next_new
                                ).select(["doc_id", "text"]).to_pandas()
        self.next_new += n_new
        pos = self.rng.choice(len(self.model), self.EXACT_DUPS
                              + self.NEAR_DUPS, replace=False)
        dups = self.model.iloc[pos].copy()
        dups["doc_id"] = np.arange(self.next_dup, self.next_dup + len(dups))
        self.next_dup += len(dups)
        near = dups.iloc[self.EXACT_DUPS:].copy()
        near["text"] = near["text"].map(self._rotate)
        exact = dups.iloc[:self.EXACT_DUPS]
        batch = pd.concat([new, exact, near], ignore_index=True)
        return batch, new, exact["doc_id"].tolist()

    def _stored_ids(self) -> set[int]:
        ids = self.col.item("corpus", columns=["doc_id"]).to_pandas()
        return set(ids.reset_index()["doc_id"].astype("int64"))

    def op(self, kind: str) -> Op:
        col = self.col
        if kind == "ingest":
            from pystore_spark.pipeline import CurationPipeline

            batch, new, exact = self._batch()
            self.last_batch = batch["doc_id"].tolist()
            passing = batch["text"].str.len() >= self.MIN_CHARS
            # the pipeline is built on the batch's frame; ingest takes
            # the pandas batch, like every other write of the benchmark
            pipe = CurationPipeline(self.spark.createDataFrame(batch)
                                    ).filter_min_chars(self.MIN_CHARS)

            def check(rep):
                before = set(self.model["doc_id"])
                stored = self._stored_ids()
                added = stored - before
                self.exact_ids += exact
                self.model = pd.concat(
                    [self.model, batch[batch["doc_id"].isin(added)]],
                    ignore_index=True)
                want_new = set(new.loc[passing[:len(new)].to_numpy(),
                                       "doc_id"])
                out = _mismatch("n_incoming", rep["n_incoming"], self.BATCH)
                out += _mismatch("n_curated", rep["n_curated"],
                                 int(passing.sum()))
                out += _mismatch("n_appended", rep["n_appended"], len(added))
                out += _mismatch("stored rows", len(stored),
                                 len(before) + rep["n_appended"])
                out += _mismatch("exact duplicates stored",
                                 sorted(added & set(exact)), [])
                out += _mismatch("new docs missing",
                                 sorted(want_new - added), [])
                return out
            return kind, "write", lambda: col.ingest(
                "corpus", batch, pipeline=pipe, dedup_index="cidx",
                index_col="doc_id"), check
        if kind == "refresh":
            changed = self.last_batch

            def check(rep):
                n = rep["n_shards_rebuilt"]
                return [] if 1 <= n <= self.N_SHARDS else [
                    f"n_shards_rebuilt: got {n!r}"]
            return kind, "export", lambda: col.refresh_training_shards(
                "shards", changed), check
        shard = int(self.rng.integers(0, self.N_SHARDS))

        def check(got: pd.DataFrame) -> list[str]:
            ids = got.reset_index()["doc_id"]
            out = _mismatch("shard", sorted(set(got["shard"])), [shard])
            out += _mismatch("duplicate ids", int(ids.duplicated().sum()), 0)
            out += _mismatch("ids not in corpus",
                             int((~ids.isin(self.model["doc_id"])).sum()), 0)
            return out
        return kind, "read", lambda: col.item(
            "shards", filters=[("shard", "==", shard)]).to_pandas(), check

    def final_check(self) -> list[str]:
        out = []
        rep = self.col.verify_export("shards")
        if not rep["ok"]:
            out.append(f"verify_export: {rep}")
        stored = self._stored_ids()
        out += _mismatch("corpus ids == model ids",
                         stored == set(self.model["doc_id"]), True)
        out += _mismatch("exact duplicates stored",
                         sorted(stored & set(self.exact_ids)), [])
        return out


WORKLOADS = {w.name: w for w in (StoreRW, StoreDML, Analytics)}
