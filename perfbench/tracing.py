"""Per-layer tracing for the ``--trace 1`` run.

``Tracer.install`` wraps the public entry points of each engine layer
from outside the package: the function object is replaced on its module
and at every place another ``pystore_spark`` module bound it by name
(``from pystore_spark.utils import write_manifest``), so no call
escapes. Each wrapped call records a span (name, start, end, parent
span, op id) in memory; ``write`` dumps them as JSON at the end of the
run. A span's self time is its duration minus the time its child spans
cover.

Around each op the tracer also sets a Spark job group and reads the
group's stage metrics from the status store, sums the Python UDF SQL
metrics of the op's SQL executions, counts py4j round trips (their time
includes the JVM work they wait on), and diffs the store directory
(files and bytes written).
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

#: (module, attribute path, span name) of every wrapped entry point
ENTRY_POINTS = [
    ("pystore_spark.collection", "Collection.write", "collection.write"),
    ("pystore_spark.collection", "Collection.append", "collection.append"),
    ("pystore_spark.collection", "Collection.delete_where",
     "collection.delete_where"),
    ("pystore_spark.collection", "Collection.update_where",
     "collection.update_where"),
    ("pystore_spark.collection", "Collection.merge_into",
     "collection.merge_into"),
    ("pystore_spark.collection", "Collection.compact", "collection.compact"),
    ("pystore_spark.collection", "Collection.ingest", "collection.ingest"),
    ("pystore_spark.collection", "Collection.refresh_training_shards",
     "collection.refresh_training_shards"),
    ("pystore_spark.arrow_path", "try_write", "arrow_path.try_write"),
    ("pystore_spark.arrow_path", "try_append", "arrow_path.try_append"),
    ("pystore_spark.utils", "write_manifest", "manifest.commit"),
    # read_manifest calls this one through the module, so one span
    # covers both
    ("pystore_spark.utils", "read_manifest_versioned", "manifest.read"),
    ("pystore_spark.manifest", "prune_files", "manifest.prune_files"),
    ("pystore_spark.partition", "estimate_size_bytes", "partition.estimate"),
    ("pystore_spark.item", "Item.to_pandas", "item.to_pandas"),
    ("pystore_spark.item", "Item._arrow_dataset_and_filter",
     "item.arrow_dataset"),
    ("pystore_spark.dv", "masked_scan", "dv.masked_scan"),
    ("pystore_spark.dv", "apply_mask", "dv.apply_mask"),
    ("pystore_spark.dv", "write_mask_dir", "dv.write_mask_dir"),
    ("pystore_spark.pipeline", "CurationPipeline.run", "pipeline.run"),
    # the probe phase of every dedup-index append (ingest included)
    ("pystore_spark.dedup_index", "_probe_report", "dedup_index.probe"),
]

#: spans each workload's timed loop is predicted to reach at least
#: once; ``spark.jobs`` means at least one Spark job ran in an op
EXPECTED = {
    "store_rw": ["collection.append", "arrow_path.try_append",
                 "manifest.commit", "manifest.read", "manifest.prune_files",
                 "item.to_pandas", "item.arrow_dataset"],
    "store_dml": ["collection.append", "collection.delete_where",
                  "collection.update_where", "collection.merge_into",
                  "collection.compact", "arrow_path.try_append",
                  "manifest.commit", "manifest.read", "partition.estimate",
                  "dv.write_mask_dir", "spark.jobs",
                  # the curation cycle
                  "collection.ingest", "collection.refresh_training_shards",
                  "pipeline.run", "dedup_index.probe", "item.to_pandas"],
    "analytics": ["partition.estimate", "spark.jobs"],
}

COLLECTION_METHODS = ["write", "append", "delete_where", "update_where",
                      "merge_into", "compact", "ingest",
                      "refresh_training_shards"]
#: status-store stage fields summed per op
STAGE_FIELDS = {
    "spark.executor_run_ms": "executorRunTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.input_bytes": "inputBytes",
}
#: SQL metric names of the Python UDF boundary (MapInPandas,
#: ArrowEvalPython, ...) in the SQL status store
UDF_METRICS = {"data sent to Python workers": "python_udf.bytes_sent",
               "data returned from Python workers":
               "python_udf.bytes_returned"}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


def _walk(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.lstat(p).st_size
            except FileNotFoundError:
                pass
    return out


def _arrow_nbytes(data) -> int:
    import pandas as pd
    import pyarrow as pa

    if isinstance(data, pd.DataFrame):
        return pa.Table.from_pandas(data).nbytes
    return 0


class Tracer:
    def __init__(self, spark, workload):
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._next_id = 0
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.op_id: int | None = None
        self.c: dict[str, float] = defaultdict(float)
        self.read_ms_masked: list[float] = []
        self.query_ms: dict[str, list[float]] = defaultdict(list)
        self._datasets: list = []
        self._own = False

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrapper(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            if tracer._own:  # the tracer's own reads are not traced
                return fn(*args, **kwargs)
            st = tracer._stack()
            with tracer._lock:
                sid = tracer._next_id
                tracer._next_id += 1
            parent = st[-1] if st else None
            st.append(sid)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                st.pop()
                tracer.spans.append((sid, name, t0, t1, parent,
                                     tracer.op_id))
            tracer._observe(name, args, kwargs, out)
            return out
        traced.__wrapped__ = fn
        return traced

    def _observe(self, name: str, args, kwargs, out) -> None:
        """Counters taken from an entry point's arguments and result."""
        c = self.c
        if name.startswith("arrow_path.try_"):
            c["arrow.calls"] += 1
            c["arrow.accepted"] += bool(out)
        elif name == "manifest.prune_files":
            files = args[0] if args else kwargs.get("files") or []
            c["prune.in"] += len(files)
            c["prune.kept"] += len(out)
        elif name == "item.arrow_dataset":
            self._datasets.append(out[0])
        elif name == "item.to_pandas":
            c["item.rows_returned"] += len(out)
        elif name == "pipeline.run":
            funnel = out[0]
            c["pipeline.in"] += funnel[0][1] if funnel else 0
            c["pipeline.out"] += funnel[-1][1] if funnel else 0
        elif name == "dedup_index.probe":
            c["dedup.in"] += out[0]
            c["dedup.dropped"] += out[1]
        elif name == "collection.refresh_training_shards":
            c["export.rebuilt"] += out.get("n_shards_rebuilt", 0)
        elif name in ("collection.write", "collection.append",
                      "collection.merge_into", "collection.ingest"
                      ) and len(self._stack()) == 0:
            data = args[2] if len(args) > 2 else kwargs.get(
                "data", kwargs.get("source"))
            c["fs.user_bytes"] += _arrow_nbytes(data)

    def install(self) -> None:
        for mod_name, path, name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            owner_path, _, attr = path.rpartition(".")
            owner = mod
            for part in filter(None, owner_path.split(".")):
                owner = getattr(owner, part)
            orig = owner.__dict__[attr] if isinstance(owner, type) \
                else getattr(owner, attr)
            wrapped = self._wrapper(orig, name)
            self._patch(owner, attr, orig, wrapped)
            if not isinstance(owner, type):
                # rebind every by-name import of the same function
                for m in list(sys.modules.values()):
                    if m is mod or not getattr(m, "__name__", "").startswith(
                            "pystore_spark"):
                        continue
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._patch(m, k, orig, wrapped)
        self._patch_py4j()

    def _patch(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def _patch_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            orig = cls.send_command

            def send(conn, command, *a, _orig=orig, **k):
                if tracer._own or tracer.op_id is None:
                    return _orig(conn, command, *a, **k)
                t0 = time.perf_counter()
                try:
                    return _orig(conn, command, *a, **k)
                finally:
                    tracer.c["py4j.calls"] += 1
                    tracer.c["py4j.ms"] += (time.perf_counter() - t0) * 1e3
            self._patch(cls, "send_command", orig, send)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- per op --------------------------------------------------------
    def _group(self, i: int) -> str:
        return f"perfbench-op-{i}"

    def begin_op(self, i: int, kind: str) -> None:
        self._own = True
        try:
            self._files_before = _walk(self.wl.store_root) \
                if hasattr(self.wl, "store_root") else {}
            self._dv_before, masked = self._dv_state()
            self.c["dv.masked_files"] += masked
            self._exec_before = self._last_execution()
            self.sc.setJobGroup(self._group(i), kind, False)
        finally:
            self._own = False
        self.op_id = i

    def end_op(self, i: int, kind: str, cls: str, dt: float) -> None:
        self.op_id = None
        self._own = True
        try:
            self.sc.setJobGroup("perfbench-idle", "", False)
            self._spark_counters(self._group(i))
            self._udf_counters(self._exec_before)
            if hasattr(self.wl, "store_root"):
                after = _walk(self.wl.store_root)
                new = {p: s for p, s in after.items()
                       if self._files_before.get(p) != s}
                self.c["fs.files_written"] += len(new)
                self.c["fs.bytes_written"] += sum(new.values())
            dv_after, _ = self._dv_state()
            self.c["dv.mask_rows"] += max(0, dv_after - self._dv_before)
            if cls == "read" and self._dv_before > 0:
                self.read_ms_masked.append(dt * 1e3)
            if cls == "query":
                self.query_ms[kind].append(dt * 1e3)
            for ds in self._datasets:
                self.c["item.rows_read"] += sum(
                    f.count_rows() for f in ds.get_fragments())
            self._datasets.clear()
        finally:
            self._own = False

    def _dv_state(self) -> tuple[int, int]:
        """(masked rows, files carrying a mask) of the workload's item."""
        item = getattr(self.wl, "item_name", None)
        if item is None or self.wl.col is None:
            return 0, 0
        from pystore_spark import dv

        from pystore_spark.utils import read_manifest

        man = read_manifest(self.wl.col._item_path(item))
        return dv.dv_total(man), len(dv.dv_map(man))

    def _spark_counters(self, group: str) -> None:
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        self.c["spark.jobs"] += len(jobs)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never ran (skipped)
                    continue
                self.c["spark.stages"] += 1
                self.c["spark.tasks"] += st.numTasks()
                for key, field in STAGE_FIELDS.items():
                    self.c[key] += getattr(st, field)()
                self.c["spark.spill_bytes"] += (st.memoryBytesSpilled()
                                                + st.diskBytesSpilled())

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution(self) -> int:
        ex = self._sql_store().executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def _udf_counters(self, after_id: int) -> None:
        """Sum the Python UDF SQL metrics of the executions that ran
        after ``after_id``."""
        store = self._sql_store()
        ex = store.executionsList()
        k = ex.size() - 1
        while k >= 0 and ex.apply(k).executionId() > after_id:
            eid = ex.apply(k).executionId()
            k -= 1
            wanted = {}
            nodes = store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                ms = nodes.apply(i).metrics()
                for j in range(ms.size()):
                    key = UDF_METRICS.get(ms.apply(j).name())
                    if key:
                        wanted[ms.apply(j).accumulatorId()] = key
            if not wanted:
                continue
            it = store.executionMetrics(eid).iterator()
            while it.hasNext():
                t = it.next()
                if t._1() in wanted:
                    self.c[wanted[t._1()]] += _size_bytes(t._2())

    # -- results -------------------------------------------------------
    def self_times(self) -> dict[str, list[float]]:
        """Per span name, the self time (ms) of each call."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sid, _, t0, t1, parent, _ in self.spans:
            if parent is not None:
                children[parent].append((t0, t1))
        out: dict[str, list[float]] = defaultdict(list)
        for sid, name, t0, t1, _, _ in self.spans:
            covered, end = 0.0, t0
            for a, b in sorted(children.get(sid, [])):
                a, b = max(a, end), min(b, t1)
                if b > a:
                    covered += b - a
                    end = b
            out[name].append((t1 - t0 - covered) * 1e3)
        return out

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for _, name, t0, t1, _, _ in self.spans:
            out[name].append((t1 - t0) * 1e3)
        return out

    def missing(self) -> list[str]:
        fired = {s[1] for s in self.spans} | (
            {"spark.jobs"} if self.c["spark.jobs"] else set())
        return [n for n in EXPECTED.get(self.wl.name, []) if n not in fired]

    def metrics(self, ops: int, ops_per_s: float) -> dict[str, tuple]:
        c, ops = self.c, max(1, ops)
        dur, selft = self.durations(), self.self_times()

        def mean(xs):
            return statistics.fmean(xs) if xs else 0.0

        def share(a, b):
            return a / b if b else 0.0
        m: dict[str, tuple] = {}
        for meth in COLLECTION_METHODS:
            m[f"collection.{meth}_self_ms"] = (
                mean(selft.get(f"collection.{meth}")), "ms")
        m["arrow_path.try_write_ms"] = (mean(dur.get("arrow_path.try_write")),
                                        "ms")
        m["arrow_path.try_append_ms"] = (
            mean(dur.get("arrow_path.try_append")), "ms")
        m["arrow_path.accept_share"] = (
            share(c["arrow.accepted"], c["arrow.calls"]), "ratio")
        m["manifest.commits_per_op"] = (
            len(dur.get("manifest.commit", [])) / ops, "count")
        m["manifest.commit_ms"] = (mean(dur.get("manifest.commit")), "ms")
        m["manifest.read_ms"] = (mean(dur.get("manifest.read")), "ms")
        m["manifest.files_read_share"] = (
            share(c["prune.kept"], c["prune.in"]), "ratio")
        m["partition.estimate_calls_per_op"] = (
            len(dur.get("partition.estimate", [])) / ops, "count")
        m["partition.estimate_ms"] = (mean(dur.get("partition.estimate")),
                                      "ms")
        m["item.to_pandas_ms"] = (mean(dur.get("item.to_pandas")), "ms")
        m["item.rows_read_per_row_returned"] = (
            share(c["item.rows_read"], c["item.rows_returned"]), "ratio")
        m["dv.mask_rows_per_op"] = (c["dv.mask_rows"] / ops, "count")
        m["dv.masked_files"] = (c["dv.masked_files"] / ops, "count")
        m["dv.masked_scan_ms"] = (mean(self.read_ms_masked), "ms")
        m["fs.bytes_written_per_user_byte"] = (
            share(c["fs.bytes_written"], c["fs.user_bytes"]), "ratio")
        m["fs.files_written_per_op"] = (c["fs.files_written"] / ops, "count")
        m["spark.jobs_per_op"] = (c["spark.jobs"] / ops, "count")
        m["spark.stages_per_op"] = (c["spark.stages"] / ops, "count")
        m["spark.tasks_per_op"] = (c["spark.tasks"] / ops, "count")
        m["spark.executor_run_ms"] = (c["spark.executor_run_ms"] / ops, "ms")
        for key in ("shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "input_bytes"):
            m[f"spark.{key}"] = (c[f"spark.{key}"] / ops, "B")
        m["py4j.calls_per_op"] = (c["py4j.calls"] / ops, "count")
        m["py4j.ms_per_op"] = (c["py4j.ms"] / ops, "ms")
        m["pipeline.ms"] = (mean(dur.get("pipeline.run")), "ms")
        m["pipeline.survivor_share"] = (
            share(c["pipeline.out"], c["pipeline.in"]), "ratio")
        m["dedup_index.probe_ms"] = (mean(dur.get("dedup_index.probe")),
                                     "ms")
        m["dedup_index.dropped_share"] = (
            share(c["dedup.dropped"], c["dedup.in"]), "ratio")
        m["export.shards_rebuilt_per_op"] = (c["export.rebuilt"] / ops,
                                             "count")
        m["python_udf.bytes_sent"] = (c["python_udf.bytes_sent"] / ops, "B")
        m["python_udf.bytes_returned"] = (
            c["python_udf.bytes_returned"] / ops, "B")
        from workloads import ANALYTICS_QUERIES

        for q in ANALYTICS_QUERIES:
            xs = self.query_ms.get(q)
            m[f"query.{q}_ms"] = (statistics.median(xs) if xs else 0.0, "ms")
        m["trace.ops_per_s"] = (ops_per_s, "1/s")
        m["trace.missing_entry_points"] = (float(len(self.missing())),
                                           "count")
        return m

    def write(self, path: str) -> str:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"fields": ["id", "name", "start", "end", "parent",
                                  "op"], "spans": self.spans}, fh)
        return path


def _size_bytes(text: str) -> float:
    """Bytes from a formatted SQL size metric, whose second line starts
    with the total, e.g. ``"total (min, med, max ...)\n78.5 KiB (...)"``."""
    lines = str(text).splitlines()
    parts = (lines[-1] if lines else "").split()
    try:
        return float(parts[0].replace(",", "")) * _SIZE_UNITS[parts[1]]
    except (IndexError, KeyError, ValueError):
        return 0.0
