"""The traced run: spans around the calls into each layer of the engine,
plus counters from Spark's status store, the JVM's MX beans and a walk of
the catalog's files.

Spans are recorded from outside the program: ``Tracer.install`` replaces
each traced public function with a wrapper in every engine module that
holds it, before the workload imports anything else.  A span is
``(name, start, end, parent, op id)``; spans are recorded from Spark's
start through the catalog build and in the measured window (not in the
warm-up, which they would only slow), stay in memory and are summarised
when the window ends.  A layer's self time is its span's
duration minus the time of its child spans.
"""

from __future__ import annotations

import functools
import importlib
import os
import statistics
import sys
import time
from dataclasses import dataclass

import measure

ENGINE = "elasticsearch_hadoop_spark"

# (module, attribute, span name).  "Class.method" attributes patch methods.
TRACED = (
    ("session", "get_spark", "session.get_spark"),
    ("query_dsl", "compile_query", "query_dsl.compile"),
    ("catalog", "Catalog.read_index", "catalog.read_index"),
    ("catalog", "Catalog.write_index", "catalog.write_index"),
    ("catalog", "Catalog.count_index", "catalog.count_index"),
    ("catalog", "Catalog.compact_index", "catalog.compact_index"),
    ("txn", "try_commit", "txn.commit"),
    ("aggs_dsl", "compile_aggs", "aggs_dsl.compile_aggs"),
    ("search", "search", "search.search"),
    ("search", "bm25_topk", "search.bm25_topk"),
    ("search", "knn_search", "search.knn_search"),
    ("operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("operators.cc", "duplicate_clusters", "cc.duplicate_clusters"),
)
# spans after whose end the catalog root is walked for new parquet files
FILE_SPANS = {"catalog.write_index", "catalog.compact_index"}

# per-layer metrics: name -> (unit, better).  The README maps each to the
# end-to-end metric and workload it should move.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "query_dsl.compile_ms": ("ms", "lower"),
    "catalog.read_index_ms": ("ms", "lower"),
    "aggs_dsl.compile_aggs_ms": ("ms", "lower"),
    "spark.plan_ms": ("ms", "lower"),
    "spark.input_rows_per_result_row": ("rows/row", "lower"),
    "search.bm25_topk_build_ms": ("ms", "lower"),
    "search.build_jobs": ("count", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "catalog.write_index_ms": ("ms", "lower"),
    "catalog.write_jobs": ("count", "lower"),
    "txn.commits_per_op": ("count", "lower"),
    "catalog.count_index_ms": ("ms", "lower"),
    "catalog.count_index_jobs": ("count", "lower"),
    "catalog.files_written_per_op": ("count", "lower"),
    "catalog.live_files": ("count", "lower"),
    "catalog.bytes_written_per_doc": ("bytes", "lower"),
    "catalog.bytes_stored_per_live_doc": ("bytes", "lower"),
    "catalog.compact_index_ms": ("ms", "lower"),
    "catalog.bytes_rewritten": ("bytes", "lower"),
    "dedup.minhash_build_ms": ("ms", "lower"),
    "dedup.verify_yield": ("ratio", "higher"),
    "cc.duplicate_clusters_build_ms": ("ms", "lower"),
    "cc.build_jobs": ("count", "lower"),
    "spark.storage_used_mb": ("MB", "lower"),
    "corpus.build_ms": ("ms", "lower"),
    "corpus.build_jobs": ("count", "lower"),
    "spark.exec_ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "trace.op_p50_ms": ("ms", "lower"),
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: int = 0  # Spark jobs started while the span was open
    files: int = 0  # parquet files the span left under the catalog root
    bytes: int = 0
    rows: int = 0  # rows a collect returned
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


@dataclass
class OpStats:
    """Counters of one measured op, read after it returned."""

    jobs: int = 0
    stages: int = 0
    executor_run_ms: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op_id: int | None = None
        self.ops: list[OpStats] = []
        self.spark = None
        self.recording = True

    # ------------------------------------------------------------ install
    def install(self) -> None:
        """Wrap every traced function, wherever an engine module bound it,
        and the collect/count actions of Spark DataFrames."""
        for mod, attr, name in TRACED:
            owner = importlib.import_module(f"{ENGINE}.{mod}")
            cls, _, meth = attr.rpartition(".")
            holder = getattr(owner, cls) if cls else owner
            original = getattr(holder, meth)
            wrapped = self._wrap(name, original)
            setattr(holder, meth, wrapped)
            if not cls:
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(ENGINE) and getattr(m, meth, None) is original:
                        setattr(m, meth, wrapped)
        from pyspark.sql.classic.dataframe import DataFrame

        DataFrame.collect = self._wrap_action("spark.collect", DataFrame.collect, plan_first=True)
        DataFrame.count = self._wrap_action("spark.count", DataFrame.count, plan_first=False)
        from elasticsearch_hadoop_spark.corpus import load_all

        for spec in load_all().values():
            spec.fn = self._wrap("corpus.build", spec.fn)

    def attach(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()

    def pause(self) -> None:
        """Record nothing until the window starts."""
        self.recording = False

    def _next_job(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId()) if self.spark is not None else 0

    def _open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op_id))
        self.spans[-1].jobs = -self._next_job()
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def _close(self, i: int) -> None:
        s = self.spans[i]
        s.jobs += self._next_job()
        s.end = time.perf_counter()
        self.stack.pop()
        if s.parent is not None:
            self.spans[s.parent].children_s += s.end - s.start

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            # the file walks sit outside the span: they are tracing cost
            before = _catalog_files(args[0]) if name in FILE_SPANS else None
            i = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(i)
                if before is not None:
                    new = {p: b for p, b in _catalog_files(args[0]).items() if p not in before}
                    tracer.spans[i].files, tracer.spans[i].bytes = len(new), sum(new.values())

        return traced

    def _wrap_action(self, name: str, fn, plan_first: bool):
        """``collect``/``count``: a ``spark.plan`` child span forces the
        physical plan first, so the action's own self time is execution."""
        tracer = self

        @functools.wraps(fn)
        def traced(df, *args, **kwargs):
            if not tracer.recording:
                return fn(df, *args, **kwargs)
            i = tracer._open(name)
            try:
                if plan_first:
                    j = tracer._open("spark.plan")
                    try:
                        df._jdf.queryExecution().executedPlan()
                    finally:
                        tracer._close(j)
                out = fn(df, *args, **kwargs)
                tracer.spans[i].rows = len(out) if isinstance(out, list) else 1
                return out
            finally:
                tracer._close(i)

        return traced

    # ---------------------------------------------------------- the window
    def start_window(self) -> None:
        self.recording = True
        self.gc0 = self._gc_ms()

    def begin_op(self, n: int) -> None:
        self.op_id = n
        self.op_job0 = self._next_job()

    def end_op(self) -> None:
        """Read the op's counters from the status store (after the listener
        bus has delivered every event of the op's jobs)."""
        self.op_id = None
        self.jsc.listenerBus().waitUntilEmpty(10_000)
        stats = OpStats(jobs=self._next_job() - self.op_job0)
        store, tracker = self.jsc.statusStore(), self.spark.sparkContext.statusTracker()
        for job in range(self.op_job0, self.op_job0 + stats.jobs):
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                sd = store.lastStageAttempt(sid)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                stats.stages += 1
                stats.executor_run_ms += sd.executorRunTime()
                stats.shuffle_write_bytes += sd.shuffleWriteBytes()
                stats.input_bytes += sd.inputBytes()
                stats.input_rows += sd.inputRecords()
        self.ops.append(stats)

    def _gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    # ------------------------------------------------------------ summary
    def metrics(self, wl, lat_ms: list[float]) -> dict:
        """Every per-layer metric; a layer the workload never calls reads 0."""
        n_ops = len(self.ops)
        per_op: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.op is not None:
                per_op.setdefault(s.op, []).append(s)

        def op_sums(names: set[str], attr: str) -> list[float]:
            """Per op that opened one of ``names``: the sum of ``attr``."""
            out = []
            for spans in per_op.values():
                hit = [getattr(s, attr) for s in spans if s.name in names]
                if hit:
                    out.append(float(sum(hit)))
            return out

        def med(xs) -> float:
            return statistics.median(xs) if xs else 0.0

        def ms(*names) -> float:
            return med(op_sums(set(names), "self_s")) * 1000.0

        def jobs(*names) -> float:
            return med(op_sums(set(names), "jobs"))

        written = op_sums({"catalog.write_index"}, "bytes")
        files, live_bytes, live_rows = _live_files(wl)
        collected = {op: sum(s.rows for s in spans) for op, spans in per_op.items()}
        startup = [s for s in self.spans if s.name == "session.get_spark"]
        compactions = [s for s in self.spans if s.name == "catalog.compact_index"]
        commits = sum(1 for s in self.spans if s.name == "txn.commit" and s.op is not None)
        values = {
            "session.get_spark_s": startup[0].end - startup[0].start if startup else 0.0,
            "query_dsl.compile_ms": ms("query_dsl.compile"),
            "catalog.read_index_ms": ms("catalog.read_index"),
            "aggs_dsl.compile_aggs_ms": ms("aggs_dsl.compile_aggs"),
            "spark.plan_ms": ms("spark.plan"),
            "spark.input_rows_per_result_row": med(
                [o.input_rows / max(collected.get(i, 0), 1) for i, o in enumerate(self.ops)]
            ),
            "search.bm25_topk_build_ms": ms("search.bm25_topk"),
            "search.build_jobs": jobs("search.search", "search.bm25_topk", "search.knn_search"),
            "jvm.gc_ms": (self._gc_ms() - self.gc0) / max(n_ops, 1),
            "catalog.write_index_ms": ms("catalog.write_index"),
            "catalog.write_jobs": jobs("catalog.write_index"),
            "txn.commits_per_op": commits / max(n_ops, 1),
            "catalog.count_index_ms": ms("catalog.count_index"),
            "catalog.count_index_jobs": jobs("catalog.count_index"),
            "catalog.files_written_per_op": sum(op_sums({"catalog.write_index"}, "files")) / max(n_ops, 1),
            "catalog.live_files": float(files),
            "catalog.bytes_written_per_doc": sum(written) / n_ops / wl.docs_per_op if wl.docs_per_op and n_ops else 0.0,
            "catalog.bytes_stored_per_live_doc": live_bytes / live_rows if live_rows else 0.0,
            # compaction runs once, in set-up
            "catalog.compact_index_ms": 1000.0 * sum(s.self_s for s in compactions),
            "catalog.bytes_rewritten": float(sum(s.bytes for s in compactions)),
            "dedup.minhash_build_ms": ms("dedup.minhash_lsh_pairs"),
            "dedup.verify_yield": wl.verify_yield() if hasattr(wl, "verify_yield") else 0.0,
            "cc.duplicate_clusters_build_ms": ms("cc.duplicate_clusters"),
            "cc.build_jobs": jobs("cc.duplicate_clusters"),
            "spark.storage_used_mb": sum(i.memSize() for i in self.jsc.getRDDStorageInfo()) / 2**20,
            "corpus.build_ms": ms("corpus.build"),
            "corpus.build_jobs": jobs("corpus.build"),
            "spark.exec_ms": ms("spark.collect", "spark.count"),
            "spark.jobs": med([o.jobs for o in self.ops]),
            "spark.stages": med([o.stages for o in self.ops]),
            "spark.executor_run_ms": med([o.executor_run_ms for o in self.ops]),
            "spark.shuffle_write_bytes": med([o.shuffle_write_bytes for o in self.ops]),
            "spark.input_bytes": med([o.input_bytes for o in self.ops]),
            "trace.op_p50_ms": measure.percentile(lat_ms, 50),
        }
        return {k: {"value": float(v), "unit": PER_LAYER[k][0]} for k, v in values.items()}


def _catalog_files(catalog) -> dict[str, int]:
    """Every parquet file under a catalog's root, with its size."""
    out = {}
    for root, _, names in os.walk(catalog.root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


def _live_files(wl) -> tuple[int, int, int]:
    """(files, bytes, rows) of the live snapshot of the workload's index:
    the manifest's data dirs for a transactional index, else its directory.
    Rows come from the parquet footers."""
    import pyarrow.parquet as pq

    from elasticsearch_hadoop_spark import txn

    path = wl.catalog.path(wl.index)
    dirs = txn.latest(path)[1] if txn.is_transactional(path) else [path]
    files = nbytes = rows = 0
    for d in dirs:
        for root, subdirs, names in os.walk(d):
            subdirs[:] = [s for s in subdirs if not s.startswith(("_", "."))]
            for n in names:
                if n.endswith(".parquet") and not n.startswith(("_", ".")):
                    p = os.path.join(root, n)
                    files += 1
                    nbytes += os.path.getsize(p)
                    rows += pq.ParquetFile(p).metadata.num_rows
    return files, nbytes, rows
