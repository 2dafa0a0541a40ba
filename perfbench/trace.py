"""Spans around the library's layer boundaries, recorded from outside.

``Tracer.install()`` replaces the public layer functions with timing
wrappers *where their callers look them up* (``tantiny_spark.index``
imports ``build_segment``, ``prime_stats`` and friends by name, so those
names are wrapped in ``tantiny_spark.index``), plus ``DataFrame.collect``,
``DataFrame.count`` and ``DataFrameWriter.parquet``. Nothing inside the
library changes; ``uninstall()`` restores every original. The dedup
wrappers also keep the last candidate-pair and edge frames in ``caught``,
so the workload can count them outside the timed pass.

Each span records name, start, end, parent, request id and thread, the
Spark jobs started while it was open (a job-id range read from the DAG
scheduler's id counter, so jobs submitted from ``write_segment``'s thread
pool are counted too) and the py4j commands sent meanwhile (counted at the
gateway connection's ``send_command``). Spans stay in memory and are
written as JSONL by ``dump``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spans: list[dict] = []
        self.request: str | None = None
        self.overhead_s = 0.0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._py4j = 0
        self._async_parent: int | None = None
        self._patches: list = []
        self.caught: dict = {}
        # DAGScheduler.nextJobId: the id the next submitted job will get
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    # --- counters --------------------------------------------------------------
    def _jobs_now(self) -> int:
        self._tls.quiet = True
        try:
            return int(self._dag.nextJobId())
        finally:
            self._tls.quiet = False

    def _count_py4j(self, send):
        tracer = self

        @functools.wraps(send)
        def wrapped(conn, *a, **kw):
            if not getattr(tracer._tls, "quiet", False):
                with tracer._lock:
                    tracer._py4j += 1
            return send(conn, *a, **kw)

        return wrapped

    # --- spans ---------------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._async_parent
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "request": self.request,
                   "thread": threading.get_ident(), **attrs}
            self.spans.append(rec)
            py4j0 = self._py4j
        jobs0 = self._jobs_now() if jobs else 0
        stack.append(sid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            rec["jobs"] = self._jobs_now() - jobs0 if jobs else 0
            with self._lock:
                rec["py4j"] = self._py4j - py4j0
            self.overhead_s += time.perf_counter() - rec["end"]

    def _wrap(self, owner, attr: str, name: str, jobs: bool = True, on_call=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with tracer.span(name, jobs) as rec:
                out = orig(*a, **kw)
                if on_call is not None:
                    on_call(rec, a, kw, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    # --- install -------------------------------------------------------------------
    def install(self) -> "Tracer":
        import py4j.clientserver
        import py4j.java_gateway
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        import tantiny_spark.executor as executor
        import tantiny_spark.index as index
        import tantiny_spark.plan as plan
        import tantiny_spark.wand as wand
        from tantiny_spark.pipeline import dedup
        from tantiny_spark.storage import IndexStorage, Snapshot

        for cls in (py4j.clientserver.ClientServerConnection,
                    py4j.java_gateway.GatewayConnection):
            self._patches.append((cls, "send_command", cls.send_command))
            cls.send_command = self._count_py4j(cls.send_command)

        # build / storage
        self._wrap(index, "build_segment", "build.build_segment")
        self._wrap_write_segment(IndexStorage)
        self._wrap(IndexStorage, "commit", "storage.commit", jobs=False)
        self._wrap(Snapshot, "context", "storage.context")
        self._wrap(DataFrameWriter, "parquet", "storage.parquet", on_call=_table_size)
        # executor / wand
        self._wrap(index, "prime_stats", "executor.prime_stats")
        self._wrap(executor, "prime_stats_many", "executor.prime_stats")
        self._wrap(index, "compile_plan", "executor.compile_plan")
        self._wrap(index, "top_k", "executor.top_k")
        self._wrap(index, "try_wand_topk", "executor.try_wand", on_call=_wand_gate)
        self._wrap(executor, "_dict_expansion", "executor.expansion")
        self._wrap(wand, "wand_topk", "wand.wand_topk")
        # plan construction (pure Python: no job marks)
        for fn in ("term_query", "fuzzy_term_query", "phrase_query", "prefix_query",
                   "range_query", "facet_query", "smart_query", "conjunction",
                   "disjunction"):
            self._wrap(plan, fn, "plan.construct", jobs=False)
        # index API
        Index = index.Index
        for fn in ("search", "search_with_scores"):
            self._wrap(Index, fn, "index.search")
        self._wrap(Index, "search_df", "index.search_df")
        self._wrap(Index, "search_many", "index.search_many")
        self._wrap(Index, "reload", "index.reload")
        self._wrap(Index, "merge_segments", "index.merge_segments")
        self._wrap(Index, "add_dataframe", "index.add_dataframe")
        self._wrap_transaction(Index)
        for fn in ("count", "facet_counts", "histogram"):
            self._wrap(Index, fn, "aggs.request")
        # dedup: the entry point, and the two stages it looks up by name
        self._wrap(dedup, "fuzzy_dedup_corpus", "dedup.fuzzy_dedup_corpus")
        self._wrap(dedup, "lsh_candidate_pairs", "dedup.lsh_candidate_pairs",
                   on_call=lambda rec, a, kw, out: self.caught.update(candidates=out))
        self._wrap(dedup, "connected_components", "dedup.connected_components",
                   on_call=lambda rec, a, kw, out: self.caught.update(edges=a[0]))
        # Spark actions
        self._wrap(DataFrame, "collect", "spark.collect")
        self._wrap(DataFrame, "count", "spark.count")
        return self

    def _wrap_write_segment(self, IndexStorage):
        # write_segment submits its table writes from a thread pool: spans
        # opened on those threads take this span as their parent
        orig = IndexStorage.write_segment
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with tracer.span("storage.write_segment") as rec:
                tracer._async_parent = rec["id"]
                try:
                    return orig(*a, **kw)
                finally:
                    tracer._async_parent = None

        self._patches.append((IndexStorage, "write_segment", orig))
        IndexStorage.write_segment = wrapped

    def _wrap_transaction(self, Index):
        orig = Index.transaction
        tracer = self

        @functools.wraps(orig)
        @contextmanager
        def wrapped(ix):
            with tracer.span("index.transaction"):
                with orig(ix) as out:
                    yield out

        self._patches.append((Index, "transaction", orig))
        Index.transaction = wrapped

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


def _table_size(rec, args, kw, out):
    """After a parquet write: the table directory's name, bytes and files."""
    path = args[1] if len(args) > 1 else kw["path"]
    rec["table"] = os.path.basename(os.path.normpath(path))
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    rec["bytes"], rec["files"] = size, files


def _wand_gate(rec, args, kw, out):
    """Eligible = the executor's WAND shape (one-field pure term query or
    disjunction of distinct terms); fired = the gate returned a plan."""
    from tantiny_spark import plan as P

    node = args[0]
    while isinstance(node, P.Boost):
        node = node.child
    terms = [node] if isinstance(node, P.Term) else (
        list(node.children) if isinstance(node, P.Disjunction) else [])
    rec["eligible"] = bool(terms) and all(isinstance(t, P.Term) for t in terms) \
        and len({t.field for t in terms}) == 1 and len({t.term for t in terms}) == len(terms)
    rec["fired"] = out is not None


def self_times(spans: list[dict]) -> dict:
    """Span id -> self time: duration minus the part covered by children
    on the same thread (children on pool threads overlap their parent)."""
    child = {}
    for s in spans:
        p = s.get("parent")
        if p is not None and "end" in s and spans[p].get("thread") == s["thread"]:
            child[p] = child.get(p, 0.0) + (s["end"] - s["start"])
    return {s["id"]: max(0.0, s["end"] - s["start"] - child.get(s["id"], 0.0))
            for s in spans if "end" in s}
