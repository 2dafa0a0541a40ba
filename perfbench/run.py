"""tantiny-spark benchmark: one seeded workload per run, checked outputs.

    python3 perfbench/run.py --workload serve_queries --seed 1 --seconds 10 --trace 0

Run from the repository root (the library is imported from there, and the
Spark workers get it on ``PYTHONPATH``). Inputs are generated from
``--seed``; the run sets up its index, warms up, then drives the workload
in a closed loop with one client for ``--seconds`` and checks the answers.

The last stdout line is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1`` (the traced
run wraps the library's layer functions from outside, see trace.py). The
line before it is the full record: host, versions, Spark conf, sizes,
sample counts, the per-workload metrics, the results checksum and, for a
traced run whose untraced twin (same workload and seed) ran earlier in
this checkout, the tracing overhead. Scratch files live under
``.perfbench/`` and are removed at exit; records and span logs stay in
``.perfbench/results`` and ``.perfbench/traces``.

Each workload runs a fixed number of steps for a given ``--seconds``
(``Workload.STEP_S``), so every run of the same length measures the same
operations; ``loop_s`` in the record is how long they took.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def percentile(xs: list, p: float) -> float:
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def timing(xs: list) -> dict:
    """Median, geometric mean and the tail: the highest percentile with at
    least ten samples above it, p(100 * (n - 10) / n). Below 11 samples no
    percentile has ten above it, and the tail is the maximum (pct 100)."""
    if not xs:
        return {"n": 0}
    out = {"n": len(xs), "p50": statistics.median(xs), "gmean": statistics.geometric_mean(xs)}
    if len(xs) <= 10:
        return dict(out, tail=max(xs), tail_pct=100)
    pct = int(100 * (len(xs) - 10) / len(xs))
    return dict(out, tail=percentile(xs, pct), tail_pct=pct)


class MemSampler:
    """Peak summed proportional set size (PSS) of this process's
    descendants (the Spark driver JVM and its Python workers), sampled
    every 0.5 s, and apart from it the peak PSS of this process, which
    holds the benchmark's own inputs and reference data. PSS splits each
    shared page among the processes mapping it, so forked Python workers
    are not counted once per fork for the pages they share with their
    parent, as a sum of RSS would. The JVM heap is not pre-touched, so
    its resident part follows what the heap has grown to."""

    def __init__(self):
        self.peak = self.own_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        while not self._stop.is_set():
            own, total = self.sample()
            self.peak, self.own_peak = max(self.peak, total - own), max(self.own_peak, own)
            self._stop.wait(0.5)

    @staticmethod
    def sample() -> tuple[int, int]:
        """(PSS of this process, PSS of it and all its descendants)."""
        kids: dict = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(pid))
        me = os.getpid()
        own = total = 0
        todo = [me]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = sum(int(line.split()[1]) * 1024 for line in fh if line.startswith("Pss:"))
            except OSError:  # the process has exited
                continue
            total += pss
            if pid == me:
                own = pss
        return own, total


def host_info() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        ram_kb = int(fh.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(ram_kb / 2**20, 1),
            "python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def start_spark(work: str, host: dict):
    from pyspark.sql import SparkSession

    nproc = host["nproc"]
    # the one JVM is the whole cluster here; 3g holds these workloads
    # with room to spare on a 12-16 GB host
    heap = 3 if host["ram_gb"] >= 12 else 2
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "tantiny-spark-perfbench",
        "spark.driver.memory": f"{heap}g",
        "spark.sql.shuffle.partitions": str(max(nproc, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # heap occupancy after each GC pause, for jvm_heap_after_gc_peak_mb
        "spark.driver.extraJavaOptions": f"-Xlog:gc:file={os.path.join(work, 'gc.log')}",
    }
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    t = time.perf_counter()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, conf, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def retained_heap_mb(spark) -> float:
    """MB of JVM heap still in use after a full collection: what the
    workload's steps left behind (persisted frames, broadcast and cached
    blocks, query plans), independent of when G1 would have collected."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def heap_after_gc_mb(gc_log: str) -> float:
    """The JVM's peak heap occupancy right after a GC pause (``A->BM(CM)``
    lines of ``-Xlog:gc``): what the heap holds, not what G1 reserved."""
    peak = 0.0
    with open(gc_log) as fh:
        for line in fh:
            m = re.search(r"\d+M->(\d+)M\(\d+M\)", line)
            if m:
                peak = max(peak, float(m.group(1)))
    return peak


def terms_per_s(corpus, seed: int) -> float:
    """Analyzer kernel speed in this process on a seeded sample of pages."""
    import numpy as np

    from perfbench.workloads import schema

    tok = schema().tokenizer_for("text")
    rows = np.random.default_rng([seed, 12]).choice(len(corpus), size=min(300, len(corpus)), replace=False)
    texts = [corpus.expected_text(int(i)) for i in rows]
    t = time.perf_counter()
    n = sum(len(tok.terms(x)) for x in texts)
    return n / (time.perf_counter() - t)


def workload_metrics(wl, setup_s: float, retained_mb: float) -> tuple[dict, dict]:
    """(end-to-end metrics by name, per-workload named metrics)."""
    s = defaultdict(list, wl.samples)
    op, novel, repeat = timing(s["op"]), timing(s["novel"]), timing(s["repeat"])
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    e2e = {
        "setup_s": (setup_s, "s"),
        "jvm_retained_mb": (retained_mb, "MB"),
        "op_gmean_ms": (op["gmean"], "ms"),
        "query_novel_gmean_ms": (novel["gmean"], "ms"),
        # after the last step (serve_queries: after set-up)
        "index_bytes_per_input_byte": (s["index_bytes_ratio"][-1], "ratio"),
    }
    # cached re-runs (60-90 ms) swing with the host's load more than any
    # bound allows, so they are recorded, not gated
    named = {"failed_frac": wl.failed / max(1, wl.attempted), "query_repeat_p50_ms": repeat.get("p50")}
    if wl.name == "serve_queries":
        q = timing(s["novel"] + s["repeat"])
        named.update(query_p50_ms=q.get("p50"), query_tail_ms=q.get("tail"),
                     query_novel_p50_ms=novel.get("p50"),
                     agg_p50_ms=timing(s["agg"]).get("p50"), batch_qps=med(s["batch_qps"]))
    elif wl.name == "mixed_rw":
        c = timing(s["commit"])
        named.update(commit_p50_ms=c.get("p50"), commit_tail_ms=c.get("tail"),
                     commit_docs_per_s=(wl.ADDS + wl.UPSERTS) / (c["p50"] / 1000.0),
                     mixed_query_p50_ms=novel.get("p50"),
                     merge_s=med(s["merge"]) / 1000.0)
    else:
        d = timing(s["dedup"])
        named.update(dedup_p50_ms=d.get("p50"), dedup_docs_per_s=wl.BATCH / (d["p50"] / 1000.0),
                     ingest_p50_ms=timing(s["ingest"]).get("p50"))
    samples = {g: dict(timing(v), raw=[round(x, 1) for x in v]) for g, v in s.items()
               if not g.endswith(("ratio", "qps"))}
    return e2e, {"metrics": named, "samples": samples}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "tantiny_spark")):
        print(f"tantiny_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # set before the JVM starts so the Python workers inherit them
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM in the tree, the spark-submit launcher included: temp files
    # inside the checkout, no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path.insert(0, ROOT)

    from perfbench.layers import layer_metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    host = host_info()
    spark = tracer = None
    try:
        with MemSampler() as mem:
            wl = WORKLOADS[args.workload](args.seed, work, host["nproc"], args.seconds)
            # inputs are generated while the JVM starts
            with ThreadPoolExecutor(max_workers=1) as pool:
                started = pool.submit(start_spark, work, host)
                t = time.perf_counter()
                wl.prepare()
                wl.info["prepare_s"] = time.perf_counter() - t
                spark, conf, spark_start_s = started.result()
            tracer = Tracer(spark).install() if args.trace else None
            wl.spark, wl.tracer = spark, tracer
            wl.setup()
            t_loop = time.perf_counter()
            setup_s = t_loop - T_START
            for k in range(wl.steps):
                wl.step(k)
            loop_s = time.perf_counter() - t_loop
            retained_mb = retained_heap_mb(spark)
            wl.finish()
            if tracer is not None:
                tracer.uninstall()
                tps = terms_per_s(wl.corpus, args.seed)
                wl.extra["terms_per_s"] = tps
                built = wl.extra.get("tokens_built", [])
                build_s = [s["end"] - s["start"] for s in tracer.spans if "end" in s
                           and s["name"] == "build.build_segment" and (s["request"] or "").startswith("op:")]
                if built and build_s:
                    # one tokenizer per core; the rest of the build is Arrow
                    # transfer, JVM stages and job overhead
                    wl.extra["kernel_share"] = (sum(built) / tps / host["nproc"]) / sum(build_s)
    finally:
        if spark is not None:
            stop_spark(spark)  # the JVM has exited: its GC log is complete
        gc_log = os.path.join(work, "gc.log")
        heap_after_gc = heap_after_gc_mb(gc_log) if os.path.exists(gc_log) else 0.0
        shutil.rmtree(work, ignore_errors=True)
    e2e, named = workload_metrics(wl, setup_s, retained_mb)
    # memory peaks depend on when G1 grows and collects: recorded, not gated
    named["metrics"].update(peak_pss_mb=mem.peak / 2**20, jvm_heap_after_gc_peak_mb=heap_after_gc,
                            bench_pss_mb=mem.own_peak / 2**20)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host, "spark_conf": conf, "env": {k: os.environ[k] for k in ("NUMPY_MADVISE_HUGEPAGE", "JAVA_TOOL_OPTIONS")},
        "inputs": wl.info, "steps": wl.steps, "loop_s": loop_s, "spark_start_s": spark_start_s,
        "end_to_end": {n: v for n, (v, _) in e2e.items()}, **named,
        "checksum": wl.checksum(), "attempted": wl.attempted, "failed": wl.failed,
        "failures": wl.failures,
    }
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    if tracer is not None:
        layers = layer_metrics(tracer.spans, wl.extra, tracer.overhead_s)
        trace_path = os.path.join(base, "traces", f"{args.workload}-{args.seed}.jsonl")
        tracer.dump(trace_path)
        record["trace_file"] = os.path.relpath(trace_path, ROOT)
        twin = os.path.join(results, f"{args.workload}-{args.seed}-trace0.json")
        if os.path.exists(twin):
            with open(twin) as fh:
                base_e2e = json.load(fh)["end_to_end"]
            record["tracing_overhead"] = {n: v - base_e2e[n] for n, v in record["end_to_end"].items()
                                          if n in base_e2e}
        wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = layers
    else:
        wanted = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = record["end_to_end"]
    with open(os.path.join(results, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in wanted}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": wl.failed == 0 and wl.attempted > 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
