"""Per-layer metrics of a traced run, computed from its spans.

Only spans of timed requests count (request ids ``op:...``, plus
``naive:...`` for ``executor.naive_exec_ms``); set-up, warm-up and check
traffic is left out. A run has a fixed number of steps, so totals are
fixed per seed. Durations are medians over spans, ``*_jobs`` and
``*.py4j`` are means per span, other counts are totals for the run. The
``*_per_op`` metrics count only the workload's unit requests (the ones
with a ``bench.op`` span: a query or batch in serve_queries, a commit in
mixed_rw, a dedup pass in near_dup) and divide by their number. Metrics
of a layer the workload does not exercise read 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import self_times

TABLES = ("docs", "postings", "stats", "blocks", "dict")
#: spans whose mean py4j commands (and, second list, Spark jobs) are reported
PY4J_SPANS = ("build.build_segment", "storage.write_segment", "storage.context",
              "executor.prime_stats", "executor.compile_plan", "executor.top_k",
              "wand.wand_topk", "plan.construct", "index.search", "index.search_many",
              "index.transaction", "index.reload", "index.merge_segments", "aggs.request")
JOB_SPANS = ("storage.write_segment", "storage.context", "executor.compile_plan",
             "index.search_many", "index.transaction", "index.reload", "index.merge_segments")
SELF_LAYERS = ("build", "storage", "executor", "wand", "plan", "index", "aggs", "dedup", "spark")


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], extra: dict, tracer_overhead_s: float) -> dict:
    timed = [s for s in spans if "end" in s and (s["request"] or "").startswith("op:")]
    by_id = {s["id"]: s for s in spans}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731

    def named(name, top=False):
        out = [s for s in timed if s["name"] == name]
        if top:  # outermost of its name (plan builders nest, search calls search_df)
            out = [s for s in out if s["parent"] is None or by_id[s["parent"]]["name"] != name]
        return out

    def ms(name, top=False):
        return _med([dur(s) * 1000 for s in named(name, top)])

    def sec(name):
        return _med([dur(s) for s in named(name)])

    def jobs(name):
        return _mean([s["jobs"] for s in named(name, True)])

    m: dict = {}
    parquet = named("storage.parquet")
    m["build.build_segment_s"] = sec("build.build_segment")
    m["build.build_segment_jobs"] = jobs("build.build_segment")
    m["build.staged_bytes"] = _med([s["bytes"] for s in parquet if s.get("table") == "analyzed"])
    m["analysis.terms_per_s"] = extra.get("terms_per_s", 0.0)
    m["analysis.kernel_share"] = extra.get("kernel_share", 0.0)
    m["storage.write_segment_s"] = sec("storage.write_segment")
    for t in TABLES:
        mine = [s for s in parquet if s.get("table") == t]
        m[f"storage.write.{t}_s"] = _med([dur(s) for s in mine])
        m[f"storage.bytes.{t}"] = _med([s["bytes"] for s in mine])
        m[f"storage.files.{t}"] = _med([s["files"] for s in mine])
    m["storage.commit_s"] = sec("storage.commit")
    m["storage.context_s"] = sec("storage.context")
    m["storage.live_segments"] = _med(extra.get("live_segments", []))

    gates = named("executor.try_wand")
    m["wand.eligible"] = sum(1 for s in gates if s.get("eligible"))
    m["wand.fired"] = sum(1 for s in gates if s.get("fired"))
    fired = {s["request"] for s in gates if s.get("fired")}
    m["wand.exec_ms"] = _med([dur(s) * 1000 for s in timed if s["name"] == "spark.collect"
                              and s["request"] in fired and s["parent"] is not None
                              and by_id[s["parent"]]["name"] == "index.search"])
    m["executor.naive_exec_ms"] = _med([dur(s) * 1000 for s in spans if "end" in s
                                        and s["name"] == "spark.collect"
                                        and (s["request"] or "").startswith("naive:")])

    per_req: dict = {}
    for s in named("plan.construct", True):
        per_req[s["request"]] = per_req.get(s["request"], 0.0) + dur(s) * 1000
    m["plan.construct_ms"] = _med(list(per_req.values()))

    m["executor.prime_stats_ms"] = ms("executor.prime_stats")
    m["executor.prime_stats_jobs"] = jobs("executor.prime_stats")
    m["executor.compile_plan_ms"] = ms("executor.compile_plan", True)
    m["executor.top_k_ms"] = ms("executor.top_k")
    m["executor.expansion_jobs"] = jobs("executor.expansion")

    searches = named("index.search", True)
    search_df = named("index.search_df", True)
    primed = {s["parent"] for s in named("executor.prime_stats")}
    hits = sum(1 for s in search_df if s["id"] not in primed)
    m["index.search_calls"] = len(searches)
    m["index.cache_hits"] = hits
    m["index.cache_hit_ratio"] = hits / len(search_df) if search_df else 0.0
    execs = [s for s in timed if s["name"] == "spark.collect" and s["parent"] is not None
             and by_id[s["parent"]]["name"] == "index.search"]
    m["index.search_exec_ms"] = _med([dur(s) * 1000 for s in execs])
    m["index.search_jobs"] = _mean([s["jobs"] for s in execs])
    m["index.search_many_ms"] = ms("index.search_many")
    m["index.transaction_s"] = sec("index.transaction")
    m["index.reload_s"] = sec("index.reload")
    m["index.merge_segments_s"] = sec("index.merge_segments")
    m["index.merge.live_docs_rewritten"] = _med(extra.get("live_docs_rewritten", []))
    # facet_counts and histogram return a frame the caller collects, so an
    # aggregation is timed as its whole request
    agg_reqs = {s["request"] for s in named("aggs.request")}
    agg_ops = [s for s in named("bench.op") if s["request"] in agg_reqs]
    m["aggs.request_ms"] = _med([dur(s) * 1000 for s in agg_ops])
    m["aggs.jobs"] = _mean([s["jobs"] for s in agg_ops])

    extra_med = lambda k: _med(extra.get(k, []))  # noqa: E731
    m["dedup.lsh_candidates"] = extra_med("lsh_candidates")
    m["dedup.verified"] = extra_med("verified")
    cand = sum(extra.get("lsh_candidates", []))
    m["dedup.verified_ratio"] = sum(extra.get("verified", [])) / cand if cand else 0.0
    m["dedup.cc_s"] = sec("dedup.connected_components")
    m["dedup.cc_jobs"] = jobs("dedup.connected_components")

    ops = named("bench.op")
    units = {s["request"] for s in ops}
    m["spark.jobs_per_op"] = _mean([s["jobs"] for s in ops])
    m["py4j.calls_per_op"] = _mean([s["py4j"] for s in ops])
    for name in PY4J_SPANS:
        m[f"{name}.py4j"] = _mean([s["py4j"] for s in named(name, True)])
    for name in JOB_SPANS:
        m[f"{name}.jobs"] = jobs(name)

    own = self_times(spans)
    for layer in SELF_LAYERS:
        total = sum(own[s["id"]] for s in timed
                    if s["request"] in units and s["name"].split(".")[0] == layer)
        m[f"self.{layer}_ms_per_op"] = total * 1000 / len(ops) if ops else 0.0
    m["trace.overhead_ms_per_op"] = tracer_overhead_s * 1000 / len(ops) if ops else 0.0
    m["trace.spans"] = len(spans)
    return m
