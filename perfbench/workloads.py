"""The benchmark's workloads, each driven through the public
``tantiny_spark`` API by one closed-loop client.

A workload is made for a run of ``seconds``: it runs ``steps`` steps, a
count fixed by ``seconds`` and the workload's nominal step time, so every
run of the same length sends the same sequence of operations and all of
them are measured. ``prepare`` generates the inputs (plain Python, run
while the Spark JVM starts), ``setup`` builds and warms the index, then
``step(k)`` runs for k in ``range(steps)`` and ``finish`` runs the
end-of-run checks. Latencies land in ``samples[group]`` in milliseconds.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import timedelta

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.oracle import AGGS, LIMIT, Oracle
from tantiny_spark import plan as P
from tantiny_spark.pipeline import dedup
from tantiny_spark.build import DOCS_PER_PARTITION
from tantiny_spark.index import Index
from tantiny_spark.pipeline import webtext
from tantiny_spark.schema import IndexSchema

VOCAB = 30_000
BODY_WORDS = 100  # median page length in words (lognormal): about 113 on average


def schema() -> IndexSchema:
    s = IndexSchema()
    s.id("url")
    s.text("text")
    s.string("lang")
    s.date("warc_ts")
    s.facet("host")
    s.integer("length")
    return s


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def table_bytes(path: str) -> dict:
    """Bytes and files of an index directory per table, over all segments
    (``segments/<segment>/<table>/``), and the rest (manifests, tombstones)."""
    out: dict = {}
    for r, _, fs in os.walk(path):
        parts = os.path.relpath(r, path).split(os.sep)
        key = parts[2] if parts[0] == "segments" and len(parts) > 2 else "other"
        n, b = out.get(key, (0, 0))
        out[key] = (n + len(fs), b + sum(os.path.getsize(os.path.join(r, f)) for f in fs))
    return {k: {"files": n, "bytes": b} for k, (n, b) in sorted(out.items())}


class Workload:
    name = ""
    STEP_S = 1.0  # nominal seconds per step on a 4-CPU host
    MIN_STEPS = 1

    def __init__(self, seed: int, work: str, nproc: int, seconds: float):
        self.seed, self.work, self.nproc = seed, work, nproc
        self.steps = max(self.MIN_STEPS, int(round(seconds / self.STEP_S)))
        self.spark = self.tracer = None
        self.samples: dict = defaultdict(list)
        self.attempted = self.failed = 0
        self.failures: list = []
        self.digest = hashlib.sha256()
        self.info: dict = {}
        self.extra: dict = {}  # per-layer numbers only the workload knows

    # --- bookkeeping --------------------------------------------------------------
    @contextmanager
    def request(self, rid: str, unit: bool = False):
        """Tag spans with a request id. Only ids starting ``op:`` count
        in the per-layer metrics (``setup:``, ``warmup:``, ``check:``,
        ``naive:`` and ``trace:`` traffic is left out); ``unit`` marks
        the request the workload's per-op metrics divide by (a query, a
        commit, a dedup pass) with a ``bench.op`` span."""
        if self.tracer is None:
            yield
            return
        self.tracer.request = rid
        try:
            with self.tracer.span("bench.op" if unit else "bench.aux"):
                yield
        finally:
            self.tracer.request = None

    @contextmanager
    def phase(self, name: str):
        """Time one set-up phase into ``info["setup_phases_s"]``."""
        t = time.perf_counter()
        yield
        self.info.setdefault("setup_phases_s", {})[name] = round(time.perf_counter() - t, 3)

    def timed(self, groups, fn):
        t = time.perf_counter()
        out = fn()
        ms = (time.perf_counter() - t) * 1000.0
        for g in groups:
            self.samples[g].append(ms)
        return out

    def check(self, ok, what: str) -> None:
        """Count one checked operation; ``ok is None`` means unchecked."""
        self.attempted += 1
        if ok is False:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def record(self, value) -> None:
        self.digest.update(json.dumps(value, sort_keys=True, default=str).encode())

    def checksum(self) -> str:
        return self.digest.hexdigest()[:16]

    # --- shared pieces --------------------------------------------------------------
    def write_input(self, corpus: gen.Corpus, rows) -> None:
        """The build's input table as parquet, one file per core."""
        self.input_path = os.path.join(self.work, "input")
        os.makedirs(self.input_path, exist_ok=True)
        for part, chunk in enumerate(np.array_split(np.asarray(list(rows)), self.nproc)):
            gen.write_parquet(corpus.frame(chunk), os.path.join(self.input_path, f"part-{part}.parquet"))

    def source(self):
        """The build input: ``text`` extracted from ``html``, ``length``
        from the text."""
        df = self.spark.read.parquet(self.input_path)
        df = df.withColumn("text", webtext.extracted_text("html"))
        return df.withColumn("length", F.length("text")).drop("html")

    def build(self, path: str, src) -> Index:
        ix = Index(self.spark, path, schema())
        ix.add_dataframe(src)
        return ix.reload()

    def check_tokenizer(self, corpus: gen.Corpus) -> None:
        """The oracle scores vocabulary ids: each word must be exactly one
        term and a page's text must analyze to its word sequence."""
        tok = schema().tokenizer_for("text")
        ok = all(tok.terms(w) == [w] for w in corpus.vocab[:2000])
        ok = ok and all(tok.terms(corpus.expected_text(i)) == corpus.words(i) for i in range(50))
        self.check(ok, "tokenizer parity with the generated words")

    def plan(self, ix: Index, spec: dict):
        k = spec["kind"]
        term = lambda t: ix.term_query("text", t)  # noqa: E731
        if k == "term":
            return term(spec["terms"][0])
        if k == "and":
            return term(spec["terms"][0]) & term(spec["terms"][1])
        if k == "or":
            return P.disjunction(*[term(t) for t in spec["terms"]])
        if k == "not":
            return term(spec["terms"][0]) & ~term(spec["terms"][1])
        if k == "phrase":
            return ix.phrase_query("text", " ".join(spec["terms"]))
        if k == "prefix":
            return ix.prefix_query("text", spec["prefix"])
        if k == "fuzzy":
            return ix.fuzzy_term_query("text", spec["term"], 1)
        if k == "smart":
            return ix.smart_query(["text"], spec["text"])
        if k == "date_range":
            return ix.range_query("warc_ts", [gen.EPOCH + timedelta(minutes=spec["lo_min"]),
                                              gen.EPOCH + timedelta(minutes=spec["hi_min"])])
        if k == "int_range":
            return ix.range_query("length", [spec["lo"], spec["hi"]])
        if k == "facet":
            return ix.facet_query("host", spec["path"])
        return term(spec["terms"][0])  # aggregations filter on one term

    def run_spec(self, ix: Index, spec: dict):
        """One request; returns the answer in the oracle's shape."""
        k = spec["kind"]
        q = self.plan(ix, spec)
        if k == "agg_count":
            return ix.count(q)
        if k == "agg_facet":
            return [(r["path"], r["cnt"]) for r in ix.facet_counts("host", spec["prefix"], query=q).collect()]
        if k == "agg_hist":
            return [(float(r["bucket"]), r["n_docs"]) for r in
                    ix.histogram("length", spec["interval"], query=q).collect()]
        return ix.search_with_scores(q, limit=LIMIT)

    def stable(self, spec: dict, got):
        """The part of an answer that repeats exactly across runs: scores
        to 6 significant digits, and when the page is full, without the
        docs that tie the last score (sums of 3+ terms may differ in the
        last bit between runs, which can swap which tied doc makes it)."""
        if spec["kind"] in AGGS:
            return got
        rows = [(d, float(f"{s:.6g}")) for d, s in got]
        if len(rows) == LIMIT:
            rows = [r for r in rows if r[1] != rows[-1][1]]
        return sorted(rows, key=lambda r: (-r[1], r[0]))

    def naive_compare(self, ix: Index, spec: dict, got, rid: str) -> None:
        """Traced runs only: re-run a WAND-routed query on the plain
        compiled plan (the executor's own fallback) for
        ``executor.naive_exec_ms``, and check both paths agree."""
        from tantiny_spark.executor import compile_plan, prime_stats, top_k

        with self.request(f"naive:{rid}"):
            q = self.plan(ix, spec)
            prime_stats(q, ix.ctx)
            rows = top_k(compile_plan(q, ix.ctx), ix.ctx, LIMIT).collect()
        self.check(self.stable(spec, [(r["id"], r["score"]) for r in rows]) == self.stable(spec, got),
                   f"WAND and naive plan disagree on {spec}")

    def wand_fired(self, rid: str) -> bool:
        if self.tracer is None:
            return False
        return any(s["name"] == "executor.try_wand" and s.get("fired") and s["request"] == rid
                   for s in reversed(self.tracer.spans[-200:]))


class ServeQueries(Workload):
    """A seeded query log against one prebuilt index."""

    name = "serve_queries"
    STEP_S = 1.0
    MIN_STEPS = 8
    N_DOCS = 30_000  # the 4-term head ORs of or_top reach the WAND gate
    POOL = 512  # > Index.QUERY_CACHE_SIZE (256)
    BATCH_EVERY = 8
    BATCH = 4
    REPEATS = 3

    def prepare(self):
        c = self.corpus = gen.Corpus(self.seed, self.N_DOCS, BODY_WORDS, VOCAB)
        self.check_tokenizer(c)
        self.write_input(c, range(len(c)))
        self.oracle = Oracle(c, range(len(c)))
        self.pool = gen.query_pool(c, self.POOL)
        self.log = gen.query_log(self.POOL, self.steps)
        self.pos = 0
        self.answers: dict = {}  # pool index -> first answer (search kinds)
        # the executor's WAND gate: total df of the OR's terms >= 100k
        df = self.oracle.doc_freqs()
        ors = [sum(df[self.oracle.word_id[t]] for t in q["terms"]) for q in self.pool if q["kind"] == "or"]
        self.info.update(
            docs=len(c), tokens=c.n_tokens, vocabulary=VOCAB, pool=self.POOL,
            query_cache_size=Index.QUERY_CACHE_SIZE, steps=self.steps,
            pool_or_queries=len(ors), pool_wand_gate_passes=int(sum(v >= 100_000 for v in ors)),
            docs_per_partition_gate=DOCS_PER_PARTITION,
        )

    def setup(self):
        path = os.path.join(self.work, "idx")
        with self.phase("build"), self.request("setup:build"):
            self.ix = self.build(path, self.source())
        self.samples["index_bytes_ratio"].append(dir_bytes(path) / self.corpus.text_bytes())
        self.info["index_tables"] = table_bytes(path)
        self.check(self.ix.count() == self.N_DOCS, "doc count")
        rng = np.random.default_rng([9])
        with self.phase("warmup"):
            for i, kind in enumerate(("or_top", "agg_facet")):
                spec = gen.query_spec(rng, kind, self.corpus)
                with self.request(f"warmup:{i}"):
                    self.run_spec(self.ix, spec)

    def step(self, k):
        rid = f"op:{k}"
        searches = [i for i in self.answers]
        if k % self.BATCH_EVERY == self.BATCH_EVERY - 1 and len(searches) >= self.BATCH:
            # members by position, the same for every seed, like the repeats
            pick = np.random.default_rng([10, k]).choice(len(searches), self.BATCH, replace=False)
            members = [searches[int(i)] for i in pick]
            batch = {f"q{j}": self.plan(self.ix, self.pool[m]) for j, m in enumerate(members)}
            with self.request(rid, unit=True):
                out = self.timed(["op", "batch"], lambda: self.ix.search_many(batch, limit=LIMIT))
            self.samples["batch_qps"].append(self.BATCH / self.samples["batch"][-1] * 1000.0)
            for j, m in enumerate(members):
                self.check(out[f"q{j}"] == [d for d, _ in self.answers[m]],
                           f"search_many differs from search on {self.pool[m]}")
            self.record(sorted(out.items()))
            return
        idx, _ = self.log[self.pos]
        self.pos += 1
        spec = self.pool[idx]
        agg = spec["kind"] in AGGS
        repeat = idx in self.answers
        if repeat:
            # a cached re-run is cheap and noisy: take REPEATS samples
            for r in range(self.REPEATS):
                with self.request(f"{rid}.{r}", unit=True):
                    got = self.timed(["op", "repeat"], lambda: self.run_spec(self.ix, spec))
                self.check(self.stable(spec, got) == self.stable(spec, self.answers[idx]),
                           f"repeat differs on {spec}")
        else:
            with self.request(rid, unit=True):
                got = self.timed(["op", "agg" if agg else "novel"], lambda: self.run_spec(self.ix, spec))
            self.check(self.oracle.check(spec, got), f"oracle mismatch on {spec}")
            if not agg:
                self.answers[idx] = got
        if self.wand_fired(rid):
            self.naive_compare(self.ix, spec, got, rid)
        self.record([spec, self.stable(spec, got)])

    def finish(self):
        self.info["distinct_queries_sent"] = len(self.answers)


class MixedRW(Workload):
    """Crawl batches deduplicated and committed as upserts and deletes,
    with reads and merges in between. Each cycle runs
    ``fuzzy_dedup_corpus`` over the batch's new pages (stored with their
    text already extracted, as a dedup stage downstream of extraction
    reads them), commits the survivors, re-crawled pages (upserts) and
    deletes in one transaction, reloads, queries the fresh snapshot (two
    segments and tombstones) and lets ``maybe_merge`` compact. The base
    build warms the build and a query warms the executor; the dedup pass
    runs cold, because a warm-up pass would cost about as much again."""

    name = "mixed_rw"
    STEP_S = 30.0
    MIN_STEPS = 1
    BASE = 1_500
    ADDS, UPSERTS, DELETES = 200, 20, 10  # ADDS: the crawl batch, before dedup
    MERGE_ABOVE = 1  # maybe_merge(max_segments): every commit's segment is merged
    QUERIES = 6  # distinct queries on each fresh snapshot
    REPEATS = 2  # cached re-runs of each, right after its first run

    def prepare(self):
        commits = self.steps
        n = gen.rw_rows_needed(self.BASE, commits, self.ADDS, self.UPSERTS)
        self.ops = gen.rw_ops(self.seed, self.BASE, commits, self.ADDS, self.UPSERTS, self.DELETES)
        c = self.corpus = gen.Corpus(self.seed, n, BODY_WORDS, VOCAB,
                                     plant=[(op["add"][0], self.ADDS) for op in self.ops])
        self.check_tokenizer(c)
        self.write_input(c, range(self.BASE))
        self.batch_path = os.path.join(self.work, "batches")
        for k, op in enumerate(self.ops):
            rows = op["add"]
            frame = pd.DataFrame({"doc_id": np.asarray(rows, dtype=np.int64),
                                  "text": [c.expected_text(i) for i in rows]})
            os.makedirs(os.path.join(self.batch_path, str(k)))
            gen.write_parquet(frame, os.path.join(self.batch_path, str(k), "part-0.parquet"))
        self.family = {r: f for f in c.families for r in f["rows"]}
        self.live: dict = {r: r for r in range(self.BASE)}  # doc row -> content row
        self.written_bytes = c.text_bytes(range(self.BASE))
        rng = np.random.default_rng([11])
        self.specs = [gen.query_spec(rng, "and", c) for _ in range(self.QUERIES * commits + 1)]
        self.info.update(base_docs=self.BASE, batch_docs=self.ADDS, upserts=self.UPSERTS,
                         deletes=self.DELETES, merge_above_segments=self.MERGE_ABOVE,
                         commits=self.steps, vocabulary=VOCAB,
                         base_tokens=int(c.offsets[self.BASE]),
                         families_per_batch=len(gen.FAMILIES) * (self.ADDS // 100),
                         family_sizes=[list(f) for f in gen.FAMILIES],
                         near_edit=gen.NEAR_EDIT,
                         docs_per_partition_gate=DOCS_PER_PARTITION)

    def setup(self):
        self.path = os.path.join(self.work, "idx")
        with self.phase("build"), self.request("setup:build"):
            self.ix = self.build(self.path, self.source())
        with self.phase("warmup"), self.request("warmup:q"):
            self.run_spec(self.ix, self.specs[-1])

    def step(self, k):
        self.cycle(k)

    def doc(self, row: int, content: int) -> dict:
        c = self.corpus
        text = c.expected_text(content)
        return {"url": c.urls[row], "text": text, "lang": c.langs[row],
                "warc_ts": c.ts[row], "host": c.hosts[row], "length": len(text)}

    def dedup_pass(self, k: int) -> list:
        batch = self.spark.read.parquet(os.path.join(self.batch_path, str(k)))
        _, dup_map = dedup.fuzzy_dedup_corpus(batch, text="text", key="doc_id")
        return dup_map.collect()

    def commit(self, adds: list, ops: dict) -> None:
        with self.ix.transaction():
            for r in adds:
                self.ix.add(self.doc(r, r))
            for r, content in ops["upsert"]:
                self.ix.add(self.doc(r, content))
            for r in ops["delete"]:
                self.ix.delete(self.corpus.urls[r])
        self.ix.reload()

    def cycle(self, k: int):
        ops = self.ops[k]
        with self.request(f"op:{k}:dedup", unit=True):
            rows = self.timed(["op", "dedup"], lambda: self.dedup_pass(k))
        if self.tracer is not None:
            self.count_pairs(k)
        self.check_clusters(rows)
        adds = sorted(r["doc_id"] for r in rows if r["keep"])
        with self.request(f"op:{k}", unit=True):
            self.timed(["op", "commit"], lambda: self.commit(adds, ops))
        written = adds + [c for _, c in ops["upsert"]]
        for r in adds:
            self.live[r] = r
        for r, content in ops["upsert"]:
            self.live[r] = content
        for r in ops["delete"]:
            del self.live[r]
        self.written_bytes += self.corpus.text_bytes(written)
        if self.tracer is not None:
            self.extra.setdefault("live_segments", []).append(self.ix.segment_count())
            self.extra.setdefault("tokens_built", []).append(int(sum(
                self.corpus.offsets[c + 1] - self.corpus.offsets[c] for c in written)))
        # head-and-torso ANDs: the first pays the fresh snapshot (the
        # reload cleared the LRU); each one's re-runs come from the cache
        oracle = Oracle(self.corpus, sorted(self.live), self.live)
        for j in range(self.QUERIES):
            spec = self.specs[self.QUERIES * k + j]
            with self.request(f"op:{k}:q{j}"):
                got = self.timed(["novel"], lambda: self.run_spec(self.ix, spec))
            # BM25 stats count tombstoned docs until a merge, so only the
            # match set is checked against the live docs, not the scores
            mask, _ = oracle.scores(spec["kind"], spec["terms"])
            self.check(oracle.check_subset([d for d, _ in got], mask), f"stale or missing docs for {spec}")
            self.record([spec, sorted(d for d, _ in got)])
            for r in range(self.REPEATS):
                with self.request(f"op:{k}:q{j}.{r}"):
                    again = self.timed(["repeat"], lambda: self.run_spec(self.ix, spec))
                self.check(again == got, f"repeat differs on {spec}")
        with self.request(f"op:{k}:merge", unit=True):
            t = time.perf_counter()
            if self.ix.maybe_merge(max_segments=self.MERGE_ABOVE) is not None:
                self.ix.reload()
                ms = (time.perf_counter() - t) * 1000.0
                self.samples["merge"].append(ms)
                self.samples["op"].append(ms)
                stats = self.ix.last_merge_stats or {}
                self.extra.setdefault("live_docs_rewritten", []).append(
                    stats.get("live_docs_rewritten", 0))
        self.samples["index_bytes_ratio"].append(dir_bytes(self.path) / self.written_bytes)
        self.info["index_tables"] = table_bytes(self.path)

    def check_clusters(self, rows) -> None:
        """Every planted exact copy shares its source's cluster; no cluster
        joins pages of two families (or a family and an unrelated page);
        exactly one page per cluster is kept, the longest, ties to the
        smallest id."""
        cluster = {r["doc_id"]: r["cluster"] for r in rows}
        members: dict = defaultdict(list)
        for r in rows:
            members[r["cluster"]].append(r)
        for f in {id(f): f for f in map(self.family.get, cluster) if f}.values():
            if f["kind"] == "exact":
                self.check(len({cluster[r] for r in f["rows"]}) == 1, f"exact copies split: {f['rows']}")
        for cid, ms in members.items():
            ids = [r["doc_id"] for r in ms]
            if len(ids) > 1:
                fam = self.family.get(ids[0])
                self.check(fam is not None and set(ids) <= set(fam["rows"]),
                           f"cluster {cid} joins unrelated pages {ids}")
            best = min(ms, key=lambda r: (-r["score"], r["doc_id"]))
            self.check([r["doc_id"] for r in ms if r["keep"]] == [best["doc_id"]],
                       f"cluster {cid} keeps the wrong page")
        self.record(sorted(sorted(r["doc_id"] for r in ms) for ms in members.values() if len(ms) > 1))

    def count_pairs(self, k: int) -> None:
        """Traced runs only: LSH candidates and verified pairs of the batch,
        counted outside the timed pass from the frames the tracer caught."""
        with self.request(f"trace:{k}:pairs"):
            cand, verified = self.tracer.caught.get("candidates"), self.tracer.caught.get("edges")
            if cand is not None and verified is not None:
                self.extra.setdefault("lsh_candidates", []).append(cand.count())
                self.extra.setdefault("verified", []).append(verified.count())

    def finish(self):
        """Durability: a fresh reader sees every acknowledged add and
        upsert exactly once and no acknowledged delete."""
        with self.request("check:reopen"):
            fresh = Index(self.spark, self.path)
            ids = [r["id"] for r in fresh.search_df(fresh.all_query(), limit=len(self.live) + 100).collect()]
        want = sorted(self.corpus.urls[r] for r in self.live)
        self.check(sorted(ids) == want, f"reopened index has {len(ids)} ids, expected {len(want)}")
        self.info["live_docs"] = len(want)


WORKLOADS = {w.name: w for w in (ServeQueries, MixedRW)}
