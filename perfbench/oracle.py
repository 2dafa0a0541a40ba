"""Reference answers, computed in the benchmark process with numpy from the generated
tokens and the library's public scoring helpers (``scoring.bm25``,
``fieldnorm_to_id``/``id_to_fieldnorm``), never from the index.

``Oracle(corpus, rows)`` describes the live docs ``rows`` of a corpus (a
row's content may be overridden by another row, as an upsert does).
``check_*`` return True when the engine's answer agrees.
"""

from __future__ import annotations

import numpy as np

from perfbench.gen import EPOCH
from tantiny_spark import scoring

EPS = 1e-9
LIMIT = 10
RANKED = ("term", "and", "or", "not", "phrase", "prefix", "fuzzy", "smart",
          "date_range", "int_range", "facet")
AGGS = ("agg_count", "agg_facet", "agg_hist")


class Oracle:
    def __init__(self, corpus, rows, content=None):
        """``rows``: live doc rows (their urls are the ids); ``content``
        maps a row to the row whose text it currently holds."""
        content = content or {}
        self.corpus = corpus
        self.rows = list(rows)
        src = [content.get(r, r) for r in self.rows]
        self.urls = np.array([corpus.urls[r] for r in self.rows])
        parts = [corpus.tokens[corpus.offsets[s]:corpus.offsets[s + 1]] for s in src]
        self.lens = np.array([len(p) for p in parts], dtype=np.int64)
        self.tokens = np.concatenate(parts) if parts else np.zeros(0, np.int32)
        self.doc_of = np.repeat(np.arange(len(self.rows)), self.lens)
        self.n = len(self.rows)
        self.avgdl = float(self.lens.sum()) / self.n if self.n else 1.0
        self.dl = np.array([scoring.id_to_fieldnorm(scoring.fieldnorm_to_id(int(x)))
                            for x in self.lens], dtype=np.float64)
        self.word_id = {w: i for i, w in enumerate(corpus.vocab)}
        self.text_len = np.array([len(corpus.expected_text(s)) for s in src])
        self.hosts = np.array([corpus.hosts[r] for r in self.rows])
        self.minute = np.array([(corpus.ts[r] - EPOCH).total_seconds() // 60 for r in self.rows])

    # --- per-term statistics ---------------------------------------------------------
    def tf(self, word: str) -> np.ndarray:
        """Per-doc term frequency (length n)."""
        w = self.word_id.get(word)
        if w is None:
            return np.zeros(self.n, np.int64)
        return np.bincount(self.doc_of[self.tokens == w], minlength=self.n)

    def doc_freqs(self) -> np.ndarray:
        """Docs containing each vocabulary id."""
        pairs = np.unique(self.doc_of.astype(np.int64) * len(self.word_id) + self.tokens)
        return np.bincount(pairs % len(self.word_id), minlength=len(self.word_id))

    def term_scores(self, word: str) -> np.ndarray:
        """Term queries read postings without frequencies, as the
        reference's do (``IndexRecordOption::Basic``): tf counts as 1."""
        hit = self.tf(word) > 0
        df = int(hit.sum())
        # scoring.bm25 is plain arithmetic, so it takes the arrays as is
        return np.where(hit, scoring.bm25(1.0, self.dl, self.avgdl, df, self.n), 0.0)

    def scores(self, kind: str, words: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """(matched mask, score) for term / and / or over ``words``."""
        per = [self.term_scores(w) for w in words]
        hit = [self.tf(w) > 0 for w in words]
        if kind == "not":
            return hit[0] & ~hit[1], per[0] + 1.0  # Negation scores 1.0
        if kind == "and":
            mask = np.logical_and.reduce(hit)
        else:
            mask = np.logical_or.reduce(hit)
        return mask, np.sum(per, axis=0)

    def check(self, spec: dict, got) -> bool | None:
        """Compare one request's answer with the reference; None when the
        kind has no reference here (fuzzy and smart queries)."""
        kind = spec["kind"]
        if kind in ("term", "and", "or", "not"):
            return self.check_ranked(got, *self.scores(kind, spec["terms"]))
        ids = [d for d, _ in got] if kind in RANKED else None
        if kind == "phrase":
            return self.check_subset(ids, self.phrase_mask(spec["terms"]))
        if kind == "prefix":
            return self.check_const(ids, self.prefix_mask(spec["prefix"]))
        if kind == "facet":
            return self.check_const(ids, self.facet_mask(spec["path"]))
        if kind == "date_range":
            return self.check_const(ids, (self.minute >= spec["lo_min"]) & (self.minute <= spec["hi_min"]))
        if kind == "int_range":
            return self.check_const(ids, (self.text_len >= spec["lo"]) & (self.text_len <= spec["hi"]))
        if kind == "agg_count":
            return got == int((self.tf(spec["terms"][0]) > 0).sum())
        if kind == "agg_facet":
            return got == self.facet_counts(spec["terms"], spec["prefix"])
        if kind == "agg_hist":
            return got == self.histogram(spec["terms"], spec["interval"])
        return None

    # --- checks ------------------------------------------------------------------------
    def check_ranked(self, got: list[tuple], mask: np.ndarray, score: np.ndarray) -> bool:
        """Top-10 (id, score) against reference scores. Docs whose
        reference scores tie within EPS may come in either order."""
        idx = np.nonzero(mask)[0]
        if len(got) != min(LIMIT, len(idx)):
            return False
        ref = dict(zip(self.urls[idx], score[idx]))
        prev = None
        for doc, s in got:
            r = ref.get(doc)
            if r is None or abs(r - s) > EPS * max(1.0, abs(r)):
                return False
            if prev is not None and s > prev + EPS * max(1.0, abs(prev)):
                return False
            prev = s
        if not got:
            return True
        # nothing left out scores above the last one returned
        floor = got[-1][1] + EPS * max(1.0, abs(got[-1][1]))
        returned = {d for d, _ in got}
        return all(d in returned for d, s in ref.items() if s > floor)

    def check_const(self, got_ids: list[str], mask: np.ndarray) -> bool:
        """Constant-score queries rank by id: the first 10 matching ids."""
        want = sorted(self.urls[mask])[:LIMIT]
        return list(got_ids) == want

    def check_subset(self, got_ids: list[str], mask: np.ndarray) -> bool:
        """Scored queries without a reference score: every id matches and
        as many come back as the limit allows."""
        ok = set(self.urls[mask])
        return len(got_ids) == min(LIMIT, len(ok)) and all(d in ok for d in got_ids)

    # --- match sets --------------------------------------------------------------------
    def phrase_mask(self, words: list[str]) -> np.ndarray:
        a, b = (self.word_id.get(w, -1) for w in words)
        first = np.nonzero(self.tokens[:-1] == a)[0]
        nxt = first[(self.tokens[first + 1] == b) & (self.doc_of[first + 1] == self.doc_of[first])]
        mask = np.zeros(self.n, bool)
        mask[self.doc_of[nxt]] = True
        return mask

    def prefix_mask(self, prefix: str) -> np.ndarray:
        ids = [i for w, i in self.word_id.items() if w.startswith(prefix)]
        return np.isin(np.arange(self.n), self.doc_of[np.isin(self.tokens, ids)])

    def facet_mask(self, path: str) -> np.ndarray:
        return np.array([h == path or h.startswith(path + "/") for h in self.hosts])

    def facet_counts(self, words: list[str], prefix: str) -> list[tuple]:
        mask = self.tf(words[0]) > 0
        counts: dict = {}
        for h in self.hosts[mask]:
            if h.startswith(prefix + "/"):
                counts[h] = counts.get(h, 0) + 1
        return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))

    def histogram(self, words: list[str], interval: int) -> list[tuple]:
        mask = self.tf(words[0]) > 0
        buckets: dict = {}
        for v in self.text_len[mask]:
            b = float(np.floor(v / interval) * interval)
            buckets[b] = buckets.get(b, 0) + 1
        return sorted(buckets.items())
