"""Seeded inputs for every workload: the corpus, the query and op logs and
the planted near-duplicate families.

Everything here is a pure function of ``seed`` (numpy ``default_rng``), so
the same seed gives byte-identical inputs on any host. The corpus follows
the FIXTURES.md section 1 shape: ``url`` id, ``html`` page whose body the
build extracts into ``text``, ``lang`` string, ``warc_ts`` date, ``host``
facet and ``length`` integer. Words are drawn Zipf-like from a synthetic
vocabulary with a long tail, so head terms, torso terms and hapaxes all
exist and prefix/fuzzy expansion has a real dictionary to walk.
"""

from __future__ import annotations

import datetime as dt
import re

import numpy as np
import pandas as pd

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "br", "ch", "dr", "gl", "pl", "sh", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
_CODAS = ["", "", "n", "r", "s", "l", "m", "t", "x"]

LANGS = ("en", "de", "fr", "ru")
TLDS = ("com", "org", "net")
EPOCH = dt.datetime(2026, 1, 1)
SENTENCE_WORDS = 12


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase ASCII words of 2-4 syllables, shortest
    first: the Zipf rank follows the list, so frequent words are short
    (as in natural language) and bytes per token hardly vary across
    seeds. Pure ``[a-z]`` words split 1:1 into tokens, which the BM25
    oracle relies on (checked at set-up by ``Tokenizer.terms``)."""
    seen: set = set()
    out: list[str] = []
    while len(out) < size:
        n = int(rng.integers(2, 5))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n)
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return sorted(out, key=len)


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


SITES = 997


class Corpus:
    """A generated corpus: pandas rows plus the vocabulary-id tokens the
    oracle scores from (``tokens[offsets[i]:offsets[i+1]]`` is doc i).

    Page bodies are Zipfian draws with lognormal lengths around
    ``median_len`` words. ``n_docs`` rows are drawn; row i has url number
    ``first_doc + i``. For each ``(start, size)`` block in ``plant``,
    ``plant_duplicates`` overwrites rows inside the block with copies and
    edits of others before the html is made."""

    def __init__(self, seed: int, n_docs: int, median_len: int, vocab_size: int,
                 zipf_s: float = 1.05, first_doc: int = 0, plant=()):
        rng = np.random.default_rng([seed, 1])
        self.vocab = vocabulary(rng, vocab_size)
        rng = np.random.default_rng([seed, 2, first_doc])
        lens = np.clip(
            rng.lognormal(np.log(median_len), 0.5, n_docs).astype(np.int64), 8, 8 * median_len
        )
        draws = rng.choice(vocab_size, size=int(lens.sum()), p=zipf_probs(vocab_size, zipf_s))
        bounds = np.concatenate([[0], np.cumsum(lens)])
        parts = [draws[bounds[i]:bounds[i + 1]] for i in range(n_docs)]
        self.families: list[dict] = []
        for start, size in plant:
            self.families += plant_duplicates(np.random.default_rng([seed, 6, first_doc + start]),
                                              parts, start, size, vocab_size)
        self.tokens = np.concatenate(parts).astype(np.int32)
        self.offsets = np.concatenate([[0], np.cumsum([len(p) for p in parts])])
        ids = np.arange(first_doc, first_doc + n_docs)
        site = ids % SITES
        self.urls = [f"https://site{s}.{TLDS[s % 3]}/page/{i}" for i, s in zip(ids, site)]
        self.hosts = [f"/{TLDS[s % 3]}/site{s}" for s in site]
        self.langs = [LANGS[0] if i % 20 else LANGS[1 + (i // 20) % 3] for i in ids]
        self.ts = [EPOCH + dt.timedelta(minutes=int(i)) for i in ids]
        self.html = [self._html(i) for i in range(n_docs)]
        self._tail = None

    def __len__(self) -> int:
        return len(self.urls)

    def words(self, i: int) -> list[str]:
        return [self.vocab[t] for t in self.tokens[self.offsets[i]:self.offsets[i + 1]]]

    def _html(self, i: int) -> str:
        body = self.words(i)
        for j in range(0, len(body), SENTENCE_WORDS):
            body[j] = body[j].capitalize()
            end = min(j + SENTENCE_WORDS, len(body)) - 1
            body[end] = body[end] + "."
        return f"<html><body><p>{' '.join(body)}</p></body></html>"

    def expected_text(self, i: int) -> str:
        """What ``webtext.extracted_text`` must give for row i."""
        return re.sub(r"<[^>]*>", "", self.html[i]).strip()

    def tail_ids(self) -> np.ndarray:
        """Vocabulary ids past the torso that occur in the corpus."""
        if self._tail is None:
            V = len(self.vocab)
            present = np.bincount(self.tokens, minlength=V) > 0
            self._tail = np.nonzero(present & (np.arange(V) >= TORSO_END))[0]
        return self._tail

    def frame(self, rows=None) -> pd.DataFrame:
        """The input table for ``rows`` (default: all); ``text`` is derived
        from ``html`` by the build, ``length`` after extraction."""
        rows = range(len(self)) if rows is None else rows
        return pd.DataFrame({
            "url": [self.urls[i] for i in rows],
            "html": [self.html[i].encode() for i in rows],
            "lang": [self.langs[i] for i in rows],
            "warc_ts": pd.to_datetime([self.ts[i] for i in rows]),
            "host": [self.hosts[i] for i in rows],
        })

    @property
    def n_tokens(self) -> int:
        return int(self.offsets[-1])

    def text_bytes(self, rows=None) -> int:
        """Bytes of extracted text: the input the index is measured against."""
        rows = range(len(self)) if rows is None else rows
        return sum(len(self.expected_text(i)) for i in rows)


#: planted near-duplicate families per 100 docs, by kind: (kind, members)
FAMILIES = (("exact", 2), ("exact", 3), ("near", 3), ("near", 5), ("near", 7))
NEAR_EDIT = 0.01  # share of words a near copy changes (a date, a counter)


def plant_duplicates(rng: np.random.Generator, parts: list, start: int, block: int,
                     vocab_size: int) -> list[dict]:
    """Overwrite rows ``start .. start + block - 1`` of ``parts`` (token
    arrays) with planted families and return them as ``{"kind", "rows"}``:
    ``exact`` copies of one page and ``near`` copies each editing
    NEAR_EDIT of the source's words (about 0.94 3-shingle Jaccard to the
    source, so the default 4 LSH bands all but always pair every copy
    with its source). Edits substitute uniformly drawn words. The source
    is the family's smallest row, so label propagation settles every
    family in one round. One set of FAMILIES per 100 rows, on disjoint
    rows."""
    def edit(src):
        out = src.copy()
        k = max(1, int(round(NEAR_EDIT * len(src))))
        at = rng.choice(len(src), size=k, replace=False)
        out[at] = rng.integers(0, vocab_size, size=k)
        return out

    rows = start + rng.permutation(block)
    families, used = [], 0
    for _ in range(block // 100):
        for kind, size in FAMILIES:
            members = sorted(int(r) for r in rows[used:used + size])
            used += size
            src = parts[members[0]]
            for r in members[1:]:
                parts[r] = src.copy() if kind == "exact" else edit(src)
            families.append({"kind": kind, "rows": members})
    return families


def write_parquet(frame: pd.DataFrame, path: str) -> None:
    """Spark 4.1 refuses pandas' nanosecond timestamps: write micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


# --- query log ---------------------------------------------------------------

#: (kind, weight) of the serve_queries mix. Aggregations are about a tenth
#: of requests. ``or_top`` and ``or_head`` are 4-term head disjunctions:
#: ``or_top`` draws from the 6 most frequent words and ``or_head`` from
#: ranks 7-16, so on the 30k-page serve_queries corpus the executor's 100k
#: total-df WAND gate passes on every ``or_top`` and on no ``or_head``
#: (the record counts the passes in the pool).
QUERY_MIX = (
    ("term_head", 6), ("or_top", 5), ("term_torso", 10), ("term_tail", 7),
    ("and", 10), ("or", 8), ("or_head", 5), ("not", 4),
    ("phrase", 7), ("prefix", 6), ("fuzzy", 5), ("smart", 7),
    ("date_range", 3), ("int_range", 3), ("facet", 4),
    ("agg_count", 4), ("agg_facet", 3), ("agg_hist", 3),
)
TOP = range(0, 6)
HEAD = range(0, 16)
TORSO_END = 600


def query_spec(rng: np.random.Generator, kind: str, corpus: Corpus) -> dict:
    """One query of ``kind`` as a plain dict (prints, hashes and replays
    without the library). Terms are vocabulary words; the simple
    tokenizer's term for a pure ``[a-z]`` word is the word itself. Each
    kind has a fixed shape (term count, prefix length) and draws word
    ranks, so the corpus's seed moves which words, not how much work."""
    torso = range(HEAD.stop, TORSO_END)

    def pick(r, k=1):
        return [corpus.vocab[int(x)] for x in rng.choice(np.asarray(r), size=k, replace=False)]

    if kind == "term_head":
        return {"kind": "term", "terms": pick(HEAD)}
    if kind == "term_torso":
        return {"kind": "term", "terms": pick(torso)}
    if kind == "term_tail":
        # only words that occur: a term missing from the index takes
        # another executor path (an empty plan) with a different cost
        return {"kind": "term", "terms": pick(corpus.tail_ids())}
    if kind == "and":
        return {"kind": "and", "terms": pick(HEAD) + pick(torso)}
    if kind == "or":
        return {"kind": "or", "terms": pick(torso, 3)}
    if kind == "or_top":
        return {"kind": "or", "terms": pick(TOP, 4)}
    if kind == "or_head":
        return {"kind": "or", "terms": pick(range(TOP.stop, HEAD.stop), 4)}
    if kind == "not":
        return {"kind": "not", "terms": pick(torso) + pick(HEAD)}
    if kind == "phrase":
        i = int(rng.integers(0, len(corpus)))
        j = int(rng.integers(corpus.offsets[i], corpus.offsets[i + 1] - 1))
        return {"kind": "phrase", "terms": [corpus.vocab[corpus.tokens[j]],
                                            corpus.vocab[corpus.tokens[j + 1]]]}
    if kind == "prefix":
        return {"kind": "prefix", "prefix": pick(torso)[0][:5]}
    if kind == "fuzzy":
        w = pick(torso)[0]
        k = int(rng.integers(1, len(w)))
        return {"kind": "fuzzy", "term": w[:k] + "q" + w[k + 1:]}
    if kind == "smart":
        w1, w2 = pick(torso, 2)
        return {"kind": "smart", "text": f"{w1} {w2[:5]}"}
    if kind == "date_range":
        a = int(rng.integers(0, len(corpus)))
        return {"kind": "date_range", "lo_min": a, "hi_min": a + int(rng.integers(50, 2000))}
    if kind == "int_range":
        a = int(rng.integers(400, 1200))
        return {"kind": "int_range", "lo": a, "hi": a + int(rng.integers(10, 100))}
    if kind == "facet":
        site = int(rng.integers(0, SITES))
        path = f"/{TLDS[site % 3]}" if rng.random() < 0.3 else f"/{TLDS[site % 3]}/site{site}"
        return {"kind": "facet", "path": path}
    if kind == "agg_count":
        return {"kind": "agg_count", "terms": pick(torso)}
    if kind == "agg_facet":
        return {"kind": "agg_facet", "terms": pick(HEAD), "prefix": f"/{TLDS[int(rng.integers(0, 3))]}"}
    if kind == "agg_hist":
        return {"kind": "agg_hist", "terms": pick(torso), "interval": int(rng.choice([50, 100, 200]))}
    raise ValueError(kind)


#: the first cycle of kinds: each kind once, the common shapes first, so
#: the few novel requests of a short run send a spread of them
FIRST_KINDS = ("term_torso", "or_top", "and", "agg_facet", "phrase", "prefix", "or_head",
               "smart", "fuzzy", "date_range", "term_head", "facet", "term_tail", "not",
               "or", "agg_count", "int_range", "agg_hist")


def kind_order() -> list[str]:
    """FIRST_KINDS, then one cycle of QUERY_MIX kinds by smooth weighted
    round-robin (every prefix holds the kinds close to their shares). The
    order is the same for every seed, so runs of different seeds send the
    same mix."""
    total = sum(w for _, w in QUERY_MIX)
    credit = {k: 0 for k, _ in QUERY_MIX}
    out = list(FIRST_KINDS)
    for _ in range(total):
        for k, w in QUERY_MIX:
            credit[k] += w
        best = max(credit, key=lambda k: credit[k])
        credit[best] -= total
        out.append(best)
    return out


def query_pool(corpus: Corpus, size: int) -> list[dict]:
    """``size`` distinct query specs, kinds in ``kind_order``. The draws
    (word ranks, page positions, ranges) do not depend on the seed, so
    every seed sends queries of the same shapes over words of the same
    frequencies, and the same work; the words are the seed's corpus's."""
    rng = np.random.default_rng([3])
    order = kind_order()
    pool, seen, i = [], set(), 0
    while len(pool) < size:
        # a kind whose space is used up (15 4-term ORs of TOP) yields its turn
        q = query_spec(rng, order[i % len(order)], corpus)
        i += 1
        key = repr(sorted(q.items()))
        if key not in seen:
            seen.add(key)
            pool.append(q)
    return pool


def query_log(pool_size: int, n: int, repeat_every: int = 3,
              s: float = 1.1) -> list[tuple[int, bool]]:
    """``n`` requests as (pool index, is_repeat). Novel requests walk the
    pool in order; every ``repeat_every``-th request re-sends an earlier
    query drawn Zipf-like from those already sent (the hot set). The draw
    does not depend on the seed: every seed repeats the same positions of
    the pool, so runs of different seeds send the same mix of kinds (the
    seed picks the terms)."""
    rng = np.random.default_rng([4])
    out, nxt = [], 0
    for i in range(n):
        if i % repeat_every == repeat_every - 1 and nxt > 0:
            out.append((int(rng.choice(nxt, p=zipf_probs(nxt, s))), True))
        else:
            out.append((nxt % pool_size, nxt >= pool_size))
            nxt += 1
    return out


# --- mixed read/write op log -------------------------------------------------

def rw_ops(seed: int, base_docs: int, n_commits: int, adds: int, upserts: int,
           deletes: int) -> list[dict]:
    """Per commit: corpus rows of the crawl batch (new pages, before
    dedup), (live doc row, content row) pairs to upsert, and live doc rows
    to delete. Rows past ``base_docs`` are handed out in order. Upserts
    and deletes touch base pages only (which batch pages survive dedup is
    the engine's answer), and a deleted page is never touched again, so
    every op is well defined."""
    rng = np.random.default_rng([seed, 5])
    live = list(range(base_docs))
    nxt = base_docs
    out = []
    for _ in range(n_commits):
        new = list(range(nxt, nxt + adds))
        content = list(range(nxt + adds, nxt + adds + upserts))
        nxt += adds + upserts
        pick = rng.choice(len(live), size=upserts + deletes, replace=False)
        ups = [(live[int(i)], c) for i, c in zip(pick[:upserts], content)]
        dels = sorted(live[int(i)] for i in pick[upserts:])
        dead = set(dels)
        live = [d for d in live if d not in dead]
        out.append({"add": new, "upsert": ups, "delete": dels})
    return out


def rw_rows_needed(base_docs: int, n_commits: int, adds: int, upserts: int) -> int:
    return base_docs + n_commits * (adds + upserts)
