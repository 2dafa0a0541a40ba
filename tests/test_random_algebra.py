"""Randomized query-algebra parity: engine vs an independent Python model.

The contract queries pin specific plans; this sweeps ~30 random algebra
trees (term/&/|/!/boost/dis-max/const-score, depth ≤3, with boosted term
leaves, ORs repeating a term and terms absent from the index, which the
executor folds into one per-term weight map) over a seeded corpus and checks the
engine's top-k (ids AND scores) against a from-first-principles pure-Python
scorer that shares nothing with the executor: its own tokenize → tf=1 BM25
over the quantized dl → score algebra → (score desc, id asc) ranking.
"""

import random

import numpy as np
import pytest

from tantiny_spark import plan as P, scoring
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema

VOCAB = [f"w{i}" for i in range(12)]
N_DOCS = 80
SEED = 1234


def _corpus():
    rng = random.Random(SEED)
    docs = []
    for i in range(N_DOCS):
        n = rng.randint(3, 30)
        words = [rng.choice(VOCAB[: 4 + (i % 9)]) for _ in range(n)]
        docs.append((f"d{i:03d}", " ".join(words)))
    return docs


@pytest.fixture(scope="module")
def algebra_index(spark, tmp_path_factory):
    s = IndexSchema()
    s.text("t")
    ix = Index(spark, str(tmp_path_factory.mktemp("alg") / "idx"), s)
    ix.add_dataframe(
        spark.createDataFrame(_corpus(), "id string, t string")
    )
    return ix.reload()


class Model:
    """Independent scorer: same published semantics, none of the engine code."""

    def __init__(self, docs):
        self.toks = {i: text.lower().split() for i, text in docs}
        self.ids = sorted(self.toks)
        # quantized doc length, exactly the SmallFloat round-trip
        self.dl = {
            i: float(
                scoring.FIELDNORM_TABLE[scoring.fieldnorm_to_id(len(ts))]
            )
            for i, ts in self.toks.items()
        }
        self.n = len(self.ids)
        self.avgdl = sum(len(ts) for ts in self.toks.values()) / self.n

    def term(self, w):
        matched = {i for i, ts in self.toks.items() if w in ts}
        df = len(matched)
        idf = np.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
        out = {}
        for i in matched:
            denom = 1.0 + scoring.K1 * (
                1.0 - scoring.B + scoring.B * self.dl[i] / self.avgdl
            )
            out[i] = idf * (scoring.K1 + 1.0) * 1.0 / denom
        return out

    def eval(self, node):
        if isinstance(node, P.Term):
            return self.term(node.term)
        if isinstance(node, P.Conjunction):
            parts = [self.eval(c) for c in node.children]
            keys = set(parts[0])
            for p in parts[1:]:
                keys &= set(p)
            return {i: sum(p[i] for p in parts) for i in keys}
        if isinstance(node, P.Disjunction):
            parts = [self.eval(c) for c in node.children]
            out = {}
            for p in parts:
                for i, sc in p.items():
                    out[i] = out.get(i, 0.0) + sc
            return out
        if isinstance(node, P.Negation):
            inside = self.eval(node.child)
            return {i: 1.0 for i in self.ids if i not in inside}
        if isinstance(node, P.Boost):
            return {i: sc * node.factor for i, sc in self.eval(node.child).items()}
        if isinstance(node, P.DisjunctionMax):
            parts = [self.eval(c) for c in node.children]
            out = {}
            for i in {k for p in parts for k in p}:
                scores = [p[i] for p in parts if i in p]
                mx, sm = max(scores), sum(scores)
                out[i] = mx + node.tie_breaker * (sm - mx)
            return out
        if isinstance(node, P.ConstScore):
            return {i: node.score for i in self.eval(node.child)}
        raise AssertionError(type(node))

    def topk(self, node, k):
        scored = self.eval(node)
        ranked = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]


ABSENT = "zz"  # analyzes to a term no document contains


def _random_tree(rng, depth=0):
    kind = rng.choice(
        ["term"] * 3 + ["boosted_term", "absent"]
        + (["and", "or", "or_repeat", "not", "boost", "dismax", "const"]
           if depth < 3 else [])
    )
    if kind == "term":
        return P.Term("t", rng.choice(VOCAB))
    if kind == "boosted_term":
        return P.Term("t", rng.choice(VOCAB)).boost(rng.choice([0.5, 2.0, 3.5]))
    if kind == "absent":
        return P.Term("t", ABSENT)
    if kind == "or_repeat":
        # a term repeated inside one OR scores once per occurrence
        word = P.Term("t", rng.choice(VOCAB))
        return P.disjunction(
            word, _random_tree(rng, depth + 1), word.boost(rng.choice([1.0, 2.0]))
        )
    if kind == "and":
        return P.conjunction(*[_random_tree(rng, depth + 1) for _ in range(2)])
    if kind == "or":
        return P.disjunction(
            *[_random_tree(rng, depth + 1) for _ in range(rng.choice([2, 3]))]
        )
    if kind == "not":
        return ~_random_tree(rng, depth + 1)
    if kind == "dismax":
        return P.dis_max_query(
            [_random_tree(rng, depth + 1) for _ in range(rng.choice([2, 3]))],
            tie_breaker=rng.choice([0.0, 0.3, 0.7]),
        )
    if kind == "const":
        return P.const_score_query(
            _random_tree(rng, depth + 1), rng.choice([0.5, 1.0, 2.0])
        )
    return _random_tree(rng, depth + 1).boost(rng.choice([0.5, 2.0, 3.5]))


def test_random_algebra_trees_match_model(algebra_index):
    model = Model(_corpus())
    rng = random.Random(99)
    trees = [_random_tree(rng) for _ in range(30)]
    # batch the whole sweep through search_many: one Spark job for all trees
    # (also exercises the batched ranking path against the model)
    results = algebra_index.search_many(
        {str(i): t for i, t in enumerate(trees)}, limit=10
    )
    checked_nonempty = 0
    for i, tree in enumerate(trees):
        expected = model.topk(tree, 10)
        got_ids = results[str(i)]
        assert got_ids == [d for d, _ in expected], f"tree {i}: {tree}"
        if expected:
            checked_nonempty += 1
            # scores too (serial path), on a sample to bound runtime
            if i % 6 == 0:
                got = algebra_index.search_with_scores(tree, limit=10)
                for (gid, gsc), (eid, esc) in zip(got, expected):
                    assert gid == eid
                    assert gsc == pytest.approx(esc, rel=1e-9)
    assert checked_nonempty >= 20  # the sweep wasn't trivially empty
