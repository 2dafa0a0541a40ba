"""Physical-plan regressions for the round-3 pipeline additions: the scale
properties the docstrings claim, asserted so refactors can't lose them."""

from datetime import datetime, timedelta, timezone

import pytest

from tantiny_spark.index import Index
from tantiny_spark.pipeline import dedup, prep, spans, textstats
from tantiny_spark.schema import IndexSchema


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"tok{i % 7} tok{i % 3} tok{i % 5} common common", "en" if i % 2 else "de")
            for i in range(50)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_stratified_sample_is_one_narrow_filter(docs):
    """No join, no shuffle, no Python: the rates fold into a literal CASE
    inside a codegen'd Filter."""
    plan = _physical(prep.stratified_sample(docs, rates={"en": 0.5}))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan and "Arrow" not in plan


def test_unigram_bits_shuffles_are_aggregations_only(docs):
    """The only broadcast is the 1-row total; tf pre-aggregation carries a
    map-side partial_count before every exchange; no Python in the path."""
    plan = _physical(textstats.with_unigram_bits(docs))
    assert "partial_count" in plan
    assert "Python" not in plan and "Arrow" not in plan
    # exactly one broadcast exchange — the single-row corpus total
    assert plan.count("BroadcastExchange") == 1


def test_duplicate_spans_gram_stats_aggregate_partially(docs):
    """The per-gram (count, first-key) aggregation must fold map-side
    (partial_min/partial_count) — the Zipf-head gram never materializes an
    occurrence list — and the interval-merge window is partitioned by the
    doc key, never a global sort."""
    plan = _physical(spans.duplicate_spans(docs, k=2))
    assert "partial_min" in plan and "partial_count" in plan
    assert "windowspecdefinition(doc_id" in plan
    assert "Python" not in plan and "Arrow" not in plan


def test_remove_spans_join_keeps_corpus_side_unbroadcast(docs):
    """The rewrite joins spans per doc; the corpus side must never be the
    broadcast side (spans aggregate to <= one row per affected doc)."""
    plan = _physical(spans.remove_duplicate_spans(docs, k=2))
    # the corpus scan feeds the streamed side of the join — assert the plan
    # didn't put the raw docs relation under a BroadcastExchange
    assert "Python" not in plan and "Arrow" not in plan


def test_lsh_bands_are_one_explode_per_join_side(docs):
    """Every signature is banded by ONE posexplode: no per-band Union, so
    the minhash subtree appears once per self-join side, not once per band."""
    plan = _optimized(dedup.lsh_candidate_pairs(docs))
    assert "Union" not in plan
    assert plan.count("Generate posexplode") == 2


def test_simhash_chunks_are_one_explode_per_join_side(docs):
    """Same banding for the simhash chunks: the pandas UDF runs once per
    join side, not once per chunk; the hot-bucket cap keeps its semi-join."""
    plan = _optimized(dedup.simhash_candidate_pairs(docs))
    assert "Union" not in plan
    assert plan.count("Generate posexplode") == 2
    capped = _optimized(dedup.simhash_candidate_pairs(docs, max_bucket_size=10))
    assert "Union" not in capped and "LeftSemi" in capped


def test_dedup_leaves_no_cached_relation(spark, docs):
    """connected_components hands back a local checkpoint and releases its
    edge caches; a fuzzy dedup pass collected end to end leaves the
    CacheManager exactly as empty as it found it."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a long, b long")
    comp = dedup.connected_components(edges)
    assert cache.isEmpty()
    assert sorted(map(tuple, comp.collect())) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    _, dup_map = dedup.fuzzy_dedup_corpus(docs)
    assert len(dup_map.collect()) == docs.count()
    assert cache.isEmpty()


def _txn_schema() -> IndexSchema:
    s = IndexSchema()
    s.text("body")
    s.integer("n")
    s.double("x")
    s.date("d")
    s.json("attrs")
    return s


def test_transaction_rows_are_a_local_relation(spark, tmp_path):
    """Pending transaction rows reach build_segment as an Arrow-backed
    LocalRelation, not a pickled Python RDD."""
    ix = Index(spark, str(tmp_path / "idx"), _txn_schema())
    rows = [ix._slice_document({"id": 1, "body": "a b", "n": 3, "d": datetime(2020, 1, 2)})]
    plan = ix._rows_to_df(rows)._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan


def test_transaction_round_trips_dates_nulls_and_json(spark, tmp_path):
    """Naive dates read in the process's local time, aware ones as their
    instant; a missing integer stays NULL; doubles and json survive."""
    naive = datetime(2020, 1, 2, 3, 4, 5, 123456)
    utc = datetime(2020, 6, 1, 12, 0, tzinfo=timezone.utc)
    plus2 = datetime(2020, 6, 1, 12, 0, tzinfo=timezone(timedelta(hours=2)))
    ix = Index(spark, str(tmp_path / "idx"), _txn_schema())
    with ix.transaction():
        ix.add({"id": "a", "body": "red fox", "n": 1, "x": 1.5, "d": naive,
                "attrs": {"color": "red"}})
        ix.add({"id": "b", "body": "blue fox", "x": -0.25, "d": utc})
        ix.add({"id": "c", "body": "green fox", "n": 3, "d": plus2,
                "attrs": {"color": "green", "size": 2}})
    ix.reload()
    got = {
        r["id"]: r
        for r in ix.ctx.docs.selectExpr("id", "n", "x", "unix_micros(d) AS us").collect()
    }

    def micros(t: datetime) -> int:
        return int(t.timestamp()) * 1_000_000 + t.microsecond

    assert {k: (r["n"], r["x"], r["us"]) for k, r in got.items()} == {
        "a": (1, 1.5, micros(naive)),
        "b": (None, -0.25, micros(utc)),
        "c": (3, None, micros(plus2)),
    }
    assert ix.search(ix.json_term_query("attrs", "color", "green")) == ["c"]
    assert ix.search(ix.range_query("n", (0, 10))) == ["a", "c"]
