"""The oracles agree with the engine on a 50-catalog corpus, in all three
search modes, restaurants() and knn_join, and they catch wrong results and
wrong vectors. The work counts read from Spark's executed plans match the
inputs they should count."""

from __future__ import annotations

from itertools import islice

import numpy as np
import pytest

from hvsbench import oracle, reqgen, tracing, workloads


@pytest.fixture(scope="module")
def served(spark):
    from hybrid_vector_search_spark.api import SearchEngine
    from hybrid_vector_search_spark.operators.embed import HashingEmbedder, embed_documents
    from hybrid_vector_search_spark.sources.catalog_gen import flatten_catalogs, generate_catalogs

    embedder = HashingEmbedder(workloads.EMB_DIM)
    df = embed_documents(
        flatten_catalogs(generate_catalogs(spark, 50, seed=5)),
        "product.description",
        workloads.EMB_COL,
        embedder=embedder,
    ).cache()
    engine = SearchEngine(df, workloads.REFERENCE_CONFIG, embedder=embedder)
    vectors = oracle.TextVectors(workloads.EMB_DIM)
    corpus = oracle.Corpus.from_arrow(df.select(*workloads.oracle_columns()).toArrow(), vectors)
    yield engine, oracle.ServingOracle(corpus, vectors), embedder
    df.unpersist()


def test_oracle_vectors_match_the_stored_ones(served):
    _, check, embedder = served
    assert len(check.c) > 200
    assert not check.c.wrong_vectors.any()
    for text in ["pollo crujiente con ingredientes frescos", "", "Ñandú_asado 12", None]:
        want = embedder.embed_one(text if isinstance(text, str) else "")
        assert np.array_equal(check.vectors.one(text), want)


def test_wrong_vectors_are_caught(served):
    _, check, _ = served
    expected = check.vectors.many(["pollo frito", "sopa de pescado", "tacos"])
    stored = expected.astype(np.float64)
    assert not oracle.wrong_vectors(stored, expected).any()
    stored[0, 3] += 1e-4  # off by more than EMB_TOL
    stored[1, 512:] = 0.0  # truncated
    stored[2] = np.nan  # null
    assert oracle.wrong_vectors(stored, expected).tolist() == [True, True, True]


def test_engine_matches_oracle_in_every_mode(served):
    engine, check, _ = served
    invalid = [
        {"mode": "semantic", "description": "pollo"},
        {"mode": "vector", "description": "  "},
        {"mode": "hybrid", "description": "pollo"},
        {"mode": "fulltext", "title": "combo", "maxPrice": "barato"},
    ]
    reqs = list(islice(reqgen.food_requests(21), 40))
    reqs += [reqgen.Request(1000 + i, "invalid", p) for i, p in enumerate(invalid)]
    seen = set()
    for req in reqs:
        response, error = workloads.call(engine, req)
        reason, recall = check.check(req.kind, req.payload, response, error)
        assert reason is None, (req, reason)
        if req.kind == "vector":
            assert recall == 1.0
        seen.add(req.kind)
    assert seen == {"vector", "hybrid", "fulltext", "restaurants", "invalid"}


def test_invalid_payloads_must_be_refused(served):
    engine, check, _ = served
    payload = {"mode": "vector", "description": "pollo crujiente"}
    response, error = workloads.call(engine, reqgen.Request(0, "vector", payload))
    reason, _ = check.check("invalid", payload, response, error)
    assert reason is not None  # a valid answer to an 'invalid' payload fails


def test_wrong_results_are_caught(served):
    engine, check, _ = served
    payload = {"mode": "vector", "description": "pollo crujiente con ingredientes frescos", "limit": 10}
    response, _ = workloads.call(engine, reqgen.Request(0, "vector", payload))
    rows = response["results"]
    ok = check.check("vector", payload, response, None)
    assert ok[0] is None

    def variant(results):
        return check.check("vector", payload, {"mode": "vector", "results": results}, None)[0]

    assert variant(rows[:-1]) is not None  # one row short
    assert variant(rows[1:] + rows[:1]) is not None  # order broken
    bumped = [dict(rows[0], score=rows[0]["score"] + 1e-4)] + rows[1:]
    assert variant(bumped) is not None  # score off by more than 1e-6
    mask = check.c.mask(payload)
    scores = check.vector_scores(payload["description"])
    worst = check.c.ids[np.nanargmin(np.where(mask, scores, np.nan))]
    assert variant(rows[:-1] + [dict(rows[-1], _id=worst)]) is not None  # a far row


def test_knn_join_matches_numpy_top10(spark, served):
    from hybrid_vector_search_spark.operators.knn import knn_join

    engine, check, _ = served
    texts = reqgen.query_texts(4, 6)
    qvecs = [[float(x) for x in check.vectors.one(t)] for t in texts]
    queries = spark.createDataFrame(list(enumerate(qvecs)), "query_id bigint, embedding array<double>")
    corpus = engine.df.select("_id", workloads.EMB_COL)
    got = workloads.group_results(
        knn_join(queries, corpus, 10, corpus_vector_col=workloads.EMB_COL, corpus_id_col="_id").collect()
    )
    everything = np.ones(len(check.c), dtype=bool)
    for qid, qv in enumerate(qvecs):
        scores = oracle.atlas_cosine(check.c.unit, qv)
        assert oracle.check_ranked(got[qid], check.c.ids, scores, everything, 10) is None
        assert oracle.tie_aware_recall([g[0] for g in got[qid]], check.c.ids, scores, 10) == 1.0
        assert oracle.tie_aware_recall([g[0] for g in got[qid][:5]], check.c.ids, scores, 10) == 0.5


def test_plan_counts_come_from_the_execution(spark, served):
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.operators import bm25
    from hybrid_vector_search_spark.operators.knn import knn

    engine, check, _ = served
    payload = {"available": True, "maxPrice": 20.0}
    qv = [float(x) for x in check.vectors.one("pollo con ingredientes frescos")]
    pre = (F.col("product.available") == True) & (F.col("product.price.amount") < 20.0)  # noqa: E712
    df = knn(engine.df, qv, 10, vector_col=workloads.EMB_COL, id_col="_id", pre_filter=pre)
    assert len(df.collect()) == 10
    plan = tracing.executed_plan(df)
    assert tracing.rows_into_root(plan) == int(check.c.mask(payload).sum())
    assert tracing.scanned_rows(plan) == len(check.c)

    terms = oracle.tokens(check.c.titles[0])
    scores = bm25.bm25_scores(engine._stats, terms)
    assert len(scores.collect()) == int((~np.isnan(check.c.bm25.scores(terms))).sum())
    plan = tracing.executed_plan(scores)
    want = sum(check.c.bm25.df[t] for t in set(terms))
    assert tracing.rows_into_lowest(plan, "HashAggregate") == want
    assert tracing.join_rows(plan) >= want
