"""Lexical retrieval (operators/retrieval.py)."""

from fuzzycat_spark.operators.retrieval import doc_term_rows, lexical_topk

SCALE = 1200


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id bigint, qtext string")


def _run(spark, docs, queries, **kw):
    out = lexical_topk(
        _docs(spark, docs), _queries(spark, queries), scale=SCALE, **kw
    ).collect()
    return {(r.query_id, r.doc_id): (r.score_fp, r.rank) for r in out}


def test_hand_computed_scores_and_ranks(spark):
    # df(a)=1 -> w=1200; df(c)=2 -> w=600; b never queried
    got = _run(
        spark,
        [(1, "a a b"), (2, "b c"), (3, "c c c")],
        [(10, "a c")],
        k=10,
    )
    assert got == {
        (10, 1): (2 * 1200, 1),   # tf(a)=2
        (10, 3): (3 * 600, 2),    # tf(c)=3
        (10, 2): (1 * 600, 3),
    }


def test_query_term_frequency_weights(spark):
    # qtf(a)=2 doubles a's contribution
    got = _run(spark, [(1, "a b")], [(10, "a a b")], k=5)
    # df(a)=df(b)=1 -> w=1200 each; score = 2*1*1200 + 1*1*1200
    assert got[(10, 1)][0] == 3 * 1200


def test_k_cuts_and_ties_rank_by_min_id(spark):
    got = _run(
        spark,
        [(1, "x"), (2, "x"), (3, "x")],
        [(7, "x")],
        k=2,
    )
    # df(x)=3 -> w = 1200 DIV 3 = 400
    assert got == {(7, 1): (400, 1), (7, 2): (400, 2)}


def test_no_shared_term_means_no_row(spark):
    got = _run(spark, [(1, "alpha"), (2, "beta")], [(1, "beta")], k=5)
    assert set(got) == {(1, 2)}


def test_empty_docs_and_queries_are_safe(spark):
    got = _run(
        spark,
        [(1, ""), (2, "a")],
        [(1, "  \t "), (2, "a")],
        k=3,
    )
    assert set(got) == {(2, 2)}


def test_salted_two_stage_matches_single_window(spark):
    docs = [(i, f"t{i % 5} common") for i in range(40)]
    queries = [(1, "common t0 t3")]
    a = _run(spark, docs, queries, k=7, salt=1)
    b = _run(spark, docs, queries, k=7, salt=16)
    assert a == b and len(a) == 7


def test_precomputed_posting_table_matches_inline(spark):
    docs = _docs(spark, [(1, "a b a"), (2, "b c")])
    qs = _queries(spark, [(1, "a c")])
    inline = {
        (r.query_id, r.doc_id): (r.score_fp, r.rank)
        for r in lexical_topk(docs, qs, scale=SCALE).collect()
    }
    terms = doc_term_rows(docs)
    pre = {
        (r.query_id, r.doc_id): (r.score_fp, r.rank)
        for r in lexical_topk(docs, qs, scale=SCALE, terms=terms).collect()
    }
    assert inline == pre


def test_doc_term_rows_plan_has_no_exchange(spark):
    plan = (
        doc_term_rows(_docs(spark, [(1, "a b a")]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_lexical_topk_plan_broadcasts_query_side(spark):
    docs = _docs(spark, [(1, "a b"), (2, "b c")])
    qs = _queries(spark, [(1, "a c")])
    plan = (
        lexical_topk(docs, qs, scale=SCALE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the corpus never shuffles to meet the queries: every join is a
    # broadcast, candidates-only exchanges do the rollup/rank
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_bm25_matches_numpy_reference(spark):
    import math

    from fuzzycat_spark.operators.retrieval import bm25_topk

    docs = [(1, "a a b"), (2, "b c"), (3, "c c c a"), (4, "d d")]
    queries = [(10, "a c"), (11, "d")]
    got = {
        (r.query_id, r.doc_id): (r.score, r.rank)
        for r in bm25_topk(
            _docs(spark, docs), _queries(spark, queries), k=10
        ).collect()
    }

    # reference implementation
    toks = {i: t.split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = 1.2, 0.75

    def df(term):
        return sum(1 for t in toks.values() if term in t)

    want = {}
    for qid, qt in queries:
        for d, t in toks.items():
            s = 0.0
            for term in set(qt.split()):
                tf = t.count(term)
                if tf == 0:
                    continue
                qtf = qt.split().count(term)
                idf = math.log(1 + (n - df(term) + 0.5) / (df(term) + 0.5))
                s += qtf * idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(t) / avgdl)
                )
            if s > 0.0:
                want[(qid, d)] = s
    assert set(got) == set(want)
    for key, (score, _rank) in got.items():
        assert abs(score - want[key]) < 1e-9 * max(1.0, abs(want[key]))
    # ranking agrees with the reference ordering (ties -> min id)
    for qid in (10, 11):
        ref_order = sorted(
            (d for (q, d) in want if q == qid),
            key=lambda d: (-want[(qid, d)], d),
        )
        got_order = sorted(
            (d for (q, d) in got if q == qid),
            key=lambda d: got[(qid, d)][1],
        )
        assert got_order == ref_order


def test_bm25_null_text_rows_are_safe_corpus_members(spark):
    from fuzzycat_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "")], "doc_id bigint, text string"
    )
    got = bm25_topk(docs, _queries(spark, [(1, "a")]), k=5).collect()
    # NULL/empty docs are corpus members (affect n_docs/avgdl) but never
    # candidates; the scored doc still surfaces
    assert [(r.query_id, r.doc_id, r.rank) for r in got] == [(1, 1, 1)]
