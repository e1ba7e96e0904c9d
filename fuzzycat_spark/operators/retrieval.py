"""Lexical retrieval — top-k documents per query by term-overlap weight.

The reference's online path pulls candidate records from an
Elasticsearch query on normalized fields (`/root/reference/fuzzycat/
matching.py` builds bool queries over title/author tokens) — a LEXICAL
ranked scan, distinct from the embedding strategy's hyperplane buckets
(`operators/knn.py`). This operator is that scan as a batch DataFrame
plan: a small query table is scored against every document by
TF × inverse-document-frequency term weight and the top k documents per
query are returned.

Scoring is integer fixed point so it is exact under any reduction
order (the repo-wide determinism contract — float BM25 sums are
order- and libm-dependent and could never hash-match an oracle):

    score_fp(q, d) = sum over shared terms t of
                     qtf(q,t) * tf(d,t) * (scale DIV df(t))

`scale DIV df(t)` is the rational inverse-document-frequency weight
(rare terms dominate, exactly as in the log-idf family — the ranking
it induces differs from BM25 only in the absence of tf saturation and
length normalization, both of which callers can layer on the float
path); BM25 itself ships as the non-gated float variant `bm25_topk`
for users who want the classic curve.

Scale shape (the 100 TB story):
- Per-document term frequencies are computed INSIDE the row with one
  sorted-array run-length fold (no token explode → groupBy, zero
  shuffles to build the posting side); token text never leaves the
  scan — terms ride as 8-byte md5 hashes.
- The query table is broadcast; matching doc terms is a broadcast
  semi/inner join, so the corpus never shuffles to meet the queries.
- df() is computed ONLY for query terms (one partial-aggregated
  count on the ≤|query vocab| matched rows), then broadcast back.
- The per-(query, doc) rollup shuffles matched rows keyed by
  (query_id, doc_id) — candidates only, never the corpus.
- Top-k uses the same two-stage salted row_number as
  `operators/domains.domain_cap`: a hot query (10^8 candidate docs)
  sorts in S bounded tasks, then ranks ≤ k*S survivors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzycat_spark.functions.hashing import md5_h64
from fuzzycat_spark.operators.spans import raw_tokens

__all__ = ["doc_term_rows", "lexical_topk", "bm25_topk"]


def _term_rows(narrow: DataFrame, id_name: str) -> DataFrame:
    """(id, h, tf) from a (id, _toks) frame via an in-row run-length
    difference over the SORTED hash array. Every step is a whole-array
    op (array_sort / slice / zip_with / filter) staged through named
    columns — an element_at into a captured array inside a lambda makes
    Catalyst re-evaluate the captured subtree PER ELEMENT (the
    create_map-in-HOF trap: the first cut of this operator ran 400+s
    on 500 docs)."""
    empty = F.array().cast("array<struct<h:bigint,tf:bigint>>")
    d = (
        narrow.select(
            id_name, F.array_sort(F.transform("_toks", md5_h64)).alias("_hs")
        )
        .select(id_name, "_hs", F.size("_hs").alias("_n"))
        # _flags[i]: position i starts a new equal-run (first element, or
        # differs from its left neighbour, read off a shifted copy)
        .select(
            id_name,
            "_hs",
            "_n",
            F.zip_with(
                "_hs",
                F.concat(
                    F.array(F.lit(None).cast("bigint")),
                    F.slice("_hs", 1, F.greatest(F.col("_n") - 1, F.lit(0))),
                ),
                lambda a, b: b.isNull() | (a != b),
            ).alias("_flags"),
        )
        .select(
            id_name,
            "_n",
            F.filter(
                F.transform("_flags", lambda f, i: F.when(f, i)),
                lambda x: x.isNotNull(),
            ).alias("_idx"),
            F.filter(
                F.zip_with("_hs", "_flags", lambda h, f: F.when(f, h)),
                lambda x: x.isNotNull(),
            ).alias("_heads"),
        )
        # tf of run j = next run start (or n) minus this run start
        .select(
            id_name,
            "_n",
            "_heads",
            F.zip_with(
                "_idx",
                F.concat(
                    F.slice(
                        "_idx", 2, F.greatest(F.size("_idx") - 1, F.lit(0))
                    ),
                    F.array(F.col("_n")),
                ),
                lambda s, e: (e - s).cast("long"),
            ).alias("_tfs"),
        )
        .select(
            id_name,
            "_n",
            F.when(
                F.size("_heads") > 0,
                F.zip_with(
                    "_heads",
                    "_tfs",
                    lambda h, t: F.struct(h.alias("h"), t.alias("tf")),
                ),
            )
            .otherwise(empty)
            .alias("_terms"),
        )
    )
    return d.select(
        id_name, F.col("_n").cast("long").alias("dl"), F.explode("_terms").alias("t")
    ).select(id_name, "t.h", "t.tf", "dl")


def doc_term_rows(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, h, tf, dl): one row per distinct (document, term). tf is the
    raw whitespace-token frequency, dl the document's total token count
    (carried on every posting row so length-normalized scorers never
    join a corpus-wide length table). Zero shuffles — frequencies come
    from the in-row run-length difference, not an explode → groupBy."""
    return _term_rows(
        docs.select(
            F.col(id_col).alias("id"), raw_tokens(text_col).alias("_toks")
        ),
        "id",
    )


def lexical_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    scale: int = 1_000_000_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    salt: int = 16,
    terms: DataFrame | None = None,
) -> DataFrame:
    """Top `k` documents per query: (query_id, doc_id, score_fp, rank).

    score_fp = sum_t qtf * tf * (scale DIV df(t)) over shared terms —
    integer, exact, reduction-order-free. Ties rank by ascending
    doc_id, so the top-k set is fully deterministic. Documents sharing
    no term with a query are absent (score 0 rows are not emitted).

    The df() branch and the scoring branch both descend from the
    posting rows, so when they are derived from `docs` on the fly the
    corpus text is scanned twice. At scale pass `terms` — a persisted
    `doc_term_rows` posting table (the realistic deployment: build the
    postings once through a StageCheckpointer, query it many times);
    df() is partial-aggregated (skew-safe on stopword-frequency terms,
    unlike a count window keyed by term hash).
    """
    dterms = (
        terms
        if terms is not None
        else doc_term_rows(docs, id_col=id_col, text_col=text_col)
    )
    qterms = _term_rows(
        queries.select(
            F.col(qid_col).alias("qid"), raw_tokens(qtext_col).alias("_toks")
        ),
        "qid",
    ).drop("dl").withColumnRenamed("tf", "qtf")
    # document frequency for QUERY terms only: matched rows are one per
    # (doc, term), so count(*) per hash is the df. The broadcast keeps
    # the corpus-side scan shuffle-free up to the candidate rollup.
    matched = dterms.join(
        F.broadcast(qterms.select("h").distinct()), "h", "inner"
    )
    dfq = matched.groupBy("h").agg(F.count("*").alias("df"))
    weights = dfq.select(
        "h", F.expr(f"{int(scale)}L DIV df").alias("w")
    )
    scored = (
        matched.join(F.broadcast(qterms), "h")
        .join(F.broadcast(weights), "h")
        .groupBy("qid", "id")
        .agg(F.sum(F.col("qtf") * F.col("tf") * F.col("w")).alias("score_fp"))
    )
    order = [F.col("score_fp").desc(), F.col("id").asc()]
    pre = Window.partitionBy(
        "qid", F.pmod(F.xxhash64("id"), F.lit(salt))
    ).orderBy(*order)
    survivors = (
        scored.withColumn("_r", F.row_number().over(pre))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )
    final = Window.partitionBy("qid").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("doc_id"),
            "score_fp",
            "rank",
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    salt: int = 16,
    terms: DataFrame | None = None,
) -> DataFrame:
    """Classic Okapi BM25 top-k: (query_id, doc_id, score, rank) with

        score = sum_t qtf * idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
        idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))

    This is the float path — log idf, tf saturation, length
    normalization — for users who want the standard curve. Scores are
    floating-point sums (order- and libm-dependent), so this variant is
    NOT oracle-gated; `lexical_topk` is the deterministic counterpart
    with the identical plan shape. Same scale properties: posting rows
    from the in-row fold (or a persisted `terms` table), queries/df/
    corpus stats broadcast, candidates-only rollup, two-stage salted
    top-k. Ties rank by ascending doc_id."""
    dterms = (
        terms
        if terms is not None
        else doc_term_rows(docs, id_col=id_col, text_col=text_col)
    )
    qterms = _term_rows(
        queries.select(
            F.col(qid_col).alias("qid"), raw_tokens(qtext_col).alias("_toks")
        ),
        "qid",
    ).drop("dl").withColumnRenamed("tf", "qtf")
    # corpus stats as a broadcast 1-row aggregate over the scan; NULL
    # text counts as a zero-length doc in both n_docs and avgdl. Per-doc
    # length rides the posting rows (doc_term_rows carries dl), so no
    # corpus-wide length table ever joins the candidates.
    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(raw_tokens(text_col)))
            .cast("double")
        ).alias("avgdl"),
    )
    matched = dterms.join(
        F.broadcast(qterms.select("h").distinct()), "h", "inner"
    )
    dfq = matched.groupBy("h").agg(F.count("*").cast("double").alias("df"))
    scored = (
        matched.join(F.broadcast(qterms), "h")
        .join(F.broadcast(dfq), "h")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf", F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                          / (F.col("df") + 0.5))
        )
        .withColumn(
            "_s",
            F.col("qtf") * F.col("_idf") * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("qid", "id")
        .agg(F.sum("_s").alias("score"))
    )
    order = [F.col("score").desc(), F.col("id").asc()]
    pre = Window.partitionBy(
        "qid", F.pmod(F.xxhash64("id"), F.lit(salt))
    ).orderBy(*order)
    survivors = (
        scored.withColumn("_r", F.row_number().over(pre))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )
    final = Window.partitionBy("qid").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("doc_id"),
            "score",
            "rank",
        )
    )
