"""Keyword retrieval: inverted-index BM25 scoring and top-k search.

The ANN family (operators/similarity.py) answers "find vectors near
this embedding"; this module answers the complementary lexical
question — "find documents matching these terms" — with the standard
BM25 ranking function over a term-exploded inverted index.  The
reference worker has no retrieval surface at all (it extracts features
per file, reference worker.py:60-74); at 100 TB corpus scale, keyword
lookup over an inverted index is how training-data curation finds
contaminated / targeted documents without a full scan per query.

Exactness discipline (the psi_drift pattern, stats.py): BM25's only
transcendental is the IDF log, and the Lucene-style IDF
``ln((N - df + 0.5) / (df + 0.5) + 1)`` simplifies to
``ln(2N + 2) - ln(2·df + 1)`` — each log of a BARE INTEGER,
floor-scaled to integer micro-nats (int64).  The tf normalization
with k1 = 1.2, b = 0.75 clears denominators with the integer
constants 22/10/3/9::

    tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)
  = 22·tf·TL / (10·tf·TL + 3·TL + 9·dl·N)        (avgdl = TL/N)

so numerator and denominator are exact decimal(38,0) integers
(tf ≤ dl ≤ 1e6, TL ≤ 1e15 at 10^12-doc scale keeps every product
< 1e38).  ONE final double divide + 1e-6 floor per term, summed in
exact int64 micro-units per document — replayable bit-for-bit by any
SQL engine.  k1/b are baked into those integer constants by design;
a float-parameterized BM25 cannot be gated.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_D38 = "decimal(38,0)"


def _lnm(c: F.Column) -> F.Column:
    """floor(ln(int)·1e6) as int64 — integer micro-nats."""
    return F.floor(F.log(c.cast("double")) * 1e6).cast("bigint")


def bm25_topk(
    docs: DataFrame,
    tokens_col: F.Column,
    query_terms: list[str],
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents by BM25 (k1=1.2, b=0.75) against
    ``query_terms`` → ``(doc_id, bm25)``, bm25 floor-truncated to 1e-6,
    ties broken by ascending id.

    Plan: the postings build filters to the |query_terms| term set
    BEFORE aggregating tf (the explode's output is pruned immediately —
    at 10^12 docs the non-matching token stream never reaches an
    exchange), per-doc lengths come from ONE corpus-wide token count
    aggregation (map-side combined), document frequencies from the
    |terms|-row rollup of the pruned postings (broadcast back), and the
    two corpus scalars (N, TL) ride a broadcast cross join.  Per-term
    micro-scores are exact int64; the final top-k is a k-row
    TakeOrdered, never a global sort.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = docs.select(F.col(id_col), F.explode(tokens_col).alias("term"))
    # per-doc length = size(tokens) straight off the array — NOT an
    # explode+groupBy over the full token stream (identical values:
    # explode drops empty/NULL arrays, so filter size > 0; the count
    # of exploded rows per doc IS the array size)
    dls = docs.where(F.size(tokens_col) > 0).select(
        F.col(id_col), F.size(tokens_col).cast("bigint").alias("dl")
    )
    # corpus scalars: N docs, TL total tokens
    scal = dls.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("dl").cast("bigint").alias("__tl"),
    )
    # postings pruned to the query terms BEFORE any shuffle
    post = (
        toks.where(F.col("term").isin(query_terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    j = (
        post.join(dls, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(scal))
    )
    idf_micro = _lnm(F.lit(2) * F.col("__n") + 2) - _lnm(
        F.lit(2) * F.col("df") + 1
    )
    num = (
        F.lit(22).cast(_D38) * F.col("tf").cast(_D38) * F.col("__tl").cast(_D38)
    )
    den = (
        F.lit(10).cast(_D38) * F.col("tf").cast(_D38) * F.col("__tl").cast(_D38)
        + F.lit(3).cast(_D38) * F.col("__tl").cast(_D38)
        + F.lit(9).cast(_D38) * F.col("dl").cast(_D38) * F.col("__n").cast(_D38)
    )
    term_micro = F.floor(
        (idf_micro.cast(_D38) * num).cast("double")
        / den.cast("double")
    ).cast("bigint")
    scored = (
        j.select(F.col(id_col), term_micro.alias("__tm"))
        .groupBy(id_col)
        .agg(F.sum("__tm").alias("__micro"))
    )
    return (
        scored.orderBy(F.col("__micro").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            (F.col("__micro").cast("double") / 1e6).alias("bm25"),
        )
    )


def rrf_fuse(
    ranked: list[tuple[DataFrame, str, str]],
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked candidate lists (the standard
    hybrid-retrieval combiner: Cormack/Clarke/Buettcher SIGIR'09) →
    ``(id, rrf_micro)`` top-``k``:
    ``rrf(id) = Σ_lists 1/(c + rank_list(id))``, ids missing from a
    list contribute nothing.

    ``ranked`` is a list of ``(df, score_col, id_col)`` — each df an
    already-computed TOP-K CANDIDATE LIST (k rows, e.g. ``bm25_topk``
    / ``topk_cosine`` output), never a corpus. Exactness: each list's
    rank comes from ``row_number`` over (score-micros DESC, id ASC) —
    scores produced by this repo's retrieval operators are 1e-6
    floor-truncated, so ``round(score·1e6)`` recovers the exact integer
    micro score and the ordering is engine-portable; the reciprocal is
    the INTEGER quotient ``1e9 DIV (c + rank)`` summed as int64, so the
    fused score never touches a float.

    Plan: inputs are k-row frames, so every window and the final union
    + groupBy are driver-trivial single-partition stages; total cost is
    the upstream retrieval plans themselves. At 100 TB the candidate
    lists are still k rows — fusion cost is independent of corpus size.
    """
    if not ranked:
        raise ValueError("ranked must be non-empty")
    parts = []
    for df, score_col, id_col in ranked:
        w = Window.orderBy(
            F.round(F.col(score_col) * 1e6).cast("bigint").desc(),
            F.col(id_col).asc(),
        )
        parts.append(
            df.select(
                F.col(id_col).alias("id"),
                F.row_number().over(w).alias("__r"),
            ).select(
                "id",
                F.expr(f"1000000000 DIV ({c} + __r)")
                .cast("bigint")
                .alias("__rrf"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("id")
        .agg(F.sum("__rrf").cast("bigint").alias("rrf_micro"))
        .orderBy(F.col("rrf_micro").desc(), F.col("id"))
        .limit(k)
    )


def ndcg_at_k(
    docs: DataFrame,
    tokens_col: F.Column,
    query_terms: list[str],
    ranked: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "bm25",
    k: int = 10,
) -> DataFrame:
    """NDCG@k of a ranked retrieval result against graded term-overlap
    relevance — the ranking-quality eval for this repo's retrieval
    surface (bm25_topk / rrf_fuse): relevance(doc) = number of DISTINCT
    query terms the doc contains (0..|terms| graded relevance, fully
    deterministic — no human labels needed for regression-testing a
    ranker), ``DCG = Σ_i rel_i / log2(i+1)``, IDCG from the corpus-wide
    ideal ordering, NDCG = DCG/IDCG.

    Exactness: ranks are row_number over the ranked list's 1e-6-floored
    micro score (id tie-break, the rrf_fuse discipline); each
    ``rel/log2(i+1)`` term is the INTEGER quotient
    ``rel·1e12 DIV floor(log2(i+1)·1e6)`` — log2 of a BARE INTEGER
    rank, micro-scaled — summed as int64 micro-units; NDCG is one
    integer ``(dcg·1e6) DIV idcg``. Engine-portable end to end.

    Plan: per-doc relevance is a narrow array_intersect projection
    fused into the scan; the ideal top-k is a k-row TakeOrdered on
    (relevance DESC, id) — never a global sort; the ranked list is k
    rows so the rank window and the relevance join are broadcast-
    trivial. Output is ONE row (dcg_micro, idcg_micro, ndcg).
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    rel = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.array_intersect(F.array_distinct(tokens_col), terms)).cast(
            "bigint"
        ).alias("rel"),
    )

    w = Window.orderBy(
        F.round(F.col(score_col) * 1e6).cast("bigint").desc(),
        F.col(id_col).asc(),
    )
    got = (
        ranked.select(
            F.col(id_col).alias("id"), F.row_number().over(w).alias("__r")
        )
        .join(F.broadcast(rel), "id", "left")
        .select(
            F.coalesce(F.col("rel"), F.lit(0)).alias("rel"), F.col("__r")
        )
    )
    ideal = (
        rel.orderBy(F.col("rel").desc(), F.col("id").asc())
        .limit(k)
        .select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.col("rel").desc(), F.col("id").asc()))
            .alias("__r"),
        )
    )

    def _sum_micro(df: DataFrame) -> DataFrame:
        term = F.expr(
            "(rel * 1000000000000) div "
            "cast(floor(log2(cast(__r + 1 as double)) * 1e6) as bigint)"
        ).cast("bigint")
        return df.agg(F.sum(term).cast("bigint").alias("s"))

    dcg = _sum_micro(got).withColumnRenamed("s", "dcg_micro")
    idcg = _sum_micro(ideal).withColumnRenamed("s", "idcg_micro")
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            "dcg_micro",
            "idcg_micro",
            F.when(
                F.col("idcg_micro") > 0,
                F.expr("(dcg_micro * 1000000) div idcg_micro").cast("double")
                / 1e6,
            ).alias("ndcg"),
        )
    )


def precision_recall_at_k(
    docs: DataFrame,
    tokens_col: F.Column,
    query_terms: list[str],
    ranked: DataFrame,
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Precision@k / Recall@k of a retrieval result against binary
    term-overlap relevance (relevant = doc contains ≥1 query term) —
    the set-based eval next to ndcg_at_k's graded one.

    Exactness: hits and the relevant-total are exact counts;
    P@k = hits·1e6 DIV k and R@k = hits·1e6 DIV n_relevant are integer
    quotients (R NULL when the corpus has no relevant docs).

    Plan: relevance is a narrow array_intersect flag fused into the
    scan; n_relevant is ONE map-side-combined count; the ranked list
    is k rows, so the hit join is broadcast-trivial. ONE output row.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    rel_flag = (
        F.size(F.array_intersect(F.array_distinct(tokens_col), terms)) > 0
    )
    rel = docs.select(F.col(id_col).alias("id"), rel_flag.alias("__rel"))
    n_rel = rel.agg(
        F.sum(F.col("__rel").cast("bigint")).cast("bigint").alias(
            "n_relevant"
        )
    )
    hits = (
        ranked.select(F.col(id_col).alias("id"))
        .limit(k)
        .join(rel, "id", "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_retrieved"),
            F.sum(F.coalesce(F.col("__rel").cast("bigint"), F.lit(0)))
            .cast("bigint")
            .alias("hits"),
        )
    )
    return hits.crossJoin(F.broadcast(n_rel)).select(
        "n_retrieved",
        "n_relevant",
        "hits",
        (F.expr(f"(hits * 1000000) div {k}").cast("double") / 1e6).alias(
            "p_at_k"
        ),
        F.when(
            F.col("n_relevant") > 0,
            F.expr("(hits * 1000000) div n_relevant").cast("double") / 1e6,
        ).alias("r_at_k"),
    )


def mrr_at_k(
    docs: DataFrame,
    tokens_col: F.Column,
    queries: dict[str, list[str]],
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Batch Mean-Reciprocal-Rank@k — the third leg of the retrieval
    eval shelf (ndcg_at_k grades the whole list, precision_recall_at_k
    the set; MRR grades WHERE the first right answer lands, the metric
    for known-item / navigational queries). Ranking is OR-based BM25
    (any query term matches); relevance is STRICT — a doc is relevant
    only if it contains ALL the query's terms — so the first-relevant
    rank is non-trivial.

    All queries evaluate in ONE pass: a broadcast (qid, term) table
    joins the postings, every aggregate below carries qid — no
    per-query jobs. Per query: rank = row_number over (bm25 desc, id)
    within the candidate set (docs sharing ≥1 term — postings-bounded,
    never the corpus), ``rr_micro = 10⁶ DIV first_relevant_rank`` (0
    if none in the top k). A final ``__mrr__`` row carries
    ``rr_micro = Σ rr DIV |queries|`` (the macro_f1 summary-row
    convention). BM25 internals reuse the module's exact integer
    discipline (22/10/3/9 constants, micro-nat IDF).
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    for q, ts in queries.items():
        if not ts:
            raise ValueError(f"query {q!r} has no terms")
    spark = docs.sparkSession
    qrows = [
        (qid, t) for qid, ts in sorted(queries.items()) for t in sorted(set(ts))
    ]
    qterms = F.broadcast(
        spark.createDataFrame(qrows, "qid string, term string")
    )
    nterms = F.broadcast(
        qterms.groupBy("qid").agg(
            F.count(F.lit(1)).cast("bigint").alias("__nt")
        )
    )
    toks = docs.select(F.col(id_col), F.explode(tokens_col).alias("term"))
    # per-doc length from size(tokens) — see bm25_topk (no full-stream
    # explode+groupBy; identical values)
    dls = docs.where(F.size(tokens_col) > 0).select(
        F.col(id_col), F.size(tokens_col).cast("bigint").alias("dl")
    )
    scal = dls.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("dl").cast("bigint").alias("__tl"),
    )
    # postings pruned to the union of query terms BEFORE any shuffle
    post = (
        toks.join(qterms, "term")
        .groupBy("qid", id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = post.groupBy("qid", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    j = (
        post.join(dls, id_col)
        .join(F.broadcast(dfreq), ["qid", "term"])
        .crossJoin(F.broadcast(scal))
    )
    idf_micro = _lnm(F.lit(2) * F.col("__n") + 2) - _lnm(
        F.lit(2) * F.col("df") + 1
    )
    num = (
        F.lit(22).cast(_D38) * F.col("tf").cast(_D38) * F.col("__tl").cast(_D38)
    )
    den = (
        F.lit(10).cast(_D38) * F.col("tf").cast(_D38) * F.col("__tl").cast(_D38)
        + F.lit(3).cast(_D38) * F.col("__tl").cast(_D38)
        + F.lit(9).cast(_D38) * F.col("dl").cast(_D38) * F.col("__n").cast(_D38)
    )
    term_micro = F.floor(
        (idf_micro.cast(_D38) * num).cast("double") / den.cast("double")
    ).cast("bigint")
    scored = (
        j.select(
            "qid",
            F.col(id_col),
            term_micro.alias("__tm"),
            F.lit(1).cast("bigint").alias("__one"),
        )
        .groupBy("qid", id_col)
        .agg(
            F.sum("__tm").alias("__micro"),
            F.sum("__one").cast("bigint").alias("__matched"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("__micro").desc(), F.col(id_col)
    )
    ranked = scored.join(nterms, "qid").select(
        "qid",
        F.row_number().over(w).cast("bigint").alias("__rank"),
        (F.col("__matched") == F.col("__nt")).alias("__rel"),
    )
    per_q = (
        ranked.where((F.col("__rank") <= k) & F.col("__rel"))
        .groupBy("qid")
        .agg(F.min("__rank").alias("first_rel_rank"))
    )
    # left join back to the query spine so empty queries surface as 0
    spine = nterms.select("qid")
    perq = spine.join(per_q, "qid", "left").select(
        "qid",
        "first_rel_rank",
        F.when(
            F.col("first_rel_rank").isNotNull(),
            F.expr("1000000 DIV first_rel_rank"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("rr_micro"),
    )
    mean = perq.agg(
        F.lit("__mrr__").alias("qid"),
        F.lit(None).cast("bigint").alias("first_rel_rank"),
        F.expr("sum(rr_micro) DIV count(1)")
        .cast("bigint")
        .alias("rr_micro"),
    )
    return perq.unionByName(mean)
