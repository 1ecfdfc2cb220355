"""Text analysis: language-ID, quality scoring, token stats, fingerprint.

All JVM-side column expressions (no UDFs) — these run per-document in
whole-stage codegen, the cheapest possible path at corpus scale. The
normalization conventions (lower + whitespace split) match the dedup
operators so downstream joins compose.

Reference precedents: hash utility base_util.py:205-206 (fingerprint),
config-driven normalization data_handling.py:62-69 (score weights).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# tiny embedded stopword lists: deterministic, oracle-replicable
EN_STOP = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"]
NL_STOP = ["de", "het", "een", "van", "en", "dat", "die", "te", "met", "voor"]


def _tokens(text_col: str = "text") -> F.Column:
    return F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")


def _stop_ratio(tokens: F.Column, stops: list[str]) -> F.Column:
    stop_arr = F.array(*[F.lit(s) for s in stops])
    hits = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
    return F.when(F.size(tokens) > 0, hits / F.size(tokens)).otherwise(F.lit(0.0))


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram-free heuristic language ID: stopword-hit ratio per
    language list; argmax with 0.02 floor else 'unknown'.

    Tokens are materialized into a column first so project-collapse
    cannot re-inline the regex split per reference (see dedup.py)."""
    docs = docs.select(F.col(id_col), _tokens(text_col).alias("__toks"))
    t = F.col("__toks")
    en = _stop_ratio(t, EN_STOP)
    nl = _stop_ratio(t, NL_STOP)
    pred = (
        F.when((en >= nl) & (en > 0.02), F.lit("en"))
        .when((nl > en) & (nl > 0.02), F.lit("nl"))
        .otherwise(F.lit("unknown"))
    )
    return docs.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        (F.floor(en * 1e6) / 1e6).alias("en_ratio"),
        (F.floor(nl * 1e6) / 1e6).alias("nl_ratio"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality features + scalar score in [0,1]:
    length band, mean token length band, stopword presence."""
    docs = docs.select(
        F.col(id_col), F.length(F.col(text_col)).alias("__nch"),
        _tokens(text_col).alias("__toks"),
    )
    t = F.col("__toks")
    n_tok = F.size(t)
    n_chars = F.col("__nch")
    avg_tok = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    stop = _stop_ratio(t, EN_STOP)
    score = (
        F.when((n_tok >= 5) & (n_tok <= 5000), 0.4).otherwise(0.0)
        + F.when((avg_tok >= 2.0) & (avg_tok <= 12.0), 0.3).otherwise(0.0)
        + F.when(stop > 0.02, 0.3).otherwise(0.0)
    )
    return docs.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        (F.floor(avg_tok * 1e6) / 1e6).alias("avg_token_len"),
        (F.floor(stop * 1e6) / 1e6).alias("stop_ratio"),
        (F.floor(score * 1e6) / 1e6).alias("quality"),
    )


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    regex token count (letter runs / digit runs / single punctuation)."""
    docs = docs.select(
        F.col(id_col),
        _tokens(text_col).alias("__toks"),
        F.regexp_count(
            F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
        ).alias("__bpe"),
    )
    t = F.col("__toks")
    bpe = F.col("__bpe")
    return docs.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        bpe.alias("n_bpeish"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical document fingerprint: md5 of lower + whitespace-collapsed
    + trimmed text (A25 hash precedent, base_util.py:205-206)."""
    canon = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return docs.select(
        F.col(id_col),
        F.md5(canon).alias("fingerprint"),
        F.length(canon).alias("canon_len"),
    )


def vocab_topk(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary: global term frequencies, top-k by (count desc,
    term asc). One explode + one groupBy — the count aggregate is
    map-side partially combined, so the shuffle carries per-partition
    (term, partial_count) rows, not the token stream; top-k is a
    TakeOrdered, never a full sort of the vocabulary. The
    tokenizer (lower + \\s+ split, empties dropped) matches every other
    text operator so oracles tokenize identically."""
    toks = docs.select(F.explode(_tokens(text_col)).alias("term")).where(
        F.col("term") != ""
    )
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.col("term"))
        .limit(k)
    )


#: scrub patterns — the usual pre-training hygiene trio. Order matters:
#: emails before bare domains would matter if we scrubbed domains; URLs
#: are matched with explicit schemes so email hosts survive.
SCRUB_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "digits16": r"\b\d{16}\b",  # card-number-shaped runs
}


def scrub_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    replacement: str = "<scrubbed>",
) -> DataFrame:
    """PII-style scrubbing: replace emails / URLs / 16-digit runs with a
    token; emit per-pattern match counts + the cleaned text's length.
    Pure `regexp_replace` / `regexp_count` codegen — no UDFs; at corpus
    scale this is a narrow map over the scan."""
    clean = F.col(text_col)
    counts = []
    for name, pat in SCRUB_PATTERNS.items():
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("int").alias(
                f"n_{name}"
            )
        )
        clean = F.regexp_replace(clean, pat, replacement)
    return docs.select(
        F.col(id_col),
        *counts,
        F.length(clean).alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


def repetition_stats(
    docs: DataFrame,
    k: int = 3,
    dup_gram_max: float = 0.3,
    top_token_max: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition filters: duplicate k-gram fraction and
    top-token mass per document — the classic signals for boilerplate /
    degenerate repetition in pre-training corpora (Rae et al. 2021 §A1
    repetition heuristics, public paper).

    All pure array expressions over the shared tokenizer — narrow over
    the scan, NO shuffle, no UDF. ``top_token_frac`` costs
    O(n_tokens × n_distinct) per document (array scan per distinct
    token); bounded and embarrassingly parallel for web-doc token
    counts — swap to an explode + two-level agg if documents exceed
    ~10^4 tokens. Fractions floor-truncated to 1e-6 (cross-engine
    float discipline)."""
    toks = _tokens(text_col)
    d = docs.select(F.col(id_col), toks.alias("__t"))
    d = d.select(
        id_col,
        "__t",
        F.size("__t").alias("__n"),
        _ngrams(F.col("__t"), k).alias("__g"),
    )
    n = F.col("__n")
    g = F.col("__g")
    ng = F.size(g)
    dup_gram = F.when(
        ng > 0, (ng - F.size(F.array_distinct(g))) / ng
    ).otherwise(F.lit(0.0))
    top_cnt = F.when(
        n > 0,
        F.array_max(
            F.transform(
                F.array_distinct(F.col("__t")),
                lambda t: F.size(F.filter(F.col("__t"), lambda x: x == t)),
            )
        ),
    ).otherwise(F.lit(0))
    top_frac = F.when(n > 0, top_cnt / n).otherwise(F.lit(0.0))
    t6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    out = d.select(
        id_col,
        n.alias("n_tokens"),
        t6(dup_gram).alias("dup_gram_frac"),
        t6(top_frac).alias("top_token_frac"),
    )
    return out.withColumn(
        "repetitive",
        (F.col("dup_gram_frac") > dup_gram_max)
        | (F.col("top_token_frac") > top_token_max),
    )


def _ngrams(a: F.Column, k: int) -> F.Column:
    """Word k-grams from a materialized token-array column (slice +
    array_join — the array is referenced once per gram; inlining the
    split here would re-evaluate it per gram, see operators/dedup.py)."""
    n = F.size(a)
    idx = F.sequence(F.lit(0), n - k)
    gram = lambda i: F.array_join(F.slice(a, i + 1, k), " ")  # noqa: E731
    return F.when(n >= k, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def tfidf_top_terms(
    docs: DataFrame,
    top_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-N characteristic terms per document by tf-idf — the classic
    corpus-scale term weighting (public formulation: tf = in-doc count,
    idf = ln(N / df), smooth-free so any engine replays it).

    Plan: ONE explode of the token stream feeds both sides — per-(doc,
    term) counts and per-term document frequencies — each a map-side-
    combined groupBy on uniform keys (term skew is bounded by the
    stop-term df itself: a term in every doc has idf 0 and never
    ranks). The df table joins back on term (uniform-key shuffle;
    broadcastable when the vocabulary fits), then one per-doc window
    takes the top N. Ties break lexicographically for determinism.
    Scores floor-truncated to 1e-6; ln is correctly rounded on both
    engines for these argument ranges (integer ratios)."""
    toks = docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = (
        toks.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.select(id_col).distinct().count()
    scored = tf.join(df_t, "term").select(
        id_col,
        "term",
        (
            F.floor(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6
            )
            / 1e6
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(id_col, "rank", "term", "tfidf")
    )


def unigram_logprob_score(
    docs: DataFrame,
    vocab_k: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-LM quality score: per-document mean negative log
    probability under the corpus's own unigram model — the classic
    cheap perplexity proxy for pre-training quality filtering (gibberish
    and boilerplate score high, typical prose scores low).

    Model: p(term) = n_term / N over the whole corpus; only the top-K
    vocabulary is retained (count desc, term asc tie-break), everything
    else scores the OOV penalty ln(2N) (a "half count"). Each term's
    -ln p = ln(N / n_term) is a function of two INTEGERS — correctly
    rounded on any libm — and is floor-quantized to integer MICRO-NATS
    at the term level, so all downstream aggregation is exact 64-bit
    integer arithmetic: no float-sum ordering anywhere, and a SQL
    oracle reproduces the result bit for bit.

    Plan shape at 100 TB: one explode feeds a map-side-combined count
    rollup (the shuffle carries (term, partial) pairs, never the token
    stream); N is ONE scalar; the top-K vocab is broadcast; the doc
    score is a second map-side-combined integer aggregation keyed by
    doc. Two shuffles total, both on uniform keys, zero sorts beyond
    the K-sized TakeOrdered. Docs with no tokens are excluded (a mean
    over zero tokens is undefined).

    Returns (id, n_toks, oov_toks, nll_micro_sum, nll_mean) where
    nll_mean = (nll_micro_sum div n_toks) / 1e6.
    """
    toks = docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
    return _lm_score(toks, id_col, vocab_k)


def bigram_logprob_score(
    docs: DataFrame,
    vocab_k: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus bigram-LM quality score: the context-sensitive sibling of
    ``unigram_logprob_score`` — per-document mean -ln p(bigram) under
    the corpus's own top-K *word-pair* model. Catches the failure mode
    a unigram model is blind to: text whose individual words are all
    common but whose word ORDER is scrambled (template spam, keyword
    stuffing, shuffled n-gram spinners) scores high here while scoring
    low on the unigram model.

    Identical quantization/aggregation contract as the unigram scorer
    (integer micro-nats end to end, exact 64-bit aggregation, SQL
    oracle replays it bit for bit); identical two-shuffle plan shape —
    the explode emits one bigram per adjacent token pair (the token
    array is materialized once per doc before slicing, see _ngrams).
    Docs with fewer than 2 tokens have no bigrams and are excluded.
    """
    arr = docs.select(F.col(id_col), _tokens(text_col).alias("__toks"))
    toks = arr.select(
        F.col(id_col), F.explode(_ngrams(F.col("__toks"), 2)).alias("term")
    )
    return _lm_score(toks, id_col, vocab_k)


def _lm_score(toks: DataFrame, id_col: str, vocab_k: int) -> DataFrame:
    """Shared top-K corpus-LM scorer over a (id, term) stream — see
    ``unigram_logprob_score`` for the exactness and plan contract.

    The corpus-total N rides along as a LAZY broadcast scalar (the
    psi_drift/time_travel precedent) instead of an eager ``collect``:
    one plan, no mid-plan driver barrier.  ``tot`` is broadcast twice
    (under ``vocab`` and under ``scored``) and ``counts``/``tot`` are
    not persisted, so the counts exchange runs once only because
    Spark's ``ReusedExchange`` matches the two identical broadcast
    subtrees; if they diverge (e.g. a hint added to one), the reuse
    breaks and the counts are computed twice.  N < 2^53 keeps every
    cast-to-double exact, so ln(N/n) and ln(2N) are bit-identical to the
    former Python-literal form."""
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("__N"))  # 1 row, stays lazy
    vocab = (
        counts.orderBy(F.desc("n"), F.col("term"))
        .limit(vocab_k)
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            F.floor(F.log(F.col("__N").cast("double") / F.col("n")) * 1e6)
            .cast("bigint")
            .alias("lp_micro"),
        )
    )
    oov_micro = F.floor(
        F.log((F.col("__N") * F.lit(2)).cast("double")) * 1e6
    ).cast("bigint")
    scored = (
        toks.join(F.broadcast(vocab), on="term", how="left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            F.coalesce(F.col("lp_micro"), oov_micro).alias("lp"),
            F.col("lp_micro").isNull().cast("bigint").alias("oov"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum("oov").alias("oov_toks"),
        F.sum("lp").alias("nll_micro_sum"),
    )
    return agg.select(
        id_col,
        "n_toks",
        "oov_toks",
        "nll_micro_sum",
        (
            F.expr("nll_micro_sum div n_toks").cast("double") / 1e6
        ).alias("nll_mean"),
    )


def ngram_topk(
    docs: DataFrame,
    n: int = 2,
    k: int = 100,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus n-gram frequencies, top-k by (count desc, gram asc) — the
    bigram/trigram sibling of ``vocab_topk`` (collocation mining,
    boilerplate detection, n-gram LM priors).

    Grams are built by sliding an ``n``-token window over the shared
    whitespace tokenizer's output: documents shorter than ``n`` tokens
    contribute nothing; a doc with T tokens contributes T - n + 1
    grams. All array math is whole-stage codegen (``transform`` over an
    int ``sequence`` + ``slice``); the count aggregate is map-side
    partially combined so the shuffle carries (gram, partial_count)
    rows, not the gram stream, and top-k is a TakeOrdered, never a full
    sort of the gram vocabulary.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toked = docs.select(_tokens(text_col).alias("__toks"))
    # sequence() with start > stop generates a DESCENDING range, so an
    # explicit short-doc guard (not sequence bounds) produces the empty
    grams = toked.select(
        F.explode(
            F.when(
                F.size("__toks") >= n,
                F.expr(
                    f"transform(sequence(1, size(__toks) - {n} + 1), "
                    f"i -> array_join(slice(__toks, i, {n}), ' '))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.col("gram"))
        .limit(k)
    )


def pmi_topk(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations by pointwise mutual information: PMI(a,b) =
    ln( p(ab) / (p(a)·p(b)) ) over the corpus's adjacent word pairs —
    the association measure behind phrase mining ("new york" scores
    high, "of the" scores ~0) that raw bigram counts (ngram_topk) are
    blind to. ``min_count`` suppresses the classic PMI pathology
    (singleton pairs of rare words score highest).

    Exactness: PMI = ln( (c_ab·N1²) / (N2·c_a·c_b) ) — both products
    accumulate as decimal(38,0) from exact counts (≤10^36 at 10^12
    tokens: in-bounds), the quotient is ONE double divide of two
    correctly-rounded casts, and the ln of that ratio is quantized to
    integer MICRO-NATS (the _lm_score contract), so aggregation order
    can never move a bit and a SQL oracle replays it exactly.

    Plan: the token stream explodes ONCE per shape (unigrams, bigrams),
    each into a map-side-combined count; the bigram table joins the
    unigram table twice on the uniform word key (broadcastable when
    the vocab fits — at web scale both sides shuffle on term, no
    skew: a stop-word-heavy pair has PMI ≤ 0 and min_count keeps the
    join uniform); top-k is a TakeOrdered, never a vocab-wide sort.
    """
    from dane_visual_feature_extraction_worker_spark.functions.cacheutil import (
        scoped_persist,
    )

    arr = docs.select(_tokens(text_col).alias("__toks"))
    # both vocab frames feed a scalar total AND the scoring join — pin
    # them (vocab-sized) or each reference re-scans/re-explodes the
    # corpus as its own job (the pagerank_fixed/Lloyd lesson)
    uni = scoped_persist(
        arr.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c")),
        "textstats.pmi_uni",
    )
    bi = scoped_persist(
        arr.select(F.explode(_ngrams(F.col("__toks"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= min_count),
        "textstats.pmi_bi",
    )
    # both totals ride along as LAZY broadcast scalars over the pinned
    # vocab-sized frames (the psi_drift/time_travel precedent): no
    # mid-plan driver barrier, one job instead of three.  n2 is the
    # post-filter bigram mass: the model the cutoff actually keeps.
    tot = (
        uni.agg(F.sum("c").cast("bigint").alias("__n1"))
        .crossJoin(bi.agg(F.sum("c_ab").cast("bigint").alias("__n2")))
    )
    parts = F.split(F.col("gram"), " ")
    pairs = bi.select(
        parts.getItem(0).alias("w1"),
        parts.getItem(1).alias("w2"),
        "c_ab",
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    d38 = "decimal(38,0)"
    num = (
        F.col("c_ab").cast(d38) * F.col("__n1").cast(d38) * F.col("__n1").cast(d38)
    ).cast("double")
    den = (
        F.col("__n2").cast(d38) * F.col("c_a").cast(d38) * F.col("c_b").cast(d38)
    ).cast("double")
    scored = (
        pairs.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("n_ab"),
            F.floor(F.log(num / den) * 1e6).cast("bigint").alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_micro"), F.col("w1"), F.col("w2")
    ).limit(k)


def oov_rate(
    docs: DataFrame,
    vocab_k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-k
    vocabulary — the tokenizer-coverage diagnostic run before any
    training job (a corpus whose docs average 30% OOV against the
    tokenizer's vocab wastes context on <unk>/byte-fallback): emits
    ``(doc_id, n_tokens, n_oov, oov_rate)`` for non-empty docs.

    Plan: the vocabulary (vocab_topk — count desc, term asc, top-k) is
    |k| rows and BROADCASTS into the membership probe: one explode +
    broadcast left join + per-doc count aggregate. The corpus token
    stream shuffles ONCE (the doc_id rollup, map-side combined to one
    row per (partition, doc)); the vocab build's own shuffle carries
    (term, partial_count) rows only. oov_rate floor-truncates at 1e-6
    (the shared cross-engine float rule).
    """
    vocab = vocab_topk(docs, k=vocab_k, text_col=text_col).select(
        "term", F.lit(True).alias("__in_vocab")
    )
    toks = docs.select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("term")
    ).where(F.col("term") != "")
    probed = toks.join(F.broadcast(vocab), "term", "left")
    return probed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(
            F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_oov"),
        (
            F.floor(
                F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1))
                * 1e6
            )
            / 1e6
        ).alias("oov_rate"),
    )


def stopword_discovery(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_share: float = 0.4,
) -> DataFrame:
    """Corpus-driven stopword candidates: terms appearing in at least
    ``min_share`` of documents → ``(term, df, share)`` — how the
    lang_id stopword lists get built for a NEW language/domain instead
    of imported.  share is floor-truncated 1e-6 from two exact int64
    counts (df <= N <= 1e12 keeps both exact in the one double divide).

    Plan: explode → per-doc DISTINCT terms (map-side combined — the
    shuffle carries (doc, term) pairs once each, not the token
    stream), term rollup, N as a lazy broadcast scalar, threshold on
    the exact integer product df * 10^6 >= min_share_micro * N so the
    filter itself never touches a float.
    """
    pairs = (
        docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
        .distinct()
    )
    n = docs.select(id_col).distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    dfreq = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    micro = int(min_share * 1_000_000)
    out = dfreq.crossJoin(F.broadcast(n)).where(
        F.col("df") * 1_000_000 >= F.lit(micro) * F.col("__n")
    )
    share = F.floor(
        F.col("df").cast("double") / F.col("__n").cast("double") * 1e6
    ) / 1e6
    return out.select("term", "df", share.alias("share"))


def dataset_card(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source dataset card → ``(source, n_docs, n_tokens, n_langs,
    n_exact_dups, dup_ratio, mean_chars)``: the one-row-per-source
    summary a curation run publishes next to the shards (HF dataset
    cards, Dolma source manifests).

    Two map-side-combined passes joined on the |sources|-row key:
    the direct rollup (counts, token totals via one size(), exact
    distinct langs — bounded domain), and the exact-dup count from a
    (source, md5(text)) rollup — n_exact_dups = rows minus distinct
    fingerprints, the dedup_exact accounting.  dup_ratio and
    mean_chars are floor-1e-6 single divides of exact int64 operands.
    """
    base = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(_tokens(text_col))).cast("bigint").alias("n_tokens"),
        F.count_distinct(F.col(lang_col)).cast("bigint").alias("n_langs"),
        F.sum(F.length(text_col)).cast("bigint").alias("__chars"),
    )
    fps = (
        docs.select(F.col(source_col), F.md5(F.col(text_col)).alias("__fp"))
        .groupBy(source_col, "__fp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        .groupBy(source_col)
        .agg(
            F.sum("__c").cast("bigint").alias("__rows"),
            F.count(F.lit(1)).cast("bigint").alias("__uniq"),
        )
        .select(
            source_col,
            (F.col("__rows") - F.col("__uniq")).alias("n_exact_dups"),
        )
    )
    j = base.join(fps, source_col)
    r6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return j.select(
        source_col,
        "n_docs",
        "n_tokens",
        "n_langs",
        "n_exact_dups",
        r6(
            F.col("n_exact_dups").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_ratio"),
        r6(
            F.col("__chars").cast("double") / F.col("n_docs").cast("double")
        ).alias("mean_chars"),
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's DISTINCT
    3-token shingles that appear in NO other document — the "how much
    of this text is new to the corpus" quality signal (boilerplate and
    template spam score near 0; original prose near 1). The per-doc
    twin of stopword_discovery's corpus view.

    Exactness: novelty = novel·1e6 DIV n_shingles (integer quotient);
    docs with < 3 tokens have no shingles and are ABSENT from the
    report ("no evidence" is not "all boilerplate") — left-join at the
    call site to flag them explicitly.

    Plan: the standard inverted-index shape — distinct (doc, shingle)
    reduction (one exchange), shingle document-frequency rollup
    (second exchange on the shingle key, uniform by construction),
    then the df=1 flag folds back along the SAME shingle partitioning
    and rolls up to |docs| rows. The raw token stream never shuffles.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    sh = (
        docs.select(F.col(id_col), toks.alias("__t"))
        .where(F.size("__t") >= 3)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.size("__t") - F.lit(3)
                    ),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("__t"), i + 1),
                        F.element_at(F.col("__t"), i + 2),
                        F.element_at(F.col("__t"), i + 3),
                    ),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("__df")
    )
    per = (
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("__df") == 1).cast("bigint"))
            .cast("bigint")
            .alias("novel"),
        )
    )
    return per.select(
        id_col,
        "n_shingles",
        "novel",
        (
            F.expr("(novel * 1000000) div n_shingles").cast("double") / 1e6
        ).alias("novelty"),
    )


def zipf_slope(
    docs: DataFrame,
    k: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) on ln(rank) for the top-k terms — the classic
    naturalness check on a text corpus (synthetic / boilerplate-heavy
    corpora bend away from slope ≈ -1).

    One row out: ``(n_terms, slope, intercept_ln)``.

    Determinism: ranks and counts are exact integers; ln values are
    micro-floored to int64 BEFORE the moment sums, so Σx, Σy, Σxy,
    Σx² are exact int64 in any aggregation order (products stay
    < 2^63 for any corpus: x ≤ ln(k)·1e6, y ≤ ln(n_tokens)·1e6); the
    closing slope/intercept formulas run on the exact sums as
    doubles, identically on every engine.

    Plan: reuses ``vocab_topk`` (ONE explode + map-side-combined
    groupBy + TakeOrdered top-k — never a vocabulary sort); the
    row_number rank and moment sums run over the k-row result
    (KB-sized, documented single-partition frame).
    """
    top = vocab_topk(docs, k=k, text_col=text_col)
    w = Window.orderBy(F.desc("n"), F.col("term"))
    ranked = top.select(
        "n", F.row_number().over(w).alias("rank")
    )
    x = F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e6)).cast(
        "bigint"
    )
    y = F.floor(F.log(F.col("n").cast("double")) * F.lit(1e6)).cast(
        "bigint"
    )
    s = ranked.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nt"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("nt") * d("sxy") - d("sx") * d("sy")
    den = d("nt") * d("sxx") - d("sx") * d("sx")
    slope = num / den
    intercept = (d("sy") - slope * d("sx")) / d("nt") / F.lit(1e6)
    return s.select(
        F.col("nt").alias("n_terms"),
        (F.floor(slope * F.lit(1e6)) / F.lit(1e6)).alias("slope"),
        (F.floor(intercept * F.lit(1e6)) / F.lit(1e6)).alias(
            "intercept_ln"
        ),
    )


def vocab_growth(
    docs: DataFrame,
    n_buckets: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct terms
    vs cumulative documents at ``n_buckets`` checkpoints along the
    ``id_col`` axis — the diagnostic for "is the corpus still adding
    vocabulary or repeating itself" (flat tail → heavy duplication or
    template text).

    Buckets are fixed-width id ranges (``id DIV w`` with
    ``w = max(id) DIV n_buckets + 1`` from a lazy broadcast scalar —
    the psi_drift pattern, no driver round-trip). A term is NEW in
    the bucket of its minimum id — so cumulative vocab at bucket b is
    exact regardless of how ids distribute.

    Plan: one docs-spine groupBy (bucket counts) + ONE token explode
    into a map-side-combined min-bucket-per-term aggregate (the only
    vocabulary-sized exchange) + a tiny first-bucket rollup; running
    sums run over the ≤ n_buckets+1-row frame (documented
    single-partition).
    """
    cut = docs.agg(
        F.expr(f"max({id_col}) DIV {int(n_buckets)} + 1").alias("__w")
    )
    d = docs.crossJoin(F.broadcast(cut))
    # integer DIV, never floor(a/b): a 53-bit double quotient can
    # round up across a bucket boundary
    bucket = F.expr(f"{id_col} DIV __w")
    spine = d.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    toks = d.select(
        bucket.alias("bucket"),
        F.explode(_tokens(text_col)).alias("term"),
    ).where(F.col("term") != "")
    first = toks.groupBy("term").agg(F.min("bucket").alias("fb"))
    newt = first.groupBy("fb").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_terms")
    )
    j = spine.join(newt, spine.bucket == newt.fb, "left").select(
        "bucket",
        "n_docs",
        F.coalesce("new_terms", F.lit(0)).cast("bigint").alias(
            "new_terms"
        ),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "bucket",
        "n_docs",
        "new_terms",
        F.sum("n_docs").over(w).cast("bigint").alias("docs_cum"),
        F.sum("new_terms").over(w).cast("bigint").alias("vocab_cum"),
    )


def ngram_diversity(
    docs: DataFrame,
    ns: tuple[int, ...] = (1, 2, 3),
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Distinct-n diversity per group (Li et al. 2016, "A
    Diversity-Promoting Objective Function for Neural Conversation
    Models"): for each n, the ratio of DISTINCT n-grams to total
    n-grams — the standard mode-collapse detector for generated text
    (a synthetic source whose distinct-2 craters below its peers is
    emitting repetitions). Complements ``ngram_novelty`` (per-doc
    uniqueness vs the corpus) with the per-source diversity view.

    Output: one row per (group, n): ``(grp, n, total_ngrams,
    distinct_ngrams, distinct_micro)`` with the ratio as an exact
    integer-micro DIV.

    Plan: tokenize once per doc (the repo-wide lower + \\s+ split so
    oracles tokenize identically); n-grams are built INSIDE the token
    array (JVM ``transform``/``slice`` — no window over the corpus,
    no per-row Python), tagged and unioned, then ONE
    map-side-combined (grp, n, gram) groupBy — the only corpus
    exchange, on uniform keys — and a KB-sized rollup to |grp|·|ns|
    rows.
    """
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"ns must be positive ints: {ns}")
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    base = docs.select(F.col(group_col).alias("grp"), toks.alias("__t"))
    parts = []
    for n in ns:
        if n == 1:
            grams = F.col("__t")
        else:
            grams = F.when(
                F.size("__t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - (n - 1)),
                    lambda i: F.array_join(
                        F.slice(F.col("__t"), i, n), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        parts.append(
            base.select(
                "grp",
                F.lit(n).alias("n"),
                F.explode(grams).alias("gram"),
            )
        )
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    per_gram = tagged.groupBy("grp", "n", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    return (
        per_gram.groupBy("grp", "n")
        .agg(
            F.sum("__c").cast("bigint").alias("total_ngrams"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_ngrams"),
        )
        .select(
            "grp",
            "n",
            "total_ngrams",
            "distinct_ngrams",
            F.expr(
                "distinct_ngrams * 1000000 DIV total_ngrams"
            ).cast("bigint").alias("distinct_micro"),
        )
    )


def char_entropy(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source character-level Shannon entropy — the garbage
    detector: natural-language text sits near ~4.1 nats/char of
    alphabet entropy; base64/hex blobs, minified code and encrypted
    payloads jump toward the uniform bound ln(alphabet), while
    single-char padding craters toward 0. The cheap first-pass filter
    before the LM-perplexity pass (which costs a tokenize + model
    join; this is one scan).

    Exactness: the same micro-nat identity as ``behavior_profile`` —
    H = lnm(N) − (Σ c·lnm(c)) DIV N with lnm = floor(ln·1e6) int64 —
    exact, order-independent, engine-replayable. Character counts per
    source accumulate as int64; Σ c·lnm(c) ≤ 3e7·N stays in int64 up
    to ~3·10^11 chars per source×char (document if a single char can
    exceed that).

    Plan: one char explode (the CPU cost — embarrassingly parallel,
    no state), ONE map-side-combined (source, char) groupBy whose
    exchange carries |source|·|alphabet| partials, then a KB-sized
    rollup. Output: ``(grp, n_chars, distinct_chars,
    entropy_micro)``.
    """
    chars = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), ""),
                lambda c: c != "",
            )
        ).alias("ch"),
    )
    counts = chars.groupBy("grp", "ch").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    lnm = lambda c: F.floor(  # noqa: E731 — repo-wide micro-nat ln
        F.log(c.cast("double")) * 1e6
    ).cast("bigint")
    per = counts.groupBy("grp").agg(
        F.sum("__c").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_chars"),
        F.sum(F.col("__c") * lnm(F.col("__c")))
        .cast("bigint")
        .alias("__slc"),
    )
    return per.select(
        "grp",
        "n_chars",
        "distinct_chars",
        (
            lnm(F.col("n_chars"))
            - F.expr("__slc DIV n_chars")
        ).cast("bigint").alias("entropy_micro"),
    )


def readability(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    screen (Flesch 1948): ``206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words)``. Pipelines use it as a coarse quality
    band next to ``quality_score``: negative scores flag run-on
    machine-generated walls of text; > 90 flags trivially short
    fragments.

    Heuristics (identical, replayable regex in both engines): words =
    whitespace tokens; syllables = ``[aeiouy]+`` vowel runs in the
    lowercased text (whitespace breaks runs, so counting over the full
    text equals the per-word sum); sentences = ``[.!?]+`` runs,
    clamped to >= 1 so punctuation-free text divides cleanly.

    Exactness: the three counts are integers; the score is the integer
    identity ``206835000 − 1015·wps_micro DIV 1000 − 84600·spw_micro
    DIV 1000`` over two integer-micro DIVs — no floats, so engines
    agree bit-for-bit. Zero-word docs get NULL. Plan: pure per-row
    codegen projection, zero exchanges.
    """
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    words = F.size(
        F.filter(F.split(low, r"\s+"), lambda t: t != "")
    ).cast("bigint")
    syll = F.size(
        F.regexp_extract_all(low, F.lit(r"([aeiouy]+)"), 1)
    ).cast("bigint")
    sents = F.greatest(
        F.size(F.regexp_extract_all(low, F.lit(r"([.!?]+)"), 1)),
        F.lit(1),
    ).cast("bigint")
    return docs.select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
    ).select(
        "*",
        F.when(
            F.col("n_words") > 0,
            F.lit(206835000).cast("bigint")
            - F.expr(
                "1015 * (n_words * 1000000 DIV n_sentences) DIV 1000"
            )
            - F.expr(
                "84600 * (n_syllables * 1000000 DIV n_words) DIV 1000"
            ),
        )
        .cast("bigint")
        .alias("flesch_micro"),
    )


def charclass_profile(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group character-class composition — the cleanliness report
    that pairs with ``char_entropy``: a source whose punct/other share
    spikes is shipping markup or binary junk; a digit-share spike is
    tables/IDs. Classes are EXPLICIT ASCII ranges (letters, digits,
    space [ \\t\\n\\r], printable-ASCII punctuation, other) — never \\s
    or POSIX classes, whose definitions differ between regex engines.

    Counting is the length-difference trick (len(text) −
    len(regexp_replace(text, class, ''))) — five codegen regex passes
    per row, embarrassingly parallel, ZERO corpus shuffle; one
    map-side-combined rollup to a |groups|-row frame; shares are
    integer-micro DIV.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t).cast("bigint")

    def cnt(pat: str) -> F.Column:
        return (n - F.length(F.regexp_replace(t, pat, ""))).cast("bigint")

    per = docs.select(
        F.col(group_col).alias("grp"),
        n.alias("__n"),
        cnt("[a-zA-Z]").alias("__let"),
        cnt("[0-9]").alias("__dig"),
        cnt("[ \t\n\r]").alias("__sp"),
        cnt("[!-/:-@\\[-`{-~]").alias("__pun"),
    )
    agg = per.groupBy("grp").agg(
        F.sum("__n").cast("bigint").alias("n_chars"),
        F.sum("__let").cast("bigint").alias("__l"),
        F.sum("__dig").cast("bigint").alias("__d"),
        F.sum("__sp").cast("bigint").alias("__s"),
        F.sum("__pun").cast("bigint").alias("__p"),
    )
    share = lambda c: (  # noqa: E731
        F.when(
            F.col("n_chars") > 0,
            F.expr(f"{c} * 1000000 DIV n_chars"),
        )
        .otherwise(0)
        .cast("bigint")
    )
    return agg.select(
        "grp",
        "n_chars",
        share("__l").alias("letter_micro"),
        share("__d").alias("digit_micro"),
        share("__s").alias("space_micro"),
        share("__p").alias("punct_micro"),
        F.when(
            F.col("n_chars") > 0,
            F.expr(
                "(n_chars - __l - __d - __s - __p) * 1000000"
                " DIV n_chars"
            ),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("other_micro"),
    )


def js_unigram_divergence(
    docs: DataFrame,
    group_col: str = "source",
    group_a: str = "src0",
    group_b: str = "src1",
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between two groups' unigram
    distributions — the symmetric, always-finite corpus-comparison
    number (0 = identical vocab usage, ln 2 ≈ 0.693 = disjoint).
    Complements the drift shelf: psi_drift needs a shared category
    binning, ks_drift a numeric axis; JS compares open vocabularies
    directly and handles unshared tokens without smoothing (a token
    absent from one side contributes exactly p_w·ln2 from the other).

    Exactness (the psi_drift discipline): per token,
    ``termP = p_w·[ln(2·p_w·Q) − ln(p_w·Q + q_w·P)]`` — every ln is of
    a bare integer, floor-scaled to micro-nats; the p_w·Δln products
    accumulate exact decimal(38,0); TWO final double divides (one per
    side, fixed order) + 1e-6 floor. JS = (ΣP)/(2P) + (ΣQ)/(2Q) in
    micro-nats.

    Plan: one tokenize+explode pass filtered to the two groups, ONE
    map-side-combined (token) exchange carrying two CASE-counts, two
    broadcast scalar totals, one vocab-row scalar aggregate — the
    corpus never shuffles full rows.
    """
    toks = docs.where(
        F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == group_a).alias("__isa"),
        F.explode(
            F.filter(
                F.split(
                    F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    r"\s+",
                ),
                lambda t: t != "",
            )
        ).alias("__w"),
    )
    counts = toks.groupBy("__w").agg(
        F.sum(F.col("__isa").cast("bigint")).cast("bigint").alias("__p"),
        F.sum((~F.col("__isa")).cast("bigint")).cast("bigint").alias("__q"),
    )
    totals = counts.agg(
        F.sum("__p").cast("bigint").alias("__tp"),
        F.sum("__q").cast("bigint").alias("__tq"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    d38 = "decimal(38,0)"

    def _lnm(c: F.Column) -> F.Column:
        return F.floor(F.log(c.cast("double")) * 1e6).cast("bigint")

    mix = F.col("__p").cast(d38) * F.col("__tq").cast(d38) + F.col(
        "__q"
    ).cast(d38) * F.col("__tp").cast(d38)
    dp = _lnm(
        F.lit(2).cast(d38) * F.col("__p").cast(d38) * F.col("__tq").cast(d38)
    ) - _lnm(mix)
    dq = _lnm(
        F.lit(2).cast(d38) * F.col("__q").cast(d38) * F.col("__tp").cast(d38)
    ) - _lnm(mix)
    scal = j.agg(
        F.sum(
            F.when(
                F.col("__p") > 0, F.col("__p").cast(d38) * dp.cast(d38)
            ).otherwise(F.lit(0).cast(d38))
        ).alias("__sp"),
        F.sum(
            F.when(
                F.col("__q") > 0, F.col("__q").cast(d38) * dq.cast(d38)
            ).otherwise(F.lit(0).cast(d38))
        ).alias("__sq"),
        F.any_value(F.col("__tp")).alias("__tp"),
        F.any_value(F.col("__tq")).alias("__tq"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    js = (
        F.col("__sp").cast("double")
        / (F.col("__tp").cast("double") * F.lit(2e6))
        + F.col("__sq").cast("double")
        / (F.col("__tq").cast("double") * F.lit(2e6))
    )
    return scal.select(
        F.col("__tp").alias("n_tokens_a"),
        F.col("__tq").alias("n_tokens_b"),
        "vocab",
        F.when(
            (F.col("__tp") > 0) & (F.col("__tq") > 0),
            F.floor(js * 1e6) / 1e6,
        ).alias("js"),
    )


def hapax_share(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group hapax-legomena report — the vocabulary-health number
    next to ``vocab_growth`` (Heaps) and ``zipf_slope``: the share of
    a source's vocabulary that occurs exactly once. Natural text sits
    around 40-60% hapax; templated/boilerplate output collapses toward
    0 (every token reused), OCR junk or random IDs push toward 1
    (every token unique). Both tails are curation flags.

    Plan: one map-side-combined (group, token) count exchange (the
    corpus never shuffles full rows), then a vocab-sized rollup to
    |groups| rows; shares are exact integer-micro DIV.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(_tokens(text_col)).alias("__w"),
    )
    counts = toks.groupBy("grp", "__w").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    agg = counts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("__n").cast("bigint").alias("n_tokens"),
        F.sum((F.col("__n") == 1).cast("bigint"))
        .cast("bigint")
        .alias("hapax"),
    )
    return agg.select(
        "grp",
        "n_tokens",
        "vocab",
        "hapax",
        F.expr("hapax * 1000000 DIV vocab").cast("bigint").alias(
            "hapax_vocab_micro"
        ),
        F.expr("hapax * 1000000 DIV n_tokens").cast("bigint").alias(
            "hapax_token_micro"
        ),
    )


def dup_ngram_coverage(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Cross-document duplicate k-gram coverage per group — the
    corpus-level twin of ``repetition_stats`` (which is within-doc,
    Gopher-style). For each group: the share of k-gram OCCURRENCES
    whose gram appears in ≥2 distinct documents of that group. High
    coverage = boilerplate / near-duplicate contamination that
    per-doc repetition filters cannot see.

    Plan: grams are built inside the token array (transform/slice, no
    per-row Python), exploded once; a (group, gram, doc) pre-reduce
    collapses within-doc repeats map-side, then a (group, gram)
    reduce counts occurrences + distinct docs; final |groups|-row
    rollup with exact integer-micro DIV. Two gram-keyed exchanges,
    the corpus text never shuffles.

    Groups whose every doc is shorter than k tokens emit NO row
    (explode drops empty gram arrays) — callers wanting a zero row
    should left-join back to the group spine.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    grams = docs.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("__doc"),
        F.explode(_ngrams(_tokens(text_col), k)).alias("__g"),
    )
    per_doc = grams.groupBy("grp", "__g", "__doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("__occ")
    )
    per_gram = per_doc.groupBy("grp", "__g").agg(
        F.sum("__occ").cast("bigint").alias("__occ"),
        F.count(F.lit(1)).cast("bigint").alias("__docs"),
    )
    agg = per_gram.groupBy("grp").agg(
        F.sum("__occ").cast("bigint").alias("n_gram_occ"),
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(
            F.when(F.col("__docs") >= 2, F.col("__occ")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("dup_occ"),
    )
    return agg.select(
        "grp",
        "n_gram_occ",
        "n_grams",
        "dup_occ",
        F.when(
            F.col("n_gram_occ") > 0,
            F.expr("dup_occ * 1000000 DIV n_gram_occ"),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("dup_occ_micro"),
    )


def tokenizer_fertility(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-language tokenizer-fertility report: chars-per-token and
    tokens-per-doc — the numbers multilingual budget planning runs on
    (a language whose chars/token is 2× another pays 2× the context
    window for the same text; temperature_sample rates are set from
    exactly these tables). Token = whitespace token (the corpus-side
    proxy; a trained tokenizer only shifts the constant).

    Plan: per-row size(split) + length (pure codegen), ONE
    map-side-combined group aggregate — |langs| output rows, zero
    corpus shuffle; ratios exact integer-micro DIV.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    per = docs.select(
        F.col(group_col).alias("grp"),
        F.size(
            F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
        )
        .cast("bigint")
        .alias("__t"),
        F.length(t).cast("bigint").alias("__c"),
    )
    agg = per.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__t").cast("bigint").alias("n_tokens"),
        F.sum("__c").cast("bigint").alias("n_chars"),
    )
    return agg.select(
        "grp",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("n_chars * 1000000 DIV n_tokens"),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("chars_per_token_micro"),
        F.expr("n_tokens * 1000000 DIV n_docs")
        .cast("bigint")
        .alias("tokens_per_doc_micro"),
    )


def token_entropy_rate(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group token-level conditional entropy H(next|prev) — the
    text-structure number next to ``char_entropy`` (symbol mix) and
    ``transition_entropy`` (event chains): natural language sits
    around 2-6 nats; Markov-degenerate generation (every token
    deterministically follows its predecessor) collapses toward 0
    while shuffled-word junk approaches the unigram entropy. Bigrams
    never cross document boundaries.

    Exactness (the transition_entropy discipline): rate =
    (1/N)·Σ_{p,n} c_pn·(ln c_p − ln c_pn) with every ln a micro-nat
    ``floor(ln·1e6)`` of a bare integer; the c·Δln products ride
    decimal(38,0), ONE integer DIV on the nonnegative numerator — no
    doubles anywhere.

    Plan: bigrams built inside the token array (transform/slice),
    one map-side-combined (grp, prev, next) exchange, a (grp, prev)
    rollup, then TWO |groups|-row aggregates joined on grp — the
    Σ c·(lncp − lnc) total regroups exactly as Σ cp·lncp − Σ c·lnc,
    so no vocab²-row pair join is ever materialized.
    """
    pairs = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(_ngrams(_tokens(text_col), 2)).alias("__b"),
        )
        .groupBy("grp", "__b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        .withColumn(
            "__p", F.substring_index(F.col("__b"), " ", 1)
        )
    )
    per_prev = pairs.groupBy("grp", "__p").agg(
        F.sum("__c").cast("bigint").alias("__cp")
    )
    lnm = lambda c: F.floor(  # noqa: E731 — repo-wide micro-nat ln
        F.log(c.cast("double")) * 1e6
    ).cast("bigint")
    d38 = "decimal(38,0)"
    # Exact decomposition — no (grp, prev)-keyed pair join needed:
    #   Σ_{p,n} c·(lncp − lnc) = Σ_p cp·lncp − Σ_{p,n} c·lnc
    # (every term is an integer micro-nat product, so regrouping is
    # bit-identical to the joined form). This removes a shuffle join
    # over the full distinct-bigram frame; what remains is two
    # |groups|-row aggregates and a |groups|-row join.
    pair_agg = pairs.groupBy("grp").agg(
        F.sum("__c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("__c").cast(d38) * lnm(F.col("__c")).cast(d38))
        .cast(d38)
        .alias("__sc"),
    )
    prev_agg = per_prev.groupBy("grp").agg(
        F.sum(F.col("__cp").cast(d38) * lnm(F.col("__cp")).cast(d38))
        .cast(d38)
        .alias("__sp"),
    )
    agg = pair_agg.join(prev_agg, "grp").withColumn(
        "__s", (F.col("__sp") - F.col("__sc")).cast(d38)
    )
    return agg.select(
        "grp",
        "n_bigrams",
        "n_pairs",
        F.expr(
            "CAST(__s DIV CAST(n_bigrams AS decimal(38,0)) AS BIGINT)"
        ).alias("rate_micro_nat"),
    )


def compression_ratio(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-source zlib compression-ratio report — the classic
    low-quality-text detector the heuristic shelf can't replace
    (Gopher / CCNet / RefinedWeb all gate on it): natural prose
    compresses to ~0.3-0.5 of its bytes, boilerplate and repeated
    spans compress far harder (low ratio), encrypted/random junk
    barely compresses (ratio → 1). ``char_entropy`` sees the symbol
    DISTRIBUTION; compression sees REPEATED STRUCTURE at every
    offset — a page of shuffled words fools entropy, not DEFLATE.

    Plan: ``mapInPandas`` over Arrow batches (the engine's documented
    slow-path seam — compression is inherently per-row CPU, but
    zlib-C over a pandas Series beats row-at-a-time Python ~50×),
    emitting per-row (grp, raw_bytes, comp_bytes); ONE
    map-side-combined group aggregate; ratio = exact integer-micro
    DIV of byte totals. Level is pinned (deterministic bytes for a
    given zlib build — fixture-tested, not oracle-gated: SQL engines
    ship no DEFLATE, so this is a rows-only gate by design).
    """
    if not 0 <= level <= 9:
        raise ValueError("level must be in [0, 9]")
    import pandas as pd  # local: executor-side import

    gc, tc = group_col, text_col

    def run(batches):
        import zlib

        for pdf in batches:
            txt = pdf[tc].fillna("")
            enc = txt.map(lambda s: s.encode("utf-8"))
            yield pd.DataFrame(
                {
                    "grp": pdf[gc],
                    "__raw": enc.map(len).astype("int64"),
                    "__comp": enc.map(
                        lambda b: len(zlib.compress(b, level))
                    ).astype("int64"),
                }
            )

    per = docs.select(gc, tc).mapInPandas(
        run, schema="grp string, __raw bigint, __comp bigint"
    )
    agg = per.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__raw").cast("bigint").alias("raw_bytes"),
        F.sum("__comp").cast("bigint").alias("comp_bytes"),
    )
    return agg.select(
        "grp",
        "n_docs",
        "raw_bytes",
        "comp_bytes",
        F.when(
            F.col("raw_bytes") > 0,
            F.expr("comp_bytes * 1000000 DIV raw_bytes"),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("ratio_micro"),
    )


def token_f1_eval(
    pairs: DataFrame,
    id_col: str = "pair_id",
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """SQuAD-style token-level F1 between prediction/gold text pairs —
    the standard extractive-QA / short-answer eval (Rajpurkar et al.
    2016): overlap = MULTISET intersection of the two token bags,
    P = overlap/|pred|, R = overlap/|gold|, F1 = 2·overlap/(|p|+|g|).
    Complements pass_at_k (binary) with a partial-credit text metric.

    Plan: tokens + overlap are pure array expressions fused into the
    scan — per row O(|tokens|·|distinct|) like repetition_stats,
    embarrassingly parallel, ZERO shuffle; every ratio is an exact
    integer-micro DIV. A ``__mean__`` summary row (macro_f1
    convention) rides one scalar aggregate.
    """
    p = F.coalesce(F.col(pred_col), F.lit(""))
    g = F.coalesce(F.col(gold_col), F.lit(""))
    tok = lambda c: F.filter(  # noqa: E731 — the shared tokenizer
        F.split(F.lower(c), r"\s+"), lambda t: t != ""
    )
    d = pairs.select(
        F.col(id_col).alias("pair_id"),
        tok(p).alias("__p"),
        tok(g).alias("__g"),
    )
    cnt_in = lambda arr, t: F.size(  # noqa: E731
        F.filter(arr, lambda x: x == t)
    )
    overlap = F.aggregate(
        F.array_distinct(F.col("__p")),
        F.lit(0),
        lambda acc, t: acc
        + F.least(cnt_in(F.col("__p"), t), cnt_in(F.col("__g"), t)),
    )
    per = d.select(
        "pair_id",
        F.size("__p").cast("bigint").alias("n_pred"),
        F.size("__g").cast("bigint").alias("n_gold"),
        overlap.cast("bigint").alias("overlap"),
    ).select(
        "pair_id",
        "n_pred",
        "n_gold",
        "overlap",
        F.when(
            F.col("n_pred") + F.col("n_gold") > 0,
            F.expr("2 * overlap * 1000000 DIV (n_pred + n_gold)"),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("f1_micro"),
    )
    # the summary row keys on -1, not NULL: a NULL id would coerce the
    # whole column to float on the pandas side of the gate comparator
    mean = per.agg(
        F.lit(-1).cast(per.schema["pair_id"].dataType).alias("pair_id"),
        F.sum("n_pred").cast("bigint").alias("n_pred"),
        F.sum("n_gold").cast("bigint").alias("n_gold"),
        F.sum("overlap").cast("bigint").alias("overlap"),
        F.expr("sum(f1_micro) DIV count(1)")
        .cast("bigint")
        .alias("f1_micro"),
    )
    return per.unionByName(mean)


def cross_perplexity(
    docs: DataFrame,
    group_col: str = "source",
    group_a: str = "src0",
    group_b: str = "src1",
    text_col: str = "text",
) -> DataFrame:
    """Cross-entropy of corpus B under corpus A's add-1-smoothed
    bigram LM — the DOMAIN-SHIFT number the within-corpus scores
    (``unigram_logprob_score`` / ``bigram_logprob_score``) can't give
    and js_unigram_divergence only approximates (JS is symmetric
    bag-of-words; this is directional and sequential). Rising H(B‖A)
    across snapshots = the new data no longer looks like the training
    mix. Reported in micro-nats (PPL = e^H is the caller's one float).

    Exactness: with V_A distinct token types in A,
    ``H = (1/N_B)·Σ_pn c_B(p,n)·[ln(c_A(p)+V_A) − ln(c_A(p,n)+1)]``
    — every ln of a BARE INTEGER (micro-nat floor), products exact
    decimal(38,0), ONE integer DIV on a nonnegative numerator
    (c_A(p,n) ≤ c_A(p) keeps each bracket ≥ 0). Unseen bigrams/
    contexts hit the same identity with c_A = 0.

    Plan: two bigram-frame builds (one tokenize+explode pass each,
    map-side combined), B left-joins A's pair frame and A's context
    frame (vocab²-bounded, AQE co-planned), two broadcast scalars —
    the corpora never shuffle full rows.
    """
    d38 = "decimal(38,0)"
    lnm = lambda c: F.floor(  # noqa: E731 — repo-wide micro-nat ln
        F.log(c.cast("double")) * 1e6
    ).cast("bigint")

    def bigrams(g: str) -> DataFrame:
        return (
            docs.where(F.col(group_col) == g)
            .select(F.explode(_ngrams(_tokens(text_col), 2)).alias("__b"))
            .groupBy("__b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
            .withColumn("__p", F.substring_index(F.col("__b"), " ", 1))
        )
    a = bigrams(group_a)
    b = bigrams(group_b)
    a_ctx = a.groupBy("__p").agg(
        F.sum("__c").cast("bigint").alias("__cp")
    )
    va = (
        docs.where(F.col(group_col) == group_a)
        .select(F.explode(_tokens(text_col)).alias("__t"))
        .agg(F.count_distinct("__t").cast("bigint").alias("__va"))
    )
    j = (
        b.withColumnRenamed("__c", "__cb")
        .join(
            a.select("__b", F.col("__c").alias("__ca")), "__b", "left"
        )
        .join(a_ctx, "__p", "left")
        .crossJoin(F.broadcast(va))
    )
    ca = F.coalesce(F.col("__ca"), F.lit(0))
    cp = F.coalesce(F.col("__cp"), F.lit(0))
    term = F.col("__cb").cast(d38) * (
        lnm(cp + F.col("__va")) - lnm(ca + 1)
    ).cast(d38)
    agg = j.agg(
        F.sum("__cb").cast("bigint").alias("n_bigrams_b"),
        F.any_value(F.col("__va")).alias("vocab_a"),
        F.sum(term).cast(d38).alias("__s"),
    )
    return agg.select(
        "n_bigrams_b",
        "vocab_a",
        F.expr(
            "CAST(__s DIV CAST(n_bigrams_b AS decimal(38,0)) AS BIGINT)"
        ).alias("h_micro_nat"),
    )


def vocab_coverage(
    docs: DataFrame,
    group_col: str = "source",
    group_a: str = "src0",
    group_b: str = "src1",
    k: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Share of corpus B's token OCCURRENCES covered by corpus A's
    top-k vocabulary — the tokenizer/vocab transfer planning number
    next to ``tokenizer_fertility``: ship A's 32k vocab to domain B
    and this is the non-OOV mass it retains (``oov_rate`` audits one
    corpus against a FIXED list; this prices a candidate vocab SIZE
    across corpora).

    Plan: A's top-k is a map-side-combined count + k-row TakeOrdered
    (count desc, term asc — never a vocabulary sort); B's counts
    join it broadcast; exact integer-micro share. One corpus pass
    per side.
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    def counts(g: str) -> DataFrame:
        return (
            docs.where(F.col(group_col) == g)
            .select(F.explode(_tokens(text_col)).alias("__t"))
            .groupBy("__t")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        )
    top_a = (
        counts(group_a)
        .orderBy(F.col("__c").desc(), F.col("__t"))
        .limit(k)
        .select("__t", F.lit(1).alias("__in"))
    )
    b = counts(group_b)
    j = b.join(F.broadcast(top_a), "__t", "left")
    agg = j.agg(
        F.sum("__c").cast("bigint").alias("n_tokens_b"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_b"),
        F.sum(
            F.when(F.col("__in").isNotNull(), F.col("__c")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("covered"),
    )
    return agg.select(
        F.lit(k).cast("bigint").alias("k"),
        "n_tokens_b",
        "vocab_b",
        "covered",
        F.when(
            F.col("n_tokens_b") > 0,
            F.expr("covered * 1000000 DIV n_tokens_b"),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("coverage_micro"),
    )


def ending_profile(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source response-ending profile: terminal-punctuation rate
    (a low rate means max_tokens truncation is leaking into the
    corpus — SFT on truncated responses TEACHES truncation),
    ellipsis-ending rate, and question-ending rate (instruction-data
    mining: question-heavy sources feed prompt pools). All three are
    exact flag counts over the TRIMMED text's tail.

    Plan: three codegen endswith/substring checks per row, ONE
    map-side-combined group aggregate — |groups| rows, zero corpus
    shuffle. Empty/null docs count in n_docs but hit no flag.
    """
    t = F.rtrim(F.coalesce(F.col(text_col), F.lit("")))
    last = F.substring(t, -1, 1)
    terminal = last.isin(".", "!", "?")
    ellipsis = t.endswith("...")
    question = last == "?"
    agg = docs.select(
        F.col(group_col).alias("grp"),
        terminal.cast("bigint").alias("__t"),
        ellipsis.cast("bigint").alias("__e"),
        question.cast("bigint").alias("__q"),
    ).groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__t").cast("bigint").alias("n_terminal"),
        F.sum("__e").cast("bigint").alias("n_ellipsis"),
        F.sum("__q").cast("bigint").alias("n_question"),
    )
    share = lambda c: (  # noqa: E731
        F.expr(f"{c} * 1000000 DIV n_docs").cast("bigint")
    )
    return agg.select(
        "grp",
        "n_docs",
        "n_terminal",
        share("n_terminal").alias("terminal_micro"),
        share("n_ellipsis").alias("ellipsis_micro"),
        share("n_question").alias("question_micro"),
    )


def code_like_rate(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source code-likeness rate — the code-data mining screen
    (code corpora are curated separately from prose; a prose source
    whose code rate spikes is mis-tagged). Three independent signals,
    each cheap and engine-portable:

      braces    — contains both '{' and '}' (plain `contains`)
      semicolon — ≥ 2 ';' occurrences (length-difference count)
      camel     — a lower→Upper transition ([a-z][A-Z] — the RE2-and-
                  Java-identical character-class subset, pii_audit
                  discipline)

    A doc is code_like when ≥ 2 signals fire (majority of 3 — single
    signals false-positive on prose: semicolons in legal text, braces
    in templating).

    Plan: per-row codegen flags, ONE map-side-combined aggregate,
    zero corpus shuffle, integer-micro rates.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    braces = t.contains("{") & t.contains("}")
    semis = (
        F.length(t) - F.length(F.replace(t, F.lit(";"), F.lit("")))
    ) >= 2
    camel = t.rlike("[a-z][A-Z]")
    score = (
        braces.cast("int") + semis.cast("int") + camel.cast("int")
    )
    agg = docs.select(
        F.col(group_col).alias("grp"),
        (score >= 2).cast("bigint").alias("__c"),
        score.cast("bigint").alias("__s"),
    ).groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__c").cast("bigint").alias("n_code_like"),
        F.sum("__s").cast("bigint").alias("signal_sum"),
    )
    return agg.select(
        "grp",
        "n_docs",
        "n_code_like",
        F.expr("n_code_like * 1000000 DIV n_docs")
        .cast("bigint")
        .alias("code_like_micro"),
        "signal_sum",
    )


def len_by_lang_grid(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    bucket_chars: int = 100,
    max_bucket: int = 9,
) -> DataFrame:
    """Length-distribution-by-language grid: per (lang, length
    bucket) counts with the within-language share — the per-language
    length-norm table (length filters tuned on English clip CJK
    corpora whose chars-per-token differs 3×; this is the view that
    sets PER-LANGUAGE bounds, next to ``tokenizer_fertility``).
    Buckets are ``least(len DIV bucket_chars, max_bucket)`` — exact
    integers, top bucket open-ended.

    Plan: per-row bucket projection, ONE map-side-combined
    (lang, bucket) aggregate, |langs|-row totals broadcast back.
    """
    if bucket_chars < 1 or max_bucket < 1:
        raise ValueError("bucket_chars and max_bucket must be >= 1")
    n = F.length(F.coalesce(F.col(text_col), F.lit("")))
    bucket = F.least(
        F.floor(n / bucket_chars).cast("bigint"), F.lit(max_bucket)
    )
    counts = docs.select(
        F.col(group_col).alias("grp"), bucket.alias("bucket")
    ).groupBy("grp", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    totals = counts.groupBy("grp").agg(
        F.sum("n_docs").cast("bigint").alias("__tot")
    )
    return counts.join(F.broadcast(totals), "grp").select(
        "grp",
        "bucket",
        "n_docs",
        F.expr("n_docs * 1000000 DIV __tot")
        .cast("bigint")
        .alias("lang_share_micro"),
    )


def revision_distance(
    df: DataFrame,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    text_col: str = "text",
    near_threshold: int = 5,
) -> DataFrame:
    """Consecutive-turn revision distance per conversation: Levenshtein
    between each turn's text and the SAME entity's previous turn —
    the retry-churn detector for agent transcripts (an assistant that
    re-emits its last message with a few tokens changed shows up as a
    near-zero edit distance, which ``dedup_exact`` misses and
    whole-document MinHash under-weights).  Reports, per entity:
    ``n_pairs``, ``identical_n`` (distance 0), ``near_n`` (0 <
    distance <= near_threshold), ``mean_lev_micro`` (exact integer
    DIV) and ``max_lev``.

    Plan: ONE per-entity exchange shared by the lag window and the
    rollup — the same single-shuffle shape as the flagship kernel;
    ``levenshtein`` is JVM codegen (no Python).  O(len_a * len_b) per
    adjacent pair only — never a self-join.  Spark's levenshtein
    counts CODEPOINTS; gates that replay it in a byte-level engine
    must normalize to ASCII first (see the driver entry).
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, order_col)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lev = F.levenshtein(txt, F.lag(txt).over(w))
    pairs = df.select(F.col(entity_col).alias("entity"), lev.alias("__lev")).where(
        F.col("__lev").isNotNull()
    )
    return pairs.groupBy("entity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("__lev") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("identical_n"),
        F.sum(
            F.when(
                (F.col("__lev") > 0) & (F.col("__lev") <= near_threshold), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("near_n"),
        F.expr("sum(__lev) * 1000000 DIV count(1)")
        .cast("bigint")
        .alias("mean_lev_micro"),
        F.max("__lev").cast("bigint").alias("max_lev"),
    )


def encoding_audit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source encoding-health report — the mojibake detector run
    before any tokenizer sees the corpus: double-encoded UTF-8 read as
    Latin-1/cp1252 leaves unmistakable fingerprints ('Ã' + continuation
    letter for 2-byte sequences, 'â€' for punctuation like ’ “ ”),
    lossy decodes leave U+FFFD replacement chars, and binary spills
    leave C0 control bytes.  A source with a high mojibake share needs
    re-ingestion, not scrubbing — these errors are IRREVERSIBLE after
    normalization, which is why this audit must run first.

    Output per group: ``(group, n_docs, n_mojibake, n_replacement,
    n_control, clean_share_micro)`` — doc-level flags (a doc counts
    once per category), exact integer share.

    Plan: narrow per-row flag projection (JVM regexp, no Python) +
    ONE map-side-combined groupBy on the |sources|-key column.  Zero
    joins; the corpus never shuffles (the exchange carries
    |sources|·|tasks| partial rows).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # literal fingerprint panel (NOT a regex): the UTF-8-as-cp1252
    # signatures for the high-frequency punctuation ('â€' prefixes ’ “
    # ” … –) and European vowels.  Literal `contains` is bit-identical
    # in every engine; a Unicode regex class here would reopen the
    # Java-regex/RE2 \u-escape divergence the decode2d gate documented.
    _FINGERPRINTS = ["â€", "Ã©", "Ã¨", "Ã¤", "Ã¶", "Ã¼", "Ã±", "Ã ", "Â "]
    moji = None
    for fp in _FINGERPRINTS:
        c = txt.contains(fp)
        moji = c if moji is None else (moji | c)
    repl = txt.contains("�")
    ctrl = txt.rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    flags = df.select(
        F.col(group_col).alias("group"),
        moji.cast("int").alias("__m"),
        repl.cast("int").alias("__r"),
        ctrl.cast("int").alias("__c"),
    )
    return flags.groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__m").cast("bigint").alias("n_mojibake"),
        F.sum("__r").cast("bigint").alias("n_replacement"),
        F.sum("__c").cast("bigint").alias("n_control"),
        F.expr(
            "sum(CASE WHEN __m = 0 AND __r = 0 AND __c = 0 THEN 1 ELSE 0 END)"
            " * 1000000 DIV count(1)"
        )
        .cast("bigint")
        .alias("clean_share_micro"),
    )


def gibberish_report(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    run_len: int = 5,
    min_letters: int = 20,
    vowel_floor_pct: int = 15,
) -> DataFrame:
    """Per-source keyboard-mash / gibberish screen: docs flagged when
    they contain a ``run_len``-long ASCII consonant run (qwerty mash,
    base64 spills, minified blobs) OR their vowel share among letters
    falls below ``vowel_floor_pct``% with at least ``min_letters``
    letters (every natural Latin-script language sits well above 30%
    vowels; hashes and key material don't).  The cheap lexical cousin
    of ``lm_perplexity`` filtering — no model, pure codegen, and it
    catches exactly the strings a unigram LM scores as merely "rare".

    ASCII-only character classes on purpose: identical semantics in
    Java regex and RE2 (the encoding_audit discipline — no \\u-escape
    divergence).  Output per group: ``(group, n_docs, n_consonant_run,
    n_low_vowel, n_gibberish, gibberish_share_micro)``.

    Plan: narrow flag projection + ONE |groups|-key map-side-combined
    aggregate; zero joins, the corpus never shuffles.
    """
    txt = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    run = txt.rlike("[bcdfghjklmnpqrstvwxz]{%d,}" % run_len)
    letters = F.length(F.regexp_replace(txt, "[^a-z]", ""))
    vowels = F.length(F.regexp_replace(txt, "[^aeiou]", ""))
    low_vowel = (letters >= min_letters) & (
        vowels * 100 < letters * vowel_floor_pct
    )
    flags = df.select(
        F.col(group_col).alias("group"),
        run.cast("int").alias("__r"),
        low_vowel.cast("int").alias("__v"),
    )
    return flags.groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__r").cast("bigint").alias("n_consonant_run"),
        F.sum("__v").cast("bigint").alias("n_low_vowel"),
        F.sum(F.when((F.col("__r") == 1) | (F.col("__v") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_gibberish"),
        F.expr(
            "sum(CASE WHEN __r = 1 OR __v = 1 THEN 1 ELSE 0 END)"
            " * 1000000 DIV count(1)"
        )
        .cast("bigint")
        .alias("gibberish_share_micro"),
    )


def template_contamination(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source chat/instruction-template contamination audit: docs
    carrying the serialization markers of SFT formats — ChatML
    ``<|im_start|>``, Llama ``[INST]``, Alpaca ``### Instruction``,
    plain ``Human:``/``Assistant:`` turn prefixes — inside a
    PRETRAINING corpus.  Template-formatted text in pretraining data
    teaches the base model to emit control tokens and leaks eval
    formats; this is the intake gate that catches a crawled SFT dump
    before it trains.  (The reverse check — SFT data MISSING its
    template — is the same report read for zero.)

    Literal `contains` panel per marker family (the encoding_audit
    discipline: no regex, no engine divergence).  Output per group:
    per-family doc counts, total flagged, share.

    Plan: narrow flag projection + ONE |sources|-key map-side-combined
    aggregate; zero joins, the corpus never shuffles.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    fams = {
        "chatml": ["<|im_start|>", "<|im_end|>"],
        "inst": ["[INST]", "[/INST]"],
        "alpaca": ["### Instruction", "### Response"],
        "turns": ["Human:", "Assistant:"],
    }
    flags = []
    for name, markers in fams.items():
        c = None
        for mk in markers:
            t = txt.contains(mk)
            c = t if c is None else (c | t)
        flags.append(c.cast("int").alias(f"__{name}"))
    base = df.select(F.col(group_col).alias("group"), *flags)
    any_flag = None
    for name in fams:
        c = F.col(f"__{name}") == 1
        any_flag = c if any_flag is None else (any_flag | c)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    for name in fams:
        aggs.append(F.sum(f"__{name}").cast("bigint").alias(f"n_{name}"))
    aggs.append(
        F.sum(F.when(any_flag, 1).otherwise(0))
        .cast("bigint")
        .alias("n_contaminated")
    )
    out = base.groupBy("group").agg(*aggs)
    return out.withColumn(
        "contaminated_share_micro",
        F.expr("n_contaminated * 1000000 DIV n_docs").cast("bigint"),
    )
