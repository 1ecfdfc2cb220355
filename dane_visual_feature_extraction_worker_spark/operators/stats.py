"""Exact-sum statistics operators: cross-engine-deterministic Pearson
correlation for feature screening.

The feature-selection step of a training pipeline ("which candidate
features carry signal about the label?") is a full-corpus reduction —
at 100 TB it must be ONE map-side-combined aggregate, never a
per-feature job. These operators compute every moment as an EXACT
integer/decimal sum (order-independent, so Spark's partial aggregation
and any SQL engine agree bit for bit) and spend floats only on the
final O(|features|)-sized formula — the `_dsum` / integer-cents
discipline of the window kernel applied to corpus statistics.
"""

from __future__ import annotations

from typing import Mapping

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def pearson_corr_exact(
    df: DataFrame,
    features: Mapping[str, F.Column],
    label: F.Column,
) -> DataFrame:
    """Pearson r between each integer-valued feature expression and an
    integer-valued label, computed from EXACT sums.

    ``features`` maps output name -> integer Column; ``label`` is an
    integer Column (quantize floats to cents/micros at the call site —
    the repo-wide exactness contract). All six moments per feature
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as decimal(38,0): exact,
    order-independent, map-side combined — ONE aggregate over the
    corpus produces a single row, then r is formed per feature from
    those exact scalars with a fixed IEEE op order
    (cov / sqrt(vx * vy), each operand a correctly-rounded
    decimal→double cast), so any engine replays it bit for bit.

    Headroom: with |x|,|y| ≤ 10^6 and 10^12 rows, Σxy ≤ 10^24 and
    n·Σxy ≤ 10^36 < 10^38 — the decimal(38,0) products stay exact at
    campaign scale (document per-column bounds if features exceed
    10^6 in magnitude).

    Output: one row per feature (feature, n, r) — report-sized at any
    corpus scale. Plan: one narrow projection + one partial+final
    aggregate; the corpus never shuffles (the exchange carries a
    single combined row per task).
    """
    d38 = "decimal(38,0)"
    y = label.cast(d38)
    # label moments are feature-independent — accumulate them ONCE, not
    # per feature (2(F-1) redundant decimal sum states otherwise)
    aggs: list[F.Column] = [
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum(y).alias("__sy"),
        F.sum(y * y).alias("__syy"),
    ]
    for name, x in features.items():
        xd = x.cast(d38)
        aggs += [
            F.sum(xd).alias(f"__sx_{name}"),
            F.sum(xd * y).alias(f"__sxy_{name}"),
            F.sum(xd * xd).alias(f"__sxx_{name}"),
        ]
    row = df.agg(*aggs)

    per_feature = []
    for name in features:
        n = F.col("__n")
        sx, sy = F.col(f"__sx_{name}"), F.col("__sy")
        sxy = F.col(f"__sxy_{name}")
        sxx, syy = F.col(f"__sxx_{name}"), F.col("__syy")
        cov = (n * sxy - sx * sy).cast("double")
        vx = (n * sxx - sx * sx).cast("double")
        vy = (n * syy - sy * sy).cast("double")
        r = F.when(
            (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)
        ).otherwise(F.lit(None).cast("double"))
        per_feature.append(
            F.struct(
                F.lit(name).alias("feature"),
                n.cast("bigint").alias("n"),
                (F.floor(r * F.lit(1_000_000.0)) / F.lit(1_000_000.0)).alias(
                    "r"
                ),
            )
        )
    return row.select(
        F.explode(F.array(*per_feature)).alias("__f")
    ).select("__f.feature", "__f.n", "__f.r")


def behavior_profile(
    df: DataFrame,
    entity: str = "user_id",
    category: str = "event_type",
) -> DataFrame:
    """Per-entity distribution-shape features over a categorical
    column: Shannon entropy (behavioral diversity — a bot hammering one
    event type scores 0, a browser touching everything scores ln k)
    and the Herfindahl concentration index Σ(cᵢ/n)² (the complementary
    "how dominated is the mix" signal), plus the distinct count.

    Exactness: entropy = ln n − (Σ cᵢ·ln cᵢ)/n is quantized at the
    TERM level — each ln is of a bare integer count (correctly rounded
    on any libm, the _lm_score contract), floor-scaled to integer
    micro-nats, multiplied and summed as exact int64, and the final
    division is an integer `div` — so aggregation order cannot move a
    bit and SQL replays it exactly. HHI = Σcᵢ²/n² is ONE IEEE divide
    of two exact integers; Σcᵢ² and n² are accumulated as
    decimal(38,0) (an int64 Σc² wraps silently at ~3·10^9 rows in ONE
    category — 100× below the 10^12 target). The remaining int64 term
    is Σ c·ln(c)·10^6 ≤ 2.8e19 at 10^12 single-category rows — widen
    __slc too if a single entity×category can exceed ~3·10^11 rows.

    Plan: one map-side-combined count per (entity, category) — the
    only full-corpus exchange — then an |entity×category|-sized rollup
    to |entity| rows (its exchange on `entity` moves only histogram
    rows, not the corpus).
    """
    c = df.groupBy(entity, category).agg(F.count(F.lit(1)).alias("__c"))
    lc_micro = F.floor(F.log(F.col("__c").cast("double")) * 1e6).cast(
        "bigint"
    )
    d38 = "decimal(38,0)"
    per = c.groupBy(entity).agg(
        F.sum("__c").cast("bigint").alias("__n"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.sum(F.col("__c").cast(d38) * F.col("__c").cast(d38)).alias("__s2"),
        F.sum(F.col("__c") * lc_micro).cast("bigint").alias("__slc"),
    )
    ln_n_micro = F.floor(F.log(F.col("__n").cast("double")) * 1e6).cast(
        "bigint"
    )
    return per.select(
        entity,
        F.col("__n").alias("n_rows"),
        "n_categories",
        (
            (ln_n_micro - F.expr("__slc div __n")).cast("double") / 1e6
        ).alias("entropy_nats"),
        (
            F.col("__s2").cast("double")
            / (
                F.col("__n").cast("decimal(38,0)")
                * F.col("__n").cast("decimal(38,0)")
            ).cast("double")
        ).alias("hhi"),
    )


def null_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Data-quality null/empty profile: one row per column with its
    null count, empty-string count (string columns), and NaN count
    (float columns) — the first report run against ANY new 100 TB
    ingest, because every downstream feature silently changes meaning
    when a column is 40% null.

    Plan: ONE map-side-combined aggregate over the corpus (every
    counter is a CASE sum — no per-column jobs, no shuffle of the
    data), then a |columns|-row explode of the single result row.
    """
    cols = columns or df.columns
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__null_{c}")
        )
        if schema[c] == "string":
            aggs.append(
                F.sum((F.col(c) == "").cast("bigint")).alias(f"__empty_{c}")
            )
        if schema[c] in ("double", "float"):
            # isnan(NULL) is engine-dependent; gate on non-null first
            aggs.append(
                F.sum(
                    (F.col(c).isNotNull() & F.isnan(F.col(c))).cast("bigint")
                ).alias(f"__nan_{c}")
            )
    row = df.agg(*aggs)
    outs = []
    for c in cols:
        # sum() over an all-NULL column is NULL — coalesce so a 100%-null
        # string column reports n_empty = 0, not "not a string column"
        empty = (
            F.coalesce(F.col(f"__empty_{c}"), F.lit(0)).cast("bigint")
            if schema[c] == "string"
            else F.lit(None).cast("bigint")
        )
        nan = (
            F.coalesce(F.col(f"__nan_{c}"), F.lit(0)).cast("bigint")
            if schema[c] in ("double", "float")
            else F.lit(None).cast("bigint")
        )
        outs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("bigint").alias("n_rows"),
                F.coalesce(F.col(f"__null_{c}"), F.lit(0))
                .cast("bigint")
                .alias("n_null"),
                empty.alias("n_empty"),
                nan.alias("n_nan"),
            )
        )
    return row.select(F.explode(F.array(*outs)).alias("__o")).select(
        "__o.column", "__o.n_rows", "__o.n_null", "__o.n_empty", "__o.n_nan"
    )


def psi_drift(
    df: DataFrame,
    ts: str = "ts",
    category: str = "event_type",
) -> DataFrame:
    """Population Stability Index between the first and second half of
    the time range — the standard drift monitor for a categorical
    feature (PSI < 0.1 stable, > 0.25 drifted): per category,
    ``psi_term = (p − q)·ln(p/q)`` with p/q the category's share in
    each half; Σ psi_term is the PSI. Categories absent from either
    half emit NULL terms (the caller picks a smoothing policy; silently
    skipping them would understate drift).

    Exactness (the behavior_entropy discipline): ln(p/q) decomposes to
    ln c₁ − ln n₁ − ln c₂ + ln n₂ — each ln of a BARE INTEGER count,
    floor-scaled to integer micro-nats and combined as int64, so no
    float ratio is ever taken; (p − q) stays the exact rational
    (c₁n₂ − c₂n₁)/(n₁n₂) with the numerator in decimal(38,0)
    (c·n ≤ 1e24 at 10^12 rows, × micro-nats ≤ 3e31 << 1e38); ONE final
    double divide + 1e-6 floor-truncation.

    Plan: the time cut is a lazy broadcast scalar (no driver
    round-trip); ONE map-side-combined CASE-count per category over a
    single corpus read; the |categories|-row frame then joins two
    broadcast scalars — the corpus never shuffles.
    """
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    cut = df.agg(
        ((F.min(us) + F.max(us)) / 2).cast("bigint").alias("__cut")
    )
    counts = (
        df.crossJoin(F.broadcast(cut))
        .select(
            F.col(category),
            F.when(us <= F.col("__cut"), 1).otherwise(0).alias("__h1"),
        )
        .groupBy(category)
        .agg(
            F.sum("__h1").cast("bigint").alias("c1"),
            F.sum(1 - F.col("__h1")).cast("bigint").alias("c2"),
        )
    )
    totals = counts.agg(
        F.sum("c1").cast("bigint").alias("__n1"),
        F.sum("c2").cast("bigint").alias("__n2"),
    )
    j = counts.crossJoin(F.broadcast(totals))

    def _lnm(c) -> F.Column:
        return F.floor(F.log(c.cast("double")) * 1e6).cast("bigint")

    l_micro = (
        _lnm(F.col("c1"))
        - _lnm(F.col("__n1"))
        - _lnm(F.col("c2"))
        + _lnm(F.col("__n2"))
    )
    d38 = "decimal(38,0)"
    num = F.col("c1").cast(d38) * F.col("__n2").cast(d38) - F.col(
        "c2"
    ).cast(d38) * F.col("__n1").cast(d38)
    term = (
        (num * l_micro.cast(d38)).cast("double")
        / (
            (F.col("__n1").cast("double") * F.col("__n2").cast("double"))
            * F.lit(1e6)
        )
    )
    psi = F.when(
        (F.col("c1") > 0) & (F.col("c2") > 0),
        F.floor(term * 1e6) / 1e6,
    )
    return j.select(category, "c1", "c2", psi.alias("psi_term"))


def pareto_frontier(
    df: DataFrame,
    maximize: str,
    minimize: str,
    group: str | None = None,
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows not dominated under
    (maximize ``maximize``, minimize ``minimize``) — per ``group`` when
    given.  Row j dominates row i iff x_j >= x_i AND y_j <= y_i with at
    least one strict.  Ties on BOTH coordinates are mutually
    non-dominating, so duplicates of a frontier point all survive
    (exactly the NOT EXISTS semantics an oracle states directly).

    The textbook formulation is a quadratic dominance self-join — dead
    at corpus scale.  For two dimensions the frontier is a SORT
    problem: order by x descending, and a row is on the frontier iff
    its y is strictly below every y seen at strictly-greater x (one
    running min) and not strictly above the minimum y within its own x
    tie-group (one per-x min).  Both are windows over the SAME single
    sort exchange; whole-stage codegen end to end, no join at all.
    ``maximize`` must be integer-valued (the strict-greater frame is a
    RANGE offset of 1); per-group parallelism is the partition key —
    grouping by a low-cardinality column serializes each group's sort,
    the documented trade of every order-statistic operator here.
    """
    from pyspark.sql import Window

    part = [group] if group else []
    neg = (-F.col(maximize)).cast("bigint")
    w_gt = (
        Window.partitionBy(*part)
        .orderBy(neg)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie = Window.partitionBy(*(part + [maximize]))
    min_above = F.min(F.col(minimize)).over(w_gt)
    min_tie = F.min(F.col(minimize)).over(w_tie)
    return (
        df.withColumn("__m1", min_above)
        .withColumn("__m2", min_tie)
        .where(
            (F.col("__m1").isNull() | (F.col(minimize) < F.col("__m1")))
            & (F.col(minimize) <= F.col("__m2"))
        )
        .drop("__m1", "__m2")
    )


def transition_matrix(
    df: DataFrame,
    entity: str = "user_id",
    ts: str = "ts",
    state: str = "event_type",
    tiebreak: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences -> ``(src_state, dst_state, n_trans, prob)``: the
    behavioral fingerprint (funnel/sessionize ops ask "did X happen";
    this asks "what follows X and how often").

    Ordering is (ts, tiebreak) within entity — the stable total order
    every sequence op here uses.  Plan: ONE entity exchange for the
    lag window, then a map-side-combined pair count; row probabilities
    p(dst|src) = n / n_src as one window sum over the |states|^2-row
    count frame (tiny).  Both counts are int64 < 2^53, so the single
    double divide is exact-operand and floor-1e-6 is engine-stable.
    """
    w = Window.partitionBy(entity).orderBy(ts, tiebreak)
    pairs = (
        df.select(
            F.lag(F.col(state)).over(w).alias("src_state"),
            F.col(state).alias("dst_state"),
        )
        .where(F.col("src_state").isNotNull())
        .groupBy("src_state", "dst_state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trans"))
    )
    tot = F.sum("n_trans").over(Window.partitionBy("src_state"))
    prob = F.floor(
        F.col("n_trans").cast("double") / tot.cast("double") * 1e6
    ) / 1e6
    return pairs.select(
        "src_state", "dst_state", "n_trans", prob.alias("prob")
    )


def transition_entropy(
    df: DataFrame,
    entity: str = "user_id",
    ts: str = "ts",
    state: str = "event_type",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Conditional entropy of the first-order transition chain,
    H(next|src) per source state plus the count-weighted entropy
    rate — the degeneracy detector for agent transcripts: a chain
    whose rate collapses toward 0 is a looping agent (every state
    deterministically follows its predecessor), the counterpart the
    reference's per-file eager loop could never see because it reads
    one conversation at a time (`feature_extraction.py:73-81`
    iterates one source's batches; corpus-level sequence statistics
    require the distributed groupBy this engine runs).

    Exactness: H(next|src) = ln(n_src) − (1/n_src)·Σ_d n_sd·ln(n_sd);
    every ln is the repo's micro-nat ``floor(ln·1e6)`` int64, products
    and sums stay exact int64 (n·micro-nats ≤ 1e12·3e7 << 2^63 per
    source even at 10^12 transitions), and the division is integer
    DIV on a nonnegative numerator (concavity keeps the true
    numerator ≥ 0; flooring perturbs it by < n_src micros, absorbed
    by the DIV floor) — engine-stable, no double until never.

    Plan: ONE entity exchange for the lag window (the only corpus
    shuffle — identical to ``transition_matrix``), map-side-combined
    (src,dst) pair counts, then a second groupBy and two windows over
    the |states|- and |states|²-row frames (KB-sized). Output:
    ``(src_state, n_src, h_cond_micro, rate_micro)``, |states| rows.
    """
    w = Window.partitionBy(entity).orderBy(ts, tiebreak)
    lnm = lambda c: F.floor(  # noqa: E731 — repo-wide micro-nat ln
        F.log(c.cast("double")) * 1e6
    ).cast("bigint")
    pairs = (
        df.select(
            F.lag(F.col(state)).over(w).alias("src_state"),
            F.col(state).alias("dst_state"),
        )
        .where(F.col("src_state").isNotNull())
        .groupBy("src_state", "dst_state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sd"))
    )
    per_src = pairs.groupBy("src_state").agg(
        F.sum("n_sd").cast("bigint").alias("n_src"),
        F.sum(F.col("n_sd") * lnm(F.col("n_sd")))
        .cast("bigint")
        .alias("__sum_nl"),
    )
    num = F.col("n_src") * lnm(F.col("n_src")) - F.col("__sum_nl")
    per_src = per_src.select(
        "src_state",
        "n_src",
        num.alias("__num"),
    ).select(
        "src_state",
        "n_src",
        F.expr("__num DIV n_src").alias("h_cond_micro"),
        F.col("__num"),
    )
    full = Window.orderBy("src_state").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_src.select(
        "src_state",
        "n_src",
        "h_cond_micro",
        F.sum("__num").over(full).cast("bigint").alias("__tot_num"),
        F.sum("n_src").over(full).cast("bigint").alias("__tot_n"),
    ).select(
        "src_state",
        "n_src",
        "h_cond_micro",
        F.expr("__tot_num DIV __tot_n").alias("rate_micro"),
    )


def ks_drift(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the first and
    second time-half of a numeric feature — the nonparametric
    distribution-shift companion to ``psi_drift`` (which needs a
    categorical binning; KS reads the raw numeric CDFs):
    ``D = max_x |F1(x) − F2(x)|`` over the pooled value grid.

    Exactness: values quantize to integer cents (decimal(18,2)·100 —
    the repo-wide money discipline), and the ECDF difference is the
    exact rational ``|a1·n2 − a2·n1| / (n1·n2)`` with a1/a2 the
    running per-half counts ≤ each distinct cent — the maximized
    numerator is exact decimal(38,0) (a·n ≤ 1e24 at 10^12 rows), so
    the max is taken over INTEGERS; one final double divide + 1e-6
    floor produces the reported D. Output is ONE row ``(n1, n2, ks)``.

    Plan: the time cut is a lazy broadcast scalar; ONE
    map-side-combined count per distinct cent (the only corpus
    exchange); the running CDFs are an unpartitioned window over the
    DISTINCT-CENT frame — domain-bounded like quantile_normalize
    (|distinct cents| rows, independent of corpus size), then a
    scalar max-aggregate.
    """
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    cut = df.agg(((F.min(us) + F.max(us)) / 2).cast("bigint").alias("__cut"))
    cents = (F.col(value).cast("decimal(18,2)") * 100).cast("bigint")
    counts = (
        # null values carry no distribution evidence AND would group
        # into a NULL cent whose window position differs across engines
        # (Spark orders NULLS FIRST, DuckDB NULLS LAST) — exclude them
        df.where(F.col(value).isNotNull())
        .crossJoin(F.broadcast(cut))
        .select(
            cents.alias("__c"),
            F.when(us <= F.col("__cut"), 1).otherwise(0).alias("__h1"),
        )
        .groupBy("__c")
        .agg(
            F.sum("__h1").cast("bigint").alias("c1"),
            F.sum(1 - F.col("__h1")).cast("bigint").alias("c2"),
        )
    )
    w = Window.orderBy("__c").rowsBetween(Window.unboundedPreceding, 0)
    # totals ride a FULL frame over the same window sort — a separate
    # totals aggregate would re-evaluate the whole counts subtree
    # (Catalyst does not reuse exchanges across derived branches); the
    # counts frame is domain-bounded, so the single-partition window
    # pass is cheap by construction.
    wt = Window.orderBy("__c").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d38 = "decimal(38,0)"
    run = counts.select(
        F.sum("c1").over(w).cast(d38).alias("a1"),
        F.sum("c2").over(w).cast(d38).alias("a2"),
        F.sum("c1").over(wt).cast("bigint").alias("n1"),
        F.sum("c2").over(wt).cast("bigint").alias("n2"),
    )
    tot = run.groupBy("n1", "n2").agg(
        F.max(
            F.abs(
                F.col("a1") * F.col("n2").cast(d38)
                - F.col("a2") * F.col("n1").cast(d38)
            )
        ).alias("__dnum"),
    )
    return tot.select(
        "n1",
        "n2",
        (
            F.floor(
                F.col("__dnum").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
                * 1e6
            )
            / 1e6
        ).alias("ks"),
    )


def _contingency_2x2(
    df: DataFrame,
    entity: str,
    category: str,
    label_value: str,
) -> DataFrame:
    """Shared 2×2 contingency core of chi2_select / mutual_info_select:
    per category, (a, b, c, d) entity counts against the binary label
    "entity exhibits ``label_value``", plus the population scalars
    (__n, __ny).

    Plan: per-entity (category-set, label) reduce in ONE exchange on
    entity (distinct presence + max-label share the same shuffle); a
    SENTINEL category appended per entity makes the population totals
    (N, N⁺) fall out of the SAME |categories|-row rollup — one corpus
    pass total, where a separate totals aggregate would re-evaluate
    the whole per-entity subtree (Catalyst does not reuse exchanges
    across derived branches; the doc_pagerank lesson). Only the tiny
    rollup is scoped_persist'ed so its two reads (report + broadcast
    scalar) don't recompute upstream.
    """
    from dane_visual_feature_extraction_worker_spark.functions.cacheutil import (
        scoped_persist,
    )

    # NULL-category semantics: collect_set DROPS nulls, so a NULL
    # category never forms a report row here — a SQL twin must filter
    # them explicitly (WHERE category IS NOT NULL in its presence CTE)
    # or it will emit a NULL-cat row this plan never produces. Entities
    # whose only categories are NULL still count in the population via
    # the sentinel row.
    sentinel = "\x00__all__"
    per_ent = (
        df.select(F.col(entity).alias("__e"), F.col(category).alias("__cat"))
        .groupBy("__e")
        .agg(
            F.collect_set("__cat").alias("__cats"),
            F.max(
                F.when(F.col("__cat") == label_value, 1).otherwise(0)
            ).alias("__y"),
        )
    )
    rolled = scoped_persist(
        per_ent.select(
            F.explode(
                F.array_union("__cats", F.array(F.lit(sentinel)))
            ).alias("cat"),
            F.col("__y"),
        )
        .groupBy("cat")
        .agg(
            F.sum("__y").cast("bigint").alias("a"),
            F.sum(1 - F.col("__y")).cast("bigint").alias("b"),
        ),
        "stats.contingency_rollup",
    )
    n_tot = (
        rolled.where(F.col("cat") == sentinel)
        .select(
            (F.col("a") + F.col("b")).alias("__n"), F.col("a").alias("__ny")
        )
    )
    pres = rolled.where(F.col("cat") != sentinel)
    return pres.crossJoin(F.broadcast(n_tot)).select(
        "cat",
        "a",
        "b",
        (F.col("__ny") - F.col("a")).alias("c"),
        (F.col("__n") - F.col("__ny") - F.col("b")).alias("d"),
        F.col("__n"),
        F.col("__ny"),
    )


def chi2_select(
    df: DataFrame,
    entity: str = "user_id",
    category: str = "event_type",
    label_value: str = "error",
) -> DataFrame:
    """Chi-squared feature screening for CATEGORICAL features — the
    contingency-table companion to ``pearson_corr_exact`` (which needs
    numeric features): for every category c, the 2×2 chi² between
    "entity exhibits c" and the binary label "entity exhibits
    ``label_value``" over the entity population.
    ``χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))``.

    Exactness: a/b/c/d are exact entity counts; ``(ad − bc)²`` and the
    four marginal products accumulate in decimal(38,0) (with
    N ≤ 10^9 entities, (ad−bc)² ≤ 10^36 < 10^38); ONE final double
    divide + 1e-6 floor. Degenerate margins (a+b, c+d, a+c or b+d = 0
    — e.g. a category every entity exhibits) emit NULL rather than a
    fake 0; the label category itself scores χ² = N (perfect
    self-association) as the formula dictates.

    Plan: the shared ``_contingency_2x2`` core — the corpus shuffles
    exactly once, on its natural entity key.
    """
    d38 = "decimal(38,0)"
    j = _contingency_2x2(df, entity, category, label_value)
    det = F.col("a").cast(d38) * F.col("d").cast(d38) - F.col("b").cast(
        d38
    ) * F.col("c").cast(d38)
    den = (
        (F.col("a") + F.col("b")).cast(d38)
        * (F.col("c") + F.col("d")).cast(d38)
        * (F.col("a") + F.col("c")).cast(d38)
        * (F.col("b") + F.col("d")).cast(d38)
    )
    chi2 = F.when(
        den > 0,
        F.floor(
            (F.col("__n").cast(d38) * det * det).cast("double")
            / den.cast("double")
            * 1e6
        )
        / 1e6,
    )
    return j.select("cat", "a", "b", "c", "d", chi2.alias("chi2"))


def mutual_info_select(
    df: DataFrame,
    entity: str = "user_id",
    category: str = "event_type",
    label_value: str = "error",
) -> DataFrame:
    """Mutual information I(feature; label) in nats for categorical
    feature screening — chi2_select's information-theoretic twin
    (chi² measures deviation-from-independence, MI measures the bits
    the feature actually carries; sklearn pairs them the same way):
    per category, the 2×2 MI between "entity exhibits c" and the
    binary label, ``I = Σ_cells (n_xy/N)·ln(N·n_xy / (n_x·n_y))``.

    Exactness (the psi_drift ln-decomposition): every log is of a
    BARE INTEGER count — ``ln N + ln n_xy − ln n_x − ln n_y`` — each
    floor-scaled to int64 micro-nats; per-cell terms ``n_xy · L_xy``
    sum as exact int64 and ONE integer `div` by N produces micro-nat
    MI (≤ ln2·1e6 for a 2×2). Empty cells contribute 0 (the standard
    0·ln0 = 0 convention), not NULL — MI is defined there.

    Plan: the shared ``_contingency_2x2`` core — ONE entity exchange,
    |categories|-row rollup + one broadcast scalar.
    """
    j = _contingency_2x2(df, entity, category, label_value)

    def _lnm(c) -> F.Column:
        return F.floor(F.log(c.cast("double")) * 1e6).cast("bigint")

    n = F.col("__n")
    # marginals: rows (has cat / not) and cols (label / not)
    r1, r0 = F.col("a") + F.col("b"), F.col("c") + F.col("d")
    c1, c0 = F.col("__ny"), n - F.col("__ny")

    def _term(nxy, nx, ny) -> F.Column:
        l = _lnm(n) + _lnm(nxy) - _lnm(nx) - _lnm(ny)
        return F.when(nxy > 0, nxy * l).otherwise(F.lit(0))

    s = (
        _term(F.col("a"), r1, c1)
        + _term(F.col("b"), r1, c0)
        + _term(F.col("c"), r0, c1)
        + _term(F.col("d"), r0, c0)
    ).cast("bigint")
    # MI >= 0; per-term log flooring can dip the micro sum a few units
    # below zero for near-independent features — clamp BEFORE the
    # integer division (Spark `div` truncates toward zero, DuckDB `//`
    # floors: they agree only on non-negatives, so the clamp is also
    # what keeps the oracle replayable).
    return (
        j.select(
            "cat", "a", "b", "c", "d", F.col("__n"),
            F.greatest(s, F.lit(0).cast("bigint")).alias("__s"),
        )
        .select(
            "cat", "a", "b", "c", "d",
            (F.expr("__s div __n").cast("double") / 1e6).alias("mi_nats"),
        )
    )


def auc_exact(
    df: DataFrame,
    score: F.Column,
    label: F.Column,
) -> DataFrame:
    """Exact ROC-AUC of an integer score against a binary label — the
    ranking-quality eval for any scoring feature this repo produces
    (quality_score, lm_perplexity, a model's logit): AUC is the
    Mann-Whitney U statistic ``P(score⁺ > score⁻) + ½·P(=)``,
    computed from the SCORE HISTOGRAM, never a corpus sort.

    ``score`` must be an integer Column (quantize floats to
    cents/micros at the call site — the repo-wide exactness contract);
    ``label`` a 0/1 integer Column.

    Exactness: per distinct score s with p(s) positives and q(s)
    negatives, doubled pair wins are ``2·negbelow(s)·p(s) + q(s)·p(s)``
    — all exact counts in decimal(38,0) (≤ 10^24 products at 10^12
    rows); AUC = Σ / (2·P·N) with ONE final double divide + 1e-6
    floor. Degenerate populations (P = 0 or N = 0) emit NULL.

    Plan: ONE map-side-combined count per distinct score (the only
    corpus exchange); the running negative-CDF is an unpartitioned
    window over the DISTINCT-SCORE frame — domain-bounded like
    ks_drift/quantile_normalize — then a scalar rollup. Output is ONE
    row (pos, neg, auc).
    """
    d38 = "decimal(38,0)"
    counts = (
        # null scores/labels carry no ranking evidence AND a NULL score
        # group's window position differs across engines (Spark NULLS
        # FIRST, DuckDB NULLS LAST) — exclude them
        df.select(score.cast("bigint").alias("__s"), label.alias("__y"))
        .where(F.col("__s").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__s")
        .agg(
            F.sum("__y").cast("bigint").alias("p"),
            F.sum(1 - F.col("__y")).cast("bigint").alias("q"),
        )
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    run = counts.select(
        F.col("p"),
        F.col("q"),
        F.coalesce(F.sum("q").over(w), F.lit(0)).cast(d38).alias("__nb"),
    )
    tot = run.agg(
        F.sum("p").cast("bigint").alias("pos"),
        F.sum("q").cast("bigint").alias("neg"),
        F.sum(
            F.lit(2).cast(d38) * F.col("__nb") * F.col("p").cast(d38)
            + F.col("q").cast(d38) * F.col("p").cast(d38)
        ).alias("__u2"),
    )
    return tot.select(
        "pos",
        "neg",
        F.when(
            (F.col("pos") > 0) & (F.col("neg") > 0),
            F.floor(
                F.col("__u2").cast("double")
                / (
                    F.lit(2.0)
                    * F.col("pos").cast("double")
                    * F.col("neg").cast("double")
                )
                * 1e6
            )
            / 1e6,
        ).alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    score_micro: F.Column,
    label: F.Column,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + per-bin Brier decomposition for a
    [0, 1]-scored binary predictor → one row per score decile:
    ``(bin, n, mean_score, frac_pos, gap, brier_term)``.

    ``score_micro`` must be an integer Column in [0, 1e6] (the
    predicted probability in micro units — quantize at the call site,
    the auc_exact contract); ``label`` a 0/1 integer Column.

    Exactness: every per-bin quantity is a ratio of exact integer
    sums — mean score from Σ score_micro, frac_pos from Σ y, and the
    Brier term from Σ (score_micro − y·1e6)², an exact int64 per row
    (≤ 1e12) summed in decimal(38,0) — so the only floats are the
    final divides + 1e-6 floors. ``gap`` = frac_pos − mean_score is
    the signed miscalibration the reliability diagram plots.

    Plan: ONE map-side-combined aggregate on the bin id (≤ n_bins
    groups — the shuffle carries n_bins rows of integer sums). The
    corpus never sorts; this is the profile you run alongside
    auc_exact in the same pass family over 10^12 scored rows.
    """
    d38 = "decimal(38,0)"
    s = score_micro.cast("bigint")
    y = label.cast("bigint")
    b = F.least(
        F.floor(s * F.lit(n_bins) / F.lit(1_000_000)).cast("bigint"),
        F.lit(n_bins - 1).cast("bigint"),
    )
    g = (
        df.select(b.alias("bin"), s.alias("__s"), y.alias("__y"))
        .where(F.col("__s").isNotNull() & F.col("__y").isNotNull())
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__s").cast(d38).alias("__ssum"),
            F.sum("__y").cast("bigint").alias("__pos"),
            F.sum(
                (F.col("__s") - F.col("__y") * F.lit(1_000_000)).cast(d38)
                * (F.col("__s") - F.col("__y") * F.lit(1_000_000)).cast(d38)
            ).alias("__esum"),
        )
    )
    mean_score = F.floor(
        F.col("__ssum").cast("double") / F.col("n").cast("double")
    ) / F.lit(1e6)
    frac_pos = (
        F.floor(
            F.col("__pos").cast("double") / F.col("n").cast("double") * 1e6
        )
        / 1e6
    )
    brier = (
        F.floor(
            F.col("__esum").cast("double")
            / (F.col("n").cast("double") * 1e12)
            * 1e6
        )
        / 1e6
    )
    return g.select(
        "bin",
        "n",
        mean_score.alias("mean_score"),
        frac_pos.alias("frac_pos"),
        F.floor((frac_pos - mean_score) * 1e6).cast("bigint").alias(
            "gap_micro"
        ),
        brier.alias("brier_term"),
    )


def ab_conversion_report(
    events: DataFrame,
    entity: str = "user_id",
    convert_type: str = "purchase",
    event_type: str = "event_type",
    salt: str = "ab",
) -> DataFrame:
    """Deterministic A/B experiment readout → ONE row:
    ``(n_a, conv_a, n_b, conv_b, rate_a, rate_b, lift_micro, z_score)``.

    Arm assignment is md5(salt|entity) parity (operators/sampling.
    sample_key) — the portable hash-split every engine replays
    identically, never seeded rand(); an entity converts if it has at
    least one ``convert_type`` event. z is the classic two-proportion
    test with the pooled rate; its only non-rational op is ONE sqrt of
    a deterministically-computed double (sqrt is IEEE
    correctly-rounded, unlike ln/exp), then the repo-wide 1e-6 floor.

    Plan: per-entity conversion flag is the ONE corpus exchange
    (map-side combined max); the arm rollup is a 2-group aggregate and
    the final row a conditional scalar agg — at 10^12 events the
    shuffle carries |entities| bits, the report is O(1).
    """
    from dane_visual_feature_extraction_worker_spark.operators.sampling import (
        sample_key,
    )

    per = events.groupBy(entity).agg(
        F.max(
            F.when(F.col(event_type) == convert_type, 1).otherwise(0)
        ).alias("__conv")
    )
    arm = (sample_key(F.col(entity), salt) % 2).alias("__arm")
    one = per.select(arm, "__conv").agg(
        F.sum(F.when(F.col("__arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("__arm") == 0, F.col("__conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("__arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("__arm") == 1, F.col("__conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    rb = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return one.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        (F.floor(ra * 1e6) / 1e6).alias("rate_a"),
        (F.floor(rb * 1e6) / 1e6).alias("rate_b"),
        F.floor((ra - rb) * 1e6).cast("bigint").alias("lift_micro"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se > 0),
            F.floor((ra - rb) / se * 1e6) / 1e6,
        ).alias("z_score"),
    )


def cramers_v_report(
    df: DataFrame, a: str, b: str
) -> DataFrame:
    """Cramér's V association between two categorical columns — the
    r×c generalization of the 2×2 ``_contingency_2x2`` family above
    (chi2_select / mutual_info_select), for screening categorical
    feature pairs where neither side is a binary label.

    One row out: ``(n, r, c, chi2_micro, cramers_v)`` with
    ``V = sqrt((chi2/n) / min(r-1, c-1))``.

    Determinism: cell/margin counts are exact BIGINTs; each cell's
    chi2 term is floored to integer micro-units BEFORE summation, so
    the total is an exact int64 regardless of aggregation order; the
    final sqrt is IEEE-correctly-rounded on every engine.

    Empty cells (a pair (a, b) never observed) still belong in chi2;
    rather than materializing the full r×c cross product we use the
    identity sum((o-e)^2/e) = sum(o^2/e) - n, whose per-cell term
    o^2/e is ZERO for every empty cell — the observed-cells sum is
    already complete.

    Plan: ONE map-side-combined groupBy(a, b) exchange over the
    corpus; margins and totals come from windows over the RESULT
    (r×c cells — KB-sized, documented single-partition frames), never
    a second corpus scan.
    """
    cells = df.groupBy(
        F.col(a).alias("__a"), F.col(b).alias("__b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__o"))
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wn = Window.partitionBy()
    m = cells.select(
        "__a",
        "__b",
        "__o",
        F.sum("__o").over(wa).alias("__rs"),
        F.sum("__o").over(wb).alias("__cs"),
        F.sum("__o").over(wn).alias("__n"),
    )
    e = (
        F.col("__rs").cast("double")
        * F.col("__cs").cast("double")
        / F.col("__n").cast("double")
    )
    o = F.col("__o").cast("double")
    term = F.floor(o * o / e * F.lit(1e6)).cast("bigint")
    # ONE reduction over the windowed cells frame — the corpus groupBy
    # is evaluated exactly once (no second branch off `cells`)
    out = m.select(
        "__a", "__b", "__n", term.alias("__t")
    ).agg(
        F.max("__n").alias("__n"),
        (F.sum("__t") - F.max("__n") * F.lit(1_000_000))
        .cast("bigint")
        .alias("chi2_micro"),
        F.countDistinct("__a").cast("bigint").alias("r"),
        F.countDistinct("__b").cast("bigint").alias("c"),
    )
    dof = F.least(F.col("r") - 1, F.col("c") - 1)
    v = F.sqrt(
        (F.col("chi2_micro").cast("double") / F.lit(1e6))
        / (F.col("__n").cast("double") * dof.cast("double"))
    )
    return out.select(
        F.col("__n").alias("n"),
        "r",
        "c",
        "chi2_micro",
        F.when(dof > 0, F.floor(v * F.lit(1e6)) / F.lit(1e6)).alias(
            "cramers_v"
        ),
    )


def gini_report(
    df: DataFrame,
    entity: str = "user_id",
) -> DataFrame:
    """Exact Gini coefficient of per-entity activity concentration —
    the inequality diagnostic behind skew decisions (a Gini near 1
    says a handful of hot entities dominate; pair with skew_report's
    per-key view).

    Gini = Σᵢⱼ|xᵢ-xⱼ| / (2·n·Σx), computed EXACTLY from the
    count-value histogram: per distinct activity level c with
    frequency f, the pair-difference mass against all smaller levels
    is 2·f·(c·N₍<₎ - S₍<₎) where N₍<₎/S₍<₎ are prefix count/sum —
    O(|levels|) instead of O(n²), no sampling, no sort of the
    entity frame.

    Determinism: every term is exact decimal(38,0) (int128-safe at
    10^12 entities) summed in any order; the single closing division
    runs as double identically everywhere.

    Plan: ONE entity exchange (per-entity counts) + a histogram
    rollup on the count VALUE (domain-bounded, like
    logbucket_quantiles); prefix sums run over the |levels|-row
    frame (documented single-partition).
    """
    counts = df.groupBy(entity).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    hist = counts.groupBy("__c").agg(
        F.count(F.lit(1)).cast("bigint").alias("__f")
    )
    w = Window.orderBy("__c").rowsBetween(Window.unboundedPreceding, -1)
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    below_n = F.coalesce(F.sum("__f").over(w), F.lit(0)).cast("bigint")
    below_s = F.coalesce(
        F.sum(F.col("__f") * F.col("__c")).over(w), F.lit(0)
    ).cast("bigint")
    term = d38(F.col("__f")) * (
        d38(F.col("__c")) * d38(below_n) - d38(below_s)
    ) * F.lit(2)
    pre = hist.select(
        "__c",
        "__f",
        term.alias("__t"),
    )
    one = pre.agg(
        F.sum("__f").cast("bigint").alias("n_entities"),
        F.sum(d38(F.col("__f")) * d38(F.col("__c")))
        .cast("decimal(38,0)")
        .alias("__total"),
        F.sum("__t").cast("decimal(38,0)").alias("__absdiff"),
    )
    gini = F.col("__absdiff").cast("double") / (
        F.lit(2.0)
        * F.col("n_entities").cast("double")
        * F.col("__total").cast("double")
    )
    return one.select(
        "n_entities",
        F.col("__total").cast("bigint").alias("total_events"),
        F.when(
            (F.col("n_entities") > 0) & (F.col("__total") > 0),
            F.floor(gini * F.lit(1e6)) / F.lit(1e6),
        ).alias("gini"),
    )


def lorenz_curve(
    df: DataFrame,
    entity: str = "user_id",
    n_buckets: int = 10,
) -> DataFrame:
    """Lorenz concentration curve over per-entity activity — the
    decile view behind ``gini_report``'s single number: entities are
    ranked by activity, cut into ``n_buckets`` ntile groups, and each
    row reports the cumulative share of entities vs the cumulative
    share of events ("the top decile holds X% of all events").  The
    operational read at 100 TB is partition planning: the curve says
    how many hot entities the salted twins must absorb.

    Determinism: the ntile ranking orders by ``(n, entity)`` — a
    total order, so bucket assignment is engine-stable (both Spark
    and DuckDB fill remainder rows into the leading buckets over the
    identical order).  Shares are ``cum·1e6 DIV total`` integer
    micros; no doubles anywhere.

    Plan: ONE map-side-combined entity groupBy (the only corpus
    exchange); the ntile window, bucket rollup and running sums all
    run over the per-entity count frame (|entities| rows) and the
    ``n_buckets``-row frame.
    """
    if not 2 <= n_buckets <= 1000:
        raise ValueError(f"n_buckets must be in [2, 1000]: {n_buckets}")
    per_ent = df.groupBy(F.col(entity).alias("__e")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    ranked = per_ent.select(
        "__n",
        F.ntile(n_buckets)
        .over(Window.orderBy(F.col("__n"), F.col("__e")))
        .alias("bucket"),
    )
    rolled = ranked.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.sum("__n").cast("bigint").alias("n_events"),
    )
    cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    full = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return rolled.select(
        "bucket",
        "n_entities",
        "n_events",
        F.expr(
            "sum(n_entities) OVER (ORDER BY bucket"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000"
            " DIV sum(n_entities) OVER (ORDER BY bucket"
            " ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND UNBOUNDED FOLLOWING)"
        ).cast("bigint").alias("entity_cum_micro"),
        F.expr(
            "sum(n_events) OVER (ORDER BY bucket"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000"
            " DIV sum(n_events) OVER (ORDER BY bucket"
            " ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND UNBOUNDED FOLLOWING)"
        ).cast("bigint").alias("event_cum_micro"),
    )


#: Poisson(1) inverse-CDF thresholds scaled to the 2^32 md5-key space,
#: computed once from exact cumulative sums and inlined as integer
#: literals on BOTH engines — libm never enters the gate. P(w > 8)
#: ≈ 1.1e-6 is truncated to w = 8 (identically on both sides).
POISSON1_THRESHOLDS = (
    1580030168,  # w = 0
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
    4294923276,  # w = 7; above -> 8
)


def poisson_bootstrap(
    df: DataFrame,
    value: str = "value",
    id_col: str = "event_id",
    n_replicates: int = 32,
    salt: str = "boot",
) -> DataFrame:
    """Poisson bootstrap of the corpus mean — THE bootstrap that works
    at 100 TB (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", Google 2012): classical resampling needs n draws
    WITH replacement per replicate (a corpus-sized shuffle per
    replicate); the Poisson approximation gives each row an
    independent Poisson(1) weight per replicate, so ALL replicates
    accumulate in ONE streaming pass — zero shuffles, map-side
    combined, replicate count limited only by agg-state width.

    Determinism: the weight is the md5 ``sample_key`` primitive on
    ``id#replicate`` pushed through the inlined integer
    ``POISSON1_THRESHOLDS`` (no rand(), no libm at gate time), so any
    engine and any partition layout reproduces every replicate
    bit-for-bit. Values quantize to integer cents; replicate means
    are exact-integer ``Σw·cents DIV Σw``; the CI bounds are order
    statistics (2nd smallest / 2nd largest replicate mean — ~94%
    coverage at B=32) taken over the B-row frame.

    Output: B rows ``(replicate, n_eff, mean_cents, ci_lo_cents,
    ci_hi_cents)``.  Plan: one narrow projection + ONE aggregate with
    2B int64/decimal states; the B-row explode and order-statistic
    windows are driver-frame-sized.
    """
    if not 2 <= n_replicates <= 128:
        raise ValueError(f"n_replicates must be in [2, 128]: {n_replicates}")
    cents = (F.col(value).cast("decimal(18,2)") * 100).cast("bigint")
    rows = df.where(F.col(value).isNotNull()).select(
        cents.alias("__v"), F.col(id_col).cast("string").alias("__id")
    )

    # Explode (row × replicate) and aggregate by replicate instead of
    # carrying 2B wide agg states: the B-wide single-row aggregate put
    # B md5→conv→threshold chains into ONE projection whose expression
    # tree blows past the whole-stage-codegen method budget, dropping
    # the dominant per-row stage to interpreted evaluation (~2× wall
    # clock measured at B=32). The exploded form evaluates exactly one
    # small, codegen-friendly weight expression per (row, replicate);
    # partial aggregation collapses each partition to B rows before the
    # (tiny) exchange, so the shuffle stays B-bounded. Per-replicate
    # integer sums are order-independent — bit-identical results.
    b_exp = F.explode(
        F.array(*[F.lit(b) for b in range(n_replicates)])
    ).alias("__b")
    pairs = rows.select("__v", "__id", b_exp)
    hx = F.md5(
        F.concat_ws(
            "|",
            F.lit(salt),
            F.concat_ws("#", F.col("__id"), F.col("__b").cast("string")),
        )
    )
    key = F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint")
    w: F.Column = F.lit(8)
    for wv in range(len(POISSON1_THRESHOLDS) - 1, -1, -1):
        w = F.when(key < POISSON1_THRESHOLDS[wv], wv).otherwise(w)
    w = w.cast("bigint")
    agg = (
        pairs.select(F.col("__b"), F.col("__v"), w.alias("__w"))
        .groupBy("__b")
        .agg(
            F.sum("__w").cast("bigint").alias("__n"),
            F.sum(F.col("__w") * F.col("__v")).cast("bigint").alias("__s"),
        )
    )
    # Left-join from a literal replicate spine so an empty input still
    # yields B rows of n_eff = 0 (the wide form's semantics).
    spine = df.sparkSession.range(n_replicates).select(
        F.col("id").cast("int").alias("replicate")
    )
    reps = (
        spine.join(agg, spine.replicate == agg.__b, "left")
        .select(
            "replicate",
            F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_eff"),
            F.coalesce(F.col("__s"), F.lit(0)).cast("bigint").alias("__s"),
        )
        .select(
            "replicate",
            "n_eff",
            F.when(
                F.col("n_eff") > 0, F.expr("__s DIV n_eff")
            ).alias("mean_cents"),
        )
    )
    full = Window.orderBy("replicate").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    means_sorted = F.sort_array(
        F.collect_list("mean_cents").over(full)
    )
    return reps.select(
        "replicate",
        "n_eff",
        "mean_cents",
        F.element_at(means_sorted, 2).alias("ci_lo_cents"),
        F.element_at(means_sorted, -2).alias("ci_hi_cents"),
    )


def mann_whitney_drift(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the first and second
    time-half of a numeric feature — the rank-based two-sample drift
    test: where ``ks_drift`` reads the worst CDF gap (sensitive to any
    shape change) and ``psi_drift`` needs a binning, U detects a
    LOCATION shift and is immune to outliers, because only ranks
    enter. The triple is the standard drift dashboard.

    Exactness: values quantize to integer cents; ties take the
    textbook average rank, kept integral by working with DOUBLED rank
    sums — per distinct cent with half-counts (a, b), the occupied
    ranks are (cum+1 .. cum+a+b), so 2·Σ(avg rank) contribution is
    ``a · (2·cum + a + b + 1)``, an exact decimal(38,0) term
    (cum ≤ 10^12 rows × a ≤ 10^12 → ≤ 10^24 << 10^38). ``u1_x2 =
    r1_x2 − n1·(n1+1)`` stays exact integer. The z-score (untied
    normal approximation — the tie correction to σ is second-order
    and documented away) is the ONLY float: exact integer operands,
    fixed IEEE op order, floor-1e-6 micro — engine-stable.

    Plan: identical shape to ``ks_drift`` — lazy broadcast midpoint
    cut, ONE map-side-combined count per distinct cent (the only
    corpus exchange), the rank accumulation as a window over the
    DISTINCT-CENT frame, one-row output ``(n1, n2, r1_x2, u1_x2,
    z_micro)``.
    """
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    cut = df.agg(((F.min(us) + F.max(us)) / 2).cast("bigint").alias("__cut"))
    cents = (F.col(value).cast("decimal(18,2)") * 100).cast("bigint")
    counts = (
        df.where(F.col(value).isNotNull())
        .crossJoin(F.broadcast(cut))
        .select(
            cents.alias("__c"),
            F.when(us <= F.col("__cut"), 1).otherwise(0).alias("__h1"),
        )
        .groupBy("__c")
        .agg(
            F.sum("__h1").cast("bigint").alias("c1"),
            F.sum(1 - F.col("__h1")).cast("bigint").alias("c2"),
        )
    )
    d38 = "decimal(38,0)"
    w = Window.orderBy("__c").rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.orderBy("__c").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_before = F.coalesce(
        F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0)
    ).cast(d38)
    term = F.col("c1").cast(d38) * (
        F.lit(2).cast(d38) * cum_before
        + (F.col("c1") + F.col("c2") + 1).cast(d38)
    )
    run = counts.select(
        term.alias("__t"),
        F.sum("c1").over(wt).cast("bigint").alias("n1"),
        F.sum("c2").over(wt).cast("bigint").alias("n2"),
    )
    tot = run.groupBy("n1", "n2").agg(F.sum("__t").alias("__r1x2"))
    n1d, n2d = F.col("n1").cast(d38), F.col("n2").cast(d38)
    u1x2 = F.col("__r1x2") - n1d * (n1d + 1)
    out = tot.select(
        "n1",
        "n2",
        # the rank sums stay exact decimal(38,0) INTERNALLY; the output
        # boundary is one correctly-rounded cast to double per value
        # (identical on any IEEE engine — and pandas bridges decimal
        # columns inconsistently across engines, doubles identically)
        F.col("__r1x2").cast(d38).cast("double").alias("r1_x2"),
        u1x2.cast(d38).cast("double").alias("u1_x2"),
    )
    z = (
        (F.col("u1_x2") - F.col("n1").cast(d38) * F.col("n2").cast(d38))
        .cast("double")
        / (
            F.lit(2.0)
            * F.sqrt(
                (
                    F.col("n1").cast(d38)
                    * F.col("n2").cast(d38)
                    * (F.col("n1") + F.col("n2") + 1).cast(d38)
                ).cast("double")
                / F.lit(12.0)
            )
        )
    )
    return out.select(
        "n1",
        "n2",
        "r1_x2",
        "u1_x2",
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.floor(z * 1e6).cast("bigint"),
        ).alias("z_micro"),
    )


def spearman_corr(
    df: DataFrame,
    x: str,
    y: str,
) -> DataFrame:
    """Spearman rank correlation between two integer-valued,
    bounded-domain columns — the monotone-association audit (Pearson
    answers "linear?", Spearman answers "monotone?", immune to
    outliers and any monotone rescaling). The curation use: length
    bias in a quality score (rank n_chars vs rank score).

    Scale design: the naive plan ranks rows with an UNPARTITIONED
    window — a single-task sort of the corpus, the classic anti-scale
    trap. Instead ranks come from the count histogram: per distinct
    value with count t at cumulative position cum, every row holds
    doubled average rank ``2·cum + t + 1`` — so the rank map is
    |distinct(x)| rows (domain-bounded, NOT corpus-sized; document
    per-column domains at the call site), joined back as a broadcast.
    The 2× factors cancel in ρ.

    Exactness: all six moments (n, Σrx, Σry, Σrx·ry, Σrx², Σry²)
    accumulate as decimal(38,0) — doubled ranks ≤ 2·10^12 at target
    scale keep n·Σ(r²) ≤ 4·10^36 < 10^38 exact. ρ is ONE fixed-order
    IEEE formula over those exact scalars, floor-1e-6 micro.

    Plan: ONE map-side-combined groupBy per column (tiny frames), two
    broadcast joins (no corpus shuffle), ONE moment aggregate. Output:
    one row ``(n, rho)``. NULLs in either column are excluded (a NULL
    carries no rank).
    """
    rows = df.where(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    ).select(F.col(x).alias("__x"), F.col(y).alias("__y"))

    def _rank_map(col: str) -> DataFrame:
        counts = rows.groupBy(F.col(col).alias("__v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("__t")
        )
        w = Window.orderBy("__v").rowsBetween(
            Window.unboundedPreceding, -1
        )
        return counts.select(
            "__v",
            (
                2 * F.coalesce(F.sum("__t").over(w), F.lit(0))
                + F.col("__t")
                + 1
            ).cast("bigint").alias("__r2"),
        )

    rx = _rank_map("__x").withColumnRenamed("__r2", "__rx")
    ry = _rank_map("__y").withColumnRenamed("__r2", "__ry")
    ranked = (
        rows.join(F.broadcast(rx), rows["__x"] == rx["__v"])
        .drop("__v")
        .join(F.broadcast(ry), rows["__y"] == ry["__v"])
        .select("__rx", "__ry")
    )
    d38 = "decimal(38,0)"
    a, b = F.col("__rx").cast(d38), F.col("__ry").cast(d38)
    m = ranked.agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum(a).alias("__sx"),
        F.sum(b).alias("__sy"),
        F.sum(a * b).alias("__sxy"),
        F.sum(a * a).alias("__sxx"),
        F.sum(b * b).alias("__syy"),
    )
    n = F.col("__n")
    cov = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    vx = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    vy = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast("double")
    rho = F.when(
        (vx > 0) & (vy > 0),
        F.floor(cov / F.sqrt(vx * vy) * 1e6) / 1e6,
    )
    return m.select(n.cast("bigint").alias("n"), rho.alias("rho"))


def cohen_kappa(
    df: DataFrame,
    rater_a: F.Column,
    rater_b: F.Column,
) -> DataFrame:
    """Cohen's kappa between two binary raters — chance-corrected
    agreement, the metric that separates "two labelers fire together
    because the class is common" from genuine agreement. The weak-
    supervision use: two labeling functions whose kappa ≈ 0 are
    independent evidence (keep both); kappa ≈ 1 means one is
    redundant (drop it from the vote).

    ``rater_a`` / ``rater_b`` are boolean Columns. Exactness: the 2×2
    contingency (a, b, c, d) comes from ONE map-side-combined CASE-sum
    aggregate; kappa = (N·agree − pe_num) / (N² − pe_num) with
    ``pe_num = (a+b)(a+c) + (c+d)(b+d)`` — both sides exact
    decimal(38,0) (≤ 10^24 at 10^12 rows), ONE double divide +
    floor-1e-6 micro. Degenerate marginals (pe_num = N², both raters
    constant) yield NULL, never a 0/0.

    Plan: zero shuffles — a single scalar aggregate over the corpus;
    the output is one row ``(n, n_agree, kappa)``.
    """
    a_ = rater_a.cast("boolean")
    b_ = rater_b.cast("boolean")
    cell = lambda pa, pb: F.sum(  # noqa: E731
        (
            (a_ == F.lit(pa)) & (b_ == F.lit(pb))
        ).cast("bigint")
    ).cast("decimal(38,0)")
    m = df.agg(
        cell(True, True).alias("__a"),
        cell(True, False).alias("__b"),
        cell(False, True).alias("__c"),
        cell(False, False).alias("__d"),
    )
    A, B, C, D = (F.col(f"__{x}") for x in "abcd")
    n = A + B + C + D
    pe_num = (A + B) * (A + C) + (C + D) * (B + D)
    num = n * (A + D) - pe_num
    den = n * n - pe_num
    return m.select(
        n.cast("bigint").alias("n"),
        (A + D).cast("bigint").alias("n_agree"),
        F.when(
            den.cast("double") > 0,
            F.floor(num.cast("double") / den.cast("double") * 1e6) / 1e6,
        ).alias("kappa"),
    )


def cuped_report(
    events: DataFrame,
    entity: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    salt: str = "ab",
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng, Xu, Kohavi, Walker,
    WSDM 2013): the pre-experiment metric of each entity is used as a
    control variate — ``y' = y − θ·(x − x̄)`` with ``θ = cov(x,y) /
    var(x)`` — shrinking the metric variance by ρ² without biasing
    the treatment contrast. THE standard trick for shipping
    experiments faster on heavy-tailed engagement metrics.

    Here the corpus time-midpoint splits pre (x = entity's value sum
    before the cut) from post (y = after); the arm is md5(salt|entity)
    parity, the same portable split as ``ab_conversion_report``. θ is
    computed POOLED (both arms — the unbiasedness requirement: a
    per-arm θ would reintroduce selection).

    Exactness: per-entity cent sums and all second moments accumulate
    exact decimal(38,0); θ, the means and the adjusted means are a
    fixed IEEE op order over those exact scalars, floor-1e-6 micro.
    Output 2 rows: ``(arm, n, mean_cents_micro, mean_adj_micro,
    rho2_micro)`` — rho2 is the variance-reduction fraction.

    Plan: ONE entity exchange (pre/post CASE sums, map-side combined),
    then a single scalar aggregate over the |entities| frame carrying
    nine exact moments; report is O(1).
    """
    from dane_visual_feature_extraction_worker_spark.operators.sampling import (
        sample_key,
    )

    us = F.unix_micros(F.col(ts).cast("timestamp"))
    cut = events.agg(
        ((F.min(us) + F.max(us)) / 2).cast("bigint").alias("__cut")
    )
    cents = (F.col(value).cast("decimal(18,2)") * 100).cast("bigint")
    per = (
        events.where(F.col(value).isNotNull())
        .crossJoin(F.broadcast(cut))
        .groupBy(entity)
        .agg(
            F.sum(F.when(us <= F.col("__cut"), cents).otherwise(0))
            .cast("bigint")
            .alias("__x"),
            F.sum(F.when(us > F.col("__cut"), cents).otherwise(0))
            .cast("bigint")
            .alias("__y"),
        )
        .select(
            (sample_key(F.col(entity), salt) % 2).alias("__arm"),
            "__x",
            "__y",
        )
    )
    d38 = "decimal(38,0)"
    x, y = F.col("__x").cast(d38), F.col("__y").cast(d38)
    arm0 = F.col("__arm") == 0
    m = per.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
        F.sum(F.when(arm0, 1).otherwise(0)).cast(d38).alias("n_a"),
        F.sum(F.when(arm0, x).otherwise(F.lit(0).cast(d38))).alias("sx_a"),
        F.sum(F.when(arm0, y).otherwise(F.lit(0).cast(d38))).alias("sy_a"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = (n * F.col("sxy") - sx * sy).cast("double")
    vx = (n * F.col("sxx") - sx * sx).cast("double")
    vy = (n * F.col("syy") - sy * sy).cast("double")
    theta = F.when(vx > 0, cov / vx).otherwise(F.lit(0.0))
    rho2 = F.when(
        (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)
    ).otherwise(F.lit(0.0))
    xbar = sx.cast("double") / n.cast("double")

    def _arm_row(tag: str, na: F.Column, sxa: F.Column, sya: F.Column):
        mean_y = sya.cast("double") / na.cast("double")
        mean_x = sxa.cast("double") / na.cast("double")
        adj = mean_y - theta * (mean_x - xbar)
        return F.struct(
            F.lit(tag).alias("arm"),
            na.cast("bigint").alias("n"),
            F.when(
                na.cast("double") > 0,
                F.floor(mean_y * 1e6).cast("bigint"),
            ).alias("mean_cents_micro"),
            F.when(
                na.cast("double") > 0,
                F.floor(adj * 1e6).cast("bigint"),
            ).alias("mean_adj_micro"),
            F.floor(rho2 * rho2 * 1e6).cast("bigint").alias("rho2_micro"),
        )

    return m.select(
        F.explode(
            F.array(
                _arm_row("a", F.col("n_a"), F.col("sx_a"), F.col("sy_a")),
                _arm_row(
                    "b",
                    n - F.col("n_a"),
                    sx - F.col("sx_a"),
                    sy - F.col("sy_a"),
                ),
            )
        ).alias("__r")
    ).select("__r.*")


def fleiss_kappa(
    ratings: DataFrame,
    item: str = "item_id",
    category: str = "category",
) -> DataFrame:
    """Fleiss' kappa for m raters — the multi-rater generalization of
    ``cohen_kappa`` (which compares exactly two labeling functions).
    Input is LONG format: one row per (item, rater) with the assigned
    ``category``; every item must carry the same rater count m (the
    operator derives m from the data and NULLs out if items disagree —
    Fleiss is undefined for ragged panels).

    Exactness (all decimal(38,0) until one final divide):
      P̄  = A / B   with A = Σ_i (Σ_j n_ij² − m), B = n·m·(m−1)
      P_e = C / D   with C = Σ_j c_j²,            D = (n·m)²
      κ  = (P̄ − P_e) / (1 − P_e) = (A·D − B·C) / (B·(D − C))
    — integer products throughout (D ~ 10^26 at 10^12 ratings needs
    decimal, not int64), ONE double divide, floor-1e-6 micro. Constant
    panels (D = C, every rater always says the same thing) → NULL.

    Plan: one (item, category) exchange for the n_ij counts (map-side
    combined), one item-sized rollup for Σ n_ij², one |categories|-row
    rollup for the column totals, three scalar aggregates — the corpus
    never shuffles twice.
    """
    nij = ratings.groupBy(
        F.col(item).alias("__i"), F.col(category).alias("__c")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    per_item = nij.groupBy("__i").agg(
        F.sum(F.col("__n") * F.col("__n")).cast("decimal(38,0)").alias("__s2"),
        F.sum("__n").cast("bigint").alias("__m"),
    )
    per_cat = nij.groupBy("__c").agg(
        F.sum("__n").cast("decimal(38,0)").alias("__cj")
    )
    scal_i = per_item.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n_items"),
        F.sum("__s2").cast("decimal(38,0)").alias("__ss2"),
        F.min("__m").alias("__m_min"),
        F.max("__m").alias("__m_max"),
    )
    scal_c = per_cat.agg(
        F.sum(F.col("__cj") * F.col("__cj")).cast("decimal(38,0)").alias("__C")
    )
    m_ = scal_i.crossJoin(F.broadcast(scal_c))
    n = F.col("__n_items")
    m = F.col("__m_min").cast("decimal(38,0)")
    A = F.col("__ss2") - n * m
    B = n * m * (m - 1)
    C = F.col("__C")
    D = (n * m) * (n * m)
    num = (A * D - B * C).cast("double")
    den = (B * (D - C)).cast("double")
    return m_.select(
        n.cast("bigint").alias("n_items"),
        F.col("__m_min").cast("bigint").alias("m_raters"),
        F.when(
            (F.col("__m_min") == F.col("__m_max"))
            & (F.col("__m_min") >= 2)
            & (den > 0),
            F.floor(num / den * 1e6) / 1e6,
        ).alias("kappa"),
    )


def macro_f1(
    preds: DataFrame,
    y_true: str = "y_true",
    y_pred: str = "y_pred",
) -> DataFrame:
    """Multi-class classification report: per-class tp/fp/fn,
    precision/recall/F1, plus a ``__macro__`` summary row — the eval
    that pairs with ``auc_eval`` (ranking) and ``calibration_bins``
    (probability quality) for hard class decisions.

    Conventions match sklearn ``zero_division=0``: an undefined ratio
    (empty denominator) scores 0, and the macro average runs over ALL
    classes observed in EITHER column — so a class the model never
    predicts still drags the macro down. All ratios integer-micro DIV;
    F1 = 2·p·r DIV (p+r) over the micro ints (≤ 2·10^12, exact).

    Plan: ONE map-side-combined (true, pred) contingency exchange —
    |classes|² rows — then broadcast-joined marginals on the tiny
    frame; the corpus is scanned once and never shuffled again.
    """
    cells = preds.groupBy(
        F.col(y_true).alias("__t"), F.col(y_pred).alias("__p")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    true_tot = cells.groupBy(F.col("__t").alias("class")).agg(
        F.sum("__n").cast("bigint").alias("__tt")
    )
    pred_tot = cells.groupBy(F.col("__p").alias("class")).agg(
        F.sum("__n").cast("bigint").alias("__pt")
    )
    diag = cells.where(F.col("__t") == F.col("__p")).select(
        F.col("__t").alias("class"), F.col("__n").alias("__tp")
    )
    spine = (
        true_tot.join(pred_tot, "class", "full_outer")
        .join(diag, "class", "full_outer")
        .select(
            "class",
            F.coalesce("__tp", F.lit(0)).cast("bigint").alias("tp"),
            (F.coalesce("__pt", F.lit(0)) - F.coalesce("__tp", F.lit(0)))
            .cast("bigint")
            .alias("fp"),
            (F.coalesce("__tt", F.lit(0)) - F.coalesce("__tp", F.lit(0)))
            .cast("bigint")
            .alias("fn"),
        )
    )
    p = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.expr("tp * 1000000 DIV (tp + fp)"),
    ).otherwise(F.lit(0))
    r = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.expr("tp * 1000000 DIV (tp + fn)"),
    ).otherwise(F.lit(0))
    scored = spine.select(
        "class",
        "tp",
        "fp",
        "fn",
        p.cast("bigint").alias("precision_micro"),
        r.cast("bigint").alias("recall_micro"),
    ).select(
        "*",
        F.when(
            F.col("precision_micro") + F.col("recall_micro") > 0,
            F.expr(
                "2 * precision_micro * recall_micro "
                "DIV (precision_micro + recall_micro)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("f1_micro"),
    )
    macro = scored.agg(
        F.lit("__macro__").alias("class"),
        F.sum("tp").cast("bigint").alias("tp"),
        F.sum("fp").cast("bigint").alias("fp"),
        F.sum("fn").cast("bigint").alias("fn"),
        F.expr("sum(precision_micro) DIV count(1)")
        .cast("bigint")
        .alias("precision_micro"),
        F.expr("sum(recall_micro) DIV count(1)")
        .cast("bigint")
        .alias("recall_micro"),
        F.expr("sum(f1_micro) DIV count(1)").cast("bigint").alias("f1_micro"),
    )
    return scored.unionByName(macro)


def periodicity_report(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    n_buckets: int = 24,
) -> DataFrame:
    """Per-entity hour-of-day periodicity score — a chi-square
    statistic of the entity's hour histogram against uniform. Human
    traffic has strong daily structure (chi2 >> n_buckets); bots and
    replayed/synthetic transcripts are flat (chi2 ≈ n_buckets) or
    spike on one hour (chi2 → n·(B−1)). The anomaly screen next to
    ``behavior_profile``: that one looks at WHAT an entity does, this
    one at WHEN.

    Exactness: with e = n/B expected per bucket and o_h observed,
    ``chi2 = Σ_h (o_h − e)²/e = (B·Σo² − n²)/n`` — a single integer
    rational. Products ride decimal(38,0) (B·Σo²·10⁶ overflows int64
    past ~6·10⁵ rows/entity), one integer DIV, reported micro-scaled.
    Zero-count buckets contribute through the closed form — no
    24-row densification per entity is ever materialized.

    Plan: one map-side-combined (entity, hour) count, one
    entity-sized rollup — two exchanges, both count-frame-sized; the
    events table never shuffles full rows.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    per_hour = (
        events.select(
            F.col(entity_col).alias("entity"),
            F.floor(
                F.hour(F.col(ts_col)) * F.lit(n_buckets) / F.lit(24)
            )
            .cast("int")
            .alias("__h"),
        )
        .groupBy("entity", "__h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__o"))
    )
    d38 = "decimal(38,0)"
    agg = per_hour.groupBy("entity").agg(
        F.sum("__o").cast("bigint").alias("n_events"),
        F.sum(F.col("__o").cast(d38) * F.col("__o").cast(d38))
        .cast(d38)
        .alias("__so2"),
        F.count(F.lit(1)).cast("bigint").alias("active_buckets"),
    )
    return agg.select(
        "entity",
        "n_events",
        "active_buckets",
        F.expr(
            f"CAST((CAST({n_buckets} AS decimal(38,0)) * __so2"
            f" - CAST(n_events AS decimal(38,0))"
            f" * CAST(n_events AS decimal(38,0)))"
            f" * CAST(1000000 AS decimal(38,0))"
            f" DIV CAST(n_events AS decimal(38,0)) AS BIGINT)"
        ).alias("chi2_micro"),
    )


def krippendorff_alpha(
    ratings: DataFrame,
    item: str = "item_id",
    category: str = "category",
    max_raters: int = 3,
) -> DataFrame:
    """Krippendorff's alpha (nominal data) — the agreement coefficient
    for RAGGED rater panels, which is exactly the case
    ``fleiss_kappa`` refuses (Fleiss needs every item rated by the
    same m raters; real labeling queues never are). Units with fewer
    than 2 ratings are unpairable and excluded per the definition.

    Exactness: with n_uc the unit×category counts, m_u = Σ_c n_uc,
    pairable values n = Σ m_u and marginals n_c,

      D_o·L = Σ_u (L/(m_u−1)) · (m_u(m_u−1) − Σ_c n_uc(n_uc−1))
      α = 1 − D_o·L·(n−1) / (L·(n² − Σ_c n_c²))

    where L = lcm(1…max_raters−1) clears every per-unit denominator,
    so the accumulation is EXACT decimal(38,0) and only the final α
    is one double divide (floor-1e-6, the fleiss/cohen discipline).
    Units with m_u > max_raters would make L/(m_u−1) non-integral;
    they are EXCLUDED and surfaced in ``n_units_over_cap`` — never
    silently folded in. All ratings identical (n² = Σ n_c²) → NULL.

    Plan: one (item, category) exchange, one item rollup, one
    |categories|-row rollup, two scalar aggregates — same shape as
    fleiss_kappa, one extra broadcast of three scalars.
    """
    if max_raters < 2:
        raise ValueError("max_raters must be >= 2")
    L = 1
    for d in range(1, max_raters):
        g, a, b = 1, L, d
        while b:
            a, b = b, a % b
        g = a
        L = L * d // g
    d38 = "decimal(38,0)"
    nuc = ratings.groupBy(
        F.col(item).alias("__u"), F.col(category).alias("__c")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    per_unit = nuc.groupBy("__u").agg(
        F.sum("__n").cast("bigint").alias("__m"),
        F.sum(F.col("__n") * (F.col("__n") - 1))
        .cast(d38)
        .alias("__snn1"),
    )
    unit_scal = per_unit.agg(
        F.sum(
            F.when(
                (F.col("__m") >= 2) & (F.col("__m") <= max_raters),
                F.expr(f"CAST({L} DIV (__m - 1) AS decimal(38,0))")
                * (
                    F.col("__m").cast(d38)
                    * (F.col("__m") - 1).cast(d38)
                    - F.col("__snn1")
                ),
            ).otherwise(F.lit(0).cast(d38))
        ).alias("__dol"),
        F.sum(
            F.when(
                (F.col("__m") >= 2) & (F.col("__m") <= max_raters),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("__n_units"),
        F.sum(F.when(F.col("__m") > max_raters, 1).otherwise(0))
        .cast("bigint")
        .alias("n_units_over_cap"),
    )
    # marginals over INCLUDED (pairable, under-cap) units only
    inc = nuc.join(
        per_unit.filter(
            (F.col("__m") >= 2) & (F.col("__m") <= max_raters)
        ).select("__u"),
        "__u",
    )
    per_cat = inc.groupBy("__c").agg(
        F.sum("__n").cast(d38).alias("__nc")
    )
    cat_scal = per_cat.agg(
        F.sum("__nc").cast(d38).alias("__nv"),
        F.sum(F.col("__nc") * F.col("__nc")).cast(d38).alias("__snc2"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
    )
    m_ = unit_scal.crossJoin(F.broadcast(cat_scal))
    nv = F.col("__nv")
    num = (F.col("__dol") * (nv - 1)).cast("double")
    den = (F.lit(L).cast(d38) * (nv * nv - F.col("__snc2"))).cast(
        "double"
    )
    return m_.select(
        F.col("__n_units").alias("n_units"),
        nv.cast("bigint").alias("n_values"),
        F.col("n_categories"),
        F.col("n_units_over_cap"),
        F.when(
            (F.col("__n_units") > 0) & (den > 0),
            F.floor((F.lit(1.0) - num / den) * 1e6) / 1e6,
        ).alias("alpha"),
    )


def pass_at_k(
    samples: DataFrame,
    task: str = "task_id",
    correct: str = "correct",
    k: int = 2,
) -> DataFrame:
    """Unbiased pass@k estimator per task (Chen et al. 2021, Codex
    §2.1 — the standard coding-agent eval): with n samples and c
    correct, ``pass@k = 1 − C(n−c,k)/C(n,k)`` — the probability at
    least one of k drawn samples is correct. The naive "run k, check
    any" is a high-variance downward-biased estimate; this is the
    exact combinatorial one.

    Exactness: C(n−c,k)/C(n,k) = Π_{i=0..k−1} (n−c−i)/(n−i) —
    numerator and denominator unroll into k-factor integer products
    on decimal(38,0) (n^k·10⁶ overflows int64 past n ~ 3·10⁶ at
    k=2), and ``pass_micro = (den − num)·10⁶ DIV den`` is one integer
    DIV. n−c < k (fewer failures than draws) → pass = 1 exactly.
    Tasks with n < k cannot be estimated: ``estimable = false`` and
    NULL pass_micro — surfaced, never dropped.

    Plan: ONE map-side-combined (task) aggregate; the k-factor
    product is a fixed-size codegen expression — no per-row Python,
    no second exchange.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    agg = samples.groupBy(F.col(task).alias("task")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum(F.col(correct).cast("bigint"))
        .cast("bigint")
        .alias("n_correct"),
    )
    n = F.col("n_samples")
    c = F.col("n_correct")
    # the k-factor products are unrolled SQL on decimal(38,0); the DIV
    # numerator den·10⁶ − num·10⁶ is nonnegative (num ≤ den), so the
    # integer-division semantics both engines share apply
    return agg.select(
        "task",
        "n_samples",
        "n_correct",
        (n >= k).alias("estimable"),
        F.when(n < k, F.lit(None).cast("bigint"))
        .when(n - c < k, F.lit(1_000_000).cast("bigint"))
        .otherwise(
            F.expr(
                f"CAST(({_prod_sql('n_samples - n_correct', k)}"
                f" * CAST(-1000000 AS decimal(38,0))"
                f" + {_prod_sql('n_samples', k)}"
                f" * CAST(1000000 AS decimal(38,0)))"
                f" DIV {_prod_sql('n_samples', k)} AS BIGINT)"
            )
        )
        .alias("pass_micro"),
    )


def _prod_sql(base: str, k: int) -> str:
    """Unrolled k-factor falling-product SQL:
    Π_{i=0..k-1} (base − i) on decimal(38,0)."""
    terms = [
        f"CAST(({base}) - {i} AS decimal(38,0))" for i in range(k)
    ]
    return "(" + " * ".join(terms) + ")"


def self_consistency_vote(
    samples: DataFrame,
    task: str = "task_id",
    answer: str = "answer",
    gold: str = "gold",
) -> DataFrame:
    """Self-consistency majority vote per task (Wang et al. 2022):
    with k sampled answers per task, the prediction is the modal
    answer (ties break to the LEXICOGRAPHICALLY SMALLEST — a
    deterministic, engine-replayable rule; "first sampled" would be
    partition-order-dependent). The agentic-eval twin of
    ``pass_at_k``: pass@k asks "did ANY sample succeed", this asks
    "does the CONSENSUS succeed" — the deployable decision rule.

    ``gold`` must be constant per task (enforced: disagreeing golds
    raise at aggregation via a distinct-count check folded into the
    same pass, never a second job).

    Plan: one (task, answer) map-side-combined count, one task-sized
    max-count rollup joined back (both frames answer-bounded), one
    min-answer rollup — three task/answer-frame exchanges, the
    samples table itself shuffles once.
    """
    counts = samples.groupBy(
        F.col(task).alias("task"), F.col(answer).alias("__a")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c"),
    )
    golds = samples.groupBy(F.col(task).alias("task")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.min(F.col(gold)).alias("__gold"),
        F.count_distinct(F.col(gold)).alias("__ng"),
    )
    maxc = counts.groupBy("task").agg(F.max("__c").alias("__mc"))
    majority = (
        counts.join(maxc, "task")
        .where(F.col("__c") == F.col("__mc"))
        .groupBy("task")
        .agg(
            F.min("__a").alias("majority_answer"),
            F.max("__mc").cast("bigint").alias("n_majority"),
        )
    )
    out = majority.join(golds, "task")
    return out.select(
        "task",
        "n_samples",
        "n_majority",
        "majority_answer",
        F.when(
            F.col("__ng") > 1,
            F.raise_error(
                F.concat(
                    F.lit("gold disagrees within task "),
                    F.col("task").cast("string"),
                )
            ),
        )
        .otherwise(F.col("__gold"))
        .alias("gold"),
        (F.col("majority_answer") == F.col("__gold")).alias("is_correct"),
    )


def slice_gap_report(
    preds: DataFrame,
    slice_col: str = "slice",
    correct_col: str = "correct",
) -> DataFrame:
    """Per-slice accuracy audit with the max-gap summary — the
    fairness / robustness gate next to macro_f1 (which slices by
    predicted CLASS; this slices by a metadata attribute — language,
    source, demographic bucket): a model that is 95% overall but 70%
    on one language ships a regression for that slice, and the GAP is
    the number review boards track.

    Output: one row per slice ``(slice, n, n_correct, acc_micro)``
    plus a ``__gap__`` row whose acc_micro is max−min over slices
    (n / n_correct carry the totals). All exact integers; the gap
    rides a second aggregate over the |slices|-row frame.

    Plan: ONE map-side-combined slice aggregate — the corpus never
    shuffles full rows.
    """
    per = preds.groupBy(F.col(slice_col).alias("slice")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col(correct_col).cast("bigint"))
        .cast("bigint")
        .alias("n_correct"),
    ).select(
        "slice",
        "n",
        "n_correct",
        F.expr("n_correct * 1000000 DIV n").cast("bigint").alias(
            "acc_micro"
        ),
    )
    gap = per.agg(
        F.lit("__gap__").alias("slice"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("n_correct").cast("bigint").alias("n_correct"),
        (F.max("acc_micro") - F.min("acc_micro"))
        .cast("bigint")
        .alias("acc_micro"),
    )
    return per.unionByName(gap)


def psi_sweep(
    df: DataFrame,
    features: Mapping[str, F.Column],
    ts: str = "ts",
) -> DataFrame:
    """Multi-feature PSI drift sweep in ONE corpus pass — the
    dashboard view over ``psi_drift`` (single feature): a feature
    store with F monitored features must NOT run F jobs; the features
    STACK into (feature, category) long form inside the scan and the
    whole sweep is one map-side-combined aggregate. ``features`` maps
    output names to already-discretized (string) columns — bucket
    numerics first (quantile_bucketize / logbucket) exactly as you
    would for a single psi_drift.

    Per (feature, category) the term math is psi_drift's, verbatim:
    ln(p/q) as a micro-nat integer combination of four bare-integer
    lns, (p−q) exact decimal rational, ONE double divide + 1e-6
    floor; one-sided categories emit NULL terms (never skipped).
    Per-feature totals ride the same |features·categories|-row frame.

    Plan: narrow F-way stack projection (one corpus read, F× rows
    into the FIRST aggregate's map side — combined before exchange),
    one (feature, category) exchange, |features|-row totals joined
    back. The corpus never shuffles.
    """
    if not features:
        raise ValueError("features must be non-empty")
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    cut = df.agg(
        ((F.min(us) + F.max(us)) / 2).cast("bigint").alias("__cut")
    )
    stacked = df.crossJoin(F.broadcast(cut)).select(
        F.when(us <= F.col("__cut"), 1).otherwise(0).alias("__h1"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"),
                        col.cast("string").alias("category"),
                    )
                    for name, col in sorted(features.items())
                ]
            )
        ).alias("__fc"),
    ).select("__h1", "__fc.feature", "__fc.category")
    counts = stacked.groupBy("feature", "category").agg(
        F.sum("__h1").cast("bigint").alias("c1"),
        F.sum(1 - F.col("__h1")).cast("bigint").alias("c2"),
    )
    totals = counts.groupBy("feature").agg(
        F.sum("c1").cast("bigint").alias("__n1"),
        F.sum("c2").cast("bigint").alias("__n2"),
    )
    j = counts.join(F.broadcast(totals), "feature")

    def _lnm(c) -> F.Column:
        return F.floor(F.log(c.cast("double")) * 1e6).cast("bigint")

    l_micro = (
        _lnm(F.col("c1"))
        - _lnm(F.col("__n1"))
        - _lnm(F.col("c2"))
        + _lnm(F.col("__n2"))
    )
    d38 = "decimal(38,0)"
    num = F.col("c1").cast(d38) * F.col("__n2").cast(d38) - F.col(
        "c2"
    ).cast(d38) * F.col("__n1").cast(d38)
    term = (
        (num * l_micro.cast(d38)).cast("double")
        / (
            (F.col("__n1").cast("double") * F.col("__n2").cast("double"))
            * F.lit(1e6)
        )
    )
    psi = F.when(
        (F.col("c1") > 0) & (F.col("c2") > 0),
        F.floor(term * 1e6) / 1e6,
    )
    return j.select(
        "feature", "category", "c1", "c2", psi.alias("psi_term")
    )


def fano_burstiness(
    events: DataFrame,
    entity: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Per-entity burstiness as the Fano factor (variance/mean) of
    DAILY event counts — the over-dispersion screen: a Poisson-steady
    human sits near 1, batch/bot traffic is over-dispersed (≫1),
    metronome replays under-dispersed (≪1). Completes the
    temporal-anomaly shelf: ``periodicity_report`` sees WHICH hours,
    ``burst_windows`` finds WHERE the bursts are, this scores HOW
    bursty an entity is in one number.

    Exactness: over the entity's n ACTIVE days with counts x_d,
    ``fano = var/mean = (n·Σx² − (Σx)²) / (n·Σx)`` (population
    variance) — a single integer rational; products decimal(38,0),
    one integer DIV, micro-scaled, numerator ≥ 0 by Cauchy-Schwarz
    (no signed-DIV divergence). Constant daily counts give exactly
    0; the n=1 case is degenerate (variance 0 by construction) —
    ``n_days`` is in the output so callers can filter it.

    Plan: (entity, day) map-side-combined reduce, one entity rollup —
    the disorder/periodicity exchange shape, corpus never shuffles
    full rows.
    """
    day = F.datediff(
        F.to_date(F.col(ts).cast("timestamp")), F.lit("1970-01-01")
    ).cast("bigint")
    per_day = events.select(
        F.col(entity).alias("entity"), day.alias("__d")
    ).groupBy("entity", "__d").agg(
        F.count(F.lit(1)).cast("bigint").alias("__x")
    )
    d38 = "decimal(38,0)"
    agg = per_day.groupBy("entity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("__x").cast("bigint").alias("n_events"),
        F.sum(F.col("__x").cast(d38) * F.col("__x").cast(d38))
        .cast(d38)
        .alias("__sx2"),
    )
    return agg.select(
        "entity",
        "n_days",
        "n_events",
        F.expr(
            "CAST((CAST(n_days AS decimal(38,0)) * __sx2"
            " - CAST(n_events AS decimal(38,0))"
            " * CAST(n_events AS decimal(38,0)))"
            " * CAST(1000000 AS decimal(38,0))"
            " DIV (CAST(n_days AS decimal(38,0))"
            "      * CAST(n_events AS decimal(38,0))) AS BIGINT)"
        ).alias("fano_micro"),
    )


def trending_report(
    events: DataFrame,
    category: str = "event_type",
    ts: str = "ts",
    k: int = 10,
) -> DataFrame:
    """Half-over-half trending report: each category's count and
    dense rank in the first vs second half of the time range, with
    the rank delta — the "what's rising / falling / newly entered"
    dashboard next to psi_drift (which scores the SHIFT; this names
    the movers). Categories absent from a half carry NULL rank there
    (a NULL→rank entry IS the trend signal).

    Plan: the time cut is a lazy broadcast scalar; ONE
    map-side-combined CASE-count per category; two dense-rank windows
    over the |categories|-row frame; top-k by best (min) rank across
    halves, ties by category. All exact integers.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    cut = events.agg(
        ((F.min(us) + F.max(us)) / 2).cast("bigint").alias("__cut")
    )
    counts = (
        events.crossJoin(F.broadcast(cut))
        .select(
            F.col(category).alias("category"),
            F.when(us <= F.col("__cut"), 1).otherwise(0).alias("__h1"),
        )
        .groupBy("category")
        .agg(
            F.sum("__h1").cast("bigint").alias("c1"),
            F.sum(1 - F.col("__h1")).cast("bigint").alias("c2"),
        )
    )
    w1 = Window.orderBy(F.col("c1").desc(), F.col("category"))
    w2 = Window.orderBy(F.col("c2").desc(), F.col("category"))
    ranked = counts.select(
        "category",
        "c1",
        "c2",
        F.when(F.col("c1") > 0, F.dense_rank().over(w1))
        .cast("bigint")
        .alias("rank_before"),
        F.when(F.col("c2") > 0, F.dense_rank().over(w2))
        .cast("bigint")
        .alias("rank_after"),
    )
    best = F.least(
        F.coalesce(F.col("rank_before"), F.lit(1 << 62)),
        F.coalesce(F.col("rank_after"), F.lit(1 << 62)),
    )
    return (
        ranked.orderBy(best, F.col("category"))
        .limit(k)
        .select(
            "category",
            "c1",
            "c2",
            "rank_before",
            "rank_after",
            (F.col("rank_before") - F.col("rank_after")).alias(
                "rank_delta"
            ),
        )
    )


def nzv_report(
    df: DataFrame,
    features: Mapping[str, F.Column],
    freq_ratio_max: int = 19,
    unique_pct_min_micro: int = 100_000,
) -> DataFrame:
    """Near-zero-variance feature screen (caret's ``nearZeroVar``,
    public R toolchain convention): a feature is NZV when its most
    common value dominates (freq ratio top/second > ``freq_ratio_max``)
    AND it has few distinct values (unique share below
    ``unique_pct_min_micro``) — such columns carry no signal but cost
    storage, shuffle bytes, and encoder cardinality. The first screen
    a feature-store sweep runs, before correlations.

    All features stack into ONE (feature, value) count pass (the
    psi_sweep shape); per feature the top-2 value counts come from a
    |feature·values|-frame window, never a second corpus read. Ratios
    exact integer-micro; a single-valued feature has no second value
    — freq_ratio NULL, flagged NZV by the distinct-share arm.

    Output per feature: ``(feature, n_rows, n_distinct, top_count,
    second_count, freq_ratio_micro, unique_micro, nzv)``.
    """
    if not features:
        raise ValueError("features must be non-empty")
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"),
                        col.cast("string").alias("value"),
                    )
                    for name, col in sorted(features.items())
                ]
            )
        ).alias("__fv")
    ).select("__fv.feature", "__fv.value")
    counts = stacked.groupBy("feature", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    w = Window.partitionBy("feature").orderBy(
        F.col("__c").desc(), F.col("value")
    )
    ranked = counts.withColumn("__r", F.row_number().over(w))
    per = ranked.groupBy("feature").agg(
        F.sum("__c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max(F.when(F.col("__r") == 1, F.col("__c")))
        .cast("bigint")
        .alias("top_count"),
        F.max(F.when(F.col("__r") == 2, F.col("__c")))
        .cast("bigint")
        .alias("second_count"),
    )
    freq_ratio = F.expr(
        "CASE WHEN second_count IS NOT NULL"
        " THEN top_count * 1000000 DIV second_count END"
    ).cast("bigint")
    unique = F.expr("n_distinct * 1000000 DIV n_rows").cast("bigint")
    return per.select(
        "feature",
        "n_rows",
        "n_distinct",
        "top_count",
        "second_count",
        freq_ratio.alias("freq_ratio_micro"),
        unique.alias("unique_micro"),
        (
            (
                F.col("second_count").isNull()
                | (freq_ratio > freq_ratio_max * 1_000_000)
            )
            & (unique < unique_pct_min_micro)
        ).alias("nzv"),
    )


def identical_features(
    df: DataFrame,
    features: Mapping[str, F.Column],
) -> DataFrame:
    """Duplicate-column detector: for every feature pair, the exact
    count of rows where the two (stringified, NULL-safe) values
    differ — feature stores accumulate renamed copies of the same
    signal, and a duplicated column costs double storage/shuffle AND
    silently double-weights the signal in any L2-regularized model.
    ``identical = (n_diff == 0)``.

    Plan: ONE aggregate computing |pairs| NULL-safe CASE sums
    map-side — zero shuffles at any corpus size (the comissing_matrix
    shape); the pair rows unpivot from the single result row.
    """
    if len(features) < 2:
        raise ValueError("need at least two features")
    names = sorted(features)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    for a, b in pairs:
        ca = features[a].cast("string")
        cb = features[b].cast("string")
        aggs.append(
            F.sum((~ca.eqNullSafe(cb)).cast("bigint"))
            .cast("bigint")
            .alias(f"__d_{a}_{b}")
        )
    one = df.agg(*aggs)
    stack = ", ".join(f"'{a}', '{b}', __d_{a}_{b}" for a, b in pairs)
    long = one.selectExpr(
        f"stack({len(pairs)}, {stack}) AS (feat_a, feat_b, n_diff)",
        "__n",
    )
    return long.select(
        "feat_a",
        "feat_b",
        F.col("__n").alias("n_rows"),
        "n_diff",
        (F.col("n_diff") == 0).alias("identical"),
    )


def welch_t_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t between two named groups, from EXACT
    moments: the A/B significance number ``ab_conversion_report``'s
    rate deltas and ``mann_whitney_drift``'s rank statistic don't give
    (a mean-shift test that survives unequal group variances — the
    default recommendation over Student's t).  Reports n, exact
    integer-micro means, the t statistic and the Welch–Satterthwaite
    degrees of freedom.  No p-value on purpose: that needs a t CDF,
    which neither engine computes exactly — consumers threshold on
    |t| with df in hand.

    Plan: values quantize to cents (decimal cast, the repo-wide
    exactness contract), both groups' three moments (n, Σx, Σx²)
    accumulate in ONE conditional map-side-combined aggregate —
    single corpus scan, zero shuffle, one output row.  Floats appear
    only in the final scalar formula over exact decimals, with a
    fixed IEEE op order any engine replays bit for bit.

    Headroom: |cents| ≤ 10^8 with 10^12 rows keeps Σx² ≤ 10^28 and
    n·Σx² ≤ 10^40 — past decimal(38,0) ONLY if both bounds are hit
    together; at the documented |value| ≤ 10^4 input contract the
    products stay ≤ 10^36. Exact at campaign scale.
    """
    d38 = "decimal(38,0)"
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast(d38)
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    zero = F.lit(0).cast(d38)
    row = df.where(in_a | in_b).agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast(d38).alias("__na"),
        F.sum(F.when(in_a, cents).otherwise(zero)).alias("__sa"),
        F.sum(F.when(in_a, cents * cents).otherwise(zero)).alias("__s2a"),
        F.sum(F.when(in_b, 1).otherwise(0)).cast(d38).alias("__nb"),
        F.sum(F.when(in_b, cents).otherwise(zero)).alias("__sb"),
        F.sum(F.when(in_b, cents * cents).otherwise(zero)).alias("__s2b"),
    )
    na, sa, s2a = F.col("__na"), F.col("__sa"), F.col("__s2a")
    nb, sb, s2b = F.col("__nb"), F.col("__sb"), F.col("__s2b")
    nad, nbd = na.cast("double"), nb.cast("double")
    va = (na * s2a - sa * sa).cast("double") / (nad * (nad - 1.0))
    vb = (nb * s2b - sb * sb).cast("double") / (nbd * (nbd - 1.0))
    sea, seb = va / nad, vb / nbd
    t = (sa.cast("double") / nad - sb.cast("double") / nbd) / F.sqrt(sea + seb)
    dfw = ((sea + seb) * (sea + seb)) / (
        (sea * sea) / (nad - 1.0) + (seb * seb) / (nbd - 1.0)
    )
    ok = (na > 1) & (nb > 1)
    return row.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.expr("CAST(__sa * 10000 AS DECIMAL(38,0)) DIV __na")
        .cast("bigint")
        .alias("mean_a_micro"),
        F.expr("CAST(__sb * 10000 AS DECIMAL(38,0)) DIV __nb")
        .cast("bigint")
        .alias("mean_b_micro"),
        F.when(ok, F.floor(t * F.lit(1_000_000.0)).cast("bigint")).alias(
            "t_micro"
        ),
        F.when(ok, F.floor(dfw * F.lit(1_000_000.0)).cast("bigint")).alias(
            "df_micro"
        ),
    )


def srm_check(
    df: DataFrame,
    variant_col: str,
    weights: dict[str, int],
    threshold_micro: int | None = None,
) -> DataFrame:
    """Sample-ratio-mismatch check for an A/B assignment: the chi-square
    goodness-of-fit of observed variant counts against the DESIGNED
    integer split (e.g. ``{"control": 2, "a": 1, "b": 1}`` for
    50/25/25).  SRM is the first gate any experiment readout must pass
    — a biased assignment (bot filtering, logging loss, redirect bugs)
    invalidates every downstream metric, and ``welch_t_report`` /
    ``ab_conversion_report`` happily compute nonsense on a skewed
    split.  Flags when chi² exceeds ``threshold_micro`` (pass the
    α=0.001 critical value for df = |variants|−1; the conventional SRM
    alarm level).

    Exactness: with D = Σw and W = Πw, chi² = Σᵢ (D·oᵢ − wᵢ·T)² /
    (D·wᵢ·T) — the numerator Σᵢ (D·oᵢ − wᵢ·T)²·(W/wᵢ) accumulates in
    decimal(38,0) (EXACT integers; o ≤ 10¹² with single-digit weights
    keeps terms ≤ 10³³), and the single division by D·W·T happens once
    at micro precision: chi2_micro = (num·10⁶) DIV (D·W·T).  No
    floats anywhere.

    Plan: one conditional map-side-combined aggregate over the corpus
    (the count floor for any SRM check), then a one-row scalar select.
    Rows whose variant is not in ``weights`` are counted and surfaced
    as ``n_unassigned`` (an unknown-variant leak is itself an SRM-class
    bug) but excluded from the chi² — matching the designed-split null.
    """
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive integers per variant")
    names = sorted(weights)
    D = sum(weights.values())
    W = 1
    for w in weights.values():
        W *= w
    d38 = "decimal(38,0)"
    v = F.col(variant_col)
    aggs = [
        F.sum(F.when(v == n, 1).otherwise(0)).cast(d38).alias(f"__o_{i}")
        for i, n in enumerate(names)
    ]
    aggs.append(
        F.sum(F.when(v.isin(list(names)), 0).otherwise(1))
        .cast("bigint")
        .alias("n_unassigned")
    )
    row = df.agg(*aggs)
    T = sum(F.col(f"__o_{i}") for i in range(len(names)))
    num = None
    for i, n in enumerate(names):
        dev = F.lit(D).cast(d38) * F.col(f"__o_{i}") - F.lit(
            weights[n]
        ).cast(d38) * T
        term = (dev * dev * F.lit(W // weights[n]).cast(d38)).cast(d38)
        num = term if num is None else (num + term).cast(d38)
    chi2 = F.expr(
        f"CAST(__num * 1000000 AS DECIMAL(38,0))"
        f" DIV CAST({D} * {W} AS DECIMAL(38,0)) DIV __t"
    ).cast("bigint")
    out = row.withColumn("__num", num).withColumn(
        "__t", T.cast(d38)
    ).select(
        T.cast("bigint").alias("n_assigned"),
        F.col("n_unassigned"),
        F.lit(len(names) - 1).cast("bigint").alias("dof"),
        F.when(T > 0, chi2).alias("chi2_micro"),
        *[
            F.col(f"__o_{i}").cast("bigint").alias(f"n_{n}")
            for i, n in enumerate(names)
        ],
    )
    if threshold_micro is not None:
        out = out.withColumn(
            "srm_flag",
            F.coalesce(
                F.col("chi2_micro") > F.lit(threshold_micro), F.lit(False)
            ),
        )
    return out


def mcc_report(
    df: DataFrame,
    label: F.Column,
    pred: F.Column,
) -> DataFrame:
    """Binary confusion matrix + Matthews correlation coefficient: the
    single-number classifier summary that stays honest under class
    imbalance (accuracy saturates, F1 ignores TN; MCC uses all four
    cells — the recommended default for imbalanced eval sets).
    ``label`` / ``pred`` are boolean expressions.

    Output (one row): tp/fp/tn/fn, exact ``accuracy_micro`` (integer
    DIV), and ``mcc_micro`` = floor(mcc·10⁶) — NULL when any margin is
    zero (MCC undefined).  The MCC numerator tp·tn − fp·fn accumulates
    in decimal(38,0) (exact to 10¹⁹ rows); the denominator is computed
    as √(tp+fp)·√(tp+fn)·√(tn+fp)·√(tn+fn) in a FIXED IEEE op order —
    each margin ≤ 2⁵³ converts to double exactly, so any engine
    replays the same bits (the welch_t_report discipline).

    Plan: ONE conditional map-side-combined aggregate — single corpus
    scan, zero shuffle, one output row.  NULL labels/preds are counted
    into neither cell and surfaced as ``n_null``.
    """
    d38 = "decimal(38,0)"
    lb, pb = label, pred
    cell = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast(d38)  # noqa: E731
    row = df.agg(
        cell(lb & pb).alias("__tp"),
        cell(~lb & pb).alias("__fp"),
        cell(~lb & ~pb).alias("__tn"),
        cell(lb & ~pb).alias("__fn"),
        F.sum(F.when(lb.isNull() | pb.isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null"),
    )
    tp, fp, tn, fn = (F.col(f"__{c}") for c in ("tp", "fp", "tn", "fn"))
    total = (tp + fp + tn + fn).cast(d38)
    num = (tp * tn - fp * fn).cast(d38).cast("double")
    den = (
        F.sqrt((tp + fp).cast("double"))
        * F.sqrt((tp + fn).cast("double"))
        * F.sqrt((tn + fp).cast("double"))
        * F.sqrt((tn + fn).cast("double"))
    )
    ok = (tp + fp > 0) & (tp + fn > 0) & (tn + fp > 0) & (tn + fn > 0)
    return row.select(
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        tn.cast("bigint").alias("tn"),
        fn.cast("bigint").alias("fn"),
        F.col("n_null"),
        F.when(
            total > 0,
            F.expr(
                "CAST((__tp + __tn) * 1000000 AS DECIMAL(38,0))"
                " DIV (__tp + __fp + __tn + __fn)"
            ).cast("bigint"),
        ).alias("accuracy_micro"),
        F.when(ok, F.floor(num / den * F.lit(1_000_000.0)).cast("bigint"))
        .alias("mcc_micro"),
    )


def theil_sen_trend(
    df: DataFrame,
    entity_col: str,
    x_col: str,
    y_col: str,
    max_points: int = 2000,
) -> DataFrame:
    """Per-entity Theil–Sen trend: the MEDIAN of all pairwise slopes
    (y₂−y₁)/(x₂−x₁) — the robust twin of ``rolling_slope``'s least
    squares, immune to the single-outlier day that drags an OLS fit
    (breakdown point 29% vs 0%).  Expects integer x (e.g. epoch days)
    and integer y (cents); emits ``(entity, n_points, n_pairs,
    slope_micro)`` with slope_micro the LOWER median of
    (Δy·10⁶) DIV Δx — every step exact integer; integer division
    truncates toward zero, the shared semantics of Spark's DIV and
    DuckDB's // (verified: both give -7÷2 = -3), so signed slopes
    replay bit-for-bit.

    Plan: one (entity, x) rollup de-dupes x (last-write max), the
    per-entity pair build is a bounded equi-self-join ON THE ENTITY
    KEY ONLY (fan-out k(k−1)/2 with k = distinct x per entity —
    ``max_points`` guards the contract: entities beyond it raise
    rather than silently quadratic-blow; daily rollups keep k ≤ 10³),
    then one rank window picks the median.  Three entity-key
    exchanges, all uniform; nothing corpus-quadratic.
    """
    pts = df.groupBy(
        F.col(entity_col).alias("entity"), F.col(x_col).alias("__x")
    ).agg(F.max(F.col(y_col)).cast("bigint").alias("__y"))
    counts = pts.groupBy("entity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points")
    )
    # lazy in-plan guard (no extra eager scan): an entity past the
    # quadratic contract fails the job with a named error instead of
    # silently exploding the pair build
    counts = counts.withColumn(
        "n_points",
        F.when(
            F.col("n_points") > max_points,
            F.raise_error(
                F.concat(
                    F.lit("theil_sen_trend: entity "),
                    F.col("entity").cast("string"),
                    F.lit(
                        f" exceeds max_points={max_points}; roll x up"
                        " to a coarser grain first"
                    ),
                )
            ).cast("bigint"),
        ).otherwise(F.col("n_points")),
    )
    a, b = pts.alias("a"), pts.alias("b")
    pairs = (
        a.join(b, "entity")
        .where(F.col("a.__x") < F.col("b.__x"))
        .select(
            "entity",
            (
                (F.col("b.__y") - F.col("a.__y")) * F.lit(1_000_000)
            ).alias("__dy"),
            (F.col("b.__x") - F.col("a.__x")).alias("__dx"),
        )
        .select(
            "entity",
            F.expr("__dy DIV __dx").cast("bigint").alias("__s"),
        )
    )
    w = Window.partitionBy("entity").orderBy("__s")
    ranked = pairs.select(
        "entity",
        "__s",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("entity")).alias("__np"),
    )
    med = ranked.where(
        F.col("__rn") == F.expr("(__np + 1) DIV 2")
    ).select(
        "entity",
        F.col("__np").cast("bigint").alias("n_pairs"),
        F.col("__s").alias("slope_micro"),
    )
    return med.join(counts, "entity").select(
        "entity", "n_points", "n_pairs", "slope_micro"
    )


def wilson_lower_bounds(
    df: DataFrame,
    group_col: str,
    success: F.Column,
    trial: F.Column,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Per-group Wilson-score LOWER confidence bound on a rate — the
    small-sample-honest ranking statistic: a 2/2 campaign beats a
    180/200 campaign on raw rate but loses (correctly) on the Wilson
    bound, which shrinks toward zero as n shrinks.  The standard sort
    key for "best performing X" dashboards and bandit cold-starts.

    ``success`` / ``trial`` are boolean row predicates counted in ONE
    conditional map-side-combined aggregate (single corpus scan, the
    |groups|-key exchange).  Rates and the bound are formed from the
    exact integer counts with a FIXED IEEE op order (the welch /
    pearson discipline) and floor-truncated to micro; p̂ is clamped to
    [0, 1] so disjoint success/trial definitions can't produce a
    negative radicand.  Emits ``(group, n_trials, n_successes,
    rate_micro, wilson_lb_micro)``; groups with zero trials report
    NULL bounds (surfaced, not dropped).
    """
    g = df.groupBy(F.col(group_col).alias("group")).agg(
        F.sum(F.when(trial, 1).otherwise(0)).cast("bigint").alias("n_trials"),
        F.sum(F.when(success, 1).otherwise(0))
        .cast("bigint")
        .alias("n_successes"),
    )
    n = F.col("n_trials").cast("double")
    p = F.least(
        F.lit(1.0),
        F.col("n_successes").cast("double") / n,
    )
    z2 = z * z
    lb = (
        p
        + F.lit(z2) / (2.0 * n)
        - F.lit(z)
        * F.sqrt(p * (1.0 - p) / n + F.lit(z2) / (4.0 * n * n))
    ) / (1.0 + F.lit(z2) / n)
    ok = F.col("n_trials") > 0
    return g.select(
        "group",
        "n_trials",
        "n_successes",
        F.when(ok, F.expr("n_successes * 1000000 DIV n_trials"))
        .cast("bigint")
        .alias("rate_micro"),
        F.when(ok, F.floor(lb * F.lit(1_000_000.0)).cast("bigint")).alias(
            "wilson_lb_micro"
        ),
    )


def diff_in_diff(
    df: DataFrame,
    treated: F.Column,
    post: F.Column,
    value_col: str = "value",
) -> DataFrame:
    """Difference-in-differences estimator over a 2×2 design
    (treated × post): DiD = (ȳ_treat,post − ȳ_treat,pre) −
    (ȳ_ctrl,post − ȳ_ctrl,pre) — the parallel-trends causal readout
    when assignment wasn't randomized (a feature shipped to one cohort
    at a known date), complementing ``welch_t_report`` (randomized) and
    ``cuped_ab`` (variance-reduced).  ``treated`` / ``post`` are
    boolean row expressions.

    All four cell sums and counts accumulate exactly in ONE
    conditional map-side-combined aggregate (single scan, zero
    shuffle); each cell mean is the floored integer micro-cent
    (S·10⁶ DIV n — deterministic in any engine), and the DiD is the
    exact integer combination of the four floored means (±2 µ¢
    flooring slack per difference, documented).  Emits the four cell
    (n, mean) pairs plus ``did_micro``; NULL when any cell is empty
    (the design degenerates — surfaced, not zero-filled).
    """
    d38 = "decimal(38,0)"
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast(d38)
    cells = {
        "tp": treated & post,
        "tq": treated & ~post,
        "cp": ~treated & post,
        "cq": ~treated & ~post,
    }
    aggs = []
    for tag, cond in cells.items():
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast(d38).alias(f"__n_{tag}")
        )
        aggs.append(
            F.sum(F.when(cond, cents).otherwise(F.lit(0).cast(d38)))
            .alias(f"__s_{tag}")
        )
    row = df.agg(*aggs)
    means = {
        tag: F.expr(
            f"CAST(__s_{tag} * 10000 AS DECIMAL(38,0)) DIV __n_{tag}"
        ).cast("bigint")
        for tag in cells
    }
    ok = None
    for tag in cells:
        c = F.col(f"__n_{tag}") > 0
        ok = c if ok is None else (ok & c)
    out_cols = []
    for tag, name in (("tp", "treat_post"), ("tq", "treat_pre"),
                      ("cp", "ctrl_post"), ("cq", "ctrl_pre")):
        out_cols.append(
            F.col(f"__n_{tag}").cast("bigint").alias(f"n_{name}")
        )
        out_cols.append(
            F.when(F.col(f"__n_{tag}") > 0, means[tag]).alias(
                f"mean_{name}_micro"
            )
        )
    did = (means["tp"] - means["tq"]) - (means["cp"] - means["cq"])
    return row.select(*out_cols, F.when(ok, did).alias("did_micro"))


def mde_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    z_alpha: float = 1.959963984540054,
    z_beta: float = 0.8416212335729143,
) -> DataFrame:
    """Minimum detectable effect for the two-sample mean test at the
    OBSERVED sample sizes and variance — the power-analysis readout
    run BEFORE believing a null result: a "no significant difference"
    with an MDE of 40% of the mean is an underpowered shrug, not
    evidence.  MDE = (z_{α/2} + z_β) · √(s²_a/n_a + s²_b/n_b), the
    standard two-sample formula at α=0.05 two-sided / 80% power by
    default.

    Moments accumulate exactly (the ``welch_t_report`` plan: ONE
    conditional map-side-combined aggregate, decimal(38,0), single
    scan); the MDE forms from the exact scalars in a fixed IEEE op
    order, floored to micro-cents.  Also emits the observed means and
    the MDE as a share of the pooled mean (``mde_rel_micro``) — the
    number a reviewer actually asks for.
    """
    d38 = "decimal(38,0)"
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast(d38)
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    zero = F.lit(0).cast(d38)
    row = df.where(in_a | in_b).agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast(d38).alias("__na"),
        F.sum(F.when(in_a, cents).otherwise(zero)).alias("__sa"),
        F.sum(F.when(in_a, cents * cents).otherwise(zero)).alias("__s2a"),
        F.sum(F.when(in_b, 1).otherwise(0)).cast(d38).alias("__nb"),
        F.sum(F.when(in_b, cents).otherwise(zero)).alias("__sb"),
        F.sum(F.when(in_b, cents * cents).otherwise(zero)).alias("__s2b"),
    )
    na, sa, s2a = F.col("__na"), F.col("__sa"), F.col("__s2a")
    nb, sb, s2b = F.col("__nb"), F.col("__sb"), F.col("__s2b")
    nad, nbd = na.cast("double"), nb.cast("double")
    va = (na * s2a - sa * sa).cast("double") / (nad * (nad - 1.0))
    vb = (nb * s2b - sb * sb).cast("double") / (nbd * (nbd - 1.0))
    zsum = z_alpha + z_beta
    mde = F.lit(zsum) * F.sqrt(va / nad + vb / nbd)
    pooled_mean = (sa + sb).cast("double") / (na + nb).cast("double")
    ok = (na > 1) & (nb > 1)
    return row.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.expr("CAST(__sa * 10000 AS DECIMAL(38,0)) DIV __na")
        .cast("bigint")
        .alias("mean_a_micro"),
        F.expr("CAST(__sb * 10000 AS DECIMAL(38,0)) DIV __nb")
        .cast("bigint")
        .alias("mean_b_micro"),
        F.when(ok, F.floor(mde * F.lit(1_000_000.0)).cast("bigint")).alias(
            "mde_microcents"
        ),
        F.when(
            ok & (pooled_mean != 0.0),
            F.floor(mde / pooled_mean * F.lit(1_000_000.0)).cast("bigint"),
        ).alias("mde_rel_micro"),
    )


def anova_eta_squared(
    df: DataFrame,
    group_col: str,
    value_col: str = "value",
) -> DataFrame:
    """One-way ANOVA effect size η² = SS_between / SS_total over a
    categorical factor — "how much of the value's variance does this
    grouping explain?", the seasonality-strength / segmentation-power
    number (η² of day-of-week ≈ 0 means don't bother with dow
    features).  Exact: per-group (n, Σx) and the global Σx² accumulate
    in ONE map-side-combined groupBy (the only exchange, |groups|
    keys); SS terms form from exact decimals, η² is one fixed-order
    double division floored to micro.  Emits one row: n, k groups,
    ss_between/ss_total (micro-cents², floored) and eta2_micro.

    Headroom: S_g²·10⁶ must fit decimal(38,0) — exact while each
    group's |Σcents| ≤ 3·10¹⁵ (3·10¹³ currency units); past that,
    pre-center values (subtract a global anchor mean) before calling,
    which leaves η² unchanged and shrinks the sums.
    """
    d38 = "decimal(38,0)"
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast(d38)
    g = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum(cents).alias("__s"),
        F.sum(cents * cents).alias("__s2"),
    )
    # SS_between = Σ_g (S_g²/n_g) − S²/N ; SS_total = Σx² − S²/N.
    # Keep everything rational: scale by N·Πn? — instead form the two
    # SS terms as exact decimals divided ONCE each (micro precision).
    tot = g.agg(
        F.sum("__n").alias("__N"),
        F.sum("__s").alias("__S"),
        F.sum("__s2").alias("__S2"),
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum(
            F.expr("CAST(__s * __s * 1000000 AS DECIMAL(38,0)) DIV __n")
        ).alias("__sg2n"),
    )
    ssb = (
        F.col("__sg2n")
        - F.expr("CAST(__S * __S * 1000000 AS DECIMAL(38,0)) DIV __N")
    ).cast(d38)
    sst = (
        F.col("__S2").cast(d38) * F.lit(1_000_000).cast(d38)
        - F.expr("CAST(__S * __S * 1000000 AS DECIMAL(38,0)) DIV __N")
    ).cast(d38)
    return tot.select(
        F.col("__N").cast("bigint").alias("n"),
        "k_groups",
        ssb.cast("double").alias("__ssbd"),
        sst.cast("double").alias("__sstd"),
    ).select(
        "n",
        "k_groups",
        F.floor(F.col("__ssbd")).cast("bigint").alias("ss_between_micro"),
        F.floor(F.col("__sstd")).cast("bigint").alias("ss_total_micro"),
        F.when(
            F.col("__sstd") > 0,
            F.floor(
                F.col("__ssbd") / F.col("__sstd") * F.lit(1_000_000.0)
            ).cast("bigint"),
        ).alias("eta2_micro"),
    )


def median_of_means(
    df: DataFrame,
    value_col: str,
    key: F.Column,
    shards: int = 32,
    salt: str = "mom",
) -> DataFrame:
    """Median-of-means robust mean estimator: hash rows into
    ``shards`` deterministic buckets, take each bucket's exact mean,
    report the (lower) median of the bucket means — the estimator
    whose error concentrates even under heavy-tailed values, where
    the plain mean is hostage to the single largest outlier (a
    corrupted revenue row moves the mean by x/N but at most ONE
    bucket's mean, which the median ignores).  Emits both so the gap
    itself is the outlier diagnostic: ``(n, n_shards, mean_micro,
    mom_micro, gap_micro)``.

    Exactness: per-shard (n, Σcents) accumulate in ONE map-side-
    combined |shards|-key aggregate (the only exchange; md5 sharding
    via the repo's sample_key primitive, no rand()); shard means and
    the global mean are floored integer micro (S·10⁴ DIV n); the
    median is picked by rank over the |shards|-row frame — a bounded
    single-partition sort of 32 rows, not a corpus sort.
    """
    from dane_visual_feature_extraction_worker_spark.operators.sampling import (
        sample_key,
    )

    if shards < 1:
        raise ValueError("shards must be >= 1")
    d38 = "decimal(38,0)"
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast(d38)
    per = df.select(
        (sample_key(key, salt=salt) % shards).alias("__shard"),
        cents.alias("__c"),
    ).groupBy("__shard").agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum("__c").alias("__s"),
    )
    means = per.select(
        F.col("__n"),
        F.col("__s"),
        F.expr("CAST(__s * 10000 AS DECIMAL(38,0)) DIV __n")
        .cast("bigint")
        .alias("__m"),
    )
    w = Window.orderBy("__m")
    ranked = means.select(
        "__n",
        "__s",
        "__m",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__k"),
        F.sum("__n").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__nt"),
        F.sum("__s").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__st"),
    )
    return ranked.where(F.col("__rn") == F.expr("(__k + 1) DIV 2")).select(
        F.col("__nt").cast("bigint").alias("n"),
        F.col("__k").cast("bigint").alias("n_shards"),
        F.expr("CAST(__st * 10000 AS DECIMAL(38,0)) DIV __nt")
        .cast("bigint")
        .alias("mean_micro"),
        F.col("__m").alias("mom_micro"),
        (
            F.expr("CAST(__st * 10000 AS DECIMAL(38,0)) DIV __nt").cast(
                "bigint"
            )
            - F.col("__m")
        ).alias("gap_micro"),
    )


def isotonic_calibration(
    df: DataFrame,
    group_col: str,
    x_col: str,
    sum_col: str,
    count_col: str,
    max_bins: int = 100_000,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration by pool-adjacent-
    violators over PRE-AGGREGATED bins: input rows are
    ``(group, x, sum_cents, n)`` — e.g. score-bucket rollups from
    ``calibration_bins`` — and the output maps every x to the PAV-
    pooled mean, the classic post-hoc calibrator when Platt's sigmoid
    shape doesn't fit.  PAV is inherently sequential in x, so this is
    a legitimate ``applyInPandas`` stage: per-GROUP sequential,
    across-group parallel, with the
    bin rollup having already collapsed the corpus — the Python path
    touches |bins| rows, never events.

    Exact: pooling adds integer (sum, n) pairs; violator comparison
    is cross-multiplied integers (sum_i·n_j vs sum_j·n_i — no float
    mean anywhere); only the FINAL fitted value floors to micro.
    Deterministic on any engine/partitioning.  No SQL oracle — PAV's
    data-dependent pooling is the textbook non-SQL-expressible
    recursion; correctness is pinned by brute-force parity tests.

    Output: ``(group, x, n, fitted_micro)`` with fitted_micro
    non-decreasing in x within every group.
    """
    import pandas as pd

    out_schema = (
        f"{group_col} string, x bigint, n bigint, fitted_micro bigint"
    )

    def pav(key, pdf):
        if len(pdf) > max_bins:
            raise ValueError(
                f"isotonic_calibration: group {key} has {len(pdf)} bins"
                f" > max_bins={max_bins}; coarsen the binning first"
            )
        pdf = pdf.sort_values("x").reset_index(drop=True)
        # blocks of (sum, n, span) pooled left-to-right
        blocks: list[list[int]] = []
        for s, n in zip(pdf[sum_col].astype(int), pdf[count_col].astype(int)):
            blocks.append([int(s), int(n), 1])
            # pool while mean(prev) > mean(curr): cross-multiplied ints
            while (
                len(blocks) >= 2
                and blocks[-2][0] * blocks[-1][1]
                > blocks[-1][0] * blocks[-2][1]
            ):
                s2, n2, c2 = blocks.pop()
                blocks[-1][0] += s2
                blocks[-1][1] += n2
                blocks[-1][2] += c2
        fitted = []
        ns = []
        for s, n, span in blocks:
            f_micro = (s * 10_000) // n if n > 0 else 0
            fitted.extend([f_micro] * span)
        ns = pdf[count_col].astype(int).tolist()
        return pd.DataFrame(
            {
                group_col: [str(key[0])] * len(pdf),
                "x": pdf["x"].astype(int),
                "n": ns,
                "fitted_micro": fitted,
            }
        )

    binned = df.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(x_col).cast("bigint").alias("x"),
        F.col(sum_col).cast("bigint").alias(sum_col),
        F.col(count_col).cast("bigint").alias(count_col),
    )
    return binned.groupBy(group_col).applyInPandas(pav, schema=out_schema)


def seasonal_naive_error(
    df: DataFrame,
    entity_col: str,
    day_col: str,
    value_col: str,
    season_days: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each (entity, day)
    value with the SAME entity's value ``season_days`` earlier and
    report per-entity MAE and signed bias — the sanity baseline every
    forecasting feature must beat ("is your model better than 'same
    as last Tuesday'?"), and a drift alarm when a previously stable
    entity's naive error jumps.  Days with no t−7 observation are
    excluded (n_pairs counts scored days; never zero-filled).

    Exact integers end to end: values are cents, errors are cent
    differences, MAE/bias are truncating micro DIVs.

    Plan: the daily frame self-joins ON THE ENTITY+day−season EQUI key
    (one uniform shuffle pair, AQE-splittable — never a range join),
    then ONE per-entity rollup.  Input is the |entity×day| rollup, so
    the corpus-sized table never enters the join.
    """
    if season_days < 1:
        raise ValueError("season_days must be >= 1")
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(day_col).cast("bigint").alias("__d"),
        F.col(value_col).cast("bigint").alias("__v"),
    )
    prev = base.select(
        "entity",
        (F.col("__d") + season_days).alias("__d"),
        F.col("__v").alias("__pv"),
    )
    scored = base.join(prev, ["entity", "__d"]).select(
        "entity", (F.col("__v") - F.col("__pv")).alias("__err")
    )
    return scored.groupBy("entity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("sum(abs(__err)) * 1000000 DIV count(1)")
        .cast("bigint")
        .alias("mae_micro"),
        F.expr("sum(__err) * 1000000 DIV count(1)")
        .cast("bigint")
        .alias("bias_micro"),
        F.max(F.abs("__err")).cast("bigint").alias("max_abs_err"),
    )


def bh_fdr_report(
    df: DataFrame,
    slice_col,
    success_expr: F.Column,
    alpha_num: int = 1,
    alpha_den: int = 20,
) -> DataFrame:
    """Benjamini–Hochberg FDR control over per-slice rate anomalies:
    scanning m slices (hours, regions, cohorts) for "is this slice's
    success rate different?" runs m hypothesis tests at once, and
    thresholding each at alpha alone yields ~m*alpha false alarms —
    the standard multiple-testing failure of per-slice dashboards.
    BH bounds the FALSE DISCOVERY RATE at alpha: sort p ascending,
    find the largest k with p_(k) <= k*alpha/m, reject exactly the k
    smallest.

    Per-slice statistic: the 2x2 chi-square (slice vs rest, success
    vs not) — one conditional aggregate over the corpus.  The p-value
    uses the Markov bound P(chi2_1 >= t) <= E[chi2_1]/t = 1/t, which
    is a VALID (conservative) p-value requiring no CDF — both engines
    replay the closed form bit-for-bit, where an erf/igamma-based
    exact p would diverge between engines in the last ulp.  The BH
    condition p_(i) <= i*alpha/m is evaluated as
    chi2_(i) * i * alpha_num >= m * alpha_den (equivalent for p < 1;
    p = 1 slices can never satisfy i*alpha/m < 1).

    Plan: ONE map-side-combined aggregate corpus scan at slice
    granularity (m rows out), then rank + running-max windows over
    the m-row table — the windows are over slices, never corpus rows,
    so the single-partition window is O(m) at any corpus scale.
    Floats appear only in the chi-square scalar formula over exact
    counts, fixed IEEE op order.
    """
    scol = F.col(slice_col) if isinstance(slice_col, str) else slice_col
    per = df.groupBy(scol.alias("slice_key")).agg(
        F.count(F.lit(1)).alias("__n1"),
        F.sum(F.when(success_expr, 1).otherwise(0)).alias("__s1"),
    )
    tot = per.agg(
        F.sum("__n1").alias("__nt"), F.sum("__s1").alias("__st")
    )
    j = per.crossJoin(F.broadcast(tot))
    n1, s1 = F.col("__n1").cast("double"), F.col("__s1").cast("double")
    n0 = (F.col("__nt") - F.col("__n1")).cast("double")
    s0 = (F.col("__st") - F.col("__s1")).cast("double")
    nt, st = F.col("__nt").cast("double"), F.col("__st").cast("double")
    ft = nt - st
    # 2x2 chi-square: N*(ad-bc)^2 / (row1*row2*col1*col2); guard the
    # degenerate margins (all-success / no-success corpus) to chi2=0
    num = nt * (s1 * (n0 - s0) - s0 * (n1 - s1)) * (
        s1 * (n0 - s0) - s0 * (n1 - s1)
    )
    den = n1 * n0 * st * ft
    chi2 = F.when(F.lit(True), num / den)
    stat = j.select(
        "slice_key",
        F.col("__n1").alias("n"),
        F.col("__s1").alias("successes"),
        F.when(den > 0.0, chi2).otherwise(F.lit(0.0)).alias("__chi2"),
    )
    w = Window.orderBy(F.col("__chi2").desc(), F.col("slice_key").asc())
    ranked = stat.select(
        "*",
        F.row_number().over(w).alias("rank"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("m"),
    )
    cond = (
        F.col("__chi2")
        * F.col("rank").cast("double")
        * F.lit(float(alpha_num))
        >= F.col("m").cast("double") * F.lit(float(alpha_den))
    )
    kstar = F.max(F.when(cond, F.col("rank"))).over(Window.partitionBy())
    return ranked.select(
        "slice_key",
        F.col("n").cast("bigint").alias("n"),
        F.col("successes").cast("bigint").alias("successes"),
        F.floor(F.col("__chi2") * F.lit(1_000_000.0))
        .cast("bigint")
        .alias("chi2_micro"),
        # chi2 = 0 ⇒ the Markov bound is vacuous (p = 1); guard the
        # division explicitly — ANSI mode raises on 1.0/0.0
        F.when(
            F.col("__chi2") > 0.0,
            F.floor(
                F.least(F.lit(1.0), F.lit(1.0) / F.col("__chi2"))
                * F.lit(1_000_000.0)
            ).cast("bigint"),
        )
        .otherwise(F.lit(1_000_000).cast("bigint"))
        .alias("p_bound_micro"),
        F.col("rank").cast("bigint").alias("rank"),
        F.coalesce(kstar, F.lit(0)).cast("bigint").alias("k_star"),
        (F.col("rank") <= F.coalesce(kstar, F.lit(0)))
        .cast("bigint")
        .alias("rejected"),
    )


def ipw_ate_report(
    df: DataFrame,
    treat_expr: F.Column,
    control_expr: F.Column,
    value_col: str,
    stratum_expr: F.Column,
) -> DataFrame:
    """Stratified inverse-propensity-weighted average treatment effect:
    with a DISCRETE propensity stratum, the Horvitz–Thompson IPW
    estimator collapses exactly to direct standardization — per
    stratum s, weight the within-stratum treated/control mean gap by
    the stratum's population share n_s/N.  This is the confounding
    adjustment the naive treated-vs-control mean gap lacks (strata
    where treatment is over-assigned no longer dominate).

    Positivity: strata with no treated or no control rows cannot be
    standardized (propensity 0 or 1); they are dropped and COUNTED in
    the report rather than silently absorbed.

    Exactness: values quantize to cents; per-stratum means truncate
    at integer micro (S*10^4 DIV n over cents) and the weighted
    combination Σ n_s*diff_micro DIV Σ n_s is pure bigint — no float
    aggregation across strata, so engines agree bit-for-bit
    regardless of summation order.  Quantization bias is < 1 micro
    per stratum, documented, and identical on both sides.

    Plan: ONE conditional map-side-combined aggregate at stratum
    granularity (the only shuffle, m rows out), then a single-row
    final aggregate over the m strata.
    """
    d38 = "decimal(38,0)"
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast(d38)
    zero = F.lit(0).cast(d38)
    per = (
        df.where(treat_expr | control_expr)
        .groupBy(stratum_expr.alias("__stratum"))
        .agg(
            F.sum(F.when(treat_expr, 1).otherwise(0)).alias("__n1"),
            F.sum(F.when(treat_expr, cents).otherwise(zero)).alias("__s1"),
            F.sum(F.when(control_expr, 1).otherwise(0)).alias("__n0"),
            F.sum(F.when(control_expr, cents).otherwise(zero)).alias("__s0"),
        )
    )
    ok = (F.col("__n1") > 0) & (F.col("__n0") > 0)
    diff = (
        F.expr("CAST(__s1 * 10000 AS DECIMAL(38,0)) DIV __n1")
        - F.expr("CAST(__s0 * 10000 AS DECIMAL(38,0)) DIV __n0")
    ).cast("bigint")
    scored = per.select(
        "*",
        ok.alias("__ok"),
        F.when(ok, diff).alias("__diff_micro"),
        (F.col("__n1") + F.col("__n0")).alias("__ns"),
    )
    return scored.agg(
        F.sum("__n1").cast("bigint").alias("n_treat"),
        F.sum("__n0").cast("bigint").alias("n_ctrl"),
        F.sum(F.when(F.col("__ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_strata_used"),
        F.sum(F.when(~F.col("__ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_strata_dropped"),
        (
            F.expr(
                "CAST(sum(__s1) * 10000 AS DECIMAL(38,0)) DIV sum(__n1)"
            )
            - F.expr(
                "CAST(sum(__s0) * 10000 AS DECIMAL(38,0)) DIV sum(__n0)"
            )
        )
        .cast("bigint")
        .alias("naive_diff_micro"),
        F.expr(
            "sum(CASE WHEN __ok THEN CAST(__ns AS DECIMAL(38,0))"
            " * __diff_micro END)"
            " DIV sum(CASE WHEN __ok THEN __ns END)"
        )
        .cast("bigint")
        .alias("ate_micro"),
    )


def conformal_interval_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    level_num: int = 9,
    level_den: int = 10,
) -> DataFrame:
    """Split-conformal prediction intervals per group, with holdout
    coverage: calibrate |y - yhat| residual quantiles on one half of
    the data and the interval yhat ± qhat then covers a fresh point
    with probability >= level, DISTRIBUTION-FREE (Vovk; Lei et al.) —
    the finite-sample guarantee a plain residual quantile lacks.
    qhat is the k-th smallest calibration residual with
    k = ceil((n_calib+1) * level), the split-conformal rank.

    The "model" here is the calibration-half group mean (the operator
    is model-agnostic: any per-group yhat column works); the split is
    deterministic by id parity so both engines and re-runs agree.

    Exactness: integer micro throughout — yhat truncates at micro
    (cents * 10^4 DIV n), residuals are exact bigints, and the k-th
    order statistic comes from a VALUE-HISTOGRAM cumulative window
    (groupBy (group, residual) then cum-count over distinct residual
    values), never a per-row rank: the window input is bounded by
    distinct cent values (~10^6), not corpus rows, so the per-group
    sort stays O(distinct) at 10^12-row scale where a row-level
    row_number() over 5 groups would funnel the corpus through 5
    partitions.  Coverage on the held-out half is an exact integer
    share.  k > n_calib (tiny calibration sets) yields a NULL qhat —
    the honest "interval is infinite" signal — rather than clamping.

    Plan: one scan for per-group calibration moments (broadcast out),
    one scan each for the residual histogram and the holdout coverage
    aggregate; the only corpus-keyed shuffle is the histogram's
    (group, residual) groupBy, which map-side combines.
    """
    calib = F.col(id_col) % 2 == 0
    d38 = "decimal(38,0)"
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast(d38)
    base = df.select(
        F.col(group_col).alias("grp"),
        calib.alias("__calib"),
        (cents * 10_000).cast("bigint").alias("__y_micro"),
    )
    moments = (
        base.where(F.col("__calib"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_calib"),
            F.expr(
                "sum(CAST(__y_micro AS DECIMAL(38,0))) DIV count(1)"
            )
            .cast("bigint")
            .alias("yhat_micro"),
            F.expr(
                f"CAST((count(1) + 1) * {int(level_num)}"
                f" + {int(level_den) - 1} AS BIGINT)"
                f" DIV {int(level_den)}"
            ).alias("__k"),
        )
    )
    withres = base.join(F.broadcast(moments), "grp").select(
        "grp",
        "__calib",
        "__k",
        "n_calib",
        "yhat_micro",
        F.abs(F.col("__y_micro") - F.col("yhat_micro")).alias("__r"),
    )
    hist = (
        withres.where(F.col("__calib"))
        .groupBy("grp", "__k", "__r")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    cum = hist.select(
        "*",
        F.sum("__c")
        .over(
            Window.partitionBy("grp")
            .orderBy("__r")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("__cum"),
    )
    qhat = (
        cum.where(F.col("__cum") - F.col("__c") < F.col("__k"))
        .where(F.col("__cum") >= F.col("__k"))
        .groupBy("grp")
        .agg(F.min("__r").alias("qhat_micro"))
    )
    scored = withres.where(~F.col("__calib")).join(
        F.broadcast(qhat), "grp", "left"
    )
    return (
        scored.groupBy("grp", "n_calib", "yhat_micro", "qhat_micro")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("__r") <= F.col("qhat_micro"), 1).otherwise(0)
            ).alias("__cov"),
        )
        .select(
            "grp",
            F.col("n_calib").cast("bigint").alias("n_calib"),
            F.col("n_test").cast("bigint").alias("n_test"),
            "yhat_micro",
            F.col("qhat_micro").cast("bigint").alias("qhat_micro"),
            F.when(
                F.col("qhat_micro").isNotNull(),
                F.expr(
                    "CAST(__cov * 1000000 AS DECIMAL(38,0)) DIV n_test"
                ).cast("bigint"),
            ).alias("coverage_micro"),
        )
    )


def moment_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group distribution-shape profile: exact mean plus skewness
    (g1) and EXCESS kurtosis (g2) from the first four raw power sums.

    Third/fourth moments are the screening signal the second-moment
    operators (`welch_t_report`, `anova_eta_squared`) can't see: a
    metric whose mean and variance hold steady while its tail fattens
    (kurtosis up) or its asymmetry flips (skew sign) is drifting in a
    way that breaks winsorization thresholds and z-score monitors
    downstream — this is the one-pass report that catches it.

    Exactness: values quantize to cents (decimal(18,2) cast — the
    repo-wide contract) and the four power sums n, Σc, Σc², Σc³, Σc⁴
    accumulate as EXACT decimal(38,0) integers — order-independent, so
    Spark's map-side partial aggregation and any SQL engine agree bit
    for bit.  Floats appear only in the final O(|groups|)-sized scalar
    formula, every operand a correctly-rounded decimal→double cast and
    the op order fixed (left-associative products, sqrt for the 3/2
    power), so both engines replay identical IEEE arithmetic:

        m2 = r2 - r1*r1                       (rk = Σc^k / n)
        m3 = r3 - 3*r1*r2 + 2*r1*r1*r1
        m4 = r4 - 4*r1*r3 + 6*r1*r1*r2 - 3*r1^4
        g1 = m3 / (m2 * sqrt(m2));  g2 = m4 / (m2*m2) - 3

    Headroom: |cents| ≤ 10^6 (the |value| ≤ 10^4 input contract) keeps
    c⁴ ≤ 10^24 and Σc⁴ ≤ 10^36 at 10^12 rows — inside decimal(38,0)
    and int128 alike.  Exact at campaign scale.

    Plan: ONE map-side-combined conditional-free aggregate over the
    corpus — a single |groups|-key exchange, no window, no join; the
    value column never shuffles (only the five per-partition partials
    do).  Degenerate groups report NULL: skew/kurtosis need n > 1 and
    m2 > 0 (a constant group has no shape).
    """
    d38 = "decimal(38,0)"
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast(d38)
    c2 = cents * cents
    per = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum(cents).cast(d38).alias("__s1"),
        F.sum(c2).cast(d38).alias("__s2"),
        F.sum(c2 * cents).cast(d38).alias("__s3"),
        F.sum(c2 * c2).cast(d38).alias("__s4"),
    )
    nd = F.col("__n").cast("double")
    r1 = F.col("__s1").cast("double") / nd
    r2 = F.col("__s2").cast("double") / nd
    r3 = F.col("__s3").cast("double") / nd
    r4 = F.col("__s4").cast("double") / nd
    m2 = r2 - r1 * r1
    m3 = r3 - F.lit(3.0) * r1 * r2 + F.lit(2.0) * r1 * r1 * r1
    m4 = (
        r4
        - F.lit(4.0) * r1 * r3
        + F.lit(6.0) * r1 * r1 * r2
        - F.lit(3.0) * r1 * r1 * r1 * r1
    )
    ok = (F.col("__n") > 1) & (m2 > 0.0)
    mil = F.lit(1_000_000.0)
    return per.select(
        "grp",
        F.col("__n").cast("bigint").alias("n"),
        F.expr("CAST(__s1 * 10000 AS DECIMAL(38,0)) DIV __n")
        .cast("bigint")
        .alias("mean_micro"),
        F.when(
            ok, F.floor(m3 / (m2 * F.sqrt(m2)) * mil).cast("bigint")
        ).alias("skew_micro"),
        F.when(
            ok, F.floor((m4 / (m2 * m2) - F.lit(3.0)) * mil).cast("bigint")
        ).alias("kurtosis_micro"),
    )


def cliffs_delta(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Cliff's delta between two named groups — the EFFECT SIZE the
    rank tests don't report: ``mann_whitney_drift`` says whether a
    location shift exists, ``welch_t_report`` sizes it in value units
    (outlier-sensitive); δ = P(a>b) − P(a<b) sizes it on a robust
    [−1, 1] scale that survives any monotone transform of the metric.
    The standard pairing for practical-significance gates (|δ| < 0.147
    "negligible" under the usual Romano bands).

    Exactness: ALL pair counts are exact integers from the distinct-
    cent histogram — per cent c with counts (a(c), b(c)), wins are
    a(c)·Σ_{c'<c} b(c'), ties a(c)·b(c); losses follow from
    n₁·n₂ − gt − ties.  Products ≤ 10^24 at 10^12 rows, inside
    decimal(38,0).  δ is emitted as exact integer micro via
    (gt − lt)·10⁶ DIV (n₁·n₂) — Spark DIV and DuckDB // BOTH truncate
    toward zero (the `theil_sen` finding), so negative deltas agree.

    Plan: ONE map-side-combined count per distinct cent (the only
    corpus exchange), the running other-group CDF as a window over the
    DISTINCT-CENT frame (domain-bounded, like `auc_exact`), then a
    one-row scalar rollup.  Degenerate groups (n₁·n₂ = 0) emit NULL.
    """
    d38 = "decimal(38,0)"
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    counts = (
        df.where((in_a | in_b) & F.col(value_col).isNotNull())
        .select(cents.alias("__c"), in_a.cast("int").alias("__h"))
        .groupBy("__c")
        .agg(
            F.sum("__h").cast("bigint").alias("a"),
            F.sum(1 - F.col("__h")).cast("bigint").alias("b"),
        )
    )
    w = Window.orderBy("__c").rowsBetween(Window.unboundedPreceding, -1)
    run = counts.select(
        "a",
        "b",
        F.coalesce(F.sum("b").over(w), F.lit(0)).cast(d38).alias("__bb"),
    )
    tot = run.agg(
        F.sum("a").cast(d38).alias("__n1"),
        F.sum("b").cast(d38).alias("__n2"),
        F.sum(F.col("a").cast(d38) * F.col("__bb")).alias("__gt"),
        F.sum(F.col("a").cast(d38) * F.col("b").cast(d38)).alias("__ties"),
    )
    lt = F.col("__n1") * F.col("__n2") - F.col("__gt") - F.col("__ties")
    ok = (F.col("__n1") > 0) & (F.col("__n2") > 0)
    return tot.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        F.col("__n1").cast("bigint").alias("n_a"),
        F.col("__n2").cast("bigint").alias("n_b"),
        F.col("__gt").cast("bigint").alias("pairs_gt"),
        lt.cast("bigint").alias("pairs_lt"),
        F.col("__ties").cast("bigint").alias("pairs_tied"),
        F.when(
            ok,
            ((F.col("__gt") - lt) * F.lit(1_000_000).cast(d38))
            .cast(d38)
            .alias("__num"),
        )
        .alias("__num"),
    ).select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "pairs_gt",
        "pairs_lt",
        "pairs_tied",
        F.expr(
            "CAST(__num DIV (CAST(n_a AS DECIMAL(38,0))"
            " * CAST(n_b AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("delta_micro"),
    )


def lift_at_k(
    df: DataFrame,
    score: F.Column,
    label: F.Column,
    ks_percent: list[int] = (1, 5, 10, 25, 50),
) -> DataFrame:
    """Cumulative-gain ("lift") table at top-k% score cutoffs — the
    targeting scorecard beside `auc_exact`'s single number: AUC says
    the scorer ranks well on average; lift@k says what a campaign that
    can only act on the top k% actually captures.  Per k: the score
    cutoff, rows taken, positives captured, precision, recall, and
    lift = precision / base-rate, all as exact integer micro.

    Tie convention: the cutoff cell is taken WHOLE ("take ties") — the
    k-th rank's score admits every row tying it, so the report is
    deterministic under any physical row order (a per-row NTILE would
    split tied scores by partition order — nondeterministic at scale —
    and a 10^12-row global sort besides).  ``n_taken`` reports the
    actual count, which may exceed ceil(N·k/100) when ties straddle
    the boundary.

    Exactness: built entirely on the DESC cumulative score histogram
    — integer counts, integer targets K = ceil(N·k/100) =
    (N·k + 99) DIV 100, ratios as ·10⁶ DIV in decimal(38,0)
    (products ≤ 10^12·10^12·10^6 < 10^31).

    Plan: ONE map-side-combined count per distinct score (the only
    corpus exchange); the descending cumulative is a window over the
    DISTINCT-SCORE frame (domain-bounded); each k then selects its
    unique crossing cell (cum ≥ K, cum − n < K) from a broadcast
    |ks|-row join against the cell frame.  Output is |ks| rows.
    """
    d38 = "decimal(38,0)"
    spark = df.sparkSession
    counts = (
        df.select(score.cast("bigint").alias("__s"), label.alias("__y"))
        .where(F.col("__s").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__y").cast("bigint").alias("p"),
        )
    )
    wd = Window.orderBy(F.col("__s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.orderBy("__s").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    run = counts.select(
        "__s",
        "n",
        F.sum("n").over(wd).cast("bigint").alias("cn"),
        F.sum("p").over(wd).cast("bigint").alias("cp"),
        F.sum("n").over(wt).cast("bigint").alias("nt"),
        F.sum("p").over(wt).cast("bigint").alias("pt"),
    )
    ks = spark.createDataFrame(
        [(int(k),) for k in ks_percent], "k_pct bigint"
    )
    kk = F.expr("(CAST(nt AS DECIMAL(38,0)) * k_pct + 99) DIV 100")
    hit = run.join(F.broadcast(ks)).where(
        (F.col("cn") >= kk) & ((F.col("cn") - F.col("n")) < kk)
    )
    mil = F.lit(1_000_000).cast(d38)
    return hit.select(
        "k_pct",
        F.col("__s").alias("score_cutoff"),
        F.col("cn").alias("n_taken"),
        F.col("cp").alias("pos_taken"),
        F.expr(
            "CAST(CAST(cp AS DECIMAL(38,0)) * 1000000 DIV cn AS BIGINT)"
        ).alias("precision_micro"),
        F.when(
            F.col("pt") > 0,
            F.expr(
                "CAST(CAST(cp AS DECIMAL(38,0)) * 1000000 DIV pt AS BIGINT)"
            ),
        ).alias("recall_micro"),
        F.when(
            F.col("pt") > 0,
            (F.col("cp").cast(d38) * F.col("nt").cast(d38) * mil).alias(
                "__x"
            ),
        ).alias("__x"),
        F.col("nt").alias("n_total"),
        F.col("pt").alias("pos_total"),
    ).select(
        "k_pct",
        "score_cutoff",
        "n_taken",
        "pos_taken",
        "precision_micro",
        "recall_micro",
        F.expr(
            "CAST(__x DIV (CAST(n_taken AS DECIMAL(38,0))"
            " * CAST(pos_total AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("lift_micro"),
        "n_total",
        "pos_total",
    )


def odds_ratio_report(
    df: DataFrame,
    slice_col: F.Column,
    exposure: F.Column,
    outcome: F.Column,
) -> DataFrame:
    """Per-slice 2×2 association report: odds ratio AND risk ratio of
    a binary outcome given a binary exposure — the case-control /
    cohort effect measure the difference-style operators
    (`diff_in_diff`, `ipw_ate`) don't give: OR is invariant to
    outcome-balanced sampling (the only valid choice when the
    pipeline subsampled positives) while RR is the number humans
    actually mean by "X times likelier"; reporting both next to the
    raw cells avoids the classic OR-read-as-RR overstatement on
    common outcomes.

    Exactness: the four cells (a = exposed·outcome, b, c, d) are the
    only aggregation — ONE conditional map-side-combined count at
    slice granularity.  OR = (a·d)/(b·c) and RR = (a·(c+d))/((a+b)·c)
    are emitted as exact integer micro via decimal(38,0) cross
    products (≤ 10^24 at 10^12 rows) and a single DIV; slices with an
    empty denominator cell report NULL (the honest infinite/undefined
    answer) with the cells still visible.

    Plan: one corpus scan, one |slices|-key exchange, no window, no
    join.  Scales to any slice cardinality the output can hold.
    """
    d38 = "decimal(38,0)"
    ex = exposure.cast("boolean")
    oc = outcome.cast("boolean")
    cell = lambda e, o: F.sum(  # noqa: E731
        F.when(ex.eqNullSafe(e) & oc.eqNullSafe(o), 1).otherwise(0)
    ).cast(d38)
    per = df.groupBy(slice_col.alias("slice")).agg(
        cell(True, True).alias("__a"),
        cell(True, False).alias("__b"),
        cell(False, True).alias("__c"),
        cell(False, False).alias("__d"),
    )
    a, b = F.col("__a"), F.col("__b")
    c, d = F.col("__c"), F.col("__d")
    mil = F.lit(1_000_000).cast(d38)
    return per.select(
        "slice",
        a.cast("bigint").alias("n_exposed_pos"),
        b.cast("bigint").alias("n_exposed_neg"),
        c.cast("bigint").alias("n_unexposed_pos"),
        d.cast("bigint").alias("n_unexposed_neg"),
        F.when(b * c > 0, (a * d * mil).cast(d38)).alias("__orn"),
        F.when((a + b) * c > 0, (a * (c + d) * mil).cast(d38)).alias(
            "__rrn"
        ),
    ).select(
        "slice",
        "n_exposed_pos",
        "n_exposed_neg",
        "n_unexposed_pos",
        "n_unexposed_neg",
        F.expr(
            "CAST(__orn DIV (CAST(n_exposed_neg AS DECIMAL(38,0))"
            " * CAST(n_unexposed_pos AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("odds_ratio_micro"),
        F.expr(
            "CAST(__rrn DIV ((CAST(n_exposed_pos AS DECIMAL(38,0))"
            " + CAST(n_exposed_neg AS DECIMAL(38,0)))"
            " * CAST(n_unexposed_pos AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("risk_ratio_micro"),
    )
