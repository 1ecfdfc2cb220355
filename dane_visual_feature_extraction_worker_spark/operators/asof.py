"""Point-in-time (as-of) join — the flagship operator.

Generalizes the reference's interval/timestamp lookup
(reference: data_handling.py:121-129 ``find_shot_for_timestamp`` — for a
probe timestamp, select the matching row from a second table; first hit
wins; sentinel on no hit) to the degenerate point-event case: for each
left anchor row, the single latest right row with ``right.ts <=
left.ts`` within the same entity. Strict ``<=`` is the zero-temporal-
leakage rule (BASELINE.json north_rule).

One engine path and one oracle, same semantics:

1. ``asof_join_union`` — the engine path: union the tagged sides and
   take a running ``last(ignorenulls)`` per entity. One shuffle on the
   entity key, one sort, all whole-stage codegen, no Python stage.
   ``asof_join_nearest`` and ``asof_join_forward`` share its plan.

2. ``asof_join_rangejoin`` — the oracle: declarative Catalyst plan,
   inequality join + window dedup. An unconstrained range join can
   explode at scale (anchor × all-earlier-rows), so it is the
   *correctness* path the engine is checked against.

Null keys follow SQL equality on every path: a null-key anchor
matches nothing and is emitted with null right columns.

Tie-break: among right rows sharing the max ts <= anchor, the one with
the greatest ``right_order`` column wins (mirrors the reference's
deterministic first-hit rule data_handling.py:124-126 but "latest
state" oriented). The winner is fixed only when ``right_order`` is
given and distinct among the tied rows. With ``right_order=None`` tied
rows compare equal, and the in-partition sort order, not the plan,
picks one. Feature rows do share timestamps: in pitbench ``backfill``'s
seed-1 feature table, 1 542 ``(conv_id, ts)`` pairs hold more than one
of the 49 598 rows.

The union-window family (union, nearest, forward) is built from three
shared pieces: ``_tagged_union`` (the two sides tagged and unioned by
name), ``_running_last`` (the running match, backward or — over the
reverse order — forward) and ``_anchor_output`` (anchor rows, the one
tolerance predicate ``|anchor − match| <= tolerance``, the output
select). Both resamplers read ``_grid_union`` (events ∪ tick grid);
``resample_linear`` carries each neighbour as one ``(t, v)`` struct
per direction. Every running window in the module is a ``_running``
frame, whose docstring also says why none is an unbounded-FOLLOWING
frame. The latest row per entity — ``pit_snapshot`` and the A19
dependency lookup ``lookup_upstream`` — is ``_latest``, one
map-side-combined ``max_by`` aggregation.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join_rangejoin(
    left: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_order: str | None = None,
    left_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Declarative as-of join: left ⟕ latest right with right.ts <= left.ts.

    ``left_keys``: columns that uniquely key a left row (for the dedup
    window). Defaults to (on, left_ts) which is only safe if unique.
    Right columns are kept with their own names; the right timestamp is
    exposed as ``matched_ts``.
    """
    lk = list(left_keys) if left_keys else [on, left_ts]
    r = right.select(
        F.col(on).alias("__r_key"),
        F.col(right_ts).alias("matched_ts"),
        *[F.col(c) for c in right.columns if c not in (on, right_ts)],
    )
    order = [F.col("matched_ts").desc()]
    if right_order:
        order.append(F.col(right_order).desc())
    joined = left.join(
        r,
        (left[on] == r["__r_key"]) & (r["matched_ts"] <= left[left_ts]),
        "left",
    ).drop("__r_key")
    w = Window.partitionBy(*[F.col(c) for c in lk]).orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _running(partition, order, descending: bool = False):
    """The running frame of this module: rows [unbounded preceding,
    current row] per ``partition``, ordered by ``order`` (all columns
    descending when ``descending``).

    A "next row at or after" lookup is a running ``last(ignorenulls)``
    over the REVERSE order, never ``first`` over a [current, unbounded
    following] frame: Spark executes shrinking frames with
    UnboundedFollowingWindowFunctionFrame, which re-aggregates the rest
    of the partition for EVERY row — O(n²) per entity, measured
    unfinishable at 200k rows/entity — while a running (growing) frame
    accumulates in O(n). The reverse scan costs one extra in-partition
    sort on the SAME exchange (Catalyst keeps a single Exchange)."""
    keys = [F.desc(c) for c in order] if descending else list(order)
    return (
        Window.partitionBy(*partition)
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _running_last(descending: bool = False):
    """Running ``last(ignorenulls)`` of the right payload per entity,
    ordered by (ts, tag, order): the latest right row at or before each
    row, or — ``descending`` — the earliest one after it."""
    w = _running(("__kh", "__k"), ("__ts", "__tag", "__ord"), descending)
    return F.last("__r", ignorenulls=True).over(w)


def _us(c):
    return F.unix_micros(c.cast("timestamp"))


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_order: str | None,
):
    """Shared construction for the union-window as-of family: right
    rows tagged 0 with their payload struct ``__r``, left (anchor) rows
    tagged 1 with their columns as ``__l_<name>``, unioned by name (each
    side's missing columns are null), with an xxhash64 numeric key
    prefix (distinct 8-byte prefixes restore the sorter's prefix
    comparator on string keys — measured sort drag at 30M+ rows; the
    raw key stays in the partition spec so hash collisions cannot merge
    entities). Null-key right rows are dropped: under SQL equality they
    match no anchor, and kept they would share one window partition
    with null-key anchors. Returns ``(unioned, left_cols,
    right_payload_cols)``."""
    l_cols = list(left.columns)
    r_extra = [c for c in right.columns if c not in (on, right_ts)]
    ordcol = (
        F.col(right_order).cast("bigint")
        if right_order
        else F.lit(0).cast("bigint")
    )
    r_side = right.where(F.col(on).isNotNull()).select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        ordcol.alias("__ord"),
        F.struct(
            F.col(right_ts).alias("matched_ts"),
            *[F.col(c) for c in r_extra],
        ).alias("__r"),
    )
    l_side = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(0).cast("bigint").alias("__ord"),
        *[F.col(c).alias(f"__l_{c}") for c in l_cols],
    )
    u = r_side.unionByName(l_side, allowMissingColumns=True)
    return u.withColumn("__kh", F.xxhash64("__k")), l_cols, r_extra


def _anchor_output(
    matched: DataFrame,
    l_cols: list,
    r_extra: list,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Keep the anchor rows of ``matched`` (the tagged union carrying
    the chosen right struct ``__m``), null a match farther than
    ``tolerance_seconds`` from its anchor in either direction (exact
    integer microseconds), and select left columns + ``matched_ts`` +
    right payload columns."""
    out = matched.where(F.col("__tag") == 1)
    if tolerance_seconds is not None:
        gap = F.abs(_us(F.col("__ts")) - _us(F.col("__m.matched_ts")))
        near = F.col("__m").isNotNull() & (
            gap <= int(tolerance_seconds * 1_000_000)
        )
        out = out.withColumn("__m", F.when(near, F.col("__m")))
    return out.select(
        *[F.col(f"__l_{c}").alias(c) for c in l_cols],
        F.col("__m.matched_ts").alias("matched_ts"),
        *[F.col(f"__m.{c}").alias(c) for c in r_extra],
    )


def asof_join_union(
    left: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_order: str | None = None,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Pure-JVM as-of join: union + running ``last(ignorenulls)``.

    ``tolerance_seconds`` bounds match staleness (pandas
    ``merge_asof(tolerance=...)``): an anchor whose latest match is
    older than the tolerance gets NULL right columns — and since the
    running-last match is the NEWEST candidate <= anchor, any other
    candidate is older still, so nulling it is exactly the
    windowed-join semantics. Pure post-predicate on the matched
    struct; the plan shape (one shuffle + one sort) is unchanged.

    The classic distributed sort-merge as-of formulation: tag right
    rows 0 and left (anchor) rows 1, union them, and take — per entity,
    ordered by (ts, tag, right_order) — the running last non-null right
    payload. Each anchor then carries the latest right row with
    ``right.ts <= left.ts`` (right rows sort before anchors at equal
    ts ⇒ exact matches allowed; later right_order sorts later ⇒ wins
    the tie, and with ``right_order=None`` the sort order picks among
    tied rows; zero temporal leakage by construction).

    ONE shuffle (hash on the entity key) + one sort, all whole-stage
    codegen — no Python, no Arrow transfer. This is the engine path;
    ``asof_join_rangejoin`` is its oracle. Skew: a hot entity is one
    sort run inside one partition, sorted and scanned linearly by one
    task. AQE's skew split does not help here: it splits the
    partitions of a sort-merge or shuffled hash join, not a window's,
    so AQE can only coalesce this exchange's small partitions.

    Output schema matches ``asof_join_rangejoin``: left columns +
    ``matched_ts`` + right payload columns.
    """
    u, l_cols, r_extra = _tagged_union(
        left, right, on, left_ts, right_ts, right_order
    )
    matched = u.withColumn("__m", _running_last())
    return _anchor_output(matched, l_cols, r_extra, tolerance_seconds)


def pit_snapshot(
    df: DataFrame,
    cutoff,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("event_type", "value"),
) -> DataFrame:
    """Point-in-time snapshot: the latest row per entity at or before
    ``cutoff`` — the feature-store "serve features as of T" read, and
    the degenerate (single-anchor) as-of join.

    Plan: filter to ts <= cutoff (pushed to the scan; on a
    ts-partitioned table this prunes partitions), then ONE
    partial+final ``max_by(struct(...), struct(ts, tiebreak))``
    aggregation around a single exchange — algebraic and map-side
    combined, so the shuffle carries one candidate row per
    (partition, entity), never the history (plan-audit test). The
    physical operator is SortAggregate, not HashAggregate (struct-
    typed aggregation buffers aren't hash-aggregable in Spark) — a
    per-partition sort on the entity key, NOT a window over the
    history; the shuffle-volume story is unchanged. No global sort.
    Ties at the same timestamp resolve by greatest struct order of
    the remaining columns, deterministically.

    Reference provenance: the reference serves "current state per
    entity" by overwriting per-entity output dirs (io_util.py); this
    is that read path as one aggregation, with the anchor made
    explicit so training-time and serve-time features agree (zero
    temporal leakage by construction: rows after cutoff never enter
    the plan).
    """
    order = (ts_col, *value_cols)
    rows = df.where(F.col(ts_col) <= cutoff).select(entity_col, *order)
    return _latest(rows, entity_col, order)


def _latest(df: DataFrame, entity_col: str, order: Sequence[str]) -> DataFrame:
    """The latest row per ``entity_col``: ONE partial+final
    ``max_by(struct(<non-entity columns>), struct(<order>))``
    aggregation around a single exchange, map-side combined, so the
    shuffle carries one candidate row per (partition, entity). Only the
    ``order`` struct is compared, so the other columns may be of any
    type; ties on ``order`` pick an unspecified row. Columns keep their
    input order."""
    rest = [c for c in df.columns if c != entity_col]
    pick = F.max_by(F.struct(*rest), F.struct(*order)).alias("__r")
    out = df.groupBy(entity_col).agg(pick).select(entity_col, "__r.*")
    return out.select(*df.columns)


def lookup_upstream(
    upstream: DataFrame,
    entity_col: str = "conv_id",
    order: list[str] | None = None,
) -> DataFrame:
    """A19 dependency lookup: the latest upstream result row per entity.

    The reference fetches its dependency's stored result for the entity
    it is about to process (io_util.py:288-295 fetch_upstream_result);
    distributed, that per-entity point lookup becomes a bulk latest-row
    extraction — ``_latest`` by ``order`` (default ``["ts"]``; a null
    in an ``order`` column ranks below every value), one
    map-side-combined ``max_by`` aggregation, then a (broadcastable when
    small) join into the consuming pipeline. Consumers:
    ``df.join(lookup_upstream(up), on=entity, how='left')`` with
    downstream sentinel fill.
    """
    return _latest(upstream, entity_col, order or ["ts"])


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_order: str | None = None,
) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof(direction=
    'nearest')``): each anchor takes whichever of its latest-past or
    earliest-future right row is closer in time; equal distances break
    BACKWARD (the pandas rule — and the leakage-conservative choice).
    Within a side, ties at the same timestamp resolve exactly like the
    backward path: backward takes the greatest ``right_order``, forward
    the least at the earliest future instant.

    Same physical shape as ``asof_join_union`` — ONE shuffle, with two
    RUNNING frames over it: ``last(ignorenulls)`` up to the anchor in
    ascending order (backward) and ``last(ignorenulls)`` up to the
    anchor in DESCENDING order (forward — the next row in ascending
    time is the latest-seen row in a reverse scan). Both frames are
    unbounded-PRECEDING running accumulators, i.e. O(n) per entity
    (``_running`` says why not an unbounded-FOLLOWING frame). Cost of
    the reverse scan is one extra Sort reusing the same exchange.
    Same-ts right rows sort after the anchor in the reverse order, so
    the forward candidate is strictly later by construction — they'd
    lose to the gap-0 backward match anyway. The gap comparison is
    exact integer microseconds.

    Use where the anchor is an observation time rather than a feature
    cutoff (nearest-frame alignment, sensor fusion). NOT for training
    features: the forward candidate reads the future by construction.
    """
    u, l_cols, r_extra = _tagged_union(
        left, right, on, left_ts, right_ts, right_order
    )
    back_gap = _us(F.col("__ts")) - _us(F.col("__b.matched_ts"))
    fwd_gap = _us(F.col("__f.matched_ts")) - _us(F.col("__ts"))
    pick = (
        F.when(F.col("__b").isNull(), F.col("__f"))
        .when(F.col("__f").isNull(), F.col("__b"))
        .when(back_gap <= fwd_gap, F.col("__b"))
        .otherwise(F.col("__f"))
    )
    matched = (
        u.withColumn("__b", _running_last())
        .withColumn("__f", _running_last(descending=True))
        .withColumn("__m", pick)
    )
    return _anchor_output(matched, l_cols, r_extra)


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_order: str | None = None,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Forward as-of join: each anchor takes the EARLIEST right row
    strictly after it (``matched_ts > ts``) — "the next event": the
    conversion-attribution / time-to-next-action primitive (first
    purchase after each click, next error after each deploy).
    ``tolerance_seconds`` bounds the lookahead: a match farther than
    the tolerance nulls out, so "conversion within 30 minutes" is the
    tolerance form. Strictly-after is deliberate (a simultaneous event
    is not a *next* event); ties at the earliest future instant take
    the least ``right_order``.

    Same physical shape as the whole union-window family: ONE shuffle,
    then a running ``last(ignorenulls)`` over the REVERSE time order —
    the next row in ascending time is the latest-seen row in a reverse
    scan, an O(n) unbounded-preceding accumulator (see ``_running``).
    Same-ts right rows sort after the anchor in the reverse order, so
    the match is strictly later by construction. Exact
    integer-microsecond tolerance.
    """
    u, l_cols, r_extra = _tagged_union(
        left, right, on, left_ts, right_ts, right_order
    )
    matched = u.withColumn("__m", _running_last(descending=True))
    return _anchor_output(matched, l_cols, r_extra, tolerance_seconds)


def _grid_union(
    df: DataFrame, entity_col: str, ts_col: str, value_col: str, step_seconds: int
) -> DataFrame:
    """Shared input of both resamplers (plan in ``resample_ffill``):
    events collapsed to one value per (entity, whole second) —
    deterministic max, as exact cents — tagged ``__is_grid`` 0, unioned
    with each entity's epoch-aligned ticks between its first and last
    event, tagged 1 with null cents. Columns: ``(entity, __ts, __cents,
    __is_grid)``."""
    if step_seconds <= 0:
        raise ValueError("step_seconds must be positive")
    sec = F.col(ts_col).cast("timestamp").cast("double")
    ts_l = F.floor(sec).cast("bigint")
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    ev = (
        df.select(
            F.col(entity_col).alias("entity"),
            ts_l.alias("__ts"),
            cents.alias("__cents"),
        )
        .groupBy("entity", "__ts")
        .agg(F.max("__cents").alias("__cents"))
    )
    step = F.lit(step_seconds).cast("bigint")
    bounds = ev.groupBy("entity").agg(
        F.min("__ts").alias("__mn"), F.max("__ts").alias("__mx")
    )
    first_tick = (
        F.expr(f"(__mn + {step_seconds} - 1) DIV {step_seconds}") * step
    ).cast("bigint")
    last_tick = (F.expr(f"__mx DIV {step_seconds}") * step).cast("bigint")
    grid = bounds.where(last_tick >= first_tick).select(
        "entity",
        F.explode(F.sequence(first_tick, last_tick, step)).alias("__ts"),
        F.lit(None).cast("bigint").alias("__cents"),
        F.lit(1).alias("__is_grid"),
    )
    return ev.withColumn("__is_grid", F.lit(0)).unionByName(grid)


def resample_ffill(
    df: DataFrame,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    step_seconds: int = 3600,
) -> DataFrame:
    """Regular-grid resampling with forward fill: for each entity, emit
    one row per ``step_seconds`` tick between its first and last event
    (ticks aligned to epoch multiples of the step), carrying the latest
    observed value at-or-before the tick — the gap-filler that turns
    irregular event streams into the fixed-cadence matrix
    sequence models and joins against other regular series expect.
    The degenerate self-as-of case: every grid tick is an as-of probe
    into the entity's own history (strict ``<=``, the zero-leakage
    rule shared with the flagship join).

    Returns ``(entity, tick, value_ffill_cents)``: tick = epoch
    seconds (bigint, a step multiple), value forward-filled as exact
    cents (NULL only when an entity's first tick precedes any event —
    impossible here since ticks start at ceil(first/step), so every
    tick has a predecessor).

    Plan: per-entity bounds from ONE map-side-combined groupBy;
    ``sequence()`` explodes the tick range NARROWLY (no shuffle — grid
    rows are generated inside the partition holding the entity's
    bounds row); events collapse to one value per (entity, ts) —
    deterministic max, documented — then grid and events union and a
    single ``last(ignorenulls)`` running window over (entity) fills
    forward.  Two corpus-key exchanges total (bounds agg + the window
    sort); never a range join, never a per-tick probe join.  Grid
    size is bounded by span/step per entity — size the step so
    span/step stays O(10⁴) per entity at the target scale (the same
    contract a time-series store's downsampler imposes).
    """
    union = _grid_union(df, entity_col, ts_col, value_col, step_seconds)
    w = _running(("entity",), ("__ts", "__is_grid"))
    return (
        union.withColumn(
            "value_ffill_cents", F.last("__cents", ignorenulls=True).over(w)
        )
        .where(F.col("__is_grid") == 1)
        .select(
            "entity",
            F.col("__ts").alias("tick"),
            "value_ffill_cents",
        )
    )


def resample_linear(
    df: DataFrame,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    step_seconds: int = 3600,
) -> DataFrame:
    """Regular-grid LINEAR-interpolation resampler — the smooth twin
    of ``resample_ffill``: each epoch-aligned tick carries
    v_prev + (v_next − v_prev)·(t − t_prev) DIV (t_next − t_prev),
    the straight line between the surrounding observations.  Forward
    fill is right for state-like series (last price holds); linear is
    right for flow-like ones (cumulative counters, sensor levels)
    where a step function fabricates plateaus.  Ticks exactly on an
    observation return it unchanged; the interpolation is EXACT
    integer arithmetic (cents·µs products, one truncating DIV per
    tick — engine-portable, ±1 cent flooring documented).

    Plan: identical shape to resample_ffill — bounds agg, narrow
    ``sequence()`` grid, grid∪events union — plus ONE running window
    per direction, each carrying its neighbour's (t, v) as one struct
    (backward last + forward last over the reverse order, both
    ignorenulls, over the SAME entity exchange).  Two
    entity exchanges total, zero joins, never a per-tick probe.
    Interior ticks only by construction (first tick ≥ first event,
    last tick ≤ last event), so both neighbors always exist.
    """
    union = _grid_union(df, entity_col, ts_col, value_col, step_seconds)
    # each neighbour is one (t, v) struct: the nearest event at or
    # before the row, and — over the reverse order (see ``_running``) —
    # the nearest event at or after it
    event = F.when(
        F.col("__cents").isNotNull(),
        F.struct(F.col("__ts").alias("t"), F.col("__cents").alias("v")),
    )
    order = ("__ts", "__is_grid")
    annotated = union.withColumn(
        "__p", F.last(event, ignorenulls=True).over(_running(("entity",), order))
    ).withColumn(
        "__n",
        F.last(event, ignorenulls=True).over(
            _running(("entity",), order, descending=True)
        ),
    )
    interp = F.when(F.col("__n.t") == F.col("__p.t"), F.col("__p.v")).otherwise(
        F.expr(
            "CAST(__p.v + (__n.v - __p.v) * (__ts - __p.t)"
            " DIV (__n.t - __p.t) AS BIGINT)"
        )
    )
    return (
        annotated.where(F.col("__is_grid") == 1)
        .select(
            "entity",
            F.col("__ts").alias("tick"),
            interp.cast("bigint").alias("value_interp_cents"),
        )
    )
