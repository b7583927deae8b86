"""Temporal relational operators — as-of join, range (interval) join, and
funnel/sequence detection.

Parity-plus (SURVEY.md §2.7): the reference has no time dimension at all —
its only temporal artifact is insert order baked into ``edge_seq``
(``FastAccess.hs:302-311``). An event-log workload needs point-in-time and
interval semantics as first-class operators, and none of them is a built-in
Spark join type, so each is re-expressed as a composition whose shuffle
profile survives 100 TB:

- **as-of join**: the classic union+window formulation — tag both inputs,
  one shuffle on the join key, and fill each probe row with the most recent
  quote via ``last(..., ignorenulls=True)`` over a running frame. No range
  cross product is ever materialized, no per-key driver loop; wall-clock is
  one sort-shuffle regardless of quote frequency.
- **range join**: equi-join on coarse time *bins* + residual filter. A naive
  point-in-interval join is a conditional cross join (O(|L|·|R|) pairs
  considered); binning bounds candidates to the rows sharing a bin, which
  Catalyst executes as a plain hash/sort-merge equi-join. Intervals spanning
  k bins are exploded k times (k is bounded by interval span / bin width —
  caller-chosen).
- **funnel**: per-key sequence matching (A then B within a gap) as one
  window pass over the event log — an aggregate over a *following* frame,
  no self-join of the event table.

Every operator is deterministic (explicit tiebreaks) so each has an exact
DuckDB SQL twin in the correctness gate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.loopstate import checkpoint, fixpoint, scoped
from judy_graph_db_spark.schema import union_all


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] = ("value",),
    suffix: str = "_asof",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For every ``left`` row, attach the columns of the latest ``right``
    row with the same key whose timestamp is at-or-before the left row's
    (NULLs when no such row exists).

    Ties: a right row at exactly the probe timestamp matches; among several
    right rows sharing (key, ts), the one greatest under the ordering of
    ``right_cols`` wins — fully deterministic. ``tolerance_seconds`` bounds
    staleness: a matched quote older than the tolerance yields NULLs (the
    match is still computed by the same window — the bound is a post-fill
    predicate on the matched quote's own timestamp, so the plan shape is
    unchanged).

    Scale shape: union the tagged inputs, ONE shuffle on the key, running
    ``last(ignorenulls)`` window per attached column. This is the plan that
    survives 100 TB probes against 100 TB quotes: no interval explosion,
    no broadcast, skew bounded by the busiest key like any keyed window.
    """
    from pyspark.sql.types import StructType

    keys = [on] if isinstance(on, str) else list(on)
    rc = list(right_cols)
    # the attached columns travel as ONE struct filled by ONE
    # last(ignorenulls) so they always come from the same right row — the
    # per-column-fill formulation mixes values from different right rows
    # whenever a right row holds a NULL in one of right_cols
    rs_type = StructType([right.schema[c] for c in rc])
    probe = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__t"),
        F.lit(0).alias("__is_r"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in rc],
        F.lit(None).cast(rs_type).alias("__rs"),
        F.struct(*left.columns).alias("__row"),
    )
    quote = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__t"),
        F.lit(1).alias("__is_r"),
        *[F.col(c).alias(f"__r_{c}") for c in rc],
        F.struct(*[F.col(c).alias(c) for c in rc]).alias("__rs"),
        F.lit(None).cast(probe.schema["__row"].dataType).alias("__row"),
    )
    # quotes sort before probes at equal ts (asc on -is_r), then by the
    # attached columns so the last-seen quote among equal-ts ones is the max
    # (ordering stays on the plain __r_ columns — NULL-field struct ordering
    # is not engine-portable)
    order = [F.col("__t").asc(), (-F.col("__is_r")).asc()] + [
        F.col(f"__r_{c}").asc_nulls_first() for c in rc
    ]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = union_all([probe, quote], by_name=True).select(
        "*", F.last("__rs", ignorenulls=True).over(w).alias("__f"),
        F.last(F.when(F.col("__is_r") == 1, F.col("__t")),
               ignorenulls=True).over(w).alias("__qt"),
    )
    f = F.col("__f")
    if tolerance_seconds is not None:
        fresh = (
            F.col("__t").cast("long") - F.col("__qt").cast("long")
        ) <= int(tolerance_seconds)
        f = F.when(fresh, F.col("__f"))
    out_cols = [F.col("__row")[c].alias(c) for c in left.columns] + [
        f[c].alias(f"{c}{suffix}") for c in rc
    ]
    return filled.filter(F.col("__is_r") == 0).select(*out_cols)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width_seconds: int = 86400,
) -> DataFrame:
    """Join every point row to every interval row with
    ``start <= point < end`` — as an *equi*-join on coarse time bins plus a
    residual filter, never a conditional cross join.

    Each point lands in one bin; each interval is exploded to the bins it
    overlaps (``span / bin_width`` rows — pick ``bin_width_seconds`` near
    the typical interval length so the explosion factor stays ~1-2). The
    bin equi-join shuffles both sides once on the bin key and lets AQE
    handle hot bins; candidates are only the pairs sharing a bin.

    Output: all point columns + all interval columns.
    """
    p_bin = F.floor(F.unix_timestamp(F.col(point_col)) / bin_width_seconds)
    p = points.select("*", p_bin.alias("__bin"))
    s_bin = F.floor(F.unix_timestamp(F.col(start_col)) / bin_width_seconds)
    # end is exclusive: the last overlapped bin is the one holding end-1s
    e_bin = F.floor(
        (F.unix_timestamp(F.col(end_col)) - 1) / bin_width_seconds
    )
    iv = intervals.select(
        "*", F.explode(F.sequence(s_bin, e_bin)).alias("__bin")
    )
    cond = (
        (p["__bin"] == iv["__bin"])
        & (p[point_col] >= iv[start_col])
        & (p[point_col] < iv[end_col])
    )
    return p.join(iv, cond).drop("__bin")


def funnel_completions(
    events: DataFrame,
    first_type: str,
    then_type: str,
    within_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Count, per key, the ``first_type`` events that are followed by a
    ``then_type`` event within ``within_seconds`` (strictly after; the same
    key). The standard conversion-funnel primitive.

    One window pass over the (filtered) event log: for each A row, the
    earliest B timestamp in the *following* frame; no self-join. Returns
    ``(key_col, n_started, n_completed)`` with every key that has ≥1 A.
    """
    ab = events.filter(F.col(type_col).isin([first_type, then_type])).select(
        F.col(key_col),
        F.col(ts_col).alias("__t"),
        (F.col(type_col) == then_type).alias("__is_b"),
    )
    # B rows sort BEFORE A rows at equal timestamps (is_b desc), so a B at
    # exactly the A's timestamp is outside the A row's following frame —
    # "strictly after" really means strictly after
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("__t").asc(), F.col("__is_b").desc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_b = F.min(F.when(F.col("__is_b"), F.col("__t"))).over(w)
    marked = ab.select(
        key_col,
        "__t",
        "__is_b",
        next_b.alias("__next_b"),
    ).filter(~F.col("__is_b"))
    return (
        marked.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_started"),
            F.sum(
                (
                    F.col("__next_b").isNotNull()
                    & (
                        F.unix_timestamp("__next_b") - F.unix_timestamp("__t")
                        <= within_seconds
                    )
                ).cast("long")
            ).alias("n_completed"),
        )
    )


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence,
    k: int,
) -> DataFrame:
    """Top-``k`` rows per group under ``order_cols`` (pass Column objects
    with ``.desc()`` etc. for direction; include a unique tiebreak column
    for determinism). One shuffle on the group key; ``row_number`` is
    rank-based so ties never overflow k. Adds ``rank_in_group``."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= k)
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix: users are grouped into cohorts by the
    period of their FIRST activity; each cell counts the cohort's users
    still active ``period_offset`` periods later. Periods are absolute
    ``period_days`` bins of days-since-epoch (calendar-free integer
    arithmetic — engine-portable, unlike week-of-year, which disagrees
    across locales/engines).

    Two aggregations over one event scan: per-user first-period (min), a
    distinct user-period activity relation, then the (cohort, offset)
    rollup — all shuffles keyed on the user. Returns
    ``(cohort_period, period_offset, n_active)`` with one row per
    non-empty cell (offset 0 row = cohort size, since the first-activity
    period is itself active).
    """
    per = (F.datediff(F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date"))
           / period_days)
    acts = events.select(
        F.col(user_col).alias("__u"),
        F.floor(per).cast("long").alias("__p"),
    ).distinct()
    first = acts.groupBy("__u").agg(F.min("__p").alias("__cohort"))
    return (
        acts.join(first, "__u")
        .groupBy(
            F.col("__cohort").alias("cohort_period"),
            (F.col("__p") - F.col("__cohort")).alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    within_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Multi-stage funnel: per key, how far along the ordered sequence
    ``steps`` it progressed, where each stage must occur strictly after
    the previous one and within ``within_seconds`` of it — the k-step
    generalization of :func:`funnel_completions`.

    Earliest-first greedy per stage (the standard funnel semantics, and
    provably optimal here: taking the EARLIEST qualifying event for stage
    i can only loosen every later deadline). Each stage is one filtered
    aggregation joined against the previous stage's per-key timestamp —
    k−1 small keyed joins, never a k-way self-join of the event log.
    Returns ``(key_col, steps_completed BIGINT)`` for every key that hit
    stage 1; ``steps_completed`` ∈ 1..len(steps).
    """
    if len(steps) < 2:
        raise ValueError("need at least two funnel steps")
    prev = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(key_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    out = prev.select(key_col, F.lit(1).cast("long").alias("steps_completed"))
    for step in steps[1:]:
        nxt = (
            events.filter(F.col(type_col) == step)
            .select(key_col, F.col(ts_col).alias("_ts"))
            .join(prev, key_col)
            .filter(
                (F.col("_ts") > F.col("_t"))
                & (F.col("_ts")
                   <= F.col("_t") + F.expr(f"INTERVAL {int(within_seconds)} SECOND"))
            )
            .groupBy(key_col)
            .agg(F.min("_ts").alias("_t"))
        )
        out = out.join(nxt.select(key_col, F.lit(1).alias("_hit")),
                       key_col, "left").select(
            key_col,
            (F.col("steps_completed") + F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long").alias("steps_completed"),
        )
        prev = nxt
    return out


def resample_counts(
    events: DataFrame,
    period_seconds: int,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str | None = "value",
) -> DataFrame:
    """Gap-filled resampling: per ``key_col`` and fixed ``period_seconds``
    bucket, event count and value sum — INCLUDING explicit zero rows for
    every empty bucket between the key's first and last activity. A plain
    groupBy silently drops empty periods, which is exactly wrong for
    time-series models and charts (missing-row ≠ zero); the fill is a
    per-key ``sequence`` + ``explode`` over the key's own span (narrow,
    no driver ranges), left-joined with the actual aggregates.

    Buckets are epoch-seconds ``div`` period (absolute, calendar-free);
    value sums surface in integer cents. Returns
    ``(key_col, period, n BIGINT, sum_cents BIGINT)``.
    """
    p = F.expr(f"unix_timestamp({ts_col}) div {int(period_seconds)}")
    base = events.select(
        F.col(key_col), p.alias("period"),
        (F.round(F.col(value_col) * 100).cast("long") if value_col
         else F.lit(0).cast("long")).alias("_cents"),
    )
    agg = base.groupBy(key_col, "period").agg(
        F.count(F.lit(1)).alias("n"), F.sum("_cents").alias("sum_cents")
    )
    spans = base.groupBy(key_col).agg(
        F.min("period").alias("_lo"), F.max("period").alias("_hi")
    )
    grid = spans.select(
        key_col, F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("period")
    )
    return grid.join(agg, [key_col, "period"], "left").select(
        key_col, "period",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.col("sum_cents"), F.lit(0)).cast("long").alias("sum_cents"),
    )


def transition_counts(events: DataFrame, key_col: str = "user_id",
                      type_col: str = "event_type", ts_col: str = "ts",
                      id_col: str = "event_id") -> DataFrame:
    """First-order Markov transition counts over per-key event sequences:
    ``(from_type, to_type, n)`` — the sufficient statistics of a behavior
    model (next-event prediction, anomaly scoring, funnel discovery).

    One keyed window (``lead`` over the deterministic (ts, id) order —
    the same full-tiebreak rule every sequence operator here uses) + one
    map-side-combined count. Terminal events (no successor) are dropped;
    count them separately if end-of-sequence mass matters.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc(),
                                            F.col(id_col).asc())
    return (
        events.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@scoped
def time_respecting_reachability(edges: DataFrame, src_col: str = "src",
                                 dst_col: str = "dst", ts_col: str = "ts",
                                 min_wait: int = 0,
                                 max_iter: int = 20) -> DataFrame:
    """Earliest-arrival reachability over a temporal graph (Holme &
    Saramäki 2012): ``(src, dst, t_arr)`` for every pair connected by a
    *time-respecting* path — consecutive edges must depart at or after
    the previous arrival plus ``min_wait`` (``min_wait=1`` on integer
    timestamps = strictly increasing). Static reachability over-reports
    on temporal data (an edge that fired *before* you arrived cannot
    carry you); this is the correct closure for contact networks,
    message/citation flows, and dependency-ordered pipelines.

    State is ONE row per reachable pair (the earliest arrival): an
    earlier arrival permits a superset of continuations, so min-pruning
    is lossless — the same monotone-fingerprint convergence as
    ``minplus_closure`` (pairs only grow, arrivals only shrink). Each
    round is one equi-join on the intermediate node (the range predicate
    on ``ts`` rides the same shuffle as a post-join filter) + one
    (src, dst) partial-agg min — O(pairs) state, rounds = longest
    time-respecting shortest chain.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
                     F.col(ts_col).cast("long").alias("t"))
    r = checkpoint(
        e.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst").agg(F.min("t").alias("t_arr")), eager=True)

    def fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("t_arr").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row["n"], int(row["s"] or 0))

    def relax(r: DataFrame) -> DataFrame:
        step = (
            r.join(e.select(F.col("src").alias("mid"),
                            F.col("dst").alias("nxt"), "t"),
                   F.col("dst") == F.col("mid"))
            .filter(F.col("t") >= F.col("t_arr") + F.lit(int(min_wait)))
            .filter(F.col("src") != F.col("nxt"))
            .select("src", F.col("nxt").alias("dst"),
                    F.col("t").alias("t_arr"))
        )
        return (union_all([r, step])
                .groupBy("src", "dst").agg(F.min("t_arr").alias("t_arr")))

    # the fingerprint job materializes each round: one job per round
    return fixpoint(r, relax, fingerprint, max_iter)


def time_respecting_reachability_sql(edges_sql: str, min_wait: int = 0,
                                     max_iter: int = 20) -> str:
    """ANSI-SQL twin of :func:`time_respecting_reachability` (DuckDB
    recursive CTE; the UNION dedups (src, dst, t, hops) tuples so the
    recursion terminates on cyclic temporal graphs). The hop counter is
    bounded by ``max_iter`` to mirror the Spark loop exactly: each Spark
    round is one edge relaxation, so after max_iter rounds only paths of
    ≤ max_iter+1 edges are settled — an UNBOUNDED twin would include
    deeper pairs the Spark side truncates and the gate would diverge on
    long strictly-increasing chains."""
    return f"""WITH RECURSIVE tre AS (
  SELECT src, dst, CAST(ts AS BIGINT) AS t FROM ({edges_sql})
),
trw(src, dst, t, h) AS (
  SELECT src, dst, t, 1 FROM tre WHERE src <> dst
  UNION
  SELECT w.src, e.dst, e.t, w.h + 1
  FROM trw w JOIN tre e
    ON w.dst = e.src AND e.t >= w.t + {int(min_wait)} AND w.src <> e.dst
   AND w.h <= {int(max_iter)}
)
SELECT src, dst, CAST(MIN(t) AS BIGINT) AS t_arr
FROM trw GROUP BY src, dst"""


def temporal_wedge_counts(edges: DataFrame, delta_seconds: int,
                          src_col: str = "src", dst_col: str = "dst",
                          ts_col: str = "ts") -> DataFrame:
    """Temporal 2-path (wedge) counts — the building block of temporal
    motif analysis (Paranjape, Benson & Leskovec, WSDM 2017): for every
    middle node ``v``, the number of edge pairs ``u→v→w`` whose second
    edge fires strictly after the first and within ``delta_seconds`` of
    it. Returns ``(mid, n_wedges)``; the same count static wedge joins
    over-report badly on temporal data (most static 2-paths are not
    time-respecting at tight δ).

    Scale shape: a naive θ-join on the time predicate would compare every
    in-edge of a node with every out-edge; instead both sides bucket to
    ``ts div δ`` and the pair join is an EQUI-join on (mid, bucket) with
    the in-edge probing its own and the next bucket (any qualifying pair
    is ≤ δ apart, so it lands in adjacent buckets) — the same banding as
    ``range_join``, keeping the comparison set per key O(edges per
    2δ window), not O(degree²).
    """
    e1 = edges.select(F.col(dst_col).alias("mid"),
                      F.col(ts_col).cast("long").alias("t1"))
    e2 = edges.select(F.col(src_col).alias("mid"),
                      F.col(ts_col).cast("long").alias("t2"))
    d = int(delta_seconds)
    probe = e1.select(
        "mid", "t1",
        F.explode(F.array(F.expr(f"t1 div {d}"),
                          F.expr(f"t1 div {d} + 1"))).alias("b"))
    build = e2.select("mid", "t2", F.expr(f"t2 div {d}").alias("b"))
    return (
        probe.join(build, ["mid", "b"])
        .filter((F.col("t2") > F.col("t1"))
                & (F.col("t2") <= F.col("t1") + d))
        .groupBy("mid")
        .agg(F.count(F.lit(1)).alias("n_wedges"))
    )


def temporal_wedge_counts_sql(edges_sql: str, delta_seconds: int) -> str:
    """ANSI-SQL twin of :func:`temporal_wedge_counts` (direct θ-join —
    the oracle needs correctness, not the banding)."""
    d = int(delta_seconds)
    return f"""WITH twe AS (
  SELECT src, dst, CAST(ts AS BIGINT) AS t FROM ({edges_sql})
)
SELECT a.dst AS mid, COUNT(*) AS n_wedges
FROM twe a JOIN twe b
  ON a.dst = b.src AND b.t > a.t AND b.t <= a.t + {d}
GROUP BY a.dst"""


def interarrival_stats(events: DataFrame, key_col: str = "user_id",
                       ts_col: str = "ts",
                       id_col: str = "event_id") -> DataFrame:
    """Per-key inter-arrival-time sufficient statistics: for every key
    with ≥ 2 events, the gap count and the exact integer sum / sum of
    squares / min / max of successive gaps in seconds — everything a
    burstiness or session-health model needs (mean = ``sum div n``,
    variance from ``(n·ssq − s²)``, Goh–Barabási burstiness from the
    same two), with the float step left to the caller per the
    hash-gating house rule.

    One keyed window (``lag`` over the deterministic (ts, id) order —
    the same tiebreak every sequence operator here uses) + one partial-
    aggregated rollup. Returns ``(key_col, n_gaps, sum_gap, sum_gap_sq,
    min_gap, max_gap)``.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc(),
                                            F.col(id_col).asc())
    gaps = (
        events.select(
            F.col(key_col),
            (F.expr(f"unix_timestamp({ts_col})")
             - F.lag(F.expr(f"unix_timestamp({ts_col})")).over(w))
            .alias("_gap"))
        .filter(F.col("_gap").isNotNull())
    )
    return gaps.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("_gap").alias("sum_gap"),
        F.sum(F.col("_gap") * F.col("_gap")).alias("sum_gap_sq"),
        F.min("_gap").alias("min_gap"),
        F.max("_gap").alias("max_gap"),
    )


def interarrival_stats_sql(key_col: str = "user_id", ts_col: str = "ts",
                           id_col: str = "event_id",
                           table: str = "events") -> str:
    """ANSI-SQL twin of :func:`interarrival_stats` (seconds via
    date_diff from epoch — the truncation-consistent idiom)."""
    es = (f"date_diff('second', TIMESTAMP '1970-01-01 00:00:00', {ts_col})")
    return f"""WITH ia_g AS (
  SELECT {key_col},
         {es} - LAG({es}) OVER (PARTITION BY {key_col}
                                ORDER BY {ts_col}, {id_col}) AS gap
  FROM {table}
)
SELECT {key_col}, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap) AS BIGINT) AS sum_gap,
       CAST(SUM(gap * gap) AS BIGINT) AS sum_gap_sq,
       CAST(MIN(gap) AS BIGINT) AS min_gap,
       CAST(MAX(gap) AS BIGINT) AS max_gap
FROM ia_g WHERE gap IS NOT NULL GROUP BY {key_col}"""


def decayed_counts(events: DataFrame, as_of: str,
                   half_life_seconds: int, key_col: str = "event_type",
                   ts_col: str = "ts", scale_pow2: int = 30) -> DataFrame:
    """Exponentially time-decayed activity score per key, EXACT in
    integers: an event aged ``a`` seconds at ``as_of`` contributes
    ``2^scale_pow2 >> (a div half_life_seconds)`` — stepwise
    half-life decay realized as a bit shift, so the score is a plain
    ``SUM`` (mergeable across shards/batches like the sketches) and
    byte-identical in both engines where a float ``exp`` would not
    hash-gate. The trending/recency score every activity feed and
    freshness-weighted ranker needs; events newer than ``as_of`` are
    excluded (a decayed score is a point-in-time statement). Events
    older than ``scale_pow2`` half-lives contribute 0 — the same
    truncation a float would hit at machine epsilon. Returns
    ``(key_col, n_events, decayed)`` with ``decayed ≤ n_events ·
    2^scale_pow2``.

    Advancing the clock composes without recomputation:
    ``score(as_of + half_life) = score(as_of) >> 1`` plus the new
    events' contributions — the standard decayed-counter maintenance
    trick, exact here because the decay steps are powers of two.

    One scan + one map-side-combinable aggregation; no window, no
    shuffle beyond the final groupBy. Parity-plus (SURVEY.md §2.7).
    """
    if half_life_seconds <= 0:
        raise ValueError("half_life_seconds must be positive")
    if not 0 < scale_pow2 < 62:
        raise ValueError("scale_pow2 must be in (0, 62)")
    return (
        events.filter(F.col(ts_col) <= F.lit(as_of).cast("timestamp"))
        .select(
            F.col(key_col),
            F.expr(
                f"shiftright(CAST({1 << int(scale_pow2)} AS BIGINT), "
                f"CAST(least((unix_timestamp(TIMESTAMP '{as_of}') - "
                f"unix_timestamp({ts_col})) div {int(half_life_seconds)}, "
                f"{int(scale_pow2) + 1}) AS INT))").alias("__c"))
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("__c").alias("decayed"))
    )


def decayed_counts_sql(as_of: str, half_life_seconds: int,
                       key_col: str = "event_type", ts_col: str = "ts",
                       scale_pow2: int = 30,
                       table: str = "events") -> str:
    """ANSI-SQL twin of :func:`decayed_counts`. Seconds via
    ``date_diff`` from epoch (truncation, matching Spark's
    ``unix_timestamp``), never ``epoch()::BIGINT`` which rounds."""
    e0 = "TIMESTAMP '1970-01-01 00:00:00'"
    age = (f"(date_diff('second', {e0}, TIMESTAMP '{as_of}') - "
           f"date_diff('second', {e0}, {ts_col}))")
    return f"""SELECT {key_col}, COUNT(*) AS n_events,
       CAST(SUM(({1 << int(scale_pow2)} >> LEAST(
         {age} // {int(half_life_seconds)},
         {int(scale_pow2) + 1}))) AS BIGINT) AS decayed
FROM {table}
WHERE {ts_col} <= TIMESTAMP '{as_of}'
GROUP BY {key_col}"""


def sliding_window_counts(
    events: DataFrame,
    size_seconds: int,
    slide_seconds: int,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str | None = "value",
) -> DataFrame:
    """Overlapping (hopping) window aggregation — the batch twin of
    Structured Streaming's ``window(ts, size, slide)``: per ``key_col``
    and every window start ``k·slide`` covering an event, count and
    integer-cents value sum. ``slide == size`` degenerates to the tumbling
    grouping; ``slide < size`` gives the moving-average shape where each
    event lands in ``ceil(size/slide)`` windows.

    Plan: the covering window starts are GENERATED per event with
    ``sequence`` + ``explode`` inside the scan stage (bounded fan-out
    ``size div slide``, a compile-time constant — never a range join or a
    self-join), then ONE (key, window) map-side-combinable aggregation.
    Window starts are absolute epoch seconds (calendar-free `div`
    arithmetic, engine-portable); sums stay integer.

    Returns ``(key_col, win_start BIGINT, n BIGINT, sum_cents BIGINT)``.

    Reference: no windowed aggregation exists in judy-graph-db (SURVEY
    §2.7); this extends the tumbling `events_hourly` surface the same way
    Spark's own window() slide parameter does.
    """
    if size_seconds < 1 or slide_seconds < 1:
        raise ValueError("size and slide must be positive")
    if slide_seconds > size_seconds:
        raise ValueError("slide must not exceed size (gaps would drop "
                         "events; use resample_counts for tumbling gaps)")
    t = f"unix_timestamp({ts_col})"
    # k from floor((t-size)/slide)+1 .. floor(t/slide); the lower bound is
    # kept non-negative-safe by plain integer floor-div on epoch seconds
    lo = F.expr(f"floor(({t} - {int(size_seconds)}) / {int(slide_seconds)})"
                ).cast("long") + 1
    hi = F.expr(f"floor({t} / {int(slide_seconds)})").cast("long")
    base = events.select(
        F.col(key_col),
        F.explode(F.sequence(lo, hi)).alias("__k"),
        (F.round(F.col(value_col) * 100).cast("long") if value_col
         else F.lit(0).cast("long")).alias("__cents"),
    )
    return (
        base.groupBy(key_col,
                     (F.col("__k") * slide_seconds).alias("win_start"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("__cents").alias("sum_cents"))
    )


def scd2_merge(current: DataFrame, updates: DataFrame,
               key_col: str = "key", value_cols=("value",),
               ts_col: str = "ts", from_col: str = "valid_from",
               to_col: str = "valid_to",
               delete_col: str | None = None) -> DataFrame:
    """Type-2 slowly-changing-dimension merge — the lakehouse upsert that
    keeps FULL HISTORY: ``current`` holds versioned rows (``from_col``,
    ``to_col`` with NULL = open), ``updates`` holds at most one new state
    per key stamped ``ts_col``. A changed value CLOSES the open row at
    the update timestamp and opens a new one; an unchanged value is a
    no-op (idempotent re-delivery); a brand-new key opens its first row.
    History rows pass through untouched. The point-in-time reader is the
    existing :func:`asof_join` over the emitted intervals.

    ``delete_col`` (optional) names a boolean column in ``updates``
    carrying CDC delete tombstones: a true tombstone CLOSES the key's
    open row at ``ts_col`` and opens nothing — the key leaves the live
    dimension but its history stays queryable (re-inserting later opens
    a fresh row). A tombstone for an absent key is a no-op (idempotent
    re-delivery, same as unchanged values); the value columns of a
    tombstone row are ignored.

    One full-outer join on the key between the OPEN slice and the
    updates — history never enters the join — then three pure
    projections union the result: no window, no driver state, change
    detection by comparing the value columns directly (NULL-safe
    ``<=>``). Deterministic and engine-exact.

    Returns the new version table with the same columns as ``current``.
    """
    vals = list(value_cols)
    open_rows = current.filter(F.col(to_col).isNull())
    closed_rows = current.filter(F.col(to_col).isNotNull())
    u = updates.select(
        F.col(key_col),
        *[F.col(c).alias(f"__u_{c}") for c in vals],
        F.col(ts_col).alias("__u_ts"),
        (F.coalesce(F.col(delete_col), F.lit(False)) if delete_col
         else F.lit(False)).alias("__u_del"))
    j = open_rows.join(u, key_col, "full_outer")
    same = None
    for c in vals:
        eq = F.col(c).eqNullSafe(F.col(f"__u_{c}"))
        same = eq if same is None else (same & eq)
    has_open = F.col(from_col).isNotNull()
    has_upd = F.col("__u_ts").isNotNull()
    is_del = F.coalesce(F.col("__u_del"), F.lit(False))
    # open rows that survive as-is: no update, or update equal (and not
    # a tombstone)
    keep = j.filter(has_open & (~has_upd | (same & ~is_del))).select(
        key_col, *vals, from_col, F.lit(None).cast("timestamp").alias(to_col))
    # open rows closed by a differing update or a delete tombstone
    close = j.filter(has_open & has_upd & (~same | is_del)).select(
        key_col, *vals, from_col, F.col("__u_ts").alias(to_col))
    # new opens: differing non-delete update on an existing key, or a
    # brand-new non-deleted key
    opens = j.filter(has_upd & ~is_del & (~has_open | ~same)).select(
        F.col(key_col),
        *[F.col(f"__u_{c}").alias(c) for c in vals],
        F.col("__u_ts").alias(from_col),
        F.lit(None).cast("timestamp").alias(to_col))
    out_cols = [key_col, *vals, from_col, to_col]
    return union_all([closed_rows.select(*out_cols), keep, close, opens], by_name=True)


def rate_anomalies(events: DataFrame, period_seconds: int,
                   key_col: str = "event_type", ts_col: str = "ts",
                   k_milli: int = 3000) -> DataFrame:
    """Robust event-rate anomaly detection per key: bucket the stream
    into fixed periods (gap-filled — an empty period is a ZERO, which is
    exactly the outage you want to catch, not a missing row), then flag
    buckets where ``|n − median| · 1000 > k_milli · MAD`` against the
    key's own per-period history. Median/MAD instead of mean/stddev so
    the spike being hunted cannot drag the baseline toward itself; all
    arithmetic integer (``k_milli`` = 3000 ≈ the classic 3σ knob).

    When a key's MAD is 0 (metronomic traffic) any deviation from the
    median flags — the strictest sensible reading, documented rather
    than hidden. Composition of :func:`resample_counts` (one shuffle +
    per-key gap fill) and ``stats.grouped_median_mad`` (two
    percentile_disc passes over the |keys·periods|-row count relation —
    already aggregate-sized, so the windows are cheap).

    Returns ``(key_col, period, n, median, mad, is_anomaly)``.
    """
    from judy_graph_db_spark.operators.stats import grouped_median_mad

    counts = resample_counts(events, period_seconds, key_col=key_col,
                             ts_col=ts_col, value_col=None) \
        .select(key_col, "period", "n")
    rob = grouped_median_mad(counts, [key_col], "n")
    return (
        counts.join(F.broadcast(rob), key_col)
        .select(
            key_col, "period", "n", "median", "mad",
            (F.abs(F.col("n") - F.col("median")) * 1000
             > F.lit(int(k_milli)) * F.col("mad")).alias("is_anomaly"))
    )


def concurrency_profile(intervals: DataFrame,
                        start_col: str = "start_ts", end_col: str = "end_ts",
                        period_seconds: int = 60,
                        key_col: str | None = None) -> DataFrame:
    """Concurrent-interval counts over time — "how many sessions were
    active in each bucket" — by the classic sweep: every interval emits a
    +1 at its start bucket and a −1 just past its end bucket, deltas
    aggregate per bucket, and a cumulative sum turns them into active
    counts. An interval covers every bucket it touches (inclusive ends).

    Scale shape: the explode is 2 rows per interval; the per-bucket
    delta aggregation is map-side combinable; the cumulative window runs
    over the AGGREGATED (key, bucket) relation — bucket-count-sized, not
    interval-count-sized (the ``build_vocab`` caveat; pick the period so
    buckets stay aggregate-scale). Buckets between deltas carry the
    running count implicitly — rows appear only at CHANGE points, which
    is the compact form; join with a `sequence` fill (as
    `resample_counts` does) when a dense grid is needed.

    Returns ``(key?, bucket, delta, n_active)`` at change points.
    """
    g = [key_col] if key_col else []
    b0 = F.expr(f"unix_timestamp({start_col}) div {int(period_seconds)}")
    b1 = F.expr(f"unix_timestamp({end_col}) div {int(period_seconds)}") + 1
    ev = intervals.select(
        *g,
        F.explode(F.array(
            F.struct(b0.alias("bucket"), F.lit(1).alias("delta")),
            F.struct(b1.alias("bucket"), F.lit(-1).alias("delta")),
        )).alias("e"),
    ).select(*g, "e.bucket", "e.delta")
    agg = ev.groupBy(*g, "bucket").agg(
        F.sum("delta").cast("long").alias("delta"))
    w = (Window.partitionBy(*g).orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0)) if g else (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0))
    return agg.select(
        *g, "bucket", "delta",
        F.sum("delta").over(w).cast("long").alias("n_active"))
