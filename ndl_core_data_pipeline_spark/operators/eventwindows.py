"""Event-time window operators — batch semantics of the streaming superset
(SURVEY §2.12: the reference has NO streaming runtime; these are the
Spark-native operators exposed over the events table, with identical
Structured Streaming forms in ndl_core_data_pipeline_spark.streaming).

Batch and streaming share the same window()/session_window() expressions,
so the oracle-checked batch results here certify the streaming plans too.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ..io import load
from ._util import dsum, sql_dsum


def tumbling_window(spark, sf_dir):
    """Tumbling 1-hour event-time window aggregation (epoch-aligned — same
    boundaries as date_trunc('hour'))."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window(spark, sf_dir):
    """Sliding window: 1-hour length, 30-minute hop — each event lands in
    two windows; Spark's window() generates the assignment without a join."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), "sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_window_per_user(spark, sf_dir):
    """Session window with 30-minute gap per user (the streaming-native form
    of W4 sessionization; ref analog: hansard conversation grouping,
    parser.py:203-252). Spark merges events whose gap is <= 30 min — the
    session range [start, start+gap] is END-INCLUSIVE under merging: an
    event landing exactly at the previous end joins the session, one
    microsecond past it starts a new one (probed; the extreme-timestamp
    axis caught the oracle's strict < on an exact-gap pair)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def watermark_dedup_projection(spark, sf_dir):
    """Streaming dropDuplicates analog: distinct on the dedup key set
    (in streaming this is dropDuplicates + watermark state eviction)."""
    ev = load(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


def funnel_steps(spark, sf_dir):
    """Ordered conversion funnel view → click → purchase: for each user,
    the first view, the first click strictly AFTER that view, and the
    first purchase strictly AFTER that click (the MATCH_RECOGNIZE /
    event-analytics funnel primitive).

    r19 (guide §5 + §2.3, after a MEASURED reversal): the r6 shape —
    three keyed min-aggregations chained by user_id joins — re-derived
    each stage's subtree per consumer (views ran 4×, clicks 2×: 6
    events scans, 10 Exchanges). A full window restructure (stacked
    unbounded windows over one user_id partition, 1 scan / no joins)
    was TRIED first: faster at sf0.1 (−20%) but consistently SLOWER at
    sf1 across three interleaved trials (old mins 0.89–1.17 s vs new
    1.04–1.61 s) — the window form ships EVERY event row into the
    partition sort, while the aggregate form partial-aggregates
    map-side and shuffles only per-user rows (guide §2.3 "aggregate
    before you shuffle"; the trend worsens with scale, so the window
    form was REVERTED). The kept fix attacks only the re-derivation:
    lazy localCheckpoints on the per-user `views` and `clicks` tables
    (users-scale, two narrow columns), so each stage computes once —
    3 filtered scans instead of 6, identical NULL semantics to the
    r6 form (no window NULL-group pitfalls to re-prove).
    """
    ev = load(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
        .localCheckpoint(eager=False)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
        .localCheckpoint(eager=False)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        views.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            (
                F.lit(1)
                + F.col("click_ts").isNotNull().cast("int")
                + F.col("purchase_ts").isNotNull().cast("int")
            ).alias("funnel_stage"),
        )
    )


def cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity day, then
    distinct active users per (cohort_day, day_offset) — the standard
    retention triangle. At 100 TB the distinct-user count shuffles
    (cohort, offset, user) tuples once.

    r19 (guide §2.4): the first-activity aggregate was a groupBy joined
    back to the stream — the events scan ran twice (once under the
    aggregate, once as the probe side). cohort_day is a per-user min, so
    it computes as an unbounded window over ONE user_id partition: 1
    scan, and the join exchange disappears. The old inner join on
    user_id dropped NULL-user rows (NULL never equi-joins) while window
    partitioning groups them — the explicit isNotNull filter reproduces
    the drop."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        ev.select("user_id", F.to_date("ts").alias("d"))
        .withColumn("cohort_day", F.min("d").over(w))
        .select(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


FUNNEL_PATTERN = "vcp"  # strict-adjacency view→click→purchase


def sequence_pattern_match(spark, sf_dir):
    """MATCH_RECOGNIZE-lite: each user's event stream collapses to an
    ordered initial string (v/c/p/s/e), and the operator counts strict
    consecutive view→click→purchase runs — the adjacency-sensitive
    pattern the funnel operator (first-occurrence semantics) cannot see.
    One user-keyed aggregation; the sequence string is bounded by
    per-user activity (sessionize first when users are unbounded).
    Non-overlapping occurrence count via length arithmetic — identical
    left-to-right replace semantics in both engines."""
    ev = load(spark, sf_dir, "events")
    # NULL seq (not '') when every initial is NULL: string_agg over an
    # all-NULL group is NULL, and LENGTH(NULL) must propagate to
    # n_events / n_strict_funnels on both engines (r16 compound-max
    # probe — the array_join-over-collect '' -vs- NULL class)
    chars = F.array_sort(
        F.collect_list(
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
        )
    )
    seq_col = F.when(
        F.exists(chars, lambda s: s["c"].isNotNull()),
        F.array_join(F.transform(chars, lambda s: s["c"]), ""),
    )
    per_user = ev.groupBy("user_id").agg(seq_col.alias("seq"))
    n_hits = (
        (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit(FUNNEL_PATTERN)))) / 3
    ).cast("bigint")
    return per_user.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        n_hits.alias("n_strict_funnels"),
    )


SESSION_GAP_US = 1800 * 1_000_000  # same 30-min idle gap as window_sessionize
PATH_TOPK = 20


def session_paths(spark, sf_dir):
    """Session-path mining: sessionize each user's stream (30-min idle
    gap, the same boundary arithmetic as window_sessionize), collapse
    each session to its ordered event-initial path string, explode every
    trigram of every path, and return the corpus-wide top-20 trigrams —
    the 'what do users do in a session' product-analytics staple. All
    stages are user-keyed until the trigram rollup (which ships 3-char
    keys); the top-k is TakeOrdered with a deterministic (count desc,
    trigram) tiebreak."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts"))
    gap = micros - F.lag(micros, 1).over(w)
    is_start = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sessions = ev.withColumn(
        "session_id", F.sum(is_start).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    path_col = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
                    )
                )
            ),
            lambda s: s["c"],
        ),
        "",
    )
    paths = sessions.groupBy("user_id", "session_id").agg(path_col.alias("path"))
    tri = paths.filter(F.length("path") >= 3).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("path") - 2),
                lambda i: F.substring(F.col("path"), i, F.lit(3)),
            )
        ).alias("trigram")
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("trigram"))
        .limit(PATH_TOPK)
    )


_PATHS_SQL = f"""
WITH b AS (
  SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS c,
         CASE WHEN lag(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  -- brk DESC tiebreak: see window_sessionize (round-17
  -- duprow-interaction find) — the flag is positional from pass 1 and
  -- a tie-group re-sort in this pass can move it mid-group, splitting
  -- the group across sessions; flag-first reconstructs pass 1.
  SELECT user_id, c, ts, event_id,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id, brk DESC
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM b
), paths AS (
  -- c tiebreak: the engine sorts (ts, event_id, c) structs, so the
  -- oracle's within-tie order must also fall to the char (same class as
  -- events_pattern_match; found by the totality linter, not a sweep —
  -- ties here need same-user same-ts NULL event_id collisions)
  SELECT user_id, sess, string_agg(c, '' ORDER BY ts, event_id, c) AS path
  FROM s GROUP BY user_id, sess
), tris AS (
  SELECT UNNEST(list_transform(generate_series(1, length(path) - 2),
                               i -> substr(path, CAST(i AS INT), 3))) AS trigram
  FROM paths WHERE length(path) >= 3
)
SELECT trigram, COUNT(*) AS cnt FROM tris GROUP BY trigram
ORDER BY cnt DESC, trigram LIMIT {PATH_TOPK}
"""


def _ntile5_expr(rank: str, n: str):
    """ntile(5) of a 1-based global `rank` over `n` rows, as exact
    integer arithmetic (no window): the first n%5 buckets hold
    ceil(n/5) rows, the rest floor(n/5) — precisely Spark's NTile.
    ceil(a/b) is computed as (a + b - 1) div b so 9e15-scale ranks
    never round through a double."""
    q, r = f"({n} div 5)", f"({n} % 5)"
    head = f"({r} * ({q} + 1))"
    return F.expr(
        f"CAST(CASE WHEN {rank} <= {head} "
        f"THEN ({rank} + {q}) div ({q} + 1) "
        f"ELSE {r} + ({rank} - {head} + {q} - 1) div {q} END AS BIGINT)"
    )


def _two_level_rank(df, group_col, order_cols, rank_name):
    """Global rank over `order_cols` (a total order whose leading keys
    coarsen to `group_col`) without a single-partition window: local
    row_number per group + broadcast per-group offsets from a prefix
    scan over the group histogram — bit-identical to the global window
    (same decomposition as text_zipf_fit / distributed_prefix_sum)."""
    grp = df.withColumn("_g", group_col[1])
    hist = grp.groupBy("_g").agg(F.count("*").alias("_cnt"))
    w_hist = W.orderBy(*group_col[0]("_g")).rowsBetween(W.unboundedPreceding, -1)
    offs = hist.select(
        "_g", F.coalesce(F.sum("_cnt").over(w_hist), F.lit(0)).alias("_off")
    )
    within = grp.withColumn(
        "_wr", F.row_number().over(W.partitionBy("_g").orderBy(*order_cols))
    )
    # NULL group keys (e.g. a NULL-total_value user in rfm_scores) are a
    # real window partition and a real histogram row; a plain equi-join
    # would silently drop those users, so the broadcast lookup is
    # null-safe. Both engines sort NULLs LAST under DESC (Spark
    # desc_nulls_last; DuckDB default), so the offset scan places the
    # NULL group exactly where the ntile window would.
    offs = offs.withColumnRenamed("_g", "_og")
    return (
        within.join(F.broadcast(offs), F.col("_g").eqNullSafe(F.col("_og")))
        .withColumn(rank_name, F.col("_off") + F.col("_wr"))
        .drop("_g", "_og", "_off", "_wr")
    )


def rfm_scores(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary) — the classic
    customer-analytics rollup: one keyed aggregation to per-user (last
    ts, event count, decimal-exact value total), then quintile scores.
    The per-user summary is users-scale, so no global ntile window runs
    over it (r9 VERDICT: at 100x users "tiny per-user summary" stops
    being tiny): each dimension gets a keyed two-level global rank —
    minute-truncated last_ts / (n_events, user-id block) / floor(total)
    groups, each a monotone coarsening of its full sort order — and the
    rank maps to a quintile via exact integer NTile arithmetic against
    one broadcast row count. Output is bit-identical to ntile(5) with
    the user_id tiebreaks (oracle unchanged). The summary feeds seven
    subtrees (3 ranks + 3 histograms + the count), so it is
    localCheckpointed once rather than re-aggregating events per use."""
    ev = load(spark, sf_dir, "events")
    summary = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
    ).localCheckpoint(eager=True)
    n_users = F.broadcast(summary.agg(F.count("*").alias("_n")))

    desc_asc = lambda g: (F.desc(g),)  # noqa: E731
    df = _two_level_rank(
        summary,
        (desc_asc, F.date_trunc("minute", F.col("last_ts"))),
        (F.desc("last_ts"), F.asc("user_id")),
        "_rk_r",
    )
    # (n_events DESC, user_id ASC): group by n_events plus a 16k-wide
    # user_id block so one popular event-count fans across many tasks;
    # block ASC then user_id ASC is exactly user_id ASC within a count
    df = _two_level_rank(
        df,
        (
            lambda g: (F.desc(f"{g}._n"), F.asc(f"{g}._b")),
            F.struct(
                F.col("n_events").alias("_n"),
                (F.col("user_id") - (F.col("user_id") % 16384)).alias("_b"),
            ),
        ),
        (F.desc("n_events"), F.asc("user_id")),
        "_rk_f",
    )
    # floor(total_value) has data-dependent cardinality — wide/continuous
    # totals would push the histogram offset scan back toward a
    # users-scale global window (ADVICE r10). Bucket width adapts to the
    # observed range instead: floor(total / B) with B from a broadcast
    # min/max probe caps the histogram at ~64Ki rows for ANY
    # distribution, and any positive B is a monotone coarsening of
    # total_value DESC, so the rank stays bit-identical to ntile's.
    # (The frequency dimension's user-block trick doesn't transfer:
    # blocks only preserve the total order when the group key carries
    # the EXACT order key, which a coarsened bucket by design does not.)
    bw = F.broadcast(
        summary.agg(
            F.greatest(
                (F.max("total_value") - F.min("total_value"))
                / F.lit(65536.0),
                F.lit(1e-6),
            ).alias("_bw")
        )
    )
    df = df.crossJoin(bw)
    df = _two_level_rank(
        df,
        (desc_asc, F.floor(F.col("total_value") / F.col("_bw"))),
        (F.desc("total_value"), F.asc("user_id")),
        "_rk_m",
    ).drop("_bw")
    return df.crossJoin(n_users).select(
        "user_id",
        "n_events",
        "total_value",
        _ntile5_expr("_rk_r", "_n").alias("r_score"),
        _ntile5_expr("_rk_f", "_n").alias("f_score"),
        _ntile5_expr("_rk_m", "_n").alias("m_score"),
    )


_RFM_SQL = """
WITH s AS (
  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, total_value,
       CAST(ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS BIGINT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS f_score,
       CAST(ntile(5) OVER (ORDER BY total_value DESC, user_id) AS BIGINT) AS m_score
FROM s
"""


# ---------------------------------------------------------------------------
# Burst debouncing

DEBOUNCE_US = 60 * 1_000_000  # 60 s gap closes a burst


def events_debounce(spark, sf_dir):
    """Collapse event bursts: per (user, event type), events separated by
    ≤ 60 s chain into one burst (the stream-cleaning op that dedups
    double-clicks / retry storms before counting anything). Burst starts
    come from one lag() gap test; a running sum of start flags numbers
    the bursts; one keyed aggregation emits (start, size, value total)
    per burst. Both windows and the aggregation share the (user_id,
    event_type) key — one shuffle total, decimal-exact value sums.
    Sort key (ts, event_id, value): the burst numbering is a running sum
    (positional), and dirty data ties (ts, event_id) with both NULL and
    differing values — every NULL-ts row is its own singleton burst, so
    without the value tiebreak which payload lands in burst_id k depends
    on arrival order (NULLHEAVY_r15; r12 totality rule — NaN values sort
    GREATEST identically in Spark and DuckDB, and rows tying on all
    three keys emit identical burst rows)."""
    from pyspark.sql import Window
    from ._util import DEC

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id", "value"
    )
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    is_start = F.when(
        prev.isNull() | ((us - prev) > DEBOUNCE_US), F.lit(1)
    ).otherwise(F.lit(0))
    marked = ev.withColumn("is_start", is_start).withColumn(
        "burst_id",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return marked.groupBy("user_id", "event_type", "burst_id").agg(
        F.min("ts").alias("burst_start"),
        F.count("*").alias("burst_n"),
        F.coalesce(
            F.sum(F.col("value").cast(DEC)).cast("double"), F.lit(0.0)
        ).alias("burst_value"),
    )


_DEBOUNCE_SQL = f"""
WITH marked AS (
  SELECT event_id, user_id, event_type, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {DEBOUNCE_US}
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id, value)
),
numbered AS (
  -- is_start DESC tiebreak: round-17 duprow-interaction find (this
  -- query was the finder). The interaction fixture nulls event_ids on
  -- payload-identical copies, creating (ts, NULL, value) tie groups
  -- whose pass-1 is_start payloads DIFFER (head 1, rest 0); this
  -- pass's independent re-sort interleaved them differently and split
  -- a 3-row burst as 2+1. Spark evaluates lag and the running sum in
  -- one Window operator over one sort; flag-first reconstructs it.
  SELECT *, SUM(is_start) OVER (PARTITION BY user_id, event_type
    ORDER BY ts, event_id, value, is_start DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst_id
  FROM marked
)
SELECT user_id, event_type, CAST(burst_id AS BIGINT) AS burst_id,
       MIN(ts) AS burst_start, COUNT(*) AS burst_n,
       COALESCE(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 0.0)
         AS burst_value
FROM numbered GROUP BY user_id, event_type, burst_id
"""


def events_markov_transitions(spark, sf_dir):
    """First-order behavior model: the event-type transition matrix over
    within-user sequences — counts of (prev_type → type) across all
    users plus row-normalized probabilities. One keyed lag window (the
    sequences live per user), one count aggregation over at most T²
    keys, and a broadcast of the T-row marginals for normalization; at
    100 TB only the lag window touches data-sized rows. Probabilities
    are exact count ratios rounded deterministically."""
    from pyspark.sql import Window
    from ..operators._util import round6_det

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    # event_type as the final key makes the order TOTAL up to duplicate
    # rows (dirty data ties (ts, event_id) — both NULL — within a user;
    # the transition pair between tied rows would otherwise depend on
    # partition arrival order — r12 order-invariance sweep class)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id", "event_type")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )
    # r19 (guide §5): pairs is ≤T² rows, but it feeds both the marginals
    # and the final join, and each consumer re-ran the data-sized lag
    # window behind it. Lazy checkpoint runs the window pass once (the
    # elbow_cut pattern: tiny materialization, saves a corpus pass).
    pairs = pairs.localCheckpoint(eager=False)
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("n_prev"))
    return pairs.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        F.col("event_type").alias("next_type"),
        "n",
        round6_det(F.col("n") / F.col("n_prev")).alias("p"),
    )


_MARKOV_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type)
           AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, COUNT(*) AS n FROM pairs
  WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
totals AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_prev
           FROM counts GROUP BY prev_type)
SELECT prev_type, next_type, n,
       FLOOR(CAST(n AS DOUBLE) / n_prev * 1000000.0 + 0.5) / 1000000.0 AS p
FROM counts JOIN totals USING (prev_type)
"""


def window_cusum_drift(spark, sf_dir):
    """Cumulative-deviation drift scan (Page-style CUSUM without reset,
    the window-expressible linear form): per event type, S_t = Σ(x_i−μ)
    over the (ts, event_id)-ordered series; the drift score is max |S_t|
    and where it happened. A mean shift mid-series makes |S_t| ramp, so
    this is the batch form of change-point triage. Per-key windows with
    decimal prefix sums; μ arrives by broadcast; the argmax is a second
    per-key window max plus an equality filter feeding MIN(t) (ties →
    earliest position) — every stage shares the event_type key, so the
    plan is one shuffle on event_type end to end."""
    from pyspark.sql import Window
    from ..operators._util import DEC, round6_det

    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    mu = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*")).alias("mu")
    )
    # value as the final key: dirty data ties (ts, event_id) within a
    # type with DIFFERENT values, and the running prefix between tied
    # rows would otherwise depend on arrival order (both engines sort
    # NaN greatest, so the key stays cross-engine total)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id", "value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_s = (
        ev.join(F.broadcast(mu), "event_type")
        .withColumn("t", F.count("*").over(w))
        .withColumn(
            "s_t",
            F.sum(F.col("value").cast(DEC)).over(w).cast("double")
            - F.col("t") * F.col("mu"),
        )
    )
    flagged = with_s.withColumn(
        "mx", F.max(F.abs("s_t")).over(Window.partitionBy("event_type"))
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        round6_det(F.max(F.abs(F.col("s_t")))).alias("drift_max"),
        F.min(F.when(F.abs("s_t") == F.col("mx"), F.col("t")))
        .cast("bigint")
        .alias("t_at_max"),
    )


_CUSUM_SQL = """
WITH ev AS (SELECT event_type, ts, event_id, value FROM events
            WHERE value IS NOT NULL),
mu AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS mu
  FROM ev GROUP BY event_type
),
s AS (
  SELECT e.event_type,
         COUNT(*) OVER w AS t,
         CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE)
           - COUNT(*) OVER w * mu AS s_t
  FROM ev e JOIN mu USING (event_type)
  WINDOW w AS (PARTITION BY e.event_type ORDER BY ts, event_id, value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
m AS (SELECT event_type, MAX(ABS(s_t)) AS mx FROM s GROUP BY event_type)
SELECT s.event_type, COUNT(*) AS n,
       FLOOR(ANY_VALUE(mx) * 1000000.0 + 0.5) / 1000000.0 AS drift_max,
       CAST(MIN(CASE WHEN ABS(s_t) = mx THEN t END) AS BIGINT) AS t_at_max
FROM s JOIN m USING (event_type)
GROUP BY s.event_type
"""


def register(reg):
    reg.add(
        "events_tumbling_window",
        tumbling_window,
        # ts IS NOT NULL: Spark's window() drops un-timestamped rows
        # (engine semantics) where date_trunc(NULL) would emit a NULL group
        "SELECT date_trunc('hour', ts) AS window_start, event_type, "
        "COUNT(*) AS n_events, " + sql_dsum("value") + " AS sum_value "
        "FROM events WHERE ts IS NOT NULL GROUP BY 1, 2",
    )
    reg.add(
        "events_sliding_window",
        sliding_window,
        # each event belongs to the 1h windows starting at trunc30(ts) and
        # trunc30(ts) - 30min (epoch-aligned, same as Spark's window()).
        # FLOOR-mod, not bare %: Spark's window() floor-aligns for every
        # instant, while DuckDB's sign-preserving % truncates a PRE-EPOCH
        # epoch_us toward zero — one slide too late (extreme-timestamp
        # axis find on year-1 plants; identity for ts >= epoch).
        "WITH assigned AS ("
        "  SELECT make_timestamp((epoch_us(ts) "
        "- ((epoch_us(ts) % 1800000000) + 1800000000) % 1800000000) - s.shift) AS window_start, value"
        "  FROM events, (SELECT UNNEST([0, 1800000000]) AS shift) s"
        "  WHERE ts IS NOT NULL"
        ") SELECT window_start, COUNT(*) AS n_events, "
        + sql_dsum("value")
        + " AS sum_value FROM assigned GROUP BY window_start",
    )
    reg.add(
        "events_session_window",
        session_window_per_user,
        # gaps-and-islands: new session when gap > 30 min — <=, not <,
        # mirrors Spark's end-INCLUSIVE session merge (an exact-timeout
        # gap merges; extreme-timestamp axis find, latent on any
        # second-granular log with exact 30-min spacings)
        "WITH flagged AS ("
        "  SELECT user_id, ts,"
        "    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 1800000000 THEN 0 ELSE 1 END AS is_start"
        "  FROM events WHERE ts IS NOT NULL"
        "  WINDOW w AS (PARTITION BY user_id ORDER BY ts)"
        "), numbered AS ("
        # is_start DESC tiebreak: see window_sessionize (round-17
        # duprow-interaction find) — pass 2 re-sorts ts-tied rows whose
        # is_start payloads differ; flag-first reconstructs pass 1.
        "  SELECT user_id, ts, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, is_start DESC "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flagged"
        ") SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events "
        "FROM numbered GROUP BY user_id, sid",
    )
    reg.add(
        "events_distinct_keys",
        watermark_dedup_projection,
        "SELECT DISTINCT user_id, event_type FROM events",
    )
    # conversion funnel, cohort retention
    reg.add(
        "events_funnel_steps",
        funnel_steps,
        "WITH v AS (SELECT user_id, MIN(ts) AS view_ts FROM events "
        "WHERE event_type = 'view' GROUP BY user_id), "
        "c AS (SELECT e.user_id, MIN(e.ts) AS click_ts FROM events e "
        "JOIN v ON e.user_id = v.user_id AND e.ts > v.view_ts "
        "WHERE e.event_type = 'click' GROUP BY e.user_id), "
        "p AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts FROM events e "
        "JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts "
        "WHERE e.event_type = 'purchase' GROUP BY e.user_id) "
        "SELECT v.user_id, view_ts, click_ts, purchase_ts, "
        "1 + CAST(click_ts IS NOT NULL AS INT) "
        "+ CAST(purchase_ts IS NOT NULL AS INT) AS funnel_stage "
        "FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)",
    )
    reg.add(
        "events_cohort_retention",
        cohort_retention,
        "WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day "
        "FROM events GROUP BY user_id) "
        "SELECT cohort_day, "
        "datediff('day', cohort_day, CAST(ts AS DATE)) AS day_offset, "
        "COUNT(DISTINCT e.user_id) AS n_users "
        "FROM events e JOIN f USING (user_id) "
        "GROUP BY cohort_day, day_offset",
    )
    reg.add(
        "events_pattern_match",
        sequence_pattern_match,
        # ORDER BY carries the aggregated char itself as the final
        # tiebreak: the engine side sorts (ts, event_id, c) STRUCTS, so
        # rows tying on both keys (dirty data: both NULL, ~9% at 30%
        # NULL density) order by c there — without the same tiebreak
        # here the oracle's tie order is arrival-dependent and the
        # strict-funnel count diverges (NULLHEAVY_r15; rows tying on all
        # three contribute identical chars, so order among them is moot)
        "WITH seqs AS (SELECT user_id, "
        "string_agg(substr(event_type, 1, 1), '' "
        "ORDER BY ts, event_id, substr(event_type, 1, 1)) AS seq "
        "FROM events GROUP BY user_id) "
        "SELECT user_id, CAST(LENGTH(seq) AS BIGINT) AS n_events, "
        "CAST((LENGTH(seq) - LENGTH(REPLACE(seq, 'vcp', ''))) / 3 AS BIGINT) "
        "AS n_strict_funnels FROM seqs",
    )
    reg.add("events_session_paths", session_paths, _PATHS_SQL)
    reg.add("events_rfm_scores", rfm_scores, _RFM_SQL)
    reg.add("events_debounce", events_debounce, _DEBOUNCE_SQL)
    reg.add("events_markov_transitions", events_markov_transitions, _MARKOV_SQL)
    reg.add("window_cusum_drift", window_cusum_drift, _CUSUM_SQL)
