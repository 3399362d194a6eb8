"""Window-function operators (SURVEY §2.6 W1–W4 + ranking/frames).

One shuffle per distinct partitioning key; consecutive windows over the same
key reuse the exchange. At 100 TB the partition key (document id / user id)
must be high-cardinality — all of these are.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ..io import load
from ._util import sql_dsum


def lag_lead_neighbors(spark, sf_dir):
    """W1/J3: prev/next record within group, ordered — the neighbor-chunk
    merge (ref: resources/embedding/rag_search.py:50-65) done as lag/lead
    instead of the reference's positional row lookup."""
    docs = load(spark, sf_dir, "documents")
    # text tiebreak: multiple NULL-doc_id rows in one source would
    # otherwise order nondeterministically and swap neighbors
    w = W.partitionBy("source").orderBy("doc_id", "text")
    return docs.select(
        "doc_id",
        "source",
        F.substring(F.lag("text", 1).over(w), 1, 30).alias("prev_snippet"),
        F.substring(F.lead("text", 1).over(w), 1, 30).alias("next_snippet"),
    )


def first_in_group(spark, sf_dir):
    """W2: dedup winner — first row per group by deterministic order
    (ref: resources/refine/dedupe.py:97-103, first path wins)."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", "doc_id", "n_chars")
    )


def chunk_index_assignment(spark, sf_dir):
    """W3/V1 deterministic tier: fixed-width chunking with explicit
    chunk_index via posexplode (ref: assets/rag/process_text_chunks.py:51-59
    relies on implicit row order; a distributed engine must make the index
    explicit). The recursive-splitter tier is a pandas UDF (text module)."""
    docs = load(spark, sf_dir, "documents")
    width = 400
    return (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(length(text)/{width}.0) as int) - 1),"
                    f" i -> substring(text, i*{width}+1, {width}))"
                )
            ).alias("chunk_index", "chunk"),
        )
    )


def sessionize_conversations(spark, sf_dir):
    """W4: stateful-scan sessionization — running sum over boundary flags
    (ref: hansard conversation segmentation, parser.py:203-252: new
    conversation at each 'Start Question'). Here: new session per user when
    idle gap > 30 min; emits per-session aggregates.

    Sort key (ts, event_id, value): session numbering is a running sum
    (positional), and every NULL-ts row is its own singleton session —
    so the session_id ordinal <-> value pairing depends on arrival order
    when (ts, event_id) tie with BOTH NULL and differing values. The
    r16 compound sweep caught it (a 50%-hot user carries ~1500 NULL-ts
    rows; the single-axis tiers passed on small tie groups by layout
    luck). value closes the key over every consumed column — rows tying
    on all three are fully duplicate in the aggregates."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id", "value")
    micros = F.unix_micros(F.col("ts"))
    gap = micros - F.lag(micros, 1).over(w)
    is_start = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sessions = ev.withColumn(
        "session_id",
        F.sum(is_start).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("session_value"),
    )


def ranking_family(spark, sf_dir):
    """Engine surface: rank / dense_rank / ntile over acctbal per nation."""
    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


def running_sum_frame(spark, sf_dir):
    """Engine surface: cumulative frame (rowsBetween unboundedPreceding..0).
    Decimal accumulation keeps the running sum order-independent for the
    oracle hash. Sort key (o_orderdate, o_orderkey, o_totalprice): a
    running sum is positional, and dirty data ties the first two keys
    with BOTH NULL and differing prices — without the price tiebreak each
    tied row's prefix depends on arrival order (found by the r16
    null-heavy CERTIFICATION sweep, the round after the r15 probe listed
    ten other sites — this one passed the probe by arrival-order luck;
    r12 totality rule, rows tying on all three keys are fully duplicate
    in every selected column)."""
    o = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey", "o_totalprice")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


def range_frame_trailing(spark, sf_dir):
    """Engine surface: RANGE frame (rangeBetween on event-time seconds) —
    trailing-30-day order total per customer. RANGE semantics make peers
    (equal timestamps) a single frame unit, so the result is deterministic
    under ties without an explicit tie-break."""
    o = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d_total"),
        F.count("*").over(w).alias("trailing_30d_orders"),
    )


def distribution_family(spark, sf_dir):
    """Engine surface: percent_rank / cume_dist per nation — the relative-
    position companions to `window_ranking_family`. Integer-ratio doubles
    are bit-identical across engines (same IEEE division), no rounding
    needed."""
    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def gaps_and_islands(spark, sf_dir):
    """Gaps-and-islands: per-customer runs of CONSECUTIVE order days
    (the classic streak query). Island id = day − row_number days: rows
    in a consecutive run share it; one user-keyed window then a keyed
    rollup per island. Distinct days first so duplicate same-day orders
    don't break the arithmetic."""
    o = load(spark, sf_dir, "orders")
    days = o.select("o_custkey", F.to_date("o_orderdate").alias("d")).distinct()
    w = W.partitionBy("o_custkey").orderBy("d")
    grp = F.date_sub(F.col("d"), F.row_number().over(w))
    islands = days.withColumn("island", grp)
    return (
        islands.groupBy("o_custkey", "island")
        .agg(
            F.min("d").alias("streak_start"),
            F.max("d").alias("streak_end"),
            F.count("*").alias("streak_days"),
        )
        .drop("island")
        .filter(F.col("streak_days") >= 2)
    )


def distributed_prefix_sum(spark, sf_dir):
    """Global running total over the event stream WITHOUT a single-
    partition window: the two-level prefix-sum decomposition. Rows are
    bucketed by day; each bucket computes its local running sum in
    parallel (day-keyed window), bucket totals — one row per day — get a
    tiny prefix scan, and the per-bucket offset joins back by broadcast.
    SUM() OVER (ORDER BY ts) on a naive plan serializes 100 TB through
    one task; this shape keeps every data-touching stage keyed by day and
    moves only #buckets rows through the serial scan. Decimal partials
    make the cumulative sums bit-identical to the oracle's sequential
    window regardless of bucketing."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "value")
    ev = ev.withColumn("day", F.to_date("ts"))
    # `value` as the final sort key makes the order TOTAL up to fully
    # duplicate rows (whose swap leaves the emitted prefix multiset
    # unchanged): dirty data can tie (ts, event_id) — both NULL — with
    # DIFFERENT values, and the running total between such rows would
    # otherwise depend on partition arrival order (caught by the r12
    # order-invariance sweep; the r11 parity pass was file-order luck).
    w_in = (
        W.partitionBy("day")
        .orderBy("ts", "event_id", "value")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = ev.withColumn(
        "local_sum", F.sum(F.col("value").cast("decimal(25,6)")).over(w_in)
    )
    totals = ev.groupBy("day").agg(
        F.sum(F.col("value").cast("decimal(25,6)")).alias("day_total")
    )
    w_days = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    # offset stays NULLABLE (NULL = no non-null value in any prior
    # bucket): SQL's SUM OVER is NULL until the first non-null value, so
    # the recomposition must distinguish "nothing yet" from "sums to 0"
    offsets = totals.select(
        "day", F.sum("day_total").over(w_days).alias("offset")
    )
    # null-safe offset lookup: NULL-ts rows form a real NULL-day bucket
    # (they sort FIRST in the global (ts, event_id) order on both
    # engines); a plain equi-join would drop them
    offsets = offsets.withColumnRenamed("day", "_od")
    zero = F.lit(0).cast("decimal(25,6)")
    return local.join(
        F.broadcast(offsets), F.col("day").eqNullSafe(F.col("_od"))
    ).select(
        "event_id",
        "ts",
        F.when(
            F.col("offset").isNull() & F.col("local_sum").isNull(),
            F.lit(None).cast("double"),
        )
        .otherwise(
            (
                F.coalesce(F.col("offset"), zero)
                + F.coalesce(F.col("local_sum"), zero)
            ).cast("double")
        )
        .alias("running_total"),
    )


_PREFIX_SQL = """
SELECT event_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER (
         ORDER BY ts, event_id, value
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total
FROM events
"""


ROLL_N = 7  # trailing rows per frame (current + 6 preceding)


def rolling_stats(spark, sf_dir):
    """Time-series rolling statistics — trailing ROLL_N-row mean / std /
    z-score of events.value per user (the anomaly-detection primitive a
    monitoring pipeline runs per key). One keyed window, frame
    rowsBetween(-6, 0), orderBy (ts, event_id, value): a ROWS frame's
    membership is positional, so the sort must be total up to
    fully-duplicate rows — dirty data ties (ts, event_id) with BOTH NULL
    and differing values (~9% of rows at 30% NULL density,
    NULLHEAVY_r15), and without the value tiebreak each tied row's
    trailing frame depends on arrival order (the r12 totality rule; rows
    tying on all three keys are identical in every selected column, so
    their swap cannot change any frame sum).
    Σx and Σx² accumulate as exact decimals so mean/variance are
    order-independent; variance clamps at 0 (double rounding can push a
    constant frame fractionally negative — same guard as
    feature_standardize) and z nulls where std = 0. All per-key keyed
    windows: at 100 TB the shuffle is one exchange on user_id, frames
    never cross keys."""
    from ._util import DEC, finite, round6_det

    # finite values only: a NaN x would otherwise ride Spark's
    # floor(NaN)->0 bigint cast into a fake z-score of 0.0 while the
    # oracle's FLOOR(NaN) stays NaN — neither is a statistic
    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .filter(F.col("value").isNotNull() & finite(F.col("value")))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id", "value")
        .rowsBetween(-(ROLL_N - 1), 0)
    )
    x = F.col("value")
    n = F.count("*").over(w)
    s1 = F.sum(x.cast(DEC)).over(w).cast("double")
    s2 = F.sum((x * x).cast(DEC)).over(w).cast("double")
    mu = s1 / n
    var = F.greatest(s2 / n - mu * mu, F.lit(0.0))
    std = F.sqrt(var)
    return ev.select(
        "event_id",
        "user_id",
        n.cast("bigint").alias("n_window"),
        round6_det(mu).alias("roll_mean"),
        round6_det(std).alias("roll_std"),
        round6_det(
            F.when(std > 0, (x - mu) / std)
        ).alias("roll_z"),
    )


_ROLL_SQL = f"""
WITH f AS (
  SELECT event_id, user_id, value,
         COUNT(*) OVER w AS n_window,
         CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS s2
  FROM events WHERE value IS NOT NULL AND isfinite(value)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, value
               ROWS BETWEEN {ROLL_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, CAST(n_window AS BIGINT) AS n_window,
       FLOOR(s1 / n_window * 1000000.0 + 0.5) / 1000000.0 AS roll_mean,
       FLOOR(sqrt(greatest(s2 / n_window - (s1 / n_window) * (s1 / n_window),
                           0)) * 1000000.0 + 0.5) / 1000000.0 AS roll_std,
       FLOOR(CASE WHEN sqrt(greatest(s2 / n_window
                 - (s1 / n_window) * (s1 / n_window), 0)) > 0
             THEN (value - s1 / n_window)
                  / sqrt(greatest(s2 / n_window
                         - (s1 / n_window) * (s1 / n_window), 0)) END
             * 1000000.0 + 0.5) / 1000000.0 AS roll_z
FROM f
"""


def register(reg):
    reg.add(
        "window_lag_lead_neighbors",
        lag_lead_neighbors,
        "SELECT doc_id, source, "
        "SUBSTRING(LAG(text, 1) OVER w, 1, 30) AS prev_snippet, "
        "SUBSTRING(LEAD(text, 1) OVER w, 1, 30) AS next_snippet "
        "FROM documents WINDOW w AS (PARTITION BY source ORDER BY doc_id, text)",
    )
    reg.add(
        "window_first_in_group",
        first_in_group,
        "SELECT source, doc_id, n_chars FROM ("
        "SELECT source, doc_id, n_chars, ROW_NUMBER() OVER "
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn FROM documents"
        ") t WHERE rn = 1",
    )
    reg.add(
        "window_chunk_index",
        chunk_index_assignment,
        "SELECT doc_id, CAST(i AS INT) AS chunk_index, "
        "SUBSTRING(text, CAST(i AS INT)*400 + 1, 400) AS chunk "
        "FROM documents, UNNEST(range(0, CAST(CEIL(LENGTH(text)/400.0) AS BIGINT))) AS t(i) "
        "WHERE LENGTH(text) > 0",
    )
    reg.add(
        "window_sessionize",
        sessionize_conversations,
        "WITH flagged AS ("
        "  SELECT user_id, ts, event_id, value,"
        "    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 1800000000 THEN 0 ELSE 1 END AS is_start"
        "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, value)"
        "), numbered AS ("
        # is_start DESC tiebreak (round-17 duprow-interaction find, the
        # events_debounce class): is_start is a POSITIONAL payload from
        # pass 1 — within a tie group of key-identical rows exactly the
        # head can carry 1 — and pass 2's independent re-sort may
        # interleave the tied rows differently, moving the 1 mid-group
        # and splitting it across two sessions. Spark computes both
        # windows in ONE operator over one sort, so the engine is
        # consistent by construction; flag-first ordering reconstructs
        # that arrangement exactly.
        "  SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id, value, is_start DESC "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM flagged"
        ") SELECT user_id, CAST(session_id AS BIGINT) AS session_id, "
        "MIN(ts) AS session_start, MAX(ts) AS session_end, "
        "COUNT(*) AS n_events, "
        + sql_dsum("value")
        + " AS session_value FROM numbered GROUP BY user_id, session_id",
    )
    reg.add(
        "window_ranking_family",
        ranking_family,
        "SELECT c_custkey, c_nationkey, "
        "RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk, NTILE(4) OVER w AS quartile "
        "FROM customer WINDOW w AS "
        "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)",
    )
    reg.add(
        "window_running_sum",
        running_sum_frame,
        "SELECT o_custkey, o_orderkey, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey, o_totalprice "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total "
        "FROM orders",
    )
    reg.add(
        "window_range_frame",
        range_frame_trailing,
        "SELECT o_custkey, o_orderkey, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER w AS DOUBLE) "
        "AS trailing_30d_total, "
        "COUNT(*) OVER w AS trailing_30d_orders "
        "FROM orders WINDOW w AS "
        "(PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT) "
        f"RANGE BETWEEN {30 * 86400} PRECEDING AND CURRENT ROW)",
    )
    # distribution functions
    reg.add(
        "window_distribution_family",
        distribution_family,
        "SELECT c_custkey, c_nationkey, "
        "percent_rank() OVER w AS pct_rank, "
        "cume_dist() OVER w AS cume "
        "FROM customer WINDOW w AS (PARTITION BY c_nationkey "
        "ORDER BY c_acctbal DESC, c_custkey)",
    )
    reg.add(
        "window_gaps_islands",
        gaps_and_islands,
        "WITH days AS (SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d "
        "FROM orders), "
        "isl AS (SELECT o_custkey, d, d - CAST(ROW_NUMBER() OVER ("
        "PARTITION BY o_custkey ORDER BY d) AS INT) AS island FROM days) "
        "SELECT o_custkey, MIN(d) AS streak_start, MAX(d) AS streak_end, "
        "COUNT(*) AS streak_days FROM isl GROUP BY o_custkey, island "
        "HAVING COUNT(*) >= 2",
    )
    reg.add("window_distributed_prefix_sum", distributed_prefix_sum, _PREFIX_SQL)
    reg.add("window_rolling_stats", rolling_stats, _ROLL_SQL)
