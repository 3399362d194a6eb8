"""Warehouse-engine surface: incremental view maintenance, SCD2 history
build, bloom-pruned joins, mergeable heavy-hitter summaries, and Z-order
data layout with zone-map audit.

These extend the reference's batch pipeline (SURVEY §2.14 engine-surface
family) with the operations a lakehouse-scale deployment leans on: keeping
aggregates fresh without full recompute (reference re-runs its whole
pipeline per crawl, e.g. resources/processing/duckdb_processor.py's
full-table rebuilds), dimension history tracking, semi-join pruning that
ships a bitmap instead of a key list, and multi-dimensional clustering so
file-level min/max stats actually prune.

Scale notes (100 TB):
- `mv_incremental_agg` merges a small delta aggregate into a persisted
  base aggregate with ONE full-outer join on the group key — the delta
  side is days, not history; the base side would be bucketed on the key
  so only the delta shuffles. Partials stay decimal until the final
  projection so base+delta is bit-identical to a full recompute.
- `join_bloom_pruned` reduces build-side shipping to a constant-size
  bitmap (128 B here, ~MBs in production): the probe scan filters
  map-side against the broadcast bitmap, and only surviving rows reach
  the exact (still broadcast) semi-join. This is the engine-level analog
  of Spark's runtime bloom-filter join pruning, written out so the
  mechanism is testable and the FP path is provably corrected.
- `agg_heavy_hitters` never shuffles the token tail: each partition
  emits a bounded Misra-Gries summary (≤ C counters regardless of
  partition size, merged batch-wise per Agarwal et al. 2012 mergeable
  summaries), and only the candidate union — ≤ C × n_partitions keys —
  is exact-recounted with a broadcast semi-join. The final filter makes
  the result exact, so candidate-set order/content noise never leaks.
- `sort_zorder_cluster` / `layout_zonemap_stats` are the OPTIMIZE
  ZORDER analog: Morton interleave is pure per-row bit arithmetic
  (whole-stage codegen), the cluster sort is Spark's range-partitioned
  TakeOrdered/sort, and zone-map cells are z-prefix buckets (quadtree
  cells) — a map-side group-by, no global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ._util import (
    DEC,
    WS_ASCII_RE,
    dsum,
    rebalance_narrow_scan,
    sql_dsum,
    sql_finite,
    sql_r6,
)

# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance


_MV_CUTOFF = "1996-01-01"


def mv_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a persisted per-customer order
    aggregate (history < cutoff) is refreshed by merging the delta
    (>= cutoff) instead of recomputing history. COUNTs add; SUMs add in
    decimal so the merged result is bit-identical to a full recompute
    (the oracle IS the full recompute). One full-outer join on the group
    key; at scale the base is bucketed on o_custkey so only the delta
    moves."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")

    def side(df, tag):
        return df.groupBy("o_custkey").agg(
            F.count("*").alias(f"n_{tag}"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias(f"sum_{tag}"),
        )

    # the base/delta split must PARTITION the table: an un-dated order
    # goes to the base side (date < cutoff is NULL, which a bare filter
    # pair would drop from BOTH sides, undercounting vs the oracle's
    # full recompute)
    base = side(
        o.filter((F.col("o_orderdate") < cutoff) | F.col("o_orderdate").isNull()),
        "base",
    )
    delta = side(o.filter(F.col("o_orderdate") >= cutoff), "delta")
    zero_n = F.lit(0).cast("bigint")
    zero_s = F.lit(0).cast(DEC)
    # null-safe merge key: the NULL-custkey group is a real aggregate row
    # on each side; a plain full-outer equi-join would emit it twice
    # (once per side) instead of merging it
    base = base.withColumnRenamed("o_custkey", "_bk")
    delta = delta.withColumnRenamed("o_custkey", "_dk")
    return (
        base.join(delta, F.col("_bk").eqNullSafe(F.col("_dk")), "full_outer")
        .select(
            F.when(F.col("n_base").isNotNull(), F.col("_bk"))
            .otherwise(F.col("_dk"))
            .alias("o_custkey"),
            (
                F.coalesce(F.col("n_base"), zero_n)
                + F.coalesce(F.col("n_delta"), zero_n)
            ).alias("n_orders"),
            # SUM over a group with NO non-NULL prices is NULL in SQL,
            # and the incremental merge must preserve that: coalescing
            # BOTH absent partials to 0 minted a 0.0 where the full
            # recompute (the oracle) says NULL (NULLHEAVY_r15 — 16 rows
            # at 30% NULL density). A partial is absent when the side
            # has no rows (outer-join NULL) OR when the side's SUM
            # itself is NULL (all its prices NULL/non-finite); only if
            # BOTH partials are absent is the merged SUM NULL.
            F.when(
                F.col("sum_base").isNull() & F.col("sum_delta").isNull(),
                F.lit(None).cast("double"),
            )
            .otherwise(
                (
                    F.coalesce(F.col("sum_base"), zero_s)
                    + F.coalesce(F.col("sum_delta"), zero_s)
                ).cast("double")
            )
            .alias("total_spend"),
        )
    )


_MV_SQL = (
    "SELECT o_custkey, COUNT(*) AS n_orders, "
    + sql_dsum("o_totalprice")
    + " AS total_spend FROM orders GROUP BY o_custkey"
)

# ---------------------------------------------------------------------------
# SCD type-2 dimension build


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change log: collapse
    each user's event stream into state-change intervals
    [valid_from, valid_to) with an is_current flag — lag() finds change
    points, lead() closes intervals. Both windows partition by user_id,
    so the whole build is one shuffle on the dimension key; row order
    within a user is (ts, event_id, event_type)-total — lag/lead are
    positional, and dirty data ties (ts, event_id) with both NULL and
    differing states, which without the state tiebreak makes WHICH rows
    count as change points arrival-order-dependent (the interval ROW
    COUNT itself drifted ±2 in NULLHEAVY_r15; r12 totality rule — rows
    tying on all three keys are fully duplicate)."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id", "event_type")
    changes = (
        ev.withColumn("prev_state", F.lag("event_type").over(w))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("prev_state") != F.col("event_type"))
        )
        .drop("prev_state")
    )
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


_SCD2_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type) AS prev_state
  FROM events
), changes AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE prev_state IS NULL OR prev_state <> event_type
)
SELECT user_id, event_type AS state, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type) AS valid_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type) IS NULL) AS is_current
FROM changes
"""

# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning

_BLOOM_NATION = "NATION_7"
_BLOOM_SEEDS = (101, 202, 303)
_BLOOM_BITS = 1024  # 16 × 64-bit words
_BLOOM_WORDS = _BLOOM_BITS // 64


def _bloom_pos(key_expr: str, seed: int) -> str:
    return f"pmod(xxhash64({key_expr}, {seed}), {_BLOOM_BITS})"


def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join: lineitem rows are pre-filtered against a
    1024-bit bloom bitmap built from the (small) build side — suppliers
    of one nation — before the exact broadcast semi-join. The bitmap is
    built as 16 bit_or aggregates (one row total), broadcast via a
    single-row crossJoin, and probed with pure bit arithmetic inside
    codegen; false positives are removed by the exact semi-join, so the
    result equals the plain semi-join (the oracle). At scale the bloom
    probe runs inside the scan stage and drops the vast majority of rows
    before any join machinery — the engine-level analog of
    spark.sql.optimizer.runtime.bloomFilter."""
    nat = load(spark, sf_dir, "nation").filter(F.col("n_name") == _BLOOM_NATION)
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    pos = supp.select(
        F.explode(
            F.array(*[F.expr(_bloom_pos("s_suppkey", s)) for s in _BLOOM_SEEDS])
        ).alias("pos")
    )
    word_aggs = [
        F.bit_or(
            F.when(
                F.expr("pos DIV 64") == i,
                F.expr("shiftleft(1L, CAST(pos % 64 AS INT))"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias(f"w{i}")
        for i in range(_BLOOM_WORDS)
    ]
    bloom = (
        pos.groupBy()
        .agg(*word_aggs)
        .select(
            F.array(
                *[
                    F.coalesce(F.col(f"w{i}"), F.lit(0).cast("bigint"))
                    for i in range(_BLOOM_WORDS)
                ]
            ).alias("bloom")
        )
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    might_contain = None
    for s in _BLOOM_SEEDS:
        p = _bloom_pos("l_suppkey", s)
        hit = F.expr(
            f"(element_at(bloom, CAST(({p}) DIV 64 AS INT) + 1) & "
            f"shiftleft(1L, CAST(({p}) % 64 AS INT))) != 0"
        )
        might_contain = hit if might_contain is None else (might_contain & hit)
    candidates = li.crossJoin(F.broadcast(bloom)).filter(might_contain)
    exact = candidates.join(
        F.broadcast(supp),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    return exact.groupBy("l_suppkey").agg(
        F.count("*").alias("n_items"),
        dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"),
    )


_BLOOM_SQL = (
    "SELECT l_suppkey, COUNT(*) AS n_items, "
    + sql_dsum("l_extendedprice * (1.0 - l_discount)")
    + " AS revenue FROM lineitem WHERE l_suppkey IN ("
    "SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey "
    f"WHERE n_name = '{_BLOOM_NATION}') GROUP BY l_suppkey"
)

# ---------------------------------------------------------------------------
# Mergeable heavy-hitter summaries (Misra-Gries) + exact recount

_MG_CAPACITY = 40  # φ = 1/(C+1); every token with freq > N/41 is guaranteed out


def _mg_candidates(batches):
    """Per-partition Misra-Gries summary, merged batch-wise: add the
    batch's exact counts, then if more than C counters survive, subtract
    the (C+1)-th largest count from all and keep the strictly-positive
    remainder (the mergeable-summaries MERGE of Agarwal et al. 2012).
    Memory is O(C + batch vocab) regardless of partition size.

    Tokenization uses the shared ASCII-only \\s rule (_util.WS_ASCII_RE,
    the same object bpe.tokenize_words splits with):
    Java's split('\\s+') in the exact-recount stage does NOT break on
    NBSP/ideographic spaces, and a candidate generator that split such a
    token differently could miss a true heavy hitter — the superset
    guarantee requires identical token boundaries."""
    import pandas as pd

    ws_ascii = WS_ASCII_RE
    summary = pd.Series(dtype="int64")
    for pdf in batches:
        toks = (
            pdf["text"]
            .fillna("")
            .str.lower()
            .str.split(ws_ascii)
            .explode()
        )
        toks = toks[toks.notna() & (toks != "")]
        if toks.empty:
            continue
        summary = summary.add(toks.value_counts(), fill_value=0).astype("int64")
        if len(summary) > _MG_CAPACITY:
            thresh = summary.nlargest(_MG_CAPACITY + 1).iloc[-1]
            summary = summary - thresh
            summary = summary[summary > 0]
    yield pd.DataFrame({"token": summary.index.astype(str)})


def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ-heavy-hitters (φ = 1/(C+1)) over the document token stream
    without shuffling the tail: bounded per-partition Misra-Gries
    summaries (mapInPandas, ≤ C counters each) produce a candidate set
    that provably contains every global heavy hitter (if a token is
    missed by every partition summary its global count is
    ≤ Σ n_p/(C+1) = N/(C+1)); candidates are exact-recounted behind a
    broadcast semi-join and filtered with integer arithmetic, so the
    result is exact and independent of partition layout. The token tail
    — the expensive part at 100 TB — never reaches a shuffle."""
    docs = rebalance_narrow_scan(
        load(spark, sf_dir, "documents").select("text"), spark
    )
    cand = docs.mapInPandas(_mg_candidates, "token string").distinct()
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    # r20 (guide §2.4 — one pass instead of two): the exact recount used
    # to tokenize the corpus TWICE — once for the global token count and
    # once for the candidate counts. One keyed aggregation now yields
    # both: non-candidate tokens collapse into a single NULL group (the
    # left-join marker), so the map-side partial aggregation still ships
    # <= C+2 rows per task (the tail never reaches the shuffle, same as
    # the former left_semi shape) and n_total is the exact integer sum
    # of all group counts. The <= C+2-row result is lazily checkpointed
    # because both the total and the filter read it.
    marked = toks.join(
        F.broadcast(cand.withColumn("_c", F.lit(1))), "token", "left"
    )
    grouped = (
        marked.groupBy(
            F.when(F.col("_c") == 1, F.col("token")).alias("token")
        )
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = grouped.groupBy().agg(F.sum("cnt").alias("n_total"))
    return (
        grouped.filter(F.col("token").isNotNull())
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * (_MG_CAPACITY + 1) > F.col("n_total"))
        .select("token", "cnt")
    )


_HH_SQL = f"""
WITH toks AS (
  SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), nz AS (SELECT token FROM toks WHERE token <> '')
SELECT token, COUNT(*) AS cnt FROM nz GROUP BY token
HAVING COUNT(*) * {_MG_CAPACITY + 1} > (SELECT COUNT(*) FROM nz)
"""

# ---------------------------------------------------------------------------
# Z-order clustering + zone-map audit


def _spread16_sql(x: str) -> str:
    """Interleave-ready bit spread of a 16-bit value (abcd -> a0b0c0d0)
    via the standard magic-mask doubling chain — 5 pure-integer ops,
    identical semantics in Spark SQL and DuckDB (fully parenthesized to
    dodge precedence differences)."""
    e0 = f"(CAST({x} AS BIGINT) & 65535)"
    e1 = f"(({e0} | ({e0} << 8)) & 16711935)"
    e2 = f"(({e1} | ({e1} << 4)) & 252645135)"
    e3 = f"(({e2} | ({e2} << 2)) & 858993459)"
    return f"(({e3} | ({e3} << 1)) & 1431655765)"


# price bucket: 0.1-currency cells above the 900.0 floor (testdata range
# 900.0-999.9 -> 0..999); per-row double math is IEEE-identical across
# engines. Non-finite prices get a NULL bucket like NULLs do — Spark's
# non-ANSI CAST(NaN AS BIGINT) would silently yield bucket -9000 while
# DuckDB raises; a z-order cell for NaN is meaningless either way. The
# guard is shared SQL text, valid verbatim in both engines.
_ZBUCKET = (
    # magnitude bound (r16 extreme-value probe): a finite price past
    # ~9e17 makes FLOOR(p*10) exceed BIGINT — Spark's non-ANSI cast
    # saturates silently while DuckDB raises, so the shared expression
    # bounds the CASE instead: corrupt extreme prices get a NULL bucket
    # on BOTH engines (identity on clean data; the z_value sort keys
    # stay total via the p_partkey/p_size tiebreaks)
    "CAST(FLOOR(CASE WHEN " + sql_finite("p_retailprice")
    + " AND abs(p_retailprice) < 9e17"
    + " THEN p_retailprice END * 10) AS BIGINT) - 9000"
)
_ZVALUE = f"({_spread16_sql('p_size')} | ({_spread16_sql(_ZBUCKET)} << 1))"
_Z_TOPK = 128


def sort_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (p_size, price-bucket) — the
    OPTIMIZE ZORDER BY analog: interleaving the two dimensions' bits
    makes rows that are close in EITHER dimension close in the sort, so
    per-file min/max zone maps prune on both predicates. The interleave
    is 10 integer ops per row inside whole-stage codegen; returns the
    first K cells of the clustered order (TakeOrdered — no global
    sort materialization)."""
    part = load(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    return (
        part.select(
            "p_partkey",
            "p_size",
            F.expr(_ZBUCKET).alias("price_bucket"),
            F.expr(_ZVALUE).alias("z_value"),
        )
        # p_size/price_bucket close the sort key over the full OUTPUT row
        # (r12 LIMIT-totality rule): dirty data can tie (NULL z_value,
        # NULL p_partkey) with different sizes/buckets, and a tie group
        # straddling the rank-128 cutoff would make the emitted set
        # arrival-order-dependent. Identity on clean data.
        .orderBy("z_value", "p_partkey", "p_size", "price_bucket")
        .limit(_Z_TOPK)
    )


_ZORDER_SQL = f"""
SELECT p_partkey, p_size, {_ZBUCKET} AS price_bucket, {_ZVALUE} AS z_value
FROM part ORDER BY z_value, p_partkey, p_size, price_bucket LIMIT {_Z_TOPK}
"""


def layout_zonemap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map audit of the z-ordered layout: bucket rows into z-prefix
    cells (quadtree cells = the files a clustered write would produce)
    and report per-cell min/max of both dimensions plus row count — the
    statistics a scan would prune with. z >> 16 is map-side arithmetic;
    the whole audit is one keyed aggregation, no global sort or window.
    Tight per-cell ranges here are exactly WHY z-order enables
    two-dimensional file skipping."""
    part = load(spark, sf_dir, "part").select("p_size", "p_retailprice")
    cells = part.select(
        F.expr(f"({_ZVALUE} >> 16)").alias("z_cell"),
        "p_size",
        F.expr(_ZBUCKET).alias("price_bucket"),
    )
    return cells.groupBy("z_cell").agg(
        F.count("*").alias("n_rows"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
        F.min("price_bucket").alias("min_bucket"),
        F.max("price_bucket").alias("max_bucket"),
    )


_ZONEMAP_SQL = f"""
SELECT ({_ZVALUE} >> 16) AS z_cell, COUNT(*) AS n_rows,
       MIN(p_size) AS min_size, MAX(p_size) AS max_size,
       MIN({_ZBUCKET}) AS min_bucket, MAX({_ZBUCKET}) AS max_bucket
FROM part GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Calendar densification (date spine)


def calendar_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine densification: generate the continuous day spine over
    the orders date range and left-join daily order counts so quiet days
    appear as explicit zeros — the warehouse pattern behind gap-free
    time series (moving averages, lag comparisons break on missing
    rows). The spine is sequence()-generated from one min/max aggregate
    (broadcast both ways: spine rows ≈ days, tiny at any corpus size);
    the daily rollup is the only data-sized aggregation."""
    o = load(spark, sf_dir, "orders").select(F.to_date("o_orderdate").alias("d"))
    bounds = o.groupBy().agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = o.groupBy("d").agg(F.count("*").alias("n"))
    return spine.join(daily, spine["day"] == daily["d"], "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders")
    )


_CAL_SQL = """
WITH b AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
                  MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM b),
daily AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
          FROM orders GROUP BY 1)
SELECT day, CAST(COALESCE(n, 0) AS BIGINT) AS n_orders
FROM spine LEFT JOIN daily ON day = d
"""

# ---------------------------------------------------------------------------
# ML feature preparation: standardization + one-hot


def feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score feature standardization with per-group broadcast stats —
    the ML-prep scaler as a pure two-pass plan: decimal-exact Σx and Σx²
    give bit-stable μ and σ² in any aggregation order, and sqrt is
    IEEE-exactly-rounded (unlike ln/pow), so the standardized values are
    bit-identical in both engines. Stats are G rows (broadcast); the
    transform is map-side."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    x = F.col("l_quantity")
    stats = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x.cast(DEC)).alias("s1"),
        F.sum((x * x).cast(DEC)).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    # double rounding can push a constant group's variance fractionally
    # negative (sqrt -> NaN in Spark, ERROR in DuckDB): clamp at 0, and
    # null out z where sigma = 0 — a constant feature has no z-score
    var = F.greatest(F.col("s2").cast("double") / F.col("n") - mu * mu, F.lit(0.0))
    stats = stats.select(
        "l_returnflag", mu.alias("mu"), F.sqrt(var).alias("sigma")
    )
    return l.join(F.broadcast(stats), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.when(F.col("sigma") > 0, (x - F.col("mu")) / F.col("sigma")).alias(
            "z_quantity"
        ),
    )


_STD_SQL = (
    "WITH stats AS (SELECT l_returnflag, COUNT(*) AS n, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS s1, "
    "CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS s2 "
    "FROM lineitem GROUP BY l_returnflag), "
    "ms AS (SELECT l_returnflag, s1 / n AS mu, "
    "sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sigma FROM stats) "
    "SELECT l_orderkey, l_linenumber, l.l_returnflag, "
    "CASE WHEN sigma > 0 THEN (l_quantity - mu) / sigma END AS z_quantity "
    "FROM lineitem l JOIN ms ON l.l_returnflag = ms.l_returnflag"
)


def feature_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic one-hot encoding: category → index by SORTED
    distinct order (reproducible across runs and cluster layouts, unlike
    hash- or arrival-order indexers), vocabulary broadcast back, plus
    explicit indicator columns for a fixed known domain. The vocabulary
    pass is a distinct on the category column only."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    vocab = (
        o.select("o_orderpriority")
        .distinct()
        .select(
            "o_orderpriority",
            (
                F.row_number().over(
                    Window.orderBy("o_orderpriority")
                )
                - 1
            )
            .cast("bigint")
            .alias("prio_idx"),
        )
    )
    enc = o.join(F.broadcast(vocab), "o_orderpriority")
    return enc.select(
        "o_orderkey",
        "o_orderpriority",
        "prio_idx",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        .cast("bigint")
        .alias("is_high"),
        (F.col("o_orderpriority") == "5-LOW").cast("bigint").alias("is_low"),
    )


_ONEHOT_SQL = """
WITH vocab AS (
  SELECT o_orderpriority,
         CAST(ROW_NUMBER() OVER (ORDER BY o_orderpriority) - 1 AS BIGINT)
           AS prio_idx
  FROM (SELECT DISTINCT o_orderpriority FROM orders)
)
SELECT o_orderkey, o.o_orderpriority, prio_idx,
       CAST(o.o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT) AS is_high,
       CAST(o.o_orderpriority = '5-LOW' AS BIGINT) AS is_low
FROM orders o JOIN vocab ON o.o_orderpriority = vocab.o_orderpriority
"""


def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) dimension join — the query SCD2 dimensions
    exist to serve: each purchase event joins the state interval valid
    AT its timestamp ([valid_from, valid_to) from scd2_intervals, open
    current interval included). The join is an EQUI-join on the
    dimension key (user_id) with the containment predicate applied
    post-join: per-key interval counts are small (one per state change),
    so candidates per probe are bounded by change frequency, never table
    size — no binning needed, one keyed shuffle. Exactly one interval
    matches each probe by construction (intervals partition the key's
    timeline from its first event)."""
    dim = scd2_intervals(spark, sf_dir).select(
        "user_id", "state", "valid_from", "valid_to"
    )
    probes = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    return (
        probes.join(dim, "user_id")
        .filter(
            (F.col("valid_from") <= F.col("ts"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
        )
        .select("event_id", "user_id", "ts", "state", "valid_from")
    )


_PIT_SQL = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type)
           AS prev_state
  FROM events
), changes AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE prev_state IS NULL OR prev_state <> event_type
), dim AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type) AS valid_to
  FROM changes
)
SELECT e.event_id, e.user_id, e.ts, d.state, d.valid_from
FROM events e JOIN dim d ON e.user_id = d.user_id
WHERE e.event_type = 'purchase'
  AND d.valid_from <= e.ts AND (d.valid_to IS NULL OR e.ts < d.valid_to)
"""


WINSOR_LO, WINSOR_HI = 0.05, 0.95


def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — clip a feature at its per-group [p05, p95] fences
    (the heavy-tail tamer run before standardize/regression; clip, not
    drop, unlike the IQR/MAD outlier FILTERS). One exact-percentile
    aggregation per group (G fence rows, broadcast), then a map-side
    clamp; the flag column makes downstream accounting of clipped mass
    one filter away. Same scale posture as feature_standardize: the only
    data-sized work is the stats pass."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    # round6_det on the fences: interpolated percentiles are derived
    # doubles and are NOT bit-identical across engines (Spark percentile
    # vs DuckDB quantile_cont); 6-dp determinization makes the fences —
    # and everything downstream of them (price_w, was_clipped) — match.
    from ._util import finite, round6_det

    # fences over FINITE prices only (a NaN price would otherwise ride
    # Spark's NaN-is-greatest ordering into the percentile and then
    # through round6_det's floor(NaN)->0 quirk into a fence of 0.0); a
    # NaN price itself passes through unclipped — winsorize clips tails,
    # it doesn't invent values for non-numbers
    x = F.col("l_extendedprice")
    xf = F.when(finite(x), x)
    fences = l.groupBy("l_returnflag").agg(
        round6_det(F.percentile(xf, WINSOR_LO)).alias("lo"),
        round6_det(F.percentile(xf, WINSOR_HI)).alias("hi"),
    )
    return l.join(F.broadcast(fences), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        x.alias("price"),
        F.when(
            finite(x), F.least(F.greatest(x, F.col("lo")), F.col("hi"))
        ).otherwise(x).alias("price_w"),
        F.when(finite(x), (x < F.col("lo")) | (x > F.col("hi")))
        .otherwise(F.lit(False)).alias("was_clipped"),
    )


_WINSOR_SQL = f"""
WITH fences AS (
  SELECT l_returnflag,
         {sql_r6(
             f"quantile_cont(CASE WHEN isfinite(l_extendedprice) "
             f"THEN l_extendedprice END, {WINSOR_LO})"
         )} AS lo,
         {sql_r6(
             f"quantile_cont(CASE WHEN isfinite(l_extendedprice) "
             f"THEN l_extendedprice END, {WINSOR_HI})"
         )} AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_orderkey, l_linenumber, l.l_returnflag,
       l_extendedprice AS price,
       CASE WHEN isfinite(l_extendedprice)
            THEN LEAST(GREATEST(l_extendedprice, lo), hi)
            ELSE l_extendedprice END AS price_w,
       CASE WHEN isfinite(l_extendedprice)
            THEN (l_extendedprice < lo OR l_extendedprice > hi)
            ELSE FALSE END AS was_clipped
FROM lineitem l JOIN fences f ON l.l_returnflag = f.l_returnflag
"""


def profile_columns(df: DataFrame, profiled: dict) -> DataFrame:
    """Generic long-form column profile over ANY DataFrame: rows, nulls,
    distinct count, and Shannon entropy per profiled expression.

    Shape (VERDICT r8 item 6): melt each input row into one
    (column_name, value-as-string) pair per profiled expression, then a
    single (column_name, v) value-count aggregation and a single
    column_name rollup — TWO shuffles total regardless of how many
    columns are profiled, so a wide (1000-column) profile costs the
    same plan as a 4-column one (the previous per-column-subplan shape
    grew one aggregation per column). Both shuffles partial-aggregate
    map-side, so a high-cardinality column never funnels raw rows to
    one reducer. A shared broadcast one-row COUNT(*) supplies n_total
    for the entropy terms, which stay decimal(27,10)-summed in the
    exact per-term form the oracle uses. Values are compared by their
    string form (callers profiling non-string columns cast as part of
    the profiled expression). Backs both the registered
    profile_table_stats query and the `profile` CLI command."""
    from ._util import round6_det

    if not profiled:
        raise ValueError("profile_columns: need at least one column")
    # ONE row-count total shared by every column's profile (it is COUNT(*)
    # of the table) — deriving it from the melted counts would need the
    # per-group total inside the same aggregate that consumes it
    total = F.broadcast(df.agg(F.count("*").cast("double").alias("n_total")))
    stacked = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(cname).alias("column_name"),
                    expr.cast("string").alias("v"),
                )
                for cname, expr in profiled.items()
            ])
        ).alias("kv")
    ).select("kv.column_name", "kv.v")
    counts = stacked.groupBy("column_name", "v").agg(F.count("*").alias("c"))
    term = F.when(
        F.col("v").isNotNull(),
        -(F.col("c") / F.col("n_total"))
        * F.log(F.col("c") / F.col("n_total")),
    )
    out = counts.crossJoin(total).groupBy("column_name").agg(
        F.sum("c").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("v").isNull(), F.col("c"))),
            F.lit(0),
        ).cast("bigint").alias("n_null"),
        F.count_if(F.col("v").isNotNull()).alias("n_distinct"),
        round6_det(
            F.coalesce(
                F.sum(term.cast("decimal(27,10)")).cast("double"),
                F.lit(0.0),
            )
        ).alias("entropy_nats"),
    )
    # an empty input melts to zero rows and would otherwise profile to an
    # empty frame; anchor on the literal column list so every profiled
    # column always emits a row (all-zero on empty input), matching the
    # old per-column-global-agg behavior — and keeping registration order
    names = df.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(profiled)], "_ord int, column_name string"
    )
    return (
        names.join(F.broadcast(out), "column_name", "left")
        .orderBy("_ord")
        .select(
            "column_name",
            F.coalesce(F.col("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.coalesce(F.col("n_null"), F.lit(0)).cast("bigint").alias("n_null"),
            F.coalesce(F.col("n_distinct"), F.lit(0)).cast("bigint").alias("n_distinct"),
            F.coalesce(F.col("entropy_nats"), F.lit(0.0)).alias("entropy_nats"),
        )
    )


def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query form of profile_columns over the orders table
    (two categoricals, one high-cardinality key, one derived calendar
    bucket)."""
    o = load(spark, sf_dir, "orders")
    return profile_columns(
        o,
        {
            "o_orderstatus": F.col("o_orderstatus"),
            "o_orderpriority": F.col("o_orderpriority"),
            "o_custkey": F.col("o_custkey").cast("string"),
            "order_dow": F.dayofweek("o_orderdate").cast("string"),
        },
    )


def _profile_sql() -> str:
    cols = {
        "o_orderstatus": "o_orderstatus",
        "o_orderpriority": "o_orderpriority",
        "o_custkey": "CAST(o_custkey AS VARCHAR)",
        "order_dow": "CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS VARCHAR)",
    }
    entropy = (
        "COALESCE(CAST(SUM(CAST(CASE WHEN v IS NOT NULL THEN "
        "-(c / n_total) * ln(c / n_total) END AS DECIMAL(27,10))) "
        "AS DOUBLE), 0.0)"
    )
    parts = []
    for cname, expr in cols.items():
        parts.append(f"""
SELECT '{cname}' AS column_name,
       CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN v IS NULL THEN c END), 0) AS BIGINT)
         AS n_null,
       CAST(COALESCE(count_if(v IS NOT NULL), 0) AS BIGINT) AS n_distinct,
       {sql_r6(entropy)} AS entropy_nats
FROM (SELECT v, COUNT(*) AS c FROM (SELECT {expr} AS v FROM orders)
      GROUP BY v),
     (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM orders)""")
    return " UNION ALL ".join(parts)


_SNAP_CUTOFF = "1997-06-01"


def diff_snapshots(
    old: DataFrame, new: DataFrame, key: str, compare: list[str]
) -> DataFrame:
    """Row-level snapshot diff — the regression gate a pipeline runs
    between yesterday's and today's build: one full-outer join on the
    key tags every row added / removed / changed / unchanged, with the
    changed-column names listed. ONE shuffle on the key (both sides);
    at scale both snapshots would be bucketed on the key so the diff is
    exchange-free. Column values compare null-safely (<=>), so
    NULL→value transitions count as changes. Presence is tracked with
    marker columns rather than key nullness, so a NULL-keyed row (which
    can never match across sides under SQL join semantics) reports
    honestly as removed/added instead of being mis-tagged; columns are
    backtick-quoted at resolution, so dotted names work."""
    def col(df, name):
        # backtick-quote so dotted names resolve as literal column names,
        # not nested-field paths (escape embedded backticks per Spark)
        return df["`" + name.replace("`", "``") + "`"]

    o = old.select(
        col(old, key).alias("_ko"),
        F.lit(True).alias("_po"),
        *[col(old, c).alias(f"_o{i}") for i, c in enumerate(compare)],
    )
    n = new.select(
        col(new, key).alias("_kn"),
        F.lit(True).alias("_pn"),
        *[col(new, c).alias(f"_n{i}") for i, c in enumerate(compare)],
    )
    joined = o.join(n, F.col("_ko") == F.col("_kn"), "full_outer")
    both = F.col("_po").isNotNull() & F.col("_pn").isNotNull()
    # changed-column lists are meaningful only when BOTH sides exist;
    # added/removed rows get an empty list, not every-column-changed
    changed_cols = F.when(
        both,
        F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.col(f"_o{i}").eqNullSafe(F.col(f"_n{i}")), F.lit(c)
                    )
                    for i, c in enumerate(compare)
                ]
            )
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    op = (
        F.when(F.col("_po").isNull(), F.lit("added"))
        .when(F.col("_pn").isNull(), F.lit("removed"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.coalesce(F.col("_ko"), F.col("_kn")).alias(key),
        op.alias("op"),
        changed_cols.alias("changed_cols"),
    )


def snapshot_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of diff_snapshots: the orders table before
    _SNAP_CUTOFF vs a simulated "today" (every order present, and
    orders pending at the cutoff resolved to status 'F') — the diff a
    daily rebuild would show. Output: per-op row counts plus the total
    number of changed column slots."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cutoff = F.lit(_SNAP_CUTOFF).cast("timestamp")
    old = o.filter(F.col("o_orderdate") < cutoff)
    # "today": every order, and pending-at-cutoff orders resolved to 'F'
    new = o.withColumn(
        "o_orderstatus",
        F.when(
            (F.col("o_orderdate") >= cutoff) | (F.col("o_orderstatus") == "P"),
            F.lit("F"),
        ).otherwise(F.col("o_orderstatus")),
    )
    d = diff_snapshots(old, new, "o_orderkey", ["o_orderstatus", "o_totalprice"])
    return d.groupBy("op").agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.size("changed_cols")).cast("bigint"), F.lit(0)
        ).alias("n_col_changes"),
    )


_SNAPDIFF_SQL = f"""
-- presence markers (po/pn), NOT key-nullness: a NULL-KEYED row can
-- never match across sides, and keying presence off o_orderkey would
-- mis-tag an old-side NULL-key row as 'added' (the Spark side tracks
-- presence with marker columns for exactly this reason)
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE AS po FROM orders
  WHERE o_orderdate < TIMESTAMP '{_SNAP_CUTOFF} 00:00:00'
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderdate >= TIMESTAMP '{_SNAP_CUTOFF} 00:00:00'
                OR o_orderstatus = 'P'
              THEN 'F' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice, TRUE AS pn
  FROM orders
),
d AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN po IS NULL THEN 'added'
              WHEN pn IS NULL THEN 'removed'
              WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
                OR NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
              THEN 'changed' ELSE 'unchanged' END AS op,
         (CASE WHEN po IS NOT NULL AND pn IS NOT NULL
                AND NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
               THEN 1 ELSE 0 END
          + CASE WHEN po IS NOT NULL AND pn IS NOT NULL
                  AND NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                 THEN 1 ELSE 0 END) AS nch
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT op, COUNT(*) AS n,
       CAST(COALESCE(SUM(nch), 0) AS BIGINT) AS n_col_changes
FROM d GROUP BY op
"""


def register(reg) -> None:
    reg.add("mv_incremental_agg", mv_incremental_agg, _MV_SQL)
    reg.add("scd2_intervals", scd2_intervals, _SCD2_SQL)
    reg.add("join_bloom_pruned", join_bloom_pruned, _BLOOM_SQL)
    reg.add("agg_heavy_hitters", agg_heavy_hitters, _HH_SQL)
    reg.add("sort_zorder_cluster", sort_zorder_cluster, _ZORDER_SQL)
    reg.add("layout_zonemap_stats", layout_zonemap_stats, _ZONEMAP_SQL)
    reg.add("calendar_densify", calendar_densify, _CAL_SQL)
    reg.add("feature_standardize", feature_standardize, _STD_SQL)
    reg.add("feature_one_hot", feature_one_hot, _ONEHOT_SQL)
    reg.add("join_point_in_time_scd2", join_point_in_time_scd2, _PIT_SQL)
    reg.add("feature_winsorize", feature_winsorize, _WINSOR_SQL)
    reg.add("profile_table_stats", profile_table_stats, _profile_sql())
    reg.add("snapshot_diff_summary", snapshot_diff_summary, _SNAPDIFF_SQL)
