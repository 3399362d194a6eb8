"""Mergeable-summary sketches with exact cross-engine parity.

Siblings of the bloom-pruned join and Misra-Gries heavy hitters
(operators/warehouse.py): the two remaining summary structures a 100 TB
profiling layer leans on — HyperLogLog for distinct counts and count-min
for frequency point estimates. Spark's own approx_count_distinct is a
non-portable binary sketch, so these build the textbook structures from
the ONE hash primitive both engines share (md5), making every register
value — not just the estimate — hash-checkable against DuckDB.

Scale shape: both sketches are algebraic aggregations (map-side partial
registers merge by MAX / SUM), so the shuffle carries fixed-size register
tables per group — never rows. Register tables are query output here;
in a pipeline they persist as the mergeable per-partition summary.

Determinism notes:
- bucket/rho derive from disjoint md5 substrings, so both engines see
  identical registers;
- 2^-rho terms are dyadic rationals with denominator ≤ 2^33; any sum of
  ≤ m of them is exact in a double REGARDLESS of addition order, so the
  harmonic-mean sum needs no decimal laundering;
- ln() last-ulp variance across libms is absorbed by round6_det on the
  final estimate only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load
from ._util import hash48, round6_det, sql_hash48, sql_r6

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
# alpha_m for m >= 128 (Flajolet et al. 2007)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _hll_parts(col):
    """(bucket, rho) from disjoint md5 substrings: bucket = 16 hash bits
    mod m; rho = leading-zero count of a 32-bit word + 1 (bit-length via
    bin(), exact integer math — no float log)."""
    h = F.md5(col.cast("string"))
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % HLL_M).alias(
        "bucket"
    )
    w = F.conv(F.substring(h, 5, 8), 16, 10).cast("bigint")
    rho = (
        F.when(w == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(w)))
        .cast("bigint")
        .alias("rho")
    )
    return bucket, rho


def _hll_estimate(n_buckets, sum_inv_nonempty):
    """The HLL estimator on (non-empty register count, Σ2^-reg over
    them): harmonic-mean raw estimate with the standard small-range
    linear-counting correction. ONE implementation shared by
    hll_distinct and hll_merge_proof so the constants (alpha, 2.5·m
    threshold, empty-register correction) can never desynchronize;
    _sql_est is its SQL twin."""
    empties = F.lit(HLL_M) - n_buckets
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / (
        sum_inv_nonempty + empties.cast("double")
    )
    return F.when(
        (empties > 0) & (raw <= F.lit(2.5 * HLL_M)),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / empties.cast("double")),
    ).otherwise(raw)


def _sql_est(n_buckets: str, raw: str) -> str:
    """SQL twin of _hll_estimate's correction step (raw precomputed)."""
    return (
        f"CASE WHEN ({HLL_M} - {n_buckets}) > 0 AND {raw} <= {2.5 * HLL_M!r} "
        f"THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - {n_buckets})) "
        f"ELSE {raw} END"
    )


def hll_distinct(spark, sf_dir):
    """Per-event-type HLL distinct-user estimate next to the exact count
    (the audit a profiling layer runs at small scale before trusting the
    sketch at large scale). Registers: max rho per (event_type, bucket);
    estimate: harmonic mean with the standard small-range linear-counting
    correction. Everything up to the final ln/division is exact integer /
    dyadic arithmetic in both engines."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    bucket, rho = _hll_parts(F.col("user_id"))
    regs = (
        ev.select("event_type", bucket, rho)
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    # 2^-reg via integer shift — exact dyadic, order-independent sum
    # (F.expr: the PySpark wrapper insists on a literal shift amount)
    inv = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(reg AS INT)) AS DOUBLE)"
    )
    per_type = regs.groupBy("event_type").agg(
        F.count("*").alias("n_buckets"),
        F.sum(inv).alias("sum_inv_nonempty"),
    )
    est = _hll_estimate(F.col("n_buckets"), F.col("sum_inv_nonempty"))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        per_type.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            round6_det(est).alias("hll_estimate"),
        )
    )


def _hll_sql() -> str:
    bucket = f"CAST('0x' || substring(hx, 1, 4) AS BIGINT) % {HLL_M}"
    w = "CAST('0x' || substring(hx, 5, 8) AS BIGINT)"
    est = _sql_est("n_buckets", "raw")
    return f"""
WITH h AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx, user_id
  FROM events WHERE user_id IS NOT NULL
),
parts AS (
  SELECT event_type, {bucket} AS bucket,
         CASE WHEN {w} = 0 THEN 33 ELSE 33 - length(bin({w})) END AS rho
  FROM h
),
regs AS (SELECT event_type, bucket, MAX(rho) AS reg
         FROM parts GROUP BY event_type, bucket),
pt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         SUM(1.0 / CAST(1::BIGINT << CAST(reg AS INT) AS DOUBLE))
           AS sum_inv_nonempty
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type, n_buckets,
         {HLL_ALPHA * HLL_M * HLL_M!r}
           / (sum_inv_nonempty + ({HLL_M} - n_buckets)) AS raw
  FROM pt
),
exact AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
          FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
SELECT e.event_type, n_exact, n_buckets, {sql_r6(f'({est})')} AS hll_estimate
FROM est e JOIN exact USING (event_type)
"""


CM_D = 4  # hash rows
CM_W = 64  # counters per row


def _cm_col(depth: int, key):
    """Counter column for hash row `depth`: md5 over a depth-salted key."""
    return hash48(F.concat(F.lit(f"{depth}|"), key.cast("string"))) % CM_W


def countmin_sketch(spark, sf_dir):
    """Count-min sketch of per-user event frequencies: the full D×W
    counter matrix. Map-side each row expands to D (depth, col) cells;
    one keyed SUM builds the matrix — the partial aggregates ARE partial
    sketches, which is what makes count-min mergeable across partitions,
    days, or clusters (counters add). Matrix size D×W is constant
    regardless of input rows."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("bigint").alias("depth"),
                        _cm_col(d, F.col("user_id")).alias("col"),
                    )
                    for d in range(CM_D)
                ]
            )
        ).alias("c")
    ).select("c.depth", "c.col")
    return cells.groupBy("depth", "col").agg(F.count("*").alias("cnt"))


def _sql_cm_col(depth: int) -> str:
    """DuckDB form of `_cm_col` over user_id."""
    key = f"'{depth}|' || CAST(user_id AS VARCHAR)"
    return f"{sql_hash48(key)} % {CM_W}"


def _cm_cells_sql() -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS depth, "
        f"{_sql_cm_col(d)} AS col "
        f"FROM events WHERE user_id IS NOT NULL"
        for d in range(CM_D)
    )
    return f"cells AS ({rows})"


def _cm_sql() -> str:
    return (
        f"WITH {_cm_cells_sql()} "
        "SELECT depth, col, COUNT(*) AS cnt FROM cells GROUP BY depth, col"
    )


def countmin_estimates(spark, sf_dir):
    """Count-min point queries: for the 10 smallest user ids, the sketch
    estimate (min over depths of the hashed counter) next to the exact
    count — est >= exact always, with overshoot bounded by the sketch
    width. The D×W matrix broadcasts; the probe side computes its D
    hashes map-side and joins on (depth, col)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sketch = countmin_sketch(spark, sf_dir)
    users = ev.select("user_id").distinct().orderBy("user_id").limit(10)
    probes = users.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("bigint").alias("depth"),
                        _cm_col(d, F.col("user_id")).alias("col"),
                    )
                    for d in range(CM_D)
                ]
            )
        ).alias("c"),
    ).select("user_id", "c.depth", "c.col")
    est = (
        probes.join(F.broadcast(sketch), ["depth", "col"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("n_est"))
    )
    exact = ev.groupBy("user_id").agg(F.count("*").alias("n_exact"))
    return est.join(exact, "user_id").select("user_id", "n_exact", "n_est")


def _cm_est_sql() -> str:
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, CAST({d} AS BIGINT) AS depth, "
        f"{_sql_cm_col(d)} AS col FROM users"
        for d in range(CM_D)
    )
    return f"""
WITH {_cm_cells_sql()},
sketch AS (SELECT depth, col, COUNT(*) AS cnt FROM cells GROUP BY depth, col),
users AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
          ORDER BY user_id LIMIT 10),
probes AS ({probe_rows}),
est AS (SELECT user_id, MIN(cnt) AS n_est
        FROM probes JOIN sketch USING (depth, col) GROUP BY user_id),
exact AS (SELECT user_id, COUNT(*) AS n_exact FROM events
          WHERE user_id IS NOT NULL GROUP BY user_id)
SELECT user_id, n_exact, n_est FROM est JOIN exact USING (user_id)
"""


# ------------------------------------------------ bottom-k sample quantiles

BK_K = 256  # sample size per group


def bottomk_sample_quantiles(spark, sf_dir):
    """Mergeable quantile estimation via bottom-k hash sampling: per
    order priority, the BK_K rows with the smallest md5(o_orderkey) form
    a deterministic uniform sample (bottom-k of a union is the bottom-k
    of the merged bottom-ks — the property that makes this a mergeable
    sketch, unlike reservoir sampling whose result depends on arrival
    order). Quantiles interpolated over the sample sit next to the exact
    ones as the audit. Engine-specific quantile sketches (t-digest, GK)
    can't cross-engine hash; the hash sample can, value for value. The
    per-group bottom-k here is a keyed window sort (the topk_per_group
    shape); at extreme group sizes the same sample falls out of
    per-partition bottom-k heaps merged associatively."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    h = hash48(F.col("o_orderkey").cast("string"))
    from pyspark.sql import Window

    # o_totalprice tiebreak: NULL o_orderkey hashes to NULL, so dirty
    # data piles a (h NULL, key NULL) tie group at the head of every
    # partition; row_number is positional, and without the price
    # tiebreak WHICH tied rows enter the sample is arrival-order-
    # dependent (p50/p95 drift, NULLHEAVY_r15). Rows tying on all three
    # keys contribute identical prices — r12 totality rule. NaN prices
    # sort GREATEST in both engines.
    w = Window.partitionBy("o_orderpriority").orderBy(
        "h", "o_orderkey", "o_totalprice"
    )
    sample = (
        o.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BK_K)
    )
    # round6_det: interpolated percentiles are derived doubles (Spark
    # percentile vs DuckDB quantile_cont differ at ulp level) — 6-dp
    # determinization per _util.round6_det's discipline.
    from ._util import finite, round6_det

    # percentiles over the FINITE sample (Spark ranks NaN greatest,
    # DuckDB's quantile_cont skips it — agg_median_percentiles rule)

    pf = F.when(finite(F.col("o_totalprice")), F.col("o_totalprice"))
    est = sample.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_sample"),
        round6_det(F.percentile(pf, 0.5)).alias("p50_est"),
        round6_det(F.percentile(pf, 0.95)).alias("p95_est"),
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        round6_det(F.percentile(pf, 0.5)).alias("p50_exact"),
        round6_det(F.percentile(pf, 0.95)).alias("p95_exact"),
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority",
        "n_rows",
        "n_sample",
        "p50_exact",
        "p50_est",
        "p95_exact",
        "p95_est",
    )


_FINP = "CASE WHEN isfinite(o_totalprice) THEN o_totalprice END"

_BK_SQL = f"""
WITH h AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         {sql_hash48("CAST(o_orderkey AS VARCHAR)")} AS hv
  FROM orders
),
sample AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY hv, o_orderkey, o_totalprice) AS rn
    FROM h) WHERE rn <= {BK_K}
),
est AS (
  SELECT o_orderpriority, COUNT(*) AS n_sample,
         {sql_r6("quantile_cont(" + _FINP + ", 0.5)")} AS p50_est,
         {sql_r6("quantile_cont(" + _FINP + ", 0.95)")} AS p95_est
  FROM sample GROUP BY o_orderpriority
),
exact AS (
  SELECT o_orderpriority, COUNT(*) AS n_rows,
         {sql_r6("quantile_cont(" + _FINP + ", 0.5)")} AS p50_exact,
         {sql_r6("quantile_cont(" + _FINP + ", 0.95)")} AS p95_exact
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_rows, n_sample,
       p50_exact, p50_est, p95_exact, p95_est
FROM exact JOIN est USING (o_orderpriority)
"""


def hll_merge_proof(spark, sf_dir):
    """Mergeability, demonstrated IN-QUERY and oracle-checked: split the
    event stream into two halves by event_id parity, build an HLL
    register table per half, merge them by register-wise MAX, and emit
    the merged estimate next to the whole-stream estimate — they must be
    IDENTICAL (max is associative/commutative/idempotent), which is the
    property that lets 1000 executors sketch independently and a
    coordinator fold the results. One row: both estimates plus the
    equality flag the driver hash pins."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    bucket, rho = _hll_parts(F.col("user_id"))
    parts = ev.select((F.col("event_id") % 2).alias("half"), bucket, rho)

    def estimate(regs):
        inv = F.lit(1.0) / F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), CAST(reg AS INT)) AS DOUBLE)"
        )
        pt = regs.agg(
            F.count("*").alias("n_buckets"),
            F.sum(inv).alias("s"),
        )
        est = _hll_estimate(F.col("n_buckets"), F.col("s"))
        return pt.select(round6_det(est).alias("est"))

    whole = estimate(parts.groupBy("bucket").agg(F.max("rho").alias("reg")))
    halves = parts.groupBy("half", "bucket").agg(F.max("rho").alias("reg"))
    merged = estimate(
        halves.groupBy("bucket").agg(F.max("reg").alias("reg"))
    )
    return (
        whole.withColumnRenamed("est", "est_whole")
        .crossJoin(F.broadcast(merged.withColumnRenamed("est", "est_merged")))
        .select(
            "est_whole",
            "est_merged",
            (F.col("est_whole") == F.col("est_merged")).alias("merge_exact"),
        )
    )


def _hll_merge_sql() -> str:
    bucket = f"CAST('0x' || substring(hx, 1, 4) AS BIGINT) % {HLL_M}"
    w = "CAST('0x' || substring(hx, 5, 8) AS BIGINT)"

    def est(src):
        return f"""(
  SELECT {sql_r6(f'({_sql_est("n_buckets", "raw")})')}
  FROM (SELECT COUNT(*) AS n_buckets,
          {HLL_ALPHA * HLL_M * HLL_M!r} /
          (SUM(1.0 / CAST(1::BIGINT << CAST(reg AS INT) AS DOUBLE))
           + ({HLL_M} - COUNT(*))) AS raw
        FROM {src}))"""

    return f"""
WITH h AS (
  SELECT event_id % 2 AS half, md5(CAST(user_id AS VARCHAR)) AS hx
  FROM events WHERE user_id IS NOT NULL
),
parts AS (
  SELECT half, {bucket} AS bucket,
         CASE WHEN {w} = 0 THEN 33 ELSE 33 - length(bin({w})) END AS rho
  FROM h
),
whole AS (SELECT bucket, MAX(rho) AS reg FROM parts GROUP BY bucket),
halves AS (SELECT half, bucket, MAX(rho) AS reg FROM parts GROUP BY half, bucket),
merged AS (SELECT bucket, MAX(reg) AS reg FROM halves GROUP BY bucket)
SELECT {est('whole')} AS est_whole,
       {est('merged')} AS est_merged,
       {est('whole')} = {est('merged')} AS merge_exact
"""


def register(reg) -> None:
    reg.add("agg_hll_distinct", hll_distinct, _hll_sql())
    reg.add("agg_countmin_sketch", countmin_sketch, _cm_sql())
    reg.add("agg_countmin_estimates", countmin_estimates, _cm_est_sql())
    reg.add(
        "agg_bottomk_sample_quantiles", bottomk_sample_quantiles, _BK_SQL
    )
    reg.add("agg_hll_merge", hll_merge_proof, _hll_merge_sql())
