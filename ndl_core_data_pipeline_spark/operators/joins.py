"""Join operators (SURVEY §2.4 J1–J3 + full engine-surface join family).

Strategy notes for scale: dimension tables (region/nation/supplier) are
broadcast — no shuffle of the fact side. Fact-fact joins (orders⋈lineitem)
shuffle on the join key; at 100 TB these would be bucketed on orderkey so
the shuffle disappears. Non-equi joins are kept dimension×dimension sized
(BroadcastNestedLoopJoin is O(n·m)).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import load


def inner_equi_join(spark, sf_dir):
    """Inner equi-join chain customer⋈nation⋈region (engine surface; the
    reference's J2 metadata↔data association is this shape,
    assets/processing/assets.py:338-346)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


def left_join_coalesce(spark, sf_dir):
    """J1 tag-merge: left join predictions onto base, coalesce(pred, existing)
    (ref: assets/processing/assets.py:543-558)."""
    c = load(spark, sf_dir, "customer")
    preds = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") <= 1)
        .select("n_nationkey", F.col("n_name").alias("predicted_tag"))
    )
    return (
        c.join(F.broadcast(preds), c.c_nationkey == preds.n_nationkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("predicted_tag"), F.col("c_mktsegment")).alias("tag"),
        )
    )


def semi_join(spark, sf_dir):
    """Left-semi join: customers having at least one urgent open order
    (EXISTS shape; engine surface)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def anti_join_skip_existing(spark, sf_dir):
    """F8 skip-if-exists as anti-join: work-list minus already-materialized keys
    (ref: assets/gov_uk/assets.py:92-95 and 3 sibling crawlers)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def right_outer_join(spark, sf_dir):
    """Right outer join with nulls on the probe side (engine surface)."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "2001-06-01")
    o = load(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey, "right")
        .select("o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity")
    )


def full_outer_join(spark, sf_dir):
    """Full outer join supplier⟗nation (engine surface)."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return s.join(n, s.s_nationkey == n.n_nationkey, "full").select(
        "s_suppkey", "s_name", "n_nationkey", "n_name"
    )


def broadcast_join(spark, sf_dir):
    """Explicit broadcast-hash join: small dim never shuffles the fact side
    (engine surface; at 100 TB this is mandatory for dim joins)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice")
    )


def theta_range_join(spark, sf_dir, *, observation=None):
    """Theta (non-equi range) join: parts priced within a supplier-derived
    band (engine surface; kept dim×dim sized — nested-loop is O(n·m)).

    Output is inherently ~density² of the band predicate (measured 99.5×
    output per 10× rows at sf1, SCALE_r10.json — adjudicated
    output-bound, per-output-row throughput improved): pass a
    pyspark.sql.Observation as `observation` to receive `n_output_rows`
    when the query finishes, so a 100-TB run surfaces the blow-up as a
    metric instead of an executor OOM downstream."""
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    out = (
        p.join(
            F.broadcast(s),
            (p.p_retailprice >= s.s_acctbal / 10.0)
            & (p.p_retailprice < s.s_acctbal / 5.0),
        )
        .select("p_partkey", "s_suppkey", "p_retailprice", "s_acctbal")
    )
    if observation is not None:
        out = out.observe(
            observation, F.count(F.lit(1)).alias("n_output_rows")
        )
    return out


def asof_join_last_view(spark, sf_dir):
    """As-of join: for each purchase event, the most recent prior 'view' by
    the same user (engine surface — ordered-adjacency family of J3/W1).
    Implemented as a window carry-forward, not a join: one shuffle on
    user_id, no range-join explosion.

    Sort key (ts, event_id, event_type): the carry-forward is positional
    (PRECEDING..-1 frame), and dirty data ties (ts, event_id) — both
    NULL, or equal ts with NULL ids — between a view and a purchase;
    whether the view lands inside the purchase's frame would otherwise
    depend on arrival order (r16 totality lint). event_type closes the
    key over every column the window READS: tied rows equal in all
    three contribute identical (view_ts, view_id) pairs, so any
    remaining tie is carry-equivalent."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id", "event_type")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    view_id = F.when(F.col("event_type") == "view", F.col("event_id"))
    return (
        ev.withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
        .withColumn("last_view_id", F.last(view_id, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_view_ts", "last_view_id")
    )


RANGE_BIN_US = 3600 * 1_000_000  # 1-hour bins = the join radius


def range_join_binned(spark, sf_dir):
    """Time-range aggregation join — for each purchase event, count/total
    the view events (any user) within ±1 h — via the PREFIX-SUM
    decomposition: agg over [p−1h, p+1h] = F(p+1h) − F(p−1h−1µs) where
    F is the cumulative (count, decimal sum) of the time-ordered view
    stream. Views and two boundary-probe rows per purchase union into
    one stream, hour-bucketed two-level prefix sums (local keyed window
    + a #buckets-row offset scan, the distributed_prefix_sum shape) give
    every probe its cumulative, and a per-purchase signed difference
    yields the exact window aggregate.

    The r6 form binned both sides and equi-joined on the bin key: right
    at 100 TB for *sparse* streams, but it materializes every candidate
    (purchase, view) pair, and pairs grow with density² — the r10 sf1
    measurement (same 30-day window, 10× rows) clocked it at 61× per
    10× rows (0.91→55.3 s). This form moves (V + 2P) rows total from
    ONE events scan per consumer (2, plus a null-stat-pruned third for
    NULL-ts purchases), no pair materialization:
    measured 1.64 s at sf0.1 → 1.59 s at sf1 (0.97× per 10× rows; the
    ~0.7 s constant over the old form at sf0.1 buys the density² cure).
    Bit-identical: probes sort after views at equal timestamp (kind
    tiebreak) so both ±1 h bounds stay inclusive, and decimal partials
    make the signed difference exactly the direct decimal sum."""
    from ._util import DEC

    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))

    def _entry(t, kind, cnt, val, sign):
        return F.struct(
            t.alias("t"),
            F.lit(kind).alias("kind"),
            F.lit(cnt).cast("bigint").alias("cnt"),
            val.alias("val"),
            F.lit(sign).cast("int").alias("sign"),
        )

    zero = F.lit(0).cast(DEC)
    # ONE events scan emits the whole union: a view contributes its own
    # (+1 count, +value) entry; a purchase contributes its two signed
    # boundary probes. explode of the conditional array replaces a
    # two-branch union that scanned events once per side.
    entries = F.when(
        F.col("event_type") == "view",
        F.array(_entry(us, 0, 1, F.col("value").cast(DEC), 0)),
    ).when(
        F.col("event_type") == "purchase",
        F.array(
            _entry(us + RANGE_BIN_US, 1, 0, zero, 1),
            _entry(us - RANGE_BIN_US - 1, 1, 0, zero, -1),
        ),
    )
    stream = (
        # NULL-ts rows can't enter the prefix-sum machinery: a NULL
        # bucket sorts NULLS-FIRST into the offset window (corrupting
        # every real bucket's offset) and a NULL bucket key never
        # equi-joins. The oracle's ON condition is NULL for them: a
        # NULL-ts view matches no purchase, and a NULL-ts purchase
        # LEFT-JOIN-survives with (0, 0.0) — re-added below.
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .filter(F.col("ts").isNotNull())
        .select(
            F.col("event_id").alias("row_id"),
            "user_id",
            F.explode(entries).alias("e"),
        )
        .select(
            F.col("e.t").alias("t"),
            F.col("e.kind").alias("kind"),
            "row_id",
            F.col("e.cnt").alias("cnt"),
            F.col("e.val").alias("val"),
            F.col("e.sign").alias("sign"),
            "user_id",
        )
        .withColumn("bucket", F.floor(F.col("t") / RANGE_BIN_US))
    )
    w_in = (
        W.partitionBy("bucket")
        .orderBy("t", "kind", "row_id", "sign")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = stream.withColumn("c_cnt", F.sum("cnt").over(w_in)).withColumn(
        "c_val", F.sum("val").over(w_in)
    )
    # bucket totals = plain per-bucket SUMS, not the cumulative at the
    # bucket's last row: a max_by(c_val, last_key) lookup breaks when
    # the last sort key TIES (equal ts + NULL event_id views — max_by
    # picks an arbitrary tied row whose prefix may exclude the other
    # tied row's value; r16 totality lint). Sums are order-independent
    # by construction and numerically identical (the bucket-end prefix
    # IS the bucket sum). Aggregating over `local` instead of `stream`
    # keeps both consumers on one subtree, so the bucket Exchange is
    # computed once and the second branch reads a ReusedExchange
    # instead of re-scanning events (pinned by
    # test_range_binned_is_prefix_sum)
    totals = local.groupBy("bucket").agg(
        F.sum("cnt").alias("b_cnt"),
        F.sum("val").alias("b_val"),
    )
    w_b = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("b_cnt").over(w_b), F.lit(0)).alias("o_cnt"),
        F.coalesce(F.sum("b_val").over(w_b), F.lit(0).cast(DEC)).alias("o_val"),
    )
    cum = (
        local.filter(F.col("kind") == 1)
        .withColumnRenamed("row_id", "event_id")
        .join(F.broadcast(offsets), "bucket")
    )
    diffed = cum.groupBy("event_id", "user_id").agg(
        F.sum(F.col("sign") * (F.col("o_cnt") + F.col("c_cnt")))
        .cast("bigint")
        .alias("n_views_1h"),
        F.sum(F.col("sign") * (F.col("o_val") + F.col("c_val")))
        .cast("double")
        .alias("view_value_1h"),
    )
    # NULL-ts purchases: zero matches, kept by the oracle's LEFT JOIN.
    # One extra pushed-down scan (ts IS NULL AND event_type='purchase');
    # parquet null-count row-group stats prune it to ~nothing on data
    # without ts nulls.
    null_ts = ev.filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNull()
    ).select(
        "event_id",
        "user_id",
        F.lit(0).cast("bigint").alias("n_views_1h"),
        F.lit(0.0).alias("view_value_1h"),
    )
    # final merge ACROSS the two branches: GROUP BY in the oracle merges
    # NULL-event_id purchases of one user into a single row even when
    # one of them has a NULL ts (one row from each branch here); the
    # cross-branch double addition only ever adds the null_ts branch's
    # exact 0.0, so decimal exactness survives. No-op on unique keys.
    return (
        diffed.unionByName(null_ts)
        .groupBy("event_id", "user_id")
        .agg(
            F.sum("n_views_1h").cast("bigint").alias("n_views_1h"),
            F.sum("view_value_1h").cast("double").alias("view_value_1h"),
        )
    )


N_SALTS = 8  # skew fan-out: hottest key splits across 8 reducers


def salted_skew_join(spark, sf_dir):
    """Salt-split skewed equi-join: events (big, user_id possibly skewed —
    one bot user can be 10% of a 100 TB log) joined to a per-user profile
    (also keyed on user_id, too big to broadcast at scale). A plain
    shuffle join puts every row of a hot key on ONE reducer; salting
    appends `event_id % N_SALTS` to the big side's key and explodes the
    profile side ×N_SALTS, so each hot key spreads over N_SALTS reducers.
    Results are identical to the unsalted join — the oracle IS the plain
    join. (AQE skew-join does this adaptively; the explicit form works in
    any deployment and for first-shuffle skew AQE can't see.)"""
    ev = load(spark, sf_dir, "events")
    profile = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("user_value"),
    )
    exploded = profile.withColumn(
        "salt", F.explode(F.array(*[F.lit(s) for s in range(N_SALTS)]))
    )
    # coalesce the salt: a NULL event_id would make the composite
    # (user_id, salt) key NULL and silently drop the row from a join the
    # plain (oracle) form keeps — salting must never change membership.
    # pmod, not %: Java's % keeps the dividend's sign, so a NEGATIVE
    # event_id (hash-derived ids are signed) salts to a value outside
    # the exploded 0..N_SALTS-1 domain and the row silently vanishes
    # (extreme-BIGINT axis find: 6 rows dropped at 0.5% planting).
    big = ev.filter(F.col("event_type") == "purchase").withColumn(
        "salt",
        F.coalesce(F.pmod(F.col("event_id"), F.lit(N_SALTS)).cast("int"), F.lit(0)),
    )
    return (
        big.join(exploded, ["user_id", "salt"])
        .select("event_id", "user_id", "n_events", "user_value")
    )


def merge_upsert_latest(spark, sf_dir):
    """MERGE / upsert (latest-wins): apply a change set (updates to
    existing keys + brand-new keys) onto a base table in one pass — the
    lakehouse MERGE INTO shape, expressed engine-level as a single
    full-outer shuffle join on the key with COALESCE(update, base) per
    column and a row-op tag. Both sides shuffle once on o_orderkey; at
    100 TB the base would be bucketed on the key so only the (much
    smaller) change set moves. Change set here is synthesized
    deterministically from orders: keys %7==0 get a price+10% restatement,
    keys %97==0 arrive as new (negated-key) rows."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )
    updates = (
        o.filter(F.col("key") % 7 == 0)
        .select(
            "key",
            F.lit("U").alias("u_status"),
            # exact decimal restatement: double×double then round ties
            # differently across engines; decimal(18,2)×decimal(3,2) is
            # exact and rounds identically in Spark and DuckDB
            F.round(
                F.col("totalprice").cast("decimal(18,2)")
                * F.lit(1.10).cast("decimal(3,2)"),
                2,
            )
            .cast("double")
            .alias("u_totalprice"),
        )
        .unionAll(
            # key > 0: -0 == 0 would collide the synthetic insert with the
            # real key-0 base row (and its %7 update), duplicating the key
            o.filter((F.col("key") % 97 == 0) & (F.col("key") > 0)).select(
                (-F.col("key")).alias("key"),
                F.lit("N").alias("u_status"),
                F.col("totalprice").alias("u_totalprice"),
            )
        )
    )
    merged = o.join(updates, "key", "full_outer")
    return merged.select(
        "key",
        F.coalesce(F.col("u_status"), F.col("status")).alias("status"),
        F.coalesce(F.col("u_totalprice"), F.col("totalprice")).alias("totalprice"),
        F.when(F.col("u_status").isNull(), "keep")
        .when(F.col("status").isNull(), "insert")
        .otherwise("update")
        .alias("row_op"),
    )


ASOF_TOLERANCE_US = 1800 * 1_000_000  # 30-minute match window


def asof_join_with_tolerance(spark, sf_dir):
    """As-of join with tolerance (pandas merge_asof(tolerance=...)
    semantics): each purchase matches its most recent prior view by the
    same user ONLY if that view is within 30 minutes — older matches
    null out. Same single user_id-keyed window carry-forward as
    `join_asof_last_view` plus a map-side recency predicate; no
    range-join explosion at any scale. Sort key (ts, event_id,
    event_type) for the same totality reason as join_asof_last_view:
    event_type closes the key over every column the carry-forward
    reads (r16 totality lint)."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id", "event_type")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts"))
    view_us = F.when(F.col("event_type") == "view", us)
    view_id = F.when(F.col("event_type") == "view", F.col("event_id"))
    carried_us = F.last(view_us, ignorenulls=True).over(w)
    carried_id = F.last(view_id, ignorenulls=True).over(w)
    # reference the MATERIALIZED v_us column, not the window expression: a
    # window expression used after the purchase filter would re-evaluate
    # over the filtered rows (views gone) and null out every match
    in_window = (us - F.col("v_us")) <= ASOF_TOLERANCE_US
    return (
        ev.withColumn("v_us", carried_us)
        .withColumn("v_id", carried_id)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(in_window, F.col("v_id")).alias("last_view_id"),
            # floor, not cast: Spark's double→bigint cast truncates while
            # DuckDB's rounds — floor() agrees everywhere
            F.when(
                in_window, F.floor((us - F.col("v_us")) / 1_000_000).cast("bigint")
            ).alias("view_age_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-overlap join (interval × interval, binned)

OVERLAP_BIN_DAYS = 32
OVERLAP_WINDOW_DAYS = 30
_OVL_ANCHOR = "1990-01-01"


def interval_overlap_join(spark, sf_dir):
    """Interval×interval overlap join — the two-sided sibling of the
    point-radius `join_range_binned`: shipment transit windows
    [shipdate, shipdate + 7 + linenumber%14 days] (the testdata carries
    no receipt date, so transit length derives deterministically from
    the line number) against 30-day order windows [orderdate, +30d], pairs
    that OVERLAP plus the overlap length. Naively O(n·m) with an
    inequality predicate no hash join can use; here both sides explode
    into the OVERLAP_BIN_DAYS-day epoch bins their interval covers
    (sequence() — bounded by interval length / bin width, 1-2 bins for
    these spans), candidates equi-join on the bin key, the exact overlap
    predicate filters, and a distinct on the pair key collapses pairs
    that met in two bins (it also collapses exact duplicate input rows,
    so the contract is the PAIR SET — the oracle is DISTINCT too). Work scales with true temporal density. Both
    sides are deterministically mod-sampled so the pair set stays
    output-sized at any sf; the oracle is the direct quadratic form over
    the same samples."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 97 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff("l_shipdate", F.lit(_OVL_ANCHOR)).alias("a_s"),
        )
        .withColumn(
            "a_e", F.col("a_s") + 7 + F.col("l_linenumber").cast("bigint") % 14
        )
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 89 == 0)
        .select(
            "o_orderkey",
            F.datediff("o_orderdate", F.lit(_OVL_ANCHOR)).alias("b_s"),
        )
        .withColumn("b_e", F.col("b_s") + OVERLAP_WINDOW_DAYS)
    )
    wb = OVERLAP_BIN_DAYS
    a = li.withColumn(
        "bin",
        F.explode(F.sequence(F.floor(F.col("a_s") / wb), F.floor(F.col("a_e") / wb))),
    )
    b = o.withColumn(
        "bin",
        F.explode(F.sequence(F.floor(F.col("b_s") / wb), F.floor(F.col("b_e") / wb))),
    )
    return (
        a.join(b, "bin")
        .filter((F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e")))
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderkey",
            (
                F.least("a_e", "b_e") - F.greatest("a_s", "b_s") + 1
            ).cast("bigint").alias("overlap_days"),
        )
        .distinct()
    )


_OVERLAP_SQL = f"""
WITH a AS (
  SELECT l_orderkey, l_linenumber,
         date_diff('day', DATE '{_OVL_ANCHOR}', CAST(l_shipdate AS DATE)) AS a_s,
         date_diff('day', DATE '{_OVL_ANCHOR}', CAST(l_shipdate AS DATE))
           + 7 + l_linenumber % 14 AS a_e
  FROM lineitem WHERE l_orderkey % 97 = 0
),
b AS (
  SELECT o_orderkey,
         date_diff('day', DATE '{_OVL_ANCHOR}', CAST(o_orderdate AS DATE)) AS b_s,
         date_diff('day', DATE '{_OVL_ANCHOR}', CAST(o_orderdate AS DATE))
           + {OVERLAP_WINDOW_DAYS} AS b_e
  FROM orders WHERE o_orderkey % 89 = 0
)
SELECT DISTINCT l_orderkey, l_linenumber, o_orderkey,
       CAST(LEAST(a_e, b_e) - GREATEST(a_s, b_s) + 1 AS BIGINT) AS overlap_days
FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
"""


def register(reg):
    reg.add(
        "join_inner_equi",
        inner_equi_join,
        "SELECT c_custkey, c_name, n_name, r_name FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey",
    )
    reg.add(
        "join_left_coalesce",
        left_join_coalesce,
        "SELECT c_custkey, COALESCE(n_name, c_mktsegment) AS tag FROM customer "
        "LEFT JOIN (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey <= 1) p "
        "ON c_nationkey = p.n_nationkey",
    )
    reg.add(
        "join_semi",
        semi_join,
        "SELECT c_custkey, c_name FROM customer WHERE EXISTS ("
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')",
    )
    reg.add(
        "join_anti_skip_existing",
        anti_join_skip_existing,
        "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS ("
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    )
    reg.add(
        "join_right_outer",
        right_outer_join,
        "SELECT o_orderkey, o_orderstatus, l_linenumber, l_quantity FROM "
        "(SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-06-01') l "
        "RIGHT JOIN orders ON l.l_orderkey = o_orderkey",
    )
    reg.add(
        "join_full_outer",
        full_outer_join,
        "SELECT s_suppkey, s_name, n_nationkey, n_name FROM supplier "
        "FULL OUTER JOIN nation ON s_nationkey = n_nationkey",
    )
    reg.add(
        "join_broadcast",
        broadcast_join,
        "SELECT o_orderkey, c_name, o_totalprice FROM orders "
        "JOIN customer ON o_custkey = c_custkey",
    )
    reg.add(
        "join_theta_range",
        theta_range_join,
        "SELECT p_partkey, s_suppkey, p_retailprice, s_acctbal FROM part "
        "JOIN supplier ON p_retailprice >= s_acctbal/10.0 "
        "AND p_retailprice < s_acctbal/5.0",
    )
    reg.add(
        "join_asof_last_view",
        asof_join_last_view,
        "SELECT event_id, user_id, ts, last_view_ts, last_view_id FROM ("
        "SELECT event_id, user_id, ts, event_type, "
        "last_value(CASE WHEN event_type='view' THEN ts END IGNORE NULLS) OVER w AS last_view_ts, "
        "last_value(CASE WHEN event_type='view' THEN event_id END IGNORE NULLS) OVER w AS last_view_id "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, event_type "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        ") t WHERE event_type = 'purchase'",
    )
    # the three shuffle-strategy shapes a 100 TB deployment leans on
    # (binned range join, salt-split skew join, full-outer MERGE)
    reg.add(
        "join_range_binned",
        range_join_binned,
        # COUNT(v.event_type), not COUNT(v.event_id): the join ON pins
        # event_type non-null for every matched row, so this counts ALL
        # matched views — a matched view with a NULL event_id is still a
        # view in the window
        "SELECT p.event_id, p.user_id, COUNT(v.event_type) AS n_views_1h, "
        "COALESCE(CAST(SUM(CAST(v.value AS DECIMAL(25,6))) AS DOUBLE), 0.0)"
        " AS view_value_1h "
        "FROM events p LEFT JOIN events v ON v.event_type = 'view' "
        "AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 3600000000 "
        "WHERE p.event_type = 'purchase' "
        "GROUP BY p.event_id, p.user_id",
    )
    reg.add(
        "join_skew_salted",
        salted_skew_join,
        "SELECT e.event_id, e.user_id, p.n_events, p.user_value "
        "FROM events e JOIN (SELECT user_id, COUNT(*) AS n_events, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS user_value "
        "FROM events GROUP BY user_id) p USING (user_id) "
        "WHERE e.event_type = 'purchase'",
    )
    reg.add(
        "merge_upsert_latest",
        merge_upsert_latest,
        "WITH o AS (SELECT o_orderkey AS key, o_orderstatus AS status, "
        "o_totalprice AS totalprice FROM orders), "
        "updates AS ("
        "  SELECT key, 'U' AS u_status, CAST(ROUND(CAST(totalprice AS DECIMAL(18,2))"
        " * CAST(1.10 AS DECIMAL(3,2)), 2) AS DOUBLE) AS u_totalprice"
        "  FROM o WHERE key % 7 = 0"
        "  UNION ALL"
        "  SELECT -key AS key, 'N' AS u_status, totalprice AS u_totalprice"
        "  FROM o WHERE key % 97 = 0 AND key > 0) "
        "SELECT COALESCE(o.key, u.key) AS key, "
        "COALESCE(u.u_status, o.status) AS status, "
        "COALESCE(u.u_totalprice, o.totalprice) AS totalprice, "
        "CASE WHEN u.u_status IS NULL THEN 'keep' "
        "WHEN o.status IS NULL THEN 'insert' ELSE 'update' END AS row_op "
        "FROM o FULL OUTER JOIN updates u ON o.key = u.key",
    )
    reg.add(
        "join_asof_tolerance",
        asof_join_with_tolerance,
        "SELECT event_id, user_id, ts, "
        "CASE WHEN epoch_us(ts) - v_us <= 1800000000 THEN v_id END AS last_view_id, "
        "CASE WHEN epoch_us(ts) - v_us <= 1800000000 THEN "
        "CAST(floor((epoch_us(ts) - v_us) / 1000000.0) AS BIGINT) END AS view_age_sec "
        "FROM ("
        "SELECT event_id, user_id, ts, event_type, "
        "last_value(CASE WHEN event_type='view' THEN epoch_us(ts) END IGNORE NULLS) OVER w AS v_us, "
        "last_value(CASE WHEN event_type='view' THEN event_id END IGNORE NULLS) OVER w AS v_id "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, event_type "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        ") t WHERE event_type = 'purchase'",
    )
    reg.add("join_interval_overlap", interval_overlap_join, _OVERLAP_SQL)
