"""Array / collection operators (SURVEY §2.9 X13–X15, §2.5 A4).

Reference semantics re-expressed over the synthetic tables:
- X13 tag-set union (assets/data_gov_uk/assets.py:125-129: package tags ∪
  {category}) — array_union + array_distinct, sorted for deterministic
  comparison (the reference's dict-ordering is single-node luck).
- X14 ordered-distinct speaker list (hansard parser.py:236-246: append
  speaker if absent, preserving first-encounter order) — the distributed
  form is groupBy (group, member) → min(first_seen) → sort by first_seen,
  which scales as two keyed shuffles instead of a stateful scan.
- X15 separator concat (parser.py:192,242-246: segments joined ' \\p ') —
  array_join over a deterministically ordered collect.
- A4 min-reduce over a repeated group (gov_uk assets.py:167-187: oldest
  change_history timestamp) — array_min over a collected array, checked
  against plain MIN.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load
from ._util import sql_words, words


def tag_union(spark, sf_dir):
    """X13: tags ∪ {category}, deduped and sorted. Tags are derived from the
    row (source, lang) so both engines build identical inputs."""
    docs = load(spark, sf_dir, "documents")
    tags = F.array(F.col("source"), F.col("lang"), F.lit("open-data"))
    merged = F.array_sort(
        F.array_distinct(F.array_union(tags, F.array(F.lit("category"), F.col("source"))))
    )
    # rendered as a joined string so the oracle hash is list-layout-agnostic
    return docs.select("doc_id", F.array_join(merged, ",").alias("tags"))


def ordered_distinct_members(spark, sf_dir):
    """X14: first-encounter-ordered distinct event types per user. Two keyed
    aggregations — (user, type) → first_seen, then user → sorted list —
    no stateful scan, no driver loop."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(
        F.min(F.struct("ts", "event_id")).alias("first_seen")
    )
    # a user whose event types are ALL NULL must aggregate to NULL like
    # SQL string_agg, not '' — array_join silently skips NULL elements,
    # so the empty join masked the difference (r16 compound-max probe;
    # the agg_ordered_string_concat class recurring at every
    # array_join-over-collect site)
    members = F.array_sort(
        F.collect_list(F.struct("first_seen", "event_type"))
    )
    return (
        firsts.groupBy("user_id")
        .agg(
            F.when(
                F.exists(members, lambda x: x["event_type"].isNotNull()),
                F.array_join(
                    F.transform(members, lambda x: x["event_type"]), ","
                ),
            ).alias("types_in_order")
        )
    )


def concat_with_separator(spark, sf_dir):
    """X15: per-user conversation text — event types joined with ' \\p ' in
    (ts, event_id) order (ref separator parser.py:242-246)."""
    ev = load(spark, sf_dir, "events")
    # NULL when every collected event_type is NULL (string_agg
    # semantics; r16 compound-max probe — see ordered_distinct_members)
    segs = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.when(
                F.exists(segs, lambda x: x["event_type"].isNotNull()),
                F.array_join(
                    F.transform(segs, lambda x: x["event_type"]), " \\p "
                ),
            ).alias("conversation")
        )
    )


def min_over_array(spark, sf_dir):
    """A4: oldest timestamp from a collected repeated group — array_min of
    collect_list(o_orderdate) per customer, with the default for empty
    groups handled by coalesce (ref: gov_uk assets.py:167-187)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.collect_list("o_orderdate").alias("dates"))
        .select(
            "o_custkey",
            F.coalesce(
                F.array_min("dates"), F.lit("1970-01-01").cast("timestamp")
            ).alias("oldest"),
            F.size("dates").cast("bigint").alias("n_changes"),
        )
    )


def hof_family(spark, sf_dir):
    """§2.9 higher-order-function surface as a registered query: filter /
    exists / forall / aggregate lambdas over the tokenized document text —
    all evaluated JVM-side per row (no explode, no shuffle until the
    project itself ends the plan). DuckDB mirrors with list_filter /
    list_transform / list_sum."""
    from ..io import load

    docs = load(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.filter(ws, lambda w: w != "")).cast("bigint").alias("n_words"),
        F.size(F.filter(ws, lambda w: F.length(w) > 5))
        .cast("bigint")
        .alias("n_long"),
        F.exists(ws, lambda w: w.rlike("[0-9]")).alias("has_digit"),
        F.forall(ws, lambda w: F.length(w) <= 20).alias("all_short"),
        F.aggregate(
            ws, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
        ).alias("n_chars"),
    )


_HOF_SQL = rf"""
WITH ws AS (
  SELECT doc_id, {sql_words('text')} AS w FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(w, x -> x <> '')) AS BIGINT) AS n_words,
       CAST(len(list_filter(w, x -> length(x) > 5)) AS BIGINT) AS n_long,
       len(list_filter(w, x -> regexp_matches(x, '[0-9]'))) > 0 AS has_digit,
       len(list_filter(w, x -> length(x) > 20)) = 0 AS all_short,
       CASE WHEN w IS NULL THEN NULL
            ELSE CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
                      AS BIGINT) END AS n_chars
FROM ws
"""


def map_family(spark, sf_dir):
    """§2.9 map-type surface: build a map per event (map_from_arrays),
    read it (element_at / map_keys / cardinality), transform it
    (transform_values), and emit deterministic sorted entries. All
    map ops are in-row JVM expressions — map-only plan. The oracle
    computes the same final values directly (DuckDB's map HOF surface is
    thinner, and the CONTRACT is the output values, not the intermediate
    representation). The sorted key/entry lists are serialized to
    comma-joined strings: the driver's canonicalizer sorts rows
    pandas-side, which cannot hash ArrayType cells (r7 driver red), and
    the contract is the VALUES, not the container type."""
    from ..io import load

    ev = load(spark, sf_dir, "events")
    k_str = F.get_json_object(F.col("props"), "$.k")
    m = F.map_from_arrays(
        F.array(F.lit("props_k"), F.lit("type")),
        F.array(k_str, F.col("event_type")),
    )
    m2 = F.transform_values(m, lambda k, v: F.concat_ws("=", k, v))
    return ev.select(
        "event_id",
        F.element_at(m, F.lit("props_k")).cast("bigint").alias("k_val"),
        F.element_at(m, F.lit("type")).alias("type_val"),
        F.size(m).cast("bigint").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.array_join(F.array_sort(F.map_values(m2)), ",").alias(
            "entries_sorted"
        ),
    )


def _map_sql() -> str:
    from ._util import sql_jackson_json, sql_str_to_bigint

    # sql_jackson_json: Spark's Jackson parses raw control chars inside
    # JSON string values where DuckDB's yyjson rejects the document;
    # sql_str_to_bigint: string k (unicode tier) raises under CAST and
    # rounds under TRY_CAST where Spark's non-ANSI cast yields
    # NULL/truncates. Both identity on clean data. The escaped doc and
    # extracted string are CTE-bound, computed once per row.
    return f"""
WITH p AS (SELECT event_id, event_type, {sql_jackson_json()} AS _p FROM events),
 j AS (SELECT event_id, event_type,
       CASE WHEN json_valid(_p) THEN json_extract_string(_p, '$.k') END AS _k
       FROM p)
SELECT event_id,
       {sql_str_to_bigint("_k")} AS k_val,
       event_type AS type_val,
       CAST(2 AS BIGINT) AS n_keys,
       'props_k,type' AS keys_sorted,
       array_to_string(
         list_sort([concat_ws('=', 'props_k', _k),
                    concat_ws('=', 'type', event_type)]), ',') AS entries_sorted
FROM j
"""


def register(reg):
    reg.add(
        "array_tag_union",
        tag_union,
        "SELECT doc_id, array_to_string(list_sort(list_distinct(list_concat("
        "[source, lang, 'open-data'], ['category', source]))), ',') AS tags "
        "FROM documents",
    )
    reg.add(
        "array_ordered_distinct",
        ordered_distinct_members,
        "WITH ranked AS ("
        "  SELECT user_id, event_type, ts, event_id, ROW_NUMBER() OVER "
        "    (PARTITION BY user_id, event_type ORDER BY (ts IS NOT NULL), ts, (event_id IS NOT NULL), event_id) AS rn "
        "  FROM events) "
        "SELECT user_id, string_agg(event_type, ',' ORDER BY (ts IS NOT NULL), ts, (event_id IS NOT NULL), event_id, "
        "(event_type IS NOT NULL), event_type) AS types_in_order "
        "FROM ranked WHERE rn = 1 GROUP BY user_id",
    )
    reg.add(
        "array_concat_sep",
        concat_with_separator,
        "SELECT user_id, string_agg(event_type, ' \\p ' ORDER BY (ts IS NOT NULL), ts, (event_id IS NOT NULL), event_id, "
        "(event_type IS NOT NULL), event_type) AS conversation "
        "FROM events GROUP BY user_id",
    )
    reg.add(
        "array_min_reduce",
        min_over_array,
        # COUNT(o_orderdate), not COUNT(*): the engine's collect_list
        # SKIPS NULL elements (Spark array semantics), so the array
        # length counts dated orders only
        "SELECT o_custkey, COALESCE(MIN(o_orderdate), TIMESTAMP '1970-01-01') AS oldest, "
        "COUNT(o_orderdate) AS n_changes FROM orders GROUP BY o_custkey",
    )
    reg.add("array_hof_family", hof_family, _HOF_SQL)
    reg.add("func_map_family", map_family, _map_sql())
