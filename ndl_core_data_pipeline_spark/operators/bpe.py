"""Distributed BPE vocabulary training (SURVEY §2.14 extension).

Classic byte-pair-encoding merge learning (Sennrich et al. 2016,
public algorithm): start from characters, repeatedly merge the most
frequent adjacent symbol pair. The scale-correct Spark shape:

- The corpus collapses ONCE to a distinct-word frequency table
  (explode + groupBy) — after that, every merge round works on the
  vocab-sized table (10^5-10^6 rows regardless of corpus size), never
  the corpus again. This is exactly why BPE trains on 100 TB: the
  active set is the vocabulary, weighted by counts.
- Each round = one keyed shuffle (pair counts, map-side combined) +
  a ONE-ROW collect (the argmax pair) + a map-only merge application
  (Arrow-batched pandas UDF — adjacent-pair rewriting is inherently
  sequential per word, parallel across words).
- Deterministic: ties break on (count desc, left asc, right asc), so
  the learned merge sequence is reproducible at any parallelism.
- Lineage is cut with localCheckpoint every few rounds so K rounds
  don't stack K plans.

Not SQL-expressible as one query (the merge choice each round depends
on the previous round's data), so this ships with an exact-equivalence
test against a pure-Python reference implementation instead of a
DuckDB oracle; the registry entry is rows-only.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from ._util import WS_ASCII_RE, sql_words, words

END_MARK = "</w>"  # word-end marker, per the original construction
# Adjudicated round 6: interleaved A/B at sf0.1 (24 merges) showed no
# consistent difference between checkpointing every 1/2/4/8 rounds
# (5.9-7.4 s, ordering tracked JVM warm-up, not the knob) — the vocab
# table is small enough that recomputing up to 7 stacked merge UDFs
# costs about the same as a checkpoint write. 8 keeps lineage bounded.
CHECKPOINT_EVERY = 8


def tokenize_words(text: str) -> list[str]:
    """The encode path's split: WS_ASCII_RE is the Python twin of the
    training plan's `words`, so both split at the same ASCII whitespace
    and keep NBSP/ideographic spaces inside a word."""
    return [w for w in WS_ASCII_RE.split((text or "").lower()) if w]


def _word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return (
        docs.select(F.explode(words(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _symbolize(wf: DataFrame) -> DataFrame:
    # word -> [c1, c2, ..., cn</w>]: the end marker fuses to the last
    # character so merges can't cross word boundaries
    syms = F.expr(
        f"transform(split(word, ''), (c, i) -> "
        f"IF(i = length(word) - 1, c || '{END_MARK}', c))"
    )
    return wf.select(F.col("word"), F.col("freq"), syms.alias("syms"))


def _pair_counts(sym: DataFrame) -> DataFrame:
    pairs = F.expr(
        "transform(slice(syms, 1, size(syms) - 1), "
        "(s, i) -> struct(s AS left, syms[i + 1] AS right))"
    )
    return (
        sym.filter(F.size("syms") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("count"))
    )


def _merge_col(syms_col, left: str, right: str):
    """Apply ONE learned merge to a symbol array, JVM-side: a left fold
    (F.aggregate) with state (out, prev) — emit `merged` when prev/current
    equal the pair, else flush prev; the finish lambda flushes the last
    pending symbol. Greedy left-to-right with non-overlapping repeats,
    exactly the classic scan (pinned by tests/test_bpe.py's pure-Python
    equivalence). Replaced the earlier pandas-UDF form: the train loop
    stacks up to CHECKPOINT_EVERY merge layers per round, and each UDF
    layer cost a JVM→Python Arrow round-trip of the vocab table — the
    fold keeps all layers inside whole-stage codegen."""
    l_lit, r_lit = F.lit(left), F.lit(right)
    m_lit = F.lit(left + right)
    init = F.struct(
        F.expr("CAST(array() AS ARRAY<STRING>)").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc, x):
        hit = acc["prev"].isNotNull() & (acc["prev"] == l_lit) & (x == r_lit)
        return F.struct(
            F.when(hit, F.concat(acc["out"], F.array(m_lit)))
            .when(acc["prev"].isNull(), acc["out"])
            .otherwise(F.concat(acc["out"], F.array(acc["prev"])))
            .alias("out"),
            F.when(hit, F.lit(None).cast("string")).otherwise(x).alias("prev"),
        )

    def finish(acc):
        return F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )

    return F.aggregate(syms_col, init, step, finish)


# Size-adaptive execution threshold, the same decision a broadcast join
# makes: the corpus always collapses to the word-freq table first (the
# ONE wide job), and when that table is driver-sized the 24-round merge
# loop runs in-process instead of paying ~0.2 s of job-scheduling latency
# per round on a table of a few thousand rows. Vocabularies larger than
# this stay fully distributed (one keyed shuffle + ONE-row collect per
# round). 64k words × ~30 symbol cells is single-digit MB.
VOCAB_DRIVER_MAX = 65536


def _train_from_freqs(
    freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """In-driver merge loop over a collected word-freq table — the exact
    algorithm of the distributed loop (same (count desc, left, right)
    tiebreak, same greedy scan), on the same input the distributed loop
    would shuffle per round."""
    vocab = {
        w: [c if i < len(w) - 1 else c + END_MARK for i, c in enumerate(w)]
        for w, _ in freqs
    }
    f = dict(freqs)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            fw = f[w]
            for pair in zip(syms, syms[1:]):
                pair_counts[pair] = pair_counts.get(pair, 0) + fw
        if not pair_counts:
            break
        (left, right), count = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, left, right, count))
        for w, syms in vocab.items():
            out: list[str] = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def train_bpe_merges(
    docs: DataFrame, n_merges: int = 32, text_col: str = "text"
) -> list[tuple[int, str, str, int]]:
    """Learn `n_merges` BPE merges; returns [(rank, left, right, count)].
    The corpus collapses ONCE to the word-freq table; if that table is
    driver-sized (≤ VOCAB_DRIVER_MAX) the merge loop runs in-process,
    else it stays distributed and the driver receives ONE row per round —
    never the vocabulary. Both paths are pinned to the same pure-Python
    reference in tests/test_bpe.py."""
    wf = _word_freqs(docs, text_col)
    # limit(MAX+1) returns the FULL table iff vocab <= MAX — one job
    # decides the strategy and, on the small path, already delivers the data
    head = wf.limit(VOCAB_DRIVER_MAX + 1).collect()
    if len(head) <= VOCAB_DRIVER_MAX:
        return _train_from_freqs(
            [(r["word"], int(r["freq"])) for r in head], n_merges
        )
    sym = _symbolize(wf).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        best = (
            _pair_counts(sym)
            .orderBy(F.desc("count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        row = best[0]
        merges.append((rank, row["left"], row["right"], int(row["count"])))
        sym = sym.withColumn(
            "syms", _merge_col(F.col("syms"), row["left"], row["right"])
        )
        if (rank + 1) % CHECKPOINT_EVERY == 0:
            sym = sym.localCheckpoint()
    return merges


def bpe_merges_query(spark, sf_dir, n_merges: int = 24):
    """Registry form: learned merge table over the documents corpus."""
    from ..io import load

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=n_merges)
    return spark.createDataFrame(
        merges, "rank BIGINT, left STRING, right STRING, count BIGINT"
    )


def bpe_first_merge_pairs(spark, sf_dir):
    """DuckDB-checkable facet of BPE training (the one round that IS
    SQL-expressible): the top-10 round-0 pair counts — exercising the
    whole distributed substrate every round reuses (word-freq collapse,
    symbolization, weighted adjacent-pair counting, the (count desc,
    left, right) tiebreak) — plus `is_first_merge` marking the pair the
    ACTUAL train loop picked as merge 0, so the loop's argmax is
    hash-checked against the oracle's rank-1 row. Later rounds stay
    data-dependent (rows-only bpe_train_merges + pure-Python equivalence
    in tests/test_bpe.py)."""
    from pyspark.sql import Window

    from ..io import load

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=1)  # [(0, left, right, count)]
    # empty-corpus totality: no trainable merge means the pair table
    # below is empty too, so the marker never evaluates — compare
    # against a nothing-matches sentinel instead of crashing on [0]
    first = merges[0] if merges else (0, None, None, 0)
    pairs = _pair_counts(_symbolize(_word_freqs(docs)))
    order = [F.desc("count"), F.asc("left"), F.asc("right")]
    top = pairs.orderBy(*order).limit(10)
    # global window AFTER the limit: ranks 10 rows, not the pair table
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.col("left").alias("pair_left"),
        F.col("right").alias("pair_right"),
        F.col("count").alias("pair_count"),
        (
            (F.col("left") == F.lit(first[1]))
            & (F.col("right") == F.lit(first[2]))
        ).alias("is_first_merge"),
    )


_FIRST_MERGE_SQL = rf"""
WITH words AS (
  SELECT t.w AS word FROM (
    SELECT {sql_words('text')} AS ws
    FROM documents) d, UNNEST(d.ws) AS t(w)
  WHERE len(t.w) > 0
),
freqs AS (SELECT word, COUNT(*) AS freq FROM words GROUP BY word),
syms AS (
  SELECT freq,
         list_transform(string_split(word, ''), (c, i) ->
           CASE WHEN i = length(word) THEN c || '{END_MARK}' ELSE c END) AS s
  FROM freqs
),
pairs AS (
  SELECT s[t.i] AS pair_left, s[t.i + 1] AS pair_right,
         CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM syms, UNNEST(range(1, len(s))) AS t(i)
  GROUP BY 1, 2
),
top AS (
  SELECT * FROM pairs
  ORDER BY pair_count DESC, pair_left, pair_right LIMIT 10
)
SELECT ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair_left, pair_right)
         AS rank,
       pair_left, pair_right, pair_count,
       ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair_left, pair_right) = 1
         AS is_first_merge
FROM top
"""


def register(reg) -> None:
    # iterative + data-dependent per round: rows-only driver check; exact
    # equivalence to a pure-Python reference is pinned in tests/test_bpe.py
    reg.add("bpe_train_merges", bpe_merges_query)
    reg.add("bpe_first_merge_pairs", bpe_first_merge_pairs, _FIRST_MERGE_SQL)


def encode_with_merges(
    docs: DataFrame, merges: list[tuple[int, str, str, int]], text_col: str = "text"
) -> DataFrame:
    """Apply a learned merge table: adds `tokens ARRAY<STRING>` and
    `n_tokens BIGINT`. Map-only — the merge ranks ride to executors in
    the UDF closure (vocab-sized, the classic broadcast-side object);
    greedy lowest-rank-first application per word, the standard BPE
    encode. No shuffle at any size."""
    ranks = {(left, right): rank for rank, left, right, _count in merges}

    @F.pandas_udf(ArrayType(StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        def word_tokens(w):
            syms = [c if i < len(w) - 1 else c + END_MARK for i, c in enumerate(w)]
            while len(syms) >= 2:
                best, at = None, -1
                for i, pair in enumerate(zip(syms, syms[1:])):
                    r = ranks.get(pair)
                    if r is not None and (best is None or r < best):
                        best, at = r, i
                if best is None:
                    break
                syms[at : at + 2] = [syms[at] + syms[at + 1]]
            return syms

        def one(t):
            out = []
            for w in tokenize_words(t):
                out.extend(word_tokens(w))
            return out

        return texts.map(one)

    return docs.withColumn("tokens", encode(F.col(text_col))).withColumn(
        "n_tokens", F.size("tokens").cast("bigint")
    )
