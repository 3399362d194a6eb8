"""Round-3 training-data-pipeline operators (SURVEY §2.14 extensions).

Large-scale corpus-curation shapes a 100 TB training-data build needs
beyond the dedup/similarity/text-analysis families already registered:

- deterministic sampling (hash-bucket, stratified-by-language, per-group
  pseudo-reservoir) — reproducible subsets with no RNG state, so a re-run
  at any parallelism selects the identical rows;
- sequence packing (next-fit per group via applyInPandas, and the
  split-allowed cumulative-sum form as a pure window) — grouping documents
  into fixed token-capacity training bins;
- block-level exact dedup (C4-style duplicated-span removal at 10-word
  granularity);
- benchmark contamination scoring (n-gram overlap between train docs and
  a held-out eval source, hash-join on gram — never all-pairs);
- text normalization (NFC-adjacent whitespace/control cleanup);
- embedding compression: symmetric int8 scalar quantization and 32-bit
  sign codes (binary quantization halves) — the memory-side companions to
  the LSH/IVF ANN family;
- token-length histograms for shard planning.

Every operator is JVM-side expression work except the two inherently
sequential-per-group packers, which use grouped-map pandas (bounded
groups, parallel across groups). All hashes are md5-prefix→bigint, the
same cross-engine-stable construction textops.winnowing uses.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from ..io import load
from ._util import rebalance_narrow_scan

# deterministic-sampling modulus and default keep-rate (percent)
SAMPLE_MOD = 100
SAMPLE_PCT = 10
# stratified keep-rates: downsample the dominant language, keep more of
# the rest (the Pile/ROOTS-style per-stratum allocation)
STRAT_PCT_EN = 5
STRAT_PCT_OTHER = 20
# pseudo-reservoir size per source
RESERVOIR_K = 5
# sequence-packing token capacity per bin
PACK_CAP = 256
# block-dedup granularity (words per block)
BLOCK_W = 10
# contamination n-gram order
CONTAM_N = 3
# token-histogram bucket width
HIST_W = 32
# feature-hashing embedder dimensionality
EMBED_DIM = 64
# train/val/test split percentages (must sum to 100)
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 5


def _hash48(col):
    """First 48 bits of md5 as a non-negative bigint — bit-identical in
    Spark (conv/substring) and DuckDB ('0x' cast), used as the engine's
    deterministic sampling/bucketing key."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def _sql_hash48(expr: str) -> str:
    return f"CAST('0x' || substring(md5({expr}), 1, 12) AS BIGINT)"


# ---------------------------------------------------------------- sampling


def sample_hash_bucket(spark, sf_dir):
    """Deterministic SAMPLE_PCT% sample: keep rows whose md5(doc_id)
    bucket falls below the rate. Reproducible under any partitioning or
    cluster size (contrast df.sample, whose RNG is partition-dependent),
    and a pure map-side filter — pushes to the scan, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    bucket = _hash48(F.col("doc_id").cast("string")) % SAMPLE_MOD
    return docs.filter(bucket < SAMPLE_PCT).select(
        "doc_id", "source", "lang", "n_chars"
    )


def sample_stratified(spark, sf_dir):
    """Stratified deterministic sampling: per-language keep-rates
    (downsample 'en', keep more of the rest), reported as per-stratum
    totals so the allocation itself is the checked result. Map-side
    filter + one tiny keyed aggregation."""
    docs = load(spark, sf_dir, "documents")
    bucket = _hash48(F.col("doc_id").cast("string")) % SAMPLE_MOD
    rate = F.when(F.col("lang") == "en", F.lit(STRAT_PCT_EN)).otherwise(
        F.lit(STRAT_PCT_OTHER)
    )
    # a NULL doc_id hashes to a NULL bucket: define it NOT SAMPLED
    # (0), matching the oracle's CASE (NULL < rate is false there) — a
    # bare cast left it NULL, so a stratum whose ids were ALL NULL
    # summed to NULL instead of 0 (r16 compound sweep)
    return (
        docs.withColumn(
            "sampled", F.coalesce((bucket < rate).cast("bigint"), F.lit(0))
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("sampled").alias("n_sampled"),
        )
        .withColumn(
            "sample_frac", F.round(F.col("n_sampled") / F.col("n_total"), 6)
        )
        .orderBy("lang")
    )


def sample_topk_per_source(spark, sf_dir):
    """Pseudo-reservoir: the RESERVOIR_K deterministic 'random' docs per
    source — rank by (hash, doc_id) inside each source and keep the top
    K. One keyed window; at scale this is the standard distributed
    reservoir replacement (rank-by-hash instead of stateful reservoir)."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    h = _hash48(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source", h.alias("sample_key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("doc_id", "source", "sample_key", F.col("rk").cast("bigint").alias("rk"))
    )


# ---------------------------------------------------------- sequence packing


def pack_nextfit_per_source(spark, sf_dir):
    """Next-fit sequence packing: walk each source's docs in doc_id order,
    appending to the current bin until the PACK_CAP token capacity would
    overflow, then open a new bin. The recurrence is prefix-dependent
    (fill resets on overflow), so it is not window-expressible; the
    distributed shape is grouped-map pandas — sequential inside a group,
    parallel across groups, groups bounded by per-source corpus size.
    The oracle is a recursive CTE walking the same order."""
    docs = load(spark, sf_dir, "documents")
    # NULL text counts as zero tokens (regexp_count(NULL) is NULL, which
    # would otherwise poison the fill recurrence on both engines)
    toks = docs.select(
        "doc_id",
        "source",
        F.coalesce(
            F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint"),
            F.lit(0),
        ).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # Spark orders NULL doc_ids FIRST; pandas defaults NaN to last.
        # n_tokens tiebreak: several NULL-doc_id rows in one source must
        # walk in a deterministic order or fill/bin assignments drift
        # (equal keys AND equal token counts pack identically either way)
        pdf = pdf.sort_values(
            ["doc_id", "n_tokens"], na_position="first"
        ).reset_index(drop=True)
        bins = []
        fill = 0
        b = 0
        first = True
        for tk in pdf["n_tokens"]:
            tk = int(tk)
            if not first and fill + tk > PACK_CAP:
                b += 1
                fill = 0
            first = False
            fill += tk
            bins.append(b)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf[["doc_id", "source", "n_tokens", "bin_id"]]

    return toks.groupBy("source").applyInPandas(
        pack, "doc_id BIGINT, source STRING, n_tokens BIGINT, bin_id BIGINT"
    )


def pack_cumsum_bins(spark, sf_dir):
    """Split-allowed packing (pack-then-slice): bin = floor(prefix-token
    count / capacity) over doc_id order per source. The streaming-concat
    formulation used when documents may straddle bin boundaries; unlike
    next-fit it is a pure window cumsum — one keyed sort, no pandas."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    # NULL text = zero tokens (same rule as pack_nextfit_per_source)
    n_tokens = F.coalesce(
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint"), F.lit(0)
    )
    # n_tokens tiebreak for NULL-doc_id ties (same rule as next-fit)
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "n_tokens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_start")
    return toks.select(
        "doc_id",
        "source",
        "n_tokens",
        start,
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_CAP)
        .cast("bigint")
        .alias("bin_id"),
    )


# ------------------------------------------------------------- block dedup


def dedup_block_exact(spark, sf_dir):
    """C4-style duplicated-span detection at BLOCK_W-word granularity:
    hash each non-overlapping 10-word block, emit blocks occurring in
    more than one document with their spread and representative doc.
    Plan: map-only block hashing (per-row array expressions), one explode,
    one keyed aggregation on the 48-bit block hash — the shuffle ships
    (hash, doc_id) pairs only, never text, so the shape holds at corpus
    scale."""
    docs = load(spark, sf_dir, "documents")
    docs = rebalance_narrow_scan(docs, spark)
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_blocks = F.floor(F.size(words) / BLOCK_W).cast("int")
    blocks = F.when(
        n_blocks > 0,
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(words, i * BLOCK_W + 1, BLOCK_W)
            ),
        ),
    )
    exploded = docs.select(
        "doc_id", F.explode(blocks).alias("block")
    ).select("doc_id", _hash48(F.col("block")).alias("block_hash"))
    return (
        exploded.groupBy("block_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("rep_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _sql_block_dedup() -> str:
    return rf"""WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
),
blocks AS (
  SELECT doc_id,
         array_to_string(ws[i * {BLOCK_W} + 1 : i * {BLOCK_W} + {BLOCK_W}], ' ') AS block
  FROM w, UNNEST(range(0, CAST(floor(len(ws) / {BLOCK_W}) AS BIGINT))) AS t(i)
),
hashed AS (
  SELECT doc_id, {_sql_hash48('block')} AS block_hash FROM blocks
)
SELECT block_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences,
       MIN(doc_id) AS rep_doc
FROM hashed
GROUP BY block_hash
HAVING COUNT(DISTINCT doc_id) > 1"""


# ------------------------------------------------------------ contamination


def contamination_ngram(spark, sf_dir):
    """Benchmark-contamination scoring: treat source 'src0' as the
    held-out eval set; for every train doc, the fraction of its distinct
    word 3-grams that appear anywhere in eval. The eval gram set is tiny
    relative to the corpus, so the overlap is a broadcast hash join on
    the gram hash — per-doc work never touches other train docs (no
    all-pairs). This is the standard n-gram decontamination pass (GPT-3
    appendix C / PaLM-style) as one declarative plan.

    Per-doc scores need an identity (the simhash rule): NULL doc_ids
    would merge into one pseudo-doc whose n_grams this plan counts with
    per-ROW dedup only, while the oracle's cross-doc DISTINCT (doc_id,
    source, gh) collapses repeats across the merged group (3583 vs 3571
    at 30% NULL density, NULLHEAVY_r15) — both engines drop NULL ids at
    the scan, before the eval/train split, so the eval gram set and the
    per-doc scores stay in lockstep."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    docs = rebalance_narrow_scan(docs, spark)
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # hash each gram inside the transform and dedup the HASHES (not the gram
    # strings) so the per-doc distinct matches the oracle's post-hash DISTINCT
    # exactly even under a 48-bit collision within one doc; still map-side
    grams = F.when(
        F.size(words) >= CONTAM_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - CONTAM_N),
                lambda i: _hash48(
                    F.concat_ws(
                        " ",
                        F.element_at(words, i + 1),
                        F.element_at(words, i + 2),
                        F.element_at(words, i + 3),
                    )
                ),
            )
        ),
    )
    g = docs.select("doc_id", "source", F.explode(grams).alias("gh"))
    eval_grams = (
        g.filter(F.col("source") == "src0").select("gh").distinct()
    ).withColumn("in_eval", F.lit(1))
    train = g.filter(F.col("source") != "src0")
    return (
        train.join(F.broadcast(eval_grams), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("in_eval"), F.lit(0))).alias("n_shared"),
        )
        .withColumn(
            "contam_frac", F.round(F.col("n_shared") / F.col("n_grams"), 6)
        )
    )


def _sql_contamination() -> str:
    return rf"""WITH w AS (
  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents WHERE doc_id IS NOT NULL
),
grams AS (
  SELECT DISTINCT doc_id, source,
         {_sql_hash48(f"ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]")} AS gh
  FROM w, UNNEST(range(0, len(ws) - {CONTAM_N - 1})) AS t(i)
  WHERE len(ws) >= {CONTAM_N}
),
ev AS (SELECT DISTINCT gh FROM grams WHERE source = 'src0')
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       ROUND(SUM(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 6)
         AS contam_frac
FROM grams g LEFT JOIN ev ON g.gh = ev.gh
WHERE g.source <> 'src0'
GROUP BY g.doc_id"""


# ---------------------------------------------------------- text normalize


def text_normalize(spark, sf_dir):
    """Canonical text normalization for hashing/dedup keys: strip control
    characters, collapse whitespace runs, trim, lowercase — emitted with
    a changed flag so downstream stages can skip already-canonical rows.
    Pure map expressions, whole-stage codegen end-to-end."""
    docs = load(spark, sf_dir, "documents")
    s = F.regexp_replace(F.col("text"), r"[\x00-\x1f\x7f]", " ")
    s = F.lower(F.trim(F.regexp_replace(s, r"\s+", " ")))
    return docs.select(
        "doc_id",
        s.alias("norm_text"),
        (s != F.col("text")).cast("bigint").alias("changed"),
    )


# ------------------------------------------------------ embedding compression


def vector_quantize_int8(spark, sf_dir):
    """Symmetric int8 scalar quantization: per-vector scale 127/max|v|,
    code_i = round(v_i * scale) — round-to-nearest (half away from zero
    in both engines), the standard symmetric quantizer. 4× memory
    reduction for the ANN recall path; exploded to (vec_id, pos, code)
    rows for the oracle hash. The scale is a per-row sequential double
    computation — deterministic in both engines (see _util docstring)."""
    emb = load(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(vd, lambda x: F.abs(x)))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    codes = F.transform(
        F.col("v"), lambda x: F.round(x * F.col("scale")).cast("bigint")
    )
    return (
        emb.select("vec_id", vd.alias("v"), scale.alias("scale"))
        .select("vec_id", "scale", F.posexplode(codes).alias("pos", "code"))
        .select(
            "vec_id",
            F.col("pos").cast("bigint").alias("pos"),
            "code",
            F.round(F.col("scale"), 6).alias("scale_r"),
        )
    )


def _sql_quantize_int8() -> str:
    return """WITH s AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
              THEN 127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
              ELSE 0.0 END AS scale
  FROM embeddings
)
SELECT vec_id,
       CAST(i AS BIGINT) AS pos,
       CAST(round(v[i + 1] * scale) AS BIGINT) AS code,
       ROUND(scale, 6) AS scale_r
FROM s, UNNEST(range(0, len(v))) AS t(i)"""


def mix_source_weights(spark, sf_dir):
    """Static domain-mixing weights (Pile/DoReMi-style): given a target
    mixture over sources (here proportional to source index + 1, a
    deterministic stand-in for a hand-tuned mixture), compute each
    source's keep probability min(1, target_share x total / n_docs) —
    the map-side downsampling rate a mixing pass applies per source.
    One tiny keyed agg (|sources| rows) + unpartitioned window sums
    over that tiny frame; nothing corpus-sized shuffles twice."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .withColumn(
            "target_w", F.substring("source", 4, 10).cast("bigint") + 1
        )
    )
    w = Window.partitionBy()
    share = F.col("target_w") / F.sum("target_w").over(w)
    keep = F.round(
        F.least(
            F.lit(1.0), share * F.sum("n_docs").over(w) / F.col("n_docs")
        ),
        6,
    )
    return counts.select(
        "source",
        "n_docs",
        "target_w",
        keep.alias("keep_prob"),
        F.floor(keep * F.col("n_docs")).cast("bigint").alias("exp_docs"),
    )


def _sql_mix() -> str:
    from ._util import sql_str_to_bigint

    # sql_str_to_bigint mirrors Spark's truncating string→BIGINT cast
    # (DuckDB TRY_CAST would round a fractional suffix; identity on the
    # clean all-integer source suffixes)
    return f"""WITH c AS (
  SELECT source, COUNT(*) AS n_docs,
         {sql_str_to_bigint("substring(source, 4)")} + 1 AS target_w
  FROM documents GROUP BY 1
)
SELECT source, n_docs, target_w,
       ROUND(LEAST(1.0, (CAST(target_w AS DOUBLE) / SUM(target_w) OVER ())
                        * SUM(n_docs) OVER () / n_docs), 6) AS keep_prob,
       CAST(floor(ROUND(LEAST(1.0, (CAST(target_w AS DOUBLE) / SUM(target_w) OVER ())
                        * SUM(n_docs) OVER () / n_docs), 6) * n_docs) AS BIGINT)
         AS exp_docs
FROM c"""


def split_train_val_test(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment: the split key is
    md5(doc_id) mod 100, so membership is stable under any partitioning,
    cluster size, or re-run — the property that keeps eval sets fixed
    while a 100 TB corpus is reprocessed. Emitted as per-(source, split)
    counts so the whole allocation is the checked result; the assignment
    itself is a pure map expression that fuses into the scan."""
    docs = load(spark, sf_dir, "documents")
    bucket = _hash48(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


def _sql_split() -> str:
    bucket = f"{_sql_hash48('CAST(doc_id AS VARCHAR)')} % 100"
    return f"""SELECT source,
       CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {bucket} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2"""


def text_embed_hash(spark, sf_dir):
    """V2 embedding generation, model-free tier: the feature-hashing
    trick (Weinberger et al. 2009) as one declarative plan. Each word
    hashes to one of EMBED_DIM buckets with a ±1 sign from a second
    hash bit; per-doc bucket sums are L2-normalized. Output is the
    sparse (doc_id, bucket, raw, weight) form — exact engine/oracle
    agreement because bucket sums are integer arithmetic and the
    normalize is one correctly-rounded IEEE sqrt + divide.

    Scale shape: explode → one keyed shuffle on (doc_id, bucket) with
    map-side partial sums, then a window co-keyed on doc_id. No Python,
    no all-pairs; the model tier (classify.embed_texts via mapInPandas)
    plugs into the same downstream schema when sentence-transformers
    is importable (reference assets/rag/process_text_chunks.py:62-68).
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    docs = rebalance_narrow_scan(docs, spark)
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    w = docs.select("doc_id", F.explode(words).alias("w")).filter(
        F.col("w") != ""
    )
    feat = w.select(
        "doc_id",
        (_hash48(F.col("w")) % EMBED_DIM).alias("bucket"),
        F.when(
            _hash48(F.concat(F.lit("#"), F.col("w"))) % 2 == 0, F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    raw = feat.groupBy("doc_id", "bucket").agg(F.sum("sgn").alias("raw"))
    sumsq = F.sum(F.col("raw") * F.col("raw")).over(Window.partitionBy("doc_id"))
    # zero-norm guard: a doc whose bucket sums all cancel to 0 would hit
    # 0/0, where Spark and DuckDB disagree (NULL vs NaN) — emit 0.0
    weight = F.when(
        sumsq > 0, F.round(F.col("raw") / F.sqrt(sumsq), 6)
    ).otherwise(F.lit(0.0))
    return raw.select(
        "doc_id",
        "bucket",
        F.col("raw").cast("bigint").alias("raw"),
        weight.alias("weight"),
    )


def _sql_embed_hash() -> str:
    word_hash = _sql_hash48("w")
    sign_hash = _sql_hash48("'#' || w")
    return rf"""WITH w AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS w
    FROM documents)
  WHERE w <> ''
),
feat AS (
  SELECT doc_id, {word_hash} % {EMBED_DIM} AS bucket,
         CASE WHEN {sign_hash} % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM w
),
raw AS (SELECT doc_id, bucket, SUM(sgn) AS raw FROM feat GROUP BY 1, 2),
normed AS (
  SELECT doc_id, bucket, raw,
         SUM(raw * raw) OVER (PARTITION BY doc_id) AS sumsq
  FROM raw
)
SELECT doc_id, bucket, CAST(raw AS BIGINT) AS raw,
       CASE WHEN sumsq > 0 THEN ROUND(raw / sqrt(sumsq), 6)
            ELSE 0.0 END AS weight
FROM normed"""


def vector_quantize_binary(spark, sf_dir):
    """Binary quantization: 1 bit per dimension (sign), packed into two
    32-bit halves — 64 dims → 8 bytes, the Hamming-distance candidate
    representation vector stores use before exact rerank. Packing is a
    per-row fold (aggregate over a 32-step sequence); no shuffle at all."""
    emb = load(spark, sf_dir, "embeddings")

    def pack(offset):
        # SQL-expression form: the Python-API shiftleft only takes a
        # literal shift amount, the SQL builtin accepts the fold variable
        return F.expr(
            "aggregate(sequence(0, 31), cast(0 as bigint), (acc, i) -> "
            f"acc + IF(element_at(embedding, i + {offset} + 1) > 0, "
            "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"
        )

    return emb.select(
        "vec_id",
        pack(0).alias("code_lo"),
        pack(32).alias("code_hi"),
    )


def _sql_quantize_binary() -> str:
    half = (
        "list_sum(list_transform(range(0, 32), "
        "i -> CASE WHEN embedding[i + {off} + 1] > 0 "
        "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))"
    )
    return (
        "SELECT vec_id, "
        f"CAST({half.format(off=0)} AS BIGINT) AS code_lo, "
        f"CAST({half.format(off=32)} AS BIGINT) AS code_hi "
        "FROM embeddings"
    )


# ------------------------------------------------------------- histograms


def text_token_histogram(spark, sf_dir):
    """Token-length histogram in HIST_W-token buckets with corpus share —
    the shard-planning profile (how many docs land in each context-length
    band). Map + one tiny aggregation."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint")
    bucket = (F.floor(n_tokens / HIST_W) * HIST_W).cast("bigint")
    agg = docs.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("n_docs")
    )
    total = agg.select(F.sum("n_docs").alias("t"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_docs",
            F.round(F.col("n_docs") / F.col("t"), 6).alias("share"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------- block-rewrite dedup (r6)


def dedup_block_rewrite(spark, sf_dir):
    """Exact-substring deduplication WITH document rewriting (the Lee
    et al. deduplicate-text-datasets semantics at BLOCK_W-word
    granularity): every duplicated 10-word block keeps only its first
    global occurrence (ordered by doc_id, then block position); all
    later occurrences are cut and the surviving blocks plus the <10-word
    tail reassemble into the cleaned text.

    Plan shape for 100 TB: map-only block split, ONE shuffle keyed on
    the 48-bit block hash for the first-occurrence rank, one keyed
    re-aggregation per doc to reassemble — text travels exactly twice
    (to the rank, back to the doc), never through a self-join."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_blocks = F.floor(F.size(words) / BLOCK_W).cast("int")
    tail = F.concat_ws(
        " ", F.slice(words, n_blocks * BLOCK_W + 1, F.size(words) - n_blocks * BLOCK_W)
    )
    base = docs.select(
        "doc_id", words.alias("ws"), n_blocks.alias("nb"), tail.alias("tail")
    )
    blocks = base.filter(F.col("nb") > 0).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("nb") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i * BLOCK_W + 1, BLOCK_W)),
            )
        ).alias("idx", "block"),
    ).withColumn("block_hash", _hash48(F.col("block")))
    w = W.partitionBy("block_hash").orderBy("doc_id", "idx")
    kept = (
        blocks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_sort(F.collect_list(F.struct("idx", "block"))).alias("kb"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.concat_ws(" ", F.transform("kb", lambda s: s["block"])).alias("kept_text"),
        )
    )
    return (
        base.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.col("nb").cast("bigint").alias("n_blocks"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.filter(
                    F.array(F.col("kept_text"), F.col("tail")),
                    lambda x: x.isNotNull() & (x != ""),
                ),
            ).alias("clean_text"),
        )
    )


MIN_KEEP_CHARS = 200  # quality floor shared with the filter family


def corpus_pipeline_summary(spark, sf_dir):
    """The training-corpus pipeline as ONE declarative plan — exact dedup
    (keep-first by content fingerprint) → quality floor → deterministic
    train/val/test assignment → per-split accounting. Each stage is an
    operator the registry also exposes standalone; composed, Catalyst
    fuses the fingerprint, the quality predicate, and the split key into
    a single scan projection, and the only shuffles are the dedup
    groupBy(fingerprint) and the final 3-row rollup. This is the shape a
    100 TB curation run actually executes: content hashes and doc ids
    shuffle, text never moves after the scan."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    with_fp = docs.select(
        "doc_id",
        "n_chars",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("bigint").alias("n_words"),
        F.md5(norm).alias("fp"),
    )
    keep_first = with_fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = with_fp.join(keep_first, ["fp", "doc_id"], "left_semi")
    kept = deduped.filter(F.col("n_chars") >= MIN_KEEP_CHARS)
    bucket = _hash48(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    # totals sum through decimal(38,0), then narrow with try_cast:
    # Spark's long SUM wraps silently on overflow (Java +) — with a
    # corrupt extreme n_chars the wrapped total is a plausible-looking
    # WRONG number. decimal(38,0) cannot overflow on any feasible row
    # count, and try_cast yields NULL when the total is out of bigint
    # range (defined, detectable) — mirrored by TRY_CAST in the oracle.
    # try_cast, not cast: under this engine's non-ANSI sessions a plain
    # decimal→bigint cast WRAPS (Decimal.toLong), and under ANSI it
    # throws; try_cast is NULL-on-overflow in both modes. Exact and
    # identical on every in-range total (extreme-BIGINT axis find).
    return (
        kept.select(split.alias("split"), "n_chars", "n_words")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(38,0)"))
            .try_cast("bigint")
            .alias("total_chars"),
            F.sum(F.col("n_words").cast("decimal(38,0)"))
            .try_cast("bigint")
            .alias("total_words"),
        )
    )


def register(reg):
    reg.add(
        "sample_hash_bucket",
        sample_hash_bucket,
        f"SELECT doc_id, source, lang, n_chars FROM documents "
        f"WHERE {_sql_hash48('CAST(doc_id AS VARCHAR)')} % {SAMPLE_MOD} < {SAMPLE_PCT}",
    )
    reg.add(
        "sample_stratified",
        sample_stratified,
        f"""SELECT lang, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN {_sql_hash48('CAST(doc_id AS VARCHAR)')} % {SAMPLE_MOD}
                     < CASE WHEN lang = 'en' THEN {STRAT_PCT_EN} ELSE {STRAT_PCT_OTHER} END
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       ROUND(SUM(CASE WHEN {_sql_hash48('CAST(doc_id AS VARCHAR)')} % {SAMPLE_MOD}
                     < CASE WHEN lang = 'en' THEN {STRAT_PCT_EN} ELSE {STRAT_PCT_OTHER} END
                THEN 1 ELSE 0 END) / COUNT(*), 6) AS sample_frac
FROM documents GROUP BY lang ORDER BY lang""",
    )
    reg.add(
        "sample_topk_per_source",
        sample_topk_per_source,
        f"""SELECT doc_id, source, sample_key, rk FROM (
  SELECT doc_id, source,
         {_sql_hash48('CAST(doc_id AS VARCHAR)')} AS sample_key,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_sql_hash48('CAST(doc_id AS VARCHAR)')}, doc_id)
           AS rk
  FROM documents) t WHERE rk <= {RESERVOIR_K}""",
    )
    reg.add(
        "pack_nextfit_per_source",
        pack_nextfit_per_source,
        rf"""WITH RECURSIVE toks AS (
  SELECT doc_id, source,
         COALESCE(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT), 0)
           AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY doc_id, n_tokens) AS rn
  FROM documents
),
packed AS (
  SELECT source, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.fill + t.n_tokens > {PACK_CAP} THEN p.bin_id + 1
              ELSE p.bin_id END,
         CASE WHEN p.fill + t.n_tokens > {PACK_CAP} THEN t.n_tokens
              ELSE p.fill + t.n_tokens END
  FROM packed p JOIN toks t
    ON t.source IS NOT DISTINCT FROM p.source AND t.rn = p.rn + 1
)
SELECT doc_id, source, n_tokens, bin_id FROM packed""",
    )
    reg.add(
        "pack_cumsum_bins",
        pack_cumsum_bins,
        rf"""SELECT doc_id, source, n_tokens,
       CAST(SUM(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_start,
       CAST(floor((SUM(n_tokens) OVER w - n_tokens) / {PACK_CAP}) AS BIGINT) AS bin_id
FROM (SELECT doc_id, source,
             COALESCE(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT), 0)
               AS n_tokens
      FROM documents) t
WINDOW w AS (PARTITION BY source ORDER BY doc_id, n_tokens
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    )
    reg.add("dedup_block_exact", dedup_block_exact, _sql_block_dedup())
    reg.add("contamination_ngram", contamination_ngram, _sql_contamination())
    reg.add(
        "text_normalize",
        text_normalize,
        r"""SELECT doc_id,
       lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
                                 '\s+', ' ', 'g'))) AS norm_text,
       CAST(lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
                                      '\s+', ' ', 'g'))) <> text AS BIGINT) AS changed
FROM documents""",
    )
    reg.add("split_train_val_test", split_train_val_test, _sql_split())
    reg.add("mix_source_weights", mix_source_weights, _sql_mix())
    reg.add("text_embed_hash", text_embed_hash, _sql_embed_hash())
    reg.add("vector_quantize_int8", vector_quantize_int8, _sql_quantize_int8())
    reg.add("vector_quantize_binary", vector_quantize_binary, _sql_quantize_binary())
    reg.add(
        "text_token_histogram",
        text_token_histogram,
        rf"""SELECT CAST(floor(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
                        / {HIST_W}) * {HIST_W} AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       ROUND(COUNT(*) / (SELECT COUNT(*) FROM documents), 6) AS share
FROM documents GROUP BY 1 ORDER BY bucket""",
    )
    # rewriting exact-substring dedup
    reg.add(
        "dedup_block_rewrite",
        dedup_block_rewrite,
        rf"""WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws,
         CAST(floor(len(string_split_regex(lower(trim(text)), '\s+'))
              / {BLOCK_W}) AS INT) AS nb
  FROM documents
),
based AS (
  SELECT doc_id, ws, nb,
         COALESCE(array_to_string(ws[nb * {BLOCK_W} + 1 : len(ws)], ' '), '') AS tail
  FROM base
),
blocks AS (
  SELECT doc_id, i AS idx,
         array_to_string(ws[i * {BLOCK_W} + 1 : (i + 1) * {BLOCK_W}], ' ') AS block
  FROM based, UNNEST(range(0, nb)) AS t(i)
),
ranked AS (
  SELECT doc_id, idx, block,
         ROW_NUMBER() OVER (PARTITION BY {_sql_hash48('block')}
                            ORDER BY doc_id, idx) AS rn
  FROM blocks
),
kept AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(block, ' ' ORDER BY idx) AS kept_text
  FROM ranked WHERE rn = 1 GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.nb AS BIGINT) AS n_blocks,
       COALESCE(k.n_kept, 0) AS n_kept,
       CASE
         WHEN k.kept_text IS NOT NULL AND b.tail <> ''
           THEN k.kept_text || ' ' || b.tail
         WHEN k.kept_text IS NOT NULL THEN k.kept_text
         ELSE b.tail
       END AS clean_text
FROM based b LEFT JOIN kept k ON b.doc_id = k.doc_id""",
    )
    # composed pipeline
    bucket = f"{_sql_hash48('CAST(doc_id AS VARCHAR)')} % 100"
    reg.add(
        "pipeline_corpus_summary",
        corpus_pipeline_summary,
        rf"""WITH with_fp AS (
  SELECT doc_id, n_chars,
         len(regexp_extract_all(text, '\S+')) AS n_words,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM documents
),
keep_first AS (SELECT fp, MIN(doc_id) AS doc_id FROM with_fp GROUP BY fp),
deduped AS (SELECT w.* FROM with_fp w
            JOIN keep_first k ON w.fp = k.fp AND w.doc_id = k.doc_id),
kept AS (SELECT * FROM deduped WHERE n_chars >= {MIN_KEEP_CHARS})
SELECT CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {bucket} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       TRY_CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       TRY_CAST(SUM(n_words) AS BIGINT) AS total_words
FROM kept GROUP BY 1""",
    )
