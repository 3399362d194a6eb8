"""Deduplication operators — exact + near-duplicate
(SURVEY §2.5 A6/A7, §2.11 U3; training-data-pipeline dedup family:
exact hash, MinHash, SimHash, n-gram Jaccard).

Scale posture: every variant is a shuffle-on-key aggregation or an
equi-join on a signature — never an n² comparison. MinHash/SimHash use
md5-derived hash values so the DuckDB oracle reproduces them bit-for-bit
(Spark's xxhash64 seeds differ from DuckDB's hash — md5 is the portable
choice; at production scale you'd swap in xxhash64 for speed, the plan
shape is identical).
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ..io import load
from ._util import corpus_checkpoint, rebalance_narrow_scan

N_MINHASH = 8  # signature length
SHINGLE_N = 3  # word n-gram size


def exact_keep_first(spark, sf_dir):
    """A6: exact dedup, first-wins — group by content, keep the smallest id
    (ref: resources/refine/dedupe.py:97-103 — BLAKE2b hash of bytes, first
    path wins; here content equality is keyed directly, hash below)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    ).select("keeper_id", "n_copies")


def duplicate_stats(spark, sf_dir):
    """A6 counters: duplicates found = count - countDistinct per source
    (ref: dedupe.py:69-107 duplicate counting)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("total"),
        F.countDistinct("text").alias("distinct_texts"),
        (F.count("*") - F.countDistinct("text")).alias("n_duplicates"),
    )


def exact_hash_dedup(spark, sf_dir):
    """A7: content-hash dedup of the record table — md5 content address,
    keep first id per hash (ref: dedupe.py:31-43 streaming BLAKE2b; md5 here
    for oracle portability — same plan with any hash)."""
    docs = load(spark, sf_dir, "documents")
    norm = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    return (
        docs.select("doc_id", norm.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_id"))
    )


def _split_words(text_col):
    """The canonical whitespace word split shared by the shingle paths."""
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def _shingles_from_words(words):
    """Distinct word 3-gram shingles from a PRE-MATERIALIZED words array
    column. r19 (guide §1.2 per-task work): call sites project the words
    array in its OWN select first — in the single-projection form every
    reference to `words` (the size guard, the sequence bound, 3
    element_at per transform element) re-evaluates the regex split,
    and CollapseProject's expensive-expression guard (SPARK-36718) is
    what makes the two-step select keep it evaluated once. Measured at
    sf0.1: shingle stage 0.65 s -> 0.14 s, full minhash signature
    pipeline 0.94 s -> 0.41 s.

    Docs with fewer than SHINGLE_N words yield NULL (→ zero rows after
    explode). Without the guard, concat_ws would skip the NULL element_at
    results and emit a short pseudo-shingle ('w1 w2') while the SQL
    oracle's || propagates NULL and drops the row — a parity break for
    1-2-word docs."""
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - SHINGLE_N, F.lit(0))),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
                F.element_at(words, i + 3),
            ),
        )
    )
    return F.when(F.size(words) >= SHINGLE_N, shingles)


# affine-permutation constants for h_j(x) = (A_j * x + B_j) mod P — the
# classic universal-hash MinHash family; x < 2^48 (12 hex chars) and
# A_j ≤ 17 keep A*x + B < 2^53, safely inside bigint for both engines
MINHASH_P = (1 << 61) - 1  # Mersenne prime
MINHASH_A = tuple(2 * k + 1 for k in range(1, N_MINHASH + 1))  # odd, nonzero
MINHASH_B = tuple(7919 * (k + 1) for k in range(N_MINHASH))


def minhash_base48(col):
    """48-bit md5 base hash (x < 2^48 << P, so no second mod) — THE
    per-shingle hash minhash_signatures feeds the affine family; factored
    out so parity tests exercise the production expression, not a copy."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def minhash_affine(x, j: int):
    """h_j(x) = (A_j·x + B_j) mod P for permutation j."""
    return (x * F.lit(MINHASH_A[j]) + F.lit(MINHASH_B[j])) % F.lit(MINHASH_P)


def minhash_signatures(spark, sf_dir):
    """MinHash signatures, standard construction: base hash per shingle
    x = md5[0:12 bytes] as bigint mod P, then N_MINHASH affine
    permutations h_j(x) = (A_j*x + B_j) mod P; sig[j] = min_j over
    shingles. ONE md5 per shingle (not per shingle×band) + cheap integer
    arithmetic per band; ONE explode + ONE groupBy(doc_id) whose partial
    aggregation ships only 8 longs per doc across the shuffle. At 100 TB:
    a scan stage + one keyed exchange of fixed-width signatures."""
    docs = load(spark, sf_dir, "documents")
    docs = rebalance_narrow_scan(docs, spark)
    shingled = (
        docs.select("doc_id", _split_words(F.col("text")).alias("w"))
        .select("doc_id", F.explode(_shingles_from_words(F.col("w"))).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )
    hashed = shingled.select(
        "doc_id", minhash_base48(F.col("shingle")).alias("x")
    )
    wide = hashed.groupBy("doc_id").agg(
        *[
            F.min(minhash_affine(F.col("x"), j)).alias(f"h{j}")
            for j in range(N_MINHASH)
        ]
    )
    return wide.select(
        "doc_id",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("bigint").alias("j"),
                        F.col(f"h{j}").cast("bigint").alias("minhash"),
                    )
                    for j in range(N_MINHASH)
                ]
            )
        ),
    )


MAX_BUCKET_MEMBERS = 4096  # pair cap per bucket: m(m-1)/2 ≈ 8.4M at 4096


def oversize_buckets(buckets, members_col: str, max_members: int = MAX_BUCKET_MEMBERS):
    """The buckets _bucket_pairs would drop: key columns + member count.
    Pipelines that want an audit trail count/log this frame alongside the
    pair output so the guard is never a silent truncation."""
    return buckets.filter(F.size(members_col) > max_members).select(
        *[c for c in buckets.columns if c != members_col],
        F.size(members_col).alias("n_members"),
    )


def _bucket_pairs(
    buckets,
    members_col: str,
    max_members: int = MAX_BUCKET_MEMBERS,
    observation=None,
):
    """Within-bucket ordered pairs (members sorted ⇒ first < second) via a
    TWO-STEP explode: posexplode the members, then explode each member's
    suffix slice. Output is identical to flatten(transform(...)) of the
    full pair array, but no single value ever materializes the O(m²)
    pairs — a degenerate bucket (e.g. thousands of near-identical
    templated docs sharing a band value) stays at O(m) per row instead of
    an OOM-sized array. The pair stream then feeds spillable aggregation.

    Degenerate-bucket guard: buckets with more than `max_members` members
    are excluded BEFORE pair expansion, so a pathological corpus (millions
    of identical templated docs surviving exact dedup) cannot emit
    quadratic pair output. The drop is observable, not silent: pass a
    pyspark.sql.Observation as `observation` to receive
    (n_dropped_buckets, n_dropped_members) when the query finishes, or
    audit with oversize_buckets() on the same bucket frame.
    Emits columns (_x, _y)."""
    if observation is not None:
        buckets = buckets.observe(
            observation,
            F.sum(
                F.when(F.size(members_col) > max_members, 1).otherwise(0)
            ).alias("n_dropped_buckets"),
            F.sum(
                F.when(F.size(members_col) > max_members, F.size(members_col)).otherwise(0)
            ).alias("n_dropped_members"),
        )
    step = buckets.filter(F.size(members_col) <= max_members).select(
        F.posexplode(members_col).alias("_i", "_x"),
        F.col(members_col).alias("_m"),
    )
    suffix = F.slice(
        F.col("_m"),
        F.col("_i") + F.lit(2),
        F.greatest(F.size("_m") - F.col("_i") - 1, F.lit(0)),
    )
    return step.select(F.col("_x"), F.explode(suffix).alias("_y"))


def minhash_near_dup_pairs(spark, sf_dir, *, observation=None):
    """Near-duplicate candidate pairs via MinHash: pairs sharing ≥1 signature
    position (LSH with band size 1), scored by the fraction of matching
    positions (unbiased Jaccard estimate). Formulated as ONE pass: group by
    LSH bucket (j, minhash), collect the sorted member ids, explode the
    within-bucket pairs — identical output to a self-join on the bucket key
    but the expensive shingle→hash→signature subtree is computed ONCE
    (a self-join would run it once per side: no ReusedExchange under a
    broadcast join). Cost follows collision count, not n²; production
    pipelines collapse exact duplicates (dedup_exact_hash) first so
    duplicate clusters don't inflate the (inherently quadratic-per-cluster)
    pair output.

    The pair stream is the one quantity here that is inherently
    output-bound (~density² per bucket; measured 8.9× pairs per 3× rows
    at sf3, SCALE_r10.json) — pass a pyspark.sql.Observation as
    `observation` to receive `n_candidate_pairs` when the query
    finishes, so a production run sees the blow-up as a counter before
    it sees a straining shuffle."""
    sigs = minhash_signatures(spark, sf_dir)
    buckets = (
        sigs.groupBy("j", "minhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_stream = _bucket_pairs(buckets, "ids")
    if observation is not None:
        pair_stream = pair_stream.observe(
            observation, F.count(F.lit(1)).alias("n_candidate_pairs")
        )
    return (
        pair_stream
        .groupBy(F.col("_x").alias("doc_a"), F.col("_y").alias("doc_b"))
        .agg((F.count("*") / F.lit(float(N_MINHASH))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.25)
    )


def ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard for pairs sharing ≥1 shingle within the same
    source (blocking key): |A∩B| from a self-join on shingle, |A∪B| from
    per-doc set sizes. Blocking bounds the join; at 100 TB the block key
    would be an LSH band instead of `source`."""
    docs = load(spark, sf_dir, "documents")
    docs = rebalance_narrow_scan(docs, spark)
    sh = (
        docs.select("doc_id", "source", _split_words(F.col("text")).alias("w"))
        .select(
            "doc_id",
            "source",
            F.explode(_shingles_from_words(F.col("w"))).alias("shingle"),
        )
        .filter(F.length("shingle") > 0)
        .distinct()
    )
    # r19 (guide §5): the distinct shingle stream feeds BOTH the per-doc
    # set sizes and the blocking buckets; each consumer re-ran the
    # scan + split + shingle + distinct shuffle. Lazy checkpoint runs it
    # once (interleaved A/B at sf0.1: 1.84 → 1.45 s median, −21%).
    sh = corpus_checkpoint(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    # one pass over the shingle stream: group by the blocking key, collect
    # sorted members, explode within-bucket ordered pairs (same output as a
    # self-join on (source, shingle) but the explode subtree runs once,
    # not once per join side)
    buckets = (
        sh.groupBy("source", "shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    inter = (
        _bucket_pairs(buckets, "ids")
        .groupBy(F.col("_x").alias("doc_a"), F.col("_y").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )


SIMHASH_BITS = 64  # production width — collisions require real similarity


def simhash_fingerprints(spark, sf_dir):
    """SimHash (64-bit): per distinct word, md5-derived bit votes ±1; the
    sign of each bit-position sum is the fingerprint bit (bit b = bit b%4
    of md5 hex nibble b//4). Bit 63 lands in the sign position — assembled
    as a -2^63 term so the value stays inside bigint two's complement in
    both engines. Near-dups compare by Hamming distance; here we emit the
    fingerprint itself (the groupBy plan is the operator)."""
    # a fingerprint needs an identity: NULL doc_ids would merge into one
    # group where per-doc array_distinct (this plan) and cross-doc
    # DISTINCT (doc_id, word) (the oracle) count repeated words
    # differently
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    docs = rebalance_narrow_scan(docs, spark)
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("word"),
    ).filter(F.length("word") > 0)
    # ONE md5 per word, projected to two 32-bit halves BEFORE the groupBy —
    # the 64 vote aggregates then use integer shifts only (no reliance on
    # common-subexpression elimination across aggregate inputs). Bit b =
    # bit b%4 of hex-nibble b//4, where char c (1-based) of an 8-char half
    # holds nibble (half >> 4*(8-c)) & 15.
    # Adjudicated round 6: packing the 64 vote sums into 22 bigint lanes
    # (3×21-bit one-counts per sum) measured consistently ~10% SLOWER at
    # sf0.1 (pairs best-of-3 2.7-2.9 s vs 2.4-2.6 s unpacked, interleaved
    # A/B) — the cost here is the per-word md5, not aggregate-buffer
    # width, so the straightforward 64-sum form stays.
    # Adjudicated round 9 (VERDICT r8 item 4): hashing each DISTINCT word
    # once and joining the (word → hi, lo) dictionary back to the doc-word
    # pairs — the shape that wins for MinHash — measured ~1.7× SLOWER here
    # (fingerprint job best-of-3 interleaved at sf0.1: 0.39 s inline vs
    # 0.68 s dictionary; identical fingerprints, exceptAll-verified).
    # MinHash amortizes 128 hash evaluations per row through its
    # dictionary; SimHash has exactly one md5 per row, so the added
    # word-key shuffle join (2 exchanges) costs more than it saves.
    # Inline per-occurrence md5 stays.
    h = F.md5(F.col("word"))
    halved = words.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("lo"),
    )
    # r19 (guide §1 — the cost was DRIVER-side): the Column-DSL loops
    # built ~500 Column objects (64 shift/mask/when/sum chains + a
    # 64-deep nested Add for the fingerprint), and every chained
    # DataFrame op re-analyzes the wide plan — measured 2.87 s of
    # CONSTRUCTION per query before any job ran (the execute itself is
    # ~1 s at sf0.1). The same expressions are now rendered as SQL text
    # (one F.expr parse per aggregate, one for the fingerprint); the
    # analyzed plan and results are identical.
    votes = []
    for bpos in range(SIMHASH_BITS):
        char = bpos // 4  # 0-based hex char index
        half = "hi" if char < 8 else "lo"
        shift = 4 * (7 - char % 8) + bpos % 4
        votes.append(
            f"SUM(CASE WHEN (SHIFTRIGHT({half}, {shift}) & 1) = 1 "
            f"THEN 1 ELSE -1 END)"
        )
    # ONE parsed expression for all 64 vote sums (64 separate F.expr
    # calls measured ~1 s of parser round trips on their own): the
    # aggregate buffers are still the 64 individual sums — array() only
    # wraps the RESULT expressions — so partial aggregation is unchanged
    sums = halved.groupBy("doc_id").agg(
        F.expr("array(" + ", ".join(votes) + ")").alias("svec")
    )
    # bit 63's weight is BIGINT MIN — written as (-max - 1) because a
    # bare -9223372036854775808 literal parses as unary minus on an
    # out-of-range bigint (DECIMAL(19,0)), which would widen the sum
    terms = []
    for b in range(SIMHASH_BITS):
        weight = "(-9223372036854775807L - 1L)" if b == 63 else f"{2 ** b}L"
        terms.append(f"(CASE WHEN svec[{b}] > 0 THEN {weight} ELSE 0L END)")
    fp = F.expr(" + ".join(terms))
    return sums.select("doc_id", fp.alias("simhash"))


SIMHASH_BANDS = 4  # 64-bit fingerprint split into 4 16-bit bands
SIMHASH_MAX_HAMMING = 3  # pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 bands equal


def simhash_near_dup_pairs(spark, sf_dir):
    """SimHash near-duplicate pairs: banded blocking (split the 64-bit
    fingerprint into 4 16-bit bands; any pair within Hamming distance 3
    shares at least one band — pigeonhole), then exact Hamming verify with
    bit_count(xor) ≤ 3. Same single-pass shape as the MinHash pairs: ONE
    fingerprint computation, groupBy band bucket → collect → explode
    candidate pairs → distinct → verify. At 100 TB the band join touches
    only colliding buckets — never n²; random 16-bit band collisions are
    1/65536 per band, so bucket sizes track true similarity. The & 65535
    mask after the arithmetic shift discards sign-fill bits, so the
    negative-range fingerprints band correctly."""
    fp = simhash_fingerprints(spark, sf_dir)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", 16 * b)
                        .bitwiseAND(F.lit(65535))
                        .alias("nibble"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.nibble").alias("nibble"))
    buckets = (
        banded.groupBy("band", "nibble")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    pairs = _bucket_pairs(buckets, "members")
    return (
        pairs.select(
            F.col("_x.doc_id").alias("doc_a"),
            F.col("_y.doc_id").alias("doc_b"),
            F.bit_count(F.col("_x.simhash").bitwiseXOR(F.col("_y.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


# ---- oracle SQL fragments shared by the minhash family
# range(0, len-n+1) is empty for len < n, mirroring the size(words) >=
# SHINGLE_N guard in _shingles_from_words — both engines emit zero shingles
# for docs shorter than the n-gram
_SHINGLE_SQL = """
shingles AS (
  SELECT DISTINCT doc_id, source,
         words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3] AS shingle
  FROM (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS words
        FROM documents) w,
       UNNEST(range(0, len(words) - {n} + 1)) AS t(i)
  WHERE words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3] <> ''
)""".format(n=SHINGLE_N)
# base hash x = md5[0:12 hex] as bigint; h_j = (A_j*x + B_j) % P
_PERM_ROWS = ", ".join(
    f"({j}, {MINHASH_A[j]}, {MINHASH_B[j]})" for j in range(N_MINHASH)
)
_HASHED_SQL = f""",
base AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(shingle), 1, 12) AS BIGINT) AS x
  FROM shingles
),
perms(j, a, b) AS (VALUES {_PERM_ROWS}),
sigs AS (
  SELECT doc_id, CAST(j AS BIGINT) AS j,
         MIN((a * x + b) % {MINHASH_P}) AS minhash
  FROM base, perms GROUP BY doc_id, j
)"""


CC_MAX_ITER = 25  # safety bound; pointer jumping needs ~log2(diameter) rounds

# Size-adaptive execution threshold (same decision as a broadcast join and
# bpe.VOCAB_DRIVER_MAX): near-dup edge lists are usually a tiny fraction of
# the corpus — when one limit(MAX+1) job shows the symmetrized edge table
# is driver-sized, label it with an in-process union-find instead of paying
# 3+ job launches per pointer-jumping round. Larger edge sets keep the
# fully-distributed loop below. 1M edges × two longs is ~16 MB.
# r20: raised 1M -> 4M on measurement — the sf1 tier's
# 1.08M-edge graph fell just past the old cap into the distributed loop
# (19 s) where the driver label pass costs ~1 s; 4M edges collect to
# ~64 MB against the 16 GB driver, the same envelope a broadcast join
# accepts. Beyond the cap the fully-distributed pointer-jumping loop
# below is unchanged (the only shape that exists at 100 TB edge counts).
CC_EDGES_DRIVER_MAX = 4_000_000


def _union_find_labels(edge_rows) -> list[tuple[int, int]]:
    """In-driver min-label connected components over collected edges —
    identical output contract to the distributed loop: every node maps to
    the minimum node id reachable from it.

    r20 (guide §1.2 per-task work — here per-driver work): vectorized
    min-label propagation with pointer doubling over dense numpy arrays
    replaces the per-edge Python union-find (measured 3.4 s at 1.1M
    edges; this form is ~20x faster and converges in O(log diameter)
    sweeps). Same fixpoint: labels only ever decrease toward the min
    reachable id, and termination is the exact no-change test.
    tests/test_dedup_guards.py pins equality against the distributed
    loop; test_round20_caches-style property tests pin it against the
    per-edge reference."""
    if not edge_rows:
        return []
    import numpy as np

    a = np.fromiter((e[0] for e in edge_rows), dtype=np.int64, count=len(edge_rows))
    b = np.fromiter((e[1] for e in edge_rows), dtype=np.int64, count=len(edge_rows))
    nodes, labels = _union_find_arrays(a, b)
    return list(zip(nodes.tolist(), labels.tolist()))


def _union_find_arrays(a, b):
    """Core of the driver label pass over dense int64 edge arrays;
    returns (nodes, labels) numpy arrays sorted by node id."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a) :]
    # parent holds the smallest DENSE index known reachable; dense index
    # order == node id order (np.unique sorts), so min over dense
    # indices IS min over node ids
    parent = np.arange(len(nodes), dtype=np.int64)
    while True:
        before = parent
        # relax every edge both ways against the current labels
        p = parent.copy()
        np.minimum.at(p, ai, parent[bi])
        np.minimum.at(p, bi, parent[ai])
        parent = p
        # pointer doubling: adopt the label's label until stable
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        if np.array_equal(parent, before):
            break
    return nodes, nodes[parent]


def connected_components(edges, src: str = "doc_a", dst: str = "doc_b"):
    """Connected components over an undirected pair list: every node gets
    the minimum node id reachable from it as its component label — the
    canonical-document assignment step that turns near-dup PAIRS into
    dedup CLUSTERS (keep doc_id == cluster_id, drop the rest).

    Distributed iterative algorithm, no driver-side graph: each round is
    (1) neighbor-min propagation — a node adopts the smallest label among
    itself and its neighbors (one join + one keyed min-agg), then
    (2) pointer jumping — a node adopts its label's label (labels are
    node ids, so this is a self-join). Jumping collapses chains
    exponentially: a path graph converges in O(log diameter) rounds where
    plain propagation needs O(diameter). Convergence is detected from
    sum(label), which strictly decreases until fixpoint — one scalar
    action per round, no row-level diff join. localCheckpoint truncates
    the lineage each round so the plan doesn't grow unboundedly (at
    cluster scale, use a reliable checkpoint dir instead — same loop).

    The driver loop controls ITERATION only; all data stays distributed
    (the only driver traffic is one aggregate scalar per round).

    Node ids must be integral: both the driver union-find path and the
    distributed path emit (node BIGINT, label BIGINT), and the
    sum(label) convergence scalar needs a numeric domain — so ids are
    normalized to bigint at entry and non-integral id columns are
    rejected loudly rather than silently nulled by a cast."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    integral = (ByteType, ShortType, IntegerType, LongType)
    for c in (src, dst):
        dt = edges.schema[c].dataType
        if not isinstance(dt, integral):
            raise ValueError(
                f"connected_components: id column {c!r} has non-integral "
                f"type {dt.simpleString()}; map ids to bigint first"
            )
    e = edges.select(
        F.col(src).cast("bigint").alias("src"),
        F.col(dst).cast("bigint").alias("dst"),
    )
    # limit(MAX+1) returns the FULL edge list iff it's driver-sized — one
    # job decides the strategy and, on the small path, delivers the data.
    # r20: the round trip is Arrow end to end (toArrow -> numpy label
    # pass -> pandas createDataFrame) — row-pickling a million-edge
    # collect cost multiple seconds on its own. Values are non-null
    # int64 both ways, so the transport is value-exact; a NULL edge id
    # (no upstream produces one) falls back to the row path, which
    # fails loudly exactly as the per-edge form always did.
    head = e.limit(CC_EDGES_DRIVER_MAX + 1).toArrow()
    if head.num_rows <= CC_EDGES_DRIVER_MAX:
        import pandas as pd

        if head.column("src").null_count or head.column("dst").null_count:
            pairs = _union_find_labels(
                list(
                    zip(
                        head.column("src").to_pylist(),
                        head.column("dst").to_pylist(),
                    )
                )
            )
            pdf = pd.DataFrame(pairs, columns=["node", "label"])
        elif head.num_rows == 0:
            pdf = pd.DataFrame({"node": [], "label": []})
        else:
            nodes, labels = _union_find_arrays(
                head.column("src").to_numpy(zero_copy_only=False),
                head.column("dst").to_numpy(zero_copy_only=False),
            )
            pdf = pd.DataFrame({"node": nodes, "label": labels})
        return edges.sparkSession.createDataFrame(
            pdf, "node BIGINT, label BIGINT"
        )
    e = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(CC_MAX_ITER):
        nbr = e.join(labels, e["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        merged = (
            labels.unionByName(nbr).groupBy("node").agg(F.min("label").alias("label"))
        )
        parent = merged.select(
            F.col("node").alias("label"), F.col("label").alias("jump")
        )
        jumped = merged.join(parent, "label", "left").select(
            "node", F.least("label", F.coalesce("jump", "label")).alias("label")
        )
        labels = jumped.localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {CC_MAX_ITER} rounds")
    return labels


def minhash_clusters(spark, sf_dir):
    """Near-duplicate clusters: MinHash candidate pairs (est_jaccard ≥
    0.25) as edges → connected components → (doc_id, cluster_id) with
    cluster_id = min doc_id of the component. Only docs participating in
    ≥1 near-dup pair appear; unpaired docs are their own implicit
    singleton cluster. This is the step dedup pipelines run after pair
    generation so that A≈B and B≈C collapse to ONE keeper even when A-C
    was never scored."""
    pairs = minhash_near_dup_pairs(spark, sf_dir)
    labels = connected_components(pairs, "doc_a", "doc_b")
    return labels.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("label").cast("bigint").alias("cluster_id"),
    )


# --------------------------------------------- exact-substring span dedup

SPAN_W = 10  # gram width (words); Lee et al. 2021 use 50 BPE tokens


def substring_dup_spans(spark, sf_dir):
    """Exact-substring duplicate spans (the "Deduplicating Training Data
    Makes Language Models Better" operator, Lee et al. 2021, expressed
    relationally instead of via a suffix array): hash every SLIDING
    SPAN_W-word gram with its position, keep grams whose corpus-wide
    count > 1, then merge each document's overlapping duplicated-gram
    intervals into maximal spans [span_start, span_end] (word offsets) —
    the byte ranges a rewrite pass would cut. Finer than
    `dedup_block_exact` (non-overlapping tiles): sliding grams catch
    duplicated text at ANY alignment, and the interval merge recovers
    full duplicated regions, not just tile-aligned ones.

    Scale shape: map-only gram hashing (per-row array expressions) → one
    explode → keyed count on the gram hash (the shuffle ships 16-byte
    hashes + positions, never text) → semi-join back on the hash → one
    user-keyed window pass for the interval merge. The gram-hash
    aggregation is exactly the Lee et al. distributed substep; a suffix
    automaton would find arbitrary-length repeats but cannot shard, the
    gram relaxation shards on the hash key."""
    docs = load(spark, sf_dir, "documents")
    docs = rebalance_narrow_scan(docs, spark)
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = F.when(
        F.size(words) >= SPAN_W,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - SPAN_W),
            lambda i: F.struct(
                i.alias("start"),
                F.md5(F.concat_ws(" ", F.slice(words, i + 1, SPAN_W))).alias("gh"),
            ),
        ),
    )
    pos = (
        docs.select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.start").alias("start"), F.col("g.gh").alias("gh"))
    )
    # r19 optimization (guide §2.4 / §1.2 step 1): the former count-agg +
    # broadcast-semi-join shape evaluated the gram subtree TWICE — `pos`
    # fed both the corpus-wide count and the probe side, and Catalyst
    # re-executes an uncached subtree per consumer (column pruning gives
    # the two branches different exchange payloads, so ReuseExchange can
    # never fire). A per-gram window count is the same predicate — rows
    # whose gh occurs more than once — computed from ONE evaluation of
    # the gram scan and ONE hash-partitioned exchange of (doc_id, start,
    # gh) rows. It also drops the broadcast of the duplicated-gram set
    # (a driver/executor-memory hazard at corpus scale: the dup set is
    # data-dependent and unbounded, while the shuffled gram rows are the
    # same bytes the count aggregate's probe side already carried).
    # A/B at sf0.1 (quiet box, interleaved): 0.92/1.02 -> 0.78/0.84 s
    # (min/median); plan: 2 parquet scans -> 1.
    hits = (
        pos.withColumn("n", F.count("*").over(W.partitionBy("gh")))
        .filter(F.col("n") > 1)
        .select("doc_id", "start", (F.col("start") + SPAN_W - 1).alias("end"))
    )
    w_prev = (
        W.partitionBy("doc_id").orderBy("start").rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("start").rowsBetween(W.unboundedPreceding, 0)
    )
    flagged = hits.withColumn(
        "is_new",
        F.when(
            F.max("end").over(w_prev).isNull()
            | (F.col("start") > F.max("end").over(w_prev)),
            1,
        ).otherwise(0),
    )
    spans = flagged.withColumn("span_id", F.sum("is_new").over(w_run))
    return spans.groupBy("doc_id", "span_id").agg(
        F.min("start").alias("span_start"),
        F.max("end").alias("span_end"),
        F.count("*").alias("n_dup_grams"),
    )


INCREMENTAL_BASE_MAX = 400  # doc_id < this = the already-ingested corpus


def incremental_dedup_vs_base(spark, sf_dir):
    """Incremental (newcomer) dedup — the shape an ongoing crawl actually
    runs: incoming documents check their content fingerprint against the
    ALREADY-INGESTED corpus only, not against each other (corpus-wide
    dedup is a separate batch job; this is the per-increment gate).
    Plan: fingerprints both sides map-side, one hash-keyed left-semi /
    anti pair — at 100 TB the base side is a pre-materialized
    fingerprint table (text never rescanned), and the join ships 16-byte
    hashes. Base/incoming split is synthesized from doc_id here; a real
    deployment passes two tables."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = docs.select("doc_id", F.md5(norm).alias("fp"))
    # r19 (guide §5/§2.4): fp fed FOUR consumers (base/incoming × the
    # semi + anti joins), so the scan + normalize + md5 ran 4×; and the
    # semi/anti PAIR over the same distinct base is one LEFT join with a
    # marker column (base fp is distinct, so the left join cannot
    # multiply rows — the verdict CASE partitions incoming exactly as
    # semi + anti did). Lazy checkpoint of fp + the single join:
    # interleaved A/B at sf0.1 0.99 → 0.70 s median (−29%); parity
    # green ×2 SFs.
    fp = fp.localCheckpoint(eager=False)
    base = (
        fp.filter(F.col("doc_id") < INCREMENTAL_BASE_MAX)
        .select("fp")
        .distinct()
        .withColumn("_in_base", F.lit(1))
    )
    incoming = fp.filter(F.col("doc_id") >= INCREMENTAL_BASE_MAX)
    return incoming.join(base, "fp", "left").select(
        "doc_id",
        F.when(F.col("_in_base").isNotNull(), "duplicate_of_base")
        .otherwise("new")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering

# Jaccard threshold 3/5 — kept as an exact rational so the >= predicate is
# INTEGER math (inter*5 >= union*3), immune to float-literal drift
JACC_TAU_NUM, JACC_TAU_DEN = 3, 5


def jaccard_prefix_join(spark, sf_dir):
    """EXACT Jaccard similarity join (τ = 0.6) over distinct part-name
    token sets via prefix filtering (Chaudhuri et al., SSJoin) — the
    exact counterpart of the MinHash family: no probabilistic recall
    loss, same never-n² discipline. Tokens sort by a global total order
    (document frequency asc, token asc — rarest first, the standard
    choice that minimizes candidates); a pair with J ≥ τ must share a
    token within each side's first |x| − ⌈τ|x|⌉ + 1 tokens, so
    candidates come from an EQUI-join on exploded prefix tokens only.
    Verification is exact: array_intersect on the full (distinct) token
    arrays, integer predicate inter·5 ≥ union·3. Prefix length uses
    integer arithmetic ((3n+4) DIV 5 = ⌈3n/5⌉), so both engines cut
    identical prefixes. At 100 TB the prefix explode carries 1-3 tokens
    per set and the join shuffles on token — work scales with prefix-
    token collision density, never the name-pair cross product."""
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    tok = names.select(
        "p_name",
        F.explode(
            F.array_distinct(F.split(F.col("p_name"), " "))
        ).alias("token"),
    ).filter(F.col("token") != "")
    dfreq = tok.groupBy("token").agg(F.count("*").alias("tdf"))
    arr = (
        tok.join(dfreq, "token")
        .groupBy("p_name")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("tdf"), F.col("token")))
            ).alias("st")
        )
        .select(
            "p_name",
            F.transform("st", lambda s: s["token"]).alias("toks"),
            F.size("st").alias("ntok"),
        )
    )
    # r19 (guide §5): arr — one row per distinct name with its sorted
    # token array — feeds FOUR consumers (both sides of the prefix
    # self-join, x, y), so the part scan + tokenize + dfreq join ran 4×
    # (8 scans / 32 Exchanges in the census plan). One lazy
    # localCheckpoint runs it once; interleaved A/B at sf0.1:
    # 0.745/0.849 → 0.552/0.630 s min/median (−26%).
    arr = arr.localCheckpoint(eager=False)
    plen = (
        F.col("ntok")
        - F.expr(f"({JACC_TAU_NUM} * ntok + {JACC_TAU_DEN - 1}) DIV {JACC_TAU_DEN}")
        + 1
    ).cast("int")
    pref = arr.select(
        "p_name", F.explode(F.slice("toks", F.lit(1), plen)).alias("token")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "token")
        .filter(F.col("a.p_name") < F.col("b.p_name"))
        .select(
            F.col("a.p_name").alias("name_a"), F.col("b.p_name").alias("name_b")
        )
        .distinct()
    )
    x = arr.select(
        F.col("p_name").alias("name_a"),
        F.col("toks").alias("toks_a"),
        F.col("ntok").alias("ntok_a"),
    )
    y = arr.select(
        F.col("p_name").alias("name_b"),
        F.col("toks").alias("toks_b"),
        F.col("ntok").alias("ntok_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.col("ntok_a") + F.col("ntok_b") - inter
    from ._util import round6_det

    return (
        cand.join(x, "name_a")
        .join(y, "name_b")
        .select(
            "name_a",
            "name_b",
            inter.cast("bigint").alias("n_common"),
            uni.cast("bigint").alias("n_union"),
            round6_det(inter.cast("double") / uni).alias("jaccard"),
        )
        .filter(
            F.col("n_common") * JACC_TAU_DEN >= F.col("n_union") * JACC_TAU_NUM
        )
    )


_JACC_SQL = f"""
WITH names AS (SELECT DISTINCT p_name FROM part),
tok AS (
  SELECT p_name, t.token
  FROM names, UNNEST(list_distinct(string_split(p_name, ' '))) AS t(token)
  WHERE t.token <> ''
),
dfreq AS (SELECT token, COUNT(*) AS tdf FROM tok GROUP BY token),
arr AS (
  SELECT p_name, list(t.token ORDER BY d.tdf, t.token) AS toks,
         COUNT(*) AS ntok
  FROM tok t JOIN dfreq d USING (token) GROUP BY p_name
),
pref AS (
  SELECT p_name, t.token
  FROM arr, UNNEST(list_slice(toks, 1,
    CAST(ntok - (({JACC_TAU_NUM} * ntok + {JACC_TAU_DEN - 1}) // {JACC_TAU_DEN})
         + 1 AS INT))) AS t(token)
),
cand AS (
  SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
  FROM pref a JOIN pref b ON a.token = b.token AND a.p_name < b.p_name
),
pairs AS (
  SELECT name_a, name_b,
         len(list_intersect(x.toks, y.toks)) AS inter,
         x.ntok + y.ntok - len(list_intersect(x.toks, y.toks)) AS uni
  FROM cand JOIN arr x ON name_a = x.p_name JOIN arr y ON name_b = y.p_name
)
SELECT name_a, name_b,
       CAST(inter AS BIGINT) AS n_common, CAST(uni AS BIGINT) AS n_union,
       FLOOR(CAST(inter AS DOUBLE) / uni * 1000000.0 + 0.5) / 1000000.0
         AS jaccard
FROM pairs WHERE inter * {JACC_TAU_DEN} >= uni * {JACC_TAU_NUM}
"""


def register(reg):
    reg.add(
        "dedup_exact_keep_first",
        exact_keep_first,
        "SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies "
        "FROM documents GROUP BY text",
    )
    reg.add(
        "dedup_duplicate_stats",
        duplicate_stats,
        "SELECT source, COUNT(*) AS total, COUNT(DISTINCT text) AS distinct_texts, "
        "COUNT(*) - COUNT(DISTINCT text) AS n_duplicates FROM documents GROUP BY source",
    )
    reg.add(
        "dedup_exact_hash",
        exact_hash_dedup,
        r"SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash, "
        "MIN(doc_id) AS keeper_id FROM documents GROUP BY 1",
    )
    shingle_sql, hashed_sql = _SHINGLE_SQL, _HASHED_SQL
    reg.add(
        "dedup_minhash_signatures",
        minhash_signatures,
        "WITH " + shingle_sql + hashed_sql + "\nSELECT doc_id, j, minhash FROM sigs",
    )
    # bsize mirrors the MAX_BUCKET_MEMBERS degenerate-bucket guard in
    # _bucket_pairs: both engines exclude buckets above the cap, so the
    # guard is never a Spark-only divergence
    reg.add(
        "dedup_minhash_pairs",
        minhash_near_dup_pairs,
        "WITH "
        + shingle_sql
        + hashed_sql
        + f""",
bsize AS (SELECT j, minhash, COUNT(*) AS m FROM sigs GROUP BY j, minhash)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) / {float(N_MINHASH)} AS est_jaccard
FROM sigs a JOIN sigs b
  ON a.j = b.j AND a.minhash = b.minhash AND a.doc_id < b.doc_id
JOIN bsize s ON s.j = a.j AND s.minhash = a.minhash
WHERE s.m <= {MAX_BUCKET_MEMBERS}
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) / {float(N_MINHASH)} >= 0.25""",
    )
    reg.add(
        "dedup_ngram_jaccard",
        ngram_jaccard_pairs,
        "WITH "
        + shingle_sql
        + f""",
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shingles GROUP BY doc_id),
bsize AS (SELECT source, shingle, COUNT(*) AS m FROM shingles GROUP BY source, shingle),
inter AS (
  -- null-safe source match: the engine BLOCKS by groupBy(source,
  -- shingle), where a NULL source is one real block (docs with an
  -- unknown source still dedup against each other) — a plain equi-join
  -- here drops those pairs (NULL = NULL is NULL), one pair short at 30%
  -- NULL density (NULLHEAVY_r15); bsize's GROUP BY already treats NULL
  -- as one group, so only the join predicates need IS NOT DISTINCT FROM
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.source IS NOT DISTINCT FROM b.source
   AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN bsize s ON s.source IS NOT DISTINCT FROM a.source
   AND s.shingle = a.shingle
  WHERE s.m <= {MAX_BUCKET_MEMBERS}
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(n_common / (sa.set_size + sb.set_size - n_common), 6) >= 0.2""",
    )
    bit_exprs = []
    for b in range(SIMHASH_BITS):
        char = b // 4
        half = "hi" if char < 8 else "lo"
        shift = 4 * (7 - char % 8) + b % 4
        bit = f"(({half} >> {shift}) & 1)"
        vote = f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"
        weight = -(2**63) if b == 63 else 2**b
        bit_exprs.append(
            f"(CASE WHEN {vote} > 0 THEN CAST({weight} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    halved_sql = r"""words AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents WHERE doc_id IS NOT NULL) t
  WHERE LENGTH(word) > 0
),
halved AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(word), 1, 8) AS BIGINT) AS hi,
         CAST('0x' || substring(md5(word), 9, 8) AS BIGINT) AS lo
  FROM words
)"""
    reg.add(
        "dedup_simhash",
        simhash_fingerprints,
        "WITH "
        + halved_sql
        + "\nSELECT doc_id, CAST("
        + " + ".join(bit_exprs)
        + " AS BIGINT) AS simhash FROM halved GROUP BY doc_id",
    )
    # pairs: the oracle mirrors the banded blocking (lossless for hamming ≤
    # SIMHASH_MAX_HAMMING by pigeonhole over 4 bands) INCLUDING the
    # MAX_BUCKET_MEMBERS degenerate-bucket guard, so a pathological corpus
    # drops the same buckets in both engines. DuckDB's >> on BIGINT is an
    # arithmetic shift like Spark's shiftright; & 65535 discards sign fill.
    fp_sql = (
        "WITH "
        + halved_sql
        + ",\nfp AS (SELECT doc_id, CAST("
        + " + ".join(bit_exprs)
        + " AS BIGINT) AS simhash FROM halved GROUP BY doc_id)"
    )
    reg.add(
        "dedup_simhash_pairs",
        simhash_near_dup_pairs,
        fp_sql
        + f""",
banded AS (
  SELECT doc_id, simhash, band, ((simhash >> (16 * band)) & 65535) AS nibble
  FROM fp, (VALUES (0), (1), (2), (3)) AS bands(band)
),
bsize AS (SELECT band, nibble, COUNT(*) AS m FROM banded GROUP BY band, nibble)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM banded a
JOIN banded b ON a.band = b.band AND a.nibble = b.nibble AND a.doc_id < b.doc_id
JOIN bsize s ON s.band = a.band AND s.nibble = a.nibble
WHERE s.m <= {MAX_BUCKET_MEMBERS}
  AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}""",
    )
    # The cluster oracle computes the same transitive closure as the Spark
    # loop with a recursive CTE: reach(node, lbl) enumerates every label
    # reachable from each node, MIN(lbl) per node is the component id.
    reg.add(
        "dedup_minhash_clusters",
        minhash_clusters,
        "WITH RECURSIVE "
        + _SHINGLE_SQL
        + _HASHED_SQL
        + f""",
bsize AS (SELECT j, minhash, COUNT(*) AS m FROM sigs GROUP BY j, minhash),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b
    ON a.j = b.j AND a.minhash = b.minhash AND a.doc_id < b.doc_id
  JOIN bsize s ON s.j = a.j AND s.minhash = a.minhash
  WHERE s.m <= {MAX_BUCKET_MEMBERS}
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) / {float(N_MINHASH)} >= 0.25
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node""",
    )
    # exact-substring duplicate spans
    reg.add(
        "dedup_substring_spans",
        substring_dup_spans,
        rf"""WITH pos AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(ws[i + 1 : i + {SPAN_W}], ' ')) AS gh
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents) d,
       UNNEST(range(0, len(ws) - {SPAN_W} + 1)) AS t(i)
  WHERE len(ws) >= {SPAN_W}
),
dup AS (SELECT gh FROM pos GROUP BY gh HAVING COUNT(*) > 1),
hits AS (
  SELECT doc_id, start, start + {SPAN_W} - 1 AS "end"
  FROM pos WHERE gh IN (SELECT gh FROM dup)
),
flagged AS (
  SELECT doc_id, start, "end",
         CASE WHEN MAX("end") OVER w IS NULL
              OR start > MAX("end") OVER w THEN 1 ELSE 0 END AS is_new
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
spans AS (
  SELECT doc_id, start, "end",
         SUM(is_new) OVER (PARTITION BY doc_id ORDER BY start
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS span_id
  FROM flagged
)
SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
       MIN(start) AS span_start, MAX("end") AS span_end,
       COUNT(*) AS n_dup_grams
FROM spans GROUP BY doc_id, span_id""",
    )
    reg.add(
        "dedup_incremental_vs_base",
        incremental_dedup_vs_base,
        rf"""WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM documents
),
base AS (SELECT DISTINCT fp FROM fp WHERE doc_id < {INCREMENTAL_BASE_MAX}),
incoming AS (SELECT * FROM fp WHERE doc_id >= {INCREMENTAL_BASE_MAX})
SELECT doc_id, CASE WHEN fp IN (SELECT fp FROM base)
                    THEN 'duplicate_of_base' ELSE 'new' END AS verdict
FROM incoming"""
    )
    reg.add("dedup_jaccard_prefix_join", jaccard_prefix_join, _JACC_SQL)
