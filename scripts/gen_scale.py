#!/usr/bin/env python
"""Synthesize a larger scale factor of the driver's test tables.

The driver ships sf0.001/0.01/0.1 only (TESTDATA.md); the 100-TB posture
of this engine rests on sf0.01->sf0.1 scaling ratios plus plan-shape
arguments. This script converts that extrapolation into a measurement by
generating an sf1-equivalent dataset (10x sf0.1 rows in every table)
whose distributions are calibrated against the real sf0.1 parquet:

- value columns (acctbal, totalprice, extendedprice, discount, tax,
  event value, mktsegment, priority, ...) are EMPIRICALLY RESAMPLED from
  sf0.1, so marginals match exactly;
- key ranges scale linearly (customer 150k, part 200k, supplier 10k,
  orders 1.5M) and lineitem keeps the measured lines-per-order
  distribution (mean 4.08, max 17) and uniform (partkey, suppkey) pairs
  (590,973 distinct pairs per 600k rows at sf0.1);
- cross-column independence mirrors the driver's generator (measured:
  corr(l_extendedprice, l_quantity) = 0.001, shipdate independent of
  orderdate spanning the same 1995-2001 window);
- documents keep the 30-word uniform vocab + the rare 'dup' token at the
  same 5% doc incidence and ~0.16% planted exact-duplicate rate, with
  10..100 words/doc — so minhash/simhash band-bucket densities scale the
  way the driver's corpus would;
- embeddings are unit-norm float32 dim-64 with uniform labels 0..9 (the
  sf0.1 table has no cluster structure: per-label centroid norm 0.07 ~
  1/sqrt(n), i.e. random directions).

Deterministic (fixed rng seed). Writes parquet with the same column
names/types as the driver tables. Never touches /root/testdata.

Usage: python scripts/gen_scale.py --mult 10 --out .scale/sf1
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = os.environ.get("SPARK_GRAFT_BASE_SF_DIR", "/root/testdata/sf0.1")

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]


def _read_col(table: str, col: str) -> np.ndarray:
    t = pq.read_table(os.path.join(SRC, f"{table}.parquet"), columns=[col])
    return t.column(col).to_numpy(zero_copy_only=False)


def _resample(rng: np.random.Generator, vals: np.ndarray, n: int) -> np.ndarray:
    return vals[rng.integers(0, len(vals), size=n)]


def _write(out: str, name: str, cols: dict, schema_like: str | None = None) -> None:
    """Write `cols` as parquet, casting to the sf0.1 schema of `name`."""
    ref_schema = pq.read_schema(os.path.join(SRC, f"{schema_like or name}.parquet"))
    arrays = []
    for field in ref_schema:
        arr = pa.array(cols[field.name])
        if arr.type != field.type:
            arr = arr.cast(field.type)
        arrays.append(arr)
    table = pa.Table.from_arrays(arrays, schema=ref_schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    print(f"wrote {name}: {table.num_rows} rows")


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, a: float = 1.4) -> np.ndarray:
    """Zipf-distributed keys in [0, n_keys): rank r gets mass ~ r^-a.
    Tail ranks beyond the key space clamp to the last key (adds a second
    mild hot key — harmlessly adversarial for a skew stress set)."""
    r = rng.zipf(a, n)
    return np.minimum(r - 1, n_keys - 1)


def gen(
    mult: int,
    out: str,
    seed: int = 4242,
    skew: bool = False,
    dup_heavy: bool = False,
) -> None:
    """Synthesize a scaled dataset. `skew`: one bot user owns ~10% of
    events and part/supp/cust keys go Zipfian (the hot-key shapes real
    100-TB logs have — what salting/AQE-skew exist for). `dup_heavy`:
    ~50% of documents are near-duplicates (one-word perturbations of a
    base doc, ~10% of them exact copies) and ~50% of embeddings are
    near-copies (1e-3-noise neighbors) — the worst realistic case for
    banded/bucketed dedup candidate generation (MAX_BUCKET_MEMBERS cap
    pressure)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    # fixed dimensions: copy verbatim (region 5, nation 25 rows)
    for t in ("region", "nation"):
        pq.write_table(
            pq.read_table(os.path.join(SRC, f"{t}.parquet")),
            os.path.join(out, f"{t}.parquet"),
        )

    n_cust, n_supp, n_part = 15000 * mult, 1000 * mult, 20000 * mult
    n_orders, n_events = 150000 * mult, 100000 * mult
    n_docs, n_vecs = 5000 * mult, 2000 * mult

    # --- customer ---
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": _resample(rng, _read_col("customer", "c_acctbal"), n_cust),
        "c_mktsegment": _resample(rng, _read_col("customer", "c_mktsegment"), n_cust),
    })

    # --- supplier ---
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": _resample(rng, _read_col("supplier", "s_acctbal"), n_supp),
    })

    # --- part ---
    _write(out, "part", {
        "p_partkey": np.arange(n_part),
        "p_name": _resample(rng, _read_col("part", "p_name"), n_part),
        "p_brand": _resample(rng, _read_col("part", "p_brand"), n_part),
        "p_type": _resample(rng, _read_col("part", "p_type"), n_part),
        "p_size": _resample(rng, _read_col("part", "p_size"), n_part),
        "p_retailprice": _resample(rng, _read_col("part", "p_retailprice"), n_part),
    })

    # --- orders --- (dates uniform over the measured 1995-01..2001-08 span)
    date_lo = np.datetime64("1995-01-01")
    date_hi = np.datetime64("2001-08-02")
    span_days = int((date_hi - date_lo) / np.timedelta64(1, "D"))
    o_dates = date_lo + rng.integers(0, span_days, n_orders).astype("timedelta64[D]")
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders),
        "o_custkey": (_zipf_keys(rng, n_orders, n_cust) if skew
                      else rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": _resample(rng, _read_col("orders", "o_orderstatus"), n_orders),
        "o_totalprice": _resample(rng, _read_col("orders", "o_totalprice"), n_orders),
        "o_orderdate": o_dates.astype("datetime64[us]"),
        "o_orderpriority": _resample(rng, _read_col("orders", "o_orderpriority"), n_orders),
    })

    # --- lineitem --- lines-per-order resampled from the sf0.1 empirical
    # distribution (mean 4.08), orderkeys repeated accordingly.
    lk = _read_col("lineitem", "l_orderkey")
    _, per_order = np.unique(lk, return_counts=True)
    counts = _resample(rng, per_order, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders), counts)
    n_li = len(l_orderkey)
    l_linenumber = np.concatenate([np.arange(1, c + 1) for c in counts])
    ship_lo = np.datetime64("1995-01-02")
    ship_span = int((np.datetime64("2001-11-05") - ship_lo) / np.timedelta64(1, "D"))
    _write(out, "lineitem", {
        "l_orderkey": l_orderkey,
        "l_partkey": (_zipf_keys(rng, n_li, n_part) if skew
                      else rng.integers(0, n_part, n_li)),
        "l_suppkey": (_zipf_keys(rng, n_li, n_supp) if skew
                      else rng.integers(0, n_supp, n_li)),
        "l_linenumber": l_linenumber,
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _resample(rng, _read_col("lineitem", "l_extendedprice"), n_li),
        "l_discount": _resample(rng, _read_col("lineitem", "l_discount"), n_li),
        "l_tax": _resample(rng, _read_col("lineitem", "l_tax"), n_li),
        "l_returnflag": _resample(rng, _read_col("lineitem", "l_returnflag"), n_li),
        "l_linestatus": _resample(rng, _read_col("lineitem", "l_linestatus"), n_li),
        "l_shipdate": (ship_lo + rng.integers(0, ship_span, n_li).astype("timedelta64[D]")).astype("datetime64[us]"),
    })

    # --- events --- event_id ordered by ts (measured property), 30-day
    # window, 10x users, value resampled (exponential-shaped, mean ~50).
    n_users = 1500 * mult
    ts_lo = np.datetime64("2024-01-01T00:00:00.000000")
    ts_span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, ts_span_us, n_events))
    _write(out, "events", {
        "event_id": np.arange(n_events),
        "ts": (ts_lo + ts.astype("timedelta64[us]")),
        "user_id": (
            np.where(
                rng.random(n_events) < 0.10,
                0,  # the bot user: ~10% of the whole log
                _zipf_keys(rng, n_events, n_users),
            )
            if skew
            else rng.integers(0, n_users, n_events)
        ),
        "event_type": _resample(rng, _read_col("events", "event_type"), n_events),
        "value": _resample(rng, _read_col("events", "value"), n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    # --- documents --- 30-word uniform vocab, 10..100 words, 5% of docs
    # carry the rare 'dup' token, ~0.16% planted exact duplicates.
    lengths = rng.integers(10, 101, n_docs)
    langs = _resample(rng, _read_col("documents", "lang"), n_docs)
    sources = _resample(rng, _read_col("documents", "source"), n_docs)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        words = vocab[rng.integers(0, len(vocab), lengths[i])]
        if rng.random() < 0.05:
            words = words.copy()
            words[rng.integers(0, len(words))] = "dup"
        texts.append(" ".join(words))
    # plant exact duplicates at the measured sf0.1 rate (8 per 5000)
    for _ in range(8 * mult):
        texts[int(rng.integers(0, n_docs))] = texts[int(rng.integers(0, n_docs))]
    if dup_heavy:
        # ~50% of docs become near-duplicates of the base half: one word
        # swapped at a random position (high-Jaccard for 10..100-word
        # docs), ~10% of the dup half exact copies
        half = n_docs // 2
        for i in range(half, n_docs):
            src = int(rng.integers(0, half))
            if rng.random() < 0.10:
                texts[i] = texts[src]
            else:
                ws = texts[src].split(" ")
                ws[int(rng.integers(0, len(ws)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
                texts[i] = " ".join(ws)
    _write(out, "documents", {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts]),
    })

    # --- embeddings --- unit-norm float32 dim-64, uniform labels 0..9
    X = rng.standard_normal((n_vecs, 64)).astype("float32")
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    if dup_heavy:
        # ~50% near-copies: cosine ~0.9999995 neighbors of the base half
        # — every LSH band collides, the bucket-cap guard's worst case
        half_v = n_vecs // 2
        src = rng.integers(0, half_v, n_vecs - half_v)
        X[half_v:] = X[src] + 1e-3 * rng.standard_normal(
            (n_vecs - half_v, 64)
        ).astype("float32")
        X[half_v:] /= np.linalg.norm(X[half_v:], axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs),
        "embedding": list(X),
        "label": rng.integers(0, 10, n_vecs),
    })

    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(
            {
                "mult": mult,
                "seed": seed,
                "base": SRC,
                "skew": skew,
                "dup_heavy": dup_heavy,
            },
            f,
        )


def inject_nulls(
    base: str,
    out: str,
    seed: int = 7117,
    frac_null: float = 0.02,
    frac_nan: float = 0.01,
    frac_empty: float = 0.01,
    frac_inf: float = 0.0,
    frac_negzero: float = 0.0,
) -> None:
    """Copy every driver table from `base` with adversarial dirty cells:
    ~frac_null of every column NULL (independent per-column masks, so
    NULL keys, NULL timestamps, NULL embeddings and multi-NULL rows all
    occur), plus NaN into double columns and '' into string columns.
    Real corpora are never clean; the driver tables are — round 10 found
    seven latent NULL/NaN defects by hand-review precisely because no
    shipped column contains one. This makes that class mechanical: the
    oracle-parity sweep (scripts/sweep.py --axis nulls, gated tier
    tests/test_axis_parity.py) runs the full registry against the dirty
    copy, and any Spark/DuckDB divergence or crash is a bug in whichever
    side assumed clean data. Deterministic (fixed seed); schema
    preserved except fields become nullable."""
    import pyarrow.compute as pc

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    for t in tables:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet")).combine_chunks()
        n = tbl.num_rows

        def mask(frac):
            k = max(1, int(n * frac))
            m = np.zeros(n, dtype=bool)
            m[rng.choice(n, size=k, replace=False)] = True
            return m

        new_cols, fields = [], []
        for field in tbl.schema:
            arr = tbl.column(field.name).combine_chunks()
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.chunk(0) if arr.num_chunks else pa.nulls(0, field.type)
            if pa.types.is_nested(field.type):
                vals = arr.to_pylist()
                for i in np.flatnonzero(mask(frac_null)):
                    vals[i] = None
                arr = pa.array(vals, type=field.type)
            else:
                arr = pc.if_else(
                    pa.array(mask(frac_null)), pa.nulls(n, field.type), arr
                )
                if pa.types.is_floating(field.type):
                    arr = pc.if_else(
                        pa.array(mask(frac_nan)),
                        pa.scalar(float("nan"), field.type),
                        arr,
                    )
                    # the non-finite tier (round 15) also plants ±Inf
                    # (split evenly) and IEEE negative zero; both fracs
                    # default 0 so the established dirty fixtures are
                    # byte-identical to their r11 form
                    if frac_inf:
                        m_inf = mask(frac_inf)
                        sign = rng.random(n) < 0.5
                        arr = pc.if_else(
                            pa.array(m_inf & sign),
                            pa.scalar(float("inf"), field.type),
                            arr,
                        )
                        arr = pc.if_else(
                            pa.array(m_inf & ~sign),
                            pa.scalar(float("-inf"), field.type),
                            arr,
                        )
                    if frac_negzero:
                        arr = pc.if_else(
                            pa.array(mask(frac_negzero)),
                            pa.scalar(-0.0, field.type),
                            arr,
                        )
                if pa.types.is_string(field.type) or pa.types.is_large_string(
                    field.type
                ):
                    arr = pc.if_else(
                        pa.array(mask(frac_empty)),
                        pa.scalar("", field.type),
                        arr,
                    )
            new_cols.append(arr)
            fields.append(pa.field(field.name, field.type, nullable=True))
        out_tbl = pa.Table.from_arrays(new_cols, schema=pa.schema(fields))
        pq.write_table(out_tbl, os.path.join(out, f"{t}.parquet"))
        n_null = sum(c.null_count for c in out_tbl.columns)
        print(f"wrote {t}: {n} rows, {n_null} injected NULL cells")
    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(
            {
                "mode": "nulls" if not (frac_inf or frac_negzero) else "nonfinite",
                "base": base,
                "seed": seed,
                "frac_null": frac_null,
                "frac_nan": frac_nan,
                "frac_empty": frac_empty,
                "frac_inf": frac_inf,
                "frac_negzero": frac_negzero,
            },
            f,
        )


# Deterministic multibyte snippet pool: one representative per script /
# pathology class a 100-TB training corpus actually contains. NBSP and
# the combining mark sit INSIDE words (tokenizer boundary tests); the
# emoji includes a skin-tone modifier (non-BMP + modifier sequence).
UNICODE_SNIPPETS = [
    "漢字テスト",            # CJK ideographs + katakana
    "données françaises",    # precomposed accented Latin
    "Ωμέγα σήμα",            # Greek
    "Привет мир",            # Cyrillic
    "🔥👍🏽💡",                # emoji, incl. modifier sequence (non-BMP)
    "e\u0301clair",          # combining acute accent (decomposed)
    "İstanbul ışık",         # Turkish dotted İ / dotless ı
    "ＦＵＬＬｗｉｄｔｈ１２３",  # full-width forms and digits
    "non\u00a0breaking",     # NBSP inside a "word" (ASCII-\\s invisible)
    "نص عربي",               # RTL Arabic
    "한국어 텍스트",          # Hangul
    "ﬁnal ﬂow",              # ligature code points
    # round-15 residual fixtures (VERDICT r14 item 4):
    "ΟΔΥΣΣΕΎΣ ΣΟΦΌΣ",        # uppercase Σ, medial + final (Final_Sigma
    #                          rule: JVM/Python → ...σσ...ς, utf8proc → σ
    #                          everywhere; oracle guarded by
    #                          _util._SIGMA_PATTERN — no combining mark
    #                          may follow a Σ here, see its scope note)
    "verti\x0bcal tab",    # VT U+000B inside a "word": Java/Python \s
    #                          split on it, RE2's \s does not (oracle
    #                          guarded by _util.guard_vt_whitespace)
]


def _snippet_pool_fingerprint() -> str:
    """Stable fingerprint of UNICODE_SNIPPETS for fixture-manifest
    staleness checks."""
    import hashlib

    return hashlib.sha256("\x00".join(UNICODE_SNIPPETS).encode()).hexdigest()[:16]


def inject_unicode(base: str, out: str, seed: int = 8814, frac: float = 0.05) -> None:
    """Copy every driver table from `base` with multibyte text injected
    into ~frac of every string column's cells (VERDICT r13 missing #5):
    the dirty tier injects NULL/NaN/'' but never non-ASCII, yet real
    training corpora are mostly non-ASCII and Spark (JVM UTF8String) and
    DuckDB (utf8proc) can disagree on case mapping, length, regex and
    collation semantics for exactly these code points. Four injection
    modes per hit cell — replace, append, insert-as-word, glue-onto-word
    (hybrid ASCII+multibyte token, the tokenizer-boundary case).
    events.props stays VALID JSON (the snippet goes into the value);
    documents.n_chars is recomputed so the stored stat matches the new
    text on both engines. Deterministic (fixed seed); schema preserved."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    n_injected_total = 0
    for t in tables:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet")).combine_chunks()
        n = tbl.num_rows
        new_cols, fields = [], []
        touched_text = None
        for field in tbl.schema:
            arr = tbl.column(field.name).combine_chunks()
            if pa.types.is_string(field.type) or pa.types.is_large_string(field.type):
                vals = arr.to_pylist()
                k = max(1, int(n * frac)) if n else 0
                hits = rng.choice(n, size=k, replace=False) if n else []
                for i in hits:
                    snip = UNICODE_SNIPPETS[int(rng.integers(0, len(UNICODE_SNIPPETS)))]
                    cur = vals[i]
                    if t == "events" and field.name == "props":
                        vals[i] = '{"k": "' + snip.replace('"', "") + '"}'
                    elif cur is None or cur == "":
                        vals[i] = snip
                    else:
                        mode = int(rng.integers(0, 4))
                        if mode == 0:
                            vals[i] = snip
                        elif mode == 1:
                            vals[i] = cur + " " + snip
                        elif mode == 2:
                            ws = cur.split(" ")
                            pos = int(rng.integers(0, len(ws) + 1))
                            vals[i] = " ".join(ws[:pos] + [snip] + ws[pos:])
                        else:  # glue: hybrid token, no space boundary
                            ws = cur.split(" ")
                            pos = int(rng.integers(0, len(ws)))
                            ws[pos] = ws[pos] + snip.split(" ")[0]
                            vals[i] = " ".join(ws)
                    n_injected_total += 1
                arr = pa.array(vals, type=field.type)
                if t == "documents" and field.name == "text":
                    touched_text = vals
            new_cols.append(arr)
            fields.append(pa.field(field.name, field.type, nullable=True))
        out_tbl = pa.Table.from_arrays(new_cols, schema=pa.schema(fields))
        if touched_text is not None and "n_chars" in out_tbl.column_names:
            idx = out_tbl.column_names.index("n_chars")
            ref_type = out_tbl.schema.field(idx).type
            recomputed = pa.array(
                [None if s is None else len(s) for s in touched_text]
            ).cast(ref_type)
            out_tbl = out_tbl.set_column(
                idx, pa.field("n_chars", ref_type, nullable=True), recomputed
            )
        pq.write_table(out_tbl, os.path.join(out, f"{t}.parquet"))
        print(f"wrote {t}: {n} rows")
    print(f"injected {n_injected_total} multibyte cells")
    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(
            {
                "mode": "unicode",
                "base": base,
                "seed": seed,
                "frac": frac,
                # the pool is an injection parameter: a snippet edit
                # must rebuild the fixture, not leave a stale one
                # counting as live evidence (round-15: the Σ/VT
                # additions would otherwise never reach the sweep)
                "snippet_pool": _snippet_pool_fingerprint(),
            },
            f,
        )


def inject_hotkey(base: str, out: str, seed: int = 1503, frac: float = 0.5) -> None:
    """Copy every driver table from `base` with one HOT value planted
    into ~frac of each skew-relevant column (VERDICT r14 missing #6):
    the order/width/config sweeps vary EXECUTION, never data shape, so
    cross-engine correctness under a hot key — the exact shape the
    salted-join, banded-dedup-cap and Misra-Gries paths exist for, and
    the one real 100-TB logs always have — was unattested (only their
    TIMING was, SCALE_ADVERSARIAL_r11). Per column, ~frac of rows get
    the value the column carries at row 0 (deterministic, always
    in-domain):

    - join keys: orders.o_custkey, lineitem.l_partkey / l_suppkey
      (customer←orders and part/supplier←lineitem joins go hot)
    - group keys: events.user_id + event_type, documents.source
    - LSH band / content: documents.text and embeddings.embedding
      collapse onto one base value, putting ~frac·n rows into ONE
      minhash band bucket / hyperplane bucket / gram family (at sf0.01
      that is ~250 members — well under MAX_BUCKET_MEMBERS=4096, so the
      cap's silent-truncation deviation is deliberately NOT triggered;
      pair outputs stay ~n²·frac²/2 ≈ 31k rows, comparable)

    Identity / tiebreak columns (doc_id, event_id, vec_id, o_orderkey,
    l_orderkey+l_linenumber, timestamps, numeric measure columns) are
    left untouched: collapsing them would break the LIMIT/window
    totality contract (r12) and basket-keyed operators would go
    quadratic (frequent_pairs baskets on l_orderkey), turning the sweep
    into a nondeterminism generator instead of a correctness axis.
    Deterministic (fixed seed); schema preserved."""
    import pyarrow.compute as pc

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    hot_cols = {
        "orders": ("o_custkey",),
        "lineitem": ("l_partkey", "l_suppkey"),
        "events": ("user_id", "event_type"),
        "documents": ("source", "text"),
        "embeddings": ("embedding",),
    }
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    planted: dict[str, dict] = {}
    for t in tables:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet")).combine_chunks()
        n = tbl.num_rows
        for col in hot_cols.get(t, ()):
            if n == 0:
                # nothing to plant and no row-0 hot value to read —
                # without this skip the vals[0]/arr[0] reads below raise
                # on an empty base table (review finding)
                continue
            arr = tbl.column(col).combine_chunks()
            k = max(1, int(n * frac))
            hits = rng.choice(n, size=k, replace=False)
            if pa.types.is_nested(arr.type):
                vals = arr.to_pylist()
                hot = vals[0]
                for i in hits:
                    vals[i] = hot
                new = pa.array(vals, type=arr.type)
                planted_desc = f"row-0 vector (dim {len(hot)})"
            else:
                hot = arr[0].as_py()
                mask = np.zeros(n, dtype=bool)
                mask[hits] = True
                new = pc.if_else(pa.array(mask), pa.scalar(hot, arr.type), arr)
                planted_desc = repr(hot)[:60]
            idx = tbl.column_names.index(col)
            tbl = tbl.set_column(idx, tbl.schema.field(idx), new)
            planted[f"{t}.{col}"] = {"hot": planted_desc, "n_planted": int(k)}
        # documents.n_chars must keep matching the (possibly hot) text
        if t == "documents":
            texts = tbl.column("text").combine_chunks().to_pylist()
            idx = tbl.column_names.index("n_chars")
            ref_type = tbl.schema.field(idx).type
            tbl = tbl.set_column(
                idx,
                tbl.schema.field(idx),
                pa.array(
                    [None if s is None else len(s) for s in texts]
                ).cast(ref_type),
            )
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))
        print(f"wrote {t}: {n} rows")
    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(
            {
                "mode": "hotkey",
                "base": base,
                "seed": seed,
                "frac": frac,
                "planted": planted,
            },
            f,
        )


# Extreme integer magnitudes, per physical width. int64 columns get the
# 2^62-class (float64-unrepresentable 2^53+1 included); int64 MIN itself
# is deliberately absent — negating it overflows in BOTH engines and the
# axis under test is magnitude handling, not negation UB. int32 columns
# get the analogous in-width extremes (the round-16 ad-hoc probe
# promoted them to int64, which conflated the axis with a schema drift).
INT64_EXTREMES = (2**62, -(2**62), 2**63 - 1, -(2**63 - 1), 2**53 + 1)
INT32_EXTREMES = (2**31 - 1, -(2**31 - 1), 2**30, -(2**30), 2**24 + 1)

# Primary-key / identity columns (the declared data contract: ids are
# unique, or at least carry consistent payloads — see checks.py
# enforce_unique_key). Planting COLLIDING extremes here creates
# same-id-different-payload rows whose per-id merge order is undefined
# in any engine; the round-16 ad-hoc probe did exactly that and its 8
# "divergences" were contract violations, not bugs. These columns get
# UNIQUE extreme-neighborhood values instead (magnitude preserved,
# uniqueness preserved). l_orderkey and l_linenumber are the composite
# lineitem key: unique planting in each component also keeps baskets
# from collapsing (a single planted hot basket would send frequent_pairs
# quadratic, which is the hot-key sweep's job, not this one's).
BIGINT_PK_COLS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def _extreme_unique(i: int, extremes: tuple) -> int:
    """The i-th unique value in the extreme neighborhoods: cycle the five
    magnitude classes, drifting each toward its open side so no two hits
    collide and no drift overflows the width. The 2^53+1 class drifts by
    2 so every emitted value stays odd (float64-unrepresentable)."""
    cls = i % len(extremes)
    step = i // len(extremes) + 1
    base = extremes[cls]
    if cls == 4:  # 2^53+1 analog: stay odd, drift upward
        return base + 2 * step
    if base > 0:  # maxes: drift down, away from overflow
        return base - step
    return base + step  # mins: drift up toward zero


def inject_bigint_extremes(
    base: str, out: str, seed: int = 6263, frac: float = 0.005
) -> None:
    """Copy every driver table from `base` with ~frac of every integer
    column replaced by extreme magnitudes (round-16 post-close probe,
    rebuilt as a committed generator): ±2^62 / ±(2^63−1) / 2^53+1 into
    int64 columns, the in-width analogs into int32 columns. Identity
    columns (BIGINT_PK_COLS) receive UNIQUE extreme-neighborhood values —
    the id contract holds, so surviving divergences are real magnitude
    bugs (cast/overflow/float-precision), not undefined same-id merges.
    Free columns (FKs, measures, group keys) get raw colliding extremes:
    duplicate FK values are in-domain data. Deterministic; schema
    preserved exactly (no int32→int64 promotion)."""
    import pyarrow.compute as pc

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    planted: dict[str, int] = {}
    for t in tables:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet")).combine_chunks()
        n = tbl.num_rows
        pk_cols = set(BIGINT_PK_COLS.get(t, ()))
        for field in tbl.schema:
            if not (
                pa.types.is_int32(field.type) or pa.types.is_int64(field.type)
            ) or n == 0:
                continue
            extremes = (
                INT64_EXTREMES if pa.types.is_int64(field.type) else INT32_EXTREMES
            )
            k = max(1, int(n * frac))
            hits = np.sort(rng.choice(n, size=k, replace=False))
            # to_pylist, not to_numpy: a NULL-bearing base (compound
            # stacking) would otherwise round-trip through float NaN
            vals = tbl.column(field.name).combine_chunks().to_pylist()
            if field.name in pk_cols:
                for j, i in enumerate(hits):
                    vals[i] = _extreme_unique(j, extremes)
            else:
                picks = rng.integers(0, len(extremes), size=k)
                for i, c in zip(hits, picks):
                    vals[i] = extremes[c]
            new = pa.array(vals, type=field.type)
            idx = tbl.column_names.index(field.name)
            tbl = tbl.set_column(idx, tbl.schema.field(idx), new)
            planted[f"{t}.{field.name}"] = int(k)
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))
        print(f"wrote {t}: {n} rows")
    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(
            {
                "mode": "bigint-extreme-v2",
                "base": base,
                "seed": seed,
                "frac": frac,
                "int64_extremes": [str(v) for v in INT64_EXTREMES],
                "int32_extremes": [str(v) for v in INT32_EXTREMES],
                "pk_unique": {t: list(c) for t, c in BIGINT_PK_COLS.items()},
                "planted": planted,
            },
            f,
        )


# Extreme temporal magnitudes (the timestamp sibling of the BIGINT and
# finite-double extreme axes). The failure field: year-1/year-9999
# rendering and strftime, date arithmetic past the DateType edge,
# negative-epoch microsecond floor division (-1 us is the classic
# rounds-toward-zero vs floors divider), the int32-epoch rollover, and
# the 1582 Gregorian-gap dates (proleptic-Gregorian engines agree the
# date exists; hybrid-calendar code paths would not). Values are planted
# unit-aware: a nanosecond-precision column physically cannot hold year
# 9999 (int64 ns spans 1677-09-21..2262-04-11), so ns columns get the
# in-range analog set — mirroring the int32/int64 width split.
TS_EXTREMES_US = (
    "0001-01-01T00:00:00",
    "0001-01-02T03:04:05.678901",
    "1582-10-10T12:00:00",
    "1969-12-31T23:59:59.999999",
    "1970-01-01T00:00:00",
    "2038-01-19T03:14:08.127001",
    "9999-12-31T23:59:59.999999",
)
TS_EXTREMES_NS = (
    "1677-09-21T00:12:44",
    "1969-12-31T23:59:59.999999",
    "1970-01-01T00:00:00",
    "2038-01-19T03:14:08.127001",
    "2262-04-11T23:47:16",
)


def inject_timestamp_extremes(
    base: str, out: str, seed: int = 9461, frac: float = 0.005
) -> None:
    """Copy every driver table from `base` with ~frac of every timestamp
    column replaced by extreme in-range instants (TS_EXTREMES_US, or the
    ns-safe analog for nanosecond columns). Timestamps are measures and
    sort keys, never ids, so raw duplicate planting is in-domain; the
    window/LIMIT totality contract already tiebreaks past tied
    timestamps. Deterministic; schema preserved."""
    import datetime

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    planted: dict[str, int] = {}
    for t in tables:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet")).combine_chunks()
        n = tbl.num_rows
        for field in tbl.schema:
            if not pa.types.is_timestamp(field.type) or n == 0:
                continue
            pool = TS_EXTREMES_NS if field.type.unit == "ns" else TS_EXTREMES_US
            vals = tbl.column(field.name).combine_chunks().to_pylist()
            k = max(1, int(n * frac))
            hits = np.sort(rng.choice(n, size=k, replace=False))
            picks = rng.integers(0, len(pool), size=k)
            for i, c in zip(hits, picks):
                vals[i] = datetime.datetime.fromisoformat(pool[c])
            new = pa.array(vals, type=field.type)
            idx = tbl.column_names.index(field.name)
            tbl = tbl.set_column(idx, tbl.schema.field(idx), new)
            planted[f"{t}.{field.name}"] = int(k)
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))
        print(f"wrote {t}: {n} rows")
    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(
            {
                "mode": "timestamp-extreme",
                "base": base,
                "seed": seed,
                "frac": frac,
                "extremes_us": list(TS_EXTREMES_US),
                "extremes_ns": list(TS_EXTREMES_NS),
                "planted": planted,
            },
            f,
        )


# Extreme FINITE double magnitudes (round-16 post-close probe, rebuilt
# round-17 as a committed generator — the r16 run was ad-hoc and only
# its artifact survived, artifacts/EXTREME_r16.json). The failure
# field: decimal capacity (DuckDB CAST raises past DECIMAL(25,6) where Spark's
# non-ANSI cast NULLs), shortest-repr double→decimal conversion drift,
# INT32/INT64 casts of huge FLOOR results, and — once those are fixed —
# the comparator's own tolerance semantics at magnitudes where 1 ULP
# exceeds any absolute epsilon (the motivation for tests/oracle.py
# REL_TOL). All values FINITE: NaN/±Inf are the nonfinite axis's job.
DOUBLE_EXTREMES = (
    1e300, -1e300, 1e19, -1e19, 9.9e18, 1e-300, 5e-324,
    1.7976931348623157e308,  # DBL_MAX
)


def inject_double_extremes(
    base: str, out: str, seed: int = 6161, frac: float = 0.005
) -> None:
    """Copy every driver table from `base` with ~frac of every plain
    DOUBLE column replaced by extreme finite magnitudes
    (DOUBLE_EXTREMES; same recipe/seed as the r16 ad-hoc probe so the
    fixture reproduces artifacts/EXTREME_r16.json's). Array<float>
    embedding columns are left alone — vector_elements_valid owns corrupt-vector
    policy and ANN math at 1e300 overflows by design. Deterministic;
    schema preserved."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    planted: dict[str, int] = {}
    for t in tables:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet")).combine_chunks()
        n = tbl.num_rows
        for field in tbl.schema:
            if not pa.types.is_float64(field.type) or n == 0:
                continue
            vals = tbl.column(field.name).combine_chunks().to_pylist()
            k = max(1, int(n * frac))
            hits = np.sort(rng.choice(n, size=k, replace=False))
            picks = rng.integers(0, len(DOUBLE_EXTREMES), size=k)
            for i, c in zip(hits, picks):
                vals[i] = DOUBLE_EXTREMES[c]
            new = pa.array(vals, type=field.type)
            idx = tbl.column_names.index(field.name)
            tbl = tbl.set_column(idx, tbl.schema.field(idx), new)
            planted[f"{t}.{field.name}"] = int(k)
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))
        print(f"wrote {t}: {n} rows")
    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(
            {
                "mode": "double-extreme",
                "base": base,
                "seed": seed,
                "frac": frac,
                "extremes": [repr(v) for v in DOUBLE_EXTREMES],
                "planted": planted,
            },
            f,
        )


# the single id column re-keyed on appended duplicate rows. lineitem is
# the identityless fact table (the driver's own data repeats
# (l_orderkey, l_linenumber) pairs), so its re-key just keeps appended
# rows out of existing baskets — each copied line becomes a singleton
# basket under a fresh l_orderkey.
DUPROW_REKEY = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def inject_duprows(base: str, out: str, seed: int = 3141, frac: float = 0.3) -> None:
    """Copy every driver table from `base` with ~frac·n duplicate rows
    appended — IDENTICAL payloads under FRESH ids (max_id+1+i in the
    table's id column, DUPROW_REKEY). This is the retry/re-crawl shape
    a real ingest produces: same content, new identity. It exercises
    the totality exemption (payload-identical sort ties at every
    window/LIMIT site), count-sensitive semantics under content
    multiplicity (df caps, basket counts, PMI doubling), trained
    operators on a duplicated-vector corpus, and the dedup families on
    input that actually contains duplicates.

    The first form of this probe appended byte-exact rows INCLUDING the
    id — and 11 queries diverged, every one tracing to the planted
    id-collision: per-id operators (postings df, tree depth, PMI,
    winnowing, contamination) and trained vector models have NO defined
    multiplicity semantics in either engine, which is exactly what the
    declared id contract (checks.enforce_unique_key: ids must be
    unique) exists to exclude — ingest must dedup/validate first, and
    the exact-dedup family IS the shipped tool for that. Re-keying
    turns the axis into the defined-question form. Deterministic;
    schema preserved."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    planted: dict[str, int] = {}
    for t in tables:
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet")).combine_chunks()
        n = tbl.num_rows
        k = max(1, int(n * frac)) if n else 0
        if k:
            picks = rng.integers(0, n, size=k)  # with replacement
            extra = tbl.take(pa.array(picks))
            key = DUPROW_REKEY[t]
            idx = tbl.column_names.index(key)
            old = tbl.column(key).combine_chunks().to_pylist()
            base_id = max((v for v in old if v is not None), default=0) + 1
            fresh = pa.array(
                [base_id + i for i in range(k)], tbl.schema.field(idx).type
            )
            extra = extra.set_column(idx, tbl.schema.field(idx), fresh)
            tbl = pa.concat_tables([tbl, extra])
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))
        planted[t] = int(k)
        print(f"wrote {t}: {n} + {k} re-keyed duplicate rows")
    with open(os.path.join(out, "MANIFEST.json"), "w") as f:
        json.dump(
            {"mode": "duprows-rekeyed", "base": base, "seed": seed, "frac": frac,
             "rekey": DUPROW_REKEY, "appended": planted},
            f,
        )


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10, help="row multiplier vs sf0.1")
    ap.add_argument("--out", default=".scale/sf1")
    ap.add_argument("--seed", type=int, default=4242)
    ap.add_argument("--skew", action="store_true",
                    help="hot-user events + Zipfian part/supp/cust keys")
    ap.add_argument("--dup-heavy", dest="dup_heavy", action="store_true",
                    help="~50%% near-duplicate documents and embeddings")
    args = ap.parse_args()
    gen(args.mult, args.out, args.seed, skew=args.skew, dup_heavy=args.dup_heavy)
