#!/usr/bin/env python
"""Probe: NULL ELEMENTS inside embedding arrays (vs the whole-cell NULLs
the standing dirty sweep injects). Real parquet can carry them; Spark
fold expressions propagate them to NULL scores while Python-side
packing paths can crash on None inside a collected list (the r10
np.array lesson). Runs every embedding-consuming registry query against
an element-null copy and reports crash / row-count behavior — triage
input for whether the standing tier needs an element-null mode.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VECTOR_QUERIES = [
    "vector_norms",
    "vector_cosine_topk",
    "vector_lsh_buckets",
    "vector_ivf_assignments",
    "vector_ivf_topk",
    "vector_pq_codes",
    "vector_pq_adc_topk",
    "vector_kmeans_centroids",
    "vector_ivfpq_adc_search",
    "vector_matryoshka_topk",
    "vector_quantize_int8",
    "vector_quantize_binary",
    "vector_label_centroids",
    "vector_threshold_labels",
    "vector_ann_recall_report",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh",
    # sorts.py, not vector.py — but its zip_with/aggregate distance also
    # consumes embedding ELEMENTS, and its ASC NULLS FIRST ranking would
    # put a NULL-distance (corrupt) vector at the top (r11 review gap)
    "elbow_cut",
    # r12 registry-grep guard additions (tests/test_element_nulls.py
    # fails if any oracle referencing embeddings is absent here):
    # reads the embeddings table (drops the vector column — trivially
    # element-null-safe, but membership is decided by the guard, not by
    # hand-reasoning about safety)
    "project_drop_vector",
    # the validate-and-reject contract itself: its
    # vector_elements_valid rule must COUNT the corrupt vectors
    "quality_constraint_report",
]


def build(out: str, base: str | None = None) -> int:
    """Copy the driver tables with 1-3 NULL elements injected into ~3% of
    embedding vectors; returns the corrupt-vector count (also recorded in
    MANIFEST.json so the standing tier can assert the
    vector_elements_valid rule counts exactly these)."""
    import json

    if base is None:
        base = os.environ.get("SPARK_GRAFT_SF_BASE", "/root/testdata/sf0.01")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(99)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"):
        pq.write_table(
            pq.read_table(os.path.join(base, f"{t}.parquet")),
            os.path.join(out, f"{t}.parquet"),
        )
    tbl = pq.read_table(os.path.join(base, "embeddings.parquet"))
    vals = tbl.column("embedding").to_pylist()
    # ~3% of vectors get 1-3 NULL elements at random positions
    corrupt = rng.choice(len(vals), size=max(1, len(vals) * 3 // 100),
                         replace=False)
    for i in corrupt:
        v = list(vals[i])
        for _ in range(int(rng.integers(1, 4))):
            v[int(rng.integers(0, len(v)))] = None
        vals[i] = v
    emb_field = tbl.schema.field("embedding")
    cols = {n: tbl.column(n) for n in tbl.schema.names}
    cols["embedding"] = pa.array(vals, type=emb_field.type)
    out_tbl = pa.Table.from_arrays(
        [cols[n] for n in tbl.schema.names], names=tbl.schema.names
    )
    pq.write_table(out_tbl, os.path.join(out, "embeddings.parquet"))
    with open(os.path.join(out, "MANIFEST.json"), "w") as fh:
        json.dump({"base": base, "n_corrupt_vectors": len(corrupt)}, fh)
    return len(corrupt)


def main() -> None:
    out = ".scale/elemnulls0.01"
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        build(out)
    import __spark_entry__ as contract
    from _sweeplib import session

    spark = session(16)
    queries = contract.queries()
    for name in VECTOR_QUERIES:
        try:
            n = queries[name](spark, out).count()
            base_n = queries[name](spark, "/root/testdata/sf0.01").count()
            print(f"{name}: OK rows={n} (clean={base_n})", flush=True)
        except Exception as e:
            tb = traceback.format_exc()
            line = [ln for ln in tb.splitlines() if "ndl_core" in ln]
            print(
                f"{name}: CRASH {type(e).__name__}: {str(e)[:160]} "
                f"| {line[-1].strip() if line else ''}",
                flush=True,
            )


if __name__ == "__main__":
    main()
