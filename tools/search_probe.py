#!/usr/bin/env python
"""Pruning + throughput probe for the search serving CLI
(tools/search.py) — VERDICT r7 item 4.

The index layout's two scale claims get inputFiles-level proof, not
prose:

1. **Dense pruning**: a vector query reads ONLY its nprobe probed cell
   directories — asserted via ``inputFiles()`` on the serving scan
   (path-level listing since r8, so the claim is structural).
2. **Sparse pruning**: the range-partitioned, w-sorted postings let a
   ``w IN (...)`` query skip every parquet file whose [min_w, max_w]
   stats miss the terms — counted directly from the parquet footers
   (pyarrow), alongside the plan's ``PushedFilters`` line.

Plus queries/s at 1x (sf0.1) and 10x index size, min over warm
repeats, appended to docs/SCALING.md. One JSON line on stdout.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

BASE = "/root/testdata/sf0.1"
K = int(os.environ.get("SEARCH_PROBE_K", "10"))
N_QUERIES = int(os.environ.get("SEARCH_PROBE_QUERIES", "10"))


def synthesize(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    span = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for i in range(K):
        d = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * span).cast("long"))
        if i > 0:
            d = d.withColumn("text", F.concat("text", F.lit(f" r{i}")))
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    espan = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    eparts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * espan).cast("long"))
        for i in range(K)
    ]
    eout = eparts[0]
    for p in eparts[1:]:
        eout = eout.unionByName(p)
    eout.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def _tf_file_stats(idx: str, terms: list[str]) -> dict:
    """File/row-group pruning potential straight from parquet footers."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{idx}/tf/*.parquet"))
    total_rg = match_rg = match_files = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        w_i = next(i for i in range(len(md.schema.names))
                   if md.schema.names[i] == "w")
        file_hit = False
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(w_i).statistics
            total_rg += 1
            if any(st.min <= t <= st.max for t in terms):
                match_rg += 1
                file_hit = True
        match_files += file_hit
    return {"files": len(files), "files_matching": match_files,
            "row_groups": total_rg, "row_groups_matching": match_rg}


def probe_index(spark, sf_dir: str, idx: str) -> dict:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "acs_tools_search", Path(__file__).resolve().parent / "search.py")
    search = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(search)

    summary = search.build_index(spark, sf_dir, idx)

    # -- dense: the serving scan lists ONLY the probed cell dirs --------
    nprobe = 3
    q_ids = [r.vec_id for r in (
        spark.read.parquet(f"{idx}/vectors")
        .filter("vec_id % 100 = 0").orderBy("vec_id")
        .limit(N_QUERIES).collect())]
    q_vec = search._load_query_vec(spark, idx, q_ids[0])
    cells = search.probe_cells(spark, idx, q_vec, nprobe)
    res = search.vector_search(spark, idx, q_ids[0], q_vec, nprobe=nprobe)
    listed = res.inputFiles()
    assert listed and all(
        any(f"/cell={c}/" in f for c in cells) for f in listed
    ), f"vector scan listed outside probed cells: {listed}"
    all_files = glob.glob(f"{idx}/vectors/cell=*/*.parquet")
    dense = {"nprobe": nprobe, "n_cells": summary["n_cells"],
             "files_total": len(all_files), "files_listed": len(listed)}

    # -- sparse: footer stats + pushdown ------------------------------
    terms = search._auto_terms(spark, idx)
    sparse = _tf_file_stats(idx, terms)
    tf = spark.read.parquet(f"{idx}/tf")
    plan = (tf.filter(tf["w"].isin(terms))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan and "In(w" in plan, plan[:500]
    sparse["pushdown"] = True

    # -- throughput: warm serving queries/s ----------------------------
    for fn in ("vector", "text"):  # warm both paths once
        if fn == "vector":
            search.vector_search(spark, idx, q_ids[0], q_vec,
                                 nprobe=nprobe).collect()
        else:
            search.bm25_search(spark, idx, terms).collect()
    t0 = time.perf_counter()
    for qid in q_ids:
        v = search._load_query_vec(spark, idx, qid)
        search.vector_search(spark, idx, qid, v, nprobe=nprobe).collect()
    vec_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for i in range(N_QUERIES):
        search.bm25_search(spark, idx, terms).collect()
    txt_s = time.perf_counter() - t0
    return {
        "index": summary, "dense": dense, "sparse": sparse,
        "vector_qps": round(N_QUERIES / vec_s, 2),
        "text_qps": round(N_QUERIES / txt_s, 2),
    }


def main() -> None:
    from arango_clickhouse_replica_spark.session import get_spark

    spark = get_spark("search-probe")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="search_probe_")
    try:
        print(f"probing 1x index at {BASE} ...", file=sys.stderr)
        one = probe_index(spark, BASE, os.path.join(work, "idx1"))
        print(f"synthesizing {K}x corpus ...", file=sys.stderr)
        big_dir = os.path.join(work, "big")
        synthesize(spark, big_dir)
        big = probe_index(spark, big_dir, os.path.join(work, "idxK"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [
        "",
        f"## Search-serving pruning probe (round 8 — r7 verdict item 4)",
        "",
        f"tools/search_probe.py over the sf0.1 index and a {K}x synthetic "
        "corpus (salted docs, replicated vectors). Dense: the IVF serving "
        "scan lists only the probed cell dirs (asserted via inputFiles on "
        "the path-level listing). Sparse: postings are range-partitioned "
        "and sorted by term, so footer stats skip non-matching files; "
        "PushedFilters carries the IN(w) predicate.",
        "",
        "| scale | vectors | cells read | vector files listed/total | "
        "tf files matching/total | tf row-groups matching/total | "
        "vector q/s | text q/s |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for tag, r in (("1x", one), (f"{K}x", big)):
        lines.append(
            f"| {tag} | {r['index']['n_vectors']:,} "
            f"| {r['dense']['nprobe']}/{r['dense']['n_cells']} "
            f"| {r['dense']['files_listed']}/{r['dense']['files_total']} "
            f"| {r['sparse']['files_matching']}/{r['sparse']['files']} "
            f"| {r['sparse']['row_groups_matching']}/{r['sparse']['row_groups']} "
            f"| {r['vector_qps']} | {r['text_qps']} |"
        )
    with open("docs/SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"k": K, "one": one, "big": big}))


if __name__ == "__main__":
    main()
