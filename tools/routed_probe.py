"""Routed-entries recall probe (round-10 verdict item 3).

Measures beam-search recall@5 over ONE SQ8-built graph at growing N
for (a) the hash-spread entry default and (b) IVF-routed entries at
several (ROUTE_K, nprobe, epc) settings with the SAME 24-entry/query
budget and the SAME BEAM/HOPS.  Ground truth is a numpy brute-force
top-5 (driver-side — this is a probe tool, not a query; 10 queries x
N x 64 dims is trivial).

Corpus: the deterministic dim-64 generator from widevec_probe (10
weak centers + noise, fixed seed) — the sf tables' structure at any
N, WITHOUT the scale_probe copy-duplication (exact duplicates make
recall@5 degenerate: truth = the query's own copies).

Usage: python tools/routed_probe.py [N] [hops_sweep]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from tools.scale_probe import get_spark
from tools.widevec_probe import gen

import activity_classifier_spark_cassandra_spark.operators.graph_ann as GA
from activity_classifier_spark_cassandra_spark.operators.graph_ann import (
    beam_search,
    beam_search_routed,
    build_knn_graph_q8,
    routed_entry_frontier,
)
from activity_classifier_spark_cassandra_spark.operators.similarity import (
    train_kmeans_centroids,
)


def brute_truth(path: str, n_queries: int, k: int) -> dict[int, set]:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    E = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    ids = t["vec_id"].to_numpy()
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    truth = {}
    for q in range(n_queries):
        qi = int(np.where(ids == q)[0][0])
        cos = En @ En[qi]
        cos[qi] = -2.0
        top = np.argsort(-np.round(cos, 6) + ids * 1e-18)  # cos desc
        # deterministic tie-break (cosine desc, id asc) like the engine
        pairs = sorted(
            [(-round(float(cos[j]), 6), int(ids[j])) for j in top[: 4 * k]]
        )[:k]
        truth[q] = {i for _, i in pairs}
    return truth


def recall(df, truth, k: int) -> float:
    pdf = df.toPandas()
    hits = 0
    for q, grp in pdf.groupby("query_id"):
        hits += len(set(grp.neighbor_id) & truth[int(q)])
    return hits / (len(truth) * k)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    hops_sweep = len(sys.argv) > 2 and sys.argv[2] == "hops"
    path = gen(n, 64)
    truth = brute_truth(path, GA.N_QUERIES, GA.TOP_K)

    spark = get_spark()
    emb = spark.read.parquet(path).repartition(32).localCheckpoint(True)
    t0 = time.time()
    graph = build_knn_graph_q8(emb).localCheckpoint(eager=True)
    print(f"BUILD q8 N={n}: {time.time() - t0:.1f}s", flush=True)

    rows = []
    t0 = time.time()
    r = recall(beam_search(emb, graph), truth, GA.TOP_K)
    rows.append(("hash-spread (default)", r, time.time() - t0))
    print(f"ROW {rows[-1]}", flush=True)

    for route_k in (16, 64):
        t0 = time.time()
        cents = train_kmeans_centroids(emb, k=route_k)
        t_train = time.time() - t0
        for nprobe in (3, 6, 12):
            qs = emb.filter(emb.vec_id < GA.N_QUERIES).select(
                emb.vec_id.alias("query_id"), emb.embedding.alias("e1")
            )
            t0 = time.time()
            ef = routed_entry_frontier(emb, graph, qs, cents, nprobe)
            r = recall(
                beam_search(emb, graph, queries=qs, entry_frontier=ef),
                truth,
                GA.TOP_K,
            )
            rows.append(
                (
                    f"routed k={route_k} np={nprobe}"
                    f" (train {t_train:.1f}s)",
                    r,
                    time.time() - t0,
                )
            )
            print(f"ROW {rows[-1]}", flush=True)

    if hops_sweep:
        cents = train_kmeans_centroids(emb, k=64)
        qs = emb.filter(emb.vec_id < GA.N_QUERIES).select(
            emb.vec_id.alias("query_id"), emb.embedding.alias("e1")
        )
        saved = GA.HOPS
        for hops in (2, 3, 4, 6):
            GA.HOPS = hops
            t0 = time.time()
            ef = routed_entry_frontier(emb, graph, qs, cents)
            r_routed = recall(
                beam_search(emb, graph, queries=qs, entry_frontier=ef),
                truth,
                GA.TOP_K,
            )
            t_routed = time.time() - t0
            t0 = time.time()
            r_hash = recall(beam_search(emb, graph), truth, GA.TOP_K)
            t_hash = time.time() - t0
            print(
                f"HOPS {hops}: routed={r_routed:.2f} ({t_routed:.1f}s)"
                f"  hash={r_hash:.2f} ({t_hash:.1f}s)",
                flush=True,
            )
        GA.HOPS = saved

    print(f"\n| entries | N | recall@5 | search wall |")
    print("|---|---|---|---|")
    for name, r, w in rows:
        print(f"| {name} | {n:,} | {r:.2f} | {w:.1f}s |")


if __name__ == "__main__":
    main()
