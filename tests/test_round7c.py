"""Round-7 third batch: SemDeDup over trained k-means clusters, the
GD-trained hashed quality classifier, and embedding-space benchmark
decontamination — each checked against an independent numpy replay on
real testdata, plus the semantic invariants the operators promise."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from activity_classifier_spark_cassandra_spark.operators.corpus import (
    BENCH_MOD,
    QC_STOP_TAU,
    QC_STOPLIST,
    SEM_DECON_BENCH_MAX,
    SEM_DECON_TAU,
    q_decontaminate_semantic,
    q_quality_classifier,
)
from activity_classifier_spark_cassandra_spark.operators.dedup import (
    SEMDEDUP_TAU,
    q_semdedup,
)
from activity_classifier_spark_cassandra_spark.sources.io import load_table

SF_DIR = "/root/testdata/sf0.001"


def _is_bench(vec_id: int) -> bool:
    return vec_id % BENCH_MOD == 0 and vec_id < SEM_DECON_BENCH_MAX


# --------------------------------------------------------- semdedup
def test_semdedup_covers_every_vector_once(spark):
    out = q_semdedup(spark, SF_DIR).collect()
    n_emb = load_table(spark, SF_DIR, "embeddings").count()
    assert len(out) == n_emb
    assert len({r.vec_id for r in out}) == n_emb


def test_semdedup_dominance_rule_replayed_in_numpy(spark):
    """Independent replay: within each cluster (as assigned by the
    operator itself), a vector is removed iff some tau-neighbor is
    strictly farther from the centroid (tie: lower vec_id)."""
    rows = q_semdedup(spark, SF_DIR).collect()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }
    from activity_classifier_spark_cassandra_spark.operators.dedup import (
        MAX_CLUSTER_SIZE,
    )

    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    kept_flags = {}
    for members in by_cluster.values():
        if len(members) > MAX_CLUSTER_SIZE:
            # over-cap clusters take the documented passthrough path
            for r in members:
                kept_flags[r.vec_id] = True
            continue
        E = np.stack([emb[r.vec_id] for r in members])
        ids = np.array([r.vec_id for r in members])
        d2c = np.array([r.d2_centroid for r in members])
        norms = np.sqrt((E * E).sum(axis=1))
        C = (E @ E.T) / np.outer(norms, norms)
        C = np.floor(C * 1e6 + 0.5) / 1e6
        for i in range(len(members)):
            lost = False
            for j in range(len(members)):
                if i == j or C[i, j] < SEMDEDUP_TAU:
                    continue
                if d2c[j] > d2c[i] or (
                    d2c[j] == d2c[i] and ids[j] < ids[i]
                ):
                    lost = True
                    break
            kept_flags[ids[i]] = not lost
    for r in rows:
        assert r.kept == kept_flags[r.vec_id], r


def test_semdedup_keeps_a_representative_per_group(spark):
    """The dominance maximum of any tau-connected set survives — so no
    cluster is ever emptied, and some vector is removed at tau=0.2 on
    this data (the gate is non-vacuous)."""
    rows = q_semdedup(spark, SF_DIR).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    for members in by_cluster.values():
        assert any(r.kept for r in members)
    assert any(not r.kept for r in rows)


# ---------------------------------------------- quality classifier
def test_quality_classifier_learns_its_teacher(spark):
    """The training loop must WORK, not just terminate: train accuracy
    far above the majority class on the stopword-density teacher."""
    rows = q_quality_classifier(spark, SF_DIR).collect()
    acc = sum(r.predicted == (r.y_label == 1.0) for r in rows) / len(rows)
    majority = max(
        sum(r.y_label == 1.0 for r in rows),
        sum(r.y_label == 0.0 for r in rows),
    ) / len(rows)
    assert acc >= 0.85
    assert acc > majority + 0.15


def test_quality_classifier_label_and_score_contract(spark):
    rows = q_quality_classifier(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents").collect()
    assert len(rows) == len(docs)
    stops = set(QC_STOPLIST)
    for d in docs:
        toks = [t for t in d.text.split() if t]
        ratio = round(sum(t in stops for t in toks) / len(toks), 6)
        expected = 1.0 if ratio >= QC_STOP_TAU else 0.0
        row = next(r for r in rows if r.doc_id == d.doc_id)
        assert row.y_label == expected
        assert 0.0 <= row.score <= 1.0
        assert row.predicted == (row.score >= 0.5)


# ------------------------------------- semantic decontamination
def test_decontaminate_semantic_excludes_benchmark_rows(spark):
    out = q_decontaminate_semantic(spark, SF_DIR).collect()
    assert all(not _is_bench(r.vec_id) for r in out)
    n_corpus = sum(
        not _is_bench(r.vec_id)
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    )
    assert len(out) == n_corpus


def test_decontaminate_semantic_matches_numpy_brute_force(spark):
    emb = load_table(spark, SF_DIR, "embeddings").collect()
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb
    }
    bench = {
        i: np.round(v, 6) for i, v in vecs.items() if _is_bench(i)
    }
    out = q_decontaminate_semantic(spark, SF_DIR).collect()
    for r in out:
        e = vecs[r.vec_id]
        ne = np.sqrt((e * e).sum())
        best = max(
            (
                round(float(e @ b) / (ne * np.sqrt((b * b).sum())), 6),
                -bid,
            )
            for bid, b in bench.items()
        )
        assert abs(r.max_cos - best[0]) < 2e-6
        assert r.nearest_bench_id == -best[1]
        assert r.dropped == (r.max_cos >= SEM_DECON_TAU)


# ------------------------------------------- DSIR Gumbel-top-k sample
def test_dsir_sample_python_replay(spark):
    """Replay the deterministic Gumbel perturbation + top-k in Python
    from the operator's own weight table."""
    import hashlib
    import math

    from activity_classifier_spark_cassandra_spark.operators.corpus import (
        DSIR_GUMBEL_SEED,
        DSIR_TOP_K,
        q_dsir_sample,
        q_dsir_weights,
    )

    weights = {
        r.doc_id: r.log_weight
        for r in q_dsir_weights(spark, SF_DIR).collect()
    }

    def h60(v, seed):
        md = hashlib.md5(f"{seed}|{v}".encode()).hexdigest()
        return int(md[:15], 16)

    scored = []
    for doc_id, lw in weights.items():
        u = (h60(doc_id, DSIR_GUMBEL_SEED) % 1_000_000_000 + 0.5) / 1e9
        g = round(-math.log(-math.log(u)), 6)
        scored.append((round(lw + g, 6), -doc_id, doc_id, g))
    scored.sort(reverse=True)
    expect = {(d, s) for s, _, d, _ in scored[:DSIR_TOP_K]}

    out = q_dsir_sample(spark, SF_DIR).collect()
    assert len(out) == DSIR_TOP_K
    got = {(r.doc_id, r.score) for r in out}
    assert got == expect
    for r in out:
        assert abs(r.score - round(r.log_weight + r.gumbel, 6)) < 1e-9


def test_dsir_sample_enriches_target_slice(spark):
    """The selected subset must over-represent the target (non-English)
    slice relative to the corpus — the point of importance sampling."""
    from activity_classifier_spark_cassandra_spark.operators.corpus import (
        q_dsir_sample,
    )

    docs = {
        r.doc_id: r.lang
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    base_rate = sum(1 for v in docs.values() if v != "en") / len(docs)
    out = q_dsir_sample(spark, SF_DIR).collect()
    sel_rate = sum(1 for r in out if docs[r.doc_id] != "en") / len(out)
    assert sel_rate > base_rate


# ------------------------------------- token-budget mixture allocation
def test_domain_mix_budget_invariants(spark):
    from activity_classifier_spark_cassandra_spark.operators.corpus import (
        MIX_BUDGET_FRAC,
        q_domain_mix_budget,
    )

    rows = q_domain_mix_budget(spark, SF_DIR).collect()
    total_avail = sum(r.n_tokens for r in rows)
    budget = int(total_avail * MIX_BUDGET_FRAC)
    total_alloc = sum(r.alloc_tokens for r in rows)
    # never allocate more than available per source, nor over budget
    for r in rows:
        assert r.alloc_tokens <= r.n_tokens + 1e-6, r
        if r.capped:
            assert r.alloc_tokens == float(r.n_tokens), r
    assert total_alloc <= budget + 1e-3
    # the budget is actually used (allocation is not degenerate)
    assert total_alloc >= 0.95 * min(budget, total_avail)
    # uncapped sources split the remainder proportionally to weight
    uncapped = [r for r in rows if not r.capped]
    if len(uncapped) >= 2:
        ratios = {
            round(r.alloc_tokens / r.weight, 2) for r in uncapped
        }
        assert len(ratios) == 1, ratios


def test_domain_mix_budget_python_replay(spark):
    from activity_classifier_spark_cassandra_spark.operators.corpus import (
        MIX_ALPHA,
        MIX_BUDGET_FRAC,
        MIX_ROUNDS,
        q_domain_mix_budget,
    )

    docs = load_table(spark, SF_DIR, "documents").collect()
    avail: dict[str, int] = {}
    for d in docs:
        toks = [t for t in d.text.split() if t]
        avail[d.source] = avail.get(d.source, 0) + len(toks)
    import math

    assert MIX_ALPHA == 0.5
    budget = int(sum(avail.values()) * MIX_BUDGET_FRAC)
    # math.sqrt, not n**0.5: sqrt is IEEE-correctly-rounded like the
    # engines' SQRT; pow is not guaranteed to the last ulp
    w = {s: round(math.sqrt(n), 6) for s, n in avail.items()}
    capped: dict[str, bool] = {s: False for s in avail}
    alloc: dict[str, float] = {s: 0.0 for s in avail}
    for _ in range(MIX_ROUNDS):
        spent = sum(a for s, a in alloc.items() if capped[s])
        open_w = sum(w[s] for s in avail if not capped[s])
        ask = {
            s: round((budget - spent) * w[s] / open_w, 6)
            for s in avail
            if not capped[s]
        }
        for s, a in ask.items():
            if a >= avail[s]:
                capped[s] = True
                alloc[s] = float(avail[s])
            else:
                alloc[s] = a
    out = {r.source: r for r in q_domain_mix_budget(spark, SF_DIR).collect()}
    assert set(out) == set(avail)
    for s, r in out.items():
        assert r.n_tokens == avail[s]
        assert r.capped == capped[s], s
        assert abs(r.alloc_tokens - round(alloc[s], 6)) < 1e-6, s
