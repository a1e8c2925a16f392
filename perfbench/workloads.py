"""The benchmark's two workloads: inputs, one timed iteration of public
engine calls, and the correctness checks on that iteration's outputs.

``activity`` is the paper's own job plus its streaming twin: sensor
events -> sessions -> windows -> features -> train/evaluate a decision
tree and a random forest -> save/load -> single-vector serving, then
the same events drained as a file stream through the state-store
sessionizer.

``similarity`` is the corpus side: a graph-ANN index built, searched
with held-out queries, then grown and shrunk, followed by the five
text near-duplicate operators over a corpus with planted near-dups.

Every public call runs inside a span and its DataFrame result is forced
with ``localCheckpoint(eager=True)``: Spark is lazy, so without it the
span would time plan construction only.  The checkpoint also keeps the
result for the checks, which run after the timed loop.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

import duckdb
import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as E
from activity_classifier_spark_cassandra_spark.constants import EVENTS_SESSION_GAP_MS, EVENTS_WINDOW_MS
from activity_classifier_spark_cassandra_spark.functions.labels import encode_event_type
from activity_classifier_spark_cassandra_spark.ml import models as M
from activity_classifier_spark_cassandra_spark.operators import dedup as D
from activity_classifier_spark_cassandra_spark.operators import graph_ann as GA
from activity_classifier_spark_cassandra_spark.operators.features import extract_features
from activity_classifier_spark_cassandra_spark.operators.sessions import with_session_id
from activity_classifier_spark_cassandra_spark.operators.windows import with_window_id
from activity_classifier_spark_cassandra_spark.plans import pipeline as P
from activity_classifier_spark_cassandra_spark.sources.io import load_table
from activity_classifier_spark_cassandra_spark.streaming import sessions as STR
from tools.verify_oracle import _canon, _value_hash

import gen
from spans import Tracer

# Input sizes.  Fixed across seeds: a seed changes values, never sizes.
# Every run starts a fresh JVM and pays Spark's cold start, so sizes are
# set by the time budget of a run, not by the data volume the engine
# could take (README.md, "Workloads").
EVENTS = dict(n_rows=60_000, n_users=300, days=30, n_files=5)
N_SERVE = 15
ANN = dict(n=600, dim=16, n_clusters=24, n_queries=100, n_inserts=50, n_deletes=50, n_files=4)
DOCS = dict(n_docs=800, vocab=2_000, dup_share=0.3, edit_share=0.05, n_files=4)
# Logistic regression is left out of the timed loop: its LBFGS fit is
# ~100 jobs (a third of the workload's time) with a seed-dependent
# iteration count.
ALGOS = ("decision_tree", "random_forest")
DEDUP_QUERIES = (
    D.q_dedup_exact,
    D.q_dedup_minhash,
    D.q_dedup_minhash_cc,
    D.q_dedup_apply,
    D.q_simhash_near_dup,
)
RECALL_FLOOR = 0.8


def force(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


@dataclass
class Run:
    spark: SparkSession
    tracer: Tracer
    data: str  # generated inputs (read-only to the engine)
    work: str  # models and stream checkpoints
    traced: bool
    inputs: dict = field(default_factory=dict)


def _oracle_frame(data: str, tables: list[str], sql: str, rounded: bool = True):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    if not rounded:
        con.execute("CREATE MACRO round(x, n) AS x")  # shadows the built-in
    return _canon(con.execute(sql).df())


def _tie_cells(got, want, unrounded) -> int | None:
    """Number of float cells where the engine and the oracle round the
    same exact half-tie in opposite directions, or None if any other
    cell differs (``-0.0 == 0.0``, as IEEE compares them).  Spark
    rounds the binary value half-up through BigDecimal; DuckDB scales
    and rounds in floating point, so values within an ulp of
    ``x.xxxxxx5`` can land on either neighbour (the plans/pipeline.py
    3-axis note).  Only cells whose unrounded oracle value sits on the
    midpoint of the two answers are forgiven."""
    keys = [c for c in got.columns if got[c].dtype.kind != "f"]
    g, w, u = (df.set_index(keys).sort_index() for df in (got, want, unrounded))
    if not (g.index.is_unique and g.index.equals(w.index) and g.index.equals(u.index)):
        return None
    ties = 0
    for c in g.columns:
        a, b, x = g[c].to_numpy(), w[c].to_numpy(), u[c].to_numpy()
        diff = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        tie = diff & (np.abs(a - b) <= 1.5e-6) & (np.abs(x - (a + b) / 2) <= 1e-9)
        if (diff & ~tie).any():
            return None
        ties += int(tie.sum())
    return ties


def _oracle_check(df: DataFrame, data: str, tables: list[str], name: str) -> tuple[bool, str]:
    got = _canon(df.toPandas())
    sql = E.oracle_sql()[name]
    want = _oracle_frame(data, tables, sql)
    msg = f"{name}: {len(got)} rows vs oracle {len(want)}"
    if not (len(got) == len(want) > 0 and list(got.columns) == list(want.columns)):
        return False, msg
    if _value_hash(got) == _value_hash(want):
        return True, msg + ", hash equal"
    ties = _tie_cells(got, want, _oracle_frame(data, tables, sql, rounded=False))
    detail = "values differ" if ties is None else f"values equal but {ties} cells rounded across a half-tie"
    return ties is not None, f"{msg}, {detail}"


# ------------------------------------------------------------- activity


def activity_inputs(seed: int, data: str) -> dict:
    gen.write_events(seed, data, **EVENTS)
    return {"serve": gen.serving_vectors(seed, N_SERVE)}


def _features_traced(run: Run) -> DataFrame:
    """``plans.pipeline.q_session_features`` split at its layer
    boundaries, each forced, so each layer gets its own span."""
    sp, tr = run.spark, run.tracer
    with tr.span("sources.io.load_table"):
        samples = force(P.event_samples(sp, run.data))
    with tr.span("operators.sessions.with_session_id"):
        sess = force(with_session_id(samples, keys=P.KEYS, ts_col="ts_ms", gap=EVENTS_SESSION_GAP_MS, tiebreak=["event_id"]))
    with tr.span("operators.windows.with_window_id"):
        win = force(with_window_id(sess, keys=P.KEYS, ts_col="ts_ms", window_ticks=EVENTS_WINDOW_MS))
    with tr.span("operators.features.extract_features"):
        feats = extract_features(win, group_cols=P.GROUP, axes={"v": "value"}, ts_col="ts_ms", tiebreak=["event_id"])
        # the projection q_session_features applies to the same frame
        return force(
            feats.select(
                "user_id",
                "event_type",
                F.col("session_id").cast("long").alias("session_id"),
                F.col("window_id").cast("long").alias("window_id"),
                "n_samples",
                *[F.round(c, 6).alias(c) for c in ("mean_v", "var_v", "avg_abs_diff_v", "resultant", "avg_time_peak")],
                encode_event_type().alias("label"),
            )
        )


def _stream_rows(df: DataFrame) -> DataFrame:
    """The oracle's row shape (``q_stream_session_features``)."""
    return df.select(
        "user_id",
        "event_type",
        F.unix_millis("session_start").alias("session_start_ms"),
        F.unix_millis("session_end").alias("session_end_ms"),
        "n_samples",
        F.round("mean_v", 6).alias("mean_v"),
        F.round("var_v", 6).alias("var_v"),
        "min_v",
        "max_v",
        F.round("resultant", 6).alias("resultant"),
    )


def activity_iteration(run: Run, it: int) -> dict:
    sp, tr = run.spark, run.tracer
    out: dict = {}
    with tr.span("plans.pipeline.q_session_features"):
        out["features"] = _features_traced(run) if run.traced else force(P.q_session_features(sp, run.data))

    with tr.span("ml.models.train_test_split"):
        train, test = M.train_test_split(M.feature_frame(sp, run.data))
        train, test = train.cache(), test.cache()
        train.count(), test.count()  # materialize both caches, every column
    errors = {}
    for algo in ALGOS:
        with tr.span("ml.models.fit"):
            model = M.build_pipeline(algo).fit(train)
        with tr.span("ml.models.error_rate"):
            errors[algo] = M.error_rate(model.transform(test))
        if algo == "decision_tree":
            tree = model
    train.unpersist()
    test.unpersist()
    out["errors"] = errors

    path = os.path.join(run.work, f"model-{it}")
    with tr.span("ml.models.save_model"):
        M.save_model(tree, path)
    with tr.span("ml.models.load_model"):
        served = M.load_model(path)
    out["model"] = served
    preds = []
    for v in run.inputs["serve"]:
        with tr.span("ml.models.predict_point"):
            preds.append(M.predict_point(sp, served, v))
    out["served"] = preds

    src = os.path.join(run.data, "events.parquet")
    ckpt = os.path.join(run.work, f"stream-ckpt-{it}")
    sink = f"stream_sessions_{it}"
    with tr.span("streaming.sessions.session_stream_features") as span:
        events = (
            sp.readStream.schema(sp.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("user_id", "event_type", "ts", "value")
        )
        q = (
            _stream_rows(STR.session_stream_features(events))
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        span.aliases.append(str(q.runId))  # Spark tags micro-batch jobs with the run id
        if not q.awaitTermination(150):  # re-raises the query's own failure
            q.stop()
            raise TimeoutError("stream did not drain within 150 s")
    out["progress"] = [p for p in q.recentProgress if p["numInputRows"] > 0]
    out["stream"] = sp.table(sink)
    return out


def activity_checks(run: Run, out: dict) -> list[tuple[str, bool, str]]:
    checks = []
    ok, msg = _oracle_check(out["features"], run.data, ["events"], "q_session_features")
    checks.append(("features_match_oracle", ok, msg))

    got = _canon(out["stream"].toPandas())
    sql = STR.STREAM_SESSION_FEATURES_SQL
    want = _oracle_frame(run.data, ["events"], sql)
    # sessions still open when the stream ends are not emitted: compare
    # each streamed row with the batch row of the same session
    keys = [c for c in got.columns if got[c].dtype.kind != "f"]
    ties = _tie_cells(
        got,
        want.merge(got[keys], on=keys),
        _oracle_frame(run.data, ["events"], sql, rounded=False).merge(got[keys], on=keys),
    )
    ok = ties is not None and 0.5 * len(want) <= len(got)
    detail = "values differ" if ties is None else f"{ties} cells rounded across a half-tie"
    checks.append(("stream_rows_match_batch", ok, f"{len(got)} streamed of {len(want)} batch sessions, {detail}"))

    served = out["model"].transform(run.spark.createDataFrame(run.inputs["serve"], M.EVENTS_FEATURE_COLS))
    want = [r["prediction"] for r in served.select("prediction").collect()]
    checks.append(("predict_point_matches_transform", want == out["served"], f"{len(want)} vectors"))

    errs = out["errors"]
    ok = all(0.0 < e < 0.8 for e in errs.values())
    checks.append(("models_beat_chance", ok, ", ".join(f"{k}={v:.4f}" for k, v in errs.items())))
    return checks


def activity_report(run: Run, outs: list[dict]) -> dict[str, tuple[float, str]]:
    tr = run.tracer
    lat = sorted(d * 1e3 for d in tr.durations("ml.models.predict_point"))
    trig = [p["durationMs"]["triggerExecution"] for o in outs for p in o["progress"]]
    state = [op for o in outs for p in o["progress"] for op in p["stateOperators"]]
    n = len(outs)
    return {
        "features_s": (tr.total("plans.pipeline.q_session_features") / n, "s"),
        "train_s": (tr.total("ml.models.train_test_split", "ml.models.fit", "ml.models.error_rate") / n, "s"),
        "serve_p50_ms": (statistics.median(lat), "ms"),
        "serve_p90_ms": (statistics.quantiles(lat, n=10)[-1], "ms"),
        "model_error_rate": (outs[0]["errors"]["decision_tree"], "ratio"),
        "trigger_p50_ms": (statistics.median(trig), "ms"),
        "stream_s": (tr.total("streaming.sessions.session_stream_features") / n, "s"),
        "state_rows": (max(op["numRowsTotal"] for op in state), "count"),
        "state_mb": (max(op["memoryUsedBytes"] for op in state) / 1e6, "MB"),
    }


# ----------------------------------------------------------- similarity


def similarity_inputs(seed: int, data: str) -> dict:
    arrays = gen.write_embeddings(seed, data, **ANN)
    gen.write_documents(seed, data, **DOCS)
    return arrays


def similarity_iteration(run: Run, it: int) -> dict:
    sp, tr = run.spark, run.tracer
    out: dict = {}
    emb = load_table(sp, run.data, "embeddings")
    inserts = load_table(sp, run.data, "inserts")
    # build_knn_graph_q8 is called directly: the session memo
    # (memo_graph_q8) would turn every later build into a cache hit
    with tr.span("operators.graph_ann.build_knn_graph_q8"):
        graph = force(GA.build_knn_graph_q8(emb))
    out["rounds"] = GA.last_realized_rounds
    with tr.span("operators.graph_ann.beam_search"):
        out["search"] = force(GA.beam_search(emb, graph, queries=load_table(sp, run.data, "queries"), k=10))
    with tr.span("operators.graph_ann.insert_into_graph"):
        grown = force(GA.insert_into_graph(emb, graph, inserts.select("vec_id", F.col("embedding").alias("e"))))
    with tr.span("operators.graph_ann.delete_from_graph"):
        # the grown graph has edges to inserted vectors, so the bridge
        # rescoring needs their embeddings too
        out["shrunk"] = force(
            GA.delete_from_graph(emb.unionByName(inserts), grown, load_table(sp, run.data, "deletes"))
        )
    out["graph"], out["grown"] = graph, grown
    for q in DEDUP_QUERIES:
        with tr.span(f"operators.dedup.{q.__name__}"):
            out[q.__name__] = force(q(sp, run.data))
    return out


def _cos_top(a: np.ndarray, b: np.ndarray, k: int) -> np.ndarray:
    a = a / np.linalg.norm(a, axis=1, keepdims=True)
    b = b / np.linalg.norm(b, axis=1, keepdims=True)
    return np.argsort(-(a @ b.T), axis=1, kind="stable")[:, :k]


def recall_at_10(run: Run, search: DataFrame) -> float:
    x = run.inputs["index"].astype(np.float64)
    q = run.inputs["queries"].astype(np.float64)
    truth = _cos_top(q, x, 10)
    pdf = search.toPandas()
    found = pdf.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    hits = [len(found.get(int(qid), set()) & set(truth[i].tolist())) for i, qid in enumerate(run.inputs["query_ids"])]
    return sum(hits) / (10.0 * len(hits))


def similarity_checks(run: Run, out: dict) -> list[tuple[str, bool, str]]:
    checks = []
    x = run.inputs["index"].astype(np.float64)
    g = out["graph"].toPandas()
    deg = g.groupby("vec_id").size()
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cos = np.round(np.einsum("ij,ij->i", xn[g.vec_id.to_numpy()], xn[g.neighbor_id.to_numpy()]), 6)
    ok = len(deg) == len(x) and (deg == GA.G_K).all() and np.abs(cos - g.cosine.to_numpy()).max() <= 2e-6
    checks.append(("graph_edges_exact_cosine", bool(ok), f"{len(g)} edges over {len(deg)} vertices"))

    r = out["recall"] = recall_at_10(run, out["search"])
    checks.append(("recall_at_10_vs_numpy", r >= RECALL_FLOOR, f"recall@10={r:.4f} floor {RECALL_FLOOR}"))

    grown = out["grown"].toPandas()
    new = set(run.inputs["insert_ids"].tolist())
    deg = grown.groupby("vec_id").size()
    ok = (deg <= GA.G_K).all() and all(deg.get(i, 0) == GA.G_K for i in new) and set(deg.index) == set(range(len(x))) | new
    checks.append(("insert_links_every_new_vector", bool(ok), f"{len(new)} inserted"))

    shrunk = out["shrunk"].toPandas()
    gone = set(run.inputs["delete_ids"].tolist())
    ok = (
        not gone & set(shrunk.vec_id)
        and not gone & set(shrunk.neighbor_id)
        and (shrunk.groupby("vec_id").size() <= GA.G_K).all()
    )
    checks.append(("delete_removes_every_edge", bool(ok), f"{len(gone)} deleted"))

    for q in DEDUP_QUERIES:
        ok, msg = _oracle_check(out[q.__name__], run.data, ["documents"], q.__name__)
        checks.append((f"{q.__name__}_matches_oracle", ok, msg))
    return checks


def similarity_report(run: Run, outs: list[dict]) -> dict[str, tuple[float, str]]:
    tr = run.tracer
    n = len(outs)
    return {
        "index_build_s": (tr.total("operators.graph_ann.build_knn_graph_q8") / n, "s"),
        "search_s": (tr.total("operators.graph_ann.beam_search") / n, "s"),
        "update_s": (tr.total("operators.graph_ann.insert_into_graph", "operators.graph_ann.delete_from_graph") / n, "s"),
        "recall_at_10": (outs[0]["recall"], "ratio"),
        "dedup_s": (tr.total(*[f"operators.dedup.{q.__name__}" for q in DEDUP_QUERIES]) / n, "s"),
        "build_rounds": (outs[0]["rounds"], "count"),
    }


WORKLOADS = {
    "activity": (activity_inputs, activity_iteration, activity_checks, activity_report),
    "similarity": (similarity_inputs, similarity_iteration, similarity_checks, similarity_report),
}
