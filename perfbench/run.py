"""Benchmark entry point.

    python3 perfbench/run.py --workload activity --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, starts one local[4]
Spark session in this process, runs the workload's public engine calls
in a closed loop (one client, one job in flight) for at least
``--seconds`` and at least one iteration, checks the outputs, and
prints every metric by name with its unit.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  A failed check or a failed call exits 1.

Everything it writes stays under the checkout: inputs, Spark scratch
and stream checkpoints in ``.perfbench_work/`` (removed at exit); the
span file and the untraced job times the traced run compares against
in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
SETUPS = 5

# Per-layer metrics, ``<module>.<function>.<kind>``.  Spill is kept only
# where the layer map (README.md) expects it to move: the feature
# layers, the training scan, the state store.  CPU time is kept only on
# spans with real executor work.
_FULL = ("busy_s", "jobs", "gap_s", "shuffle_mb", "cpu_s", "spill_mb")
_WORK = ("busy_s", "jobs", "gap_s", "shuffle_mb", "cpu_s")
_DRIVER = ("busy_s", "jobs", "gap_s")
SPAN_KINDS = {
    "session.get_spark": ("busy_s",),
    "sources.io.load_table": _FULL,
    "operators.sessions.with_session_id": _FULL,
    "operators.windows.with_window_id": _FULL,
    "operators.features.extract_features": _FULL,
    "ml.models.train_test_split": _FULL,
    "ml.models.fit": _WORK,
    "ml.models.error_rate": _DRIVER,
    "ml.models.save_model": _DRIVER,
    "ml.models.load_model": _DRIVER,
    "ml.models.predict_point": _DRIVER,
    "streaming.sessions.session_stream_features": _FULL,
    "operators.graph_ann.build_knn_graph_q8": _WORK,
    "operators.graph_ann.beam_search": _WORK,
    "operators.graph_ann.insert_into_graph": _WORK,
    "operators.graph_ann.delete_from_graph": _WORK,
    "operators.dedup.q_dedup_exact": _WORK,
    "operators.dedup.q_dedup_minhash": _WORK,
    "operators.dedup.q_dedup_minhash_cc": _WORK,
    "operators.dedup.q_dedup_apply": _WORK,
    "operators.dedup.q_simhash_near_dup": _WORK,
}
UNITS = {"busy_s": "s", "jobs": "count", "gap_s": "s", "shuffle_mb": "MB", "cpu_s": "s", "spill_mb": "MB"}
# Per-layer metrics that are not span aggregates: (unit, the report
# line they are read from, if any).
EXTRA_LAYER = {
    "ml.models.predict_point.jobs_per_call": ("count", None),
    "ml.models.predict_point.p50_ms": ("ms", "serve_p50_ms"),
    "ml.models.predict_point.p90_ms": ("ms", "serve_p90_ms"),
    "ml.models.error_rate.model_error_rate": ("ratio", "model_error_rate"),
    "streaming.sessions.state_rows": ("count", "state_rows"),
    "streaming.sessions.state_mb": ("MB", "state_mb"),
    "streaming.sessions.trigger_p50_ms": ("ms", "trigger_p50_ms"),
    "operators.graph_ann.build_knn_graph_q8.rounds": ("count", "build_rounds"),
    "operators.graph_ann.beam_search.recall_at_10": ("ratio", "recall_at_10"),
    "trace.job_s": ("s", None),
    "trace.overhead_s": ("s", None),
}


def per_layer_names() -> dict[str, str]:
    names = {f"{span}.{k}": UNITS[k] for span, kinds in SPAN_KINDS.items() for k in kinds}
    names.update({n: unit for n, (unit, _) in EXTRA_LAYER.items()})
    return names


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["activity", "similarity"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def _spark_env(work: str, traced: bool) -> None:
    """JVM and Python scratch under ``work``; event log for traced runs
    only.  Set before the first session starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    conf = [
        # -Xms pins the heap at its -Xmx size (spark.driver.memory), so
        # the resident peak does not depend on when G1 chose to grow it
        f"--driver-java-options '-Xms2g -Djava.io.tmpdir={tmp}'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def _rss_mb(jvm_pid: int) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and the driver JVM."""
    t = os.times()
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return t.user + t.system + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _untraced_job_s(args: argparse.Namespace, record: str) -> float:
    """Median untraced ``job_s`` of this workload in this checkout; if
    no untraced run has been recorded yet, make one now."""
    if not os.path.exists(record):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=120)
    with open(record) as fh:
        return statistics.median(json.load(fh))


def bench(args: argparse.Namespace, work: str, out_dir: str) -> tuple[dict, dict, int, int]:
    """Returns (end-to-end or per-layer metrics, report lines, attempted, failed)."""
    from activity_classifier_spark_cassandra_spark.session import get_spark
    from spans import Tracer, layer_metrics
    import workloads as W

    traced = bool(args.trace)
    make_inputs, iterate, check, report = W.WORKLOADS[args.workload]
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    inputs = make_inputs(args.seed, data)
    gen_s = time.perf_counter() - t0
    warm_table = os.path.join(data, sorted(os.listdir(data))[0])

    tracer = Tracer(traced)
    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
        spark.range(1 << 16).selectExpr("id % 97 AS k").groupBy("k").count().collect()
        spark.read.parquet(warm_table).limit(1).collect()
        setups.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            spark.stop()
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    tracer.sc = sc
    run = W.Run(spark, tracer, data, work, traced, inputs)

    outs, walls, cpus, failed = [], [], [], 0
    start = time.perf_counter()
    while not outs or time.perf_counter() - start < args.seconds:
        t0, c0 = time.perf_counter(), _cpu_s(jvm.pid)
        try:
            outs.append(iterate(run, len(outs)))
        except Exception:  # noqa: BLE001 - a failed call is counted and reported
            traceback.print_exc()
            failed += 1
            break
        walls.append(time.perf_counter() - t0)
        cpus.append(_cpu_s(jvm.pid) - c0)
    # one operation per public call (top-level span) of the timed loop
    attempted = sum(1 for s in tracer.spans if s.parent is None and s.name != "session.get_spark")

    lines: dict[str, tuple[float, str]] = {}
    t0 = time.perf_counter()
    if outs:
        results = check(run, outs[0])
        attempted += len(results)
        for name, ok, msg in results:
            print(f"check {'ok  ' if ok else 'FAIL'} {name}: {msg}")
            failed += not ok
        lines.update(report(run, outs))
    lines["gen_s"] = (gen_s, "s")
    lines["check_s"] = (time.perf_counter() - t0, "s")
    rss = _rss_mb(jvm.pid)
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)

    job_s = statistics.median(walls) if walls else float("nan")
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "job_s": (job_s, "s"),
        "job_cpu_s": (statistics.median(cpus) if cpus else float("nan"), "s"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    lines.update(e2e)
    lines["iterations"] = (len(walls), "count")

    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(out_dir, f"untraced-{args.workload}.json")
    if not traced:
        if not failed:
            past = []
            if os.path.exists(record):
                with open(record) as fh:
                    past = json.load(fh)
            with open(record, "w") as fh:
                json.dump(past + [job_s], fh)
        return e2e, lines, attempted, failed

    tracer.counts.update({n: v for n, (v, _) in lines.items()})
    tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
    layers = layer_metrics(tracer, os.path.join(work, "eventlog"))
    metrics = {n: (0.0, u) for n, u in per_layer_names().items()}
    for span, kinds in SPAN_KINDS.items():
        for k in kinds:
            if span in layers:
                metrics[f"{span}.{k}"] = (layers[span][k], UNITS[k])
    for n, (_, src) in EXTRA_LAYER.items():
        if src in lines:
            metrics[n] = lines[src]
    calls = len(tracer.durations("ml.models.predict_point"))
    if calls:
        metrics["ml.models.predict_point.jobs_per_call"] = (layers["ml.models.predict_point"]["jobs"] / calls, "count")
    untraced = _untraced_job_s(args, record) if not failed else job_s
    metrics["trace.job_s"] = (job_s, "s")
    metrics["trace.overhead_s"] = (job_s - untraced, "s")
    lines["trace.overhead_s"] = metrics["trace.overhead_s"]
    return metrics, lines, attempted, failed


def main() -> int:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"engine sources not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _spark_env(work, bool(args.trace))
        metrics, lines, attempted, failed = bench(args, work, os.path.join(ROOT, ".perfbench_out"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in lines.items():
        print(f"{name} {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
