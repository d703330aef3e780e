"""Closed-loop benchmark of the closure-table OLAP engine.

One client, one Python process, a ``local[N]`` Spark (N = the cores this
process may use, at most 4). Usage, from the root of a checkout:

    python3 perfbench/run.py --workload rollup_read --seed 1 --seconds 15 --trace 0

The run generates its inputs from ``--seed`` under ``.perfbench_work/``,
sets up the workload ``SETUP_REPS`` times, runs untimed warm-up ops,
then issues ops back to back for ``--seconds`` seconds and checks every
op's output afterwards. The last line of standard output is the result
object; the line before it (``perfbench-summary:``) carries everything
else: configuration, sample counts, ``failed_frac``, the tail the run
can or cannot resolve, and cache growth. ``--trace 1`` records spans
(written to ``.perfbench_out/``) and reports the per-layer metrics
instead of the end-to-end ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402
from workloads import WORKLOADS, DimMaintain  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

SETUP_REPS = 3
MAX_CPUS = 4
DRIVER_MEM_GB = 2
TAIL_P = 90
LAYERS = ("bench", "session", "hierarchy", "rollup", "verify")


def pin_env(work: str) -> dict[str, str]:
    """Resource settings for the program, fixed before the JVM starts:
    the program's own defaults (32 cores, a 24g heap) exceed this kind of
    machine and would make results depend on its size."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 2**20
    if DRIVER_MEM_GB >= total_gb:
        raise SystemExit(f"need more than {DRIVER_MEM_GB} GB of RAM, have {total_gb:.1f}")
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # the whole heap is committed and touched at start, so peak RSS does
    # not depend on when the collector chose to grow the heap
    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        f" -Xms{DRIVER_MEM_GB}g -XX:+AlwaysPreTouch"
    )
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_MEM_GB}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
                "--driver-java-options",
                shlex.quote(java_opts),
                "pyspark-shell",
            ]
        ),
    }
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(env)
    return env


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def read_counters(spark, jvm_pid: int) -> dict[str, float]:
    """Process-wide counters, read at the start and end of the timed phase."""
    from ibis_olap_aggregation_spark import session

    gcs = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {
        "py_cpu": time.process_time(),
        "jvm_cpu": _cpu_s(jvm_pid),
        "gc": sum(g.getCollectionTime() for g in gcs) / 1000.0,
        "probes": session.DIM_SIDE_PROBE_STATS["probes"],
        "hits": session.DIM_SIDE_PROBE_STATS["hits"],
        "memo": len(session._DIM_SIDE_MEMO.get(spark, {})),
        "rdds": len(spark.sparkContext._jsc.getPersistentRDDs()),
    }


def timed_phase(wl, seconds: float, tracer, after_op) -> tuple[list[dict], float]:
    """Closed loop: issue op i+1 when op i has returned, until ``seconds``
    have passed and the last round of ``wl.round_ops`` ops is complete.
    An op that raises is recorded as failed, never retried."""
    records: list[dict] = []
    t0 = time.perf_counter()
    i = 0
    while True:
        tracer.set_op(i)
        rec: dict = {"i": i}
        with tracer.span("op", "bench"):
            try:
                rec["latency"], rec["parts"], rec["out"] = wl.op(i)
            except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
                rec["error"] = traceback.format_exc(limit=3)
            after_op()
        records.append(rec)
        i += 1
        if time.perf_counter() - t0 >= seconds and i % wl.round_ops == 0:
            break
    wall = time.perf_counter() - t0
    tracer.set_op(None)
    return records, wall


def check_phase(wl, records: list[dict], tracer) -> None:
    """Check every op that returned; a mismatch or an exception in the
    check marks the op failed."""
    for rec in records:
        if "error" in rec:
            continue
        out = rec.pop("out")
        rec["result_rows"] = len(out) if isinstance(out, list) else 0
        tracer.set_op(rec["i"])
        with tracer.span("verify", "verify"):
            try:
                err = wl.check(rec["i"], out)
                if not err:
                    rec["rows"] = wl.rows(rec["i"], out)
            except Exception:  # noqa: BLE001 - a failing check is a result
                err = traceback.format_exc(limit=3)
        if err:
            rec["error"] = err
    tracer.set_op(None)


def end_to_end(records, wall, setup_s, peak_rss_mb) -> tuple[dict, dict]:
    """(metrics for the result line, extra figures for the summary line)."""
    ok = [r for r in records if "error" not in r]
    lat = [r["latency"] for r in ok]
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(lat) if lat else float("nan"), "s"),
        "ops_per_s": (len(ok) / wall, "1/s"),
        "rows_per_s": (sum(r["rows"] for r in ok) / wall, "rows/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    need = stats.min_samples_for_tail(TAIL_P)
    tail = stats.tail_percentile(lat, TAIL_P)
    extra = {
        "samples": len(lat),
        f"op_p{TAIL_P}_s": tail,
        "op_tail_note": None if tail is not None else
        f"p{TAIL_P} needs >= {need} ops for {stats.MIN_BEYOND} beyond it; run had {len(lat)}",
        "failed_frac": (len(records) - len(ok)) / len(records),
    }
    return metrics, extra


def per_layer(records, reps, c0, c1, tracer, overhead_s: float) -> dict:
    """Per-layer figures of the traced run. Counts and times per op are
    over the timed phase; set-up figures are medians over the set-up
    repetitions."""
    ok = [r for r in records if "error" not in r]
    n = max(1, len(ok))

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def part(name):
        return med([r["parts"][name] for r in ok if name in r["parts"]])

    probes, hits = c1["probes"] - c0["probes"], c1["hits"] - c0["hits"]
    m = {
        "session.start_s": (med([r["start"] for r in reps]), "s"),
        "session.load_s": (med([r["load"] for r in reps]), "s"),
        "session.probe_jobs_per_op": (probes / n, "count"),
        "session.probe_hit_ratio": (hits / (hits + probes) if hits + probes else 0.0, "ratio"),
        "session.dim_side_memo_growth": (c1["memo"] - c0["memo"], "count"),
        "hierarchy.build_s": (med([r["build"] for r in reps]), "s"),
        "hierarchy.materialize_s": (med([r["materialize"] for r in reps]), "s"),
        "driver.py_cpu_s_per_op": ((c1["py_cpu"] - c0["py_cpu"]) / n, "s"),
    }
    for kind in DimMaintain.KINDS:
        m[f"hierarchy.{kind}.call_s"] = (part(f"{kind}.call"), "s")
        m[f"hierarchy.{kind}.exec_s"] = (part(f"{kind}.exec"), "s")
    m["rollup.call_s"] = (part("hierarchical_rollup"), "s")
    m["rollup.exec_s"] = (part("collect"), "s")
    m["rollup.result_rows"] = (med([r["result_rows"] for r in ok]), "rows")
    timed = [s for s in tracer.spans if s.op is not None and s.name != "verify"]
    jobs = [j for s in timed for j in s.jobs]
    m["spark.jobs_per_op"] = (len(jobs) / n, "count")
    m["spark.tasks_per_op"] = (sum(j[1] for j in jobs) / n, "count")
    m["spark.shuffle_bytes_per_op"] = (sum(j[2] for j in jobs) / n, "B")
    m["spark.cached_rdds_growth"] = (c1["rdds"] - c0["rdds"], "count")
    m["jvm.gc_s_per_op"] = ((c1["gc"] - c0["gc"]) / n, "s")
    m["jvm.cpu_s_per_op"] = ((c1["jvm_cpu"] - c0["jvm_cpu"]) / n, "s")
    self_s = tracer.self_time([s for s in tracer.spans if s.op is not None])
    for layer in LAYERS:
        m[f"trace.self_s_per_op.{layer}"] = (self_s.get(layer, 0.0) / n, "s")
    m["trace.overhead_s_per_op"] = (overhead_s / n, "s")
    m["trace.op_p50_s"] = (med([r["latency"] for r in ok]), "s")
    return m


def run(args, work: str, env: dict) -> tuple[dict, dict]:
    from pyspark import SparkContext

    from ibis_olap_aggregation_spark import get_spark
    from ibis_olap_aggregation_spark.session import release_query_caches

    tracer = Tracer() if args.trace else NullTracer()
    phases = {}
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"), tracer)
    phases["inputs"] = time.perf_counter() - t0

    reps, spark = [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            tracer.sc = None
            spark.stop()  # a fresh session: no cached dims, no probe memo
        t0 = time.perf_counter()
        with tracer.span("get_spark", "session"):
            spark = get_spark("perfbench")
        start = time.perf_counter() - t0
        if args.trace:
            tracer.sc = spark.sparkContext
        parts = wl.setup(spark)
        reps.append({"start": start, **parts, "total": time.perf_counter() - t0})
    t0 = time.perf_counter()
    with tracer.span("warmup", "bench"):
        wl.warmup_op()
    release_query_caches()
    warm_s = time.perf_counter() - t0
    setup_s = statistics.median([r["total"] for r in reps]) + warm_s
    t0 = time.perf_counter()
    setup_error = wl.check_setup()
    phases["check_setup"] = time.perf_counter() - t0

    def after_op():
        with tracer.span("release_query_caches", "session"):
            release_query_caches()

    jvm_pid = SparkContext._gateway.proc.pid
    c0 = read_counters(spark, jvm_pid)
    tracer.overhead_s = 0.0
    records, wall = timed_phase(wl, args.seconds, tracer, after_op)
    c1 = read_counters(spark, jvm_pid)
    overhead_s = tracer.overhead_s
    t0 = time.perf_counter()
    if args.trace:
        tracer.collect_jobs([s for s in tracer.spans if s.op is not None])
    check_phase(wl, records, tracer)
    phases["checks"] = time.perf_counter() - t0

    peak = (_status_kb(os.getpid(), "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024
    metrics, extra = end_to_end(records, wall, setup_s, peak)
    failures = [(r["i"], r["error"]) for r in records if "error" in r]
    # stationarity: what the timed phase left cached is reported, not swept
    grew = c1["rdds"] > c0["rdds"] or c1["memo"] > c0["memo"]
    if grew:
        print(f"perfbench: caches grew during the timed phase: {c0} -> {c1}", file=sys.stderr)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "loop": "closed, 1 client",
        "timed_wall_s": wall,
        "op_latencies_s": [r.get("latency") for r in records],
        "setup_reps_s": [r["total"] for r in reps],
        "warmup_s": warm_s,
        "phases_s": phases,
        "setup_error": setup_error,
        "failures": failures[:3],
        "caches_grew": grew,
        "cached_rdds": [c0["rdds"], c1["rdds"]],
        "dim_side_memo": [c0["memo"], c1["memo"]],
        "config": {
            **{k: v for k, v in env.items() if k.startswith("SPARK_GRAFT")},
            "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
            "nproc": os.cpu_count(),
            "usable_cpus": len(os.sched_getaffinity(0)),
            "spark_version": spark.version,
        },
        **extra,
        **{k: v for k, (v, _) in metrics.items()},
    }
    if args.trace:
        metrics = per_layer(records, reps, c0, c1, tracer, overhead_s)
        summary["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.write(
            os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}.spans.jsonl")
        )
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer" if args.trace else "end_to_end"]}
    if {k: u for k, (_, u) in metrics.items()} != declared:
        raise RuntimeError("metrics differ from those declared in BENCHMARK.json")
    result = {
        "correct": setup_error is None and not failures,
        "attempted": len(records),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return summary, result


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM the gateway launched to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ibis_olap_aggregation_spark", "__init__.py")):
        print(f"no ibis_olap_aggregation_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_env(work)
    try:
        summary, result = run(args, work, env)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-summary: " + json.dumps(summary, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
