"""Benchmark runner: stages a workload's seeded inputs, runs it in one JVM
(Spark local[4], one closed-loop client), checks the outputs against the
engine's DuckDB oracles, and prints every metric by name with its unit. The last line of stdout is one JSON record.

Usage (from the repository root):
  python3 perfbench/run.py --workload {star_elt|warehouse_queries|corpus_release}
                           --seed N --seconds S --trace {0|1}
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

CPUS = 4
JVM_TIMEOUT_S = 170

# Per workload: the full inputs, the small warm-up inputs (or None), both
# as functions of (out_dir, seed), and the table whose rows one operation
# processes. README.md says how the sizes were chosen.
WORKLOADS = {
    # sf0.1 events x 5 = 500k rows
    "star_elt": (lambda out, seed: gen.star(out, seed, 5),
                 lambda out, seed: gen.star(out, seed, 1), "events"),
    # the fixture-shaped 5,000-document corpus, one replica
    "corpus_release": (lambda out, seed: gen.corpus(out, seed, 1),
                       lambda out, seed: gen.corpus(out, seed, 1, base_docs=500), "documents"),
    "warehouse_queries": (lambda out, seed: gen.warehouse(out, seed, 0.01), None, "lineitem"),
}

END_TO_END = [("setup_s", "s"), ("op_median_s", "s"), ("rows_per_s", "rows/s"),
              ("peak_heap_mb", "MB")]

PER_LAYER_UNITS = {
    "sessions.start_s": "s", "plan.analysis_ms": "ms", "plan.optimize_ms": "ms",
    "plan.physical_ms": "ms", "sched.jobs": "count", "sched.stages": "count",
    "sched.tasks": "count", "sched.tasks_per_stage": "ratio", "sched.slot_util": "ratio",
    "sched.task_wait_ms": "ms", "sched.max_over_median_task": "ratio",
    "tables.scan_rows": "count", "tables.scan_bytes": "B", "tables.scan_tasks": "count",
    "exchange.shuffle_write_bytes": "B", "exchange.shuffle_read_bytes": "B",
    "exchange.fetch_wait_ms": "ms", "exchange.spill_bytes": "B",
    "sort.range_exchanges": "count",
    **{f"layout.write_s.{t}": "s" for t in ("songplays", "users", "songs", "artists", "time")},
    "layout.bytes_written": "B", "layout.files_written": "count",
    "catalog.drop_s": "s", "catalog.register_s": "s",
    **{f"corpus.{s}_s": "s" for s in ("clean_decontam", "sample_split", "pack",
                                      "bpe_train", "release_audit")},
    "artifacts.bytes_published": "B", "jvm.gc_s": "s", "jvm.jit_s": "s",
    "trace_overhead": "share",
}

JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def stage(workload, seed, out, warm_out):
    """Write the workload's inputs for `seed` into `out` and its warm-up
    inputs into `warm_out`. Returns the seconds it took."""
    full, warm, _ = WORKLOADS[workload]
    t0 = time.perf_counter()
    full(out, seed)
    if warm is not None:
        warm(warm_out, seed)
    return time.perf_counter() - t0


def run_jvm(classes, args):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS + ["-cp", cp, "perfbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(args["work"], "spark-local"))
    env.pop("GRAFT_ARTIFACT_DIR", None)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, env=env)
    try:
        log, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        log, _ = proc.communicate()
        sys.stderr.write(log[-6000:])
        raise SystemExit("perfbench: harness timed out")
    with open(os.path.join(os.path.dirname(args["work"]), "harness.log"), "w") as f:
        f.write(log)
    if proc.returncode != 0 or not os.path.exists(args["result"]):
        sys.stderr.write(log[-6000:])
        raise SystemExit(f"perfbench: harness failed ({proc.returncode})")
    with open(args["result"]) as f:
        return json.load(f)


def unstolen(wall, cpu, steal):
    """Wall time with hypervisor steal factored out. The JVM is the only
    busy process while it runs, so the steal the machine reports was taken
    from its threads: they were runnable for cpu + steal and ran for cpu,
    which stretched the wall time by (cpu + steal) / cpu."""
    return wall * cpu / (cpu + steal) if cpu > 0 and steal > 0 else wall


def latencies(samples):
    """Per-operation seconds net of steal. Failed operations rank
    infinitely slow: a query that throws can never pull a latency
    percentile down."""
    return [unstolen(s["ms"], s["cpu_ms"], s["steal_ms"]) / 1000 if s["ok"] else float("inf")
            for s in samples]


def percentile(xs, p):
    s = sorted(xs)
    rank = p * (len(s) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(s) - 1)
    if s[hi] == float("inf"):
        return s[lo] if rank == lo else float("inf")
    return s[lo] + (s[hi] - s[lo]) * (rank - lo)


def end_to_end(res, staging_s, rows_per_op):
    samples = res["samples"]
    ok = [s for s in samples if s["ok"]]
    busy = sum(unstolen(s["ms"], s["cpu_ms"], s["steal_ms"]) for s in ok) / 1000
    return {
        "setup_s": staging_s + unstolen(res["setup_jvm_s"], res["setup_cpu_s"],
                                        res["setup_steal_s"]),
        "op_median_s": percentile(latencies(samples), 0.5),
        "rows_per_s": rows_per_op * len(ok) / busy if busy else 0.0,
        "peak_heap_mb": res["peak_heap_mb"],
    }


def tally(res, verdict):
    """(attempted, failed): operations that threw plus wrong results.
    Checked warm-up operations count as attempted, like the timed ones."""
    ops = res["warmup"] + res["samples"] + res["heap_probe"]
    return len(ops), min(len(ops), sum(1 for s in ops if not s["ok"]) + verdict["failed"])


def per_layer(res):
    layers = dict(res["layers"])
    layers["sessions.start_s"] = res["session_start_s"]
    layers["trace_overhead"] = trace_overhead(res["samples"])
    return {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


def trace_overhead(samples):
    """Median over the traced window's pairs (one untraced and one traced
    operation, adjacent, in either order) of traced / untraced - 1.
    Failed operations leave their pair out."""
    ratios = []
    for i in range(0, len(samples) - 1, 2):
        pair = samples[i:i + 2]
        if all(s["ok"] for s in pair) and {s["traced"] for s in pair} == {False, True}:
            plain, traced = sorted(pair, key=lambda s: s["traced"])
            ratios.append(traced["ms"] / plain["ms"] - 1)
    return statistics.median(ratios) if ratios else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    base = os.path.join(build.BUILD, "runs", a.workload)
    shutil.rmtree(base, ignore_errors=True)
    data, work = os.path.join(base, "data"), os.path.join(base, "work")
    warm = os.path.join(base, "warm")
    os.makedirs(work)
    staging_s = stage(a.workload, a.seed, data, warm)
    inputs = check.input_stats(data)
    rows_per_op = inputs[WORKLOADS[a.workload][2]][0]

    res = run_jvm(classes, {
        "workload": a.workload, "data": data, "warm-data": warm, "work": work,
        "seconds": a.seconds,
        "trace": a.trace, "seed": a.seed, "cpus": CPUS,
        "result": os.path.join(work, "result.json")})

    verdict = check.verify(a.workload, data, res)
    attempted, failed = tally(res, verdict)

    if a.trace:
        metrics = per_layer(res)
    else:
        e2e = end_to_end(res, staging_s, rows_per_op)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    report(a, res, inputs, gen.digest(data), staging_s, verdict, attempted, failed, metrics)
    with open(os.path.join(base, "result.json"), "w") as f:
        json.dump(res, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": verdict["ok"] and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


OP_NAMES = {"star_elt": "elt_s", "corpus_release": "corpus_s"}


def report(a, res, inputs, digest, staging_s, verdict, attempted, failed, metrics):
    """Human-readable lines ahead of the JSON record: machine stamps, input
    sizes, set-up parts, checks, and the workload's metrics under the names
    the workload's users know them by."""
    print(f"# workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    print(f"# machine nproc={res['nproc']} parallelism={res['parallelism']} "
          f"shuffle_partitions={res['shuffle_partitions']} steal_s={res['steal_s']:.2f} "
          f"load1_start={res['load1_start']:.2f} load1_end={res['load1_end']:.2f}")
    for t, (rows, nbytes) in sorted(inputs.items()):
        print(f"# input {t} rows={rows} bytes={nbytes}")
    print(f"# input sha256={digest}")
    print(f"# setup staging_s={staging_s:.3f} "
          f"session_start_s={res['session_start_s']:.3f} warmup_s={res['warmup_s']:.3f}")
    print(f"# fail_frac {failed / attempted:.6f} ({failed}/{attempted})")
    for line in verdict["lines"]:
        print(f"# check {line}")
    samples = res["samples"]
    lat = latencies(samples)
    wall = [s["ms"] / 1000 if s["ok"] else float("inf") for s in samples]
    steal = sum(s["steal_ms"] for s in samples) / 1000
    print(f"# window ops={len(samples)} steal_s={steal:.2f} "
          f"cpu_s_per_op={sum(s['cpu_ms'] for s in samples) / 1000 / len(samples):.3f} "
          f"wall_median_s={percentile(wall, 0.5):.4f} net_of_steal_median_s={percentile(lat, 0.5):.4f}")
    if a.workload == "warehouse_queries":
        print(f"# query_p50_ms {1000 * percentile(lat, 0.5):.3f} ms (n={len(lat)})")
        print(f"# query_p90_ms {1000 * percentile(lat, 0.9):.3f} ms (n={len(lat)})")
        print(f"# queries_per_s {sum(s['ok'] for s in samples) / res['window_s']:.4f} 1/s")
    else:
        print(f"# {OP_NAMES[a.workload]} {percentile(lat, 0.5):.4f} s (median of n={len(lat)})")
    print(f"# peak_heap_mb {res['peak_heap_mb']:.1f} MB (peak live heap of one more, untimed "
          f"operation; retained_heap_mb {max(s['retained_mb'] for s in samples):.1f} MB "
          f"after the timed ones)")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")


if __name__ == "__main__":
    main()
