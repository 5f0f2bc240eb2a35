#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine with the benchmark (build.py), generates the workload's
inputs from the seed (gen.py, cached per seed and size), runs one JVM with a
fresh work directory, checks outputs, and prints one JSON line last on
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. A
human-readable summary goes to stderr. See README.md here.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

# The mix is a subset of the engine's registry, sized so one run (three
# set-ups, the reference pass, two timed cycles and the oracle check) takes
# about a minute on 4 cores; README.md lists what was left out and why.
BATCH = ["wordcount", "wordcount_topn", "q1_pricing_summary", "join_shuffle",
         "window_rank", "events_tumbling", "sessionize", "dedup_exact",
         "dedup_setsim_prefix", "knn_lsh", "text_quality", "q5_supplier_volume"]
STATEFUL = ["streaming_dedup_filesrc", "streaming_wordcount_filesrc",
            "dsv2_catalog_merge"]

# kind, input size (tokens or scale factor), query list; `tiny` is the
# self-test size
WORKLOADS = {
    "wordcount": dict(kind="wordcount", size=1_200_000, tiny=20_000),
    "query_mix": dict(kind="mix", size=0.01, tiny=0.001, queries=BATCH + STATEFUL),
}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_BUDGET_S = 165


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail_percentile(xs):
    """(value, p): the highest percentile with at least ten samples above
    it (nearest rank), or the median when there are too few samples."""
    s = sorted(xs)
    n = len(s)
    for pct in range(99, 50, -1):
        rank = -(-pct * n // 100)
        if n - rank >= 10:
            return s[rank - 1], pct
    return statistics.median(s), 50


def run_jvm(classes, args, spec, inputs, work, tokens, deadline):
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    jars = build.spark_jars()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
            f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main",
            "--workload", spec["kind"], "--inputs", inputs, "--work", work,
            "--seconds", str(args.seconds), "--seed", str(args.seed),
            "--tokens", str(tokens)])
    if spec["kind"] == "mix":
        cmd += ["--queries", ",".join(spec["queries"])]
    if args.trace:
        cmd.append("--trace")
    if args.fault:
        cmd.append("--fault")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_DIRS=f"{work}/local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: engine run exceeded its time budget")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: engine run failed with exit code {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def metric_units(group):
    """{name: unit} of one metric group of BENCHMARK.json."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[group]}


def summarize(res, args, failures):
    ops = res["ops"]
    bad = [o for o in ops if not o["ok"] or o["name"] in failures]
    timed = [o for o in ops if not o["traced"]]
    walls = [o["wall_s"] for o in timed]
    setups = res["setup"]
    if args.trace:
        metrics = dict(res["layers"])
        metrics.update(res["leak"])
        for k in ("Sessions.local_s", "setup.warmup_s", "Tables.schema_s"):
            metrics[k] = statistics.median(s[k] for s in setups)
        units = metric_units("per_layer")
    else:
        p90, pct = tail_percentile(walls)
        metrics = {
            "setup_s": statistics.median(s["total_s"] for s in setups),
            "op_p50_s": statistics.median(walls),
            "op_p90_s": p90,
            "ops_per_min": 60.0 * len(walls) / sum(walls),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        units = metric_units("end_to_end")
        print(f"perfbench: op_p90_s is p{pct} of {len(walls)} samples", file=sys.stderr)
    missing = set(units) - set(metrics)
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {sorted(missing)}")
    env = res["env"]
    print(f"perfbench: workload={args.workload} seed={args.seed} nproc={env['nproc']} "
          f"master={env['master']} parallelism={env['parallelism']} "
          f"loadavg={env['loadavg_start']} ops={len(ops)} failed={len(bad)} "
          f"fail_ratio={len(bad) / max(1, len(ops)):.4f}", file=sys.stderr)
    by_name = {}
    for o in timed:
        by_name.setdefault(o["name"], []).append(o["wall_s"])
    print("perfbench: median s per op: " + " ".join(
        f"{n}={statistics.median(w):.3f}" for n, w in sorted(by_name.items())), file=sys.stderr)
    for name, msg in sorted(failures.items()):
        print(f"perfbench: FAIL {name}: {msg}", file=sys.stderr)
    for o in bad:
        if o["err"]:
            print(f"perfbench: op {o['name']} failed: {o['err']}", file=sys.stderr)
    return {
        "correct": not bad and not failures and res["checks"].get("ok", True),
        "attempted": len(ops),
        "failed": len(bad),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input size")
    ap.add_argument("--fault", action="store_true",
                    help="self-test: make the engine emit a wrong output")
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    size = spec["tiny"] if args.tiny else spec["size"]

    classes = build.build()
    started = time.time()  # a first build may take minutes; the run's budget starts here
    import gen  # numpy/pyarrow only after a successful build
    base = build.build_dir()
    if spec["kind"] == "wordcount":
        inputs = gen.corpus(os.path.join(base, "inputs", f"corpus-s{args.seed}-t{size}"),
                            args.seed, size)
        tokens = json.load(open(os.path.join(inputs, "expected.json")))["tokens"]
    else:
        inputs = gen.tables(os.path.join(base, "inputs", f"tables-s{args.seed}-sf{size}"),
                            args.seed, size)
        tokens = 0

    work = os.path.join(base, "runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(classes, args, spec, inputs, work, tokens,
                      started + JVM_BUDGET_S)
        failures = {}
        if spec["kind"] == "mix":
            import oracle
            failures, ties = oracle.check(inputs, work)
            for name, cells in sorted(ties.items()):
                print(f"perfbench: {name}: accepted rounding ties {cells}", file=sys.stderr)
        if args.trace:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl"))
        out = summarize(res, args, failures)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
