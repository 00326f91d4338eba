#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 loadbench/run.py --workload load_avro_uniform --seed 7 \\
        --seconds 10 --trace 0

Run from the repository root. Builds what changed (see build.py), runs
the workload in one JVM (Spark local[4]), and prints as the last stdout
line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1 (0 for a layer the workload does not run). Exits 1 when a correctness gate failed, 2 on any other error.
The JVM's log is under .bench_build/logs/, traced spans under
.bench_build/trace/.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit (JavaModuleOptions defaults)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]
HEAP = "4g"
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"loadbench: unknown workload {args.workload}")
    metrics = spec["per_layer" if args.trace else "end_to_end"]

    classpath = build.build()
    build_dir = build.BUILD_DIR
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(build_dir, "logs",
                       f"{args.workload}-{args.seed}-trace{args.trace}.log")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "loadbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", os.path.join(build_dir, "work", args.workload),
           "--spans", os.path.join(build_dir, "trace",
                                   f"{args.workload}-{args.seed}-spans.json")]
    with open(log, "w") as err:
        try:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                                  text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"loadbench: run exceeded {JVM_TIMEOUT_S}s, see {log}")
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    if proc.returncode not in (0, 1) or not lines:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"loadbench: run failed (exit {proc.returncode}), see {log}")
    raw = json.loads(lines[-1][len("RESULT "):])
    values = raw["values"]
    names = [m["name"] for m in metrics]
    unknown = sorted(set(values) - set(names))
    missing = sorted(set(names) - set(values))
    # a traced run reports 0 for a layer the workload does not run
    if unknown or (missing and not args.trace):
        sys.exit(f"loadbench: metrics not in BENCHMARK.json: {unknown}; "
                 f"missing: {missing}")
    values.update({n: 0.0 for n in missing})
    with open(log) as fh:
        sys.stderr.write("".join(ln for ln in fh if "[loadbench]" in ln))
    print(json.dumps({
        "correct": raw["correct"], "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics}}))
    sys.exit(0 if raw["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
