"""Benchmark of the cancer-survival ETL: the paper's load and the dashboard's
reads, end to end, with an optional traced run for per-layer metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program
(perfbench/build.py). Each run generates its inputs from the seed, derives
the expected outputs in DuckDB, runs the workload in one JVM and prints, as
its last stdout line, one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer ones with --trace 1). The line before it records the contention
tells (effective cores, load average) of the run. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# rows per sheet and staged format
WORKLOADS = {
    "etl_xlsx": (20_000, "xlsx"),
    "dashboard_views": (50_000, "csv"),
}
HEAP = "2g"
HARNESS_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build.build(root)

    rows, fmt = WORKLOADS[args.workload]
    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    g = gen.Generation(args.seed, rows)
    staging = os.path.join(work, "staging")
    if fmt == "xlsx":
        g.write_xlsx(staging)
    else:
        g.write_csv(staging)
    expected = oracle.expected(g, g.snapshot if fmt == "xlsx" else None,
                               with_views=args.workload == "dashboard_views")
    exp_path = os.path.join(work, "expected.tsv")
    with open(exp_path, "w") as f:
        for name, e in expected.items():
            f.write(f"{name}\t{e['rows']}\t{e['digest']}\n")

    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", "--workload", args.workload,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--expected", exp_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=env,
                          timeout=HARNESS_TIMEOUT_S)
    for d in ("staging", "out", "layers", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"harness exited with {proc.returncode}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])

    if args.trace:
        # a layer the workload does not exercise reports 0
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"context": {"workload": args.workload, "seed": args.seed,
                                  "rows_per_sheet": rows, "format": fmt, "heap": HEAP,
                                  "timed_ops": res["ops"],
                                  "effective_cores": res["effective_cores"],
                                  "load_avg": res["load_avg"]}}))
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
