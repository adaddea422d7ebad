#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, summarised per metric.

    scripts/bench_pairs.py [--trace] PARENT_REV WORKLOAD SEED [SEED ...]

Exports the committed files of PARENT_REV and of HEAD (the change) with
`git archive` into two directories under a fresh temporary directory,
then runs `perfbench/run.py --workload WORKLOAD --seed SEED` (which builds
its side before it starts timing) once on each side for every seed, for
the run length BENCHMARK.json sets. Pairs alternate which side runs first, so a drift in the host's speed
lands on both sides equally. Each run happens in its own export, as the
benchmark's own comparison does; nothing in this checkout is written.

Each run's metrics go to stderr as it finishes, with the effective cores
and the load average of the host that `perfbench/run.py` reports for it
on its `context` line: a drift in either is a drift in the host, not in
the code. Then it prints, for every
metric of BENCHMARK.json (the end-to-end ones, or with --trace the
per-layer ones), each side's median and quartiles, the change's
relative move of the median, the pairs the change won (by the metric's
"better" direction), whether the median gap exceeds the parent's
interquartile distance, and, for a metric with a `bound`, whether the
change's median is worse than the parent's by more than that bound (the
rule by which the benchmark rejects a change). A run that exits non-zero
is reported as it happens, with its side, seed, exit code and the end of
its stderr, and counted in the summary. The temporary directory is
removed at the end.
"""
import argparse
import collections
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def rev(name):
    return subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", name + "^{commit}"],
                          check=True, capture_output=True, text=True).stdout.strip()


def export(sha, dest):
    """The committed files of `sha` in `dest`."""
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {sha} failed")


STDERR_TAIL = 20


def run(side, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    with tempfile.TemporaryFile("w+") as err:
        proc = subprocess.run(cmd, cwd=side, stdout=subprocess.PIPE, stderr=err, text=True)
        if proc.returncode != 0:
            err.seek(0)
            tail = collections.deque(err, maxlen=STDERR_TAIL)
            return {"ok": False, "metrics": {}, "attempted": 0, "failed": 0, "host": {},
                    "exit": proc.returncode, "stderr_tail": [l.rstrip("\n") for l in tail]}
    lines = [json.loads(l) for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    res = lines[-1]
    context = next((l["context"] for l in lines if "context" in l), {})
    return {"ok": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "host": {k: context[k] for k in ("effective_cores", "load_avg") if k in context},
            "exit": 0}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarise(specs, runs):
    def cell(q):
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    print(f"{'metric':<40} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} "
          f"{'move':>8} {'wins':>6} {'gap>iqr':>8} {'past bound':>12}")
    for m in specs:
        name = m["name"]
        pairs = [(p["metrics"][name], c["metrics"][name]) for p, c in runs
                 if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        pq = quartiles([p for p, _ in pairs])
        cq = quartiles([c for _, c in pairs])
        lower = m["better"] == "lower"
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        move = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else float("nan")
        # worse by more than the bound, as a share of the parent's median
        past = (str(-gap > m["bound"] * abs(pq[1])) + f" ({m['bound']:.0%})"
                if "bound" in m else "-")
        print(f"{name:<40} {cell(pq):<30} {cell(cq):<30} {move:>+7.1f}% "
              f"{f'{wins}/{len(pairs)}':>6} {str(gap > pq[2] - pq[0]):>8} {past:>12}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    specs = spec["per_layer"] if args.trace else spec["end_to_end"]
    shas = {"parent": rev(args.parent), "change": rev("HEAD")}

    tmp = tempfile.mkdtemp(prefix="bench_pairs-")
    try:
        sides = {}
        for side, sha in shas.items():
            sides[side] = os.path.join(tmp, side)
            export(sha, sides[side])
        runs = []
        for i, seed in enumerate(args.seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {}
            for side in order:
                got[side] = run(sides[side], args.workload, seed, seconds, args.trace)
                r = got[side]
                if r["exit"] != 0:
                    print(f"[bench_pairs] seed {seed} {side}: exited {r['exit']}; last "
                          f"{len(r['stderr_tail'])} lines of its stderr:\n"
                          + "\n".join("    " + l for l in r["stderr_tail"]), file=sys.stderr, flush=True)
                print(f"[bench_pairs] seed {seed} {side}: ok={r['ok']} failed={r['failed']}/"
                      f"{r['attempted']} " + " ".join(f"{k}={v:.4g}" for k, v in r["host"].items())
                      + " | " + " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items()),
                      file=sys.stderr, flush=True)
            runs.append((got["parent"], got["change"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"{args.workload}: parent {shas['parent'][:10]} vs change {shas['change'][:10]}, "
          f"{len(runs)} pairs, seeds {' '.join(map(str, args.seeds))}, {seconds:g} s a run"
          f"{', traced' if args.trace else ''}")
    for side, idx in (("parent", 0), ("change", 1)):
        rs = [r[idx] for r in runs]
        exited = [f"seed {seed} (exit {r['exit']})" for seed, r in zip(args.seeds, rs) if r["exit"] != 0]
        print(f"{side}: {sum(r['ok'] for r in rs)}/{len(rs)} runs correct, "
              f"{sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)} operations failed, "
              f"{len(exited)} exited non-zero" + (f": {', '.join(exited)}" if exited else ""))
    summarise(specs, runs)


if __name__ == "__main__":
    main()
