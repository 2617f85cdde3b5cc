"""Steadiness, comparison and tracing-overhead tool for the benchmark.

    python3 perfbench/steady.py run --workload serve --runs 10 --seed0 1 \\
        --out .perfbench_out/serve-a.json
    python3 perfbench/steady.py compare .perfbench_out/serve-a.json \\
        .perfbench_out/serve-b.json
    python3 perfbench/steady.py overhead --workload ingest --seed 1

``run`` calls run.py once per seed (seed0, seed0+1, ...) in a fresh
process, keeps every result line plus the run's wall time and
environment (nproc, Spark version, CPU steal share sampled from
/proc/stat) and prints
each end-to-end metric's median, quartiles and spread (Q3 - Q1 over
the median) against the metric's bound in BENCHMARK.json. Runs whose
steal share exceeds 2% are flagged: a steal burst on a shared box can
move a run by far more than any bound.

``compare`` reads two such files and reports, per metric, how far the
second median moved from the first, and whether that is worse than
the bound.

``overhead`` runs one seed untraced and traced and prints, for every
end-to-end figure, traced minus untraced: the cost of the tracing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STEAL_FLAG = 0.02


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = bench()["command"] + ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(seconds),
                                "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        record = json.load(fh)
    return {"seed": seed, "wall_s": wall, "result": result,
            "env": record["env"], "figures": record["figures"]}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(runs: list[dict]) -> None:
    spec = {m["name"]: m for m in bench()["end_to_end"]}
    print(f"{'metric':18s} {'unit':6s} {'median':>12s} {'q1':>12s} "
          f"{'q3':>12s} {'spread':>7s} {'bound':>6s}")
    for name, m in spec.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = quartiles(vals)
        spread = (q3 - q1) / q2 if q2 else 0.0
        flag = "" if name == "setup_s" else (
            "  over bound" if spread > m["bound"]
            else "  over bound/3" if spread > m["bound"] / 3 else "")
        print(f"{name:18s} {m['unit']:6s} {q2:12.6g} {q1:12.6g} {q3:12.6g} "
              f"{spread:7.3f} {m['bound']:6.2f}{flag}")
    for r in runs:
        env = r["env"]
        steal = env["steal_share_measure"]
        print(f"seed {r['seed']}: failed {r['result']['failed']}/"
              f"{r['result']['attempted']}, wall {r['wall_s']:.1f} s, "
              f"steal {steal:.3f}, nproc "
              f"{env['nproc']}, spark {env['spark_version']}"
              + ("  STEAL BURST" if steal > STEAL_FLAG else ""))


def compare(a: dict, b: dict) -> int:
    spec = {m["name"]: m for m in bench()["end_to_end"]}
    worse = 0
    print(f"{'metric':18s} {'median A':>12s} {'median B':>12s} "
          f"{'change':>8s} {'bound':>6s}")
    for name, m in spec.items():
        ma = statistics.median(r["result"]["metrics"][name]["value"]
                               for r in a["runs"])
        mb = statistics.median(r["result"]["metrics"][name]["value"]
                               for r in b["runs"])
        change = (mb - ma) / ma if ma else 0.0
        bad = change > m["bound"] if m["better"] == "lower" \
            else -change > m["bound"]
        worse += bad
        print(f"{name:18s} {ma:12.6g} {mb:12.6g} {change:+8.3f} "
              f"{m['bound']:6.2f}" + ("  WORSE" if bad else ""))
    return 1 if worse else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--seconds", type=int)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    o = sub.add_parser("overhead")
    o.add_argument("--workload", required=True)
    o.add_argument("--seed", type=int, default=1)
    o.add_argument("--seconds", type=int)
    args = ap.parse_args(argv)
    if args.cmd == "compare":
        with open(args.a) as fa, open(args.b) as fb:
            return compare(json.load(fa), json.load(fb))
    seconds = args.seconds or bench()["run_seconds"]
    if args.cmd == "overhead":
        plain = one_run(args.workload, args.seed, seconds, 0)["figures"]
        traced = one_run(args.workload, args.seed, seconds, 1)["figures"]
        print(f"{'figure':22s} {'untraced':>12s} {'traced':>12s} "
              f"{'overhead':>12s}")
        for k, v in plain.items():
            print(f"{k:22s} {v:12.6g} {traced[k]:12.6g} {traced[k] - v:+12.6g}")
        return 0
    runs = []
    for i in range(args.runs):
        runs.append(one_run(args.workload, args.seed0 + i, seconds, 0))
        print(f"run {i + 1}/{args.runs} done", file=sys.stderr, flush=True)
    out = args.out or os.path.join(ROOT, ".perfbench_out",
                                   f"steady-{args.workload}.json")
    with open(out, "w") as fh:
        json.dump({"workload": args.workload, "seconds": seconds,
                   "runs": runs}, fh, indent=1)
    summarize(runs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
