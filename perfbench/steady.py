"""Steadiness check: two sets of runs of the same code, compared metric by
metric against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--sets 2]

Each set runs every workload once per seed (set k uses seeds k*1000+1 ..
k*1000+runs). For every end-to-end metric and workload it reports the
median and the quartile spread ((Q3 - Q1) / median) of each set. It fails
when a spread exceeds the metric's bound (setup_s excepted: its runs are
single samples and only its median is compared), or when a later set's
median differs from the first set's, either way, by more than the bound. The
per-run figures land in `.bench_build/steady.json`.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, seconds):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed ({r.returncode}):\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
    last = json.loads(r.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in last["metrics"].items()}


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    figures = {w: [[] for _ in range(a.sets)] for w in workloads}
    for s in range(a.sets):
        for k in range(a.runs):
            for w in workloads:
                m = run(w, s * 1000 + k + 1, spec["run_seconds"])
                figures[w][s].append(m)
                print(f"set {s} run {k} {w}: " + " ".join(f"{n}={v:.4g}" for n, v in m.items()), flush=True)
    (ROOT / ".bench_build" / "steady.json").write_text(json.dumps(figures, indent=1))

    failures = 0
    print(f"\n{'workload':<18} {'metric':<18} {'bound':>6} " +
          " ".join(f"{'median' + str(s):>12} {'spread' + str(s):>8}" for s in range(a.sets)) + "  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [[r[name] for r in figures[w][s]] for s in range(a.sets)]
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) for v in sets]
            bad = []
            if name != "setup_s" and any(sp > bound for sp in spreads):
                bad.append("spread")
            if any(abs(med - meds[0]) / meds[0] > bound for med in meds[1:]):
                bad.append("median")
            failures += bool(bad)
            cells = " ".join(f"{md:>12.5g} {sp:>8.3f}" for md, sp in zip(meds, spreads))
            print(f"{w:<18} {name:<18} {bound:>6} {cells}  {'FAIL ' + ','.join(bad) if bad else 'ok'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
