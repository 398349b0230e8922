"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from the checkout if needed (`build.py`), generates the
workload's inputs from the seed (`inputs.py`), runs the JVM side
(`perfbench.Main`) with one closed-loop client on `local[<cores>]`, checks
every op's output against DuckDB or a second route (`oracle.py`), and
prints every metric by name with its unit. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, and the spans go to `.bench_build/traces/`. The batch
workload runs each op in a fresh JVM (one application per op); the
other runs its ops in one JVM. Exits 1 when
any output is wrong, 2 when the program cannot be built.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402

WORKLOADS = ("medallion_batch", "gold_serving")
# batch jobs: each op is a fresh application (JVM), as a scheduled run is
COLD = ("medallion_batch",)
# a batch run launches one application per this many seconds asked
SECONDS_PER_APP = 10
TIMEOUT_S = 170
HEAP = "3g"
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def tail(values):
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile, samples beyond). Below 21 samples no percentile
    above the median has ten beyond it; then the upper median is the
    highest the sample supports, with (n - 1) // 2 samples beyond."""
    s = sorted(values)
    n = len(s)
    beyond = min(10, (n - 1) // 2)
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, beyond


def space_amp(space):
    """Bytes on disk under the warehouse ÷ live bytes in its tables."""
    return space["disk_bytes"] / space["live_bytes"]


def end_to_end(jvms, gen_s):
    ops = [o for r in jvms for o in r["ops"]]
    lat = [o["latency_s"] for o in ops]
    busy = sum(lat)
    space = jvms[-1]["space"]
    tail_v, tail_p, tail_n = tail(lat)
    metrics = {
        "setup_s": gen_s + statistics.median(r["setup_s"] for r in jvms),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "ops_per_s": len(lat) / busy,
        "input_rows_per_s": sum(o["input_rows"] for o in ops) / busy,
        "space_amp": space_amp(space),
    }
    detail = {"samples": len(lat), "op_tail_percentile": tail_p, "op_tail_beyond": tail_n}
    return metrics, detail


def per_layer(jvms):
    traced = [r for r in jvms if "per_layer" in r]
    metrics = {k: statistics.median(r["per_layer"][k] for r in traced) for k in traced[0]["per_layer"]}
    ops = [o for r in jvms for o in r["ops"]]
    untraced = [o["latency_s"] for o in ops if not o["traced"]]
    metrics["trace.overhead_ratio"] = (
        statistics.median(o["latency_s"] for o in ops if o["traced"]) / statistics.median(untraced))
    fresh = [o["fresh_s"] for o in ops if not o["traced"] and o["fresh_s"] is not None]
    metrics["sources.fresh_read_p50_s"] = statistics.median(fresh) if fresh else 0.0
    metrics["jvm.peak_rss_mb"] = max(r["peak_rss_mb"] for r in jvms)
    metrics["sources.space_amp"] = space_amp(jvms[-1]["space"])
    return metrics


def cpu_ticks():
    """(steal, total) CPU ticks of the host, or None off Linux."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    except OSError:
        return None
    return f[7], sum(f[:8])


def launch(a, classes, jars, work, k, seconds, trace, deadline):
    """Run one JVM of the workload; return its result with its set-up time."""
    tmp = work / f"tmp{k}"
    tmp.mkdir()
    out = work / f"result{k}.json"
    log = work / f"jvm{k}.log"
    cmd = [build.java(), *[x for o in OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", os.pathsep.join([str(classes), str(jars / "*")]), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(seconds),
           "--trace", str(trace), "--inputs", str(work / "inputs"), "--out", str(out)]
    t_launch = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=tmp)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    print(f"[perfbench run.py] jvm {k} exited after {time.time() - t_launch:.1f} s", file=sys.stderr)
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-6000:])
        print(f"perfbench: JVM side failed ({rc})", file=sys.stderr)
        sys.exit(1)
    sys.stderr.write("".join(l for l in log.read_text().splitlines(True) if l.startswith("[perfbench")))
    res = json.loads(out.read_text())
    res["setup_s"] = res["ready_ms"] / 1000.0 - t_launch
    shutil.rmtree(tmp, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_begin = time.time()
    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)

    import inputs
    import oracle

    t_setup = time.time()
    ticks = cpu_ticks()
    work = build.OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "inputs").mkdir(parents=True)
    try:
        inputs.generate(a.workload, a.seed, work / "inputs")
        gen_s = time.time() - t_setup
        deadline = t_setup + TIMEOUT_S
        jvms = []
        if a.workload in COLD:
            # one fresh application per op, a number fixed by --seconds (at
            # least one); a traced run alternates untraced and traced
            # applications, at least one of each
            apps = max(1, math.ceil(a.seconds / SECONDS_PER_APP), 2 * a.trace)
            for k in range(apps):
                jvms.append(launch(a, classes, jars, work, k, 0, a.trace * (k % 2), deadline))
        else:
            jvms.append(launch(a, classes, jars, work, 0, a.seconds, a.trace, deadline))

        orc = oracle.Oracle(work / "inputs", jvms[0]["oracle_sql"], work, build.OUT / "oracle")
        # every run fills the oracle cache for each query, so the first run
        # in a checkout pays the curation restatement (about 30 s), not
        # the longer traced run that checks it
        for q in jvms[0]["oracle_sql"]:
            orc.rows(q)
        problems = [f"{when}: {m}" for r in jvms for when in ("warm-up", "final")
                    for m in map(orc.check, r[f"{when.replace('-', '')}_checks"]) if m]
        failed = 0
        ops = [dict(o, jvm=k) for k, r in enumerate(jvms) for o in r["ops"]]
        for o in ops:
            bad = [m for m in map(orc.check, o["checks"]) if m]
            if o["error"]:
                bad.append(o["error"])
            if not o["checks"] and not o["error"]:
                bad.append("op produced no checked output")
            if bad:
                failed += 1
                problems += [f"op {o['jvm']}.{o['i']}: {m}" for m in bad]

        if a.trace:
            measured, detail = per_layer(jvms), {}
        else:
            measured, detail = end_to_end(jvms, gen_s)
        if ticks and cpu_ticks():
            # CPU time the hypervisor gave to other guests: a noisy-host flag
            (s0, t0), (s1, t1) = ticks, cpu_ticks()
            detail["host_steal_share"] = (s1 - s0) / max(1, t1 - t0)
        spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
        metrics = {m["name"]: (measured[m["name"]], m["unit"])
                   for m in spec["per_layer" if a.trace else "end_to_end"]}
        artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                    "setup": [r["setup"] for r in jvms], "space": jvms[-1]["space"], **detail,
                    "ops": ops, "problems": problems, "metrics": measured}
        if a.trace:
            artifact.update(spans=[dict(x, jvm=k) for k, r in enumerate(jvms) for x in r.get("spans", [])],
                            top_stages=[dict(x, jvm=k) for k, r in enumerate(jvms)
                                        for x in r.get("top_stages", [])])
        folder = build.OUT / ("traces" if a.trace else "results")
        folder.mkdir(exist_ok=True)
        (folder / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(artifact, indent=1))

        print(f"[perfbench run.py] checked at {time.time() - t_begin:.1f} s", file=sys.stderr)
        for m in problems[:20]:
            print(f"WRONG {m}")
        print(f"{a.workload} seed={a.seed} ops={len(ops)} failed={failed} jvms={len(jvms)} "
              f"host_steal_share={detail.get('host_steal_share', float('nan')):.3f}")
        for k, (v, u) in metrics.items():
            print(f"  {k:<40} {v:>14.6g} {u}")
        correct = not problems
        print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
