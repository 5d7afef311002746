#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload catalog|migrate \
      --seed N --seconds S --trace 0|1

Builds the library and the benchmark from source (cached), prepares the
workload's seeded inputs (cached), runs one JVM that does set-up (timed
from JVM start), one cold pass and warm passes for S seconds, checks every op's
output, and prints the metrics BENCHMARK.json names. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import fixtures  # noqa: E402
import stats  # noqa: E402
from oracle import Oracle  # noqa: E402

ROOT = build.ROOT
RUN = ROOT / ".bench_build" / "run"
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cores():
    return len(os.sched_getaffinity(0))


def driver_heap():
    """Half the host memory in whole GB, between 2 and 8 (the tier-1 heap)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_jvm(cp, workload, seed, seconds, trace, data, run_dir, cores):
    for d in ("derby", "tmp"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), f"-Xmx{driver_heap()}", "-XX:-UsePerfData"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            # Derby stands in for a database server: its log fsyncs would
            # time the host's disk, not the library
            f"-Dderby.system.home={run_dir / 'derby'}", "-Dderby.system.durability=test",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", str(data), "--run-dir", str(run_dir),
            "--cores", str(cores)]
    with open(run_dir / "jvm.log", "w") as out:
        try:
            code = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = None
    for line in (run_dir / "jvm.log").read_text(errors="replace").splitlines():
        if "[perfbench]" in line:
            print(line, file=sys.stderr)
    if code is None:
        log(f"JVM killed after {JVM_TIMEOUT_S} s")
    return code


def check_queries(result, data, run_dir):
    """Checks every op's output; marks failures and fills in row counts."""
    oracle = Oracle(data)
    sqls = result["oracles"]
    first = {}
    for p in result["passes"]:
        for op in p["ops"]:
            if op["error"]:
                continue
            name, out = op["name"], run_dir / "out" / f"p{p['pass']}" / op["name"]
            try:
                dig = oracle.digest(out)
                op["rows"] = dig[0]
                if name not in first:
                    if name not in sqls:
                        raise KeyError(f"no oracle SQL for {name}")
                    why = oracle.compare(out, oracle.expected(name, sqls[name]))
                    first[name] = (dig, why)
                else:
                    why = first[name][1] or (None if dig == first[name][0] else
                                             f"digest {dig} differs from the first pass {first[name][0]}")
            except Exception as e:  # a broken output is a failed op, with its cause
                why = f"{type(e).__name__}: {e}"
            if why:
                op["error"] = f"check: {why}"
                log(f"check failed for {name} (pass {p['pass']}): {why}")


def end_to_end(result):
    passes = result["passes"]
    # pass 0 is cold; pass 1 warms the JIT and is not measured
    warm = [p for p in passes[2:] if not p["traced"]]
    warm_ms = [o["ms"] for p in warm for o in p["ops"]]
    tail, pct, n = stats.tail(warm_ms)
    log(f"warm op wall: p50 {stats.median(warm_ms):.1f} ms, p{pct:.1f} {tail:.1f} ms, n={n}")
    return {
        "setup_s": result["setup_s"],
        "cold_s": passes[0]["wall_s"],
        "warm_s": stats.median([p["wall_s"] for p in warm]),
        "rows_per_s": stats.median(
            [sum(max(o["rows"], 0) for o in p["ops"]) / p["wall_s"] for p in warm]),
    }


def per_layer(result):
    passes = result["passes"]
    traced = [p for p in passes[1:] if p["traced"]]
    keys = sorted({k for p in traced for k in p["layers"]})
    out = {k: sum(p["layers"].get(k, 0.0) for p in traced) / len(traced) for k in keys}
    out.update(result["setup_layers"])
    out["jvm.peak_heap_mb"] = max(p["heap_mb"] for p in passes)
    out.update(result["artifacts"])
    out["trace.overhead_pct"] = trace_overhead_pct(passes[2:])
    return out


def trace_overhead_pct(warm):
    """Median over traced passes of their wall against the mean of the
    untraced passes on either side. `warm` leaves out the first warm
    pass, which is still on the JIT's slope; neighbours cancel any
    slower drift."""
    gaps = []
    for i, p in enumerate(warm):
        if p["traced"]:
            near = [q["wall_s"] for q in warm[max(i - 1, 0):i + 2] if not q["traced"]]
            if near:
                base = sum(near) / len(near)
                gaps.append(100.0 * (p["wall_s"] - base) / base)
    return stats.median(gaps)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(fixtures.PREPARE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build.build()
        data = fixtures.PREPARE[a.workload](a.seed)
    except (build.BuildError, fixtures.FixtureError) as e:
        log(f"cannot run: {e}")
        return 2
    run_dir = RUN / a.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cores = host_cores()
    code = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace == 1, data, run_dir, cores)
    res_path = run_dir / "result.json"
    if not res_path.is_file():
        log(f"JVM exited with {code} and no result; see {run_dir / 'jvm.log'}")
        return 1
    result = json.loads(res_path.read_text())
    if a.workload != "migrate":
        check_queries(result, data, run_dir)
    lines, final, ok = report(result, a.workload, a.trace == 1, spec())
    for line in lines:
        print(line)
    print(f"{a.workload}: cores={cores} seed={a.seed} passes={len(result['passes'])}")
    print(json.dumps(final))
    return 0 if ok and code == 0 else 1


def report(result, workload, trace, bench_spec):
    """Metric lines, the final result object, and whether every metric came out."""
    ops = [o for p in result["passes"] for o in p["ops"]]
    failed = [o for o in ops if o["error"]]
    for o in failed:
        log(f"FAILED {o['name']}: {o['error']}")
    if result["fatal"]:
        log(f"workload ended by a fatal error: {result['fatal']}")
    wanted = bench_spec["per_layer"] if trace else bench_spec["end_to_end"]
    values = {}
    if result["passes"] and not result["fatal"]:
        values = per_layer(result) if trace else end_to_end(result)
    metrics, lines = {}, []
    for m in wanted:
        if m["name"] in values:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
            lines.append(f"{workload} {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing and not result["fatal"]:
        log(f"metrics not produced: {missing}")
    lines.append(f"{workload}: ops={len(ops)} failed={len(failed)}")
    final = {"correct": not failed and not result["fatal"] and not missing,
             "attempted": max(len(ops), 1), "failed": len(failed), "metrics": metrics}
    return lines, final, not missing and not result["fatal"]


if __name__ == "__main__":
    sys.exit(main())
