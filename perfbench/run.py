#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one fresh JVM.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload analysis --seed 1 --seconds 6 --trace 0

Builds graft and the harness with sbt on first use (cached by a hash of
the sources), starts one fresh JVM on fixed input tables (under
perfbench/data; the seed sets the query order of each pass),
measures its set-up time, runs the workload in it (one cold pass, one
warm-up pass, then one measured warm pass per two seconds of
`--seconds`), checks every query's result against its DuckDB oracle,
and prints a summary and, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and keeps the span
trace under the build directory. `--smoke` runs every workload once, on
the sf0.001 tables (or on `--data DIR`), and checks that every metric
appears with its unit. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# The input tables: a copy of the project's sf0.01 test data (the scale
# its DuckDB parity gate runs at), the same for both workloads, and of
# its sf0.001 data for the smoke mode.
WORKLOADS = ("analysis", "curation")
DATA = os.path.join(HERE, "data", "sf0.01")
SMOKE_DATA = os.path.join(HERE, "data", "sf0.001")

RUN_BUDGET_S = 170     # a run ends within this, build excepted
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s")]
# per-query latency quantiles: printed on every run, reported as per-layer
# metrics (their run-to-run spread is too close to or over a bound)
LATENCY = [("query_p50_s", "s"), ("query_p90_s", "s")]


def per_layer_units():
    """Per-layer metric names and units, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


class BenchError(Exception):
    pass


def work_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


# ---- build ---------------------------------------------------------------

def _sources():
    pats = ["build.sbt", "project/build.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build(work):
    """Compiles graft and the harness once per source state; returns the
    run classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(work, "classpath." + stamp)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read()
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=850, stdin=subprocess.DEVNULL)
        out.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        raise BenchError(f"build failed (sbt exit {proc.returncode}); see {log}")
    for old in glob.glob(os.path.join(work, "classpath.*")):
        os.remove(old)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ---- one JVM ---------------------------------------------------------------

def jvm(cp, run_dir, args, timeout):
    """Runs the harness in a fresh JVM with its own temp and Spark local
    dirs; returns (ready epoch seconds, spawn epoch seconds, result)."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd += ["-Xmx3g", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    err_path = os.path.join(run_dir, "jvm.err")
    with open(err_path, "w") as err:
        spawn = time.time()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                env=env, stdin=subprocess.DEVNULL)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness JVM exceeded {timeout:.0f} s")
    ready = result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_READY "):
            ready = int(line.split()[1]) / 1000.0
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if proc.returncode != 0 or ready is None:
        with open(err_path) as f:
            tail = f.read()[-2000:]
        raise BenchError(f"harness JVM exit {proc.returncode}:\n{tail}")
    return ready, spawn, result


# ---- metrics ---------------------------------------------------------------

def measured_passes(seconds):
    """Measured warm passes for `--seconds`: one per two seconds, at
    least two. The count, not a clock, ends the loop, so every run pools
    the same number of latencies."""
    return max(2, math.ceil(seconds / 2))


def percentile(xs, pct):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


def tail_pct(n):
    """90 when at least ten samples lie above it; otherwise the highest
    percentile with ten samples above it, or with two when there are
    fewer than twenty samples, so that no single sample sets the tail."""
    above = 10 if n >= 20 else 2
    return min(90, max(50, math.floor(100.0 * (n - above) / n)))


def run(args):
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise BenchError("not a graft checkout: run from the repository root")
    import check
    work = work_dir()
    cp = build(work)
    deadline = time.time() + RUN_BUDGET_S
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = os.path.abspath(args.data or DATA)
        out = os.path.join(run_dir, "out")
        hargs = ["--workload", args.workload, "--data", data, "--seed", str(args.seed),
                 "--passes", str(measured_passes(args.seconds)),
                 "--trace", str(args.trace), "--out", out]
        if args.queries:
            hargs += ["--queries", args.queries]
        # the run budget holds for the timed subsets; a whole family list
        # (--queries) takes as long as it takes
        timeout = None if args.queries else max(30.0, deadline - time.time() - 10)
        ready, spawn, res = jvm(cp, os.path.join(run_dir, "main"), hargs, timeout)
        setup_s = ready - spawn
        t_check = time.time()
        n_oracle, n_rows, wrong = check.check(
            data, out, res["queries"], res["oracles"], res["verify_errors"],
            os.path.join(work, "oracle-cache"))
        t_check = time.time() - t_check
        if args.trace:
            traces = os.path.join(work, "traces")
            os.makedirs(traces, exist_ok=True)
            trace_copy = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            shutil.copyfile(os.path.join(out, "trace.json"), trace_copy)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    runs = res["runs"]
    threw = {r["name"]: r["error"] for r in runs if r["error"]}
    failed_runs = sum(1 for r in runs if r["error"])
    attempted = len(runs) + len(res["queries"])
    failed = failed_runs + len(wrong)
    untraced_warm = [p for p in res["passes"] if p["measured"] and not p["traced"]]
    warm_ids = {p["pass"] for p in untraced_warm}
    lat = [r["build_s"] + r["action_s"] for r in runs
           if r["pass"] in warm_ids and not r["error"]]
    if not lat:
        raise BenchError("no query completed a measured warm pass")
    pct = tail_pct(len(lat))
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": res["cold_pass_s"],
        "warm_pass_s": statistics.median(p["seconds"] for p in untraced_warm),
        "query_p50_s": percentile(lat, 50),
        "query_p90_s": percentile(lat, pct),
    }
    print(f"perfbench {args.workload} seed={args.seed} cores={res['cores']} "
          f"queries={len(res['queries'])} warm_passes={len(untraced_warm)}")
    for name, unit in END_TO_END + LATENCY:
        note = ""
        if name == "warm_pass_s":
            note = f"  (median of {len(untraced_warm)} passes)"
        elif name.startswith("query_p"):
            p = 50 if name == "query_p50_s" else pct
            note = f"  (p{p} of {len(lat)} warm query latencies)"
        print(f"  {name:<14} {e2e[name]:12.4f} {unit}{note}")
    print(f"  {'peak_rss_mb':<14} {res['peak_rss_mb']:12.4f} MB  (per-layer as jvm.peak_rss_mb)")
    print(f"  {'failed_frac':<14} {failed / attempted:12.4f} fraction  "
          f"({failed} of {attempted}: {failed_runs} threw, {len(wrong)} wrong)")
    print(f"  correctness: {n_oracle} results compared with DuckDB oracles, "
          f"{n_rows} without an oracle checked non-empty ({t_check:.1f} s)")
    for name, why in sorted({**threw, **wrong}.items()):
        print(f"  FAILED {name}: {why}")
    print("  passes (cold, warm-up, measured): "
          + " ".join(f"{p['seconds']:.3f}" for p in res["passes"]))
    for q in res["queries"]:
        cold = [r for r in runs if r["name"] == q and r["pass"] == 0]
        warm = [r["build_s"] + r["action_s"] for r in runs
                if r["name"] == q and r["pass"] in warm_ids]
        med = f"{statistics.median(warm):7.3f} s" if warm else "failed"
        print(f"    {q:<28} cold {cold[0]['build_s']:7.3f} + {cold[0]['action_s']:7.3f} s"
              f"   warm median {med}")

    if args.trace:
        units = per_layer_units()
        layers = {**res["layers"], **{k: e2e[k] for k, _ in LATENCY}}
        missing = sorted(set(units) - set(layers))
        if missing:
            raise BenchError(f"trace lacks per-layer metrics: {missing}")
        print(f"  trace: {trace_copy}")
        for k in units:
            print(f"  {k:<44} {layers[k]:14.4f} {units[k]}")
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    correct = failed == 0 and n_oracle == len(res["oracles"])
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def smoke(args):
    """Every workload once, untraced and traced, on the sf0.001 tables;
    checks that every metric is printed with its unit."""
    want = {0: dict(END_TO_END), 1: per_layer_units()}
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", "1", "--trace", str(trace),
                   "--data", args.data or SMOKE_DATA]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
            lines = p.stdout.strip().splitlines()
            try:
                last = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in last["metrics"].items()}
                good = p.returncode == 0 and got == want[trace] and last["correct"]
            except (IndexError, ValueError, KeyError, TypeError):
                good = False
            ok &= good
            print(f"smoke {w} trace={trace}: {'ok' if good else 'FAILED'}")
            if not good:
                print("\n".join(lines[-30:]))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="'all' for the workload's whole list, "
                    "or a comma-separated subset")
    ap.add_argument("--data", help="read the tables from DIR instead of perfbench/data")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    try:
        if args.smoke:
            return smoke(args)
        if not args.workload:
            ap.error("--workload is required")
        run(args)
        return 0
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
