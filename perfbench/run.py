#!/usr/bin/env python3
"""Run the repository benchmark (see perfbench/README.md).

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      One run. Builds the harness first when its sources changed, prints
      every metric by name with its unit, the correctness gates, and as the
      last line one JSON object: {"correct", "attempted", "failed", "metrics"}
      with the end_to_end metrics of BENCHMARK.json (--trace 0) or its
      per_layer metrics (--trace 1).

  python3 perfbench/run.py --steady <runs> [--sets 2] [--workloads a,b] [--trace 0|1]
      Steadiness mode: runs every workload <runs> times per set with a new
      seed each time, alternating the workload order, and prints each
      metric's median, quartiles and IQR / median against its bound; with
      two sets it also compares the second set's medians to the first's.

  python3 perfbench/run.py --selftest
      Runs the harness self-tests.

Run it from the root of a checkout; everything it writes stays under
perfbench/ (build output, scratch tables, logs and traces).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target", "bench")
OUT = os.path.join(HERE, "out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
HEAP = "-Xmx4g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def engine_sources():
    return os.path.join(ROOT, "src", "main", "scala")


def source_files():
    """The inputs of the build: engine and harness sources and build files."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (engine_sources(), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def digest(files, content):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        if content:
            with open(f, "rb") as fh:
                h.update(fh.read())
        else:
            st = os.stat(f)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build():
    """Compile engine + harness with sbt once; reuse while sources are unchanged."""
    files = source_files()
    stamp = digest(files, content=False)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.server.forcestart=false", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as lf:
        lf.write(p.stdout)
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (sbt exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=30).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def load_bench():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def run_once(args, bench):
    cp = build()
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [HEAP, "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", OUT, "--git-sha", git_sha(),
              "--source-digest", digest(source_files(), content=True)[:16]])
    log = os.path.join(OUT, f"{tag}.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=lf,
                                 stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S}s and was stopped; see {log}", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if result is None:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run ended (exit {p.returncode}) without a result; log: {log}", 3)
    with open(os.path.join(OUT, f"last-{tag}.json"), "w") as fh:
        json.dump(result, fh, indent=1)

    declared = bench["per_layer"] if args.trace else bench["end_to_end"]
    want = {m["name"] for m in declared}
    print(f"[{args.workload}] metrics (* = in the result line):")
    for k, m in result["metrics"].items():
        print(f"  {'*' if k in want else ' '} {k:36s} {m['value']:.6g} {m['unit']}")
    if args.trace:
        report_overhead(args, bench, result)
    if args.trace:
        absent = [m["name"] for m in declared if m["name"] not in result["metrics"]]
        if absent:
            print(f"[{args.workload}] not measured on this workload (reported as 0): "
                  + ", ".join(absent))
        for k in absent:
            result["metrics"][k] = {"value": 0, "unit": ""}
    missing = [m["name"] for m in declared if m["name"] not in result["metrics"]]
    if missing:
        fail(f"workload {args.workload} did not report {', '.join(missing)}", 4)
    line = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": result["metrics"][m["name"]]["value"],
                                "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(line))
    sys.exit(0 if p.returncode == 0 and line["correct"] else 1)


def report_overhead(args, bench, traced):
    """Tracing overhead: traced minus untraced end-to-end, same workload and seed."""
    path = os.path.join(OUT, f"last-{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(path):
        print(f"[{args.workload}] overhead: no untraced run with seed {args.seed} to compare")
        return
    with open(path) as fh:
        plain = json.load(fh)["metrics"]
    print(f"[{args.workload}] tracing overhead (traced - untraced, seed {args.seed}):")
    for m in bench["end_to_end"]:
        k = m["name"]
        if k in plain and k in traced["metrics"]:
            a, b = plain[k]["value"], traced["metrics"][k]["value"]
            rel = (b - a) / a if a else float("nan")
            print(f"    {k:24s} {b - a:+.6g} {m['unit']} ({100 * rel:+.1f}%)")


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def steady(args, bench):
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]
    seconds = args.seconds or bench["run_seconds"]
    results = {}  # (set, workload) -> list of metric dicts
    k = 0
    for s in range(args.sets):
        for r in range(args.steady):
            order = names if k % 2 == 0 else list(reversed(names))
            for w in order:
                seed = args.seed + k
                t0 = time.time()
                p = subprocess.run([sys.executable, os.path.abspath(__file__),
                                    "--workload", w, "--seed", str(seed),
                                    "--seconds", str(seconds), "--trace", str(args.trace)],
                                   cwd=ROOT, capture_output=True, text=True)
                line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
                try:
                    res = json.loads(line)
                except ValueError:
                    res = None
                ok = p.returncode == 0 and res is not None and res["correct"]
                print(f"set {s + 1} run {r + 1} {w} seed {seed}: "
                      f"{'ok' if ok else 'FAILED (exit %d)' % p.returncode} in {time.time() - t0:.0f}s",
                      flush=True)
                if res is not None:
                    results.setdefault((s, w), []).append(res["metrics"])
            k += 1
    summary = []
    for w in names:
        print(f"\n{w}:")
        print(f"  {'metric':30s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'iqr/med':>8s} {'bound':>6s}")
        for m in declared:
            med = []
            for s in range(args.sets):
                vals = [x[m["name"]]["value"] for x in results.get((s, w), []) if m["name"] in x]
                if len(vals) < 2:
                    continue
                q1, md, q3, rel = spread(vals)
                med.append(md)
                bound = m.get("bound")
                verdict = ""
                if bound is not None and m["name"] != "setup_s":
                    verdict = ("steady" if rel <= bound / 3 else
                               "within bound" if rel <= bound else "TOO NOISY")
                print(f"  {m['name']:30s} {s + 1:3d} {md:12.6g} {q1:12.6g} {q3:12.6g} "
                      f"{rel:8.3f} {bound if bound is not None else '-':>6} {verdict}")
                summary.append({"workload": w, "metric": m["name"], "set": s + 1, "n": len(vals),
                                "median": md, "q1": q1, "q3": q3, "iqr_over_median": rel})
            if len(med) == 2 and m.get("bound") is not None:
                worse = (med[1] - med[0]) / med[0]
                if m["better"] == "higher":
                    worse = -worse
                print(f"  {'':30s} second set vs first: {100 * worse:+.1f}% worse "
                      f"({'ok' if worse <= m['bound'] else 'BEYOND BOUND'})")
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"steady-{int(time.time())}.json")
    with open(path, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"\nsummary written to {path}")


def selftest():
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "-Dsbt.server.forcestart=false", "test"],
                       cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL)
    sys.exit(p.returncode)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, metavar="RUNS")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(engine_sources(), "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine sources (src/main/scala/graft, build.sbt) are not in this "
             "checkout; run from the root of a full checkout")
    if args.selftest:
        selftest()
    bench = load_bench()
    if args.steady:
        steady(args, bench)
    elif args.workload:
        if args.seconds is None:
            args.seconds = bench["run_seconds"]
        run_once(args, bench)
    else:
        ap.error("give --workload, --steady or --selftest")


if __name__ == "__main__":
    main()
