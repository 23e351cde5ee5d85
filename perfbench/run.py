#!/usr/bin/env python3
"""Run one workload of the graft steady-state benchmark and print its result.

    python3 perfbench/run.py --workload cow_upsert --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline),
then starts one JVM that seeds the tables, warms up, runs the closed loop for
--seconds and checks every answer. Prints each metric with its unit and
sample count, then, as the last line, one JSON object with the metrics that
BENCHMARK.json lists: the end-to-end ones with --trace 0, the per-layer ones
with --trace 1. Exits 1 when a correctness check fails, 2 when the run could
not be made. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("cow_upsert", "mor_read_mix", "corpus_dedup_ingest")
RUN_LIMIT_S = 170

# the module openings Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            inputs += [os.path.join(d, n) for n in names]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    for p in (cp_file, stamp_file):
        if os.path.exists(p):
            os.remove(p)
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeClasspath"],
            cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def run_jvm(cp, args, work, out, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--scale", args.scale,
              "--corrupt-expectation", "1" if args.corrupt_expectation else "0"])
    log = out[:-len(".json")] + ".log"
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s and was stopped; see {log}")
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"benchmark JVM exited {code}; see {log}")


def fmt(m):
    v = m["value"]
    return "n/a" if v is None else f"{v:.6g}"


def print_table(title, metrics):
    print(f"# {title}")
    for name, m in metrics.items():
        note = f"  ({m['note']})" if m.get("note") else ""
        print(f"  {name:44s} {fmt(m):>14s} {m['unit']:8s} n={m['n']}{note}")


def overhead(res, tag):
    """Traced-run medians against an untraced run of the same workload, at the
    same scale: the same seed when there is one, else the latest."""
    same = os.path.join(OUT, f"{res['workload']}-s{res['seed']}-t0{tag}.json")
    cands = [os.path.join(OUT, n) for n in os.listdir(OUT)
             if n.startswith(res["workload"] + "-s") and n.endswith(f"-t0{tag}.json")]
    base = same if os.path.exists(same) else max(cands, key=os.path.getmtime, default=None)
    if base is None:
        print("# tracing overhead: no untraced run of this workload to compare with")
        return
    with open(base) as f:
        untraced = json.load(f)
    print(f"# tracing overhead: traced vs untraced medians ({os.path.basename(base)})")
    for name in ("write_p50_s", "read_p50_s", "ingest_per_s"):
        a, b = res["metrics"][name]["value"], untraced["metrics"][name]["value"]
        if a is not None and b:
            print(f"  {name:44s} traced {a:.6g}  untraced {b:.6g}  ratio {a / b:.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small tables, one seeding, one warm-up step (smoke tests)")
    ap.add_argument("--corrupt-expectation", action="store_true",
                    help="perturb the final expected checksum (the check must fail)")
    args = ap.parse_args()

    deadline = time.time() + RUN_LIMIT_S
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala")) \
            or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("the engine sources (build.sbt, src/main/scala) are not next to perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    cp = build()
    deadline = max(deadline, time.time() + 120)  # a fresh build does not eat the run
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    tag = "" if args.scale == "full" else f"-{args.scale}"
    out = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    try:
        run_jvm(cp, args, work, out, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out) as f:
        res = json.load(f)

    print(f"# {res['workload']} seed={res['seed']} trace={res['trace']} "
          f"steps={res['steps']} loop_s={res['loop_s']:.3f} "
          f"attempted={res['attempted']} failed={res['failed']} correct={res['correct']}")
    for e in res["errors"]:
        print(f"  error: {e}")
    for e in res["mismatches"]:
        print(f"  MISMATCH: {e}")
    print_table("end-to-end metrics (all)", res["end_to_end"])
    print_table("end-to-end metrics (BENCHMARK.json)", res["metrics"])
    if args.trace:
        print_table("per-layer metrics", res["layers"])
        print("# spans: name, calls, median total s, median self s")
        for s in res["span_summary"]:
            print(f"  {s['name']:44s} {s['calls']:5d} {s['total_s']:10.4f} {s['self_s']:10.4f}")
        overhead(res, tag)

    source = res["layers"] if args.trace else res["metrics"]
    missing = [n for n in wanted if source.get(n, {}).get("value") is None]
    if missing:
        fail(f"metrics missing from the run: {', '.join(missing)}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": source[n]["value"], "unit": source[n]["unit"]}
                    for n in wanted},
    }))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
