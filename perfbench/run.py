#!/usr/bin/env python3
"""User-flow benchmark for graft.

    python3 perfbench/run.py --workload <otu_session|corpus_pipeline>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
benchmark from source with sbt and generates the input tables; both are
kept under perfbench/.work and reused while the sources are unchanged.
Each run then starts one JVM that sets up a local SparkSession, runs the
workload's seeded plan (flows.py) and records every op's rows; after
the JVM exits, every distinct result is compared bitwise with DuckDB.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the
metrics are the end-to-end ones (set-up time, pass wall time, median
request latency); with --trace 1 the per-layer ones from traced
passes, with the per-step breakdown printed above the last line and the
spans written to perfbench/.work. Any failed or wrong op makes the exit
code non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import flows  # noqa: E402
import gen_data  # noqa: E402

BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 170
HEAP = "3g"
# as the root build.sbt: Spark on JDK 17 outside spark-submit needs these
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("req_p50_s", "s")]
PER_LAYER_UNITS = {"_s": "s", "bytes": "bytes", "_mb": "MB", "frac": "ratio",
                   "util": "ratio"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build and the answers ahead depend on, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    files += sorted(os.path.join(HERE, n) for n in os.listdir(HERE) if n.endswith(".py"))
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build(data):
    """Compile graft and the benchmark; return the runtime classpath.
    After a build, DuckDB answers the ops every run needs whatever its
    seed (flows.fixed_ops) into the cache."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            fresh, classpath = f.read() == h.hexdigest(), g.read()
        if fresh and all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    if shutil.which("sbt") is None:
        fail("sbt is not on the PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("the sbt build failed")
    classpath = lines[-1].strip()
    answer_ahead(classpath, data)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath


def answer_ahead(classpath, data):
    ops_path, sql_path = os.path.join(WORK, "fixed-ops.json"), os.path.join(WORK, "fixed-sql.json")
    with open(ops_path, "w") as f:
        json.dump(flows.fixed_ops(), f)
    proc = subprocess.run(["java", "-cp", classpath, "perfbench.Main", "--sql", ops_path, sql_path],
                          stdin=subprocess.DEVNULL, capture_output=True, text=True,
                          timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("could not render the DuckDB SQL of the fixed ops")
    oracle = check.Oracle(data, data + "-oracle", cores())
    with open(sql_path) as f:
        for sql in json.load(f):
            oracle.answer(sql)


def cores():
    return len(os.sched_getaffinity(0))


def data_dir():
    """The input tables, written once per version of gen_data.py."""
    with open(gen_data.__file__, "rb") as f:
        d = os.path.join(WORK, "data-" + hashlib.sha256(f.read()).hexdigest()[:16])
    if not os.path.isdir(d):
        shutil.rmtree(d + ".partial", ignore_errors=True)
        gen_data.write(d)
    return d


def run_jvm(classpath, plan, run_dir):
    plan_path, result_path = os.path.join(run_dir, "plan.json"), os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Main", plan_path, result_path])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM exited with code {code}")
    with open(result_path) as f:
        return json.load(f)


def percentile(xs, q):
    """Linear-interpolation percentile (numpy's default)."""
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    return s[lo] if lo + 1 >= len(s) else s[lo] + (s[lo + 1] - s[lo]) * (k - lo)


def unit(name):
    for suffix, u in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(flows.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft's sources (src/main/scala) are not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    data = data_dir()
    classpath = build(data)
    plan = flows.self_check(args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan.update(data=data, out=os.path.join(run_dir, "out"), seconds=args.seconds,
                trace=bool(args.trace), cores=cores(), spans=os.path.join(run_dir, "spans.json"))
    result = run_jvm(classpath, plan, run_dir)
    for scratch in ("spark-local", "out", "tmp"):
        shutil.rmtree(os.path.join(run_dir, scratch), ignore_errors=True)

    # ---- correctness, outside the timed phase
    oracle = check.Oracle(data, data + "-oracle", cores())
    ops = result["ops"]
    failed = 0
    for op in ops:
        why = op["error"]
        if why is None and "rows" in op:
            why = check.compare(op, oracle)
        if why is not None:
            failed += 1
            print(f"FAIL {op['id']} {op['name']}: {why}", file=sys.stderr)

    timed = [op for op in ops if op["pass"] >= 0 and not op["traced"]]
    walls = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    summary = (f"perfbench {args.workload} seed={args.seed}: {len(result['passes'])} passes, "
               f"{len(timed)} untraced timed ops, failed_frac={failed / len(ops):.4f} ratio, "
               f"{result['timed_codegen_classes']} classes compiled in the timed phase")
    if args.trace:
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in result["layers"].items()}
        for name, step in result["steps"].items():
            print(f"[step] {name} " + json.dumps(step, sort_keys=True))
    else:
        lat = [op["latency_s"] for op in timed]
        values = {"setup_s": result["setup_s"], "wall_s": statistics.median(walls),
                  "req_p50_s": percentile(lat, 0.5)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
        # a run's 16 requests leave fewer than 10 beyond p90, too few for
        # a metric with a bound; it is printed for reading only
        summary += f", req_p90_s={percentile(lat, 0.9):.4f} s over {len(lat)} ops"
    print(summary)
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
