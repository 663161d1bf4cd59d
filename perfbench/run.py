#!/usr/bin/env python3
"""Layer-timed benchmark of the engine's operator rows.

Run from the root of a checkout:

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
      One run of workload W (see workloads.json) in a fresh JVM. Prints one
      JSON object as the last line of standard output: the end-to-end
      metrics with --trace 0, the per-layer metrics with --trace 1.

  python3 perfbench/run.py --all
      Every workload: three untraced runs (seeds 1, 2, 3) and one traced run.
      Prints each end-to-end metric (median) and each per-layer metric with
      its unit, the tracing overhead, and checks every output.

  python3 perfbench/run.py --record
      Rewrite fingerprints.tsv from two runs of the current code; rows whose
      fingerprint differs between the runs are reported and not stored.

  python3 perfbench/run.py --oracle-check
      Cross-check the stored fingerprints of rows that have oracle SQL
      against DuckDB on the bench tables (uses graft.Verify and
      scripts/check.py of the checkout).

The first run in a checkout compiles the engine with the harness (sbt,
offline) and generates the tables (gen_data.py) under .bench_build/; later
runs reuse both while the sources are unchanged. All scratch files of a run
live under .bench_build/ and are deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
WARM_SF, BENCH_SF = "0.001", "0.1"
JVM_TIMEOUT_S = 170
UNTRACED_SEEDS = (1, 2, 3)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def stamped(name, key, make):
    """Run make() unless .bench_build/<name>.stamp already holds key."""
    stamp = os.path.join(BUILD, name + ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    make()
    with open(stamp, "w") as f:
        f.write(key)


def build():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        fail("no engine sources (src/main/scala/graft) in this checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}")
    os.makedirs(BUILD, exist_ok=True)
    key = digest([engine, os.path.join(HERE, "src", "main"),
                  os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties")])

    def compile_():
        scratch = os.path.join(BUILD, "sbt-tmp")
        os.makedirs(scratch, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=scratch,
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            # no boot lock, no server, no perf data, scratch inside the
            # checkout: the build writes nothing outside it
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.boot.lock=false", "-Dsbt.server.autostart=false",
                                f"-Djava.io.tmpdir={scratch}",
                                f"-Djna.tmpdir={scratch}", "compile"],
                               cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            fail("build failed, see .bench_build/build.log", 1)
    stamped("build", key, compile_)


def data_dir(sf):
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(BUILD, "data", f"sf{sf}")

    def generate():
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out, sf], check=True)
    stamped(f"data_sf{sf}", digest([gen]) + sf, generate)
    return out


def cpus():
    return min(4, os.cpu_count() or 1)


def run_jvm(rows, seed, trace, expect=True, spans=None):
    """One workload run in a fresh JVM; returns the harness's result."""
    warm, timed = data_dir(WARM_SF), data_dir(BENCH_SF)
    tmp = os.path.join(BUILD, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseG1GC", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Harness",
              "--rows", ",".join(rows), "--warm-dir", warm, "--timed-dir", timed,
              "--seed", str(seed), "--trace", "1" if trace else "0", "--cpus", str(cpus())])
    if expect:
        cmd += ["--expect", os.path.join(HERE, "fingerprints.tsv")]
    if spans:
        cmd += ["--spans", spans]
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
        with subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True) as p:
            try:
                out, err = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
                fail(f"harness exceeded {JVM_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(err[-4000:])
        fail(f"harness exited with code {p.returncode}", 1)
    return json.loads(lines[-1])


def workload_rows(name):
    w = load_json("workloads.json")
    if name not in w:
        fail(f"unknown workload {name!r}; choose one of {', '.join(w)}")
    return w[name]["rows"]


def one_run(args):
    bench = load_json(os.path.join("..", "BENCHMARK.json"))
    rows = workload_rows(args.workload)
    build()
    res = run_jvm(rows, args.seed, args.trace == 1,
                  spans=os.path.join(BUILD, f"spans-{args.workload}.jsonl") if args.trace else None)
    for f in res["failures"]:
        print(f"perfbench: FAILED {f['row']}: {f['error']}", file=sys.stderr)
    if args.trace:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = res["per_layer"]
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = res["end_to_end"]
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] == len(rows),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


def report(args):
    bench = load_json(os.path.join("..", "BENCHMARK.json"))
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    e2e_units["failed_frac"] = "fraction"
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    build()
    ok = True
    for w in bench["workloads"]:
        name = w["name"]
        rows = workload_rows(name)
        plain = [run_jvm(rows, seed, False) for seed in UNTRACED_SEEDS]
        traced = run_jvm(rows, 1, True, spans=os.path.join(BUILD, f"spans-{name}.jsonl"))
        print(f"== {name}: {len(rows)} rows; {len(plain)} untraced runs (median) + 1 traced run")
        for r in plain + [traced]:
            for f in r["failures"]:
                ok = False
                print(f"   FAILED {f['row']}: {f['error']}")
        for k, unit in e2e_units.items():
            v = statistics.median(r["end_to_end"][k] for r in plain)
            print(f"   {k:<28} {v:>14.4f} {unit}")
        lay = traced["per_layer"]
        for k, unit in layer_units.items():
            print(f"   {k:<28} {lay[k]:>14.4f} {unit}")
        wall = statistics.median(r["end_to_end"]["wall_s"] for r in plain)
        print(f"   {'trace.overhead_s':<28} {lay['trace.wall_s'] - wall:>14.4f} s")
        layers = lay["ops.s"] + lay["plans.s"] + lay["exec.s"]
        print(f"   {'layers/wall':<28} {layers / lay['trace.wall_s']:>14.4f} fraction")
    print("outputs: " + ("all match the stored fingerprints" if ok else "MISMATCHES above"))
    sys.exit(0 if ok else 1)


def record(_args):
    build()
    work = load_json("workloads.json")
    fps, unstable = {}, []
    for name, w in work.items():
        runs = [run_jvm(w["rows"], seed, False, expect=False) for seed in (1, 2)]
        for r in runs:
            for f in r["failures"]:
                fail(f"{f['row']} failed while recording: {f['error']}", 1)
        a, b = ({x["name"]: x["fp"] for x in r["rows"]} for r in runs)
        for row in w["rows"]:
            if a[row] == b[row]:
                fps[row] = a[row]
            else:
                unstable.append(row)
    with open(os.path.join(HERE, "fingerprints.tsv"), "w") as f:
        f.write(f"# row<TAB>rows:lo:hi of the output on gen_data.py sf{BENCH_SF} "
                "(see Fingerprint.scala)\n")
        for row in sorted(fps):
            f.write(f"{row}\t{fps[row]}\n")
    print(f"recorded {len(fps)} fingerprints")
    if unstable:
        fail("fingerprint differs between runs: " + ", ".join(unstable), 1)


def oracle_check(_args):
    build()
    rows = sorted({r for w in load_json("workloads.json").values() for r in w["rows"]})
    data = data_dir(BENCH_SF)
    out = os.path.join(BUILD, "oracle")
    shutil.rmtree(out, ignore_errors=True)
    cp = f"{CLASSES}:{SPARK_JARS}/*"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    subprocess.run(["java"] + opens + ["-Xmx3g", "-cp", cp, "graft.Verify", data, out] + rows,
                   check=True, env=env, stdin=subprocess.DEVNULL)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = sorted(set(json.load(f)) & set(rows))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), out, data]
                       + oracle, stdin=subprocess.DEVNULL)
    fp = subprocess.run(["java"] + opens + ["-Xmx3g", "-cp", cp, "perfbench.Harness",
                                            "--fingerprint-parquet", out] + oracle,
                        check=True, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    stored = dict(l.split("\t") for l in open(os.path.join(HERE, "fingerprints.tsv")).read()
                  .splitlines() if l and not l.startswith("#"))
    bad = 0
    for line in fp.stdout.splitlines():
        row, got = line.split("\t")
        if stored.get(row) != got:
            bad += 1
            print(f"FINGERPRINT {row}: Verify output {got} != stored {stored.get(row)}")
    print(f"== {len(oracle)} oracle rows; DuckDB check exit {r.returncode}; "
          f"{len(oracle) - bad} stored fingerprints reproduced from the checked output ==")
    sys.exit(1 if r.returncode or bad else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="nominal run length; a run is always one whole timed pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--oracle-check", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(HERE, "workloads.json")):
        fail("workloads.json is missing")
    if args.all:
        report(args)
    elif args.record:
        record(args)
    elif args.oracle_check:
        oracle_check(args)
    elif args.workload:
        one_run(args)
    else:
        ap.error("give --workload, --all, --record or --oracle-check")


if __name__ == "__main__":
    main()
