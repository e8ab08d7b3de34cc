#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

Usage:
  python3 perfbench/run.py --workload {milan_batch,milan_stream}
      --seed N --seconds S --trace {0,1} [--scale SF]

Run from the root of a graft checkout.  The first run builds the library
(src/main/scala) and the benchmark runner (perfbench/src) with the
scala-compiler jar of the Spark distribution ($SPARK_HOME/jars, else the
jars directory build.sbt names) into .bench_build/.  Batch workloads read
the fixture tables in perfbench/data/sf<scale>/: the deterministic
(seed 42) parquet tables the library's own correctness checks and
benchmarks run on, copied unchanged.  The runner executes the workload in
one JVM at local[<cores available>]; its outputs are then compared with
the DuckDB oracle twins (batch) or with a batch run of the same programs
(stream).

Output: a `{"report": ...}` line with every metric, its unit and the
sample counts, then the result line the benchmark contract defines.
With --trace 0 the result carries the end-to-end metrics; with --trace 1
the per-layer metrics of the traced run, whose per-query, per-family and
span self-time breakdown is written to .bench_build/last/.
The exit code is non-zero when an operation failed or an output differs.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402

WORKLOADS = ("milan_batch", "milan_stream")
# A fixed-size heap under the parallel collector: no concurrent GC threads
# whose work lands in the timed queries, and a peak RSS that repeats.
JVM_HEAP = "3g"
# milan_stream's cost is per-micro-batch driver code spread over thousands
# of Spark methods; C2 keeps compiling them for longer than a run lasts, so
# its timed passes would sit on the JIT's warm-up curve.  With C1 alone
# they are flat once set-up ends.
WORKLOAD_JVM = {"milan_stream": ["-XX:TieredStopAtLevel=1"]}
RUN_DEADLINE_S = 165
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def tree_hash(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build_sbt():
    f = ROOT / "build.sbt"
    return f.read_text() if f.exists() else ""


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt())
    if m:
        candidates.append(Path(m.group(1)))
    for c in candidates:
        if glob.glob(str(c / "scala-compiler-*.jar")):
            return c
    fail("no Spark jars with a scala-compiler jar: set SPARK_HOME")


def jvm_options():
    """build.sbt's --add-opens list and its -D options."""
    text = build_sbt()
    opens = re.findall(r'"(java\.base/[\w./]+)"', text)
    props = re.findall(r'"(-D[^"$]+)"', text)
    return [f"--add-opens={p}=ALL-UNNAMED" for p in opens] + props


def scalac(jars, classpath, out, sources):
    """Compiles `sources` into the jar `out`."""
    compiler = [glob.glob(str(jars / f"scala-{n}-*.jar"))[0]
                for n in ("compiler", "library", "reflect")]
    out.unlink(missing_ok=True)
    argfile = out.with_suffix(".sources")
    argfile.write_text("\n".join(str(s) for s in sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(out), f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
        fail(f"compiling {out.name} failed")


def stale(stamp, key):
    return not stamp.exists() or stamp.read_text() != key


def build(jars):
    """The library and runner jars, rebuilt when their sources change."""
    lib_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not lib_src:
        fail("no library sources under src/main/scala; run from the root of a graft checkout")
    bench_src = sorted((HERE / "src").rglob("*.scala"))
    BUILD.mkdir(exist_ok=True)
    lib, bench = BUILD / "graft.jar", BUILD / "perfbench.jar"
    lib_key = tree_hash(lib_src)
    bench_key = tree_hash(bench_src, lib_key)
    for out, key, cp, src in ((lib, lib_key, f"{jars}/*", lib_src),
                              (bench, bench_key, f"{lib}:{jars}/*", bench_src)):
        stamp = out.with_suffix(".stamp")
        if stale(stamp, key):
            t0 = time.time()
            scalac(jars, cp, out, src)
            stamp.write_text(key)
            print(f"perfbench: built {out.name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return [bench, lib]


# ---------------------------------------------------------------- run

def run_runner(workload, argv, classpath, jars, work, cores):
    """Runs perfbench.Main in its own process group; `work` receives its
    records, outputs, Spark scratch space and log."""
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
           *WORKLOAD_JVM.get(workload, []), *jvm_options(),
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", ":".join([str(c) for c in classpath] + [f"{jars}/*"]),
           "perfbench.Main", *argv, "--work", str(work), "--cores", str(cores)]
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        print((work / "jvm.log").read_text()[-3000:], file=sys.stderr)
        fail("runner timed out" if rc is None else f"runner exited with {rc}")


# ---------------------------------------------------------------- correctness

def canon(df):
    """tools/check.py's canonical form: columns sorted by name, rows
    rendered with floats at 4 decimals and sorted."""
    cols = sorted(df.columns)
    recs = []
    for row in df[cols].itertuples(index=False):
        out = []
        for v in row:
            if isinstance(v, float):
                out.append(f"{v:.4f}" if not math.isnan(v) else "nan")
            elif v is None:
                out.append("NULL")
            else:
                out.append(str(v))
        recs.append("|".join(out))
    return cols, sorted(recs)


def digest(cols, recs):
    return {"cols": cols, "rows": len(recs),
            "sha": hashlib.sha256("\n".join(recs).encode()).hexdigest()}


def check_batch(checks, data, cache):
    """Names of the queries whose output differs from its oracle twin."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    cache.mkdir(parents=True, exist_ok=True)
    bad = []
    for c in checks:
        if not c["ok"] or not c["oracle"]:
            bad.append(c["q"])
            continue
        f = cache / (hashlib.sha256(c["oracle"].encode()).hexdigest()[:20] + ".json")
        if f.exists():
            want = json.loads(f.read_text())
        else:
            want = digest(*canon(con.execute(c["oracle"]).df()))
            f.write_text(json.dumps(want))
        out = c["path"]
        if glob.glob(f"{out}/*.parquet"):
            got = digest(*canon(con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')").df()))
        else:  # an empty result writes no part file
            got = digest(sorted(c["cols"]), [])
        if got != want:
            print(f"perfbench: {c['q']} differs from its oracle: {got} vs {want}",
                  file=sys.stderr)
            bad.append(c["q"])
    return bad


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="0.01", choices=("0.01", "0.001"),
                    help="scale factor of the fixture tables (batch workloads)")
    args = ap.parse_args()

    jars = spark_jars()
    cores = len(os.sched_getaffinity(0))
    classpath = build(jars)
    stream = args.workload == "milan_stream"
    data = HERE / "data" / f"sf{args.scale}"
    if not stream and not (data / "lineitem.parquet").exists():
        fail(f"no fixture tables in {data}")
    work = BUILD / "run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        run_runner(args.workload, ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--data", str(data)], classpath, jars, work, cores)
        recs = metrics.load(work / "records.jsonl")
        last = BUILD / "last"
        last.mkdir(parents=True, exist_ok=True)
        shutil.copy(work / "records.jsonl", last / f"{args.workload}-trace{args.trace}.jsonl")
        k = metrics.by_kind(recs)
        if k["fatal"]:
            fail(f"runner failed: {k['fatal'][0]['err']}")
        if stream:
            mismatched = [c["q"] for c in k["check"] if not c["ok"]]
            for c in k["check"]:
                if not c["ok"]:
                    print(f"perfbench: {c['q']} differs from its batch run: {c['err']}",
                          file=sys.stderr)
        else:
            for c in k["check"]:
                c["path"] = str(work / "check" / c["q"])
            mismatched = check_batch(k["check"], data, BUILD / "oracle" / f"sf{args.scale}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = metrics.ops(recs)
    e2e, samples = (metrics.stream_end_to_end if stream else metrics.batch_end_to_end)(recs)
    e2e["failed_ratio"] = failed / attempted if attempted else 1.0
    e2e["results_mismatched"] = len(mismatched)
    units = {**metrics.END_TO_END, **metrics.REPORT_ONLY, **metrics.PER_LAYER}
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "scale": None if stream else float(args.scale), "cores": cores,
              "samples": samples, "mismatched": mismatched,
              "metrics": {n: {"value": v, "unit": units[n]} for n, v in e2e.items()}}
    if args.trace:
        layers, detail = (metrics.stream_per_layer if stream else metrics.batch_per_layer)(
            recs, cores)
        out = {n: layers[n] for n in metrics.PER_LAYER}
        report["metrics"].update({n: {"value": v, "unit": units[n]} for n, v in out.items()})
        (BUILD / "last" / f"trace_{args.workload}.json").write_text(
            json.dumps({"total": out, **detail}, indent=1))
    else:
        out = {n: e2e[n] for n in metrics.END_TO_END}
    print(json.dumps({"report": report}))
    correct = not mismatched
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": units[n]} for n, v in out.items()}}))
    sys.exit(0 if correct and failed == 0 else 1)


if __name__ == "__main__":
    main()
