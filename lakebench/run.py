#!/usr/bin/env python3
"""lakebench: end-to-end and per-layer benchmark of graft.

Usage, from the root of a graft checkout:

    python3 lakebench/run.py --workload registry_read --seed 1 --seconds 12 --trace 0

Builds graft (`src/main/scala`) and the benchmark harness (`lakebench/src`)
with the Scala compiler that ships in Spark's jar directory (`$SPARK_HOME/jars`,
else the `unmanagedBase` of build.sbt), caching the
classes under `.bench_build/`. Then runs one workload in one JVM with Spark
`local[min(nproc, 4)]` and prints human-readable metric lines followed by one
JSON line: `{"correct", "attempted", "failed", "metrics"}`. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones (and writes
the span/job trace to `.bench_work/traces/`). See lakebench/NOTES.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import analysis  # noqa: E402

WORKLOADS = ("registry_read", "ingest_write", "corpus_dedup")
END_TO_END = (("setup_s", "s"), ("ops_per_s", "ops/s"), ("op_p50_ms", "ms"), ("peak_rss_mb", "MB"))
INFO_UNITS = {"op_p90_ms": "ms", "failed_op_frac": "ratio", "registered_artifacts_per_s": "1/s",
              "stored_bytes_per_user_byte": "ratio", "dedup_docs_per_s": "docs/s"}
BUILD_DIR = ROOT / ".bench_build" / "lakebench"
WORK_DIR = ROOT / ".bench_work"
JVM_TIMEOUT_S = 170
# A fixed young generation and the serial collector keep heap growth, and
# so peak RSS, a function of the work rather than of adaptive GC sizing.
# -UsePerfData: HotSpot would otherwise write its perf-data file to the
# system temp directory, outside the checkout.
JVM_FLAGS = ["-XX:+UseSerialGC", "-Xms512m", "-Xmn256m", "-Xmx3g", "-XX:-UsePerfData"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    directory graft's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"], "jars"))
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if list(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BenchError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources():
    graft = ROOT / "src" / "main" / "scala"
    if not graft.is_dir():
        raise BenchError(f"graft sources not found under {graft}")
    files = sorted(graft.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    return files, resources


def build(jars):
    """Compile graft and the harness into one class directory, once per
    source state."""
    files, resources = sources()
    h = hashlib.sha256()
    for f in files + (sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    key = h.hexdigest()
    classes = BUILD_DIR / "classes"
    stamp = BUILD_DIR / "stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == key:
        return classes
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    args = BUILD_DIR / "sources.txt"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    log = BUILD_DIR / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx1536m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-usejavacp", "-classpath", str(tmp), "-nowarn", "-d", str(tmp), f"@{args}"],
            stdout=out, stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        raise BenchError(f"compilation failed; see {log}:\n" + log.read_text()[-3000:])
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(key)
    return classes


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def run_jvm(classes, jars, workload, seed, seconds, trace):
    work = WORK_DIR / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [*JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", f"{classes}:{jars}/*",
            "lakebench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", str(work), "--out", str(raw_path), "--cores", str(cores())])
    log = work.parent / f"{workload}.log"
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        with open(log, "w") as out:
            rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                timeout=JVM_TIMEOUT_S).returncode
        if rc != 0 or not raw_path.is_file():
            raise BenchError(f"benchmark JVM exited with {rc}; log tail:\n" + log.read_text()[-4000:])
        return json.loads(raw_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest", action="store_true",
                    help="print digests of the seed's input set and operation sequence, then exit")
    a = ap.parse_args(argv)
    try:
        jars = spark_jars()
        classes = build(jars)
        if a.digest:
            out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{classes}:{jars}/*", "lakebench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--digest", "1"],
                                 capture_output=True, text=True, timeout=120, check=True)
            print(out.stdout.strip().splitlines()[-1])
            return 0
        raw = run_jvm(classes, jars, a.workload, a.seed, a.seconds, a.trace == 1)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        print(f"lakebench: {e}", file=sys.stderr)
        return 2

    e2e, info = analysis.end_to_end(raw)
    n_ops = len(raw["ops"])
    n_failed = analysis.failed_ops(raw)
    print(f"workload {a.workload} seed {a.seed}: {n_ops} operations, closed loop, one client, "
          f"local[{raw['cores']}], trace={a.trace}")
    print(f"  set-up: jvm {raw['jvm_s']:.2f} s, session {raw['session_s']:.2f} s, inputs "
          + " / ".join(f"{x:.2f}" for x in raw["setup_reps_s"])
          + f" s, warm-up {raw['warmup_s']:.2f} s; timed sequence {raw['wall_s']:.2f} s")
    for o in raw["ops"]:
        if not o["ok"]:
            print(f"  FAILED op {o['i']} ({o['kind']}): {o['error']}")
    for f in raw["deferred_failures"]:
        print(f"  FAILED end-state check (op {f['i']}): {f['error']}")
    for k, unit in END_TO_END:
        print(f"  {k} = {fmt(e2e[k])} {unit}")
    for k, v in info.items():
        print(f"  {k} = {fmt(v)} {INFO_UNITS[k]}" + ("" if v is not None else " (fewer than 100 operations)"))
    print(f"  correctness: {n_ops - n_failed}/{n_ops} operations passed their checks")

    results = WORK_DIR / "results"
    results.mkdir(parents=True, exist_ok=True)
    if a.trace == 0:
        (results / f"{a.workload}.json").write_text(json.dumps({"seed": a.seed, "metrics": e2e}))
        metrics = {k: {"value": e2e[k], "unit": unit} for k, unit in END_TO_END}
    else:
        layer = analysis.per_layer(raw)
        traces = WORK_DIR / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        trace_file = traces / f"{a.workload}-seed{a.seed}.json"
        trace_file.write_text(json.dumps({"spans": raw["spans"], "jobs": raw["jobs"], "ops": raw["ops"]}))
        for k in analysis.per_layer_names():
            print(f"  {k} = {fmt(layer[k])} {analysis.unit_of(k)}")
        prev = results / f"{a.workload}.json"
        if prev.is_file():
            base = json.loads(prev.read_text())
            ov = analysis.overhead(e2e, base["metrics"])
            print(f"  tracing overhead vs the last untraced run (seed {base['seed']}): " +
                  ", ".join(f"{k} {v:+.1%}" for k, v in sorted(ov.items())))
        else:
            print("  tracing overhead: no untraced run of this workload recorded in this checkout")
        print(f"  trace written to {trace_file.relative_to(ROOT)}")
        metrics = {k: {"value": layer[k], "unit": analysis.unit_of(k)} for k in analysis.per_layer_names()}
    print(json.dumps({"correct": n_failed == 0, "attempted": n_ops, "failed": n_failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
