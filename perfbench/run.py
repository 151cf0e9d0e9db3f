#!/usr/bin/env python3
"""App-flow benchmark of the engine: the reference app's loop (land items,
embed and index them, edit them, kNN search and hydrate, Mango find) over
the public API, in one process on a local SparkSession.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
perfbench/.build; later runs rebuild only when a source file changed.
The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics, or with --trace 1 the per-layer ones).
What sets the workloads apart lives in perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

BUILD = HERE / ".build"
WORK = HERE / ".work"
HEAP = "4g"
# set-ups per run, of which setup_s is the median
SETUP_REPS = 3
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
UNITS = {
    "setup_s": "s", "knn_range_p50_ms": "ms", "knn_exact_p50_ms": "ms",
    "knn_indexed_p50_ms": "ms", "find_p50_ms": "ms", "upsert_p50_ms": "ms",
    "freshness_p50_s": "s", "ingest_docs_per_s": "docs/s", "recall_at_10": "ratio",
    "stored_bytes_per_doc": "bytes"}
READ_P50S = ["knn_range_p50_ms", "knn_exact_p50_ms", "knn_indexed_p50_ms", "find_p50_ms"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    roots = [ROOT / "src" / "main" / "scala", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    files = []
    for r in roots:
        files += [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compile engine + harness if any source changed; return the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: the engine sources (src/main/scala/graft) are missing")
    h = hashlib.sha256()
    for f in sources():
        st = f.stat()
        h.update(f"{f.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={HERE / '.sbt-global'}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    cp = [ln for ln in proc.stdout.splitlines() if "scala-2.13/classes" in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        sys.exit("perfbench: build failed")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip()


def run_jvm(cp, workload, params, setup_reps, seed, seconds, trace, deadline):
    """One run in a fresh JVM, killed at `deadline` (time.monotonic());
    returns its raw measurements."""
    work = WORK / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dgraft.warehouse={work / 'artifacts'}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--work", str(work), "--out", str(out),
              "--setup-reps", str(setup_reps), "--params", json.dumps(params)])
    t0 = time.monotonic()
    try:
        with open(work / "jvm.log", "w") as errlog:
            proc = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                  stdout=errlog, stderr=subprocess.STDOUT,
                                  timeout=max(1.0, deadline - time.monotonic()))
        if proc.returncode != 0 or not out.exists():
            lines = (work / "jvm.log").read_text().splitlines()
            causes = [ln for ln in lines if "Exception" in ln or "Error" in ln]
            sys.stderr.write("\n".join(causes[:20] + lines[-40:]) + "\n")
            sys.exit(f"perfbench: run failed (exit {proc.returncode})")
        log(f"JVM ran {time.monotonic() - t0:.1f} s, exited "
            f"{time.time() - out.stat().st_mtime:.1f} s after writing its result")
        return json.loads(out.read_text())
    finally:
        t1 = time.monotonic()
        shutil.rmtree(work, ignore_errors=True)
        log(f"removed the run's files in {time.monotonic() - t1:.1f} s")


def describe(run):
    for i, rep in enumerate(run["setup"]):
        log(f"setup {i}: " + ", ".join(f"{k} {v:.2f} s" for k, v in rep.items()))
    log("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in run["phases_s"].items())
        + f"; GC during the window {run['gc_ms']} ms")
    lat, _ = stats.summarize(run["ops"])
    for kind, xs in sorted(lat.items()):
        tail = stats.tail_percentile(xs)
        tail_txt = f", p{tail[0]} {tail[1]:.1f} ms" if tail else ", too few for a tail percentile"
        log(f"{kind}: n={len(xs)}, p50 {stats.percentile(xs, 50):.1f} ms{tail_txt}; "
            + " ".join(f"{x:.0f}" for x in xs))
    for kind in ("knn_range", "knn_indexed", "probe_indexed"):
        r = [stats.recall_at_k(op["got"], op["truth"]) for op in run["ops"]
             if op["kind"] == kind and op["ok"]]
        log(f"{kind} recall@10: " + " ".join(f"{x:.1f}" for x in r))
    for op in run["ops"]:
        if not op["ok"]:
            log(f"FAILED {op['kind']}: {op['err']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = json.loads((HERE / "workloads.json").read_text())["workloads"]
    if args.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {args.workload}; have {sorted(workloads)}")
    params = workloads[args.workload]
    cp = build()
    # every JVM of this invocation must end within 170 s of the build
    deadline = time.monotonic() + 170

    # both JVMs of a traced invocation must fit the per-run time limit,
    # so each sets up once; the untraced one is only the overhead baseline
    reps = 1 if args.trace else SETUP_REPS
    base = run_jvm(cp, args.workload, params, reps, args.seed, args.seconds, False, deadline)
    describe(base)
    e2e = stats.end_to_end(base)
    runs, values, units = [base], e2e, UNITS
    if args.trace:
        run = run_jvm(cp, args.workload, params, reps, args.seed, args.seconds, True, deadline)
        runs.append(run)
        traced = stats.end_to_end(run)
        ratios = [traced[k] / e2e[k] for k in READ_P50S
                  if traced[k] is not None and e2e[k] is not None]
        overhead = stats.geomean(ratios) if ratios else None
        values, units = stats.per_layer(run, overhead), stats.per_layer_units()
    print(json.dumps(result(runs, values, units)))


def result(runs, values, units):
    """The result line: every op of the runs is counted, and the run is
    correct only when none failed and every metric could be computed
    (a metric whose op kind has no successful sample is left out)."""
    ops = [op for r in runs for op in r["ops"]]
    _, failed = stats.summarize(ops)
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items() if v is not None}
    return {"correct": failed == 0 and len(metrics) == len(units),
            "attempted": max(1, len(ops)), "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
