#!/usr/bin/env python3
"""Benchmark of the graft library: verbs, replay, queries and the curation stream.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload tree_subset --seed 1 --seconds 10 --trace 0

Workloads: tree_subset, bulk_copy, query_suite, curate_stream (see
perfbench/README.md; BENCHMARK.json lists the ones compared on every change). The first run in a checkout builds
the program and the harness from source with sbt (offline) into
perfbench/target; later runs reuse the build while the sources are
unchanged. Each run starts one JVM with Spark `local[4]` and embedded
Derby, works in .bench_build/ and deletes its work directory at the end.

Source tables are read, never written, from $GRAFT_TESTDATA (default
~/testdata), which holds the sf0.01 and sf0.1 star schemas.

Output: a line describing the run (cores, git sha, seed, ...), one JSON
line per metric, and as the last line
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer ones (--trace 1). The traced run also keeps
its spans in .bench_build/traces/. Exits non-zero if a check failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["tree_subset", "bulk_copy", "query_suite", "curate_stream"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# seconds a run may take, and the first run of a checkout, which builds
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 700


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's sources and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(src_digest):
    """Compile with sbt unless the last build was of the same sources.
    Returns the runtime classpath and whether it built."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == src_digest:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ln.strip().startswith("/") and ".jar" in ln]
    if not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(src_digest)
    return cps[-1], True


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}: run from a checkout of the repository")
    source = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
    for sf in ("sf0.01", "sf0.1"):
        if not os.path.isdir(os.path.join(source, sf)):
            fail(f"source tables {source}/{sf} not found (set GRAFT_TESTDATA)")

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")

    files = source_files()
    src_digest = digest(files)
    classpath, built = build(src_digest)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", run_id)
    out = os.path.join(work, "result.jsonl")
    spans = os.path.join(BUILD, "traces", f"{run_id}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # class-data sharing: the first run of a build dumps the classes it
    # loaded, later runs map them instead of loading Spark class by class
    cds = os.path.join(BUILD, f"classes-{src_digest[:16]}.jsa")
    if os.path.exists(cds):
        cds_opt = f"-XX:SharedArchiveFile={cds}"
    else:
        for old in os.listdir(BUILD):
            if old.startswith("classes-"):
                os.remove(os.path.join(BUILD, old))
        # dumped under a temporary name, kept only if the run ends cleanly
        cds_opt = f"-XX:ArchiveClassesAtExit={cds}.tmp"
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # C1 only: a run's JVM lives under a minute, and C2 compiling in the
        # background made the same run vary by a quarter from one JVM to the
        # next. The cost: code runs at C1 speed, so a gain that rests on C2's
        # optimisations may show smaller, or not at all (see README.md)
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", cds_opt, "-Xlog:cds=off",
        "-Xlog:cds+dynamic=off", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--source", source,
        "--bench-dir", HERE, "--spans", spans, "--out", out]
    # the JVM's stdout is Spark's console: keep it off ours, which carries results only
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)
    try:
        code = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out", 4)
    if code == 0 and os.path.exists(f"{cds}.tmp"):
        os.replace(f"{cds}.tmp", cds)

    lines = []
    if os.path.exists(out):
        with open(out) as fh:
            lines = [json.loads(ln) for ln in fh if ln.strip()]
    shutil.rmtree(work, ignore_errors=True)
    if not lines:
        fail(f"the run wrote no result (exit code {code})", 5)
    status = lines[-1]
    measured = {m["metric"]: m for m in lines[:-1]}
    for e in status["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)

    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    wanted = {m["name"]: m["unit"] for m in spec["per_layer"]} if args.trace else end_to_end
    metrics = {}
    for name, unit in wanted.items():
        m = measured.get(name)
        # a layer the workload never calls reads 0
        value = m["value"] if m and m["value"] is not None else 0.0
        metrics[name] = {"value": value, "unit": unit}
    missing = [n for n in end_to_end if n not in measured]
    correct = code == 0 and status["failed"] == 0 and not missing
    failed = status["failed"] + (0 if code == 0 or status["failed"] else 1)
    attempted = max(1, status["attempted"])
    measured["failed_ops_ratio"] = {"metric": "failed_ops_ratio", "value": failed / attempted,
                                    "unit": "ratio", "note": f"failed={failed} attempted={attempted}"}

    # the tracing overhead: this traced pass against the last untraced run
    # of the same workload and seed in this checkout, when there is one
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(measured, fh)
    untraced = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
    if args.trace and "wall_s" in measured and os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh).get("wall_s")
        if base:
            measured["trace.overhead_s"] = {
                "metric": "trace.overhead_s", "unit": "s",
                "value": measured["wall_s"]["value"] - base["value"],
                "note": "traced wall_s - untraced wall_s, same seed, at reference speed"}

    meta = {"run": run_id, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": os.cpu_count(), "spark_master": "local[4]",
            "git_sha": git_sha(), "source_digest": src_digest[:16], "runs_in_process": 1,
            "setup_repeats": 5, "spans": os.path.relpath(spans, ROOT) if args.trace else None}
    print(json.dumps(meta, separators=(",", ":")))
    for m in measured.values():
        print(json.dumps(m, separators=(",", ":")))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
