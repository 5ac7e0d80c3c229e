#!/usr/bin/env python3
"""Catalog benchmark: runs one workload of `SparkEntry.queries` and
prints its metrics.

Usage (from the repository root):
    python3 catalogbench/run.py --workload cold_batch --seed 1 \
        --seconds 8 --trace 0

Steps: build the program and the benchmark runner (skipped when the
sources are unchanged), derive the seeded inputs from the test data
(`inputs.py`), compute the DuckDB oracle results for them
(`oracles.py`), run the workload in one driver JVM (`catalogbench.Main`)
and turn its raw measurements into metrics. Outputs are checked against
the oracles inside that JVM.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line before
it is the full artifact (environment, every metric, per-query results).

Environment: CATALOGBENCH_SOURCE (test-data directory, default the sf0.01
set of TESTDATA.md), SPARK_DRIVER_MEM (driver heap, default 3g).
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
sys.path.insert(0, HERE)
import inputs  # noqa: E402
import oracles  # noqa: E402

SPARK_JARS = "/opt/spark/jars"
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=/root/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
# How each served-state condition is enforced.
STATE_HOW = {
    "cold": "fresh seeded input per pass (set-up and timed): the fit-once "
            "caches have no public clear, so each pass reads data no "
            "earlier pass fitted",
    "warm": "set-up runs the workload twice on the timed input, filling "
            "served history before timing; the fill is part of setup_s",
}
# Limit on a run after its build (a build happens on the first run only).
TIMEOUT_S = 170
# Most timed passes of a cold workload, each on an input of its own.
COLD_TIMED = 2


def fail(msg):
    print(f"catalogbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    """Digest of everything the build reads, for the up-to-date check."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "catalogbench/build.sbt", "catalogbench/project/build.properties"]
    for top in ["src/main", "catalogbench/src"]:
        for d, _, fs in sorted(os.walk(os.path.join(root, top))):
            files += [os.path.relpath(os.path.join(d, f), root)
                      for f in sorted(fs)]
    for f in files:
        p = os.path.join(root, f)
        if os.path.isfile(p):
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(root):
    return os.pathsep.join([
        f"{root}/catalogbench/target/scala-2.13/classes",
        f"{root}/target/scala-2.13/classes", f"{SPARK_JARS}/*"])


def build(root, work):
    """Compiles the program and the runner unless already up to date;
    returns the source digest."""
    digest = sources_digest(root)
    stamp = f"{work}/build.stamp"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    for d in [root, f"{root}/catalogbench"]:
        log = f"{work}/build-{os.path.basename(d)}.log"
        with open(log, "w") as fh:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=d, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            fail(f"build failed in {d}; see {log}")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", classpath(root),
         "catalogbench.Describe",
         f"{work}/workloads.json"], stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail("could not read the workload definitions")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def generate(source, work, seed, variant):
    """Generates and checks one seeded input; returns its directory."""
    vseed = inputs.variant_seed(seed, variant)
    d = f"{work}/inputs/{vseed}"
    if not os.path.exists(f"{d}/generated"):
        shutil.rmtree(d, ignore_errors=True)
        inputs.generate(source, d, vseed)
        inputs.check(source, d)
        open(f"{d}/generated", "w").close()
    return d


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """(value, percentile): the highest percentile with at least ten
    samples beyond it (the lowest sample when there are fewer than 11)."""
    s = sorted(xs)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * i / len(s)


def cpu_ticks():
    """Host-wide CPU ticks (user, ..., steal, ...) from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests."""
    if not before or not after or len(before) < 8:
        return None
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala"]:
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found: run from the repository root")
    source = os.environ.get("CATALOGBENCH_SOURCE", "/root/testdata/sf0.01")
    if not os.path.isfile(f"{source}/documents.parquet"):
        fail(f"test data not found in {source}")
    work = os.path.join(root, ".catalogbench")
    os.makedirs(work, exist_ok=True)
    digest = build(root, work)
    t_start = time.time()
    spec = json.load(open(f"{work}/workloads.json")).get(a.workload)
    if spec is None:
        fail(f"unknown workload {a.workload}")

    # Inputs. Set-up runs two passes. A cold workload reads a fresh
    # input in every pass; a warm one runs every pass on one input.
    t_in = time.time()
    if spec["state"] == "cold":
        # a traced run makes one pass more (untraced, traced, untraced)
        n_timed = COLD_TIMED + a.trace
        v = [generate(source, work, a.seed, i)
             for i in range(2 + n_timed + a.trace)]
        warm, timed, probe = v[:2], v[2:2 + n_timed], v[-1]
    else:
        v = generate(source, work, a.seed, 0)
        warm, timed, probe = [v, v], [v], v
    prep_s = time.time() - t_in

    cpus = len(os.sched_getaffinity(0))
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    tmp = f"{work}/tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    out = f"{tmp}/result.json"
    opens = [x for p in JDK17_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath(root), "catalogbench.Main",
        "--workload", a.workload, "--warm", ",".join(warm),
        "--inputs", ",".join(timed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out, "--probe-input", probe])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    # The oracles run while the JVM starts and warms up; it waits for
    # them before its first check.
    ticks = cpu_ticks()
    with open(f"{tmp}/driver.log", "w") as log:
        jvm = subprocess.Popen(cmd, env=env, stdout=log,
                               stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
        try:
            t_or = time.time()
            for d in timed:
                oracles.run(d, spec["sql"])
            oracle_s = time.time() - t_or
            rc = jvm.wait(timeout=TIMEOUT_S - (time.time() - t_start))
        except BaseException as e:
            jvm.kill()
            jvm.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                fail(f"driver JVM did not finish in time; see {tmp}/driver.log")
            raise
    if rc != 0 or not os.path.exists(out):
        fail(f"driver JVM failed (exit {rc}); see {tmp}/driver.log")
    res = json.load(open(out))
    res["steal_frac"] = steal_frac(ticks, cpu_ticks())
    shutil.rmtree(tmp, ignore_errors=True)

    report(a, spec, res, digest, root, cpus, heap, prep_s, oracle_s,
           inputs.row_counts(timed[0]))


def report(a, spec, res, digest, root, cpus, heap, prep_s, oracle_s, rows):
    passes = res["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    # timed outputs are compared with their oracles, probe replays with
    # their catalog queries; set-up executions count too, checked only
    # for errors
    checked = [e for label in res["execs"] for e in res["execs"][label]]
    checked += [{"query": q, "input": "probe replay", "ok": v == "equal",
                 "error": "" if v == "equal" else v}
                for q, v in res["probes"].get("equal", {}).items()]
    failed = [e for e in checked if not e["ok"]]
    input_rows = sum(rows[t] for t in spec["tables"])

    walls = [e["wall_s"] for p in untraced for e in res["execs"][p["label"]]]
    pass_s = median([p["pass_s"] for p in untraced])
    tail_v, tail_p = tail(walls)
    e2e = {
        # set-up work as the JVM's CPU seconds from its start to the
        # first timed pass; wall time rises with the host's CPU steal
        "setup_s": (res["setup_cpu_s"], "s"),
        "setup_wall_s": (res["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "query_p50_s": (median(walls), "s"),
        "query_tail_s": (tail_v, "s"),
        "rows_per_s": (input_rows / pass_s, "1/s"),
        "task_s": (median([p["task_s"] for p in untraced]), "s"),
        "cpu_s": (median([p["cpu_s"] for p in untraced]), "s"),
        "state_mb": (median([p["state_mb"] for p in untraced]), "MB"),
        "failed_frac": (len(failed) / len(checked), "fraction"),
    }
    groups = {
        g: {"pass_s": median([
            sum(e["wall_s"] for e in res["execs"][p["label"]]
                if e["query"] in qs) for p in untraced]), "unit": "s"}
        for g, qs in spec["groups"].items()}

    layer = {}
    if traced:
        per_pass = list(res["layers"].values())
        keys = sorted({k for p in per_pass for k in p})
        for k in keys:
            layer[k] = median([p.get(k, 0.0) for p in per_pass])
        t_pass = median([p["pass_s"] for p in traced])
        t_task = median([p["task_s"] for p in traced])
        layer["spark.busy_frac"] = t_task / (t_pass * res["cpus"])
        layer["codegen.compile_s"] = res["codegen_all"]["compile_s"]
        layer["codegen.classes"] = res["codegen_all"]["classes"]
        layer["codegen.setup_compile_s"] = res["codegen_setup"]["compile_s"]
        layer["model.cached_mb"] = median([p["cached_mb"] for p in traced])
        t_execs = [e for p in traced for e in res["execs"][p["label"]]]
        layer["model.served_job_frac"] = 1.0 - (
            sum(e["jobs"] for e in t_execs) /
            max(1, sum(e["first_jobs"] for e in t_execs)))
        layer["trace.overhead_pass_s"] = t_pass - median(
            [p["pass_s"] for p in untraced])
        layer.update(res["probes"]["figures"])

    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "env": {
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": cpus,
            "driver_heap": heap, "driver_heap_mb": res["heap_mb"],
            "spark": res["spark_version"], "jdk": res["jdk"],
            "git_commit": git_commit(root), "source_digest": digest,
            "served_state": spec["state"],
            "served_state_how": STATE_HOW[spec["state"]],
            "seconds": a.seconds,
            # time-based metrics rise with it; cpu_s much less
            "host_steal_frac": res["steal_frac"],
        },
        "input_rows": input_rows, "input_tables": spec["tables"],
        "input_prepare_s": prep_s, "oracle_s": oracle_s,
        "session_s": res["session_s"],
        "query_tail_percentile": tail_p, "query_samples": len(walls),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "groups": groups,
        "per_layer": layer,
        "passes": passes,
        "failures": [{k: e[k] for k in ("query", "input", "error")}
                     for e in failed],
        "queries": res["execs"],
    }
    print(json.dumps(artifact))

    declared = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    names = declared["per_layer" if a.trace else "end_to_end"]
    # a layer that fired no job in the traced pass reads 0
    source = layer if a.trace else {k: v for k, (v, _) in e2e.items()}
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": not failed, "attempted": len(checked),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
