#!/usr/bin/env python3
"""graft benchmark: one timed run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the library and
the harness (``perfbench/build.sbt``, offline sbt) into ``.bench_build``; later
runs reuse that build while the sources are unchanged. Every run then

1. generates its inputs from ``--seed`` (timed; part of set-up),
2. starts one JVM that starts Spark, warms it up and then measures whole
   passes over the workload for ``--seconds`` (see Main.scala),
3. checks every measured operation's output outside the timed window, and
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Workloads, metrics and the layer -> end-to-end predictions are described in
``perfbench/README.md``.
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
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import inputs  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ARCHIVE = BUILD / "classes.jsa"
# The catalog workload's query set: driver-bound queries (most of their wall
# is plan construction and the eager jobs operators fire while building:
# iterative rounds, stat rows) and scan-bound ones (their wall is executor
# work), at the generated tables' scale factor CATALOG_SF.
DRIVER_BOUND = ["q162", "q124", "q51", "q103"]
SCAN_BOUND = ["q01", "q14", "q24", "q27", "q55", "q117", "q172"]
CATALOG_SF = 0.01
PIPELINE_PATIENTS = 1000
WORKLOADS = {"pipeline_publish": None, "catalog": DRIVER_BOUND + SCAN_BOUND}
# input generation is cheap, so set-up repeats it and takes the median
GEN_REPEATS = 3
# Set-up of the pipeline ends with a small fixed warm-up, so its measured pass
# is a fresh session's first publish, as the batch job runs. The catalog's
# set-up includes one cold pass over its queries, so its measured passes are
# warm, and the seeded query order does not decide which query pays the JIT.
WARMUP_PASSES = {"pipeline_publish": 0, "catalog": 1}
# Operations measured per run: the tail latency needs ten samples beyond it;
# the catalog measures two passes (22 queries), so its wall is a median of two
# and its tail is not simply its fastest query.
MIN_OPS = {"pipeline_publish": 11, "catalog": 22}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 160


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def cp_stamp():
    return (BUILD / "stamp.txt").read_text()


def build():
    """Compile library + harness once per source state; returns the classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        raise SystemExit("perfbench: no graft sources next to perfbench/ (run from a checkout)")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    (BUILD / "tmp").mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
            "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt, offline) ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {p.returncode})")
    cp = jar_classpath(lines[-1])
    class_archive(cp)
    log(f"built in {time.time() - t0:.0f} s")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def jar_classpath(cp):
    """The classpath with each class directory packed into a jar (the JVM's
    class-data sharing archive accepts jars only)."""
    out = []
    jars = BUILD / "jars"
    shutil.rmtree(jars, ignore_errors=True)
    jars.mkdir(parents=True)
    for i, entry in enumerate(cp.split(os.pathsep)):
        d = Path(entry)
        if not d.is_dir():
            out.append(entry)
            continue
        jar = jars / f"classes{i}.jar"
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for f in sorted(d.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(d).as_posix())
        out.append(str(jar))
    return os.pathsep.join(out)


def class_archive(cp):
    """Dump a class-data sharing archive from one small pipeline run, so each
    benchmark JVM maps Spark's and graft's classes instead of loading them.
    Runs without the archive if this fails."""
    ARCHIVE.unlink(missing_ok=True)
    work = BUILD / "archive-run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "out").mkdir(parents=True)
    inputs.session_exports(str(work / "sessions.parquet"), 50, 0)
    cmd = java_cmd(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
        "--workload", "pipeline_publish", "--data", str(work), "--out", str(work / "out"),
        "--seconds", "0", "--seed", "0", "--trace", "0", "--min-ops", "1",
        "--warmup-passes", "0"]
    with open(work / "jvm.log", "w") as logf:
        rc = subprocess.run(cmd, cwd=work / "out", env=java_env(), stdout=logf,
                            stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S).returncode
    if rc != 0 or not ARCHIVE.is_file():
        log(f"class-data sharing archive not created (exit {rc}); running without it")
        ARCHIVE.unlink(missing_ok=True)


def make_inputs(workload, data, seed):
    """Generate the workload's inputs; returns (raw rows, expected, invariants)."""
    shutil.rmtree(data, ignore_errors=True)
    data.mkdir(parents=True)
    if workload == "pipeline_publish":
        return inputs.session_exports(str(data / "sessions.parquet"), PIPELINE_PATIENTS, seed)
    inputs.catalog_tables(str(data), CATALOG_SF, seed)
    return None, None, None


def java_cmd(cp, extra=()):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *extra, *JVM_OPENS, "-cp", cp, "perfbench.Main"]


def java_env():
    return dict(os.environ, SPARK_LOCAL_DIRS=str(BUILD / "spark-local"))


def run_jvm(cp, workload, data, out, args):
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.is_file() else []
    cmd = java_cmd(cp, share) + [
        "--workload", workload, "--data", str(data), "--out", str(out),
        "--seconds", str(args.seconds), "--seed", str(args.seed),
        "--trace", str(args.trace), "--min-ops", str(MIN_OPS[workload]),
        "--warmup-passes", str(WARMUP_PASSES[workload])]
    if WORKLOADS[workload]:
        cmd += ["--queries", ",".join(WORKLOADS[workload])]
    with open(out / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, env=java_env(), stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s (see {out}/jvm.log)")
    if rc != 0 or not (out / "result.json").is_file():
        sys.stderr.write((out / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: JVM failed (exit {rc})")
    return json.loads((out / "result.json").read_text())


def fingerprint(workload, data):
    """Host and input layout this run measured on (compared with the
    recorded perfbench/fingerprint.json, so numbers from another host or
    layout are not mistaken for comparable ones)."""
    mem_kb = next((int(line.split()[1]) for line in open("/proc/meminfo")
                   if line.startswith("MemTotal:")), 0)
    tables = ["sessions"] if workload == "pipeline_publish" else inputs.CATALOG_TABLES
    layout = checks.fingerprint(str(data), tables)
    if workload == "pipeline_publish":
        layout["sessions"][2] = f"{PIPELINE_PATIENTS} patients"
    return {"host": {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20)},
            "inputs": layout}


def tail(lat):
    """(value, percentile, samples): the highest percentile of the latency
    samples that has at least ten samples beyond it."""
    s = sorted(lat)
    n = len(s)
    if n < 11:
        raise SystemExit(f"perfbench: {n} latency samples, the tail needs 11")
    return s[n - 11], 100.0 * (n - 10) / n, n


def metric(v, unit):
    return {"value": v, "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    run_dir = BUILD / "runs" / args.workload
    data, out = run_dir / "data", run_dir / "out"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)

    gen = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        raw_rows, expected, invariants = make_inputs(args.workload, data, args.seed)
        gen.append(time.perf_counter() - t0)
    gen_s = statistics.median(gen)
    fp = fingerprint(args.workload, data)
    recorded = json.loads((HERE / "fingerprint.json").read_text())
    fp_match = fp["host"] == recorded["host"] and fp["inputs"] == recorded[args.workload]
    if not fp_match:
        log("host or input layout differs from perfbench/fingerprint.json:", json.dumps(fp))
    res = run_jvm(cp, args.workload, data, out, args)

    passes = res["passes"]
    if args.workload == "pipeline_publish":
        attempted, failed, reasons = checks.pipeline(str(out), expected, invariants, passes)
    else:
        oracle = json.loads((out / "oracle.json").read_text())
        attempted, failed, reasons = checks.catalog(str(data), str(out), oracle,
                                                    res["warmup"], passes)
    for r in reasons[:20]:
        log("CHECK", r)

    setup = gen_s + res["jvm_start_s"] + res["session_s"] + res["warmup_s"]
    wall = statistics.median(p["wall"] for p in passes)
    # untraced walls of this build, the baseline of the tracing overhead
    history = run_dir / "untraced_walls.json"
    walls = json.loads(history.read_text()) if history.is_file() else {}
    mine = walls.setdefault(cp_stamp(), [])
    if not args.trace:
        mine.append(wall)
        history.write_text(json.dumps(walls))
        lat = [op["lat"] for p in passes for op in p["ops"] if op["name"] != "run"]
        tail_v, tail_p, n = tail(lat)
        per_pass = raw_rows if raw_rows is not None else len(WORKLOADS[args.workload])
        metrics = {
            "setup_s": metric(setup, "s"),
            "wall_s": metric(wall, "s"),
            "throughput_per_s": metric(per_pass / wall, "1/s"),
            "query_p50_s": metric(statistics.median(lat), "s"),
            "query_tail_s": metric(tail_v, "s"),
            "ops_ok_frac": metric(1.0 - failed / attempted, "frac"),
        }
        print(json.dumps({"tail_percentile": tail_p, "tail_samples": n,
                          "fingerprint_match": fp_match, "passes": len(passes),
                          "gen_s": gen_s, "jvm_start_s": res["jvm_start_s"],
                          "session_s": res["session_s"], "warmup_s": res["warmup_s"]}))
    else:
        layers = [p["layers"] for p in passes]
        derived = {
            "trace.wall_s": wall,
            # 0 when no untraced run of this build preceded the traced one
            "trace.overhead_s": wall - statistics.median(mine) if mine else 0.0,
        }
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
        metrics = {m["name"]: metric(derived[m["name"]] if m["name"] in derived else
                                     statistics.median(lay.get(m["name"], 0.0) for lay in layers),
                                     m["unit"]) for m in declared}
        log(f"trace file: {out / 'trace.json'}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
