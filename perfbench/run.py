#!/usr/bin/env python3
"""Run one benchmark measurement of the graft library.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a source checkout. It builds the library and the
harness from source (once per source state), generates the corpus with the
library's own DataGen (once per library source state), then runs the
harness in a fresh JVM and a private working directory under .bench_build/.
The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json when --trace is 0 and its
per-layer metrics when --trace is 1. The line before it holds the run's
full record: every metric, the environment and the seed. Exit status is 0
when a result was printed and non-zero otherwise.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SCALE = "0.01"
RUN_LIMIT_S = 170.0
WORKLOADS = ("llm_pipeline", "store_mixed")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    """Content hash of every regular file under `paths`, build output excluded."""
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else []
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp"))
            files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def library_sources():
    return [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main")]


def harness_sources():
    return [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "src", "main")]


def heap():
    """The heap Tier-1 gives the library: half the RAM, 2 to 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    """Compiles library + harness; returns the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp and all(os.path.exists(p) for p in saved["classpath"]):
            return saved["classpath"]
    log("building library and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"sbt build failed with status {p.returncode}")
    cp = lines[-1].split(os.pathsep)
    if not all(os.path.exists(x) for x in cp):
        raise SystemExit(f"sbt printed no usable classpath: {lines[-1][:300]}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp, "build_s": time.time() - t0}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java(classpath, main, args, cwd, env_extra, timeout):
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classpath), main] + args
    # The library reads SPARK_GRAFT_* overrides; a run sees none but its own.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(cwd, "spark-local")
    env.update(env_extra)
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{main} did not finish within {timeout:.0f} s")
    finally:
        # Also reached when this script is terminated: no JVM outlives it.
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out, err


def corpus(classpath, stamp):
    """The DataGen corpus, generated once per library source state."""
    data = os.path.join(OUT, "data", f"sf{SCALE}")
    meta_file = data + ".json"
    if os.path.exists(meta_file):
        with open(meta_file) as f:
            meta = json.load(f)
        if meta["stamp"] == stamp and os.path.isdir(data) and tree_hash([data]) == meta["fingerprint"]:
            return data, meta
        log("corpus fingerprint differs; regenerating")
    shutil.rmtree(data, ignore_errors=True)
    work = os.path.join(OUT, "datagen")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    code, out, err = java(classpath, "graft.DataGen", [SCALE, data], work,
                          {"SPARK_GRAFT_CPUS": str(os.cpu_count())}, 600)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"DataGen failed with status {code}")
    meta = {"stamp": stamp, "fingerprint": tree_hash([data]), "generate_s": time.time() - t0}
    with open(meta_file, "w") as f:
        json.dump(meta, f)
    log(f"generated sf{SCALE} corpus in {meta['generate_s']:.1f} s")
    return data, meta


def git_commit():
    """HEAD of the checkout when it is a git work tree; None otherwise."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args(argv)
    started = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    missing = [p for p in [spec_file] + library_sources() if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"not a graft source checkout, missing: {missing}")
    with open(spec_file) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]

    os.makedirs(OUT, exist_ok=True)
    lib_stamp = tree_hash(library_sources())
    classpath = build(hashlib.sha256((lib_stamp + tree_hash(harness_sources())).encode()).hexdigest())
    data, data_meta = corpus(classpath, lib_stamp)
    ready = time.time()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(OUT, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    expected = os.path.join(HERE, "expected", f"{a.workload}-sf{SCALE}.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data, "--expected", expected]
    load_start = loadavg()
    try:
        args += ["--spawn-ms", str(int(time.time() * 1000))]
        code, out, err = java(classpath, "perfbench.Main", args, work, {},
                              RUN_LIMIT_S - (time.time() - ready))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, run_id + ".log"), "w") as f:
        f.write(err)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not lines:
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"harness failed with status {code}")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    absent = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if absent:
        raise SystemExit(f"harness reported no value for {absent}")
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": int(a.trace),
        "attempted": res["attempted"], "failed": res["failed"], "errors": res["errors"],
        "failed_frac": res["failed"] / max(1, res["attempted"]),
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in res["metrics"].items()},
        "detail": res["detail"],
        "environment": {
            "nproc": os.cpu_count(), "loadavg_start": load_start, "loadavg_end": loadavg(),
            "git_commit": git_commit(), "source_sha256": lib_stamp,
            "corpus": f"graft.DataGen {SCALE}", "corpus_generate_s": data_meta["generate_s"],
            "jvm_heap": heap(), **res["detail"].get("environment", {})},
        "run_wall_s": time.time() - started,
    }
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
