#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload elt_load --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine and the harness
from source (sbt, again whenever a source changes), generates its inputs from the seed
under bench_data/perfbench/ (cached), runs the workload in fresh JVMs,
checks every output, prints each metric by name with its unit, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see layers.json for what each should move). Exits non-zero
when an output is wrong or the run cannot be made.
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
sys.path.insert(0, HERE)
import gen_elt  # noqa: E402
import report  # noqa: E402

# Query workloads: catalog queries (graft.SparkEntry) over tables written
# by the engine's own generator (graft.tools.GenData) at scale factor sf.
PAIR_DEDUP = [
    # the prefix-filter and character-gram similarity joins (the two with
    # the largest candidate-pair volume among the queries over e56a768's
    # early-abandon intersection) and the LSH banding join
    "q_jaccard_prefix", "q_chargram_jaccard", "q_dedup_lsh",
]
WORKLOADS = {
    "elt_load": {"kind": "elt", "sf": "0.01"},
    "pair_dedup": {"kind": "queries", "sf": "0.03", "ops": PAIR_DEDUP},
}
KERNEL_SF = "0.01"        # the kernel pass's fixed input tables
SETUP_SAMPLES = 2         # fresh JVMs per run whose set-up time is taken
# A fixed heap and young generation: G1's adaptive sizing otherwise moves
# the peak resident set by a third from run to run.
JVM_HEAP = "3g"
JVM_YOUNG = "512m"
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest(*bases):
    """Digest of the build definitions and main sources of the sbt builds
    at bases. A changed digest means what was built from them is stale."""
    h = hashlib.sha256()
    for base in bases:
        files = [os.path.join(base, "build.sbt")]
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
        for d, dirs, names in os.walk(os.path.join(base, "src", "main")):
            dirs.sort()
            files += [os.path.join(d, n) for n in names]
        for path in sorted(files):
            if not os.path.isfile(path):
                continue
            h.update(os.path.relpath(path, base).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(root, digest):
    """Compile the engine and the harness; return the classpath. The last
    build's classpath is reused only while the sources it was built from
    are unchanged and its class directories still exist."""
    stamp = os.path.join(HERE, "target", "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            last = json.load(f)
        if last["digest"] == digest and all(
                os.path.exists(p) for p in last["classpath"].split(os.pathsep)
                if not p.endswith("*")):
            return last["classpath"]
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise BenchError("run from the root of a checkout of the engine "
                         "(build.sbt and src/main/scala/graft not found)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine and harness (sbt)")
    p = subprocess.run(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         "-Dsbt.offline=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def java(cp, run_dir, args, timeout=JVM_TIMEOUT_S):
    t0 = time.monotonic()
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp] + args
    p = subprocess.run(cmd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise BenchError(f"JVM exited with {p.returncode}")
    log(f"{args[0]} took {time.monotonic() - t0:.1f} s")


def gen_sf(cp, data, sf, digest):
    """The query tables at scale factor sf, written by the engine whose
    sources have this digest; tables of other sources are deleted."""
    name = f"sf{sf}-{digest}"
    out = os.path.join(data, name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    for old in os.listdir(data) if os.path.isdir(data) else []:
        if old.startswith(f"sf{sf}-") and old != name:
            shutil.rmtree(os.path.join(data, old), ignore_errors=True)
    log(f"generating tables at sf{sf}")
    shutil.rmtree(out, ignore_errors=True)
    run_dir = os.path.join(data, f"gen-{os.getpid()}")
    try:
        java(cp, run_dir, ["graft.tools.GenData", out, sf], timeout=600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def harness(cp, run_dir, wl, a, sf_dir, elt_dir, kernel_dir, setup_only):
    out = os.path.join(run_dir, f"raw-{time.monotonic_ns()}.json")
    args = ["perfbench.Harness", "--kind", wl["kind"],
            "--ops", ",".join(wl.get("ops", ["-"])), "--sf-dir", sf_dir,
            "--elt-dir", elt_dir, "--kernel-dir", kernel_dir,
            "--run-dir", run_dir,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out]
    java(cp, run_dir, args + (["--setup-only"] if setup_only else []))
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    wl = WORKLOADS[a.workload]
    root = os.getcwd()
    data = os.path.join(root, "bench_data", "perfbench")
    run_dir = os.path.join(data, f"run-{os.getpid()}")
    try:
        cp = build(root, source_digest(root, HERE))
        engine = source_digest(root)
        sf_dir = gen_sf(cp, data, wl["sf"], engine)
        kernel_dir = gen_sf(cp, data, KERNEL_SF, engine)
        elt_dir = gen_elt.generate(
            os.path.join(data, "elt", f"seed{a.seed}-{gen_elt.version()}"),
            a.seed)
        setups = [harness(cp, run_dir, wl, a, sf_dir, elt_dir, kernel_dir,
                          True)["setup_s"] for _ in range(SETUP_SAMPLES - 1)]
        raw = harness(cp, run_dir, wl, a, sf_dir, elt_dir, kernel_dir, False)
        raw["setup_samples"] = setups + [raw["setup_s"]]
        t0 = time.monotonic()
        checked = report.check(wl, raw, run_dir, sf_dir, a.seed, root)
        log(f"checks took {time.monotonic() - t0:.1f} s")
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        return 2
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = report.metrics(a.workload, raw, checked, bool(a.trace))
    units = report.units(bool(a.trace))
    missing = [k for k in units if not isinstance(metrics.get(k), float)]
    if missing:
        log(f"error: not measured: {', '.join(missing)}")
        return 2
    for line in report.describe(metrics, checked, raw):
        print(line)
    for problem in checked["problems"][:20]:
        print(f"CHECK FAILED: {problem}")
    print(json.dumps({
        "correct": not checked["problems"],
        "attempted": checked["attempted"],
        "failed": checked["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if not checked["problems"] else 1


if __name__ == "__main__":
    sys.exit(main())
