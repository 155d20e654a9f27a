#!/usr/bin/env python3
"""Benchmark of the engine: one command, three workloads.

    python3 perfbench/run.py --workload <query_mix|etl_bulk|etl_device>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline), records a class-data-sharing
archive from one small query_mix run, and generates the query tables;
all are kept under `.bench_build/perfbench/` for later runs. Each run
then starts one JVM on `local[<nproc>]`, sets up, measures for
`--seconds` (at least one full round), checks every output, and prints
a report line and, last, the result line `{"correct", "attempted",
"failed", "metrics"}`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The report, and with `--trace 1`
the span trace, are also kept under `.bench_build/perfbench/results/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)
import datagen  # noqa: E402

# Workload sizes; TINY overrides them for the self-test (selftest.py).
WORKLOADS = {
    "query_mix": dict(sf=0.01, warm_passes=3, queries=",".join([
        "q01_pricing_summary", "q04_join_sortmerge_facts",  # relational
        "q46_approx_count_distinct",                        # localCheckpoint
        "q232_link_prediction",                             # re-derivation
        "q66_dedup_fuzzy_full",                             # store reader
        "q36_dedup_simhash", "q55_corpus_clean",            # expression-heavy
        "q266_audio_wav_roundtrip"])),                      # binary decode
    "etl_bulk": dict(devices=25000, latency_ms=0, budget=1000, load_partitions=4,
                     batch=200, sink_delay_ms=0, fail_every=5, warm_rounds=3),
    "etl_device": dict(devices=3999, latency_ms=250, budget=1000, load_partitions=10,
                       batch=200, sink_delay_ms=83, fail_every=0, warm_rounds=1),
}
TINY = {
    "query_mix": dict(sf=0.001, warm_passes=1),
    "etl_bulk": dict(devices=2000, warm_rounds=1),
    "etl_device": dict(devices=2000, latency_ms=50, sink_delay_ms=50),
}
MALFORMED_EVERY = 100
HEAP = "4g"
JVM_TIMEOUT_S = 170
# The module openings Spark needs on JDK 17 outside spark-submit.
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_fingerprint():
    """Sizes and mtimes of everything the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    tops += [os.path.join(HARNESS, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else []
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile and package engine and harness (sbt, offline), then record
    the class-data-sharing archive. Returns (classpath, archive or None)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        fail(f"no engine sources at {ROOT} (expected build.sbt and src/)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required to build the engine")
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("fingerprint") == fp:
            return saved["classpath"], saved["archive"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspathAsJars"],
                           cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    lines = open(log).read().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    # Class-data sharing: one small query_mix run dumps the classes it
    # loaded; later JVMs map them instead of parsing the jars again.
    archive = os.path.join(WORK, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    params = dict(WORKLOADS["query_mix"], **TINY["query_mix"])
    launch(cp, [f"-XX:ArchiveClassesAtExit={archive}"], "query_mix", params, 0, 1, False)
    if not os.path.exists(archive):
        print("[perfbench] no class-data archive recorded; running without", file=sys.stderr)
        archive = None
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp, "archive": archive}, f)
    return cp, archive


def tables(sf):
    d = os.path.join(WORK, "data", f"sf{sf}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.tables(d, sf)
        open(os.path.join(d, "_done"), "w").close()
    return d


def jvm_args(workload, params, seed, run_dir):
    """Generate this run's inputs; return the harness arguments."""
    if workload == "query_mix":
        sf = params["sf"]
        exp = os.path.join(HERE, "expected", f"sf{sf}.tsv")
        return ["--data", tables(sf), "--warm-passes", str(params["warm_passes"]),
                "--queries", params["queries"]] + (
            ["--expected", exp] if os.path.exists(exp) else [])
    inv = os.path.join(run_dir, "appliances.csv")
    valid, malformed = datagen.inventory(inv, params["devices"], seed, MALFORMED_EVERY)
    args = ["--inventory", inv, "--valid", str(valid), "--malformed", str(malformed)]
    for k in ("latency_ms", "budget", "load_partitions", "batch", "sink_delay_ms",
              "fail_every", "warm_rounds"):
        args += ["--" + k.replace("_", "-"), str(params[k])]
    return args


def launch(cp, jvm_opts, workload, params, seed, seconds, trace, record=None):
    """Start the harness JVM in a fresh run directory (its own store
    roots and temp dirs, removed afterwards). Returns (result, report),
    or None when the run did not produce them."""
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        args = jvm_args(workload, params, seed, run_dir)
        if record:
            args += ["--record", record]
        stores = os.path.join(run_dir, "stores")
        env = dict(os.environ,
                   SPARK_GRAFT_FRAME_DIR=os.path.join(stores, "frame"),
                   SPARK_GRAFT_SKETCH_DIR=os.path.join(stores, "sketch"),
                   SPARK_GRAFT_INDEX_DIR=os.path.join(stores, "index"))
        cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
               "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + jvm_opts
        cmd += [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", "1" if trace else "0",
                "--out", os.path.join(run_dir, "out")] + args
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as err:
            try:
                p = subprocess.run(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                   stderr=err, stdin=subprocess.DEVNULL, text=True,
                                   timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"[perfbench] {workload} did not finish within {JVM_TIMEOUT_S} s",
                      file=sys.stderr)
                return None
        logged = open(log).read().splitlines()
        for l in logged:
            if l.startswith("[perfbench]") or l.startswith("[store-warm]"):
                print(l, file=sys.stderr)
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or len(lines) < 2:
            sys.stderr.write("\n".join(logged[-30:]) + "\n")
            print(f"[perfbench] {workload} run failed (exit {p.returncode})", file=sys.stderr)
            return None
        keep = os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{int(trace)}")
        shutil.rmtree(keep, ignore_errors=True)
        shutil.copytree(os.path.join(run_dir, "out"), keep,
                        ignore=shutil.ignore_patterns("spill*"))
        shutil.copy(log, keep)
        return json.loads(lines[-1]), json.loads(lines[-2])["perfbench"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(workload, seed, seconds, trace, tiny=False, record=None):
    """One benchmark run; returns (result, report)."""
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}; choose from {', '.join(WORKLOADS)}")
    params = dict(WORKLOADS[workload], **(TINY[workload] if tiny else {}))
    cp, archive = build()
    opts = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    out = launch(cp, opts, workload, params, seed, seconds, trace, record=record)
    if out is None:
        fail(f"{workload} produced no result")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", metavar="TSV",
                    help="query_mix: write the observed results as the expected file")
    a = ap.parse_args()
    result, report = run(a.workload, a.seed, a.seconds, a.trace == 1,
                         record=a.record_expected and os.path.abspath(a.record_expected))
    print(json.dumps({"perfbench": report}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
