#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload registry|jobs \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. It builds the engine
and the harness (perfbench/harness, its own sbt build) into .bench_build/,
generates the workload's inputs from the seed (gen.py), runs one JVM at
local[nproc], checks the outputs, checks that the repository tree is
unchanged, and prints one JSON object as the last line of stdout.

--trace 0 prints the end-to-end metrics of BENCHMARK.json for the workload.
--trace 1 runs the workload's traced sections and prints every per-layer
metric; a layer the workload does not reach reads 0. The traced registry
run adds the curation loop, and the traced jobs run a local[1] serial
baseline of the batch job.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")


def jvm_timeout(seconds, trace):
    """Seconds a harness JVM may take. An untraced run has about 45 s of
    set-up, warm-up and checks on a 4-core host, plus its measured loops,
    which do about `seconds` of work (the jobs workload runs its batch days
    and then its stream for `seconds` / 2 each). A traced run does a fixed
    amount of work, 60-90 s on that host."""
    return 150 if trace else 90 + 3 * seconds


# Registry panel: cheap queries spread over the registry, plus the minhash
# pairs (q26) and minhash + connected components (q48) the roadmap targets.
PANEL = ["q05_revenue_filter", "q14_hourly_type_stats", "q23_token_freq",
         "q32_user_gaps", "q41_text_scrub", "q68_token_budget",
         "q104_training_order", "q26_minhash_pairs", "q48_dup_clusters"]
# The traced run times a smaller panel: q48 plus three cheap queries.
TRACE_PANEL = ["q05_revenue_filter", "q41_text_scrub", "q104_training_order",
               "q48_dup_clusters"]
TABLES_SF = 0.01
# Stream feed: files of 400 events; a backlog of 8 files drained two per
# micro-batch, then one file every 2.5 s (160 events/s). That rate is well
# below the drain rate, so the backlog does not grow and latency is the
# per-batch cost, not queueing (at one file per 1.5 s it queued on a busy
# 4-core host).
STREAM = {"per_file": 400, "files": 16, "backlog_files": 8,
          "rate_files_per_s": 0.4, "max_files_per_trigger": 2}
# Build outputs inside the harness directory (sbt's meta-build).
HARNESS_OUTPUTS = ["perfbench/harness/project/target",
                   "perfbench/harness/project/project",
                   "perfbench/harness/target"]
EXCLUDE = {".bench_build", ".git", *HARNESS_OUTPUTS}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest():
    """sha256 per file of the checkout, build outputs of this benchmark
    excluded — target/ (and its fixtures) included."""
    out = {}
    for base, dirs, files in os.walk(ROOT):
        rel = os.path.relpath(base, ROOT)
        dirs[:] = [d for d in dirs
                   if os.path.normpath(os.path.join(rel, d)) not in EXCLUDE]
        for f in files:
            p = os.path.join(base, f)
            if os.path.islink(p) or not os.path.isfile(p):
                continue
            h = hashlib.sha256()
            with open(p, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
            out[os.path.relpath(p, ROOT)] = h.hexdigest()
    return out


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HARNESS, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HARNESS, "build.sbt"),
                      os.path.join(HARNESS, "project/build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_TARGET=os.path.join(BUILD, "harness"))
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=800)
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (see {log})")
    # Classes go into a jar so the JVM's class-data-sharing archive (see
    # dump_archive()) can hold them: CDS archives classes from jars only.
    entries = lines[-1].strip().split(os.pathsep)
    jars = [e for e in entries if not os.path.isdir(e)]
    jar = os.path.join(BUILD, "harness.jar")
    if os.path.exists(jar):
        os.remove(jar)
    for classes in (e for e in entries if os.path.isdir(e)):
        subprocess.run(["jar", "--create" if not os.path.exists(jar) else "--update",
                        "--file", jar, "-C", classes, "."], check=True)
    cp = os.pathsep.join([jar, *jars])
    dump_archive(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java_cmd(cp, work, cds_flag):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    return (["java"] + [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [cds_flag, "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
               "-Dderby.system.home=" + os.path.join(work, "derby"), "-cp", cp, "perfbench.Main"])


def jvm_env(work):
    return dict(os.environ, SPARK_GRAFT_FIXTURE_ROOT=os.path.join(work, "fixtures"),
                SPARK_LOCAL_DIRS=os.path.join(work, "local"))


def dump_archive(cp):
    """Dump the class-data-sharing archive every measured JVM maps: one
    throwaway JVM runs the registry panel once over tiny tables and writes
    the classes it loaded at exit. That shortens JVM and Spark start-up
    (part of setup_s) by the same amount for every run of a build."""
    work = os.path.join(BUILD, "cds")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    gen.tables(os.path.join(data, "tables"), 0, 0.001)
    cmd = java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}") + [
        "--section", "registry", "--out", os.path.join(work, "registry.json"), "--work", work,
        "--seed", "0", "--seconds", "0", "--data", data, "--cpus", str(os.cpu_count()),
        "--queries", ",".join(PANEL)]
    log = os.path.join(BUILD, "cds.log")
    with open(log, "w") as fh:
        p = subprocess.run(cmd, cwd=work, env=jvm_env(work), stdout=fh,
                           stderr=subprocess.STDOUT, timeout=300)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(CDS_ARCHIVE):
        die(f"class archive dump failed (see {log})")


def jvm(cp, work, section, opts, timeout):
    """Run one harness JVM, mapping the build's class archive; return its
    raw report."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, f"{section}.json")
    cmd = java_cmd(cp, work, f"-XX:SharedArchiveFile={CDS_ARCHIVE}") + [
        "--section", section, "--out", out, "--work", work]
    for k, v in opts.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(work, f"{section}.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, cwd=work, env=jvm_env(work), stdout=fh,
                               stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            p = None
    if p is None or p.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            text = fh.read()
        sys.stderr.write("".join(ln for ln in text.splitlines(True) if "[perfbench]" in ln))
        sys.stderr.write(text[-2000:])
        die(f"harness JVM failed in section {section}"
            + (f" (exit {p.returncode})" if p else f" (over {timeout} s)"))
    with open(log) as fh:
        sys.stderr.write("".join(ln for ln in fh if "[perfbench]" in ln))
    with open(out) as fh:
        return json.load(fh)


def generate(workload, trace, data, seed):
    """Write the workload's inputs; return (manifest, seconds). The traced
    registry run also runs the curation loop."""
    t0 = time.perf_counter()
    man = {}
    if workload == "registry":
        gen.tables(os.path.join(data, "tables"), seed, TABLES_SF)
        if trace:
            man["curation"] = gen.curation(os.path.join(data, "curation"), seed)
    else:
        man["jobs"] = gen.jobs(os.path.join(data, "jobs"), seed,
                               stream_files=STREAM["files"], stream_per_file=STREAM["per_file"])
    return man, time.perf_counter() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["registry", "jobs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no engine source at {ROOT}/{need}: run from the repository root")
    for tool in ("sbt", "java", "jar"):
        if shutil.which(tool) is None:
            die(f"{tool} must be on PATH")

    cp = build()
    before = tree_digest()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        section = "trace" if a.trace else a.workload
        # set-up, part 1: generate the inputs three times, keep the median
        gen_s = []
        for i in range(1 if a.trace else 3):
            data_i = os.path.join(work, f"data{i}")
            m, s = generate(a.workload, a.trace, data_i, a.seed)
            gen_s.append(s)
            if i:
                shutil.rmtree(data_i)
            else:
                man = m
        data = os.path.join(work, "data0")
        opts = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "data": data,
                "cpus": os.cpu_count(), "queries": ",".join(TRACE_PANEL if a.trace else PANEL)}
        if "jobs" in man:
            opts.update(dates=",".join(man["jobs"]["dates"]), per_file=STREAM["per_file"],
                        backlog_files=STREAM["backlog_files"],
                        rate_files_per_s=STREAM["rate_files_per_s"],
                        max_files_per_trigger=STREAM["max_files_per_trigger"])
        raw = jvm(cp, work, section, opts, jvm_timeout(a.seconds, a.trace))
        crash = raw["checks"].get(f"{section}.run")
        if crash:
            die(f"workload aborted: {crash['detail']}")
        t0 = time.perf_counter()
        verdicts, recall = checks.run(a.workload, a.trace, raw, data, man)
        after = tree_digest()
        check_s = time.perf_counter() - t0
        changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))
        verdicts["repo_unchanged"] = (not changed, ", ".join(changed[:5]))
        if a.trace:
            result = metrics.per_layer(raw, recall)
        else:
            result = metrics.end_to_end(a.workload, raw, statistics.median(gen_s), verdicts)
            print("perfbench: " + json.dumps(dict(metrics.details(a.workload, raw),
                                                  gen_s=gen_s, setup=raw["setup_s"], check_s=check_s)),
                  file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed_checks = [k for k, (ok, _) in verdicts.items() if not ok]
    for k in failed_checks:
        print(f"perfbench: check failed: {k}: {verdicts[k][1]}", file=sys.stderr)
    attempted = int(raw.get("attempted", 0)) + len(verdicts)
    failed = int(raw.get("failed", 0)) + len(failed_checks)
    print(json.dumps({"correct": not failed_checks and failed == 0,
                      "attempted": max(1, attempted), "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
