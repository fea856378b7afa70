"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload ingest_cycles --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload, every metric
    python3 perfbench/run.py --selfcheck                    # generator + negative checks
    python3 perfbench/run.py --tracecheck --seed 1          # count repeatability + overhead
    python3 perfbench/run.py --mixcheck --seed 1            # ingest mix sensitivity

Run it from the root of the repository. The first call builds the engine
and the harness with the benchmark's own sbt build (perfbench/build.sbt);
later calls rebuild only when a source file changed. Each run generates
its inputs from --seed, starts one JVM (one Spark session, local[nproc]),
seeds, warms up, runs the workload's closed loop, checks every output
against the generator's ground truth, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The full artifact (host, inputs, samples, spans) is kept
under .bench_build/perfbench/results/.
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# Metrics on the machine-readable last line. Every workload reports every
# one; what "one operation" and "one unit of work" are differs by
# workload. Most are CPU-time based: on a shared host the hypervisor's
# steal swings wall time by tens of percent between runs. The one wall
# metric has the stolen time taken out (README.md, "End-to-end metrics").
END_TO_END = [
    ("op_cpu_s", "s"),
    ("work_per_cpu_s", "1/s"),
    ("op_wall_nosteal_s", "s"),
    ("setup_s", "s"),
]
# Workload-specific end-to-end metrics, printed by name (README.md).
NAMED = {
    "ingest_cycles": [("cycle_p50_s", "s"), ("ingest_rows_per_s", "rows/s"),
                      ("lookup_p50_ms", "ms"), ("lookup_tail_ms", "ms"),
                      ("ingest_disk_mb", "MB")],
    "validate_load": [("validate_rows_per_s", "rows/s")],
    "dedup_corpus": [("dedup_docs_per_s", "docs/s"), ("dedup_shard_p50_s", "s")],
}
SHARED_NAMED = [("setup_wall_s", "s"), ("fail_frac", "fraction"), ("peak_rss_mb", "MB"),
                ("op_p50_s", "s"), ("work_per_s", "1/s"), ("work_per_wall_nosteal_s", "1/s")]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


SPANS = {
    "ingest_cycles": ["sources.publish", "sources.index_keys", "operators.resolve_cycle",
                      "sources.lookup", "sources.compact"],
    "dedup_corpus": ["operators.minhash", "operators.jaccard_prefix", "operators.incr_dedup"],
    "validate_load": ["pipeline.validate", "pipeline.report", "pipeline.load"],
}
# The workloads BENCHMARK.json lists; a traced run reports the layers of
# all of them (zero for the layers another workload exercises).
GATED = ("ingest_cycles", "dedup_corpus")
STORAGE = {"sources.publish", "sources.index_keys", "operators.resolve_cycle",
           "sources.lookup", "sources.compact", "pipeline.load", "operators.incr_dedup"}
RATIOS = {"sources.lookup": [("sources.lookup.files_read", "count"),
                             ("sources.lookup.dir_skip_frac", "ratio")],
          "operators.minhash": [("operators.minhash.verify_yield", "ratio")]}
FACET_UNITS = dict(wall_ms="ms", jobs="count", driver_ms="ms", planning_ms="ms", task_s="s",
                   cpu_s="s", avg_par="ratio", shuffle_mb="MB", spill_mb="MB", gc_s="s",
                   fs_ops="count", written_mb="MB")


def layer_units(workload):
    """(name, unit) of every per-layer metric a traced run of `workload`
    reports, in a fixed order."""
    names = [w for w in GATED] + ([workload] if workload not in GATED else [])
    out, ratios = [], []
    for s in (s for w in names for s in SPANS[w]):
        facets = ["wall_ms", "jobs", "driver_ms", "planning_ms",
                  "task_s", "cpu_s", "avg_par", "shuffle_mb", "spill_mb", "gc_s"]
        if s in STORAGE:
            facets += ["fs_ops", "written_mb"]
        out += [("%s.%s" % (s, f), FACET_UNITS[f]) for f in facets]
        ratios += RATIOS.get(s, [])
    return out + ratios


def fail(msg):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(2)


def fingerprint():
    """Hash of everything the build reads from the repository."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    for p in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
              os.path.join("project", "build.properties")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail("no %s here: run from the root of an idhubspark checkout" % p)
    os.makedirs(OUT, exist_ok=True)
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = os.path.join(OUT, "classpath.sha256")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().split()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "printClasspath"],
                                cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        fail("build failed (see %s)" % log)
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().split()


def run_jvm(classpath, workload, seed, seconds, trace, inputs, gen_s, gen_cpu_s,
            corrupt=False, new_frac=None):
    """One JVM run of the harness; returns its artifact (a dict)."""
    tag = "%s-seed%d-trace%d%s%s" % (workload, seed, trace, "-corrupt" if corrupt else "",
                                     "" if new_frac is None else "-new%g" % new_frac)
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "artifact.json")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            # compiler threads that never exit, so their CPU can be taken
            # out of the engine's (Stats.jitCpuS in Main.scala)
            "-XX:-UseDynamicNumberOfCompilerThreads"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--in", inputs, "--work", work,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--gen-seconds", "%.6f" % gen_s,
            "--gen-cpu-seconds", "%.6f" % gen_cpu_s,
            "--corrupt", "1" if corrupt else "0"])
    log = os.path.join(OUT, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("%s did not finish within %d s (see %s)" % (tag, JVM_TIMEOUT_S, log))
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        fail("%s exited with %d (see %s)" % (tag, rc, log))
    with open(out) as f:
        art = json.load(f)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    shutil.copy(out, os.path.join(OUT, "results", tag + ".json"))
    shutil.rmtree(work, ignore_errors=True)
    return art


def run_one(classpath, workload, seed, seconds, trace, corrupt=False, new_frac=None):
    inputs = os.path.join(OUT, "inputs", "%s-seed%d" % (workload, seed))
    t, c = time.time(), time.process_time()
    gen.generate(workload, seed, inputs, new_frac)
    gen_s, gen_cpu_s = time.time() - t, time.process_time() - c
    try:
        return run_jvm(classpath, workload, seed, seconds, trace, inputs, gen_s, gen_cpu_s,
                       corrupt, new_frac)
    finally:
        shutil.rmtree(inputs, ignore_errors=True)


def show(art):
    """Human-readable lines: every end-to-end metric by name, with units."""
    w = art["workload"]
    e2e = art["end_to_end"]
    print("# %s seed=%s trace=%s nproc=%s heap=%sMB attempted=%d failed=%d" % (
        w, art["seed"], int(art["trace"]), art["host"]["nproc"],
        art["host"]["heap_max_mb"], art["attempted"], art["failed"]))
    for name, unit in END_TO_END + SHARED_NAMED + NAMED[w]:
        print("#   %-22s %14.4f %s" % (name, e2e[name], unit))
    for f in art["failures"]:
        print("#   FAILED %s" % f)


def result_line(art, trace):
    if trace:
        metrics = {n: {"value": art["per_layer"].get(n, 0.0), "unit": u}
                   for n, u in layer_units(art["workload"])}
    else:
        metrics = {n: {"value": art["end_to_end"][n], "unit": u} for n, u in END_TO_END}
    return {"correct": art["failed"] == 0 and art["attempted"] > 0,
            "attempted": art["attempted"], "failed": art["failed"], "metrics": metrics}


def selfcheck(classpath):
    ok = gen.selfcheck(os.path.join(OUT, "gen_selfcheck"))
    for w in gen.WORKLOADS:
        art = run_one(classpath, w, 1, 1, 0, corrupt=True)
        caught = art["failed"] > 0
        print("%-14s corrupted outputs fail their checks: %s (%d of %d)" % (
            w, caught, art["failed"], art["attempted"]))
        ok = ok and caught
    return ok


COUNT_FACETS = ("jobs", "fs_ops", "files_read")


def tracecheck(classpath, seed, seconds):
    """Per workload: one untraced and two traced runs of one seed. The
    count facets must repeat exactly between the traced runs; traced
    minus untraced is the tracing overhead on each end-to-end metric."""
    report, ok = {}, True
    for w in gen.WORKLOADS:
        plain = run_one(classpath, w, seed, seconds, 0)
        a = run_one(classpath, w, seed, seconds, 1)
        b = run_one(classpath, w, seed, seconds, 1)
        counts = {k: [a["per_layer"][k], b["per_layer"][k]] for k in sorted(a["per_layer"])
                  if k.rsplit(".", 1)[1] in COUNT_FACETS}
        same = all(x == y for x, y in counts.values())
        ok = ok and same and a["failed"] == b["failed"] == plain["failed"] == 0
        overhead = {k: {"untraced": v, "traced": a["end_to_end"][k],
                        "traced_minus_untraced": a["end_to_end"][k] - v}
                    for k, v in sorted(plain["end_to_end"].items())}
        report[w] = dict(seed=seed, host=a["host"], inputs=a["inputs"],
                         fixed_ops=a["fixed_ops"], per_layer=a["per_layer"],
                         jobs_by_source=a["jobs_by_source"], count_facets_repeat=same,
                         count_facets=counts, overhead=overhead)
        print("%-14s count facets repeat across two traced runs: %s (%d facets)" % (
            w, same, len(counts)))
        for k, o in overhead.items():
            print("#   overhead %-22s untraced %12.4f traced %12.4f" % (
                k, o["untraced"], o["traced"]))
    path = os.path.join(OUT, "trace_check.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print("written to %s" % path)
    return ok


def mixcheck(classpath, seed, seconds):
    """ingest_cycles untraced with its default mix and with 50% and 80%
    new identifiers per batch: how much the assumed mix sets the gated
    metrics."""
    report = {}
    for new_frac in (None, 0.5, 0.8):
        art = run_one(classpath, "ingest_cycles", seed, seconds, 0, new_frac=new_frac)
        name = "default" if new_frac is None else "new_%g" % new_frac
        report[name] = dict(new_frac=new_frac, failed=art["failed"],
                            attempted=art["attempted"], steal=art["loop_steal_frac"],
                            end_to_end=art["end_to_end"])
        print("%-8s failed %d of %d | %s" % (name, art["failed"], art["attempted"], " ".join(
            "%s=%.4g" % (n, art["end_to_end"][n]) for n, _ in END_TO_END + SHARED_NAMED)))
    path = os.path.join(OUT, "mix_check.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print("written to %s" % path)
    return all(r["failed"] == 0 for r in report.values())


def main():
    # a terminated run unwinds (and so stops its JVM) instead of dying
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=gen.WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--tracecheck", action="store_true")
    ap.add_argument("--mixcheck", action="store_true")
    a = ap.parse_args()
    classpath = build()
    if a.selfcheck:
        sys.exit(0 if selfcheck(classpath) else 1)
    if a.tracecheck:
        sys.exit(0 if tracecheck(classpath, a.seed, a.seconds) else 1)
    if a.mixcheck:
        sys.exit(0 if mixcheck(classpath, a.seed, a.seconds) else 1)
    if not a.workload:
        ap.error("--workload is required")
    names = gen.WORKLOADS if a.workload == "all" else (a.workload,)
    arts = []
    for w in names:
        art = run_one(classpath, w, a.seed, a.seconds, a.trace)
        show(art)
        arts.append(art)
    if len(arts) == 1:
        line = result_line(arts[0], a.trace)
    else:
        line = {"correct": all(x["failed"] == 0 for x in arts),
                "attempted": sum(x["attempted"] for x in arts),
                "failed": sum(x["failed"] for x in arts),
                "metrics": {"%s.%s" % (x["workload"], n): m
                            for x in arts for n, m in result_line(x, a.trace)["metrics"].items()}}
    print(json.dumps(line, sort_keys=True))


if __name__ == "__main__":
    main()
