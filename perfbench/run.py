#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh JVM, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the program's sources and the
benchmark's Scala file against the Spark jars (once per source tree, under
``.bench_build/``), generates the workload's inputs from the seed under
``.perfbench/``, runs the workload, checks the outputs, removes its inputs
and outputs, and prints one JSON object as the last line of stdout. With
``--trace 1`` the metrics are the per-layer ones; the per-op spans go to
``.perfbench/trace-<workload>.json``. See perfbench/README.md.
"""
import argparse
import glob
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

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")  # build.sbt's unmanagedBase
BUILD = os.path.join(".bench_build", "perfbench")
STATE = ".perfbench"
JVM_TIMEOUT_S = 150

LOOPS = ["q203_sssp_weighted", "q297_kcore"]
WORKLOADS = {
    # A graph_loops round runs q203, q297, q203 twice. With the two queries
    # in equal numbers the median op would sit in the gap between their
    # walls and swing across it from run to run. Six ops take 10-20 s at
    # every speed seen, so `--seconds 20` always times two rounds; with
    # three-op rounds, fast runs made one round more than slow ones.
    "graph_loops": {"tables": ["supplier", "orders", "lineitem"], "scale": 0.1,
                    "ops": [LOOPS[0], LOOPS[1], LOOPS[0]] * 2},
    "medallion_etl": {"claims": 250, "ops": ["claim", "claim_activity", "claim_payment"]},
}

END_TO_END = [("ops_per_s", "1/s"), ("latency_p50_s", "s"), ("setup_s", "s")]
PER_LAYER = [
    ("operators.builder_s", "s"), ("operators.builder_jobs", "count"),
    ("operators.action_s", "s"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("catalyst.query_executions", "count"), ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("exchange.shuffle_write_bytes", "bytes"), ("exchange.shuffle_read_bytes", "bytes"),
    ("exchange.fetch_wait_s", "s"), ("exchange.spill_bytes", "bytes"),
    ("scan.input_bytes", "bytes"), ("scan.input_records", "count"),
    ("scan.input_passes", "ratio"), ("pipeline.bronze_write_s", "s"),
    ("pipeline.silver_write_s", "s"), ("pipeline.output_bytes", "bytes"),
    ("pipeline.output_files", "count"), ("cache.rdds_left", "count"),
    ("cache.bytes_left", "bytes"),
]
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group and wait for it
    on timeout or interrupt, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        fail("no program sources under src/main/scala (run from the checkout root)")
    return srcs + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    """Compile program + benchmark sources once per source tree, jar them,
    and record an AppCDS archive of the classes a short training run loads
    (it halves the JVM's class-loading share of set-up and first queries).
    Returns (jar, archive)."""
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        fail(f"no Scala compiler jar in {SPARK_JARS} (set SPARK_JARS)")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    jar, archive = os.path.join(out, "app.jar"), os.path.join(out, "app.jsa")
    if not os.path.isdir(out):
        compile_jar(srcs, out)
    if not os.path.exists(archive):
        train(jar, archive)
    return jar, archive


def compile_jar(srcs, out):
    """Compile the sources into <out>/app.jar; other builds are removed."""
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = out + ".tmp"
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(SPARK_JARS, "*")
    code, _, err = run_child(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", cp, "@" + argfile],
        timeout=800, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    if code != 0:
        fail("compile failed:\n" + err.decode(errors="replace")[-3000:])
    code, _, err = run_child(["jar", "cf", os.path.join(tmp, "app.jar"), "-C", classes, "."],
                             timeout=120, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    if code != 0:
        fail("jar failed:\n" + err.decode(errors="replace")[-3000:])
    shutil.rmtree(classes)
    os.rename(tmp, out)


def train(jar, archive):
    """One JVM that loads what both workloads load, dumping the loaded
    classes at exit into the archive every run then uses. A run never goes
    on without the archive: set-up time would not be comparable."""
    import gen
    work = os.path.abspath(os.path.join(os.path.dirname(jar), "train"))
    data, claims = os.path.join(work, "data"), os.path.join(work, "claims")
    gen.write_tables(data, 0, WORKLOADS["graph_loops"]["tables"], 0.01)
    gen.write_claims(claims, gen.claims_batches(0, 20, ["claim"]))
    plan = {"workload": "train", "ops": ",".join(LOOPS),
            "data": data, "etl.in": claims, "etl.tables": "claim"}
    try:
        code, _, err = run_jvm(jar, None, work, plan, JVM_TIMEOUT_S,
                               [f"-XX:ArchiveClassesAtExit={os.path.abspath(archive)}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(archive):
        if os.path.exists(archive):
            os.remove(archive)
        fail(f"the CDS training JVM exited with {code}:\n" + err.decode(errors="replace")[-3000:])


def run_jvm(jar, archive, work, plan, timeout, extra=()):
    """Run perfbench.PerfBench on a plan (a dict, written as a properties file)."""
    plan = dict({"cpus": str(len(os.sched_getaffinity(0))), "seconds": "0", "trace": "0",
                 "work": work, "check": os.path.join(work, "check"),
                 "out": os.path.join(work, "result.json")}, **plan)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(plan["check"], exist_ok=True)
    plan_file = os.path.join(work, "plan.properties")
    with open(plan_file, "w") as f:
        for k, v in plan.items():
            f.write(f"{k}={v}\n")
    mem_gb = max(2, min(6, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**32))
    cmd = (["java", f"-Xmx{mem_gb}g", "-Xss8m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.artifacts.root={work}/artifacts",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"] + JDK_OPENS +
           ([f"-XX:SharedArchiveFile={archive}"] if archive else []) + list(extra) +
           ["-cp", jar + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "perfbench.PerfBench", plan_file])
    return run_child(cmd, timeout, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat; (0, 0) where it
    cannot be read. Steal is time the hypervisor gave this machine's CPUs
    to other guests: the benchmark reports its share, as one cause of
    run-to-run spread on a shared host."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return 0, 0


def digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, out):
    import gen
    spec = WORKLOADS[workload]
    if "claims" in spec:
        batches = gen.claims_batches(seed, spec["claims"], spec["ops"])
        gen.write_claims(out, batches)
        return batches
    gen.write_tables(out, seed, spec["tables"], spec["scale"])
    return None


def generate_checked(workload, seed, work):
    """Generate the inputs three times: twice from the seed, which must give
    byte-identical files, and once from another seed, which must not. The
    median of the three times is the generation part of the set-up time."""
    times, outs = [], []
    for i, s in enumerate((seed, seed, seed + 1)):
        d = os.path.join(work, f"in{i}")
        t = time.perf_counter()
        r = generate(workload, s, d)
        times.append(time.perf_counter() - t)
        outs.append((d, r))
    a, b, c = (digest(d) for d, _ in outs)
    if a != b:
        fail("the generator gave different files for the same seed")
    if a == c:
        fail("the generator gave the same files for different seeds")
    for d, _ in outs[1:]:
        shutil.rmtree(d)
    return outs[0], statistics.median(times)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # a terminated benchmark still kills and waits for its JVM (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build_out = build()
    os.makedirs(STATE, exist_ok=True)
    for old in glob.glob(os.path.join(STATE, "work-*")):  # left by a killed run
        if not os.path.exists(f"/proc/{old.rsplit('-', 1)[1]}"):
            shutil.rmtree(old, ignore_errors=True)
    work = os.path.abspath(os.path.join(STATE, f"work-{os.getpid()}"))
    try:
        result = run(a, build_out, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run(a, build_out, work):
    (inputs, batches), gen_s = generate_checked(a.workload, a.seed, work)
    etl = batches is not None
    ops = WORKLOADS[a.workload]["ops"]
    plan = {"workload": a.workload, "seconds": str(a.seconds), "trace": str(a.trace),
            "ops": ",".join(ops), "data": inputs, "etl.in": inputs}
    launch_ms = time.time() * 1000
    steal0, total0 = cpu_ticks()
    code, _, err = run_jvm(*build_out, work, plan, JVM_TIMEOUT_S)
    steal1, total1 = cpu_ticks()
    end_ms = time.time() * 1000
    with open(os.path.join(STATE, f"jvm-{a.workload}.log"), "wb") as f:
        f.write(err)
    if code != 0:
        fail(f"JVM exited with {code}:\n" + err.decode(errors="replace")[-3000:])
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    # outputs, checked outside the timed span; an op fails on an exception
    # or a failed check, and any failure but the known fault is incorrect
    check_t0 = time.perf_counter()
    import checks
    if etl:
        facts = checks.EtlFacts(batches)
    else:
        verdict = checks.oracle_check(inputs, os.path.join(work, "check"), set(ops))
    failed, correct = 0, True
    for o in res["ops"]:
        if o["error"]:
            bad = [("run", o["error"])]
        elif etl:
            bad = checks.etl_check(facts, f"{work}/etl/r{o['round']}", o["name"], o["rows"])
        else:
            bad = [("oracle", verdict[o["name"]])] if verdict[o["name"]] else []
        failed += bool(bad)
        # the known fault (checks.EtlFacts.fault) fails the op but leaves
        # `correct` true; any other failure makes it false
        if any(k != "fault" for k, _ in bad):
            correct = False
            print(f"perfbench: {o['name']} (round {o['round']}) failed: {bad}", file=sys.stderr)

    check_s = time.perf_counter() - check_t0
    done = [o for o in res["ops"] if not o["error"]]
    span = sum(o["wall"] for o in res["ops"])
    setup = gen_s + (res["warm_end_ms"] - launch_ms) / 1000.0
    if a.trace:
        spans = res["spans"]
        with open(os.path.join(STATE, f"trace-{a.workload}.json"), "w") as f:
            json.dump([dict(s, name=o["name"], round=o["round"], wall=o["wall"])
                       for s, o in zip(spans, res["ops"])], f)
        mean = {k: statistics.fmean(s[k] for s in spans) for k in spans[0]}
        mean["scan.input_passes"] = mean["scan.input_bytes"] / mean["scan.disk_bytes"]
        metrics = {k: {"value": mean[k], "unit": u} for k, u in PER_LAYER}
    else:
        values = {"ops_per_s": len(done) / span,
                  "latency_p50_s": statistics.median(o["wall"] for o in done),
                  "setup_s": setup}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(f"perfbench: {a.workload} seed {a.seed}: {len(res['ops'])} ops in "
          f"{res['rounds']} round(s), {span:.2f} s timed; session {res['session_s']:.2f} s, "
          f"warm-up {res['warmup_s']:.2f} s, generation {gen_s:.2f} s, JVM "
          f"{(end_ms - launch_ms) / 1000:.2f} s, checks {check_s:.2f} s; CPU steal "
          f"{(steal1 - steal0) / max(1, total1 - total0):.1%}; op walls: " +
          ", ".join(f"{o['name']} {o['wall']:.2f}" for o in res["ops"]), file=sys.stderr)
    return {"correct": correct, "attempted": len(res["ops"]), "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    main()
