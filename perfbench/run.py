#!/usr/bin/env python3
"""Benchmark entry point; run it from the root of a checkout.

    python3 perfbench/run.py --workload etl-reference --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (once per source state),
then runs one closed-loop benchmark JVM in a fresh scratch root that is
removed afterwards. Query results are checked against expected.tsv, the
DuckDB oracle's digests (`--derive-expected` rewrites it). Prints a readable report and,
as the last stdout line, one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics, or with `--trace 1` the
per-layer ones).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
# Oracle digests of every workload query on DATA (see oracle.py).
EXPECTED = os.path.join(HERE, "expected.tsv")
JVM_TIMEOUT_S = 170

END_TO_END = [("pass_s", "s"), ("query_p50_s", "s"), ("query_tail_s", "s"),
              ("cpu_s", "s"), ("heap_live_peak_mb", "MB"), ("setup_s", "s")]

# Every per-layer metric, with its unit; a layer that does no work on a
# workload reports 0.
PER_LAYER = [
    ("queries.construct_s", "s"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"), ("plan.exchanges", "count"),
    ("plan.sort_aggregates", "count"), ("plan.nested_loop_joins", "count"),
    ("plan.broadcast_exchanges", "count"),
    ("exec.drain_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.task_gc_s", "s"), ("exec.task_deser_s", "s"),
    ("exec.core_busy_frac", "frac"), ("exec.stage_wait_s", "s"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.records_read", "count"), ("shuffle.fetch_wait_s", "s"),
    ("shuffle.write_s", "s"), ("spill.memory_bytes", "bytes"),
    ("spill.disk_bytes", "bytes"),
    ("scan.bytes", "bytes"), ("scan.records", "count"),
    ("sink.bytes", "bytes"), ("sink.records", "count"),
    ("memo.builds", "count"), ("memo.bytes", "bytes"),
    ("stream.queries_started", "count"), ("stream.restarts", "count"),
    ("stream.batches", "count"), ("stream.rows", "count"),
    ("stream.add_batch_ms", "ms"), ("stream.get_batch_ms", "ms"),
    ("stream.latest_offset_ms", "ms"), ("stream.query_planning_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
    ("stream.state_commit_ms", "ms"), ("stream.state_rows", "count"),
    ("stream.state_bytes", "bytes"), ("stream.outside_batch_s", "s"),
    ("kernel.fnv64_ns", "ns"), ("kernel.poly61_ns", "ns"),
    ("kernel.word_gram_poly61_ns", "ns"), ("kernel.simhash64_ns", "ns"),
    ("kernel.jaro_winkler_ns", "ns"), ("kernel.cdc_boundaries_ns", "ns"),
    ("kernel.nfc_ns", "ns"), ("kernel.chem_canonical_us", "us"),
    ("kernel.morgan_fp_us", "us"), ("kernel.substructure_us", "us"),
    ("kernel.fnv64_calls", "count"), ("kernel.poly61_calls", "count"),
    ("kernel.word_gram_poly61_calls", "count"), ("kernel.simhash64_calls", "count"),
    ("kernel.jaro_winkler_calls", "count"), ("kernel.cdc_boundaries_calls", "count"),
    ("kernel.nfc_calls", "count"), ("kernel.chem_canonical_calls", "count"),
    ("kernel.morgan_fp_calls", "count"), ("kernel.substructure_calls", "count"),
    ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("jvm.classes_loaded", "count"),
    ("trace.pass_s", "s"), ("host.sys_steal_frac", "frac"),
]

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {cmd[0]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_hash(root):
    h = hashlib.sha256()
    files = []
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, f) for f in fs]
    files.append(os.path.join(HERE, "build.sh"))
    for rel, f in sorted((os.path.relpath(f, root), f) for f in files):
        h.update(rel.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_jars(root):
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: no Spark jars directory in build.sbt")
    return m.group(1)


def heap():
    """The driver heap the test suite runs with: half the RAM, 2 to 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java_cmd(classes, jars, tmp, main, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    mem = heap()
    return (["java"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", f"-Xmx{mem}", f"-Xms{mem}",
             "-XX:+UseTransparentHugePages",
             "-cp", f"{classes}:{jars}/*", main] + args)


def prepare(root, build, jars):
    """Compiles the program and the harness when the sources changed."""
    stamp = source_hash(root)
    classes = os.path.join(build, "classes")
    stamp_file = os.path.join(build, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(build, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    print("perfbench: building", file=sys.stderr)
    if run(["bash", os.path.join(HERE, "build.sh"), jars, classes], 600,
           cwd=root, stdout=sys.stderr) != 0:
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def derive_expected(build, jars, classes, workloads):
    """Rewrites EXPECTED from the DuckDB oracle (minutes; run it when a
    query's output or oracle SQL changes on purpose)."""
    tmp = os.path.join(build, "oracle-tmp")
    os.makedirs(tmp, exist_ok=True)
    sql = os.path.join(build, "oracle_sql.json")
    if run(java_cmd(classes, jars, tmp, "perfbench.DumpOracle", [sql]), 120,
           cwd=build, stdout=sys.stderr) != 0:
        fail("oracle SQL dump failed")
    names = sorted({q for w in workloads.values() for q in w["queries"]})
    if run([sys.executable, os.path.join(HERE, "oracle.py"), DATA, sql, EXPECTED,
            ",".join(names)], 3600, stdout=sys.stderr) != 0:
        fail("oracle digests failed")
    shutil.rmtree(tmp, ignore_errors=True)


def parse(path):
    metrics, info, queries, counts = {}, {}, [], {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            kind, *rest = line.rstrip("\n").split("\t")
            if kind == "metric":
                metrics[rest[0]] = (float(rest[1]), rest[2])
            elif kind == "info":
                info[rest[0]] = rest[1]
            elif kind == "query":
                queries.append(rest)
            elif kind == "count":
                counts[rest[0]] = int(rest[1])
    return metrics, info, queries, counts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--derive-expected", action="store_true",
                    help="rewrite expected.tsv from the DuckDB oracle and exit")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if not a.derive_expected and (a.workload not in workloads or a.seed is None
                                  or a.seconds is None):
        fail(f"need --workload (one of {', '.join(workloads)}), --seed and --seconds")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program sources (src/main/scala) in the working directory")
    if not os.path.isdir(DATA):
        fail(f"no benchmark data at {DATA}")
    jars = spark_jars(root)
    build = os.path.join(root, ".bench_build", "perfbench")
    classes = prepare(root, build, jars)
    if a.derive_expected:
        derive_expected(build, jars, classes, workloads)
        return

    run_dir = os.path.join(build, f"run-{os.getpid()}-{time.time_ns()}")
    scratch, tmp = os.path.join(run_dir, "scratch"), os.path.join(run_dir, "tmp")
    os.makedirs(scratch)
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.tsv")
    cpus = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace),
            "--cpus", str(cpus), "--data", DATA, "--expected", EXPECTED, "--out", out,
            "--queries", ",".join(workloads[a.workload]["queries"])]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
    try:
        launch = java_cmd(classes, jars, tmp, "perfbench.PerfBench", args)
        launch += ["--launch-ms", str(int(time.time() * 1000))]
        code = run(launch, JVM_TIMEOUT_S, cwd=run_dir, env=env, stdout=sys.stderr)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {code}")
        metrics, info, queries, counts = parse(out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_names = [q[0] for q in queries if int(q[2]) > 0]
    print(f"workload {a.workload}  seed {a.seed}  cpus {cpus}  trace {a.trace}  "
          f"passes {info.get('passes')}  cold pass {float(info.get('cold_pass_s', 0)):.3f} s  "
          f"host sys+steal {float(info.get('host_sys_steal_frac', 0)):.3f}")
    units = dict(PER_LAYER + END_TO_END)
    for name, (value, unit) in sorted(metrics.items()):
        print(f"  {name:<32} {value:>16.6f} {unit or units.get(name, '')}")
    print(f"  {'failed_queries':<32} {len(failed_names):>16d} count "
          f"(of {len(queries)} queries, {counts['attempted']} executions)")
    print(f"  query_tail_s is p{info.get('query_tail_percentile')} of "
          f"{info.get('query_samples')} samples" +
          (f"; batch_tail_ms is p{info['batch_tail_percentile']} of {info['batches']} batches"
           if "batches" in info else ""))
    for name, attempts, bad, med, detail in queries:
        print(f"  query {name:<34} {float(med):8.3f} s  {attempts} runs  {detail}")
    print(f"output check: {len(queries) - len(failed_names)}/{len(queries)} queries match "
          f"the DuckDB oracle" + (f"; failed: {', '.join(failed_names)}" if failed_names else ""))

    wanted = PER_LAYER if a.trace else END_TO_END
    result = {
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {name: {"value": metrics.get(name, (0.0, unit))[0], "unit": unit}
                    for name, unit in wanted},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
