#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the program
and the harness (graftbench/harness, an sbt project that depends on the
root build) and caches the classpath in .bench_build/; later runs reuse
it while the sources are unchanged. Each run generates its inputs from
the seed under .bench_work/, runs the harness JVM on local[nproc],
checks every output against DuckDB references, prints a table and, as
the last line, the JSON result. See graftbench/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(BENCH, "harness")
DEADLINE_S = 170  # the whole run, build excluded
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
WORKLOADS = ("engagement_stream", "corpus_stream")


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), HARNESS]
    for top in tops:
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames
                                 if d != "target" and (d != "project" or dirpath == HARNESS))
            for f in sorted(filenames):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile the program and the harness once per source state;
    return the harness runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=850)
        log.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_harness(cp, workload, input_dir, warm_dir, work, seconds, trace, budget_s):
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java, *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Harness",
           f"workload={workload}", f"input={input_dir}", f"warm={warm_dir}", f"work={work}",
           f"seconds={seconds}", f"trace={trace}", f"cores={cores}"]
    # the program reads SPARK_GRAFT_* settings (batch staging, stream
    # partitions) that would change the workload's shape
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    launched = time.time()
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            out, _ = proc.communicate(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {budget_s:.0f}s; see {work}/harness.log")
    res = [ln for ln in out.splitlines() if ln.startswith("RESULT ")]
    if proc.returncode != 0 or not res:
        fail(f"harness exited {proc.returncode} without a result; see {work}/harness.log")
    result = json.loads(res[-1][len("RESULT "):])
    result["jvm_start_s"] = result["main_epoch_ms"] / 1000.0 - launched
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(result, f)
    return result, cores


def run_checks(workload, input_dir, work, rounds, truth):
    """Check every operation of every round. Returns (failed, wrong):
    the (round, operation, reason) of each operation that failed, and
    how many of them failed because their output is wrong. An operation
    that threw has no output to check and fails without being wrong."""
    if workload == "corpus_stream":
        con, checks = check.corpus_reference(input_dir), check.corpus_checks
    else:
        con, checks = check.connect(input_dir), check.engagement_checks
    failed, wrong = [], 0
    for r, rr in enumerate(rounds):
        ops = checks(con, f"{work}/rounds/r{r}", truth)
        for op in rr["ops"]:
            if op in rr["errors"]:
                failed.append((r, op, f"threw {rr['errors'][op]}"))
                continue
            try:
                n = ops[op]()
            except Exception as e:  # e.g. no output where the check looks
                n, why = None, f"check raised {type(e).__name__}: {e}"
            else:
                why = f"{n} mismatching rows"
            if n != 0:
                failed.append((r, op, why))
                wrong += 1
    return failed, wrong


def metrics(result, truth):
    """End-to-end metrics of an untraced run."""
    return {
        "setup_s": (result["jvm_start_s"] + result["session_start_s"] + result["warmup_s"], "s"),
        "peak_rss_mb": (result["vmhwm_kb"] / 1024.0, "MB"),
        "records_per_s": (statistics.median(truth["records"] / sum(r["ops"].values())
                                            for r in result["rounds"]), "records/s"),
        "microbatch_p50_s": (statistics.median(result["latencies_s"]), "s"),
        "state_bytes": (statistics.median(result["state_bytes"]), "bytes"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")

    cp = ensure_build()
    started = time.time()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    done = False
    try:
        input_dir, warm_dir = os.path.join(work, "input"), os.path.join(work, "warm")
        truth = gen.generate(args.workload, args.seed, input_dir, gen.SIZES[args.workload])
        gen.generate(args.workload, args.seed + 1_000_003, warm_dir, gen.WARM_SIZES[args.workload])
        result, cores = run_harness(cp, args.workload, input_dir, warm_dir, work, args.seconds,
                                    args.trace, DEADLINE_S - (time.time() - started))
        rounds = result["rounds"]
        failed, wrong = run_checks(args.workload, input_dir, work, rounds, truth)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(WORK, f"spans-{args.workload}.json"))
        done = True
    finally:
        if done:
            shutil.rmtree(work, ignore_errors=True)

    attempted = sum(len(r["ops"]) for r in rounds)
    for r, op, why in failed:
        print(f"FAILED round {r} {op}: {why}", file=sys.stderr)

    if args.trace:
        values = {k: (v, UNITS[k]) for k, v in result["layers"].items()}
    else:
        values = metrics(result, truth)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} local[{cores}] "
          f"rounds={len(rounds)} records/round={truth['records']} "
          f"micro-batches={len(result['latencies_s'])} wall={time.time() - started:.1f}s")
    for k, (v, unit) in sorted(values.items()):
        print(f"  {k:<36} {v:>16.6g} {unit}")
    out = {"correct": wrong == 0, "attempted": attempted, "failed": len(failed),
           "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in values.items()}}
    print(json.dumps(out))
    sys.exit(0 if not failed else 1)


# Units of the per-layer metrics the traced harness reports.
UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.read_rows": "rows", "sources.read_bytes": "bytes",
    "sources.stream_input_rows": "rows", "sources.latest_offset_ms": "ms",
    "engine.batches": "count", "engine.trigger_ms": "ms", "engine.get_batch_ms": "ms",
    "engine.add_batch_ms": "ms", "engine.query_planning_ms": "ms",
    "engine.wal_commit_ms": "ms", "engine.commit_offsets_ms": "ms",
    "engine.jobs_per_batch": "count", "engine.stages_per_batch": "count",
    "engine.tasks_per_batch": "count", "engine.driver_gap_s": "s",
    "state.bytes_written_per_batch": "bytes", "state.files_written_per_batch": "count",
    "state.dir_files": "count",
    "state.read_bytes_first_quarter": "bytes", "state.read_bytes_last_quarter": "bytes",
    "operators.cdc_drain_s": "s", "operators.fanout_s": "s", "operators.hop_append_s": "s",
    "operators.corpus_stream_s": "s", "operators.corpus_drain_s": "s",
    "operators.corpus_report_s": "s", "operators.new_pairs": "count",
    "operators.shuffle_read_bytes": "bytes", "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
}

if __name__ == "__main__":
    main()
