#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload follow|query \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the benchmark (an
sbt build in perfbench/ that compiles the program at the root from
source); later runs reuse the build while no source changed.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it is a detail record with the
workload's own metric names. Every run also leaves a run-stamped record
in perfbench/results/ (and, for `query`, a per-query file); no run
overwrites another's.
"""

import argparse
import datetime
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("follow", "query")
# a run must end within 180 s: the JVM gets this much, the checks the rest
JVM_LIMIT_S = 140.0
BUILD_LIMIT_S = 850.0
JVM_HEAP = "3g"
ARCHIVE = os.path.join(HERE, "target", "classes.jsa")
# raw-record fields a run record summarizes instead of copying
RAW_BULK = ("spans", "scopes", "queries", "live", "layers", "failures", "conf",
            "setup_s", "attempted", "failed", "workload", "seed", "trace", "nproc")

# name -> unit; the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}

PER_LAYER = {
    "streaming.rpc_get_block_calls": "count",
    "streaming.rpc_dgpo_calls": "count",
    "streaming.rpc_serve_s": "s",
    "streaming.backlog_blocks_max": "count",
    "streaming.gen_late_s": "s",
    "streaming.triggers": "count",
    "streaming.data_batch_frac": "frac",
    "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "jobs.add_batch_s": "s",
    "jobs.blocks_per_batch_p50": "count",
    "sink.set_calls": "count",
    "sink.expire_calls": "count",
    "sink.publish_calls": "count",
    "sink.flush_calls": "count",
    "sink.busy_s": "s",
    "sink.set_per_key": "count",
    "llm.ingest_text_batch_s": "s",
    "llm.expire_s": "s",
    "llm.compact_s": "s",
    "llm.repair_s": "s",
    "llm.admit_frac": "frac",
    "llm.state_files": "count",
    "llm.state_mb": "MB",
    "llm.lsh_s": "s",
    "llm.lsh_candidates": "count",
    "llm.lsh_verified_frac": "frac",
    "llm.simhash_s": "s",
    "llm.phash_s": "s",
    "llm.phash_candidates": "count",
    "llm.phash_pairs": "count",
    "llm.phash_hamming0_frac": "frac",
    "queries.relational.plan_s": "s",
    "queries.relational.exec_s": "s",
    "queries.llm.plan_s": "s",
    "queries.llm.exec_s": "s",
    "queries.codegen_compiles": "count",
    "spark.jobs": "count",
    "spark.jobs_per_batch": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.output_mb": "MB",
}

# Spark 4 on JDK 17 outside spark-submit (JavaModuleOptions' list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else []
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            paths += [os.path.join(d, f) for f in files]
        for p in sorted(paths):
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root):
    """The classpath of the built benchmark, building it when needed."""
    target = os.path.join(HERE, "target")
    os.makedirs(target, exist_ok=True)
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(root)
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
        log = os.path.join(target, "build.log")
        with open(log, "w") as out:
            try:
                r = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.autostart=false", "exportClasspath"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
            except subprocess.TimeoutExpired:
                fail(f"build timed out; see {log}")
        if r.returncode != 0 or not os.path.exists(cp_file):
            fail(f"build failed; see {log}")
        classpath = open(cp_file).read().strip()
        # A class-data-sharing archive recorded from one traced `query` run
        # (SQL, parquet, llm, streaming and state code: most of the classes
        # both workloads load), so every measured JVM starts from the same
        # loaded classes instead of re-reading ~300 jars; this saves several
        # seconds a run.
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        work = os.path.join(HERE, ".work", f"archive-{os.getpid()}")
        try:
            code, _, jvm_log = run_workload(
                classpath, "query", 0, 1.0, 1, work, time.monotonic() + 300,
                [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
            if code != 0 or not os.path.exists(ARCHIVE):
                shutil.copy(jvm_log, os.path.join(target, "archive.log"))
                fail("recording the class archive failed; see perfbench/target/archive.log")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return classpath


def run_workload(classpath, workload, seed, seconds, trace, work, deadline, jvm_flags):
    """Run one workload's JVM in `work`: (exit code or None on timeout,
    the raw record or None, the JVM's log)."""
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", os.path.join(work, "jvm"),
            "--out", os.path.join(work, "raw.json")]
    if workload == "query":
        import gen_tables
        data = os.path.join(work, "data")
        os.makedirs(data)
        gen_tables.generate(data, seed)
        args += ["--data", data]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"] + jvm_flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, None, log_path
    raw_path = os.path.join(work, "raw.json")
    raw = None
    if os.path.exists(raw_path):
        with open(raw_path) as f:
            raw = json.load(f)
    return code, raw, log_path


def latency_samples(raw):
    """(work per second, latency samples) of a workload's raw record."""
    w = raw["workload"]
    if w == "follow":
        live = raw["live"]
        return raw["catchup_bps"], stats.lags(live["due_s"], live["received_s"])
    if w == "query":
        # one sample per query or detector: its median over the passes
        per_item = {}
        for q in raw["queries"]:
            per_item.setdefault(q["name"], []).append(q["plan_s"] + q["exec_s"])
        total = sum(sum(v) for v in per_item.values())
        return len(raw["queries"]) / total, [stats.median(v) for v in per_item.values()]
    raise ValueError(w)


def end_to_end(raw):
    """The generic end-to-end metrics and the workload's own names for
    them, with the sample count behind each timing."""
    work, lat = latency_samples(raw)
    p50 = stats.median(lat)
    tail_p, tail_v, beyond = stats.tail(lat)
    setup = stats.median(raw["setup_s"])
    generic = {"setup_s": setup, "work_per_s": work,
               "latency_p50_s": p50, "latency_tail_s": tail_v}
    w = raw["workload"]
    named = {"setup_s": setup, "peak_rss_mb": raw["peak_rss_mb"],
             "fail_frac": raw["failed"] / max(1, raw["attempted"]),
             "samples": len(lat), "tail_percentile": tail_p, "tail_beyond": beyond}
    if w == "follow":
        named.update(follow_catchup_bps=work, follow_lag_p50_s=p50, follow_lag_tail_s=tail_v,
                     gen_late_max_s=max(stats.lateness(raw["live"]["due_s"],
                                                       raw["live"]["available_s"])))
    elif w == "query":
        # per pass: the declared queries' total and the three detectors'
        total, neardup = {}, {}
        for q in raw["queries"]:
            acc = neardup if q["family"] == "neardup" else total
            acc[q["pass"]] = acc.get(q["pass"], 0.0) + q["plan_s"] + q["exec_s"]
        named.update(query_total_s=stats.median(list(total.values())),
                     query_p50_s=p50, query_tail_s=tail_v,
                     neardup_s=stats.median(list(neardup.values())))
        if "intake_batch_s" in raw:  # traced runs drive the corpus intake
            batches = raw["intake_batch_s"]
            named.update(intake_docs_per_s=raw["intake_docs_per_s"],
                         intake_batch_p50_s=stats.median(batches),
                         intake_batch_tail_s=max(batches))
    return generic, named


def query_detail(raw):
    scopes = raw.get("scopes", {})
    rows = []
    for q in raw["queries"]:
        r = {k: q[k] for k in ("name", "family", "pass", "plan_s", "exec_s", "codegen_compiles")}
        c = scopes.get(q["scope"])
        if c:
            r.update(jobs=c["jobs"], tasks=c["tasks"], executor_cpu_s=c["executor_cpu_s"],
                     shuffle_read_mb=c["shuffle_read_mb"], shuffle_write_mb=c["shuffle_write_mb"])
        rows.append(r)
    return rows


def cpu_ticks():
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def write_new(path, obj):
    """Write `obj` to a file that must not exist yet."""
    with open(path, "x") as f:
        json.dump(obj, f, indent=1)


def tracing_overhead(results, workload, seed, traced):
    """Traced over untraced end-to-end values, against the newest untraced
    record of the same workload and seed, or failing that of the same
    workload (None when there is none)."""
    runs = [n for n in os.listdir(results)
            if n.startswith(f"run-{workload}-seed") and "-trace0-" in n]
    same_seed = [n for n in runs if n.startswith(f"run-{workload}-seed{seed}-")]
    # newest first: the stamp follows the seed and trace in the name
    newest = sorted(same_seed or runs, key=lambda n: n.split("-trace0-")[1])
    if not newest:
        return None
    with open(os.path.join(results, newest[-1])) as f:
        base = json.load(f)
    out = {k: {"untraced": base["end_to_end"][k], "traced": traced[k],
               "ratio": traced[k] / base["end_to_end"][k] if base["end_to_end"][k] else None}
           for k in traced}
    out["untraced_seed"] = base["seed"]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")
    classpath = build(root)
    deadline = time.monotonic() + JVM_LIMIT_S

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(HERE, ".work", tag)
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    try:
        ticks0 = cpu_ticks()
        code, raw, log = run_workload(
            classpath, a.workload, a.seed, a.seconds, a.trace, work, deadline,
            [f"-XX:SharedArchiveFile={ARCHIVE}"])
        if code is None:
            fail("run exceeded its time limit", 1)
        if raw is None or "aborted" in raw:
            shutil.copy(log, os.path.join(results, f"jvm-{tag}.log"))
            why = raw["aborted"] if raw else f"the JVM exited with {code} and no record"
            fail(f"run aborted: {why}; log kept in perfbench/results/", 1)

        failures = list(raw["failures"])
        if a.workload == "query":
            import oracle
            with open(os.path.join(work, "jvm", "oracle_sql.json")) as f:
                sql = json.load(f)
            verdicts = oracle.check(os.path.join(work, "data"),
                                    os.path.join(work, "jvm", "results"), sql)
            raw["attempted"] += len(verdicts)
            bad = {k: v for k, v in verdicts.items() if v}
            raw["failed"] += len(bad)
            failures += [f"{k}: {v}" for k, v in sorted(bad.items())]

        generic, named = end_to_end(raw)
        # share of the machine's CPU time the hypervisor gave to others
        # during the run: runs with a large share are slowed by the host
        ticks1 = cpu_ticks()
        named["host_steal_frac"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "nproc": raw["nproc"], "conf": raw["conf"],
                  "attempted": raw["attempted"], "failed": raw["failed"],
                  "failures": failures, "end_to_end": generic, "named": named,
                  "setup_samples_s": raw["setup_s"],
                  "latency_samples_s": latency_samples(raw)[1],
                  # the workload's other raw figures (session start, batch
                  # counts, pair counts and checksums, ...)
                  "raw": {k: v for k, v in raw.items() if k not in RAW_BULK}}
        layers = raw.get("layers", {})
        if a.trace:
            record["per_layer"] = {k: layers.get(k, 0) for k in PER_LAYER}
            record["self_time_s"] = stats.self_times(raw["spans"])
            record["tracing_overhead"] = tracing_overhead(results, a.workload, a.seed, generic)
        if a.workload == "query":
            detail = query_detail(raw)
            write_new(os.path.join(results, f"per_query-{tag}.json"), detail)
        write_new(os.path.join(results, f"run-{tag}.json"), record)

        if a.trace:
            metrics = {k: {"value": record["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": generic[k], "unit": u} for k, u in END_TO_END.items()}
        for msg in failures:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
        print(json.dumps({"detail": named, "tracing_overhead": record.get("tracing_overhead")}))
        print(json.dumps({"correct": raw["failed"] == 0, "attempted": raw["attempted"],
                          "failed": raw["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
