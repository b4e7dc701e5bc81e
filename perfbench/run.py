#!/usr/bin/env python3
"""Benchmark of the graft Spark library.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the library and the harness from source when the sources
differ from the last build (into target/ and .bench_build/), then runs the
workload in a fresh driver JVM (perfbench/harness) on local[nproc]: session
start plus a warm-up pass, three times, then passes over the workload's
queries for `--seconds`, one query at a time (a closed loop with one
client), then one more pass that writes every full result. The seed draws
a fresh query order for each pass; seed 0 keeps the declared order. The
input is the library's sf0.01 test data, copied to perfbench/data/sf0.01.

Every query execution's row count must equal the DuckDB oracle's (computed
once per oracle SQL and input, and cached), and the full results must pass
tools/check_oracle.py. With `--trace 0` the run prints the end-to-end
metrics; with `--trace 1` every second pass runs with Spark listeners on and
the run prints the per-layer metrics, including the tracing overhead against
the untraced passes. The spans of the run are written to
.bench_build/traces/. The last line of standard output is one JSON object:
correct, attempted, failed and metrics.

BENCHMARK.json says why each workload exists; perfbench/LAYERS.md maps each
per-layer metric to the end-to-end metric it should move."""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
BASE_INPUT = os.path.join(HERE, "data", "sf0.01")
# seed of the generator that wrote the library's test data, copied to
# perfbench/data/sf0.01
GENERATOR_SEED = 42

# name -> queries in declared order
WORKLOADS = {
    "algo_fit": ["q_ahp", "q_canopy", "q_fcm_fit", "q_kmeans", "q_online_ahp_stream"],
    "text_1x": ["q_containment", "q_minhash_pairs", "q_tfidf"],
}
# session start plus warm-up pass, repeated; setup_s is their median
SETUPS = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout kills the whole group
    and waits for it. Returns (exit code, stdout text)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True,
                         text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return -1, out
    return p.returncode, out


# ---- build ----

def tree_digest(paths):
    """Digest of the files under `paths` (files or directories), skipping
    build output."""
    files = []
    for top in paths:
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = [d for d in dirnames if d != "target"]
            files += [os.path.join(dirpath, f) for f in filenames]
        if os.path.isfile(top):
            files.append(top)
    h = hashlib.sha1()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles the library with its own build and the harness on top of it
    (one sbt invocation). The build output has one place, so the build is
    skipped only when the sources are those of the last finished build.
    Returns (stamp, classpath)."""
    stamp = tree_digest([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                         os.path.join(ROOT, "project", "build.properties"), HARNESS])
    built = os.path.join(BUILD, "built.json")
    if os.path.exists(built):
        with open(built) as f:
            last = json.load(f)
        if last["stamp"] == stamp:
            return stamp, last["classpath"]
        # the output is about to change: a build cut short must not leave
        # a stamp that matches it
        os.remove(built)
    log(f"building {stamp} with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    code, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HARNESS, env=env)
    lines = [line for line in out.splitlines() if line.strip()]
    if code != 0 or not lines or "harness-target" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(built + ".tmp", "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    os.replace(built + ".tmp", built)
    return stamp, classpath


def java(classpath, work, main, args, timeout):
    """Runs `main` in a fresh JVM whose temp dir is `work`/tmp and whose
    standard error goes to `work`/jvm.log. Returns the exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main] + args
    with open(os.path.join(work, "jvm.log"), "a") as err:
        code, _ = run_proc(cmd, timeout, stderr=err, cwd=ROOT)
    return code


# ---- oracle ----

def oracle_rows(sql_by_query):
    """Row count of each query's DuckDB oracle result on the input. Each is
    computed once and cached under the query name plus digests of its SQL
    and of the input files."""
    cache = os.path.join(BUILD, "oracle", tree_digest([BASE_INPUT]))
    os.makedirs(cache, exist_ok=True)
    rows, con = {}, None
    for name, sql in sorted(sql_by_query.items()):
        path = os.path.join(cache, f"{name}.{hashlib.sha1(sql.encode()).hexdigest()[:16]}")
        if not os.path.exists(path):
            if con is None:
                import duckdb
                con = duckdb.connect()
                for entry in sorted(os.listdir(BASE_INPUT)):
                    if entry.endswith(".parquet"):
                        con.execute(f"CREATE VIEW {entry[:-len('.parquet')]} AS SELECT * "
                                    f"FROM read_parquet('{os.path.join(BASE_INPUT, entry)}')")
            with open(path + ".tmp", "w") as f:
                f.write(str(con.execute(sql).fetch_arrow_table().num_rows))
            os.replace(path + ".tmp", path)
        with open(path) as f:
            rows[name] = int(f.read())
    if con is not None:
        con.close()
    return rows


def check_results(verify):
    """Runs tools/check_oracle.py on the full results in `verify`. Returns
    {query: None when it passed, else the checker's line}."""
    code, out = run_proc([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                          BASE_INPUT, verify], JVM_TIMEOUT_S, cwd=ROOT)
    verdict = {}
    for line in out.splitlines():
        m = re.match(r"\[(.{4})\] (\w+):", line)
        if m:
            verdict[m[2]] = None if m[1] == " OK " else line
    if code != 0 and not any(verdict.values()):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"tools/check_oracle.py failed ({code})")
    return verdict


# ---- metrics ----

def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else 0.0


def dur(s):
    return s["end"] - s["start"]


def end_to_end(spans):
    passes = [s for s in spans if s["kind"] == "pass" and not s["traced"]]
    by_pass = {}
    for s in spans:
        if s["kind"] == "query":
            by_pass.setdefault(s["parent"], []).append(dur(s))
    return {
        "setup_s": median([dur(s) for s in spans if s["kind"] == "setup"]),
        "pass_s": median([dur(p) for p in passes]),
        "query_geomean_s": median([geomean(by_pass[p["id"]]) for p in passes]),
        "cpu_s": median([p["cpu_s"] for p in passes]),
    }


def all_queries():
    return sorted({q for qs in WORKLOADS.values() for q in qs})


def per_layer(spans, nproc):
    passes = [s for s in spans if s["kind"] == "pass" and s["traced"]]
    untraced = [dur(s) for s in spans if s["kind"] == "pass" and not s["traced"]]
    queries = [s for s in spans if s["kind"] == "query"]
    phases = [s for s in spans if s["kind"] == "phase"]
    jobs = [s for s in spans if s["kind"] == "job"]
    batches = [s for s in spans if s["kind"] == "batch"]
    no_task = {s["parent"]: s["no_task_s"] for s in spans if s["kind"] == "sched"}
    end = next(s for s in spans if s["kind"] == "end")
    MB = 1 << 20

    def under(prefix, xs):
        return [x for x in xs if x["parent"] == prefix or x["parent"].startswith(prefix + "/")]

    rows = []
    for p in passes:
        pid, wall = p["id"], dur(p)
        pj, pq = under(pid, jobs), under(pid, queries)
        pb = [b for b in batches if b["parent"].startswith(pid + "/")]
        stages, tasks = sum(j["stages"] for j in pj), sum(j["tasks"] for j in pj)
        trigger_s = sum(b["trigger_ms"] for b in pb) / 1e3
        r = {
            "entry.build_s": sum(dur(x) for x in under(pid, phases) if x["name"] == "build"),
            "entry.build_jobs": sum(1 for j in pj if j["parent"].endswith("/build")),
            "sched.no_task_s": no_task.get(pid, 0.0),
            "sched.ms_per_job": 1e3 * no_task.get(pid, 0.0) / max(len(pj), 1),
            "sched.jobs": len(pj),
            "sched.stages": stages,
            "sched.tasks": tasks,
            "sched.tasks_per_stage": tasks / max(stages, 1),
            "sched.core_util": sum(j["run_s"] for j in pj) / (wall * nproc),
            "exec.s": sum(dur(x) for x in under(pid, phases) if x["name"] == "exec"),
            "exec.jobs": sum(1 for j in pj if j["parent"].endswith("/exec")),
            "sched.executor_run_s": sum(j["run_s"] for j in pj),
            "sched.executor_cpu_s": sum(j["cpu_s"] for j in pj),
            "sched.gc_s": sum(j["gc_s"] for j in pj),
            "shuffle.write_mb": sum(j["shuffle_write_bytes"] for j in pj) / MB,
            "shuffle.read_mb": sum(j["shuffle_read_bytes"] for j in pj) / MB,
            "shuffle.spill_mb": sum(j["spill_bytes"] for j in pj) / MB,
            "plan.s": sum(dur(x) for x in under(pid, phases) if x["name"] == "plan"),
            "stream.batches": len(pb),
            "stream.add_batch_s": sum(b["add_batch_ms"] for b in pb) / 1e3,
            "stream.commit_s": sum(b["commit_ms"] for b in pb) / 1e3,
            "stream.state_commit_s": sum(b["state_commit_ms"] for b in pb) / 1e3,
            "stream.drain_rows_per_s":
                sum(b["rows"] for b in pb) / trigger_s if trigger_s else 0.0,
            "sources.input_mb": sum(j["input_bytes"] for j in pj) / MB,
            "sources.input_rows": sum(j["input_rows"] for j in pj),
            "sources.written_mb": sum(j["output_bytes"] for j in pj) / MB,
            "life.persisted_rdds": p["persisted_rdds"],
            "life.active_streams": p["active_streams"],
            "life.scratch_files": p["scratch_files"],
            "life.scratch_mb": p["scratch_bytes"] / MB,
        }
        for q in all_queries():
            qs = [x for x in pq if x["name"] == q]
            r[f"q.{q}.s"] = sum(dur(x) for x in qs)
            r[f"q.{q}.jobs"] = sum(len(under(x["id"], pj)) for x in qs)
        rows.append(r)
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    trig = sorted(b["trigger_ms"] for b in batches)
    out["stream.batch_p50_ms"] = median(trig)
    out["stream.batch_max_ms"] = trig[-1] if trig else 0.0
    out["stream.state_rows_peak"] = max([b["state_rows"] for b in batches], default=0)
    out["jvm.cold_setup_s"] = next(dur(s) for s in spans if s["kind"] == "setup")
    out["jvm.rss_peak_mb"] = end["rss_peak_mb"]
    out["jvm.heap_peak_mb"] = end["heap_peak_mb"]
    out["trace.overhead_pct"] = 100.0 * (median([dur(p) for p in passes]) / median(untraced) - 1)
    return out


def units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


# ---- the run ----

def check(spans, out):
    """Every query execution must return the oracle's row count, and the
    full results of the verify pass must pass tools/check_oracle.py.
    Returns (attempted, failed)."""
    verify = os.path.join(out, "verify")
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        want_rows = oracle_rows(json.load(f))
    verdict = check_results(verify)
    attempted = failed = 0
    for s in (s for s in spans if s["kind"] == "query"):
        q = s["name"]
        attempted += 1
        why = s["error"] or (s["rows"] != want_rows[q] and f"{s['rows']} rows, want {want_rows[q]}")
        if not why and s["parent"] == "verify":
            why = verdict.get(q, "no verdict from tools/check_oracle.py")
        if why:
            failed += 1
            log(f"{s['id']}: {why}")
    return attempted, failed


def cpu_jiffies():
    """(all, steal) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit(f"no library sources under {ROOT}/src/main/scala: "
                         "run from the root of a full checkout")

    stamp, classpath = build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    jiffies0 = cpu_jiffies()
    code = java(classpath, run_dir, "perfbench.Harness",
                [f"dir={BASE_INPUT}", "queries=" + ",".join(WORKLOADS[a.workload]),
                 f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}",
                 f"setups={SETUPS}", f"out={out}"], JVM_TIMEOUT_S)
    jiffies1 = cpu_jiffies()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness failed ({code})")
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    attempted, failed = check(spans, out)

    run = next(s for s in spans if s["kind"] == "run")
    end = next(s for s in spans if s["kind"] == "end")
    provenance = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": run["nproc"], "load1_before": run["load1_before"],
        "load1_after": end["load1_after"],
        # CPU time the hypervisor gave to other guests during the run
        "steal_pct": 100.0 * (jiffies1[1] - jiffies0[1]) / max(jiffies1[0] - jiffies0[0], 1),
        "input": {"dir": os.path.relpath(BASE_INPUT, ROOT), "generator_seed": GENERATOR_SEED},
        "build": stamp,
    }
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{a.workload}-seed{a.seed}-trace{a.trace}.jsonl"), "w") as f:
        f.write(json.dumps({"kind": "provenance", **provenance}) + "\n")
        f.writelines(json.dumps(s) + "\n" for s in spans)
    shutil.rmtree(run_dir, ignore_errors=True)

    unit = units()
    values = per_layer(spans, run["nproc"]) if a.trace else end_to_end(spans)
    metrics = {k: {"value": v, "unit": unit[k]} for k, v in values.items()}
    print("provenance " + json.dumps(provenance))
    print(f"fail_ratio = {failed / attempted} ({failed} of {attempted} executions)")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
