"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run builds the engine and the harness
(perfbench/build.py), generates the workload's inputs from the seed, starts a
fresh JVM on local[N] (N = CPUs available), runs one cold pass and then warm
passes for --seconds (at least three, five for payroll), checks every
output, and prints one JSON line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Each result is also appended, stamped
with its code key, to
<build>/perfbench/results.jsonl (see perfbench/report.py).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_payroll  # noqa: E402
import gen_tables  # noqa: E402

# Workload sizes, set by the time a full evaluation may take (see
# perfbench/README.md). The registry runs at sf0.001: at sf0.1 the corpus
# queries alone take minutes per pass on 4 cores. corpus_queries runs every
# corpus_stride-th q_ext query in name order. A fixed number of warm passes
# keeps medians comparable across host speeds; payroll takes five because
# its passes, mostly driver-side planning and xlsx work, keep speeding up
# for four or five passes while the JIT warms.
SCALES = {
    "full": {"sf": 0.001, "corpus_stride": 8, "limit": 100000,
             "n_pua": 6000, "n_cert": 4000, "min_warm": 3, "min_warm_payroll": 5},
    # self-test: a handful of queries, a small payroll root, one warm pass
    "tiny": {"sf": 0.001, "corpus_stride": 1, "limit": 3,
             "n_pua": 500, "n_cert": 300, "min_warm": 1, "min_warm_payroll": 1},
}
WORKLOADS = ("payroll_runner", "reference_queries", "corpus_queries")
SETUP_REPS = 3
XMX = "2g"
RUN_TIMEOUT_S = 170
REGISTRY_DATA_SEED = 42


def metric_specs(root):
    """(end-to-end, per-layer) metric (name, unit) lists from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def git_blob(path):
    with open(path, "rb") as f:
        data = f.read()
    return hashlib.sha1(b"blob %d\0" % len(data) + data).hexdigest()


def git_tree(path):
    """The git tree hash of a directory, computed from its files."""
    entries = []
    for name in os.listdir(path):
        if name == "__pycache__":  # ignored by git, written by every run
            continue
        p = os.path.join(path, name)
        if os.path.isdir(p):
            entries.append((name + "/", b"40000 " + name.encode() + b"\0" +
                            bytes.fromhex(git_tree(p))))
        else:
            mode = b"100755" if os.access(p, os.X_OK) else b"100644"
            entries.append((name, mode + b" " + name.encode() + b"\0" +
                            bytes.fromhex(git_blob(p))))
    body = b"".join(e for _, e in sorted(entries))
    return hashlib.sha1(b"tree %d\0" % len(body) + body).hexdigest()


def code_key(root):
    """git tree of src + blob of build.sbt: the key results are compared on."""
    return git_tree(os.path.join(root, "src")) + "+" + git_blob(os.path.join(root, "build.sbt"))


def stamp(record):
    """Results are compared only between runs with the same stamp: the same
    engine code, benchmark code, workload, scale, cpus and -Xmx."""
    return (record["key"], record["bench"], record["workload"], record["scale"],
            record["cpus"], record["xmx"])


def load_results(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def trace_overhead(records, traced):
    """(overhead, traced warm_s, untraced warm_s, n traced, n untraced): the
    median warm_s of the traced runs with `traced`'s stamp minus that of the
    untraced ones; None without an untraced run."""
    same = [r for r in records if stamp(r) == stamp(traced)]
    t = [r["metrics"]["warm_s"] for r in same if r["trace"] == 1]
    u = [r["metrics"]["warm_s"] for r in same if r["trace"] == 0]
    if not t or not u:
        return None
    tm, um = statistics.median(t), statistics.median(u)
    return tm - um, tm, um, len(t), len(u)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def generate(workload, seed, scale, work):
    """Generate the inputs SETUP_REPS times; keep the first copy."""
    times, info = [], None
    for rep in range(SETUP_REPS):
        d = os.path.join(work, f"input{rep}")
        t0 = time.perf_counter()
        if workload == "payroll_runner":
            got = gen_payroll.generate(d, seed, scale["n_pua"], scale["n_cert"])
        else:
            got = gen_tables.generate(d, scale["sf"], REGISTRY_DATA_SEED)
        times.append(time.perf_counter() - t0)
        if rep == 0:
            info = got
        else:
            shutil.rmtree(d)
    return os.path.join(work, "input0"), info, statistics.median(times)


def oracle_check(root, data, verify_dir, ops):
    """Compare every written output with DuckDB through scripts/check.py;
    queries without oracle SQL must return rows."""
    r = subprocess.run([sys.executable, os.path.join(root, "scripts", "check.py"),
                        data, verify_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    seen, failures = set(), {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|SKIP) (\S+?):? (.*)", line)
        if not m:
            continue
        verdict, name, rest = m.groups()
        seen.add(name)
        if verdict == "FAIL":
            failures[name] = rest[:300]
        elif verdict == "SKIP":
            rows = re.search(r"rows-only: (\d+)", rest)
            if not rows or int(rows.group(1)) == 0:
                failures[name] = "no oracle SQL and no rows"
    for op in ops:
        if op not in seen and op not in failures:
            failures[op] = "not compared"
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    a = ap.parse_args()
    scale = SCALES[a.scale]

    root = os.getcwd()
    for need in ("BENCHMARK.json", "src/main/scala", "build.sbt", "scripts/check.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout: {need} is missing")
    build_dir = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                             "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    build.build(build_dir)

    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(build_dir, "runs", run_id)
    os.makedirs(work)
    try:
        data, info, generate_s = generate(a.workload, a.seed, scale, work)
        n = cpus()
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(n), "--work", work, "--data", data,
                "--run-id", run_id, "--min-warm",
                str(scale["min_warm_payroll" if a.workload == "payroll_runner" else "min_warm"])]
        if a.workload == "payroll_runner":
            with open(os.path.join(work, "expected.json"), "w") as f:
                json.dump(info, f)
            args += ["--expect", os.path.join(work, "expected.json"),
                     "--run-date", info["run_date"]]
        else:
            args += ["--input-rows", str(sum(info.values())), "--limit", str(scale["limit"]),
                     "--stride", str(scale["corpus_stride"] if a.workload == "corpus_queries" else 1)]
        cmd = (["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", build.classpath(build_dir), "graftbench.Main"])
        with open(os.path.join(build_dir, "last_run.log"), "w") as log:
            launch_ms = int(time.time() * 1000)
            proc = subprocess.Popen(cmd + args + ["--launch-ms", str(launch_ms)],
                                    stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log.name}")
        jvm_s = time.time() - launch_ms / 1000.0
        if rc != 0:
            fail(f"JVM exited {rc}; see {os.path.join(build_dir, 'last_run.log')}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        failures = dict(res["failures"])
        t_oracle = time.perf_counter()
        if a.workload != "payroll_runner":
            for k, v in oracle_check(root, data, os.path.join(work, "verify"),
                                     res["ops"]).items():
                failures.setdefault(k, v)
        # every execution of an operation whose output is wrong failed
        failed = len(failures) * res["passes"] if failures else 0
        attempted = res["attempted"]
        metrics = dict(res["metrics"])
        metrics["jvm_s"] = jvm_s
        metrics["oracle_s"] = time.perf_counter() - t_oracle
        metrics["setup.generate_s"] = generate_s
        metrics["setup.session_s"] = metrics["session_s"]
        metrics["setup_s"] = generate_s + metrics["session_s"]
        metrics["failed_ops"] = failed / attempted
        if a.trace == 1:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{run_id}.jsonl"))

        record = {
            "key": code_key(root), "bench": git_tree(HERE), "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "sf": scale["sf"] if a.workload != "payroll_runner" else None,
            "payroll_rows": info["input_rows"] if a.workload == "payroll_runner" else None,
            "scale": a.scale, "cpus": n, "xmx": XMX, "seconds": a.seconds,
            "run_id": run_id, "ts": time.time(), "passes": res["passes"],
            "pass_walls": res["pass_walls"], "op_walls": res["op_walls"],
            "attempted": attempted, "failed": failed, "failures": failures,
            "metrics": metrics,
        }
        results = os.path.join(build_dir, "results.jsonl")
        with open(results, "a") as f:
            f.write(json.dumps(record) + "\n")
        for k, v in sorted(failures.items()):
            sys.stderr.write(f"perfbench: FAILED {k}: {v}\n")
        if a.trace == 1:
            over = trace_overhead(load_results(results), record)
            sys.stderr.write("perfbench: trace overhead " + (
                "unknown: no untraced run with this stamp yet\n" if over is None else
                f"{over[0]:+.3f} s (traced warm_s {over[1]:.3f} - untraced {over[2]:.3f}, "
                f"medians of {over[3]} and {over[4]} runs)\n"))

        names = metric_specs(root)[a.trace]
        out = {"correct": not failures, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": metrics[k], "unit": u} for k, u in names}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
