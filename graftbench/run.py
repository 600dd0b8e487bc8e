#!/usr/bin/env python3
"""graft benchmark: TransE train+rank, and batch queries with stream replays.

One run:
    python3 graftbench/run.py --workload <transe|queries>
        --seed <n> --seconds <s> --trace <0|1>
run from the root of a source checkout. The last line of stdout is one JSON
object with the keys correct, attempted, failed and metrics: every
end-to-end metric with --trace 0, every per-layer metric with --trace 1.

Steadiness report (N untraced runs per workload on seeds 0..N-1, then one
traced run each, printing every metric's median and quartiles and the
tracing overhead):
    python3 graftbench/run.py --steadiness N [--workload w] [--seconds s]

Re-record the expected outputs of the default seed (0) into expected.json,
after a change that is meant to alter them:
    python3 graftbench/run.py --record [--seconds s]

Each run builds the checkout's main sources together with the benchmark
(skipped when the sources hash to the last build's stamp), then starts one
fresh JVM with its own tmp, local, warehouse and checkpoint directories
under .bench_build/, deletes them afterwards, and checks that no file of
the checkout outside .bench_build/ changed.
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

sys.dont_write_bytecode = True  # importing gen.py must not add files

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else None
EXPECTED_PATH = os.path.join(BENCH, "expected.json")
WORKLOADS = ["transe", "queries"]
DEFAULT_SEED = 0
HEAP = "3g"
# a fixed, pre-touched heap: no heap growth or first-touch page faults
# inside the timed window; no perf-data file outside the checkout
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 165
# Spark on JDK 17 outside spark-submit (see the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# the layers that run on each workload; the others read 0 there
LAYERS = {"transe": {"trainer", "eval", "jvm"},
          "queries": {"query", "exec", "stream", "jvm"}}


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        fail("SPARK_HOME must name a Spark installation with a jars/ directory")
    return jars


def tree_hash(paths):
    """sha256 over the relative paths and contents of every file under
    `paths` (directories or files), in sorted order."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for d, _, fs in os.walk(p):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def source_paths():
    return [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]


def build():
    """Compile the checkout's main sources with the benchmark's when they
    differ from the last build; return (sources hash, classes hash)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    spark_jars()
    src = tree_hash(source_paths())
    stamp_path = os.path.join(BUILD, "stamp.json")
    stamp = json.load(open(stamp_path)) if os.path.exists(stamp_path) else {}
    if stamp.get("sources") != src or not os.path.isdir(CLASSES):
        os.makedirs(BUILD, exist_ok=True)
        # sbt's own state and temporary files go under .bench_build too
        tmp = os.path.join(BUILD, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, JAVA_TOOL_OPTIONS=" ".join([
            os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]).strip())
        sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "compile"]
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.run(sbt, cwd=BENCH, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
        if rc != 0:
            fail(f"build failed (see {os.path.join(BUILD, 'build.log')})", 3)
        with open(stamp_path, "w") as fh:
            json.dump({"sources": src}, fh)
    return src, tree_hash([CLASSES])


def checkout_state():
    """(path, size, mtime) of every file of the checkout outside .bench_build."""
    state = []
    for d, dirs, fs in os.walk(ROOT):
        if d == ROOT:
            dirs[:] = [x for x in dirs if x != ".bench_build"]
        for f in fs:
            p = os.path.join(d, f)
            st = os.lstat(p)
            state.append((os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns))
    return sorted(state)


def run_jvm(workload, seed, seconds, trace):
    """One isolated JVM run; returns the parsed GRAFTBENCH record."""
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "local", "warehouse", "checkpoints", "data")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        if workload != "transe":
            gen.write(seed, dirs["data"])
        cmd = ["java"] + JVM_FLAGS
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [f"-Djava.io.tmpdir={dirs['tmp']}",
                f"-Dspark.local.dir={dirs['local']}",
                f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
                f"-Dspark.sql.streaming.checkpointLocation={dirs['checkpoints']}",
                "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
                "graftbench.BenchMain", "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", "1" if trace else "0",
                "--data", dirs["data"]]
        if trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            cmd += ["--spans", os.path.join(BUILD, "traces", f"{workload}-{seed}.jsonl")]
        env = {k: v for k, v in os.environ.items() if "GRAFT_" not in k}
        log_path = os.path.join(BUILD, "last-jvm.log")
        with open(log_path, "w") as log:
            try:
                out = subprocess.run(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                     stderr=log, stdin=subprocess.DEVNULL, text=True,
                                     timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"{workload} run exceeded {JVM_TIMEOUT_S} s (log: {log_path})", 4)
        lines = [x for x in out.stdout.splitlines() if x.startswith("GRAFTBENCH ")]
        if out.returncode != 0 or not lines:
            fail(f"{workload} JVM exited {out.returncode} without a result (log: {log_path})", 4)
        return json.loads(lines[-1][len("GRAFTBENCH "):])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def evaluate(workload, seed, rec, expected):
    """End-to-end metrics, per-layer metrics and the correctness verdict
    of one JVM record."""
    problems = []
    if workload == "transe":
        fit = rec["fit"]
        ops = rec["ops"]
        epochs = fit["epoch_secs"]
        loss = fit["loss"]
        n = min(len(loss), len(fit["warm_loss"]))
        if len(loss) != fit["epochs"] or n == 0 or fit["warm_loss"][:n] != loss[:n]:
            problems.append("loss curve is not reproducible within the run")
        exp = expected.get("transe_loss") if seed == DEFAULT_SEED else None
        if exp and any(abs(a - b) > 1e-6 * max(1.0, abs(b)) for a, b in zip(loss, exp)):
            problems.append("loss curve differs from the recorded curve")
        if rec["rank_check"]["mismatched"]:
            problems.append(f"{rec['rank_check']['mismatched']} ranks differ from a naive recount")
        failed = sum(1 for o in ops if not o["ok"])
        attempted = len(epochs) + len(ops)
        if problems:
            failed += len(epochs)
        rank_s = sum(o["secs"] for o in ops if o["ok"])
        e2e = {"op_s": statistics.median(epochs), "ops_per_s": len(epochs) / fit["secs"],
               "items_per_s": sum(o.get("ranks", 0) for o in ops) / rank_s if rank_s else 0.0}
    else:
        ref = {}  # the first (set-up) op of each query
        for o in rec["warm"]:
            ref.setdefault(o["name"], o)
        exp_hash = expected.get(workload, {}).get("hash", {}) if seed == DEFAULT_SEED else {}
        exp_batches = expected.get(workload, {}).get("batches", {})
        for name, o in ref.items():
            if not o["ok"]:
                problems.append(f"{name} failed in set-up: {o.get('error')}")
            elif name in exp_hash and o["hash"] != exp_hash[name]:
                problems.append(f"{name} output hash differs from the recorded hash")

        def wrong(o):
            return not o["ok"] or o.get("hash") != ref[o["name"]].get("hash") or \
                o.get("batches") != exp_batches.get(o["name"], o.get("batches"))
        for o in rec["warm"]:
            if wrong(o):
                problems.append(f"set-up op {o['op']} {o['name']} gave another answer")
        failed = 0
        for o in rec["ops"]:
            if wrong(o):
                failed += 1
                print(f"graftbench: op {o['op']} {o['name']} failed: "
                      f"{o.get('error') or 'wrong answer'}", file=sys.stderr)
        attempted = len(rec["ops"])
        per_pass = len(ref)
        secs = [o["secs"] for o in rec["ops"]]
        passes = [statistics.mean(secs[i:i + per_pass]) for i in range(0, len(secs), per_pass)]
        # the batch path and the stream path each get a rate of their own
        batch = [o for o in rec["ops"] if o["layer"] == "query"]
        replays = [o for o in rec["ops"] if o["layer"] == "stream"]
        e2e = {"op_s": statistics.median(passes),
               "ops_per_s": len(batch) / sum(o["secs"] for o in batch),
               "items_per_s": sum(o["batches"] for o in replays) /
               sum(o["secs"] for o in replays)}
    e2e["setup_s"] = rec["setup_s"]
    for p in problems:
        print(f"graftbench: {workload}: {p}", file=sys.stderr)
    return {"correct": not problems and failed == 0, "attempted": attempted,
            "failed": failed, "e2e": e2e, "layers": rec["layers"]}


def one_run(workload, seed, seconds, trace, expected):
    src_hash, cls_hash = build()
    print(f"graftbench: sources {src_hash[:16]} classes {cls_hash[:16]}", file=sys.stderr)
    before = checkout_state()
    rec = run_jvm(workload, seed, seconds, trace)
    res = evaluate(workload, seed, rec, expected)
    if checkout_state() != before:
        print("graftbench: the run changed files of the checkout", file=sys.stderr)
        res["correct"] = False
    return res


def layer_values(workload, layers):
    """Every per-layer metric of BENCHMARK.json: measured for the layers
    that run on `workload` (a missing one is an error), 0 for the rest."""
    out = {}
    for m in SPEC["per_layer"]:
        name = m["name"]
        out[name] = layers[name] if name.split(".")[0] in LAYERS[workload] else 0.0
    return out


def result_line(workload, res, trace):
    values = layer_values(workload, res["layers"]) if trace else res["e2e"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in SPEC["per_layer" if trace else "end_to_end"]}
    return json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": metrics})


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def steadiness(n, workloads, seconds, expected):
    for w in workloads:
        runs = []
        for seed in range(n):
            t = time.time()
            res = one_run(w, seed, seconds, False, expected)
            runs.append(res)
            print(f"{w} seed={seed} wall={time.time() - t:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in sorted(res["e2e"].items())),
                  flush=True)
        print(f"== {w}: {n} untraced runs (median [q1, q3], IQR/median)")
        medians = {}
        for m in SPEC["end_to_end"]:
            name, unit = m["name"], m["unit"]
            vals = [r["e2e"][name] for r in runs]
            q1, q2, q3 = quartiles(vals)
            medians[name] = q2
            print(f"  {name:12s} {q2:10.4g} {unit:4s} [{q1:.4g}, {q3:.4g}] "
                  f"{(q3 - q1) / q2 if q2 else float('nan'):.3f}")
        traced = one_run(w, DEFAULT_SEED, seconds, True, expected)
        print(f"== {w}: traced run (seed {DEFAULT_SEED}), overhead = traced - untraced median")
        for name in medians:
            d = traced["e2e"][name] - medians[name]
            print(f"  overhead {name:12s} {d:+.4g} ({d / medians[name] if medians[name] else 0:+.1%})")
        for name, v in layer_values(w, traced["layers"]).items():
            print(f"  {name:28s} {v:.6g}")
        sys.stdout.flush()


def record(seconds):
    expected = {}
    for w in WORKLOADS:
        rec = run_jvm(w, DEFAULT_SEED, seconds, False)
        if not evaluate(w, DEFAULT_SEED, rec, {})["correct"]:
            fail(f"cannot record: {w} is not reproducible within a run")
        if w == "transe":
            expected["transe_loss"] = rec["fit"]["loss"]
        else:
            expected[w] = {"hash": {o["name"]: o["hash"] for o in rec["warm"]},
                           "batches": {o["name"]: o["batches"] for o in rec["warm"]
                                       if o["batches"]}}
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float,
                    default=SPEC["run_seconds"] if SPEC else 20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", type=int, metavar="N")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if SPEC is None:
        fail("BENCHMARK.json not found next to the benchmark directory")
    expected = json.load(open(EXPECTED_PATH)) if os.path.exists(EXPECTED_PATH) else {}
    if a.record:
        build()
        record(a.seconds)
    elif a.steadiness:
        steadiness(a.steadiness, [a.workload] if a.workload else WORKLOADS,
                   a.seconds, expected)
    else:
        if not a.workload:
            ap.error("--workload is required")
        print(result_line(a.workload, one_run(a.workload, a.seed, a.seconds,
                                              a.trace == 1, expected), a.trace == 1))


if __name__ == "__main__":
    main()
