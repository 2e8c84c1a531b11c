#!/usr/bin/env python3
"""graft's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json): serve-ingest, catalog-slice. The first run in a checkout builds the engine and the
benchmark JVM with sbt (offline) and generates the base tables under
perfbench/.work; later runs reuse both.

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics, and the span file, the self
time per layer and the tracing overhead (against the untraced run of
the same workload and seed, when one ran before in this checkout) are
written to perfbench/out/.
"""
import argparse
import fcntl
import glob
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
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import bench  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


# the child process (sbt or the benchmark JVM) to stop if this one is stopped
CHILD = []


def _stop(signum, _frame):
    for p in CHILD:
        p.kill()
        p.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run cmd, killing it on timeout or when this process is stopped;
    returns its exit code (None on timeout)."""
    p = subprocess.Popen(cmd, **kw)
    CHILD.append(p)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None
    finally:
        CHILD.remove(p)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Digest of every build input, so a changed source triggers a rebuild."""
    h = hashlib.sha256()
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(dirpath, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark JVM unless nothing changed since the
    last build; return the runtime classpath and whether it built."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    log("building the engine and the benchmark JVM (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + f" -Dsbt.offline=true -Djava.io.tmpdir={tmp} -Xmx2g")
    build_log = os.path.join(WORK, "build.log")
    with open(build_log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       840, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(build_log) as f:
        text = f.read()
    lines = text.strip().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(text[-4000:])
        fail(f"build failed (sbt exit {rc})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), True


def catalog_keys():
    with open(os.path.join(HERE, "catalog_slice.json")) as f:
        return json.load(f)["keys"]


def run_jvm(cp, workload, run_dir, inputs_path, out_path, seconds, trace, spans_path, deadline):
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs_path,
              "--out", out_path, "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--run-dir", run_dir, "--data", os.path.join(WORK, "data", "sf0.1"),
              "--spans", spans_path])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        rc = run_child(cmd, deadline - time.time(), cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
    with open(out_path) as f:
        return json.load(f)


def main():
    start = time.time()
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, _stop)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["serve-ingest", "catalog-slice"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources next to the benchmark: run from a full checkout of the repository")
    spec = bench.spec()

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, built = build()
        gen.write_tables(os.path.join(WORK, "data", "sf0.1"), 0.1)
        small = gen.write_tables(os.path.join(WORK, "data", "sf0.01"), 0.01)
    # a run that had to build may take longer as a whole; its measuring
    # part keeps the same limit
    deadline = (time.time() if built else start) + RUN_LIMIT_S

    inputs = gen.workload_inputs(a.workload, a.seed, a.seconds,
                                 catalog_keys() if a.workload == "catalog-slice" else None)
    inputs["small_data"] = small
    tag = f"{a.workload}-seed{a.seed}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.workload == "serve-ingest":
            gen.write_slices(os.path.join(WORK, "data", "sf0.1", "events.parquet"), inputs["ingest"]["slices"],
                             os.path.join(run_dir, "pending"))
        inputs_path = os.path.join(run_dir, "inputs.json")
        with open(inputs_path, "w") as f:
            json.dump(inputs, f)
        os.makedirs(OUT, exist_ok=True)
        spans_path = os.path.join(OUT, f"{tag}-spans.json")
        raw = run_jvm(cp, a.workload, run_dir, inputs_path, os.path.join(run_dir, "result.json"),
                      a.seconds, a.trace == 1, spans_path, deadline)
        attempted, failed = raw["attempted"], raw["failed"]
        failures = list(raw["failures"])
        if a.workload == "catalog-slice":
            fails = oracle_check(small, raw["extra"]["warmup_dir"], inputs["keys"], run_dir, deadline)
            attempted += len(inputs["keys"])
            failed += len(fails)
            failures += fails
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for msg in failures:
        log(f"check failed: {msg}")
    e2e = bench.end_to_end(raw)
    if a.trace == 0:
        metrics, values = spec["end_to_end"], e2e
        with open(os.path.join(OUT, f"{tag}-e2e.json"), "w") as f:
            json.dump({k: v[0] for k, v in e2e.items() if v[0] is not None}, f)
    else:
        metrics = spec["per_layer"]
        values = bench.per_layer(raw, [m["name"] for m in metrics])
        write_trace_report(a.workload, tag, e2e, spans_path)
    line = result_line(metrics, values, attempted, failed)
    log("samples: " + ", ".join(f"{m['name']}={values[m['name']][1]}" for m in metrics))
    kinds = {}
    for o in raw["ops"]:
        kinds[o["kind"]] = min(kinds.get(o["kind"], o["cpu_ms"]), o["cpu_ms"])
    log("cheapest CPU per operation kind (ms): " + ", ".join(f"{k}={v:.0f}" for k, v in sorted(kinds.items())))
    log("wall time (not bounded): " + ", ".join(
        f"{k}={e2e[k][0]:.3f}" for k in ("pass_s", "geomean_ms", "ingest_lag_ms", "setup_wall_s") if e2e[k][0] is not None))
    print(line)


def oracle_check(data_dir, out_dir, keys, run_dir, deadline):
    """Check the catalog warm-up outputs under out_dir against their
    DuckDB oracles with the repository's tools/check.py (its exact-repr
    rule; a key without an oracle must be non-empty). Returns the
    failure lines."""
    log_path = os.path.join(run_dir, "check.log")
    with open(log_path, "w") as out:
        rc = run_child([sys.executable, os.path.join(ROOT, "tools", "check.py"), data_dir, out_dir, ",".join(keys)],
                       deadline - time.time(), stdout=out, stderr=subprocess.STDOUT)
    with open(log_path) as f:
        text = f.read()
    fails = [line for line in text.splitlines() if line.startswith("FAIL")]
    if rc != 0 and not fails:
        fails = [f"tools/check.py {'timed out' if rc is None else f'exited {rc}'}: {text[-1000:]}"]
    return fails


def result_line(metrics, values, attempted, failed):
    """The one JSON line a run prints last: every metric of `metrics`
    (BENCHMARK.json entries) with its value and unit."""
    missing = [m["name"] for m in metrics if values.get(m["name"], (None,))[0] is None]
    if missing:
        fail(f"too few samples for {missing}: {[values.get(n) for n in missing]}")
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]][0], "unit": m["unit"]} for m in metrics},
    })


def write_trace_report(workload, tag, traced_e2e, spans_path):
    """Self time per layer from the spans, and the tracing overhead: the
    traced run's end-to-end numbers against the untraced run of the same
    seed, or else the median of the untraced runs of the workload that
    ran before in this checkout."""
    with open(spans_path) as f:
        spans = json.load(f)
    same = os.path.join(OUT, f"{tag}-e2e.json")
    base = [same] if os.path.exists(same) else sorted(glob.glob(os.path.join(OUT, f"{workload}-seed*-e2e.json")))
    untraced = []
    for path in base:
        with open(path) as f:
            untraced.append(json.load(f))
    overhead = None
    if untraced:
        overhead = {k: traced_e2e[k][0] / bench.median([u[k] for u in untraced]) - 1.0
                    for k in traced_e2e if traced_e2e[k][0] is not None and all(k in u for u in untraced)}
    total = sum(v for k, v in spans["self_ms"].items() if k != "request") or 1.0
    report = {
        "self_ms": spans["self_ms"],
        "self_share": {k: v / total for k, v in spans["self_ms"].items() if k != "request"},
        "traced_end_to_end": {k: v[0] for k, v in traced_e2e.items() if v[0] is not None},
        "untraced_runs": len(untraced),
        "tracing_overhead": overhead,
    }
    with open(os.path.join(OUT, f"{tag}-trace.json"), "w") as f:
        json.dump(report, f, indent=1)
    log("self time per layer (ms): " + ", ".join(
        f"{k}={v:.0f}" for k, v in sorted(spans["self_ms"].items(), key=lambda kv: -kv[1])))
    log("tracing overhead: " + (json.dumps(overhead) if overhead else "no untraced run of this workload yet"))


if __name__ == "__main__":
    main()
