"""graft benchmark: one workload, one fresh JVM, checked outputs, one JSON line.

    python3 perfbench/run.py --workload core25|payroll_etl --seed N
                             --seconds S --trace 0|1

Builds the engine once per source tree (build.py), makes the workload's inputs,
starts the measured JVM on local[nproc], checks every
output, and prints as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s, cold_s, warm_s,
peak_rss_mb); with --trace 1 the listeners and the stack sampler are attached
and the metrics are the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402

WORKLOADS = ("core25", "payroll_etl")
DEADLINE_S = 175          # a run must end within 180 s

# build.sbt's javaOptions (tests/test_checks.py keeps the two in step), except
# the heap: build.sbt's default -Xmx8g lets G1 grow the heap by timing-dependent
# amounts, which moved peak RSS by ±20% between identical runs; a fixed 1 GB
# heap keeps peak RSS comparable, and at either size neither workload spills
# (README, "A fixed 1 GB heap").
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JAVA_OPTIONS = ([f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
                + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"])
FIXED_HEAP = ["-Xms1g", "-Xmx1g"]

# per-pass metrics of the traced run, reported for the cold pass and as the
# median of the warm passes
PASS_METRICS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "ops.analysis_s": "s", "ops.optimization_s": "s", "ops.planning_s": "s",
    "ops.jobs": "count", "ops.stages": "count", "ops.no_job_s": "s",
    "ops.tasks": "count", "ops.task_s": "s", "ops.cpu_s": "s",
    "ops.shuffle_write_mb": "MB", "ops.shuffle_read_mb": "MB", "ops.spill_mb": "MB",
    "ops.exchanges": "count", "ops.task_gc_s": "s", "ops.core_idle_s": "s",
    "ops.result_mb": "MB",
    "io.list_s": "s", "io.pick_s": "s", "io.read_s": "s", "io.csv_sink_s": "s",
    "io.xlsx_sink_s": "s", "io.out_mb": "MB",
    "pipelines.pua_s": "s", "pipelines.cpa_s": "s", "pipelines.cache_left_mb": "MB",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.codegen_s": "s", "jvm.heap_peak_mb": "MB",
}
RUN_METRICS = {"session.jvm_s": "s", "session.spark_s": "s",
               "trace.cold_s": "s", "trace.warm_s": "s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tables_dir():
    """The core25 tables (sf0.01, data seed 42), generated once per checkout."""
    import core25_ref
    import tables
    with open(core25_ref.EXPECTED) as f:
        want = json.load(f)["tables"]
    out = os.path.join(build.BUILD_ROOT, f"tables-sf{want['sf']}-seed{want['seed']}")
    if not os.path.isfile(os.path.join(out, ".complete")):
        shutil.rmtree(out, ignore_errors=True)
        got = tables.generate(out, sf=want["sf"], seed=want["seed"])
        if got != want["fingerprint"]:
            raise RuntimeError(f"generated tables {got} differ from the ones the expected "
                               f"results were computed on ({want['fingerprint']}); "
                               "rerun perfbench/core25_ref.py --write")
        open(os.path.join(out, ".complete"), "w").close()
    return out


def heap_flags(heap=None):
    """The fixed 1 GB heap, or -Xmx<heap> alone as build.sbt passes it."""
    return [f"-Xmx{heap}"] if heap else FIXED_HEAP


def jvm(classes, work, args, deadline, heap=None):
    """Runs the harness in a fresh JVM; returns (launch epoch ms, its JSON result)."""
    out = os.path.join(work, "result.json")
    cmd = (["java", *JAVA_OPTIONS, *heap_flags(heap),
            f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", os.pathsep.join([classes, build.classpath()]), "perfbench.Harness",
            *args, "--work", work, "--out", out])
    launch_ms = time.time() * 1000.0
    with open(os.path.join(work, "jvm.log"), "a") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("the harness JVM ran past the run's deadline")
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the harness JVM exited with {proc.returncode}:\n{tail}")
    with open(out) as f:
        return launch_ms, json.load(f)


def check_core25(work):
    """Compares every query's first-pass result with the pandas reference."""
    import core25_ref
    with open(core25_ref.EXPECTED) as f:
        expected = json.load(f)["queries"]
    errors = []
    results = os.path.join(work, "results")
    for name, want in sorted(expected.items()):
        path = os.path.join(results, f"{name}.json")
        if not os.path.isfile(path):
            errors.append(f"{name}: no result")
            continue
        with open(path) as f:
            got = json.load(f)
        summary = core25_ref.summarize(got["columns"], [tuple(r) for r in got["rows"]])
        for key in ("columns", "rows", "digest"):
            if summary[key] != want[key]:
                errors.append(f"{name}: {key} {summary[key]} != expected {want[key]}")
    return errors


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for size and heap studies only (README); BENCHMARK.json uses the defaults
    ap.add_argument("--heap", default=None,
                    help="-Xmx as build.sbt sets it (e.g. 8g) instead of the fixed 1 GB heap")
    ap.add_argument("--pua-rows", type=int, default=None, help="payroll_etl PUA base rows")
    ap.add_argument("--cert-rows", type=int, default=None,
                    help="payroll_etl certification rows per file")
    a = ap.parse_args()

    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(build.BUILD_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "core25":
            data, truth = tables_dir(), None
        else:
            import payroll
            data = os.path.join(work, "storage")
            truth = payroll.generate(data, a.seed, n_pua=a.pua_rows or payroll.N_PUA,
                                     n_cert=a.cert_rows or payroll.N_CERT)
        launch, res = jvm(classes, work, ["--workload", a.workload, "--seed", str(a.seed),
                                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                                          "--data", data], deadline, heap=a.heap)
        setup_s = (res["ready_ms"] - launch) / 1e3

        if a.workload == "core25":
            errors = check_core25(work)
        else:
            import payroll
            errors = payroll.check(os.path.join(work, "out"), truth)
        errors += [f"{n}: output changed between passes" for n in res["unstable"]]
        errors += res["failures"]
        for e in errors[:20]:
            log(f"CHECK FAILED {e}")

        cold = res["passes"][0]
        warm = res["passes"][1:]
        if a.trace:
            metrics = {}
            for m, unit in PASS_METRICS.items():
                metrics[f"cold.{m}"] = {"value": cold["metrics"].get(m, 0.0), "unit": unit}
                metrics[f"warm.{m}"] = {"value": median([p["metrics"].get(m, 0.0) for p in warm]),
                                        "unit": unit}
            values = {"session.jvm_s": (res["main_ms"] - launch) / 1e3,
                      "session.spark_s": (res["ready_ms"] - res["main_ms"]) / 1e3,
                      "trace.cold_s": cold["wall_s"],
                      "trace.warm_s": median([p["wall_s"] for p in warm])}
            metrics.update({m: {"value": values[m], "unit": u} for m, u in RUN_METRICS.items()})
            trace_out = os.path.join(build.BUILD_ROOT, "traces")
            os.makedirs(trace_out, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(trace_out, f"{a.workload}-seed{a.seed}.json"))
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cold_s": {"value": cold["wall_s"], "unit": "s"},
                "warm_s": {"value": median([p["wall_s"] for p in warm]), "unit": "s"},
                "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
            }
        log(f"{a.workload}: {len(res['passes'])} passes, pass times "
            + " ".join(f"{p['wall_s']:.2f}" for p in res["passes"])
            + f", setup {setup_s:.2f}")
        print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0
    except Exception as e:   # no result line: the run failed
        log(f"run failed: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
