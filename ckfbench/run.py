"""Closed-loop benchmark of the cuckoo-filter library's public operators.

Run from the repository root:

    python3 ckfbench/run.py --workload global_sharded --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics; `--trace 1` turns on Spark's event log, reports the
per-layer metrics, and writes the detail to a side file under
`.ckfbench/results/`. See ckfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".ckfbench")
RESULTS = os.path.join(WORK, "results")
SETUP_REPS = 3

# per-layer wall of each public call, by role (the side file names the
# function behind each role on each workload)
OPERATOR_WALLS = {
    "operators.build_s": "build",
    "operators.delete_s": "delete",
    "operators.count_s": "count",
    "operators.probe_s": "probe",
    "operators.approx_count_s": "approx_count",
    "sources.sketch_store.load_s": "load",
}


def _fresh_dir(name: str) -> str:
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _prepare_env() -> dict:
    """Point every scratch location into the checkout before Spark starts,
    and clear probe stacks a previous run left behind (a leftover stack
    would start this run warm). Returns what was found."""
    tmp = _fresh_dir("tmp")
    stack_dir = os.path.join(WORK, "stacks")
    os.makedirs(stack_dir, exist_ok=True)
    stale = glob.glob(os.path.join(stack_dir, "ckf_stack_*")) + glob.glob(os.path.join(stack_dir, ".ckf_stack_*"))
    for p in stale:
        os.remove(p)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": _fresh_dir("spark-local"),
            "CKF_STACK_SHM_DIR": stack_dir,
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # no more threads than cores: each worker's numpy stays single-threaded
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
        }
    )
    tempfile.tempdir = tmp
    return {"stale_stack_files_cleared": len(stale)}


def _session(cores: int, trace: bool):
    from pyspark.sql import SparkSession

    confs = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "ckfbench",
        "spark.driver.memory": "2g",
        # the whole heap is committed and touched at start, so the JVM's
        # share of peak_rss_mb does not swing with when GC happens to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
        ),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + _fresh_dir("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    b = SparkSession.builder
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, confs


def _stop_spark(spark) -> None:
    """Stop Spark, then end the JVM and wait for it; the Python workers are
    its children and exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _median_rate(calls: list, role: str) -> float:
    return statistics.median(c["keys"] / c["wall_s"] for c in calls if c["role"] == role)


def _end_to_end(wl, calls: list, setup_s: list, peak_kb: int) -> dict:
    m = {
        "setup_s": (statistics.median(setup_s), "s"),
        "build_keys_per_s": (_median_rate(calls, "build"), "1/s"),
        "delete_keys_per_s": (_median_rate(calls, "delete"), "1/s"),
        "probe_keys_per_s": (_median_rate(calls, "probe"), "1/s"),
        "count_keys_per_s": (_median_rate(calls, wl.count_role), "1/s"),
        "approx_count_keys_per_s": (_median_rate(calls, "approx_count"), "1/s"),
        "sketch_bytes_per_key": (statistics.median(wl.results["build_bytes"]), "B/key"),
        "observed_fpp": (statistics.median(wl.results["fpp"]), "ratio"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def _operator_walls(calls: list, count_role: str) -> dict:
    out = {}
    for name, role in OPERATOR_WALLS.items():
        src = count_role if role == "count" else role
        out[name] = statistics.median(c["wall_s"] for c in calls if c["role"] == src)
    return out


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_per_key"):
        return "B/key" if "bytes" in name else "kicks/key"
    if name.endswith("bytes"):
        return "B"
    if name.endswith(("stages", "tasks", "failed_inserts")):
        return "count"
    return "ratio"


def _trace_overhead(workload: str, tag: str, traced: dict):
    """Traced over untraced, minus one, for each end-to-end metric. The
    untraced run is the same workload's: same seed if there is one, else
    the newest of any seed."""
    same = os.path.join(RESULTS, f"{tag}-untraced.json")
    paths = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(RESULTS, f"{workload}-seed*-untraced.json")), key=os.path.getmtime
    )[-1:]
    if not paths:
        return None
    with open(paths[0]) as f:
        untraced = json.load(f)["metrics"]
    return {
        "untraced_file": os.path.relpath(paths[0], ROOT),
        "relative": {k: traced[k]["value"] / v["value"] - 1.0 for k, v in untraced.items() if k in traced},
    }


def _write_side_file(name: str, payload: dict) -> str:
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, name)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True, default=str)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cuckoofilter4j_spark", "__init__.py")):
        print(f"ckfbench: no cuckoofilter4j_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from ckfbench.kernel import kernel_metrics
    from ckfbench.tracing import RssSampler, read_event_log, spark_layer_metrics
    from ckfbench.workloads import FILTER_SEED, FPP, SIZING, WORKLOADS, Calls, Failures

    if args.workload not in WORKLOADS:
        print(f"ckfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": cores}
    info.update(_prepare_env())
    info["versions"] = _versions()

    t0 = time.perf_counter()
    spark, info["confs"] = _session(cores, bool(args.trace))
    info["session_s"] = time.perf_counter() - t0
    calls, failures = Calls(), Failures()
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, WORK, calls, failures)
        t0 = time.perf_counter()
        warm = wl.warm_variant(Calls())
        warm.setup()
        info["warm_setup_s"] = time.perf_counter() - t0
        warm.iteration()
        warm.release()
        info["warm_up_s"] = time.perf_counter() - t0
        info["warm_calls_s"] = {c["fn"]: c["wall_s"] for c in warm.calls.records}
        setup_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_s.append(time.perf_counter() - t0)
        info["setup_s"] = setup_s
        info["counts"] = wl.counts

        iterations = 0
        loop_start = time.time()
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while iterations == 0 or time.perf_counter() - t0 < args.seconds:
                try:
                    wl.iteration()
                except Exception:  # noqa: BLE001 — a failed call is a failed operation
                    traceback.print_exc()
                    failures.attempted += 1
                    failures.failed += 1
                iterations += 1
            info["measured_s"] = time.perf_counter() - t0
        info["peak_rss_mb_by_part"] = {k: v / 1024.0 for k, v in rss.part_peaks_kb.items()}
        info["iterations"] = iterations
        info["check_failures"] = failures.messages
        kernel_in = wl.kernel_inputs() if args.trace else None
    finally:
        _stop_spark(spark)

    records = calls.records
    e2e = _end_to_end(wl, records, setup_s, rss.peak_kb)
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        log_files = [p for p in glob.glob(os.path.join(WORK, "eventlog", "*")) if not os.path.basename(p).startswith(".")]
        spark_m, detail = spark_layer_metrics(
            records, read_event_log(log_files[0]), cores, wl.count_role, (loop_start, iterations)
        )
        members, absent, max_keys = kernel_in
        layer = _operator_walls(records, wl.count_role)
        layer.update(spark_m)
        layer.update(kernel_metrics(members, absent, max_keys, FPP, SIZING, FILTER_SEED))
        metrics = {k: {"value": float(v), "unit": _unit(k)} for k, v in layer.items()}
        functions = {}
        for c in records:
            functions.setdefault(c["fn"], []).append(c["wall_s"])
        side = _write_side_file(
            f"{tag}-trace.json",
            {
                "info": info,
                "metrics": metrics,
                "function_walls_s": {fn: statistics.median(w) for fn, w in functions.items()},
                "end_to_end_traced": e2e,
                "trace_overhead": _trace_overhead(args.workload, tag, e2e),
                "calls": detail,
            },
        )
        info["side_file"] = os.path.relpath(side, ROOT)
    else:
        metrics = e2e
        _write_side_file(f"{tag}-untraced.json", {"info": info, "metrics": metrics, "calls": records})
    result = {
        "correct": failures.failed == 0,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": metrics,
    }
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
