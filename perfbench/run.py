"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest_dumps|query_mix> --seed N \
        --seconds S --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed (cached under ``.perfbench/inputs``, outside the run's temp dirs and
outside ``setup_s``), then starts one measured process (``worker.py``) on
``local[<nproc>]`` with its own ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and index
directories, and deletes them when it ends. Prints one line per metric
(name, value, unit, sample count) and, last, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
STATE = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 165
KEEP_INPUT_SETS = 4

# Input sizes. ingest_dumps: releases per dump set (artists, labels and
# masters follow the 15:8:2:2 ratio). query_mix: fixture scale factor.
N_RELEASES = 12_000
QUERY_SF = 0.01



def _inputs(workload: str, seed: int) -> str:
    """The seed's input set, generated once and reused by later runs."""
    import dumpgen
    import fixturegen

    base = os.path.join(STATE, "inputs")
    path = os.path.join(base, f"{workload}-seed{seed}")
    if not os.path.exists(os.path.join(path, "manifest.json")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        if workload == "ingest_dumps":
            manifest = dumpgen.generate(tmp, seed, N_RELEASES)
        else:
            manifest = {"rows": fixturegen.generate(tmp, seed, QUERY_SF)}
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    os.utime(path)
    sets = sorted((os.path.join(base, d) for d in os.listdir(base)), key=os.path.getmtime)
    for old in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def _session_alive(sid: int) -> bool:
    """Whether any process of session ``sid`` is still running."""
    for pid in os.listdir("/proc"):
        fields = tracing.proc_stat(pid) if pid.isdigit() else None
        if fields is not None and int(fields[3]) == sid and fields[0] != "Z":
            return True
    return False


def _bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n))
               for r, _, names in os.walk(path) for n in names)


def _run_worker(args, inputs: str, run_dir: str) -> dict:
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "sig", "cdc", "emb", "out")}
    for d in dirs.values():
        os.makedirs(d)
    cpus = str(os.cpu_count())
    env = dict(
        os.environ,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_SIG_INDEX_DIR=dirs["sig"],
        SPARK_GRAFT_CDC_INDEX_DIR=dirs["cdc"],
        SPARK_GRAFT_EMB_INDEX_DIR=dirs["emb"],
        SPARK_GRAFT_CPUS=cpus,
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        # every JVM (the spark-submit launcher too) keeps its temp files in
        # the run's directory and writes no /tmp/hsperfdata_* file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        PERFBENCH_T0=repr(time.time()),
    )
    env.pop("OMP_NUM_THREADS", None)
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--inputs", inputs, "--run-dir", run_dir, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
        # the JVM finishes its shutdown hooks after the worker exits
        deadline = time.monotonic() + 20
        while _session_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
    finally:
        # the JVM and its Python workers share the worker's session
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        while _session_alive(proc.pid):
            time.sleep(0.1)
    if proc.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"worker failed with exit code {proc.returncode}")
    with open(out) as f:
        result = json.load(f)
    # what the run left in its temp dirs when the measured process exited
    result["scratch_mb"] = sum(_bytes(dirs[k]) for k in
                               ("tmp", "local", "sig", "cdc", "emb", "out")) / (1 << 20)
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest_dumps", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "discogs_load_spark")):
        raise SystemExit("discogs_load_spark/ not found: run from a checkout of the repo")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    inputs = _inputs(args.workload, args.seed)
    run_dir = os.path.join(STATE, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        r = _run_worker(args, inputs, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = r["passes"]
    pass_cpu = statistics.median(c for _, c in passes)
    if args.trace:
        # a layer the workload does not run reports 0
        declared = spec["per_layer"]
        measured = {m["name"]: (r["layers"].get(m["name"], 0), 1) for m in declared}
    else:
        declared = spec["end_to_end"]
        measured = {
            "setup_s": (r["setup"][1], 1),
            "cold_pass_cpu_s": (r["cold_pass"][1], 1),
            "pass_cpu_s": (pass_cpu, len(passes)),
            "scratch_mb": (r["scratch_mb"], 1),
        }
        # wall clock, for reading beside the CPU figures (not gated: the
        # host steals a varying share of the virtual CPUs)
        print(f"{args.workload} wall: setup {r['setup'][0]:.3f} s, cold pass "
              f"{r['cold_pass'][0]:.3f} s, pass median "
              f"{statistics.median(w for w, _ in passes):.3f} s (n={len(passes)})")
        if args.workload == "ingest_dumps":
            # beside the reference's ~16.6k releases/s on one thread
            # (BASELINE.md); informational, not gated
            print(f"{args.workload} records_per_cpu_s = {r['records'] / pass_cpu:.6g} "
                  f"records/s (n={len(passes)})")
    metrics = {}
    for m in declared:
        value, n = measured[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{args.workload} {m['name']} = {value:.6g} {m['unit']} (n={n})")
    for what in r["failures"]:
        print(f"FAILED: {what}")
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
