"""newsflow benchmark: one seeded run of one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload mart_analytics --seed 1 --seconds 4 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists):

- ``mart_analytics``: the analyst's dashboard session. The sf0.01 test
  warehouse twin-replicated x3 by the scale ladder; one client runs the
  16-query mix in a seed-shuffled order, first cold, then in a closed
  loop.
- ``news_ingest``: the News_Ingestion DAG (scrape, validate, serial
  ids, translate, model DAG writing 4 parquet marts), then the
  ``operators.quality`` checks on the marts, first cold, then in a
  closed loop.

Each run builds its inputs (the news corpus from ``--seed``; cached
under ``perfbench/.work``; building is not timed), then measures in a fresh
child process with the run's environment set before the package is
imported, checks the outputs, stops every process it started and
prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it is the run's identity (git sha or source digest, nproc,
``SPARK_GRAFT_*`` values, pyspark version, seed, input rows and bytes,
UTC time).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import shlex
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG_DIR = os.path.join(ROOT, "canadiannewsdatapipeline_spark")
LADDER = os.path.join(ROOT, "scripts", "scale_ladder.py")

TIME_LIMIT_S = 170.0
DRIVER_MEM = "2g"
# input sizes: replication of the sf0.01 warehouse for mart_analytics,
# article pages per source for news_ingest
MART_K = 3
NEWS_PAGES = 2000

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "ok_ops_ratio": "ratio",
}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest() -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(PKG_DIR)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def make_inputs(workload: str, seed: int) -> tuple[dict, dict]:
    """Build (or reuse) the run's inputs; returns (spec part, info)."""
    sys.path.insert(0, HERE)
    import inputs

    if workload == "mart_analytics":
        # seed-independent: the seed sets the query order (worker.py)
        base = os.path.join(WORK, "inputs", f"mart_analytics-x{MART_K}")
        info = inputs.ladder_warehouse(base, MART_K)
        return {"input_dir": base, "expected": inputs.mart_expected(base)}, info
    base = os.path.join(WORK, "inputs", f"news_ingest-s{seed}-p{NEWS_PAGES}")
    info = inputs.news_corpus(base, seed, NEWS_PAGES)
    return {
        "input_dir": base,
        "sources": inputs.NEWS_SOURCES,
        "pages_per_source": NEWS_PAGES,
        "expected": info["expected"],
    }, info


def _session_alive(sid: int) -> list[int]:
    """Live processes of session ``sid``. A session, not a process group:
    pyspark's Python daemon moves itself into a process group of its own."""
    alive = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state, ppid, pgrp, session; a zombie has already ended
        if int(fields[3]) == sid and fields[0] != "Z":
            alive.append(int(d))
    return alive


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left behind (JVM, Python workers) and
    wait until every process of its session has ended."""
    for _ in range(300):
        left = _session_alive(proc.pid)
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes of session {proc.pid} did not end: {left}")


def graft_env(run_dir: str) -> dict[str, str]:
    """The ``SPARK_GRAFT_*`` settings of a run."""
    return {
        # read by session.py at import time, so set before the child starts
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(run_dir, "spark-warehouse"),
    }


def run_worker(spec: dict, run_dir: str, deadline: float) -> dict:
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, tmp, spec["event_log_dir"]):
        os.makedirs(d, exist_ok=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # a fixed-size heap: no heap-resizing phase in the cold pass; the
        # heap's share of peak_rss_mb is its measured live size (worker.py)
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
    ]
    if spec["trace"]:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{spec['event_log_dir']}",
        ]
    env.update(graft_env(run_dir))
    env.update(
        {
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # Python workers import the package by name
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, env.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONHASHSEED": "0",
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
            # no hsperfdata files in the system temp dir
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
    )
    spec_path = os.path.join(run_dir, "spec.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, result_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(proc)
            proc.wait()
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {why}; log tail:\n{tail}")
    with open(result_path) as fh:
        return json.load(fh)


def metrics_of(result: dict, workload: str, info: dict) -> dict:
    lat = sorted(result["warm_lat_s"])
    rows_in = (
        sum(info["rows"].values()) if workload == "mart_analytics"
        else info["rows"]["articles"]
    )
    values = {
        "setup_s": statistics.median(result["setup_s"]),
        "cold_pass_s": result["cold_pass_s"],
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10)[8],
        # the run's wall time: process start to the end of the cold pass
        "rows_per_s": rows_in / result["cold_wall_s"],
        "peak_rss_mb": result["memory_mb"]["peak_rss_mb"],
        "ok_ops_ratio": 1.0 - result["failed"] / result["attempted"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["mart_analytics", "news_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    deadline = time.monotonic() + TIME_LIMIT_S
    for need in (PKG_DIR, LADDER):
        if not os.path.exists(need):
            print(f"perfbench: {os.path.relpath(need, ROOT)} is missing; "
                  "run from a full checkout", file=sys.stderr)
            return 2

    t0 = time.perf_counter()
    spec, info = make_inputs(args.workload, args.seed)
    gen_s = time.perf_counter() - t0
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        work_dir=run_dir,
        output_dir=os.path.join(run_dir, "marts"),
        event_log_dir=os.path.join(run_dir, "eventlog"),
    )
    result = run_worker(spec, run_dir, deadline)
    shutil.rmtree(os.path.join(run_dir, "local"), ignore_errors=True)

    if args.trace:
        layers = dict(result["layers"])
        # the traced run's own end-to-end figures, to set against an
        # untraced run's for the tracing overhead
        layers["trace.cold_pass_s"] = result["cold_pass_s"]
        layers["trace.query_p50_s"] = statistics.median(result["warm_lat_s"])
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = metrics_of(result, args.workload, info)
    identity = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_sha": _git_sha(),
        "source_digest": _source_digest(),
        "nproc": _nproc(),
        "spark_graft": graft_env(run_dir),
        "pyspark": metadata.version("pyspark"),
        "input_rows": info["rows"],
        "input_bytes": info["bytes"],
        "input_gen_s": gen_s,
        "warm_ops": len(result["warm_lat_s"]),
        "worker_phase_s": result["phase_s"],
        "memory_mb": result["memory_mb"],
        "wall_s": time.perf_counter() - t0,
        "failures": result["failures"],
        "utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
    }
    with open(os.path.join(WORK, f"last_{args.workload}.json"), "w") as fh:
        json.dump({"identity": identity, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"identity": identity}))
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
