"""Benchmark entry point.

    python3 cdcbench/run.py --workload cdc_steady --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads: ``cdc_steady`` and
``cdc_backlog`` (live Postgres -> Connector -> materialized view, see
live.py) and ``query_suite`` (the declared queries against their DuckDB
oracle, see suite.py). Prints a readable summary, then as the last stdout
line one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A run that cannot import the package, start
Postgres or finish its workload prints a traceback and exits non-zero
without a result. Everything the run writes stays under ``.bench_run/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
    "peak_mem_mb": "MB",
}

PER_LAYER = {
    "pgoutput.changes": "count",
    "pgoutput.decode_s": "s",
    "pgoutput.decode_us_per_change": "us",
    "pgoutput.poll_wait_s": "s",
    "pgoutput.ack_sweeps": "count",
    "pgoutput.ack_sweep_s": "s",
    "pgoutput.reconnects": "count",
    "pgoutput.slot_lag_bytes_p99": "bytes",
    "wal.segments_written": "count",
    "wal.bytes_per_change": "bytes",
    "wal.segment_write_s": "s",
    "wal.read_parse_us_per_row": "us",
    "wal.partitions_per_batch": "count",
    "wal.segment_wait_s_p50": "s",
    "wal.staged_backlog_max": "count",
    "connector.batches": "count",
    "connector.rows_per_batch_p50": "count",
    "connector.trigger_s_p50": "s",
    "connector.latest_offset_s_p50": "s",
    "connector.query_planning_s_p50": "s",
    "connector.add_batch_s_p50": "s",
    "connector.wal_commit_s_p50": "s",
    "connector.commit_offsets_s_p50": "s",
    "connector.jobs_per_batch": "count",
    "materialized.merge_s_p50": "s",
    "materialized.merge_s_p99": "s",
    "materialized.jobs_per_merge": "count",
    "materialized.merge_us_per_row": "us",
    "materialized.buckets_touched_ratio": "ratio",
    "materialized.swap_s": "s",
    "materialized.buckets": "count",
    "materialized.files": "count",
    "materialized.bytes": "bytes",
    "materialized.read_s_p50": "s",
    "materialized.read_s_p99": "s",
    "materialized.read_retry_ratio": "ratio",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "sql.build_s": "s",
    "sql.exec_s": "s",
    "sql.jobs_per_query": "count",
    "sql.cdc_s": "s",
    "sql.relational_s": "s",
    "sql.llm_s": "s",
    "sql.streaming_s": "s",
    "sql.ext_s": "s",
    "gen.late_p99_s": "s",
    "gen.offered_changes_per_s": "1/s",
    "gen.commit_s_p50": "s",
    "trace.steady_coverage": "ratio",
    "trace.backlog_coverage": "ratio",
    "trace.suite_coverage": "ratio",
}

WORKLOADS = ("cdc_steady", "cdc_backlog", "query_suite")


def _prepare_env(work: str) -> None:
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _adopt_orphans() -> None:
    """Become the child subreaper, so processes our children leave behind
    (the postmaster pg_ctl detaches, Python workers of an exited JVM) stay
    ours to wait for."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _wait_for_children(timeout: float = 30.0) -> None:
    """Wait until every child has ended; kill what is left at the deadline."""
    deadline = time.time() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > deadline:
            for d in os.listdir("/proc"):
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError):
                    continue
                if ppid == os.getpid():
                    os.kill(int(d), signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-mismatch", action="store_true",
                    help="corrupt one checked output (harness self-test, selftest.py)")
    a = ap.parse_args()
    try:
        # the program under test: without it there is nothing to measure
        import go_pq_cdc_elasticsearch_spark  # noqa: F401
    except ImportError:
        traceback.print_exc()
        return 2
    # a terminated run still tears down Postgres, the generator and Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _adopt_orphans()

    run_root = os.path.join(ROOT, ".bench_run")
    work = os.path.join(run_root, f"{a.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _prepare_env(work)
    try:
        from common import MemorySampler

        mem = MemorySampler().start()
        try:
            if a.workload == "query_suite":
                import suite

                res = suite.run(a.seed, a.seconds, bool(a.trace), work, mem, a.inject_mismatch)
            else:
                import live

                res = live.run(a.workload, a.seed, a.seconds, bool(a.trace), work, mem,
                               a.inject_mismatch)
        finally:
            mem.stop()
    except Exception:  # noqa: BLE001 — any failure ends the run without a result
        traceback.print_exc()
        return 1
    finally:
        traces = os.path.join(run_root, "traces")
        for f in os.listdir(work) if os.path.isdir(work) else ():
            if f.startswith("trace_") and f.endswith(".jsonl"):
                os.makedirs(traces, exist_ok=True)
                shutil.move(os.path.join(work, f), os.path.join(traces, f"seed{a.seed}_{f}"))
        shutil.rmtree(work, ignore_errors=True)
        _wait_for_children()

    import pyspark

    stamp = dict(res.get("stamp", {}), nproc=len(os.sched_getaffinity(0)), seed=a.seed,
                 workload=a.workload, pyspark=pyspark.__version__)
    print(f"# cdcbench {a.workload} seed={a.seed} trace={a.trace} {json.dumps(stamp)}")
    for k, v in res["e2e"].items():
        print(f"{k} {v:.6g} {END_TO_END[k]}")
    print(f"failed {res['failed']} of {res['attempted']}")
    for k, v in res["detail"].items():
        unit = "1/s" if k.endswith("_per_s") else "s" if k.endswith("_s") else ""
        print(f"  {k} {f'{v:.6g}' if isinstance(v, float) else v} {unit}".rstrip())
    if a.trace:
        layers = res.get("layers", {})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        for k, v in metrics.items():
            print(f"  {k} {v['value']:.6g} {v['unit']}")
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in res["e2e"].items()}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
