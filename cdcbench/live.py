"""The CDC workloads: a live Connector against a local Postgres.

Both start from the same set-up: a fresh Postgres cluster with a
``bench_kv`` table, a publication and a logical replication slot; a view
preloaded with the table's rows in ``BUCKETS`` hash buckets; a Connector
with the package defaults, started, and warmed with one burst of
transactions until the burst's last heartbeat (0) is visible. A reader
thread in this process reads the view at a fixed average rate and looks up
the heartbeat row, from the Connector's start to the end of the run.

- ``cdc_steady``: the generator runs an open loop of small transactions at
  a fixed rate; freshness is measured from each transaction's due time.
- ``cdc_backlog``: the generator commits bursts of set-based transactions
  back to back; each burst is timed from its first commit until its last
  heartbeat is visible, and the next burst starts at a fixed phase of the
  consumer's flush clock and the trigger clock (``_burst``).

At the end, once the stream is idle, the whole view is compared with a
``SELECT`` of the source table.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
import time
from contextlib import ExitStack
from datetime import datetime

import numpy as np

from common import pct, spark_session, stop_spark
from loadgen import HEARTBEAT_ID, KEYS, PUBLICATION, SLOT
from pg import PgCluster

HERE = os.path.dirname(os.path.abspath(__file__))

# The view's bucket count is the preload's choice (the Connector adopts it).
# The default sizing gives one bucket per 100 000 rows, a layout set-up
# cannot afford to preload, and a one-bucket view skips the touched-bucket
# probe. With 4 buckets every merge probes and swaps several bucket
# directories, and a small batch's trigger stays near the 1 s interval
# (trigger p50 about 1.0-1.1 s on 4 cores; 1.2 s with 8 buckets, 1.4 s
# with 16), so a steady window holds about 15 batches.
BUCKETS = 4
# The reader's open loop: one view read plus heartbeat lookup per
# READ_PERIOD_S, whatever the previous read took (HeartbeatReader).
READ_PERIOD_S = 0.5
# cdc_steady: transactions due in the first DROP_S seconds of the loop meet
# batches that start from an idle stream, and are not measured.
DROP_S = 2.0
# cdc_backlog: transactions per burst (loadgen.BURST_TXN_ROWS changes
# each); bursts repeat until --seconds have passed, and at least MIN_BURSTS
# run, so p90 freshness has at least ten transactions beyond it
BURST_TXNS = 60
MIN_BURSTS = 2
BURST_PHASE_S = 0.05
# the consumer's partial-segment flush interval (the package default)
FLUSH_INTERVAL_S = 5.0
VISIBLE_TIMEOUT_S = 60.0
# what Spark reports when a planned scan meets a file or bucket directory
# that a concurrent swap renamed away
MISSING_FILE_ERRORS = ("FILE_NOT_EXIST", "PATH_NOT_FOUND", "FileNotFoundException")
READ_ATTEMPTS = 10


class LoadGen:
    """The generator process (``loadgen.py``) and its line protocol."""

    def __init__(self, port: int, seed: int, sample_lag: bool):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--port", str(port),
             "--seed", str(seed), "--sample-lag", str(int(sample_lag))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"load generator died during {cmd!r} (exit {self.proc.poll()})")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait(timeout=30)


class HeartbeatReader(threading.Thread):
    """Open loop: read ``i`` is due at a seeded random point of the slot
    ``[start + i * READ_PERIOD_S, start + (i + 1) * READ_PERIOD_S)``, whatever
    the previous read took; each is ``view.read()`` plus a lookup of the
    heartbeat key. The random phase keeps the reads from locking onto the
    1 s trigger clock, which would add the same read delay to every batch
    of a run. Logs (end time, heartbeat seen, seconds the read took) per
    completed read.

    A merge swaps each touched bucket directory in by renames, so a read
    planned before the swap can find a file or directory gone (the
    read-while-swap race of ``sink/materialized.py``). A read retries such
    a scan, as any reader of the view beside a writer has to; each retry
    is counted in ``retries`` and its time stays in the read's latency.
    Any other error, or a read still missing files after ``READ_ATTEMPTS``
    scans, fails the read."""

    def __init__(self, connector, seed: int):
        super().__init__(daemon=True)
        from pyspark.sql import functions as F

        self.connector = connector
        self.key_filter = F.col("id") == str(HEARTBEAT_ID)
        self.n_col = F.col("payload")["n"]
        self.log: list[tuple[float, int, float]] = []
        self.errors: list[str] = []
        self.retries: list[str] = []
        self.latest = -(1 << 62)
        self._phase = np.random.default_rng(seed)
        self._halt = threading.Event()

    def _lookup(self) -> list | None:
        """The heartbeat rows, or None when the read failed."""
        for _ in range(READ_ATTEMPTS):
            try:
                df = self.connector.read()
                return df.filter(self.key_filter).select(self.n_col).collect()
            except Exception as e:  # noqa: BLE001 — a failed read is counted, not fatal
                msg = f"{type(e).__name__}: {str(e)[:200]}"
                if not any(mark in str(e) for mark in MISSING_FILE_ERRORS):
                    self.errors.append(msg)
                    return None
                self.retries.append(msg)
        self.errors.append(f"files still missing after {READ_ATTEMPTS} scans")
        return None

    def run(self) -> None:
        start = time.time()
        i = 0
        while not self._halt.is_set():
            due = start + (i + self._phase.random()) * READ_PERIOD_S
            i += 1
            if self._halt.wait(max(0.0, due - time.time())):
                return
            t0 = time.time()
            rows = self._lookup()
            if rows is None:
                continue
            t1 = time.time()
            hb = int(rows[0][0]) if rows else self.latest
            self.latest = max(self.latest, hb)
            self.log.append((t1, hb, t1 - t0))

    def wait_for(self, seq: int, timeout: float) -> float | None:
        """End time of the first read showing heartbeat >= seq."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.latest >= seq:
                return next(t1 for t1, hb, _ in self.log if hb >= seq)
            if not self.is_alive():
                return None
            time.sleep(0.01)
        return None

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=60)


def _burst(gen: LoadGen, query, first_seq: int, trigger_s: float, staged_dir: str,
           quiet_from: float) -> dict:
    """One burst of BURST_TXNS transactions, heartbeats ``first_seq`` on.

    Two clocks decide how a burst is cut into segments and batches, and
    both are set to the same phase for every burst:

    - The consumer flushes a partial segment once FLUSH_INTERVAL_S have
      passed since its last flush, checked when a change arrives. A burst
      that comes after a shorter quiet spell is cut into full segments; one
      that comes after a longer one has its first change flushed alone and
      its last 199 changes held until the flush timer fires. Every burst
      here starts after at least FLUSH_INTERVAL_S without a new segment
      (since ``quiet_from`` when none was written yet), so every burst gets
      the second behaviour.
    - A processing-time trigger fires on multiples of its interval since
      the epoch, or at once when the previous batch overran. A burst starts
      BURST_PHASE_S after a tick while the stream is idle, so it is staged
      before the next tick rather than split by it."""
    from go_pq_cdc_elasticsearch_spark.sources.wal import list_segments

    last = max((os.stat(p).st_mtime for _, p in list_segments(staged_dir)), default=quiet_from)
    time.sleep(max(0.0, last + FLUSH_INTERVAL_S + 0.1 - time.time()))
    while query.status["isTriggerActive"]:
        time.sleep(0.01)
    now = time.time()
    time.sleep((now // trigger_s + 1) * trigger_s + BURST_PHASE_S - now)
    return gen.call("burst", first_seq=first_seq, txns=BURST_TXNS)


def _seconds(interval: str) -> float:
    """``"1 second"`` -> 1.0"""
    n, unit = interval.split()
    if not unit.startswith("second"):
        raise ValueError(f"unexpected trigger interval {interval!r}")
    return float(n)


def _visible_at(seqs: list[int], reads: list[tuple]) -> list[float | None]:
    """Per heartbeat sequence number (ascending), the end time of the first
    read showing it or a later one; None when no read did."""
    out: list[float | None] = []
    j = 0
    for seq in seqs:
        while j < len(reads) and reads[j][1] < seq:
            j += 1
        out.append(reads[j][0] if j < len(reads) else None)
    return out


def _preload(spark, view_path: str) -> None:
    """The view as of slot creation: the generator's preloaded rows, at
    sequence 0, in ``BUCKETS`` hash buckets."""
    from pyspark.sql import functions as F

    from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView

    ids = spark.range(0, KEYS + 1).select(F.col("id").cast("string").alias("id"))
    hb = F.col("id") == str(HEARTBEAT_ID)
    df = ids.select(
        F.lit(0).cast("bigint").alias("lsn"),
        F.lit("insert").alias("op"),
        F.col("id"),
        F.create_map(
            F.lit("id"), F.col("id"),
            F.lit("v"), F.when(hb, F.lit("hb")).otherwise(F.concat(F.lit("p"), F.col("id"))),
            F.lit("n"), F.when(hb, F.lit("-1")).otherwise(F.lit("0")),
        ).alias("payload"),
    )
    MaterializedView(spark, view_path, keys=("id",), seq_col="lsn", op_col="op",
                     delete_op="delete", n_buckets=BUCKETS).merge_batch(df)


def _view_disk(view_path: str) -> tuple[int, int, int]:
    buckets = files = size = 0
    for name in os.listdir(view_path):
        d = os.path.join(view_path, name)
        if not (os.path.isdir(d) and name.startswith("__bucket=")):
            continue
        buckets += 1
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return buckets, files, size


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, mem,
        inject_mismatch: bool = False) -> dict:
    """One run; ``mem`` is the caller's memory sampler (the Postgres server
    and the generator process are excluded from it)."""
    with ExitStack() as cleanup:
        # harness set-up, not timed: the server, the table and its rows
        t_run = time.time()
        pg = PgCluster(os.path.join(work, "pg"))
        cleanup.callback(pg.stop)
        pg.start()
        mem.exclude.add(pg.postmaster_pid())
        gen = LoadGen(pg.port, seed, sample_lag=trace)
        cleanup.callback(gen.close)
        mem.exclude.add(gen.proc.pid)
        gen.call("setup")

        # -- the program's set-up: session -> warm-up burst visible ------------
        t_setup = time.time()
        spark = spark_session(work, f"cdcbench-{workload}")
        mem.watch_jvm(spark)
        cleanup.callback(stop_spark, spark)
        session_s = time.time() - t_setup
        view_path = os.path.join(work, "view")
        t_pre = time.time()
        _preload(spark, view_path)
        preload_s = time.time() - t_pre

        from go_pq_cdc_elasticsearch_spark.connector import (
            Connector,
            ConnectorConfig,
            ReplicationSettings,
        )

        cfg = ConnectorConfig(
            staged_dir=os.path.join(work, "staged"),
            view_path=view_path,
            checkpoint_dir=os.path.join(work, "ckpt"),
            keys=("id",), seq_col="lsn", op_col="op", delete_op="delete",
            replication=ReplicationSettings(
                host="127.0.0.1", port=pg.port, slot=SLOT, publication=PUBLICATION,
                database="postgres", create_slot=False,
            ),
        )
        tracer = probes = None
        if trace:
            from spans import Tracer

            tracer = Tracer()
            cleanup.callback(tracer.restore)
            probes = _install_probes(tracer, work)
        connector = Connector(spark, cfg)
        cleanup.callback(connector.close)
        t_start = time.time()
        connector.start()
        reader = HeartbeatReader(connector, seed)
        reader.start()
        cleanup.callback(reader.stop)
        # the warm-up is one burst as cdc_backlog times them (heartbeats up
        # to 0): its batches read many segments and see every kind of
        # change, so they start every Python worker and compile every code
        # path that the timed batches use
        trigger_s = _seconds(cfg.processing_time)
        _burst(gen, connector._query, 1 - BURST_TXNS, trigger_s, cfg.staged_dir, t_start)
        t_visible = reader.wait_for(0, VISIBLE_TIMEOUT_S)
        if t_visible is None:
            raise RuntimeError(f"warm-up change never became visible: "
                               f"{connector.consumer_error!r} {reader.errors[-1:]}")
        setup_s = t_visible - t_setup - preload_s
        if tracer is not None:
            cleanup.callback(_start_backlog_sampler(tracer, cfg.staged_dir, cfg.checkpoint_dir).set)

        if workload == "cdc_steady":
            res = _steady(gen, reader, seconds, cfg.replication.batch_size)
        else:
            res = _backlog(gen, reader, connector._query, seconds, trigger_s, cfg.staged_dir)
        last_seq = res.pop("last_seq")
        drained = reader.wait_for(last_seq, VISIBLE_TIMEOUT_S) is not None
        reader.stop()
        # a merge swaps its buckets one by one: compare only once the
        # stream is idle, not while the last batch's swaps are in flight
        deadline = time.time() + VISIBLE_TIMEOUT_S
        while connector._query.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.05)
        lo, hi = res.pop("window")

        # -- final state ------------------------------------------------------
        view_rows = {
            r["id"]: (r["payload"]["v"], r["payload"]["n"])
            for r in connector.read().select("id", "payload").collect()
        }
        source = {str(i): (v, n) for i, v, n in gen.call("snapshot")["rows"]}
        if inject_mismatch:
            k = min(source)
            source[k] = (source[k][0] + "_injected", source[k][1])
        mismatched = sorted(k for k in source.keys() | view_rows.keys()
                            if source.get(k) != view_rows.get(k))
        lat = res.pop("latency")
        slot_lag = res.pop("slot_lag_bytes")
        invisible = res.pop("invisible") + (0 if drained else 1)
        reads = [r for r in reader.log if lo <= r[0] <= hi]
        batches = [p for p in connector._query.recentProgress
                   if p.numInputRows > 0 and lo <= _epoch(p.timestamp) <= hi]
        result = {
            "correct": not mismatched and drained,
            # every transaction, every read and the final comparison
            "attempted": res["txns"] + len(reader.log) + len(reader.errors) + 1,
            "failed": invisible + len(reader.errors) + (1 if mismatched else 0),
            "e2e": {
                "setup_s": setup_s,
                "latency_p50_s": pct(lat, 50),
                "latency_p90_s": pct(lat, 90),
                "throughput_per_s": res.pop("throughput"),
                "peak_mem_mb": mem.peak_mb(lo, hi),
            },
            "detail": {
                "freshness_p99_s": pct(lat, 99),
                "freshness_samples": len(lat),
                "read_p50_s": pct([r[2] for r in reads], 50),
                "read_p99_s": pct([r[2] for r in reads], 99),
                "read_samples": len(reads),
                "read_retries": len(reader.retries),
                "failed_reads": len(reader.errors),
                "failed_read_sample": reader.errors[:2],
                "invisible_txns": invisible,
                "mismatched_keys": len(mismatched),
                "mismatch_sample": mismatched[:5],
                "view_keys": len(view_rows),
                "harness_pg_s": t_setup - t_run,
                "session_s": session_s,
                "preload_s": preload_s,
                "window_s": hi - lo,
                "window_batches": len(batches),
                "trigger_s_p50": pct([p.durationMs.get("triggerExecution", 0) / 1e3
                                      for p in batches], 50),
                "consumer_restarts": connector.consumer_restarts,
                **res,
            },
            "stamp": {"pg_version": pg.version(),
                      "spark_parallelism": int(spark.sparkContext.defaultParallelism)},
        }
        if tracer is not None:
            result["layers"] = _layer_metrics(workload, tracer, probes, connector, reader,
                                              view_path, (lo, hi), spark)
            result["layers"].update({
                "pgoutput.slot_lag_bytes_p99": pct(slot_lag, 99),
                "gen.late_p99_s": res["gen_late_p99_s"],
                "gen.offered_changes_per_s": res["offered_changes_per_s"],
                "gen.commit_s_p50": res["gen_commit_s_p50"],
            })
            tracer.dump(os.path.join(work, f"trace_{workload}.jsonl"))
        return result


def _steady(gen: LoadGen, reader: HeartbeatReader, seconds: float, segment: int) -> dict:
    """Open loop for DROP_S + seconds; transactions due in the last
    ``seconds`` are measured. Freshness runs from a transaction's due time
    to the end of the first read showing it. A fill transaction right after
    the loop completes the consumer's last segment, so the last measured
    transactions do not wait for its flush timer."""
    start_at = time.time() + 0.2
    lo, hi = start_at + DROP_S, start_at + DROP_S + seconds
    out = gen.call("steady", first_seq=1, seconds=DROP_S + seconds, start_at=start_at)
    due, n = out["due"], len(out["due"])
    last_seq = out["first_seq"] + n
    gen.call("fill", segment=segment, seq=last_seq)
    reader.wait_for(last_seq, VISIBLE_TIMEOUT_S)
    idx = [i for i, d in enumerate(due) if lo <= d < hi]
    seqs = [out["first_seq"] + i for i in idx]
    vis = _visible_at(seqs, reader.log)
    seen = [(due[i], v) for i, v in zip(idx, vis) if v is not None]
    fresh = [v - d for d, v in seen]
    changes = sum(out["changes"][i] for i in idx)
    # changes made visible per second: the measured changes over the span
    # their visibility times cover, fitted over every transaction, so the
    # figure tracks the offered rate and falls only when a backlog grows
    d_arr = np.array([d for d, _ in seen])
    v_arr = np.array([v for _, v in seen])
    slope = float(np.polyfit(d_arr, v_arr, 1)[0]) if len(seen) > 2 else float("inf")
    throughput = changes / (slope * (hi - lo))
    late = [s - d for s, d in zip(out["sent"], due)]
    return {
        "latency": fresh, "throughput": throughput, "txns": len(idx),
        "invisible": len(idx) - len(seen), "last_seq": last_seq, "window": (lo, hi),
        "changes": changes, "visibility_slope": slope,
        # stationarity check: freshness p50 in each quarter of the window
        "freshness_p50_by_quarter_s": [round(pct(q, 50), 3) for q in np.array_split(fresh, 4)],
        "offered_changes_per_s": changes / (hi - lo),
        "gen_late_p99_s": pct(late, 99),
        "gen_commit_s_p50": pct([e - s for s, e in zip(out["sent"], out["done"])], 50),
        "slot_lag_bytes": out["slot_lag_bytes"],
    }


def _backlog(gen: LoadGen, reader: HeartbeatReader, query, seconds: float,
             trigger_s: float, staged_dir: str) -> dict:
    """Bursts of BURST_TXNS transactions until ``seconds`` have passed (at
    least MIN_BURSTS). Each burst is timed from its first commit to its
    last heartbeat's visibility; freshness of each transaction runs from
    its commit.

    Each burst starts at the same phase of the consumer's flush clock and
    of the trigger clock (``_burst``)."""
    t_end = time.time() + seconds
    seq = 1
    fresh, walls, changes, lags, commit, spans = [], [], 0, [], [], []
    bursts = txns = invisible = 0
    lo = time.time()
    while bursts < MIN_BURSTS or time.time() < t_end:
        out = _burst(gen, query, seq, trigger_s, staged_dir, lo)
        seqs = list(range(seq, seq + BURST_TXNS))
        seq += BURST_TXNS
        t_last = reader.wait_for(seqs[-1], VISIBLE_TIMEOUT_S)
        vis = _visible_at(seqs, reader.log)
        fresh += [v - d for v, d in zip(vis, out["done"]) if v is not None]
        invisible += sum(1 for v in vis if v is None)
        txns += BURST_TXNS
        bursts += 1
        changes += sum(out["changes"])
        lags += out["slot_lag_bytes"]
        commit += [e - s for s, e in zip(out["sent"], out["done"])]
        spans.append(out["done"][-1] - out["sent"][0])
        if t_last is None:
            break
        walls.append(t_last - out["sent"][0])
    return {
        "latency": fresh, "throughput": changes / sum(walls) if walls else 0.0,
        "txns": txns, "invisible": invisible, "last_seq": seq - 1,
        "window": (lo, time.time()), "bursts": bursts, "changes": changes,
        "drain_walls_s": [round(w, 3) for w in walls],
        # a burst is committed back to back: no schedule to run late on
        "gen_late_p99_s": 0.0,
        "gen_commit_s_p50": pct(commit, 50),
        "offered_changes_per_s": changes / sum(spans),
        "slot_lag_bytes": lags,
    }


# -- tracing -------------------------------------------------------------------

def _install_probes(tracer, work: str) -> dict:
    """Wrap each live-path layer's public entry points."""
    import go_pq_cdc_elasticsearch_spark.sink.materialized as M
    import go_pq_cdc_elasticsearch_spark.sources.pgoutput as PG
    import go_pq_cdc_elasticsearch_spark.sources.wal as W

    probes = {"segments": [], "seg_copy": os.path.join(work, "trace_segments")}
    os.makedirs(probes["seg_copy"], exist_ok=True)

    def changes(out):
        # a change dict, a list of them (multi-relation TRUNCATE), or None
        return 1 if isinstance(out, dict) else len(out) if isinstance(out, list) else 0

    tracer.wrap_counted(PG.PgOutputDecoder, "decode", "pgoutput.decode", count=changes)
    tracer.wrap_generator(PG.ReplicationClient, "poll", "pgoutput.poll")
    tracer.wrap(PG, "forward_checkpoint_acks", "pgoutput.ack_sweep")

    def on_segment(t0, t1, args, kwargs, path):
        msgs = args[1] if len(args) > 1 else kwargs["messages"]
        probes["segments"].append((t1, msgs[-1]["lsn"], len(msgs), os.path.getsize(path)))
        os.link(path, os.path.join(probes["seg_copy"], os.path.basename(path)))

    tracer.wrap(W, "write_wal_segment", "wal.segment_write", on_result=on_segment)
    tracer.wrap(M.MaterializedView, "merge_batch", "materialized.merge")
    tracer.wrap(M, "swap_bucket_dir", "materialized.swap_bucket")
    return probes


def _start_backlog_sampler(tracer, staged_dir: str, ckpt: str) -> threading.Event:
    """Samples staged segments beyond the committed stream frontier."""
    from go_pq_cdc_elasticsearch_spark.sources.pgoutput import committed_checkpoint_lsn
    from go_pq_cdc_elasticsearch_spark.sources.wal import list_segments

    stop = threading.Event()

    def loop():
        while not stop.wait(0.1):
            try:
                frontier = committed_checkpoint_lsn(ckpt)
                n = sum(1 for start, _ in list_segments(staged_dir) if start > frontier)
            except OSError:
                continue
            tracer.keep_max("wal.staged_backlog_max", n)

    threading.Thread(target=loop, daemon=True).start()
    return stop


# (a Python data source reports no getBatch phase)
_PHASES = (("triggerExecution", "connector.trigger_s"),
           ("latestOffset", "connector.latest_offset_s"),
           ("queryPlanning", "connector.query_planning_s"), ("addBatch", "connector.add_batch_s"),
           ("walCommit", "connector.wal_commit_s"), ("commitOffsets", "connector.commit_offsets_s"))


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _offset_lsn(offset: str | None) -> int:
    """An offset's lsn. PySpark renders a JSON-object offset with
    ``str(dict)``, so read the number rather than parse JSON."""
    m = re.search(r"lsn\D*?(-?\d+)", offset or "")
    return int(m.group(1)) if m else -1


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _layer_metrics(workload, tracer, probes, connector, reader, view_path, window, spark) -> dict:
    from go_pq_cdc_elasticsearch_spark.sources.wal import WalStreamReader

    lo, hi = window
    tot = tracer.totals
    m: dict[str, float] = {}
    # pgoutput
    n_changes = tot["pgoutput.decode_n"]
    m["pgoutput.changes"] = n_changes
    m["pgoutput.decode_s"] = tot["pgoutput.decode_s"]
    m["pgoutput.decode_us_per_change"] = 1e6 * tot["pgoutput.decode_s"] / max(1.0, n_changes)
    m["pgoutput.poll_wait_s"] = max(0.0, tot["pgoutput.poll_s"] - tot["pgoutput.decode_s"])
    m["pgoutput.reconnects"] = connector.consumer_restarts
    acks = tracer.named("pgoutput.ack_sweep")
    m["pgoutput.ack_sweeps"] = len(acks)
    m["pgoutput.ack_sweep_s"] = sum(s[4] - s[3] for s in acks)
    # wal
    segs = probes["segments"]
    m["wal.segments_written"] = len(segs)
    m["wal.bytes_per_change"] = sum(s[3] for s in segs) / max(1, sum(s[2] for s in segs))
    m["wal.segment_write_s"] = sum(s[4] - s[3] for s in tracer.named("wal.segment_write"))
    # Spark runs the reader in a worker process: run it again here over
    # copies of the run's own segments
    wr = WalStreamReader({"path": probes["seg_copy"]})
    parts = wr.partitions({"lsn": -1}, {"lsn": 1 << 62})
    t0 = time.perf_counter()
    n_rows = sum(1 for p in parts for _ in wr.read(p))
    m["wal.read_parse_us_per_row"] = 1e6 * (time.perf_counter() - t0) / max(1, n_rows)
    m["wal.staged_backlog_max"] = tot["wal.staged_backlog_max"]
    # connector: the query's own progress reports, batches with rows
    progress = [p for p in connector._query.recentProgress if p.numInputRows > 0]
    m["connector.batches"] = len(progress)
    m["connector.rows_per_batch_p50"] = pct([p.numInputRows for p in progress], 50)
    for key, name in _PHASES:
        m[name + "_p50"] = pct([p.durationMs.get(key, 0) / 1e3 for p in progress], 50)
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(connector._query.runId)))
    m["connector.jobs_per_batch"] = jobs / max(1, len(progress))
    bounds = [(_offset_lsn(p.sources[0].startOffset), _offset_lsn(p.sources[0].endOffset))
              for p in progress if p.sources]
    m["wal.partitions_per_batch"] = pct(
        [len(wr.partitions({"lsn": a}, {"lsn": b})) for a, b in bounds], 50)
    # segment wait: rename -> start of the batch covering it (a batch
    # starts once its latestOffset is fixed)
    starts = sorted((_epoch(p.timestamp) + p.durationMs.get("latestOffset", 0) / 1e3, end)
                    for p, (_, end) in zip(progress, bounds))
    waits = []
    for t_renamed, last_lsn, _, _ in segs:
        if lo <= t_renamed <= hi:
            cover = next((ts for ts, end in starts if end >= last_lsn and ts >= t_renamed - 1), None)
            if cover is not None:
                waits.append(max(0.0, cover - t_renamed))
    m["wal.segment_wait_s_p50"] = pct(waits, 50)
    # materialized
    merges = [s for s in tracer.named("materialized.merge") if s[3] >= lo - 5]
    merge_s = [s[4] - s[3] for s in merges]
    m["materialized.merge_s_p50"] = pct(merge_s, 50)
    m["materialized.merge_s_p99"] = pct(merge_s, 99)
    m["materialized.jobs_per_merge"] = jobs / max(1, len(tracer.named("materialized.merge")) - 1)
    rows_merged = sum(p.numInputRows for p in progress if _epoch(p.timestamp) >= lo - 1)
    m["materialized.merge_us_per_row"] = 1e6 * sum(merge_s) / max(1, rows_merged)
    swaps = tracer.named("materialized.swap_bucket")
    n_buckets, n_files, n_bytes = _view_disk(view_path)
    touched = [[s for s in swaps if s[1] == mg[0]] for mg in merges]
    m["materialized.buckets_touched_ratio"] = (
        sum(len(t) for t in touched) / max(1, len(touched) * n_buckets))
    m["materialized.swap_s"] = pct([sum(s[4] - s[3] for s in t) for t in touched], 50)
    m["materialized.buckets"] = n_buckets
    m["materialized.files"] = n_files
    m["materialized.bytes"] = n_bytes
    reads = [r[2] for r in reader.log if lo <= r[0] <= hi]
    m["materialized.read_s_p50"] = pct(reads, 50)
    m["materialized.read_s_p99"] = pct(reads, 99)
    n_reads = len(reader.log) + len(reader.errors)
    m["materialized.read_retry_ratio"] = len(reader.retries) / max(1, n_reads)
    # share of the timed window covered by the blocking path: the stream
    # thread's triggers (their durationMs phases hold the merge) and the
    # consumer's segment writes; the rest is the stream idling between
    # triggers and the reader's wait for its next read
    busy = [(_epoch(p.timestamp), _epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1e3)
            for p in connector._query.recentProgress]
    busy += [(s[3], s[4]) for s in tracer.named("wal.segment_write")]
    label = "steady" if workload == "cdc_steady" else "backlog"
    m[f"trace.{label}_coverage"] = _union_within(busy, lo, hi) / max(1e-9, hi - lo)
    return m
