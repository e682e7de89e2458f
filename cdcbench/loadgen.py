"""Load generator for the CDC workloads: one process, one DML connection.

It runs apart from the Connector's process, so its Python work never
competes with the replication consumer thread for that process's
interpreter lock, and its memory is not the program's. The parent drives it
with one JSON command per stdin line and reads one JSON reply per stdout
line:

- ``{"cmd": "setup"}``: table, publication, preloaded rows, replication slot;
- ``{"cmd": "steady", ...}``: an open loop of small transactions at a fixed
  rate (``Generator.steady``);
- ``{"cmd": "burst", ...}``: set-based transactions back to back
  (``Generator.burst``);
- ``{"cmd": "fill", "segment": n}``: one transaction that fills the
  consumer's last segment (``Generator.fill``);
- ``{"cmd": "snapshot"}``: the source table, for the final-state check;
- ``{"cmd": "quit"}``.

Every transaction also upserts the heartbeat row (``HEARTBEAT_ID``) with its
sequence number, so a reader of the view can tell which transactions are
visible. Every input is drawn from ``--seed``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

from pg import SqlConnection  # noqa: E402

TABLE = "bench_kv"
SLOT = "bench_slot"
PUBLICATION = "bench_pub"
HEARTBEAT_ID = 0
# preloaded keys 1..KEYS (the heartbeat row is key 0)
KEYS = 4_000

# -- cdc_steady traffic --------------------------------------------------------
# Offered load in transactions per second. Each transaction holds
# OPS_PER_TXN change statements plus the heartbeat upsert, so the loop
# offers 50 x 5 = 250 changes/s: 0.30 of cdc_backlog's measured drain rate
# (README.md, "Where the traffic comes from").
TXN_PER_S = 50.0
OPS_PER_TXN = 4
# YCSB's Zipfian request distribution (Cooper et al., SoCC 2010): rank r is
# drawn with weight 1 / r**0.99, and ranks map to keys through a seeded
# permutation, as in YCSB's scrambled Zipfian, so hot keys are spread over
# the view's buckets.
ZIPF_THETA = 0.99
# share of update, upsert and delete statements
OP_MIX = (0.7, 0.2, 0.1)

# -- cdc_backlog traffic -------------------------------------------------------
# Each burst transaction changes exactly BURST_TXN_ROWS rows plus the
# heartbeat: fresh updates (a sweep over the live keys), repeat updates of
# keys this burst already changed (in-batch dedup work), deletes and inserts.
# 100 changes are half of the consumer's 200-change segment, so a burst of
# an even number of transactions fills whole segments and none waits for
# the consumer's 5 s partial-segment flush timer.
BURST_MIX = {"update": 60, "repeat": 20, "delete": 10, "insert": 9}
BURST_TXN_ROWS = sum(BURST_MIX.values())


class Generator:
    def __init__(self, port: int, seed: int, sample_lag: bool):
        self.conn = SqlConnection(port)
        self.rng = np.random.default_rng(seed)
        weights = 1.0 / np.arange(1, KEYS + 1) ** ZIPF_THETA
        self.rank_p = weights / weights.sum()
        self.key_of_rank = self.rng.permutation(KEYS) + 1
        self.sample_lag = sample_lag
        # cdc_backlog's view of the table: the keys that exist, in the
        # order the fresh-update sweep visits them
        self.live: list[int] = []
        self.sweep = 0
        self.next_key = KEYS + 1
        # cdc_steady's preloaded keys that are deleted: upserting one of
        # them takes it out again
        self.deleted: set[int] = set()
        # rows changed since the replication slot was created
        self.changes = 0

    def setup(self) -> dict:
        q = self.conn.query
        q(f"CREATE TABLE {TABLE} (id int PRIMARY KEY, v text NOT NULL, n bigint NOT NULL)")
        q(f"CREATE PUBLICATION {PUBLICATION} FOR TABLE {TABLE}")
        q(f"INSERT INTO {TABLE} SELECT g, 'p' || g, 0 FROM generate_series(1, {KEYS}) g")
        q(f"INSERT INTO {TABLE} VALUES ({HEARTBEAT_ID}, 'hb', -1)")
        q(f"SELECT pg_create_logical_replication_slot('{SLOT}', 'pgoutput')")
        self.live = [int(k) for k in self.rng.permutation(KEYS) + 1]
        return {"keys": KEYS}

    @staticmethod
    def _heartbeat(seq: int) -> str:
        return (f"INSERT INTO {TABLE} VALUES ({HEARTBEAT_ID}, 'hb', {seq}) "
                "ON CONFLICT (id) DO UPDATE SET v = excluded.v, n = excluded.n")

    def _slot_lag(self) -> int:
        rows = self.conn.query(
            "SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), confirmed_flush_lsn) "
            f"FROM pg_replication_slots WHERE slot_name = '{SLOT}'")
        return int(float(rows[0][0])) if rows and rows[0][0] is not None else 0

    def _steady_txn(self, seq: int) -> str:
        """OPS_PER_TXN statements over Zipf-drawn keys plus the heartbeat.
        A statement drawn as an update or a delete of a key that an earlier
        statement deleted becomes an upsert, so every statement changes
        exactly one row and the offered change rate does not vary with the
        seed."""
        stmts = ["BEGIN"]
        keys = self.key_of_rank[self.rng.choice(KEYS, OPS_PER_TXN, p=self.rank_p)]
        kinds = self.rng.random(OPS_PER_TXN)
        for key, kind in zip(keys.tolist(), kinds):
            if key in self.deleted or OP_MIX[0] <= kind < OP_MIX[0] + OP_MIX[1]:
                self.deleted.discard(key)
                stmts.append(f"INSERT INTO {TABLE} VALUES ({key}, 'u{seq}', 0) "
                             "ON CONFLICT (id) DO UPDATE SET v = excluded.v, n = excluded.n")
            elif kind < OP_MIX[0]:
                stmts.append(f"UPDATE {TABLE} SET v = 's{seq}_{key}', n = n + 1 WHERE id = {key}")
            else:
                self.deleted.add(key)
                stmts.append(f"DELETE FROM {TABLE} WHERE id = {key}")
        stmts.append(self._heartbeat(seq))
        stmts.append("COMMIT")
        return ";".join(stmts)

    def steady(self, first_seq: int, seconds: float, start_at: float) -> dict:
        """Open loop: transaction i (heartbeat ``first_seq + i``) is due at
        ``start_at + i / TXN_PER_S`` and is sent then, however late the
        previous one finished."""
        n = max(1, int(seconds * TXN_PER_S))
        self.deleted = set(range(1, KEYS + 1)) - set(self.live)
        txns = [self._steady_txn(first_seq + i) for i in range(n)]
        due, sent, done, changes, lag = [], [], [], [], []
        last_sample = 0.0
        for i, sql in enumerate(txns):
            d = start_at + i / TXN_PER_S
            wait = d - time.time()
            if wait > 0:
                time.sleep(wait)
            t_send = time.time()
            self.conn.query(sql)
            t_done = time.time()
            due.append(d)
            sent.append(t_send)
            done.append(t_done)
            changes.append(self.conn.rows_changed())
            self.changes += changes[-1]
            if changes[-1] != OPS_PER_TXN + 1:
                raise RuntimeError(f"steady transaction changed {changes[-1]} rows, "
                                   f"expected {OPS_PER_TXN + 1}")
            if self.sample_lag and t_done - last_sample >= 0.25:
                lag.append(self._slot_lag())
                last_sample = time.time()
        return {"first_seq": first_seq, "due": due, "sent": sent, "done": done,
                "changes": changes, "slot_lag_bytes": lag}

    def _burst_txn(self, seq: int, changed: list[int]) -> tuple[str, int]:
        m = BURST_MIX
        upd = [self.live[(self.sweep + i) % len(self.live)] for i in range(m["update"])]
        self.sweep += m["update"]
        changed.extend(upd)
        rep = [changed[int(i)] for i in self.rng.integers(0, len(changed), m["repeat"])]
        gone = set(upd) | set(rep)
        dele = [int(k) for k in self.rng.choice(
            [k for k in self.live if k not in gone], m["delete"], replace=False)]
        ins = list(range(self.next_key, self.next_key + m["insert"]))
        self.next_key += m["insert"]
        dset = set(dele)
        self.live = [k for k in self.live if k not in dset] + ins
        changed[:] = [k for k in changed if k not in dset]

        def arr(keys):
            return "'{" + ",".join(map(str, keys)) + "}'::int[]"

        sql = ";".join([
            "BEGIN",
            f"UPDATE {TABLE} SET v = 'b{seq}_' || id, n = n + 1 WHERE id = ANY({arr(upd)})",
            # a key listed twice is still one row: repeats are one statement each
            *(f"UPDATE {TABLE} SET v = 'r{seq}_' || id, n = n + 1 WHERE id = {k}" for k in rep),
            f"DELETE FROM {TABLE} WHERE id = ANY({arr(dele)})",
            f"INSERT INTO {TABLE} SELECT k, 'i{seq}_' || k, 0 FROM unnest({arr(ins)}) k",
            self._heartbeat(seq),
            "COMMIT",
        ])
        return sql, BURST_TXN_ROWS + 1

    def burst(self, first_seq: int, txns: int) -> dict:
        """``txns`` transactions back to back, heartbeats ``first_seq`` on;
        each changes exactly ``BURST_TXN_ROWS`` rows plus the heartbeat."""
        changed: list[int] = []
        work = [self._burst_txn(first_seq + i, changed) for i in range(txns)]
        sent, done, lag = [], [], []
        for sql, expect in work:
            sent.append(time.time())
            self.conn.query(sql)
            done.append(time.time())
            got = self.conn.rows_changed()
            self.changes += got
            if got != expect:
                raise RuntimeError(f"burst transaction changed {got} rows, expected {expect}")
        if self.sample_lag:
            lag.append(self._slot_lag())
        return {"first_seq": first_seq, "sent": sent, "done": done,
                "changes": [expect for _, expect in work], "slot_lag_bytes": lag}

    def fill(self, segment: int, seq: int) -> dict:
        """One transaction that brings the changes made since the slot was
        created to a multiple of ``segment``, so the consumer's last segment
        is full and staged at once rather than by its flush timer. Its last
        change upserts the heartbeat with ``seq``: once that is visible,
        every change made before it is."""
        n = -self.changes % segment or segment
        self.conn.query(
            f"BEGIN;UPDATE {TABLE} SET n = n + 1 WHERE id IN (SELECT id FROM {TABLE} "
            f"WHERE id <> {HEARTBEAT_ID} ORDER BY id LIMIT {n - 1});{self._heartbeat(seq)};COMMIT")
        got = self.conn.rows_changed()
        self.changes += got
        if got != n:
            raise RuntimeError(f"fill transaction changed {got} rows, expected {n}")
        return {"changes": n}

    def snapshot(self) -> dict:
        return {"rows": self.conn.query(f"SELECT id, v, n FROM {TABLE}")}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sample-lag", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    gen = Generator(a.port, a.seed, bool(a.sample_lag))
    try:
        for line in sys.stdin:
            msg = json.loads(line)
            cmd = msg.pop("cmd")
            if cmd == "quit":
                break
            reply = getattr(gen, cmd)(**msg)
            sys.stdout.write(json.dumps(reply) + "\n")
            sys.stdout.flush()
    finally:
        gen.conn.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
