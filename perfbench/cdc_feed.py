"""Seeded Debezium change feeds and their replay oracles.

Two feeds, both over the reference's ``invoice(order_id, invoice_number)``
table and both starting from a store that holds keys ``0..n_store-1``
with ``invoice_number = base_value(key)``:

* ``HotFeed`` - recency-skewed keys. Inserts append fresh keys above the
  store; updates and deletes hit the most recent ``recent_frac`` of keys,
  so a range-clustered store sees one hot file.
* ``BacklogFeed`` - uniform keys over the whole store, with a share of
  primary-key-changing updates, Kafka tombstones (null ``value``) and
  corrupt records (a truncated envelope naming a poison key).

Each feed is a deterministic function of its seed and keeps the replay
oracle itself: ``Replay`` applies every event sequentially in feed order
with the merge semantics the replica promises (c/u upsert, d delete, a
PK-changing update deletes the old key), ignoring tombstones and corrupt
records. ``Replay.expected()`` is the full table a correct replica equals.
"""

from __future__ import annotations

import json
import random

import numpy as np

# Keys at or above POISON_KEY appear only inside corrupt records; a replica
# holding one has applied a record it should have dropped.
POISON_KEY = 10**15


def base_value(keys):
    return keys * 7 + 1


def envelope(op: str, before, after, pos: int, ts_ms: int) -> dict:
    """One change event in the reference's envelope shape
    (kafka-consumer-service/example/insert.json)."""
    return {
        "payload": {
            "before": before,
            "after": after,
            "source": {
                "version": "2.1.4.Final",
                "connector": "mysql",
                "name": "source",
                "ts_ms": ts_ms,
                "snapshot": "false",
                "db": "dev",
                "sequence": None,
                "table": "invoice",
                "server_id": 1,
                "gtid": None,
                "file": "binlog.000002",
                "pos": pos,
                "row": 0,
                "thread": 13,
                "query": None,
            },
            "op": op,
            "ts_ms": ts_ms,
            "transaction": None,
        }
    }


_ENVELOPE = (
    '{"payload": {"before": %s, "after": %s, "source": {"version": "2.1.4.Final", '
    '"connector": "mysql", "name": "source", "ts_ms": %d, "snapshot": "false", "db": "dev", '
    '"sequence": null, "table": "invoice", "server_id": 1, "gtid": null, '
    '"file": "binlog.000002", "pos": %d, "row": 0, "thread": 13, "query": null}, '
    '"op": "%s", "ts_ms": %d, "transaction": null}}'
)


def _row_json(row) -> str:
    if row is None:
        return "null"
    return '{"order_id": %d, "invoice_number": %d}' % (row["order_id"], row["invoice_number"])


def envelope_json(op: str, before, after, pos: int, ts_ms: int) -> str:
    """``json.dumps(envelope(...))``, formatted directly: the feed writes
    hundreds of thousands of these per run."""
    return _ENVELOPE % (_row_json(before), _row_json(after), ts_ms, pos, op, ts_ms)


class Replay:
    """Sequential replay of a feed on top of the bootstrapped store."""

    def __init__(self, n_store: int):
        self.n_store = n_store
        self.changed: dict[int, int | None] = {}  # key -> value, None = deleted

    def get(self, k: int) -> int | None:
        if k in self.changed:
            return self.changed[k]
        return int(base_value(k)) if 0 <= k < self.n_store else None

    def upsert(self, k: int, v: int) -> None:
        self.changed[k] = v

    def delete(self, k: int) -> None:
        self.changed[k] = None

    def expected(self) -> tuple[np.ndarray, np.ndarray]:
        """(keys, values) of the replayed table, sorted by key."""
        keys = np.arange(self.n_store, dtype=np.int64)
        vals = base_value(keys)
        keep = np.ones(self.n_store, dtype=bool)
        extra_k, extra_v = [], []
        for k, v in self.changed.items():
            if k < self.n_store:
                if v is None:
                    keep[k] = False
                else:
                    vals[k] = v
            elif v is not None:
                extra_k.append(k)
                extra_v.append(v)
        k_all = np.concatenate([keys[keep], np.asarray(extra_k, dtype=np.int64)])
        v_all = np.concatenate([vals[keep], np.asarray(extra_v, dtype=np.int64)])
        order = np.argsort(k_all, kind="stable")
        return k_all[order], v_all[order]


class _Feed:
    """Shared bookkeeping: offsets, binlog positions, counts and replay."""

    def __init__(self, n_store: int, seed: int):
        self.rng = random.Random(seed)
        self.replay = Replay(n_store)
        self.n_store = n_store
        self.offset = 0
        self.pos = 1000
        self.events = 0  # every record emitted
        self.tombstones = 0
        self.corrupt = 0
        self.ops = {"c": 0, "u": 0, "d": 0}

    def _record(self, value: str | None, ts_ms: int) -> str:
        """One Kafka-shaped JSON line: offset, timestamp and the message."""
        rec = '{"offset": %d, "timestamp": %d, "value": %s}' % (
            self.offset, ts_ms, "null" if value is None else json.dumps(value)
        )
        self.offset += 1
        self.events += 1
        return rec

    def _change(self, op: str, before, after, ts_ms: int) -> str:
        self.pos += 10
        self.ops[op] += 1
        return self._record(envelope_json(op, before, after, self.pos, ts_ms), ts_ms)

    def _upsert_or_update(self, k: int, ts_ms: int) -> str:
        old = self.replay.get(k)
        if old is None:
            v = int(base_value(k))
            self.replay.upsert(k, v)
            return self._change("c", None, {"order_id": k, "invoice_number": v}, ts_ms)
        self.replay.upsert(k, old + 1)
        return self._change(
            "u",
            {"order_id": k, "invoice_number": old},
            {"order_id": k, "invoice_number": old + 1},
            ts_ms,
        )

    def _delete(self, k: int, ts_ms: int) -> str:
        old = self.replay.get(k)
        if old is None:
            return self._upsert_or_update(k, ts_ms)
        self.replay.delete(k)
        return self._change("d", {"order_id": k, "invoice_number": old}, None, ts_ms)

    @property
    def good_events(self) -> int:
        """Records the raw event log must hold: everything but tombstones."""
        return self.events - self.tombstones


class HotFeed(_Feed):
    """Recency-skewed feed: fresh-key inserts, updates/deletes on the
    newest ``recent_frac`` of keys."""

    def __init__(self, n_store: int, seed: int, recent_frac: float = 0.02):
        super().__init__(n_store, seed)
        self.next_key = n_store
        self.window = max(10, int(n_store * recent_frac))

    def recent_key(self) -> int:
        return self.next_key - 1 - self.rng.randrange(self.window)

    def records(self, n: int, ts_ms: int) -> list[str]:
        out = []
        for _ in range(n):
            roll = self.rng.random()
            if roll < 0.4:
                k, self.next_key = self.next_key, self.next_key + 1
                out.append(self._upsert_or_update(k, ts_ms))
            elif roll < 0.85:
                out.append(self._upsert_or_update(self.recent_key(), ts_ms))
            else:
                out.append(self._delete(self.recent_key(), ts_ms))
        return out


class BacklogFeed(_Feed):
    """Uniform-key feed with PK changes, tombstones and corrupt records."""

    def __init__(
        self,
        n_store: int,
        seed: int,
        pk_change_frac: float = 0.02,
        tombstone_frac: float = 0.005,
        corrupt_frac: float = 0.002,
    ):
        super().__init__(n_store, seed)
        self.next_key = n_store
        self.pk_change_frac = pk_change_frac
        self.tombstone_frac = tombstone_frac
        self.corrupt_frac = corrupt_frac
        self.pk_changes = 0

    def records(self, n: int, ts_ms: int) -> list[str]:
        out = []
        rng = self.rng
        for _ in range(n):
            roll = rng.random()
            if roll < self.tombstone_frac:
                self.tombstones += 1
                out.append(self._record(None, ts_ms))
                continue
            roll -= self.tombstone_frac
            if roll < self.corrupt_frac:
                self.corrupt += 1
                poison = envelope_json(
                    "c", None, {"order_id": POISON_KEY + self.corrupt, "invoice_number": 0},
                    self.pos, ts_ms,
                )
                out.append(self._record(poison[:-7], ts_ms))
                continue
            k = rng.randrange(self.n_store)
            roll = rng.random()
            if roll < 0.2:
                k, self.next_key = self.next_key, self.next_key + 1
                out.append(self._upsert_or_update(k, ts_ms))
            elif roll < 0.8:
                old = self.replay.get(k)
                if old is not None and rng.random() < self.pk_change_frac:
                    new_k, self.next_key = self.next_key, self.next_key + 1
                    self.replay.delete(k)
                    self.replay.upsert(new_k, old + 1)
                    self.pk_changes += 1
                    out.append(
                        self._change(
                            "u",
                            {"order_id": k, "invoice_number": old},
                            {"order_id": new_k, "invoice_number": old + 1},
                            ts_ms,
                        )
                    )
                else:
                    out.append(self._upsert_or_update(k, ts_ms))
            else:
                out.append(self._delete(k, ts_ms))
        return out
