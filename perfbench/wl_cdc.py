"""The ``cdc`` workload: a consumer catches up after an outage, then runs live.

Catch-up phase: pre-written backlogs (uniform keys, PK-changing updates,
tombstones, corrupt records) are drained with ``availableNow`` by
``start_replica_merge`` (the versioned store) and ``start_event_log_sink``,
one drain per simulated outage. The per-batch cost is amortised over
25k records and every batch rewrites the whole store.

Live phase: an open-loop feed at a fixed rate, with keys skewed toward
recent rows, into a long-lived ``start_replica_merge_manifest`` (default
trigger) over a bootstrapped manifest store. ``start_event_log_sink`` runs
on the same source and one closed-loop reader does point lookups through
``read_replica_manifest``. Each event costs little here, so the fixed cost
of every micro-batch sets freshness.

After the timed phases, for both stores: the replica equals a sequential
replay, the raw log holds every non-tombstone record, and no corrupt record
reached the replica.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
from datetime import datetime
from statistics import median

import numpy as np
from pyspark.sql import functions as F

from simple_cdc_service_spark.config import INVOICE
from simple_cdc_service_spark.streaming import (
    ProgressRecorder,
    bootstrap_manifest_store,
    read_changelog_stream,
    read_replica,
    read_replica_manifest,
    start_event_log_sink,
    start_replica_merge,
    start_replica_merge_manifest,
)

from cdc_feed import POISON_KEY, BacklogFeed, HotFeed
from common import Ctx, pct

SIZES = {
    "full": dict(
        # catch-up: versioned store rows, records per drain, files per drain,
        # fewest timed drains
        backlog_store=120_000, per_drain=25_000, files=8, min_drains=4,
        # live: manifest store rows, events/s
        live_store=300_000, rate=400,
    ),
    "tiny": dict(
        backlog_store=20_000, per_drain=5_000, files=2, min_drains=2,
        live_store=20_000, rate=100,
    ),
}

# seconds between two files of the live feed
TICK = 0.1
# files of the bootstrapped manifest store; recency-skewed changes touch one
STORE_FILES = 6
# live micro-batches before the timed window
WARM_BATCHES = 2


class Recorder(ProgressRecorder):
    """The engine's ProgressRecorder, plus each trigger's start time."""

    def __init__(self, path: str):
        super().__init__(path)
        self.starts: dict[tuple[str, int], float] = {}

    def onQueryProgress(self, event) -> None:  # noqa: N802 (Spark API)
        p = event.progress
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.starts[(str(p.id), p.batchId)] = ts
        super().onQueryProgress(event)

    def wait(self, query_id: str, batches, timeout: float = 30.0) -> None:
        """Wait until the listener bus, which runs behind the query, has
        delivered the progress of ``batches``."""
        deadline = time.time() + timeout
        while not set(batches) <= self.progress(query_id).keys() and time.time() < deadline:
            time.sleep(0.1)

    def progress(self, query_id: str) -> dict[int, dict]:
        out = {}
        if not os.path.exists(self.path):
            return out
        with open(self.path) as f:
            for line in f:
                r = json.loads(line)
                if r.get("event") == "progress" and r["id"] == query_id:
                    r["start"] = self.starts.get((query_id, r["batch_id"]))
                    out[r["batch_id"]] = r
        return out


def write_records(src: str, name: str, records: list[str]) -> None:
    """Publish one JSON-lines file atomically (hidden temp name, then rename:
    the file source never lists a half-written file)."""
    tmp = os.path.join(src, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(records))
        f.write("\n")
    os.replace(tmp, os.path.join(src, name))


def file_batches(checkpoint: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's checkpoint log."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def check_outputs(ctx: Ctx, prefix: str, replica, log_dir: str, feed, expected_log: int) -> None:
    """Full replica == sequential replay, no poison key in it, and the raw
    log holds every non-tombstone record."""
    pdf = replica.select("order_id", "invoice_number").toPandas().sort_values("order_id")
    keys, vals = feed.replay.expected()
    got_k = pdf["order_id"].to_numpy()
    got_v = pdf["invoice_number"].to_numpy()
    ctx.checks[f"{prefix}.replica_equals_replay"] = bool(
        len(got_k) == len(keys) and (got_k == keys).all() and (got_v == vals).all()
    )
    ctx.checks[f"{prefix}.no_corrupt_in_replica"] = bool(not (got_k >= POISON_KEY).any())
    n = ctx.spark.read.parquet(log_dir).count()
    ctx.info[f"{prefix}.raw_log_rows"] = n
    ctx.checks[f"{prefix}.raw_log_rows_equal_non_tombstone"] = n == expected_log


def _boot_df(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("order_id"), (F.col("id") * 7 + 1).alias("invoice_number")
    )


def _phase_ms(r: dict, *keys: str) -> float:
    return float(sum(r["duration_ms"].get(k, 0) for k in keys))


def _stream_layers(ctx: Ctx, prefix: str, rs: list[dict]) -> None:
    """Structured Streaming phases of the given micro-batches, as medians."""
    if not rs:
        return

    def med(*keys: str) -> float:
        return median([_phase_ms(r, *keys) for r in rs])

    ctx.layer(f"{prefix}.batches", len(rs), "count")
    ctx.layer(f"{prefix}.rows_per_batch_p50", median([r["num_input_rows"] for r in rs]), "count")
    ctx.layer(f"{prefix}.trigger_ms_p50", med("triggerExecution"), "ms")
    ctx.layer(f"{prefix}.add_batch_ms_p50", med("addBatch"), "ms")
    ctx.layer(f"{prefix}.source_ms_p50", med("latestOffset", "getBatch"), "ms")
    ctx.layer(f"{prefix}.planning_ms_p50", med("queryPlanning"), "ms")
    ctx.layer(f"{prefix}.checkpoint_ms_p50", med("walCommit", "commitOffsets"), "ms")


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


class Phase:
    """Directories, feed and queries of one phase."""

    def __init__(self, ctx: Ctx, name: str):
        self.name = name
        self.src, self.log, self.state = (ctx.path(name, d) for d in ("src", "log", "state"))
        self.ck_merge, self.ck_log = ctx.path(name, "ckpt_merge"), ctx.path(name, "ckpt_log")
        os.makedirs(self.src)


def setup_backlog_store(ctx: Ctx, ph: Phase, n_store: int) -> float:
    """A one-record batch creates the versioned store's v0 and both
    checkpoints; v0's payload is then replaced by the bootstrapped rows."""
    spark = ctx.spark
    ph.boot_feed = BacklogFeed(1, ctx.seed)
    write_records(ph.src, "boot.json", ph.boot_feed.records(1, 0))
    t0 = time.perf_counter()
    with ctx.tracer.span("store.versioned.bootstrap", op="setup"):
        drain(ctx, ph, "boot")
        _boot_df(spark, n_store).write.mode("overwrite").parquet(os.path.join(ph.state, "v0"))
    return time.perf_counter() - t0


def setup_live_store(ctx: Ctx, ph: Phase, p: dict) -> float:
    t0 = time.perf_counter()
    with ctx.tracer.span("store.manifest.bootstrap", op="setup"):
        bootstrap_manifest_store(_boot_df(ctx.spark, p["live_store"]), INVOICE, ph.state,
                                 target_rows_per_file=-(-p["live_store"] // STORE_FILES))
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# catch-up phase
# ---------------------------------------------------------------------------


def drain(ctx: Ctx, ph: Phase, tag: str) -> tuple[float, float, list]:
    """One catch-up: both sinks started with availableNow, both awaited."""
    spark, tr = ctx.spark, ctx.tracer
    errors = []
    t0 = time.time()
    with tr.span("drain", op=tag):
        with tr.span("start_replica_merge", op=tag):
            mq = start_replica_merge(read_changelog_stream(spark, ph.src), INVOICE, ph.state,
                                     ph.ck_merge)
        with tr.span("start_event_log_sink", op=tag):
            lq = start_event_log_sink(read_changelog_stream(spark, ph.src), ph.log, ph.ck_log)
        for q in (mq, lq):
            try:
                q.awaitTermination()
            except Exception as e:  # noqa: BLE001 - a raising batch is counted
                errors.append(e)
    ctx.info.setdefault("catchup.queries", []).append((tag, str(mq.id), str(lq.id)))
    return t0, time.time(), errors


def _versions(state: str) -> list[int]:
    out = []
    for d in glob.glob(os.path.join(state, "v*")):
        name = os.path.basename(d)
        if name[1:].isdigit() and os.path.exists(os.path.join(d, "_SUCCESS")):
            out.append(int(name[1:]))
    return out


def catch_up(ctx: Ctx, ph: Phase, p: dict, seconds: float) -> None:
    feed = ph.feed = BacklogFeed(p["backlog_store"], ctx.seed)
    chunk = 0

    def publish(n: int) -> dict[str, int]:
        """Write one backlog of ``n`` records over several files."""
        nonlocal chunk
        names = {}
        per = -(-n // p["files"])
        for f in range(p["files"]):
            name = f"b{chunk:04d}_{f:02d}.json"
            write_records(ph.src, name, feed.records(per, 1_700_000_000_000 + chunk))
            names[name] = per
        chunk += 1
        return names

    # warm-up drain of one backlog: the first catch-up with data pays code
    # generation and most of the JIT, so the timed drains all run warm
    publish(p["per_drain"])
    t0 = time.perf_counter()
    _, _, errs = drain(ctx, ph, "warm")
    ph.warm_s = time.perf_counter() - t0
    ph.failed = len(errs)

    # timed: one backlog per outage until the drained time reaches
    # ``seconds``, and at least ``min_drains`` of them
    drains, samples, timed = [], [], 0.0
    while timed < seconds or len(drains) < p["min_drains"]:
        names = publish(p["per_drain"])
        before = set(_versions(ph.state))
        t0, t1, errs = drain(ctx, ph, f"drain{len(drains)}")
        ph.failed += len(errs)
        new = sorted(set(_versions(ph.state)) - before)
        drains.append({"t0": t0, "t1": t1, "records": sum(names.values()), "batches": new})
        # per event: commit time of its micro-batch minus the drain start
        fb = file_batches(ph.ck_merge)
        for name, k in names.items():
            if fb.get(name) in new:
                done = os.stat(os.path.join(ph.state, f"v{fb[name]}", "_SUCCESS")).st_mtime
                samples.extend([done - t0] * k)
        timed += t1 - t0
    ph.drains, ph.timed = drains, timed
    ph.attempted = sum(max(1, len(d["batches"])) for d in drains) + 1

    # drain rate: all drained records over all drain time
    ctx.metric("events_per_s", sum(d["records"] for d in drains) / timed, "1/s", len(drains))
    ctx.metric("catchup_p50_s", pct(samples, 50), "s", len(samples))
    ctx.metric("catchup_p90_s", pct(samples, 90), "s", len(samples))
    ctx.info["catchup.drains"] = [
        {"records": d["records"], "batches": d["batches"], "s": d["t1"] - d["t0"]} for d in drains
    ]
    ctx.info["catchup.feed"] = dict(events=feed.events, ops=feed.ops, tombstones=feed.tombstones,
                                    corrupt=feed.corrupt, pk_changes=feed.pk_changes)


def catch_up_layers(ctx: Ctx, ph: Phase, rec: Recorder) -> None:
    """Per-layer figures of the timed drains (traced run only)."""
    timed = [(m, lg) for tag, m, lg in ctx.info["catchup.queries"] if tag.startswith("drain")]
    prog = {}
    for m, _ in timed:
        prog.update(rec.progress(m))
    batches = [b for d in ph.drains for b in d["batches"]]
    _stream_layers(ctx, "catchup", [prog[b] for b in batches if b in prog])
    # drain wall = query start (up to its first trigger) + trigger phases;
    # the gap is what they miss
    explained, starts = 0.0, []
    for d in ph.drains:
        rs = [prog[b] for b in d["batches"] if prog.get(b, {}).get("start") is not None]
        if rs:
            starts.append(min(r["start"] for r in rs) - d["t0"])
            explained += starts[-1] + sum(_phase_ms(r, "triggerExecution") for r in rs) / 1e3
    ctx.layer("catchup.accounting_gap_frac", abs(explained - ph.timed) / ph.timed, "ratio")
    ctx.layer("catchup.query_start_ms_p50", median(starts or [0.0]) * 1e3, "ms")
    lr = [r for _, lg in timed for r in rec.progress(lg).values() if r["num_input_rows"]]
    if lr:
        ctx.layer("catchup.event_log.trigger_ms_p50",
                  median([_phase_ms(r, "triggerExecution") for r in lr]), "ms")
    # the versioned store: every batch rewrites the whole store
    records = sum(d["records"] for d in ph.drains)
    rows = sum(ctx.spark.read.parquet(os.path.join(ph.state, f"v{b}")).count() for b in batches)
    files = [p for b in batches for p in glob.glob(os.path.join(ph.state, f"v{b}", "*.parquet"))]
    ctx.layer("store.versioned.files_live",
              len(glob.glob(os.path.join(ph.state, f"v{batches[-1]}", "*.parquet"))), "count")
    ctx.layer("store.versioned.files_touched_frac", 1.0, "ratio")
    ctx.layer("store.versioned.rows_written_per_event", rows / max(1, records), "ratio")
    ctx.layer("store.versioned.bytes_written", sum(os.path.getsize(p) for p in files), "bytes")
    ctx.info["catchup.query_ids"] = [m for m, _ in timed]


# ---------------------------------------------------------------------------
# live phase
# ---------------------------------------------------------------------------


def live(ctx: Ctx, ph: Phase, p: dict, seconds: float) -> None:
    spark, tr = ctx.spark, ctx.tracer
    feed = ph.feed = HotFeed(p["live_store"], ctx.seed)
    files: dict[str, tuple[float, int]] = {}  # name -> (due time, events)
    lateness: list[float] = []
    stop_feed = threading.Event()
    feed_error: list[BaseException] = []
    manifests = os.path.join(ph.state, "manifest")

    def generate(t_start: float) -> None:
        """Open loop: file i is due at t_start + i * tick, however the
        engine keeps up."""
        try:
            per_tick = max(1, round(p["rate"] * TICK))
            i = 0
            while not stop_feed.is_set():
                due = t_start + i * TICK
                delay = due - time.time()
                if delay > 0 and stop_feed.wait(delay):
                    return
                name = f"t{i:08d}.json"
                write_records(ph.src, name, feed.records(per_tick, int(due * 1000)))
                files[name] = (due, per_tick)
                lateness.append(time.time() - due)
                i += 1
        except BaseException as e:  # noqa: BLE001 - reported as a failed check
            feed_error.append(e)

    def committed() -> dict[int, float]:
        """micro-batch id -> commit time of the manifest version it wrote."""
        out = {}
        for m in glob.glob(os.path.join(manifests, "v*.json")):
            v = os.path.basename(m)[1:-5]
            if v.isdigit():
                out[int(v)] = os.stat(m).st_mtime
        return out

    t_q0 = time.perf_counter()
    with tr.span("start_replica_merge_manifest", op="live"):
        merge_q = start_replica_merge_manifest(
            read_changelog_stream(spark, ph.src), INVOICE, ph.state, ph.ck_merge,
            trigger_available_now=False,
        )
    with tr.span("start_event_log_sink", op="live"):
        log_q = start_event_log_sink(
            read_changelog_stream(spark, ph.src), ph.log, ph.ck_log, trigger_available_now=False,
        )
    gen = threading.Thread(target=generate, args=(time.time(),), daemon=True)
    gen.start()

    # warm-up: until the live feed has gone through a few micro-batches
    deadline = time.time() + 120
    while len(committed()) < WARM_BATCHES and merge_q.isActive and time.time() < deadline:
        time.sleep(0.05)
    ph.warm_s = time.perf_counter() - t_q0

    # timed window with one closed-loop reader of recent keys
    lookups: list[float] = []
    lookup_files: list[int] = []
    lookup_failed = [0]
    rr = random.Random(ctx.seed + 1)
    t_w0 = time.time()
    t_w1 = t_w0 + seconds

    def reader() -> None:
        n = 0
        while time.time() < t_w1:
            k = feed.next_key - 1 - rr.randrange(feed.window)
            t0 = time.perf_counter()
            try:
                with tr.span("read_replica_manifest", op=f"lookup{n}"):
                    df = read_replica_manifest(spark, ph.state)
                    df.filter(F.col("order_id") == k).collect()
                lookups.append(time.perf_counter() - t0)
                if ctx.trace:
                    lookup_files.append(len(df.inputFiles()))
            except Exception:  # noqa: BLE001 - a failed lookup is counted
                lookup_failed[0] += 1
            n += 1

    rd = threading.Thread(target=reader, daemon=True)
    rd.start()
    rd.join(seconds + 60)
    ctx.window = (t_w0, t_w1)
    stop_feed.set()
    gen.join(30)

    # tail: wait until every published file is committed (or the query died)
    deadline = time.time() + 90
    while merge_q.isActive and time.time() < deadline:
        fb = file_batches(ph.ck_merge)
        if files.keys() <= fb.keys() and max(fb[n] for n in files) in committed():
            break
        time.sleep(0.1)
    merge_err = merge_q.exception()
    for q in (merge_q, log_q):
        q.stop()
    log_err = log_q.exception()

    # per event: commit time of the version holding it minus its due time
    fb = file_batches(ph.ck_merge)
    commit_t = committed()
    samples, window_batches = [], set()
    for name, (due, n) in files.items():
        b = fb.get(name)
        if b in commit_t and t_w0 <= due < t_w1:
            samples.extend([commit_t[b] - due] * n)
            window_batches.add(b)
    # commit rate: cumulative committed events, interpolated linearly between
    # commits, at the two ends of the window
    events_of: dict[int, int] = {}
    for name, (_, n) in files.items():
        if fb.get(name) in commit_t:
            events_of[fb[name]] = events_of.get(fb[name], 0) + n
    curve_t, curve_n, total = [], [], 0
    for b in sorted(events_of):
        total += events_of[b]
        curve_t.append(commit_t[b])
        curve_n.append(total)
    rate = (np.interp(t_w1, curve_t, curve_n) - np.interp(t_w0, curve_t, curve_n)) / seconds

    ph.attempted = max(1, len(window_batches)) + len(lookups) + lookup_failed[0]
    ph.failed = lookup_failed[0] + (merge_err is not None) + (log_err is not None)
    ctx.checks["live.merge_query_ok"] = merge_err is None
    ctx.checks["live.event_log_query_ok"] = log_err is None
    ctx.checks["live.feed_ok"] = not feed_error
    ctx.checks["live.all_events_committed"] = files.keys() <= fb.keys()

    ctx.metric("live_events_per_s", float(rate), "1/s",
               sum(1 for t in curve_t if t_w0 <= t < t_w1))
    # one sample per event, but the events of a batch share its commit
    # time: the batches are the independent samples
    ctx.metric("freshness_p50_s", pct(samples, 50), "s", len(window_batches))
    ctx.metric("freshness_p90_s", pct(samples, 90), "s", len(window_batches))
    ctx.metric("replica_read_p50_s", pct(lookups, 50), "s", len(lookups))
    ctx.metric("replica_read_p90_s", pct(lookups, 90), "s", len(lookups))
    ctx.layer("generator.events", feed.events, "count")
    ctx.layer("generator.late_max_s", max(lateness), "s")
    ph.window_batches = sorted(window_batches)
    ph.files, ph.fb, ph.lookup_files = files, fb, lookup_files
    ph.merge_id, ph.log_id = str(merge_q.id), str(log_q.id)
    ctx.info["live.window_batches"] = ph.window_batches
    ctx.info["live.feed"] = dict(events=feed.events, ops=feed.ops)


def live_layers(ctx: Ctx, ph: Phase, rec: Recorder) -> None:
    """Per-layer figures of the live window (traced run only)."""
    prog = rec.progress(ph.merge_id)
    ctx.info["live.trigger_ms"] = {b: r["duration_ms"].get("triggerExecution")
                                   for b, r in sorted(prog.items())}
    rs = [prog[b] for b in ph.window_batches if b in prog]
    _stream_layers(ctx, "streaming", rs)
    t_w0, t_w1 = ctx.window
    # queue wait: trigger start minus due time, per event; with the trigger
    # phases up to the commit it should account for freshness
    qwait, explained = [], []
    for name, (due, n) in ph.files.items():
        r = prog.get(ph.fb.get(name))
        if r is not None and r["start"] is not None and t_w0 <= due < t_w1:
            through_commit = _phase_ms(r, "latestOffset", "getBatch", "walCommit",
                                       "queryPlanning", "addBatch") / 1e3
            qwait.extend([r["start"] - due] * n)
            explained.extend([r["start"] - due + through_commit] * n)
    fresh = ctx.e2e["freshness_p50_s"][0]
    gap = abs(pct(explained, 50) - fresh) / fresh
    ctx.layer("streaming.queue_wait_ms_p50", pct(qwait, 50) * 1e3, "ms")
    ctx.layer("trace.accounting_gap_frac", gap, "ratio")
    ctx.checks["trace.accounting_within_10pct"] = gap <= 0.10
    lr = [r for r in rec.progress(ph.log_id).values() if r["start"] and t_w0 <= r["start"] < t_w1]
    if lr:
        ctx.layer("event_log.trigger_ms_p50",
                  median([_phase_ms(r, "triggerExecution") for r in lr]), "ms")
    ctx.layer("event_log.files", len(glob.glob(os.path.join(ph.log, "*.parquet"))), "count")
    # generic op-level names shared with the headline workload
    ctx.layer("ops.count", len(rs), "count")
    ctx.layer("ops.ms_p50", ctx.layers["streaming.trigger_ms_p50"][0], "ms")
    ctx.layer("ops.build_ms_p50", median(
        [_phase_ms(r, "latestOffset", "getBatch", "queryPlanning") for r in rs]), "ms")
    ctx.layer("ops.exec_ms_p50", ctx.layers["streaming.add_batch_ms_p50"][0], "ms")
    ctx.layer("ops.rows_p50", ctx.layers["streaming.rows_per_batch_p50"][0], "count")

    # the manifest store, from its committed metadata
    manifests = {}
    for b in ph.window_batches:
        with open(os.path.join(ph.state, "manifest", f"v{b}.json")) as f:
            manifests[b] = json.load(f)
    last = manifests[max(manifests)]
    ctx.layer("store.files_live", len(last["files"]), "count")
    ctx.layer("store.read_files", median(ph.lookup_files), "count")
    touched = [m["files_touched"] / max(1, m["files_total"]) for m in manifests.values()]
    ctx.layer("store.files_touched_frac", sum(touched) / len(touched), "ratio")
    rows_w = bytes_w = 0
    for b, m in manifests.items():
        written = [e for e in m["files"] if e["path"].startswith(f"data/v{b}/")]
        rows_w += sum(e["rows"] for e in written)
        bytes_w += sum(os.path.getsize(os.path.join(ph.state, e["path"])) for e in written)
    events = sum(prog[b]["num_input_rows"] for b in manifests if b in prog)
    ctx.layer("store.rows_written_per_event", rows_w / max(1, events), "ratio")
    ctx.layer("store.bytes_written", bytes_w, "bytes")


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def run_cdc(ctx: Ctx) -> None:
    p = SIZES[ctx.size]
    spark = ctx.spark
    back, hot = Phase(ctx, "catchup"), Phase(ctx, "live")

    rec = None
    if ctx.trace:
        rec = Recorder(ctx.path("progress.jsonl"))
        spark.streams.addListener(rec)

    # set-up of both stores; catch-up gets 30% of the run (and at least
    # ``min_drains`` drains), the live window the rest: freshness needs the
    # most batches
    versioned_s = setup_backlog_store(ctx, back, p["backlog_store"])
    manifest_s = setup_live_store(ctx, hot, p)
    ctx.layer("store.versioned.bootstrap_s", versioned_s, "s")
    ctx.layer("store.bootstrap_s", manifest_s, "s")
    ctx.layer("setup.load_s", versioned_s + manifest_s, "s")

    marks = {"setup": time.perf_counter()}
    catch_up(ctx, back, p, ctx.seconds * 0.3)
    marks["catchup"] = time.perf_counter()
    live(ctx, hot, p, ctx.seconds * 0.7)
    marks["live"] = time.perf_counter()
    if rec is not None:
        rec.wait(hot.merge_id, hot.window_batches)
        spark.streams.removeListener(rec)
    # set-up is fixed work only; the live warm-up waits for micro-batches,
    # so its length depends on when the triggers fall
    ctx.layer("setup.warmup_s", back.warm_s, "s")
    ctx.layer("live.warmup_wait_s", hot.warm_s, "s")

    # outputs, outside the timed phases (+1: the set-up record is in the log too)
    check_outputs(ctx, "catchup", read_replica(spark, back.state), back.log, back.feed,
                  back.feed.good_events + back.boot_feed.good_events)
    check_outputs(ctx, "live", read_replica_manifest(spark, hot.state), hot.log, hot.feed,
                  hot.feed.good_events)
    marks["checks"] = time.perf_counter()
    ctx.info["phase_end_s"] = {k: v - marks["setup"] for k, v in marks.items()}
    ctx.attempted = back.attempted + hot.attempted
    ctx.failed = back.failed + hot.failed
    for prefix, ph in (("catchup.", back), ("live.", hot)):
        if not all(ok for k, ok in ctx.checks.items() if k.startswith(prefix)):
            ctx.failed += ph.attempted - ph.failed  # a wrong replica fails every batch

    if ctx.trace:
        catch_up_layers(ctx, back, rec)
        live_layers(ctx, hot, rec)
        ctx.info["live.merge_query_id"] = hot.merge_id
        ctx.info["live.op_batches"] = hot.window_batches


def cdc_jobs(ctx: Ctx, log) -> tuple[list[int], int]:
    """Event-log jobs of the live window's micro-batches."""
    qid = ctx.info["live.merge_query_id"]
    wb = {str(b) for b in ctx.info["live.op_batches"]}
    return log.select(lambda j: j["query_id"] == qid and j["batch_id"] in wb), len(wb)
