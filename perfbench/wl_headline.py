"""The headline workload: the 25 ``headline=True`` registry queries over
seeded tables, one closed-loop client, every result materialised with
``collect``. The timed pass is each query's first execution in the
session, after a warm-up that pays the session's one-time costs (the way
``bench.py`` warms up). Every result is checked against the registry's
DuckDB oracle after the timed pass."""

from __future__ import annotations

import time
from statistics import median

import duckdb
import numpy as np
import pandas as pd

from simple_cdc_service_spark.registry import REGISTRY
from simple_cdc_service_spark.sources.tables import TABLES, load_table

from common import Ctx, pct
from tables_gen import generate

SIZES = {"full": dict(sf=0.01), "tiny": dict(sf=0.001)}

GROUPS = {
    "relational": [
        "cdc_snapshot", "cdc_scd2", "q1_pricing_summary", "q3_shipping_priority",
        "q5_region_revenue", "q6_forecast_revenue", "q8_market_share", "q10_returned_items",
        "window_tumbling", "asof_join_signup", "funnel_conversion", "retention_cohorts",
    ],
    "dedup": [
        "dedup_minhash", "dedup_minhash_fast", "dedup_incremental", "contamination_check",
        "knn_bruteforce", "knn_bruteforce_pandas",
    ],
    "text": [
        "text_quality", "quality_outliers", "tfidf_top_terms", "unigram_logprob",
        "bigram_logprob", "ngram_top", "media_features",
    ],
}


def headline_queries() -> list[str]:
    return [name for name, spec in REGISTRY.items() if spec.headline]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(s: pd.DataFrame, o: pd.DataFrame) -> list[str]:
    """Row count, column names, then order-insensitive values: floats must be
    bit-equal (both sides round), everything else equal as text."""
    if sorted(s.columns) != sorted(o.columns):
        return [f"columns differ: engine={sorted(s.columns)} oracle={sorted(o.columns)}"]
    if len(s) != len(o):
        return [f"row count differs: engine={len(s)} oracle={len(o)}"]
    s, o = normalize(s), normalize(o)
    probs = []
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            a, b = sv.astype(float).to_numpy(), ov.astype(float).to_numpy()
            bad = (a != b) & ~(np.isnan(a) & np.isnan(b))
            if bad.any():
                probs.append(f"col {c}: {int(bad.sum())} float values differ")
        else:
            neq = (sv.astype(str) != ov.astype(str)).sum()
            if neq:
                probs.append(f"col {c}: {int(neq)} values differ")
    return probs


def oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def run_headline(ctx: Ctx) -> None:
    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    sf_dir = ctx.path("sf")
    generate(sf_dir, SIZES[ctx.size]["sf"], ctx.seed)
    names = headline_queries()

    t0 = time.perf_counter()
    with tr.span("sources.tables.load", op="load"):
        for t in TABLES:
            load_table(spark, t, sf_dir)
    load_s = time.perf_counter() - t0
    ctx.layer("setup.load_s", load_s, "s")

    failed_q: dict[str, str] = {}

    def execute(name: str, tag: str) -> tuple[float, float, float, list]:
        if ctx.trace:
            sc.setJobDescription(f"perfbench {name} {tag}")
        w0 = time.perf_counter()
        with tr.span("query", op=f"{name}#{tag}"):
            with tr.span("registry.build", op=f"{name}#{tag}"):
                df = REGISTRY[name].fn(spark, sf_dir)
            b1 = time.perf_counter()
            with tr.span("collect", op=f"{name}#{tag}"):
                rows = df.collect()
        w1 = time.perf_counter()
        if ctx.trace:
            sc.setJobDescription(None)
        return b1 - w0, w1 - b1, w1 - w0, (df.schema, rows)

    # warm-up, as bench.py does it: one query pays the JVM's first-query
    # class loading, one pandas job starts the Python worker pool. Each
    # headline query still runs its first execution inside the timed pass.
    t0 = time.perf_counter()
    with tr.span("warmup", op="warmup"):
        REGISTRY[names[0]].fn(spark, sf_dir).collect()
        par = sc.defaultParallelism
        spark.range(0, par * 4).repartition(par).mapInPandas(lambda it: it, "id long").count()
    warm_s = time.perf_counter() - t0
    ctx.layer("setup.warmup_s", warm_s, "s")

    # timed: one pass, each query's first execution in this session
    times: dict[str, tuple[float, float, float]] = {}  # name -> (build, collect, wall)
    results: dict[str, tuple] = {}
    w_start = time.time()
    t0 = time.perf_counter()
    for name in names:
        try:
            build, run, wall, results[name] = execute(name, "timed")
        except Exception as e:  # noqa: BLE001 - a raising query is counted
            failed_q[name] = f"raised: {e}"[:300]
            continue
        times[name] = (build, run, wall)
    timed = time.perf_counter() - t0
    ctx.window = (w_start, w_start + timed)

    # correctness: every result against the registry's DuckDB oracle
    t_check = time.perf_counter()
    con = oracle_con(sf_dir)
    for name, (schema, rows) in results.items():
        spec = REGISTRY[name]
        try:
            got = pd.DataFrame.from_records(rows, columns=schema.fieldNames())
            if spec.oracle_setup is not None:
                spec.oracle_setup(con)
            want = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            failed_q[name] = f"check raised: {e}"[:300]
            continue
        probs = compare(got, want)
        if probs:
            failed_q[name] = "; ".join(probs)[:300]
    con.close()
    ctx.info["check_s"] = time.perf_counter() - t_check
    ctx.checks["all_queries_match_oracle"] = not failed_q
    ctx.info["failed_queries"] = failed_q
    ctx.attempted = len(names)
    ctx.failed = len(failed_q)

    walls = {n: w for n, (_, _, w) in times.items()}
    total = sum(walls.values())
    ctx.metric("query_total_s", total, "s", len(walls))
    for g, members in GROUPS.items():
        ctx.metric(f"query_{g}_s", sum(walls[n] for n in members if n in walls), "s",
                   sum(1 for n in members if n in walls))
    ctx.metric("queries_per_s", len(walls) / timed, "1/s", len(walls))
    ctx.metric("query_p50_s", pct(walls.values(), 50), "s", len(walls))
    ctx.metric("query_p90_s", pct(walls.values(), 90), "s", len(walls))
    ctx.info.update(query_s=walls, result_rows={n: len(r[1]) for n, r in results.items()})
    ctx.layer("generator.events", len(walls), "count")

    ctx.layer("ops.count", len(walls), "count")
    ctx.layer("ops.ms_p50", pct(walls.values(), 50) * 1e3, "ms")
    ctx.layer("ops.build_ms_p50", median([b for b, _, _ in times.values()]) * 1e3, "ms")
    ctx.layer("ops.exec_ms_p50", median([r for _, r, _ in times.values()]) * 1e3, "ms")
    ctx.layer("ops.rows_p50", median([len(r[1]) for r in results.values()]), "count")
    if not ctx.trace:
        return
    for n, (build, run, _) in times.items():
        ctx.layer(f"registry.{n}.build_s", build, "s")
        ctx.layer(f"registry.{n}.run_s", run, "s")
    # build + collect per query should account for the measured pass time
    explained = sum(b + r for b, r, _ in times.values())
    gap = abs(explained - timed) / timed
    ctx.layer("trace.accounting_gap_frac", gap, "ratio")
    ctx.checks["trace.accounting_within_10pct"] = gap <= 0.10


def headline_jobs(ctx: Ctx, log) -> tuple[list[int], int]:
    ids = log.select(lambda j: j["desc"].startswith("perfbench ") and j["desc"].endswith(" timed"))
    return ids, ctx.layers["ops.count"][0]


def headline_query_layers(ctx: Ctx, log) -> None:
    """registry.<query>.exchange_bytes: shuffle write plus broadcast size per
    timed execution, from the jobs carrying that query's description."""
    for n in headline_queries():
        ids = log.select(lambda j, n=n: j["desc"] == f"perfbench {n} timed")
        t = log.task_totals(ids)
        ctx.layer(f"registry.{n}.exchange_bytes", t["shuffle_write"] + log.broadcast_bytes(ids),
                  "bytes")
