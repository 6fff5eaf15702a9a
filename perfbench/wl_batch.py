"""batch_events: the 14 headline queries that read only ``events``.

Closed loop, one caller: the queries run one after another through
``registry.load_all()`` against a benchmark-written directory holding
the seeded ``events.parquet``, each output going to the noop sink. A
pass is the 14 queries. Set-up runs one cold pass that collects every
output and checks it: 13 queries against the registry's DuckDB oracle,
``stock_matchmaker`` against the pure-Python order-book fold. Measured
warm passes follow until ``--seconds`` have passed.
"""

from __future__ import annotations

import os
import time

import checks
import gen
from harness import jobs_in, median

BATCH_QUERIES = (
    "nexmark_q1", "nexmark_q2", "nexmark_q5", "nexmark_q8", "nexmark_q11",
    "keyed_agg", "time_evictor_window", "interval_join", "asof_join",
    "count_window", "fraud_alerts", "ts_subsequence_match",
    "ts_subsequence_sax", "stock_matchmaker",
)
N_EVENTS = 10_000
MIN_PASSES = 1


def run(ctx) -> dict:
    import duckdb

    sess, tr, spark = ctx.sess, ctx.tracer, ctx.sess.spark

    # ------------------------------------------- inputs (untimed) ----
    sf = os.path.join(ctx.work, "sf")
    os.makedirs(sf)
    events = gen.events(ctx.seed, N_EVENTS)
    gen.write_parquet(events, os.path.join(sf, "events.parquet"))

    # -------------------------------------------- setup (timed) ------
    t0 = time.perf_counter()
    with tr.span("operators.load_registry", new_trace=True):
        from trisk_spark.registry import load_all

        registry = load_all()
    setup = time.perf_counter() - t0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    failed = attempted = 0
    for q in BATCH_QUERIES:
        t0 = time.perf_counter()
        with tr.span(f"operators.{q}.check", new_trace=True):
            df = registry[q].fn(spark, sf)
            rows = df.collect()
        setup += time.perf_counter() - t0
        attempted += 1
        if q == "stock_matchmaker":
            want = checks.fold_trades(
                events["event_id"].to_numpy(), events["user_id"].to_numpy(),
                events["value"].to_numpy(),
            )
            failed += checks.trade_mismatches(checks.trade_map(rows), want) > 0
        else:
            dcols, drows = checks.oracle_rows(con, registry[q].oracle)
            failed += not checks.same_rows(df.columns, rows, dcols, drows)
    con.close()
    ctx.setup_s += setup

    # ---------------------------------------------- passes -----------
    build: dict[str, list[float]] = {q: [] for q in BATCH_QUERIES}
    action: dict[str, list[float]] = {q: [] for q in BATCH_QUERIES}
    jobs: dict[str, list] = {q: [] for q in BATCH_QUERIES}
    pass_s: list[float] = []
    t_end = time.perf_counter() + ctx.seconds
    while len(pass_s) < MIN_PASSES or time.perf_counter() < t_end:
        total = 0.0
        for q in BATCH_QUERIES:
            attempted += 1
            with jobs_in(sess, jobs[q]), tr.span(f"operators.{q}", new_trace=True):
                t0 = time.perf_counter()
                with tr.span(f"operators.{q}.build"):
                    df = registry[q].fn(spark, sf)
                t1 = time.perf_counter()
                with tr.span(f"operators.{q}.action"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            build[q].append(t1 - t0)
            action[q].append(t2 - t1)
            total += t2 - t0
        pass_s.append(total)

    def per_pass(d):
        return [sum(d[q][i] for q in BATCH_QUERIES) for i in range(len(pass_s))]

    layers = {
        "operators.build_s": median(per_pass(build)),
        "operators.action_s": median(per_pass(action)),
        "operators.jobs": sum(jobs[q][0][0] for q in BATCH_QUERIES),
        "operators.stages": sum(jobs[q][0][1] for q in BATCH_QUERIES),
        "operators.tasks": sum(jobs[q][0][2] for q in BATCH_QUERIES),
    }
    for q in BATCH_QUERIES:
        layers[f"operators.{q}.build_s"] = median(build[q])
        layers[f"operators.{q}.action_s"] = median(action[q])
        layers[f"operators.{q}.jobs"] = jobs[q][0][0]
    detail = {
        "batch_pass_s": median(pass_s),
        "pass_s": pass_s,
        "events": N_EVENTS,
        "queries": len(BATCH_QUERIES),
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "latency_p50_s": median(
            [b + a for q in BATCH_QUERIES for b, a in zip(build[q], action[q])]
        ),
        "work_per_s": len(BATCH_QUERIES) * len(pass_s) / sum(pass_s),
        "layers": layers,
        "detail": detail,
    }
