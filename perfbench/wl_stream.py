"""stream_reconfig: the matchmaker stream under the control plane.

Open loop. A generator thread moves pre-written stock-order files into
the stream's input directory on a fixed schedule (``LIVE_RATE`` orders
per second, one file every ``FILE_INTERVAL_S``), whether or not the
query keeps up. Every order is stamped with its due time.

The query is ``matchmaker_stream(stock_orders(<file stream>))`` managed
by ``ManagedQuery``: each ``run_available`` call is one incarnation
that drains what is there and stops at a batch boundary. First a
pre-written backlog of ``BURST_EVENTS`` orders is drained once; that
first incarnation is cold and is the set-up. Then the live phase runs
for ``--seconds`` while the reference's ``StockController`` schedule
(rebalance, two scale-outs, a scale-in) is applied evenly through it;
each step re-shards state by replaying the input into a fresh
checkpoint, which is a warm drain of the whole backlog.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from datetime import datetime, timezone

import numpy as np

import checks
import gen
from harness import jobs_in, median, pct, tail_pct

BURST_EVENTS = 10_000
BURST_FILES = 10
#: About half the warm backlog-drain rate (``work_per_s``, ~9000 orders/s
#: on 4 cores at 2000 orders/s). The cold first drain is not the
#: reference: its rate (~600-900 orders/s) is mostly start-up cost.
LIVE_RATE = 4_500
FILE_INTERVAL_S = 0.25
N_RECONFIGS = 4


def _wall(ts: str) -> float:
    """Progress-event timestamp (ISO, UTC) -> epoch seconds."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _write_files(cols, bounds, ts_us, out_dir, prefix) -> list[str]:
    paths = []
    for k, (lo, hi) in enumerate(bounds):
        path = os.path.join(out_dir, f"{prefix}-{k:05d}.parquet")
        gen.write_parquet(gen.orders_slice(cols, lo, hi, ts_us[lo:hi]), path)
        paths.append(path)
    return paths


def run(ctx) -> dict:
    from trisk_spark.controlplane.controllers import StockController
    from trisk_spark.controlplane.managed import ManagedQuery
    from trisk_spark.registry import load_all
    from trisk_spark.sources.stock import stock_orders
    from trisk_spark.streaming.state import matchmaker_stream

    sess, tr, spark = ctx.sess, ctx.tracer, ctx.sess.spark
    seconds = ctx.seconds
    stock_matchmaker = load_all()["stock_matchmaker"].fn

    # ------------------------------------------- inputs (untimed) ----
    per_file = int(LIVE_RATE * FILE_INTERVAL_S)
    n_live_files = int(math.ceil(seconds / FILE_INTERVAL_S))
    n_total = BURST_EVENTS + n_live_files * per_file
    cols = gen.orders(ctx.seed, n_total)
    dirs = {d: os.path.join(ctx.work, d) for d in ("live", "pantry")}
    for d in dirs.values():
        os.makedirs(d)
    # ts: burst orders one millisecond apart before the live phase, live
    # orders at their due offset; both relative to gen.TS_BASE_US
    burst_ts = gen.TS_BASE_US - (BURST_EVENTS - np.arange(BURST_EVENTS)) * 1000
    live_due = (np.arange(n_live_files) + 1) * FILE_INTERVAL_S
    live_ts = gen.TS_BASE_US + np.repeat(live_due * 1e6, per_file).astype(np.int64)
    ts_us = np.concatenate([burst_ts, live_ts]).astype(np.int64)
    step = BURST_EVENTS // BURST_FILES
    burst_bounds = [(i, i + step) for i in range(0, BURST_EVENTS, step)]
    live_bounds = [
        (BURST_EVENTS + k * per_file, BURST_EVENTS + (k + 1) * per_file)
        for k in range(n_live_files)
    ]
    _write_files(cols, burst_bounds, ts_us, dirs["live"], "burst")
    pantry = _write_files(cols, live_bounds, ts_us, dirs["pantry"], "live")

    def build(sp, plan):
        src = sp.readStream.schema(gen.EVENTS_DDL).parquet(dirs["live"])
        return matchmaker_stream(stock_orders(src))

    mq = ManagedQuery(spark, "bench", build, mode="append", parallelism=ctx.cores)
    calls: list[dict] = []  # one per run_available call

    # Progress is read from the stopped query's handle. A Python
    # StreamingQueryListener misses the progress events of some of these
    # short availableNow incarnations (3 of 9 calls in one measured run),
    # so it cannot give every batch.
    def run_available(tag: str) -> dict:
        t0w = time.time()
        with tr.span("controlplane.run_available", new_trace=True) as sid:
            mq.run_available()
        call = {
            "tag": tag, "inc": mq.incarnation, "t0": t0w, "t1": time.time(), "span": sid,
            "progress": [json.loads(p.json) for p in mq.query.recentProgress],
        }
        calls.append(call)
        return call

    # ------------------------------------------ burst: the set-up ----
    # The first drain is cold (plan compile, Python workers), so it is
    # the warm-up and counts as set-up time.
    burst = run_available("burst")
    catchup_eps = BURST_EVENTS / (burst["t1"] - burst["t0"])
    ctx.setup_s += burst["t1"] - burst["t0"]

    # ----------------------------------------------- live ------------
    written_at: list[float] = []
    due_at: list[float] = []
    t_live0 = time.time() + FILE_INTERVAL_S

    def feeder():
        for k, src in enumerate(pantry):
            due = t_live0 + (k + 1) * FILE_INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(src, os.path.join(dirs["live"], os.path.basename(src)))
            written_at.append(time.time())
            due_at.append(due)

    th = threading.Thread(target=feeder, name="order-generator")
    th.start()
    controller = StockController()
    reconfig_due = [
        t_live0 + seconds * (k + 1) / (N_RECONFIGS + 1) for k in range(N_RECONFIGS)
    ]
    reconfigs: list[dict] = []
    try:
        while th.is_alive() or len(reconfigs) < N_RECONFIGS:
            if len(reconfigs) < N_RECONFIGS and time.time() >= reconfig_due[len(reconfigs)]:
                plan = mq.get_plan_copy()
                controller.on_stage(len(reconfigs) + 1, plan, mq.operator)
                t0 = time.time()
                with tr.span("controlplane.apply", new_trace=True):
                    entry = mq.apply(plan)
                t1 = time.time()
                call = run_available("resume")
                reconfigs.append({"entry": entry, "t0": t0, "t1": t1, "call": call})
            else:
                run_available("live")
    finally:
        th.join()
    run_available("drain")
    t_end = time.time()

    # (incarnation, batch id) -> batch end (epoch s); batch rows in order
    batch_end: dict[tuple[int, int], float] = {}
    batches: list[dict] = []
    for c in calls:
        c["batches"] = []
        for p in c["progress"]:
            start = _wall(p["timestamp"])
            b = {"call": c, "p": p, "start": start, "end": start + p["batchDuration"] / 1000.0}
            batch_end[(c["inc"], p["batchId"])] = b["end"]
            c["batches"].append(b)
            batches.append(b)

    # ---------------------------------------------- checks -----------
    first: dict[tuple, tuple] = {}
    first_t: dict[tuple, float] = {}
    reemit_wrong = 0
    emissions = 0
    for inc, bid, row in mq.emitted:
        emissions += 1
        key = (int(row["match_seq"]), int(row["buy_no"]), int(row["sell_no"]))
        val = (row["sec_code"], int(row["trade_price"]), int(row["trade_vol"]))
        if key in first:
            reemit_wrong += val != first[key]
            continue
        first[key] = val
        first_t[key] = batch_end.get((inc, bid), float("nan"))
    want_trades = checks.fold_trades(cols["event_id"], cols["user_id"], cols["value"])
    wrong = checks.trade_mismatches(first, want_trades)
    missing_times = sum(1 for t in first_t.values() if math.isnan(t))

    # the batch operator over the same orders must give the same trades
    sf = os.path.join(ctx.work, "sf")
    os.makedirs(sf)
    gen.write_parquet(
        gen.orders_slice(cols, 0, n_total, ts_us), os.path.join(sf, "events.parquet")
    )
    op_jobs: list = []
    with jobs_in(sess, op_jobs), tr.span("operators.stock_matchmaker", new_trace=True):
        t0 = time.perf_counter()
        with tr.span("operators.stock_matchmaker.build"):
            df = stock_matchmaker(spark, sf)
        op_build_s = time.perf_counter() - t0
        with tr.span("operators.stock_matchmaker.action"):
            batch_trades = checks.trade_map(df.collect())
        op_action_s = time.perf_counter() - t0 - op_build_s
    batch_wrong = checks.trade_mismatches(batch_trades, want_trades)

    failed = wrong + reemit_wrong + missing_times + batch_wrong + (len(reconfigs) != N_RECONFIGS)
    attempted = 2 * len(want_trades) + emissions + N_RECONFIGS

    # ---------------------------------------------- latency ----------
    due_of_file = np.array(due_at)
    lat = [
        t - due_of_file[(seq - BURST_EVENTS) // per_file]
        for (seq, _b, _s), t in first_t.items()
        if seq >= BURST_EVENTS and not math.isnan(t)
    ]
    tail_q = tail_pct(len(lat))

    # ------------------------------------------- layer metrics -------
    dur = lambda k: [b["p"]["durationMs"].get(k, 0) for b in batches]  # noqa: E731
    state = [b["p"]["stateOperators"][0] for b in batches if b["p"].get("stateOperators")]
    # Orders are processed in file order, so the rows a checkpoint
    # lineage has read give the newest processed order.
    lags, replayed, lineage_rows = [], 0, 0
    written = np.array(written_at)
    for b in batches:
        if b["call"]["tag"] == "resume" and b["p"]["batchId"] == 0:
            # fresh checkpoint: what the old lineage processed is read again
            replayed += lineage_rows
            lineage_rows = 0
        lineage_rows += b["p"]["numInputRows"]
        newest_done = (lineage_rows - 1 - BURST_EVENTS) // per_file  # live file index
        n_written = int(np.searchsorted(written, b["end"], side="right"))
        if newest_done >= 0 and n_written:
            lags.append((n_written - 1 - newest_done) * FILE_INTERVAL_S)
    restart = [c["batches"][0]["start"] - c["t0"] for c in calls if c["batches"]]
    # every replay drains the whole input again from empty state: the
    # warm backlog-drain rate is their rows over their batch time
    replays = [r["call"]["batches"][0]["p"] for r in reconfigs if r["call"]["batches"]]
    drain_eps = sum(p["numInputRows"] for p in replays) / sum(
        p["batchDuration"] / 1000.0 for p in replays
    )
    resume, catchup, reconfig_s = [], [], []
    for r in reconfigs:
        own = r["call"]["batches"]
        if own:
            resume.append(own[0]["end"] - r["t1"])
            catchup.append(own[-1]["end"] - own[0]["end"])
        # the resumed incarnation drains every file present when it
        # starts, so its last batch covers all orders written before apply
        reconfig_s.append((own[-1]["end"] if own else r["call"]["t1"]) - r["t0"])

    if tr.enabled:
        for b in batches:
            t0 = b["start"] + tr.wall_to_pc
            sid = tr.add("streaming.batch", t0, b["end"] + tr.wall_to_pc, b["call"]["span"])
            for key, name in (
                ("latestOffset", "sources.latest_offset"),
                ("queryPlanning", "streaming.query_planning"),
                ("walCommit", "streaming.wal_commit"),
                ("addBatch", "streaming.add_batch"),
            ):
                d = b["p"]["durationMs"].get(key, 0) / 1000.0
                tr.add(name, t0, t0 + d, sid)
                t0 += d

    layers = {
        "sources.latest_offset_ms_p50": median(dur("latestOffset")),
        "sources.input_lag_s_p50": median(lags),
        "sources.gen_late_s_max": max(w - d for w, d in zip(written_at, due_at)),
        "streaming.query_planning_ms_p50": median(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": median(dur("walCommit")),
        "streaming.trigger_ms_p50": median(dur("triggerExecution")),
        "streaming.add_batch_ms_p50": median(dur("addBatch")),
        "streaming.batches": len(batches),
        "streaming.batch_rows_p50": median([b["p"]["numInputRows"] for b in batches]),
        "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_bytes": state[-1]["memoryUsedBytes"] if state else 0,
        "streaming.state_commit_ms_p50": median([s["commitTimeMs"] for s in state]),
        "streaming.state_update_ms_p50": median([s["allUpdatesTimeMs"] for s in state]),
        "streaming.results": len(first),
        "streaming.reemitted": emissions - len(first),
        "controlplane.sync_s_p50": median([r["entry"]["sync_s"] for r in reconfigs]),
        "controlplane.update_s_p50": median([r["entry"]["update_s"] for r in reconfigs]),
        "controlplane.resume_s_p50": median(resume),
        "controlplane.catchup_s_p50": median(catchup),
        "controlplane.restart_s_p50": median(restart),
        "controlplane.replayed_events": replayed,
        "controlplane.reconfigs": len(reconfigs),
        "controlplane.incarnations": mq.incarnation + 1,
        "controlplane.reconfig_s_p50": median(reconfig_s),
        "operators.build_s": op_build_s,
        "operators.action_s": op_action_s,
        "operators.jobs": op_jobs[0][0],
        "operators.stages": op_jobs[0][1],
        "operators.tasks": op_jobs[0][2],
        "operators.stock_matchmaker.build_s": op_build_s,
        "operators.stock_matchmaker.action_s": op_action_s,
        "operators.stock_matchmaker.jobs": op_jobs[0][0],
    }
    detail = {
        "result_latency_p50_s": median(lat),
        f"result_latency_p{tail_q:g}_s": pct(lat, tail_q),
        "result_latency_samples": len(lat),
        "catchup_events_per_s": catchup_eps,
        "replay_events_per_s": drain_eps,
        "reconfig_s_p50": median(reconfig_s),
        "reconfig_s": reconfig_s,
        "live_rate_events_per_s": LIVE_RATE,
        "live_s": t_end - t_live0,
        "run_available_calls": len(calls),
        "failed_by_check": {
            "stream_vs_fold": wrong, "reemitted_changed": reemit_wrong,
            "no_emit_time": missing_times, "batch_vs_fold": batch_wrong,
        },
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "latency_p50_s": median(lat),
        "work_per_s": drain_eps,
        "layers": layers,
        "detail": detail,
    }
