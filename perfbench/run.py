#!/usr/bin/env python3
"""The repo benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It builds inputs from ``--seed``,
starts Spark on ``local[<cores>]`` (all usable cores unless ``--cores``
says otherwise), runs the workload for ``--seconds``, checks every
output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when ``--trace 0`` and the per-layer
metrics (from spans and counters) when ``--trace 1``. The line before
it carries every measured figure by name, with the core count. All
scratch files live under ``.bench_work/`` in the current directory;
the full result and, for traced runs, the spans are kept in
``.bench_work/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from wl_batch import BATCH_QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("stream_reconfig", "ingest_waves", "batch_events")

E2E = {
    "latency_p50_s": "s",
    "work_per_s": "1/s",
    "setup_s": "s",
}
#: Per-layer metrics every workload reports; 0 means the workload does
#: not exercise that layer.
LAYER_UNITS = {
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "sources.latest_offset_ms_p50": "ms",
    "sources.input_lag_s_p50": "s",
    "sources.gen_late_s_max": "s",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.batches": "count",
    "streaming.batch_rows_p50": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.state_update_ms_p50": "ms",
    "streaming.results": "count",
    "streaming.reemitted": "count",
    "controlplane.sync_s_p50": "s",
    "controlplane.update_s_p50": "s",
    "controlplane.resume_s_p50": "s",
    "controlplane.catchup_s_p50": "s",
    "controlplane.restart_s_p50": "s",
    "controlplane.replayed_events": "count",
    "controlplane.reconfigs": "count",
    "controlplane.incarnations": "count",
    "controlplane.reconfig_s_p50": "s",
    "functions.wave_jobs_p50": "count",
    "functions.wave_stages_p50": "count",
    "functions.wave_tasks_p50": "count",
    "functions.probe_text_s_p50": "s",
    "functions.probe_semantic_s_p50": "s",
    "functions.append_s_p50": "s",
    "functions.admitted_frac": "ratio",
    "functions.store_files": "count",
    "functions.store_build_s": "s",
    "functions.store_build_jobs": "count",
    "operators.build_s": "s",
    "operators.action_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    # the one query stream_reconfig runs as its batch check
    "operators.stock_matchmaker.build_s": "s",
    "operators.stock_matchmaker.action_s": "s",
    "operators.stock_matchmaker.jobs": "count",
    "trace.spans": "count",
    "trace.latency_p50_s": "s",
}
LAYERS = ("session", "sources", "streaming", "controlplane", "functions", "operators", "bench")
for _l in LAYERS:
    LAYER_UNITS[f"{_l}.self_s"] = "s"
#: Per-query metrics that only batch_events reports (not gated).
BATCH_UNITS = {
    f"operators.{q}.{m}": u
    for q in BATCH_QUERIES
    for m, u in (("build_s", "s"), ("action_s", "s"), ("jobs", "count"))
}


class Ctx:
    """What a workload gets: the session, the tracer, its inputs' seed,
    the run length and a private work directory. Workloads add their
    own set-up time to ``setup_s``."""

    def __init__(self, sess, tracer, seed, seconds, work, cores):
        self.sess, self.tracer, self.seed = sess, tracer, seed
        self.seconds, self.work, self.cores = seconds, work, cores
        self.setup_s = 0.0


def _usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=_usable_cores())
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "trisk_spark", "__init__.py")):
        print("perfbench: no trisk_spark package in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    work_root = os.path.join(root, ".bench_work")
    # one run at a time per checkout: a killed run's leftovers go here
    work = os.path.join(work_root, "run")
    results = os.path.join(work_root, "results")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(results, exist_ok=True)
    # every scratch path of Python, Spark, the JVMs and the program stays
    # in ``work`` (-XX:-UsePerfData: no hsperfdata file under /tmp)
    os.environ.update(
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TMPDIR=tmp, TZ="UTC", SPARK_GRAFT_CPUS=str(args.cores), SPARK_GRAFT_DRIVER_MEM="2g",
        TRISK_CHECKPOINT_BASE=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    import gen
    from harness import Session, Tracer

    gen.self_check(args.seed)
    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("session.start", new_trace=True):
        sess = Session()
    try:
        ctx = Ctx(sess, tracer, args.seed, args.seconds, work, args.cores)
        ctx.setup_s = sess.start_s
        mod = __import__(f"wl_{args.workload.split('_')[0]}")
        with tracer.span("bench.workload", new_trace=True):
            out = mod.run(ctx)
        compiles, compile_s = sess.codegen()
        mem = sess.jvm_peak_rss_mb()
    finally:
        sess.close()

    e2e = {
        "latency_p50_s": out["latency_p50_s"],
        "work_per_s": out["work_per_s"],
        "setup_s": ctx.setup_s,
    }
    units = dict(LAYER_UNITS, **(BATCH_UNITS if args.workload == "batch_events" else {}))
    layers = dict.fromkeys(units, 0)
    layers.update(out["layers"])
    layers["session.start_s"] = sess.start_s
    layers["jvm.peak_rss_mb"] = mem
    layers["codegen.compiles"] = compiles
    layers["codegen.compile_s"] = compile_s
    self_s = tracer.self_times()
    for layer in LAYERS:
        layers[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    layers["trace.spans"] = len(tracer.spans)
    layers["trace.latency_p50_s"] = out["latency_p50_s"] if tracer.enabled else 0
    unknown = set(layers) - set(units)
    if unknown:
        raise RuntimeError(f"unregistered layer metrics: {sorted(unknown)}")

    correct = out["failed"] == 0
    full = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": args.cores, "correct": correct,
        "attempted": out["attempted"], "failed": out["failed"],
        "failed_frac": out["failed"] / out["attempted"],
        "end_to_end": e2e, "detail": out["detail"], "per_layer": layers,
    }
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(full, f, indent=1, default=float)
    if tracer.enabled:
        tracer.dump(os.path.join(results, f"{tag}-spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    shown = (
        {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
        if args.trace
        else {k: {"value": float(v), "unit": E2E[k]} for k, v in e2e.items()}
    )
    print(json.dumps(full, default=float))
    print(json.dumps({
        "correct": correct, "attempted": int(out["attempted"]),
        "failed": int(out["failed"]), "metrics": shown,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
