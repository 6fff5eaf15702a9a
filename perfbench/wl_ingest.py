"""ingest_waves: seeded document waves through the admission funnel.

Closed loop, one caller: the next wave is submitted only after
``admission.admission_wave`` has returned and its report is collected.
The dedup (MinHash) and semantic (SRP) stores are built during set-up
from ``STORE_DOCS`` seeded documents; one wave then runs as warm-up,
and measured waves follow until ``--seconds`` have passed. Every wave
holds ``WAVE_DOCS`` documents: planted exact text copies, planted
near-identical embeddings, documents below the quality floor, and a
fresh share that the funnel admits (``gen.WAVE_SHARES``). Every
verdict is known from the generator, so each one is checked.
"""

from __future__ import annotations

import os
import time

import gen
from harness import jobs_in, median

STORE_DOCS = 1_000
WAVE_DOCS = 200
MAX_WAVES = 12
MIN_WAVES = 2
WARM_WAVES = 1


def run(ctx) -> dict:
    from trisk_spark.functions import admission
    from trisk_spark.functions.dedup_store import write_dedup_store
    from trisk_spark.functions.semantic_store import write_semantic_store

    sess, tr, spark = ctx.sess, ctx.tracer, ctx.sess.spark

    # ------------------------------------------- inputs (untimed) ----
    plan = gen.ingest_plan(ctx.seed, STORE_DOCS, MAX_WAVES, WAVE_DOCS)
    inputs = os.path.join(ctx.work, "inputs")
    os.makedirs(inputs)
    store_path = os.path.join(inputs, "store.parquet")
    gen.write_parquet(gen.docs_table(plan["store"]), store_path)
    wave_paths = []
    for w, wave in enumerate(plan["waves"]):
        path = os.path.join(inputs, f"wave-{w:03d}.parquet")
        gen.write_parquet(gen.docs_table(wave), path)
        wave_paths.append(path)
    dpath = os.path.join(ctx.work, "stores", "dedup")
    spath = os.path.join(ctx.work, "stores", "semantic")

    if tr.enabled:
        for attr, name in (
            ("probe_dedup_store", "functions.probe_text"),
            ("probe_semantic_store", "functions.probe_semantic"),
            ("append_dedup_store", "functions.append_text"),
            ("append_semantic_store", "functions.append_semantic"),
        ):
            tr.wrap(admission, attr, name)

    # -------------------------------------------- setup (timed) ------
    build_jobs: list = []
    t0 = time.perf_counter()
    with jobs_in(sess, build_jobs), tr.span("functions.store_build", new_trace=True):
        corpus = spark.read.parquet(store_path)
        write_dedup_store(spark, corpus.select("doc_id", "text"), dpath)
        write_semantic_store(
            spark, corpus.selectExpr("doc_id AS vec_id", "embedding"), spath
        )
        build_s = time.perf_counter() - t0

    wave_spans: list[int] = []

    def wave(w: int):
        with tr.span("functions.wave", new_trace=True) as sid:
            batch = spark.read.parquet(wave_paths[w])
            rows = admission.admission_wave(spark, batch, dpath, spath).collect()
        wave_spans.append(sid)
        return rows

    t0 = time.perf_counter()
    reports = {w: wave(w) for w in range(WARM_WAVES)}
    ctx.setup_s += build_s + time.perf_counter() - t0

    # ---------------------------------------------- waves ------------
    wave_s: list[float] = []
    wave_jobs: list = []
    t_end = time.perf_counter() + ctx.seconds
    w = WARM_WAVES
    while w < MAX_WAVES and (w < WARM_WAVES + MIN_WAVES or time.perf_counter() < t_end):
        with jobs_in(sess, wave_jobs):
            t0 = time.perf_counter()
            reports[w] = wave(w)
            wave_s.append(time.perf_counter() - t0)
        w += 1

    # ---------------------------------------------- checks -----------
    failed = attempted = admitted = 0
    admitted_ids: set[int] = set()
    for k, rows in reports.items():
        spec = plan["waves"][k]
        got = {}
        dupes = 0
        for r in rows:
            dupes += r["doc_id"] in got
            got[int(r["doc_id"])] = (r["stage"], -1 if r["dup_of"] is None else int(r["dup_of"]))
        for doc, stage, of in zip(spec["doc_id"], spec["expect"], spec["expect_of"]):
            attempted += 1
            want = (stage, int(of) if stage.startswith("dup_") else -1)
            failed += got.get(int(doc)) != want
            if stage == "admitted":
                admitted_ids.add(int(doc))
        failed += dupes + len(set(got) - set(int(d) for d in spec["doc_id"]))
        admitted += sum(1 for s, _ in got.values() if s == "admitted")
    def ids(path, col):
        return {int(r[0]) for r in spark.read.parquet(path).select(col).collect()}

    in_text = ids(f"{dpath}/signatures", "doc_id")
    in_sem = ids(f"{spath}/vectors", "vec_id")
    failed += len(admitted_ids - in_text) + len(admitted_ids - in_sem)

    n_docs = WAVE_DOCS * len(wave_s)
    measured = set(wave_spans[WARM_WAVES:])
    per_wave = lambda prefix: [  # noqa: E731
        sum(e - s for _t, _i, p, n, s, e in tr.spans if p == sid and n.startswith(prefix))
        for sid in measured
    ]
    layers = {
        "functions.wave_jobs_p50": median([j for j, _s, _t in wave_jobs]),
        "functions.wave_stages_p50": median([s for _j, s, _t in wave_jobs]),
        "functions.wave_tasks_p50": median([t for _j, _s, t in wave_jobs]),
        "functions.probe_text_s_p50": median(per_wave("functions.probe_text")),
        "functions.probe_semantic_s_p50": median(per_wave("functions.probe_semantic")),
        "functions.append_s_p50": median(per_wave("functions.append_")),
        "functions.admitted_frac": admitted / attempted,
        "functions.store_files": sum(len(f) for p in (dpath, spath) for _d, _s, f in os.walk(p)),
        "functions.store_build_s": build_s,
        "functions.store_build_jobs": build_jobs[0][0],
    }
    detail = {
        "wave_s_p50": median(wave_s),
        "wave_s": wave_s,
        "docs_per_s": n_docs / sum(wave_s),
        "store_docs": STORE_DOCS,
        "wave_docs": WAVE_DOCS,
        "waves_measured": len(wave_s),
        "wave_shares": gen.WAVE_SHARES,
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "latency_p50_s": median(wave_s),
        "work_per_s": n_docs / sum(wave_s),
        "layers": layers,
        "detail": detail,
    }
