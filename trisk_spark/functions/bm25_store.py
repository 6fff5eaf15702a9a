"""Persisted BM25 inverted-index store: the incremental-lexical member
of the persisted-store family (``dedup_store``'s MinHash band store =
text near-dup, ``semantic_store``'s SRP band store = embedding
near-dup, THIS = lexical retrieval). ``bm25_top_docs`` scores a
compile-time seed-query set in one corpus-scan plan; at 100 TB the
corpus is indexed ONCE and every later query — targeted domain mining,
DSIR seed expansion, eval-set retrieval — probes the written index
reading ONLY the buckets its terms route to.

Layout:

  * ``<path>/postings``: (term, doc_id, tf, dl) partitioned by
    ``bucket = md5(term) mod N_BM25_BUCKETS``; all of a term's postings
    share one bucket, so per-term document frequency is computable
    from the pruned read alone.
  * ``<path>/doclens``: (doc_id, dl) — the per-document accounting
    table: rebuild asset, duplicate-replay detection asset, and the
    source the corpus stats recompute from.
  * ``<path>/stats``: ONE row (n_docs, total_len) — the BM25
    normalizer (N, avgdl). Maintained INCREMENTALLY (old + wave) and
    committed via the ``storefs`` swap, so a probe never scans
    corpus-sized doclens just to learn two numbers.

The protocol — routing, pruned probe read, append, ingest, compact,
repair, takedown and the DURABILITY MODEL with its crash windows — is
``postings_store``'s, shared with ``phrase_store``; this module holds
the BM25 ``PostingsSpec`` with its doclens/stats tail, the
exact-rational scoring shared with ``bm25_top_docs`` (text.py's
float-determinism contract: both factors of every contribution are
functions of exact BIGINTs; the house ROUND(·,6) → DECIMAL → order-free
SUM collapses the ln ulp), the stats frame and the registered row.
Stats name the crash-window counters: ``n_unlisted_posting_docs``
(append died between postings and doclens), ``stats_lag`` (died
before the stats swap; repair = ``repair_stats``) and
``n_dup_doc_ids`` / ``n_dup_postings`` (watermark replay; repair =
``repair_replayed_append``).

Reference: the reference has no retrieval index (beyond-reference
mandate, SURVEY.md §7 step 7); the scoring kernels (``text.py:1280`` —
the exact-rational BM25 and the `_lm_tokens` tokenizer) are imported,
not re-derived.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import local_rows
from trisk_spark.functions import postings_store, storefs
from trisk_spark.registry import register
from trisk_spark.functions.text import (
    BM25_QUERIES,
    BM25_TOP_DOCS_SQL,
    BM25_TOP_K,
    _lm_tokens,
)

N_BM25_BUCKETS = postings_store.N_BUCKETS

#: ceiling on one probe's materialized hits (postings rows for the
#: query's terms) — a stopword-ish term with corpus-scale postings
#: makes the probe honest-but-huge work; fail loud instead of paging
#: through it silently (the MAX_DEDUP_PROBE_ROWS class)
MAX_BM25_PROBE_POSTINGS = 2_000_000

BM25_ARRIVING_MOD = storefs.ARRIVING_MOD
MAX_DELETE_IDS = storefs.MAX_DELETE_IDS

_bucket_of = postings_store.bucket_of
_bucket_col = postings_store.bucket_col


def _wave_postings_doclens(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) frames for a (doc_id, text) wave: doclens is
    one (doc_id, dl) row per document (zero-token docs included — they
    count in N and avgdl); postings is the exploded full-vocabulary
    (term, doc_id, tf, dl, bucket) table — the ONE corpus-sized
    shuffle an inverted-index build inherently is, paid at write time
    so probes never pay it."""
    # tokenize ONCE per row: dl derives from the sorted array (sort
    # preserves length) — two _lm_tokens() references in one projection
    # would each re-run the split (the _bm25_stats_tf_df r17 fix)
    base = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id", F.array_sort(_lm_tokens()).alias("_ts")
    ).select("doc_id", F.size("_ts").alias("dl"), "_ts")
    doclens = base.select("doc_id", F.col("dl").cast("bigint").alias("dl"))
    # (term, tf) computed IN-ROW from the sorted token array (run-length
    # over run-start positions) instead of explode + groupBy: the wave
    # shuffles exactly ONCE (the bucket repartition at write) and the
    # corpus-sized hash aggregation disappears — r17, value-identical
    # rows (pytest-pinned) and 2-3x the build throughput. Shuffle-free,
    # so the same expressions serve the ingest stream.
    runs = base.select(
        "doc_id", "dl", "_ts",
        F.expr(
            # sequence(1, 0) DESCENDS, so the empty-token case must
            # short-circuit before the range is built (caught by the
            # in-row ≡ explode+groupBy pin on an empty doc)
            "CASE WHEN size(_ts) = 0 THEN array() ELSE "
            "filter(sequence(1, size(_ts)), "
            "i -> i = 1 OR element_at(_ts, i) != element_at(_ts, i - 1)) "
            "END"
        ).alias("_st"),
    )
    pairs = F.expr(
        "transform(_st, (s, j) -> struct(element_at(_ts, s) AS term, "
        "CAST(coalesce(try_element_at(_st, j + 2), size(_ts) + 1) - s "
        "AS BIGINT) AS tf))"
    )
    postings = (
        runs.select("doc_id", "dl", F.explode(pairs).alias("p"))
        .select(
            F.col("p.term").alias("term"), "doc_id",
            F.col("p.tf").alias("tf"),
            F.col("dl").cast("bigint").alias("dl"),
            postings_store.bucket_col(F.col("p.term")),
        )
    )
    return postings, doclens


def _stats_of(doclens: DataFrame) -> DataFrame:
    """The 1-row (n_docs, total_len) normalizer of a doclens frame."""
    return doclens.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("total_len"),
    )


def _commit_stats(path: str, stats: DataFrame) -> None:
    """Swap a new stats row in through the crash-safe compaction swap."""
    stats.coalesce(1).write.mode("overwrite").parquet(
        f"{storefs.strip_file_scheme(path)}/stats_compact_tmp"
    )
    storefs.swap_in_compacted(path, ("stats",))


def _write_tail(spark: SparkSession, path: str, doclens: DataFrame) -> None:
    """Doclens, then the stats row, of a freshly written store."""
    doclens.write.mode("overwrite").parquet(f"{path}/doclens")
    # stats derive from the WRITTEN doclens parquet, not the doclens
    # lineage: the lineage replays the whole corpus tokenize a third
    # time just to sum two columns, while the written table is a
    # 2-column scan (r18 — measured one full tokenize pass off the
    # build).
    _stats_of(spark.read.parquet(f"{path}/doclens")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")


def _append_tail(spark: SparkSession, path: str, doclens: DataFrame, wave) -> None:
    """Doclens append, then the stats row old + wave: O(wave), never a
    corpus rescan."""
    doclens.write.mode("append").parquet(f"{path}/doclens")
    old = spark.read.parquet(f"{path}/stats").collect()[0]
    _commit_stats(
        path,
        local_rows(
            spark,
            [(int(old["n_docs"]) + wave["n"], int(old["total_len"]) + wave["w_len"])],
            "n_docs bigint, total_len bigint",
        ),
    )


def _delete_tail(spark: SparkSession, path: str, ids: list) -> None:
    """Doclens without the victims, then a stats recompute, each
    through the swap — re-runnable from the intent at every step."""
    doclens = spark.read.parquet(f"{path}/doclens")
    if doclens.where(F.col("doc_id").isin(ids)).limit(1).count() > 0:
        doclens.where(~F.col("doc_id").isin(ids)).write.mode("overwrite").parquet(
            f"{storefs.strip_file_scheme(path)}/doclens_compact_tmp"
        )
        storefs.swap_in_compacted(path, ("doclens",))
    # stats recompute is unconditional while the intent exists: after
    # the doclens swap a replay can no longer see the victims, but the
    # stats row may still carry them
    _commit_stats(path, _stats_of(spark.read.parquet(f"{path}/doclens")))


SPEC = postings_store.PostingsSpec(
    name="bm25",
    columns=("term", "doc_id", "tf", "dl"),
    to_wave=_wave_postings_doclens,
    max_probe_postings=MAX_BM25_PROBE_POSTINGS,
    tables=("postings", "doclens", "stats"),
    measures=lambda: [F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("w_len")],
    write_tail=_write_tail,
    append_tail=_append_tail,
    delete_tail=_delete_tail,
)

_run_recorded_delete = partial(postings_store.run_recorded_delete, SPEC)


def write_bm25_store(spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Persist the inverted index for a (doc_id, text) corpus frame:
    bucket-partitioned postings, the doclens accounting table, and the
    1-row stats table."""
    postings_store.write(SPEC, spark, docs, path)


def probe_bm25_store(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple[str, ...]] | None = None,
    top_k: int = BM25_TOP_K,
    max_postings: int = MAX_BM25_PROBE_POSTINGS,
    exclude_self: bool = False,
) -> DataFrame:
    """Score a query set against the written index and return the
    per-query top-k — (query_id, doc_id, n_terms, score, rank), the
    exact ``bm25_top_docs`` output shape and arithmetic. The postings
    read prunes to the query terms' buckets (driver-side routing — no
    routing job at all) plus a term-level pushdown filter inside them;
    document frequency derives from the pruned read (a term's postings
    all share one bucket); N/avgdl come from the 1-row stats table.
    The hits frame is materialized once behind the fail-loud ceiling;
    everything downstream of it is hits-sized. ``exclude_self`` drops
    pairs whose doc_id equals the query_id BEFORE ranking — the
    more-like-this convention (``retrieval.hybrid_store_probe``
    queries by probe document id)."""
    queries = BM25_QUERIES if queries is None else queries
    terms = sorted({t for ts in queries.values() for t in ts})
    if not terms:
        return spark.createDataFrame(
            [],
            "query_id int, doc_id bigint, n_terms bigint, "
            "score double, rank int",
        )
    hits = postings_store.hits(SPEC, spark, path, terms, max_postings)
    df = hits.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    qterms = local_rows(
        spark,
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "query_id int, term string",
    )
    stats = spark.read.parquet(f"{path}/stats")
    n, t_len, tfc, dfc, dl = (
        F.col("n_docs"), F.col("total_len"),
        F.col("tf"), F.col("df"), F.col("dl").cast("bigint"),
    )
    # the text.py exact-rational arrangement verbatim (k1=6/5, b=3/4)
    idf = F.log(
        (F.lit(2) * n + F.lit(2)).cast("double")
        / (F.lit(2) * dfc + F.lit(1)).cast("double")
    )
    sat = (F.lit(44) * tfc * t_len).cast("double") / (
        F.lit(20) * tfc * t_len + F.lit(6) * t_len + F.lit(18) * dl * n
    ).cast("double")
    pair = (
        hits.join(F.broadcast(df), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "doc_id",
            F.round(idf * sat, 6).cast("decimal(18,6)").alias("contrib"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum("contrib").alias("s"),
        )
    )
    if exclude_self:
        pair = pair.where(F.col("doc_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), "doc_id")
    return (
        pair.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            "doc_id", "n_terms",
            F.col("s").cast("double").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def append_bm25_store(spark: SparkSession, new_docs: DataFrame, path: str) -> None:
    """ADMIT a wave: postings into the buckets they route to, then
    doclens, then the incrementally-updated stats row through the
    swap. append(store, wave) ≡ ``write_bm25_store`` over existing ∪
    wave, table for table (``postings_store.append``)."""
    postings_store.append(SPEC, spark, new_docs, path)


def bm25_ingest_stream(spark: SparkSession, docs_stream: DataFrame, path: str, sink):
    """``append_bm25_store`` per micro-batch under the persisted
    batch-id replay guard; ``sink(wave_doclens_df, batch_id)`` receives
    each admitted wave's (doc_id, dl) frame, materialized."""
    return postings_store.ingest_stream(SPEC, spark, docs_stream, path, sink)


def _queries_of(rows) -> dict[int, tuple[str, ...]]:
    queries: dict[int, tuple[str, ...]] = {}
    for r in rows:
        queries[int(r["query_id"])] = queries.get(int(r["query_id"]), ()) + (r["term"],)
    return queries


def bm25_probe_stream(spark: SparkSession, queries_stream: DataFrame, path: str, sink):
    """Streaming retrieval: each micro-batch of (query_id, term) rows is
    ``probe_bm25_store`` with its own driver-side routing (stream ≡
    batch pytest-pinned). The sink must materialize inside the call."""
    return postings_store.probe_stream(
        queries_stream,
        lambda rows: probe_bm25_store(spark, path, _queries_of(rows)),
        sink,
    )


def repair_bm25_store(path: str) -> None:
    """Finish or roll back a half-swapped table (``storefs.repair_store``)."""
    postings_store.repair(SPEC, path)


def repair_replayed_append(spark: SparkSession, path: str) -> None:
    """Repair a replayed wave: dropDuplicates rewrites of doclens (by
    doc_id) and postings (by (term, doc_id)) through the crash-safe
    swap, then a stats recompute."""
    storefs.repair_replayed_append(spark, path, "doclens", "doc_id")
    postings_store.repair_replayed_append(SPEC, spark, path)
    repair_stats(spark, path)


def repair_stats(spark: SparkSession, path: str) -> None:
    """Recompute the 1-row stats table from doclens and swap it in —
    the repair for an append that crashed before its stats commit
    (``stats_lag`` > 0). A deliberate corpus-row-count scan of the
    2-column doclens table: recovery-path only."""
    storefs.require_rename_fs(path, "repair_stats")
    storefs.repair_store(path, ("stats",))
    _commit_stats(path, _stats_of(spark.read.parquet(f"{path}/doclens")))


def compact_bm25_store(spark: SparkSession, path: str, doclen_files: int = 8) -> None:
    """Rewrite doclens into ``doclen_files`` files and postings into one
    file per bucket, then swap them in (content untouched)."""
    postings_store.compact(SPEC, spark, path, {"doclens": doclen_files})


def bm25_store_stats(spark: SparkSession, path: str) -> DataFrame:
    """Store health table — one row with (n_docs, total_len,
    n_doclen_rows, n_posting_rows, n_terms, max_term_postings,
    n_dup_doc_ids, n_dup_postings, n_unlisted_posting_docs,
    stats_lag). The crash detectors: ``n_dup_doc_ids`` /
    ``n_dup_postings`` > 0 = a replayed append (repair =
    ``repair_replayed_append``); ``n_unlisted_posting_docs`` > 0 = a
    crash between the postings and doclens appends (repair = re-run
    the wave, then clear duplicates); ``stats_lag`` > 0 = an append
    that died before its stats commit (repair = ``repair_stats``).
    ``max_term_postings`` is the probe-cost signal: the most frequent
    indexed term's postings size — the ceiling a worst-case
    single-term probe materializes."""
    dl = spark.read.parquet(f"{path}/doclens")
    d = dl.agg(
        F.count("*").cast("bigint").alias("n_doclen_rows"),
        (F.count("*") - F.count_distinct(F.col("doc_id")))
        .cast("bigint")
        .alias("n_dup_doc_ids"),
        F.count_distinct(F.col("doc_id")).cast("bigint").alias("_n_distinct"),
    )
    p = spark.read.parquet(f"{path}/postings")
    unlisted = (
        p.select("doc_id")
        .distinct()
        .join(dl.select("doc_id"), "doc_id", "left_anti")
        .agg(F.count("*").cast("bigint").alias("n_unlisted_posting_docs"))
    )
    s = spark.read.parquet(f"{path}/stats")
    return (
        s.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(postings_store.health(spark, path)))
        .crossJoin(F.broadcast(unlisted))
        .select(
            "n_docs", "total_len", "n_doclen_rows", "n_posting_rows",
            "n_terms", "max_term_postings", "n_dup_doc_ids",
            "n_dup_postings", "n_unlisted_posting_docs",
            (F.col("_n_distinct") - F.col("n_docs"))
            .cast("bigint")
            .alias("stats_lag"),
        )
    )


# ------------------------------------------- self-contained library --

#: one bm25-store scratch dir per (session, corpus), memoizing the
#: FULLY-BUILT store (write existing + append arriving): the append is
#: part of the op under test, and a repeat call must probe, not
#: re-append.
_BM25_STORES = storefs.ScratchStoreCache("trisk_bm25_store_")

corpus_store_path = partial(postings_store.corpus_store_path, SPEC, _BM25_STORES)


BM25_INCREMENTAL_SQL = BM25_TOP_DOCS_SQL


@register("bm25_incremental", oracle=BM25_INCREMENTAL_SQL)
def bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental lexical retrieval over the persisted index,
    self-contained for an oracle gate: build the index over the
    corpus's existing slice, APPEND the arriving slice (the
    incremental admission under test), then probe the seed-query set
    against the combined index. Because the index is exact — postings
    and doclens are facts, not sketches — the result must equal
    whole-corpus ``bm25_top_docs`` ROW FOR ROW, so the oracle is that
    query's own ``BM25_TOP_DOCS_SQL`` verbatim: one value-hash covers
    write → append → route → pruned probe → exact-rational scoring,
    and append ≡ rebuild is part of what the hash asserts. SEATED in
    r16 (the R16 seat trade, LEAD seat — the persisted BM25 store's
    only possible independent driver-hash row)."""
    return probe_bm25_store(spark, corpus_store_path(spark, sf_dir))


# ------------------------------------------------------- takedown ----


def delete_from_bm25_store(spark: SparkSession, doc_ids, path: str) -> None:
    """TAKEDOWN: afterwards the index ≡ ``write_bm25_store`` over the
    corpus without the victims — postings through the staged partition
    delete, then doclens and the stats row; every crash window resumes
    from the durable intent (``postings_store``)."""
    ids = postings_store.record_delete(SPEC, spark, doc_ids, path)
    if ids:
        # through the module name, so a patched _run_recorded_delete
        # can crash a takedown after its intent landed
        _run_recorded_delete(spark, ids, path)


def resume_pending_delete(spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted; True if one was pending."""
    return postings_store.resume_pending_delete(SPEC, spark, path)
