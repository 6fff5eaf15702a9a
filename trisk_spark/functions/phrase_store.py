"""Persisted POSITIONAL postings store: the phrase/proximity member of
the persisted-store family. ``phrase_search`` answers a probe SET with
one map-only corpus scan — right for ad-hoc probes, wrong for a
STANDING phrase workload: at 100 TB every new watchlist pays a full
corpus read. This store pays the positional-index build ONCE and
serves every later phrase/proximity probe from a driver-routed,
partition-pruned read of only the buckets its terms live in — the
``bm25_store`` economics applied to Lucene-style positional semantics.

Layout: ONE table, ``<path>/postings``: (term, doc_id, positions
array<int>) partitioned by ``bucket = md5(term) mod N_PHRASE_BUCKETS``.
``positions`` is the sorted 1-based token-offset list of every
occurrence of ``term`` in ``doc_id`` under the shared ``_lm_tokens``
tokenizer — 1-based so the position arithmetic is literally the batch
kernel's ``element_at`` indices. There is deliberately NO
doclens/stats side table: phrase counting needs no corpus normalizer,
so an append is ONE job-level parquet commit and the only append crash
window is the watermark replay (``n_dup_postings`` > 0, repaired by
``repair_replayed_append``).

The protocol — routing, pruned probe read with its fail-loud ceiling,
append, ingest, compact, repair, takedown and the DURABILITY MODEL
with its crash windows — is ``postings_store``'s, shared with
``bm25_store``; this module holds the positional ``PostingsSpec``,
the position-set counting, the stats frame, the DuckDB oracles and the
registered rows.

Probe semantics — must equal ``text.phrase_search_frame`` ROW FOR ROW
(pytest-pinned, and the ``phrase_incremental`` library op puts the
whole write → append → route → probe chain under the batch op's own
``PHRASE_SEARCH_SQL`` value-hash, the ``bm25_incremental`` precedent).
With P0/P1/P2 the position sets of a phrase's three words in one doc:

  * n_exact = |{k ∈ P0 : k+1 ∈ P1 ∧ k+2 ∈ P2}| — the shift
    intersection; equals the kernel's consecutive-window count.
  * n_prox  = |{k ∈ P0 : ∃ first j = min{p ∈ P1 : k < p ≤ k+W-1} and
    ∃ q ∈ P2 : j < q ≤ k+W-1}| — the GREEDY ordered-window rule,
    verbatim: first w1 after the anchor inside the window, then any w2
    after that w1 inside the same window. Greedy is complete for an
    ordered 3-term match (a later w1 only shrinks w2's room), so this
    equals the kernel's in-row slice formulation position for
    position.

Both are in-row array lambdas over three bounded position arrays —
whole-stage-codegen JVM expressions, no Python in the hot path, and
the only shuffle is the hits-sized per-query top-k.

Reference: the reference has no retrieval index at all (beyond-
reference mandate, SURVEY.md §7 step 7); the tokenizer and the probe
derivation are shared with ``text.phrase_search_frame`` (text.py — the
one-kernel rule: imported, never re-derived).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import local_rows
from trisk_spark.functions import postings_store, storefs
from trisk_spark.functions.text import (
    PHRASE_SEARCH_SQL,
    PHRASE_TOP_K,
    PHRASE_WINDOW,
    _lm_tokens,
    _phrase_probes,
    _phrase_search_sql,
)

N_PHRASE_BUCKETS = postings_store.N_BUCKETS

#: fail-loud ceiling on one probe's materialized postings rows (the
#: MAX_BM25_PROBE_POSTINGS class: a stopword-anchored phrase is
#: honest-but-huge work)
MAX_PHRASE_PROBE_POSTINGS = 2_000_000

PHRASE_ARRIVING_MOD = storefs.ARRIVING_MOD
TAKEDOWN_VICTIM_MOD = storefs.VICTIM_MOD
MAX_DELETE_IDS = storefs.MAX_DELETE_IDS

_bucket_of = postings_store.bucket_of


def _wave_postings(docs: DataFrame) -> DataFrame:
    """The positional postings frame for a (doc_id, text) wave:
    (term, doc_id, positions, bucket) with positions the SORTED
    1-based offsets of every occurrence (sort_array makes the
    collect_list order deterministic, so replayed rows are
    byte-identical per (term, doc_id) — the repair contract). The one
    corpus-sized shuffle a positional index build inherently is, paid
    at write time so probes never pay it. Zero-token docs contribute
    nothing (a phrase cannot match them)."""
    return (
        docs.where(F.col("doc_id").isNotNull())
        .select("doc_id", F.posexplode(_lm_tokens()).alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(
            F.sort_array(
                F.collect_list((F.col("pos") + 1).cast("int"))
            ).alias("positions")
        )
        .select("term", "doc_id", "positions", postings_store.bucket_col())
    )


SPEC = postings_store.PostingsSpec(
    name="phrase",
    columns=("term", "doc_id", "positions"),
    to_wave=lambda docs: (_wave_postings(docs), None),
    max_probe_postings=MAX_PHRASE_PROBE_POSTINGS,
    tables=("postings",),
)

_run_recorded_delete = partial(postings_store.run_recorded_delete, SPEC)


def write_phrase_store(spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Persist the positional index for a (doc_id, text) corpus frame:
    bucket-partitioned postings, one writer task per directory."""
    postings_store.write(SPEC, spark, docs, path)


def append_phrase_store(spark: SparkSession, new_docs: DataFrame, path: str) -> None:
    """ADMIT a wave: ONE plain parquet append of its postings under
    partitionBy — the wave lands whole or not at all. append(store,
    wave) ≡ ``write_phrase_store`` over existing ∪ wave. This store is
    not among ``admission_wave``'s composed targets, so this verb is
    its only admission path and carries the pending-takedown guard
    (``postings_store.append``)."""
    postings_store.append(SPEC, spark, new_docs, path)


def probe_phrase_store(
    spark: SparkSession,
    path: str,
    probes: list[tuple[int, list[str]]],
    top_k: int = PHRASE_TOP_K,
    max_postings: int = MAX_PHRASE_PROBE_POSTINGS,
) -> DataFrame:
    """Phrase + sloppy-phrase retrieval from the written index —
    (query_id, doc_id, phrase, n_exact, n_prox, rank), the exact
    ``phrase_search`` output shape, semantics, ranking, and
    tie-breaks. The postings read prunes to the phrases' terms'
    buckets (driver-side md5 routing — no routing job) plus a
    term-level pushdown filter inside them; the hits frame is
    materialized once behind the fail-loud ceiling; counting is
    in-row position-set lambdas (module docstring derivation);
    everything downstream of the hits is hits-sized."""
    if not probes:
        return spark.createDataFrame(
            [],
            "query_id int, doc_id bigint, phrase string, "
            "n_exact bigint, n_prox bigint, rank int",
        )
    terms = sorted({t for _q, ws in probes for t in ws})
    hits = postings_store.hits(SPEC, spark, path, terms, max_postings)
    qterms = local_rows(
        spark,
        [
            (qid, slot, ws[slot], " ".join(ws))
            for qid, ws in sorted(probes)
            for slot in range(3)
        ],
        "query_id int, slot int, term string, phrase string",
    )
    # one postings row per (term, doc); a slot's positions land via the
    # null-skipping MAX (arrays are orderable; at most one non-null per
    # group per slot, so MAX is selection, not comparison semantics) —
    # a repeated word in a phrase joins its single postings row to
    # every slot that carries it, which is exactly the kernel's view
    trip = (
        hits.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "phrase", "doc_id")
        .agg(
            F.max(F.when(F.col("slot") == 0, F.col("positions"))).alias("p0"),
            F.max(F.when(F.col("slot") == 1, F.col("positions"))).alias("p1"),
            F.max(F.when(F.col("slot") == 2, F.col("positions"))).alias("p2"),
        )
        .where(
            F.col("p0").isNotNull()
            & F.col("p1").isNotNull()
            & F.col("p2").isNotNull()
        )
    )
    p0, p1, p2 = F.col("p0"), F.col("p1"), F.col("p2")
    w_edge = F.lit(PHRASE_WINDOW - 1)
    n_exact = F.size(
        F.filter(
            p0,
            lambda k: F.array_contains(p1, k + 1)
            & F.array_contains(p2, k + 2),
        )
    )

    def prox_hit(k):
        w1s = F.filter(p1, lambda p: (p > k) & (p <= k + w_edge))
        j = F.array_min(w1s)  # the GREEDY first-w1 rule
        return (F.size(w1s) > 0) & F.exists(
            p2, lambda q: (q > j) & (q <= k + w_edge)
        )

    counted = trip.select(
        "query_id",
        "doc_id",
        "phrase",
        n_exact.cast("bigint").alias("n_exact"),
        F.size(F.filter(p0, prox_hit)).cast("bigint").alias("n_prox"),
    ).where(
        (F.col("n_prox") > 0) & (F.col("doc_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_exact"), F.desc("n_prox"), "doc_id"
    )
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select(
            "query_id", "doc_id", "phrase", "n_exact", "n_prox", "rank"
        )
    )


def phrase_ingest_stream(spark: SparkSession, docs_stream: DataFrame, path: str, sink):
    """``append_phrase_store`` per micro-batch under the persisted
    batch-id replay guard; ``sink(wave_postings_df, batch_id)``
    receives each admitted wave's (term, doc_id, positions, bucket)
    frame, materialized."""
    return postings_store.ingest_stream(SPEC, spark, docs_stream, path, sink)


def phrase_probe_stream(spark: SparkSession, probes_stream: DataFrame, path: str, sink):
    """Streaming phrase retrieval: each micro-batch of (query_id, w0,
    w1, w2) rows is ``probe_phrase_store`` with its own driver-side
    routing (stream ≡ batch pytest-pinned). The sink must materialize
    inside the call."""
    return postings_store.probe_stream(
        probes_stream,
        lambda rows: probe_phrase_store(
            spark,
            path,
            [(int(r["query_id"]), [r["w0"], r["w1"], r["w2"]]) for r in rows],
        ),
        sink,
    )


def repair_phrase_store(path: str) -> None:
    """Finish or roll back a half-swapped postings table."""
    postings_store.repair(SPEC, path)


def repair_replayed_append(spark: SparkSession, path: str) -> None:
    """Drop the postings a watermark-window replay duplicated."""
    postings_store.repair_replayed_append(SPEC, spark, path)


def compact_phrase_store(spark: SparkSession, path: str) -> None:
    """Rewrite postings into one file per bucket and swap them in."""
    postings_store.compact(SPEC, spark, path)


def phrase_store_stats(spark: SparkSession, path: str) -> DataFrame:
    """Store health table — one row with (n_posting_rows, n_docs,
    n_terms, max_term_postings, total_positions, n_dup_postings).
    ``n_dup_postings`` > 0 = a replayed append (repair =
    ``repair_replayed_append``); ``max_term_postings`` is the
    probe-cost signal (the ceiling a worst-case single-word phrase
    probe materializes)."""
    return postings_store.health(
        spark,
        path,
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(F.size("positions")), F.lit(0))
        .cast("bigint")
        .alias("total_positions"),
    ).select(
        "n_posting_rows", "n_docs", "n_terms", "max_term_postings",
        "total_positions", "n_dup_postings",
    )


# ------------------------------------------------------- takedown ----


def delete_from_phrase_store(spark: SparkSession, doc_ids, path: str) -> None:
    """TAKEDOWN: afterwards the index ≡ ``write_phrase_store`` over the
    corpus without the victims, loner buckets emptied; every crash
    window resumes from the durable intent (``postings_store``)."""
    ids = postings_store.record_delete(SPEC, spark, doc_ids, path)
    if ids:
        # through the module name, so a patched _run_recorded_delete
        # can crash a takedown after its intent landed
        _run_recorded_delete(spark, ids, path)


def resume_pending_delete(spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted; True if one was pending."""
    return postings_store.resume_pending_delete(SPEC, spark, path)


# ------------------------------------------- self-contained library --

#: one scratch store per (session, corpus) for each library row; the
#: corpus store memoizes the FULLY-BUILT store (write existing + append
#: arriving), so a repeat call probes, not re-appends
_PHRASE_STORES = storefs.ScratchStoreCache("trisk_phrase_store_")
_PHRASE_TAKEDOWN_STORES = storefs.ScratchStoreCache("trisk_phrase_takedown_")

corpus_store_path = partial(postings_store.corpus_store_path, SPEC, _PHRASE_STORES)
takedown_store_path = partial(
    postings_store.takedown_store_path, SPEC, _PHRASE_TAKEDOWN_STORES
)


PHRASE_INCREMENTAL_SQL = PHRASE_SEARCH_SQL


#: the store after write(existing) + delete(victims): scanned docs =
#: existing slice minus the victim slice (victims ⊆ existing, so the
#: plain conjunction is exact); probes stay derived from the FULL
#: corpus (the probe set is independent of the store's contents)
PHRASE_TAKEDOWN_SQL = _phrase_search_sql(
    f" AND ((b.doc_id % {PHRASE_ARRIVING_MOD}) + {PHRASE_ARRIVING_MOD})"
    f" % {PHRASE_ARRIVING_MOD} <> 0" + storefs.victims_excluded_sql("b.doc_id")
)


def phrase_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phrase store's takedown verb under independent value-hash
    evidence (the ``dedup_takedown``/``semantic_takedown`` convention,
    r17): build the existing-slice positional index, DELETE the
    deterministic victim slice through the real
    ``delete_from_phrase_store`` path (intent, staged-partition swap,
    emptied loners), then run the full phrase probe against the
    post-delete artifacts. The oracle (``PHRASE_TAKEDOWN_SQL``)
    derives the same ranking from the corpus with the victims
    EXCLUDED from the scanned side — it matches iff delete ≡ rebuild
    holds on the postings the probe actually reads, so the takedown
    verb itself sits under the DuckDB hash gate, not just pytest
    equality. LIBRARY op."""
    return probe_phrase_store(
        spark,
        takedown_store_path(spark, sf_dir),
        _phrase_probes(spark, sf_dir),
    )


def phrase_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental phrase/proximity retrieval over the persisted
    positional index, self-contained for an oracle gate: build the
    index over the corpus's existing slice, APPEND the arriving slice
    (the incremental admission under test), then probe the
    deterministic phrase set against the combined index. Because the
    index is exact — positions are facts, not sketches — the result
    must equal the one-plan batch ``phrase_search`` ROW FOR ROW, so
    the oracle is that op's own ``PHRASE_SEARCH_SQL`` verbatim: one
    value-hash covers write → append → route → pruned probe →
    position-set counting, and append ≡ rebuild is part of what the
    hash asserts (the ``bm25_incremental`` precedent). LIBRARY op
    (the R19 sketch's seat candidate — registry.py)."""
    return probe_phrase_store(
        spark,
        corpus_store_path(spark, sf_dir),
        _phrase_probes(spark, sf_dir),
    )
