"""Persisted MinHash-LSH dedup store: the write-once/incremental-probe
half of the near-dup story that ``dedup_minhash_lsh`` executes in one
plan and ``minhash_flag_stream`` approximates with a session-persisted
frame ("at 100 TB a bucketed table, here a static frame" — THIS is
that bucketed table).

The corpus's LSH band index and signature table are WRITTEN ONCE
(``write_dedup_store``), and every ingest wave is checked against the
existing corpus by reading ONLY the band buckets its documents route
to (``probe_dedup_store``):

  * ``<path>/bands``: (doc_id, bh) partitioned by (band_idx, bucket),
    capped at the batch kernel's BUCKET_CAP smallest doc_ids per
    (band_idx, bh) — the ``_pairs_from_signatures`` rule.
  * ``<path>/signatures``: the full (doc_id, h0..h{N_PERMS-1}) MinHash
    table; the probe VERIFIES every band collision by signature
    agreement (``minhash_jaccard_estimate``'s exact-integer estimator)
    and flags estimated Jaccard ≥ 1/2.

Arriving documents are signed with the explode+agg form
(``minhash_signatures``): one wave-sized grouped MIN under whole-stage
codegen, legal inside ``foreachBatch``; the in-row form's 12
interpreted array transforms per doc measured 2× the whole probe.

The protocol — layout, probe plan, append/delete/compact/repair and
the DURABILITY MODEL with its crash windows and repairs — is
``band_store``'s, shared with ``semantic_store``; this module holds
the MinHash ``BandSpec``, the DuckDB oracles and the registered rows.
Stats name the crash-window counters ``n_unsigned_band_docs`` (append
died between bands and signatures; repair = re-run the wave's append)
and ``n_dup_signature_ids`` (watermark replay; repair =
``repair_replayed_append``).

Reference: the reference has no dedup store (beyond-reference mandate,
SURVEY.md §7 step 7).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.functions import band_store, storefs
from trisk_spark.registry import register
from trisk_spark.functions.dedup import (
    BUCKET_CAP,
    N_BANDS,
    N_PERMS,
    SHINGLES_SQL,
    _BAND_COLS_SQL,
    _SIG_COLS_SQL,
    _XM_SQL,
    minhash_bands,
    minhash_signatures,
)

#: LEGACY bands partition fan per band — the read-side default for
#: stores written before fans were derived from the corpus size and
#: recorded in ``_n_buckets`` (``storefs.derived_fan``)
N_STORE_BUCKETS = 64

MAX_DEDUP_PROBE_ROWS = band_store.MAX_PROBE_ROWS
MAX_DELETE_IDS = band_store.MAX_DELETE_IDS

#: signature-agreement floor for is_dup: n_agree/N_PERMS ≥ 1/2 — the
#: estimator's E[agree] = J, so this flags estimated Jaccard ≥ 0.5
DUP_MIN_AGREE = N_PERMS // 2

#: deterministic corpus split for the self-contained registered query:
#: doc_id % MOD == 0 is the "arriving" wave (20%), the rest "existing";
#: existing docs with doc_id % TAKEDOWN_VICTIM_MOD == 1 are deleted
DEDUP_ARRIVING_MOD = band_store.ARRIVING_MOD
TAKEDOWN_VICTIM_MOD = band_store.VICTIM_MOD

SPEC = band_store.BandSpec(
    name="dedup",
    corpus="documents",
    rows="signatures",
    id_col="doc_id",
    band_col="bh",
    n_bands=N_BANDS,
    cap=BUCKET_CAP,
    legacy_fan=N_STORE_BUCKETS,
    to_rows=lambda docs: minhash_signatures(docs.where(F.col("doc_id").isNotNull())),
    to_bands=minhash_bands,
    payload=tuple(f"h{i}" for i in range(N_PERMS)),
    score=lambda: sum(
        F.when(F.col(f"h{i}") == F.col(f"ref_h{i}"), 1).otherwise(0)
        for i in range(N_PERMS)
    ).cast("bigint"),
    verdict=lambda n_agree: [
        n_agree.alias("n_agree"),
        F.round(n_agree.cast("double") / N_PERMS, 4).alias("est_jaccard"),
        (n_agree >= DUP_MIN_AGREE).alias("is_dup"),
    ],
    probe_schema=(
        "doc_id bigint, dup_of bigint, n_agree bigint, "
        "est_jaccard double, is_dup boolean"
    ),
)

_bucket = partial(band_store.bucket, SPEC)
_store_fan = partial(band_store.store_fan, SPEC)
_routed_buckets_checked = partial(band_store.routed_buckets_checked, SPEC)
_run_recorded_delete = partial(band_store.run_recorded_delete, SPEC)
read_ingest_watermark = storefs.read_ingest_watermark


def write_dedup_store(spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Persist the store for a (doc_id, text) corpus frame: signatures,
    then the capped bands derived from the written signatures."""
    band_store.write(SPEC, spark, docs, path)


def probe_dedup_store(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    max_probe_rows: int = MAX_DEDUP_PROBE_ROWS,
) -> DataFrame:
    """Per arriving (doc_id, text) document with a band collision, its
    best verified match against the EXISTING store: (doc_id, dup_of,
    n_agree, est_jaccard, is_dup) — dup_of is the highest-agreement
    document, ties to the smallest doc_id. Within-wave pairs are not
    generated."""
    return band_store.probe(SPEC, spark, new_docs, path, max_probe_rows)


def append_dedup_store(spark: SparkSession, new_docs: DataFrame, path: str) -> None:
    """Admit a wave: append(store, wave) ≡ ``write_dedup_store`` over
    existing ∪ wave, table for table (``band_store.append``)."""
    band_store.append(SPEC, spark, new_docs, path)


def ingest_wave(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    max_probe_rows: int = MAX_DEDUP_PROBE_ROWS,
) -> DataFrame:
    """Probe the wave, admit its non-duplicates, return the report."""
    return band_store.ingest_wave(SPEC, spark, new_docs, path, max_probe_rows)


def dedup_ingest_stream(spark: SparkSession, docs_stream: DataFrame, path: str, sink):
    """``ingest_wave`` per micro-batch under the persisted batch-id
    replay guard; returns the ``DataStreamWriter`` ready to start. The
    sink receives (report, batch_id) and may consume the report
    lazily: it was materialized before the append."""
    return band_store.ingest_stream(SPEC, spark, docs_stream, path, sink)


def dedup_probe_stream(spark: SparkSession, docs_stream: DataFrame, path: str, sink):
    """Read-only ``probe_dedup_store`` per micro-batch (stream ≡ batch
    pytest-pinned). The sink must MATERIALIZE the result inside the
    call — the micro-batch cache is dropped when it returns."""
    return band_store.probe_stream(SPEC, spark, docs_stream, path, sink)


def repair_dedup_store(path: str) -> None:
    """Finish or roll back a half-swapped table (``storefs.repair_store``)."""
    band_store.repair(SPEC, path)


def repair_replayed_append(spark: SparkSession, path: str) -> None:
    """Drop the signature rows a watermark-window replay duplicated."""
    band_store.repair_replayed_append(SPEC, spark, path)


def compact_dedup_store(spark: SparkSession, path: str, sig_files: int = 8) -> None:
    """Rewrite signatures into ``sig_files`` files and bands into one
    file per directory, then swap them in (content untouched)."""
    band_store.compact(SPEC, spark, path, sig_files)


def dedup_store_stats(spark: SparkSession, path: str) -> DataFrame:
    """One health row: (n_docs, n_band_rows, n_buckets, min_bucket,
    max_bucket, avg_bucket, saturated_buckets, n_unsigned_band_docs,
    n_dup_signature_ids). Saturated buckets sit at BUCKET_CAP; a rising
    count says run the batch ``dedup_exact``/cluster sweep rather than
    relying on ingest-time gating alone."""
    return band_store.stats(
        SPEC, spark, path,
        ("n_docs", "n_dup_signature_ids", "n_unsigned_band_docs"), 6,
    )


def delete_from_dedup_store(spark: SparkSession, doc_ids, path: str) -> None:
    """TAKEDOWN: afterwards the store ≡ ``write_dedup_store`` over the
    corpus without the victims, cap re-entrants included; every crash
    window resumes from the durable intent (``band_store``)."""
    ids = band_store.record_delete(SPEC, spark, doc_ids, path)
    if ids:
        # through the module name, so a patched _run_recorded_delete
        # can crash a takedown after its intent landed
        _run_recorded_delete(spark, ids, path)


def resume_pending_delete(spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted; True if one was pending."""
    return band_store.resume_pending_delete(SPEC, spark, path)


# ------------------------------------------- registered-query image --


def _dedup_incremental_sql(exist_extra: str = "") -> str:
    """DuckDB oracle for ``dedup_incremental``: signatures over the
    whole corpus, the deterministic existing/arriving split, the
    write-time bucket cap on the EXISTING side, arriving-vs-existing
    band collisions, signature-agreement verify, per-arriving-doc
    argmax. Buckets are a partition refinement of bh equality and need
    no mirror here. ``exist_extra`` narrows the EXISTING side with an
    extra predicate — ``dedup_takedown``'s oracle excludes the victim
    slice, so the SAME derivation value-hashes a post-delete store
    (delete ≡ rebuild is what makes the narrowed oracle exact)."""
    mod = DEDUP_ARRIVING_MOD
    capped = ",\n".join(
        f"""capped{b} AS (
  SELECT doc_id, band{b} FROM (
    SELECT doc_id, band{b},
      row_number() OVER (PARTITION BY band{b} ORDER BY doc_id) AS rn
    FROM bands_e)
  WHERE rn <= {BUCKET_CAP})"""
        for b in range(N_BANDS)
    )
    cand = " UNION ALL ".join(
        f"SELECT a.doc_id AS new_id, e.doc_id AS dup_of FROM bands_a a "
        f"JOIN capped{b} e ON a.band{b} = e.band{b}"
        for b in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_PERMS)
    )
    return f"""
WITH sh AS ({SHINGLES_SQL}),
xs AS (SELECT doc_id, {_XM_SQL} AS xm FROM sh),
sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM xs GROUP BY doc_id),
exist AS (SELECT * FROM sig
          WHERE ((doc_id % {mod}) + {mod}) % {mod} <> 0{exist_extra}),
arrv AS (SELECT * FROM sig WHERE ((doc_id % {mod}) + {mod}) % {mod} = 0),
bands_e AS (SELECT doc_id, {_BAND_COLS_SQL} FROM exist),
bands_a AS (SELECT doc_id, {_BAND_COLS_SQL} FROM arrv),
{capped},
pairs AS (SELECT DISTINCT new_id, dup_of FROM ({cand})),
scored AS (
  SELECT p.new_id, p.dup_of, CAST({matches} AS BIGINT) AS n_agree
  FROM pairs p
  JOIN sig sa ON p.new_id = sa.doc_id
  JOIN sig sb ON p.dup_of = sb.doc_id
),
best AS (
  SELECT new_id, dup_of, n_agree,
    ROW_NUMBER() OVER (PARTITION BY new_id
                       ORDER BY n_agree DESC, dup_of) AS rn
  FROM scored
)
SELECT new_id AS doc_id, dup_of, n_agree,
  CAST(ROUND(CAST(n_agree AS DOUBLE) / {N_PERMS}, 4) AS DOUBLE)
    AS est_jaccard,
  n_agree >= {DUP_MIN_AGREE} AS is_dup
FROM best WHERE rn = 1
"""


#: one scratch store per (session, corpus) for each registered row
_DEDUP_STORES = storefs.ScratchStoreCache("trisk_dedup_store_")
_TAKEDOWN_STORES = storefs.ScratchStoreCache("trisk_takedown_store_")

DEDUP_INCREMENTAL_SQL = _dedup_incremental_sql()
DEDUP_TAKEDOWN_SQL = _dedup_incremental_sql(
    exist_extra=band_store.victims_excluded_sql("doc_id")
)

corpus_store_path = partial(band_store.corpus_store_path, SPEC, _DEDUP_STORES)
takedown_store_path = partial(band_store.takedown_store_path, SPEC, _TAKEDOWN_STORES)


@register("dedup_incremental", oracle=DEDUP_INCREMENTAL_SQL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup over the persisted store, self-
    contained for the driver gate: the corpus splits deterministically
    (doc_id % {MOD} == 0 arrives, the rest is the existing corpus), the
    store over the existing slice is built ONCE per (session, corpus)
    (``corpus_store_path``), and the arriving wave probes it. The
    oracle derives both sides from the corpus directly, so the row
    puts write→prune→probe→verify under independent value-hash
    evidence."""
    arriving = band_store.corpus_slice(SPEC, spark, sf_dir, True)
    return probe_dedup_store(spark, arriving, corpus_store_path(spark, sf_dir))


dedup_incremental.__doc__ = dedup_incremental.__doc__.replace(
    "{MOD}", str(DEDUP_ARRIVING_MOD)
)


def dedup_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The takedown verb under value-hash evidence: the arriving slice
    probes the existing-slice store after the victim slice (doc_id %
    TAKEDOWN_VICTIM_MOD == 1) went through the real intent-logged
    delete. ``DEDUP_TAKEDOWN_SQL`` derives the answer with the victims
    excluded, so it matches iff delete ≡ rebuild holds on the artifacts
    the probe reads. LIBRARY op."""
    arriving = band_store.corpus_slice(SPEC, spark, sf_dir, True)
    return probe_dedup_store(spark, arriving, takedown_store_path(spark, sf_dir))
