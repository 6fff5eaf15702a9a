"""Persisted SRP-LSH semantic store: the write-once/incremental-probe
half of the SEMANTIC near-dup story — the embedding-space mirror of
``dedup_store``. The batch clusterer is ``dedup_semantic``; the
ingest-time gate is ``semantic_flag_stream``, which documents its
corpus index as "at 100 TB a bucketed table, here a persisted frame" —
THIS is that bucketed table.

The corpus's SRP band index and scaled-vector table are WRITTEN ONCE
(``write_semantic_store``), and every ingest wave is checked against
the existing corpus by reading ONLY the band buckets its embeddings
route to (``probe_semantic_store``):

  * ``<path>/bands``: (vec_id, bv) partitioned by (band_idx, bucket),
    capped at the batch kernel's VEC_BUCKET_CAP smallest vec_ids per
    (band_idx, bv) — the ``cosine_lsh_pairs`` rule.
  * ``<path>/vectors``: the full (vec_id, vec, norm) scaled-integer
    table; the probe VERIFIES every band collision with the exact
    integer dot (bit-identical on both engines, the
    ``_gemm_block_pairs`` exactness argument) and flags cosine ≥
    NEAR_DUP_COS, applied to the UNROUNDED cosine like
    ``cosine_near_dup_lsh``.

Arriving embeddings scale, norm and band entirely in-row (the shared
``srp_band_val`` sign bits).

The protocol — layout, probe plan, append/delete/compact/repair and
the DURABILITY MODEL with its crash windows and repairs — is
``band_store``'s, shared with ``dedup_store``; this module holds the
SRP ``BandSpec``, the DuckDB oracles and the registered rows. Stats
name the crash-window counters ``n_unvectored_band_ids`` (append died
between bands and vectors; repair = re-run the wave's append) and
``n_dup_vector_ids`` (watermark replay; repair =
``repair_replayed_append``).

Reference: the reference has no semantic store (beyond-reference
mandate, SURVEY.md §7 step 7); the kernels are
``similarity.srp_band_val`` / ``_srp_bands`` / ``_dot``.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.functions import band_store, storefs
from trisk_spark.registry import register
from trisk_spark.functions.similarity import (
    _COS_BAND_SQL,
    _DOT_SQL,
    _SCALED_SQL,
    _VALID_EMB_SQL,
    COS_NB_BANDS,
    NEAR_DUP_COS,
    VEC_BUCKET_CAP,
    _dot,
    _scaled,
    _srp_bands,
    _valid_embeddings,
)

#: LEGACY bands partition fan per band — the read-side default for
#: stores written before fans were derived from the corpus size and
#: recorded in ``_n_buckets`` (``storefs.derived_fan``)
N_SEM_STORE_BUCKETS = 16

MAX_SEM_PROBE_ROWS = band_store.MAX_PROBE_ROWS
MAX_DELETE_IDS = band_store.MAX_DELETE_IDS

#: deterministic corpus split for the self-contained registered rows
#: (vec_id % 5 == 0 arrives) and the takedown victim slice
SEM_ARRIVING_MOD = band_store.ARRIVING_MOD
TAKEDOWN_VICTIM_MOD = band_store.VICTIM_MOD


def _normed(emb: DataFrame) -> DataFrame:
    """(vec_id, vec, norm) over the validity-gated, scaled-integer,
    nonzero-norm embeddings — the exact frame every SRP kernel
    (batch pairs, streaming flag, this store) starts from."""
    return (
        _valid_embeddings(emb)
        .select("vec_id", _scaled("embedding").alias("vec"))
        .withColumn("norm", _dot("vec", "vec"))
        .where(F.col("norm") > 0)
    )


SPEC = band_store.BandSpec(
    name="semantic",
    corpus="embeddings",
    rows="vectors",
    id_col="vec_id",
    band_col="bv",
    n_bands=COS_NB_BANDS,
    cap=VEC_BUCKET_CAP,
    legacy_fan=N_SEM_STORE_BUCKETS,
    to_rows=_normed,
    to_bands=lambda vecs: _srp_bands(vecs.select("vec_id", "vec")),
    payload=("vec", "norm"),
    score=lambda: _dot("vec", "ref_vec").cast("double") / (
        F.sqrt(F.col("norm").cast("double")) * F.sqrt(F.col("ref_norm").cast("double"))
    ),
    verdict=lambda cos: [
        F.round(cos, 6).alias("cosine_sim"),
        (cos >= NEAR_DUP_COS).alias("is_dup"),
    ],
    probe_schema="vec_id bigint, dup_of bigint, cosine_sim double, is_dup boolean",
)

_vbucket = partial(band_store.bucket, SPEC)
_store_fan = partial(band_store.store_fan, SPEC)
_routed_buckets_checked = partial(band_store.routed_buckets_checked, SPEC)


def write_semantic_store(spark: SparkSession, emb: DataFrame, path: str) -> None:
    """Persist the store for a (vec_id, embedding) corpus frame:
    vectors, then the capped bands derived from the written vectors."""
    band_store.write(SPEC, spark, emb, path)


def probe_semantic_store(
    spark: SparkSession,
    new_emb: DataFrame,
    path: str,
    max_probe_rows: int = MAX_SEM_PROBE_ROWS,
    pre_normed: DataFrame | None = None,
) -> DataFrame:
    """Per arriving (vec_id, embedding) vector with a band collision,
    its best verified match against the EXISTING store: (vec_id,
    dup_of, cosine_sim, is_dup) — dup_of is the highest-cosine vector,
    ties to the smallest vec_id. ``pre_normed``: the wave already in
    ``_normed`` layout (the admission funnel norms it concurrently with
    the text probe), which skips the norm pass."""
    return band_store.probe(SPEC, spark, new_emb, path, max_probe_rows, pre_normed)


def append_semantic_store(spark: SparkSession, new_emb: DataFrame, path: str) -> None:
    """Admit a wave: append(store, wave) ≡ ``write_semantic_store``
    over existing ∪ wave, table for table (``band_store.append``)."""
    band_store.append(SPEC, spark, new_emb, path)


def semantic_ingest_wave(
    spark: SparkSession,
    new_emb: DataFrame,
    path: str,
    max_probe_rows: int = MAX_SEM_PROBE_ROWS,
) -> DataFrame:
    """Probe the wave, admit its non-duplicates (vectors with no band
    collision are novel by construction), return the report."""
    return band_store.ingest_wave(SPEC, spark, new_emb, path, max_probe_rows)


def semantic_ingest_stream(spark: SparkSession, emb_stream: DataFrame, path: str, sink):
    """``semantic_ingest_wave`` per micro-batch under the persisted
    batch-id replay guard; returns the ``DataStreamWriter``."""
    return band_store.ingest_stream(SPEC, spark, emb_stream, path, sink)


def semantic_probe_stream(spark: SparkSession, emb_stream: DataFrame, path: str, sink):
    """Read-only ``probe_semantic_store`` per micro-batch; the sink
    must MATERIALIZE the result inside the call."""
    return band_store.probe_stream(SPEC, spark, emb_stream, path, sink)


def repair_semantic_store(path: str) -> None:
    """Finish or roll back a half-swapped table (``storefs.repair_store``)."""
    band_store.repair(SPEC, path)


def repair_replayed_append(spark: SparkSession, path: str) -> None:
    """Drop the vector rows a watermark-window replay duplicated."""
    band_store.repair_replayed_append(SPEC, spark, path)


def compact_semantic_store(spark: SparkSession, path: str, vec_files: int = 8) -> None:
    """Rewrite vectors into ``vec_files`` files and bands into one file
    per directory, then swap them in (content untouched)."""
    band_store.compact(SPEC, spark, path, vec_files)


def semantic_store_stats(spark: SparkSession, path: str) -> DataFrame:
    """One health row: (n_vecs, n_band_rows, n_buckets, min_bucket,
    max_bucket, avg_bucket, saturated_buckets, n_unvectored_band_ids,
    n_dup_vector_ids); saturated buckets sit at VEC_BUCKET_CAP."""
    return band_store.stats(
        SPEC, spark, path,
        ("n_vecs", "n_dup_vector_ids", "n_unvectored_band_ids"), 2,
    )


def delete_from_semantic_store(spark: SparkSession, vec_ids, path: str) -> None:
    """TAKEDOWN: afterwards the store ≡ ``write_semantic_store`` over
    the corpus without the victims, cap re-entrants included; every
    crash window resumes from the durable intent (``band_store``)."""
    band_store.delete(SPEC, spark, vec_ids, path)


def resume_pending_delete(spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted; True if one was pending."""
    return band_store.resume_pending_delete(SPEC, spark, path)


# ------------------------------------------- self-contained oracle --


def _semantic_incremental_sql(exist_extra: str = "") -> str:
    """DuckDB oracle for ``semantic_incremental``: scaled vectors +
    norms over the whole corpus, the deterministic existing/arriving
    split, the write-time bucket cap on the EXISTING side,
    arriving-vs-existing band collisions, exact integer-dot cosine
    verify, per-arriving-vector argmax. Buckets are a partition
    refinement of bv equality and need no mirror here (the
    ``dedup_store`` oracle rule). ``exist_extra`` narrows the EXISTING
    side — ``semantic_takedown``'s oracle excludes the victim slice
    (the ``dedup_store._dedup_incremental_sql`` rule)."""
    mod = SEM_ARRIVING_MOD
    ex_bands = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, {_COS_BAND_SQL[b]} AS bv FROM ex"
        for b in range(COS_NB_BANDS)
    )
    ar_bands = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, {_COS_BAND_SQL[b]} AS bv FROM ar"
        for b in range(COS_NB_BANDS)
    )
    return f"""
WITH sc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
n AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM sc
  ) WHERE norm > 0
),
ex AS (SELECT * FROM n
       WHERE ((vec_id % {mod}) + {mod}) % {mod} <> 0{exist_extra}),
ar AS (SELECT * FROM n WHERE ((vec_id % {mod}) + {mod}) % {mod} = 0),
exb AS (
  SELECT vec_id, band_idx, bv FROM (
    SELECT vec_id, band_idx, bv,
      row_number() OVER (PARTITION BY band_idx, bv ORDER BY vec_id) AS rn
    FROM ({ex_bands})
  ) WHERE rn <= {VEC_BUCKET_CAP}
),
arb AS ({ar_bands}),
cand AS (
  SELECT DISTINCT a.vec_id AS new_id, e.vec_id AS ref_id
  FROM arb a JOIN exb e ON a.band_idx = e.band_idx AND a.bv = e.bv
  WHERE e.vec_id <> a.vec_id
),
scored AS (
  SELECT c.new_id, c.ref_id,
    CAST({_DOT_SQL.format(a="a.vec", b="e.vec")} AS DOUBLE)
      / (SQRT(CAST(a.norm AS DOUBLE)) * SQRT(CAST(e.norm AS DOUBLE))) AS cos
  FROM cand c
  JOIN ar a ON a.vec_id = c.new_id
  JOIN ex e ON e.vec_id = c.ref_id
),
best AS (
  SELECT new_id, ref_id, cos,
    ROW_NUMBER() OVER (PARTITION BY new_id
                       ORDER BY cos DESC, ref_id) AS rk
  FROM scored
)
SELECT new_id AS vec_id, ref_id AS dup_of,
  CAST(ROUND(cos, 6) AS DOUBLE) AS cosine_sim,
  cos >= {NEAR_DUP_COS} AS is_dup
FROM best WHERE rk = 1
"""


SEMANTIC_INCREMENTAL_SQL = _semantic_incremental_sql()
SEMANTIC_TAKEDOWN_SQL = _semantic_incremental_sql(
    exist_extra=band_store.victims_excluded_sql("vec_id")
)

#: one scratch store per (session, corpus) for each registered row
_SEM_STORES = storefs.ScratchStoreCache("trisk_sem_store_")
_SEM_TAKEDOWN_STORES = storefs.ScratchStoreCache("trisk_sem_takedown_store_")

corpus_store_path = partial(band_store.corpus_store_path, SPEC, _SEM_STORES)
takedown_store_path = partial(
    band_store.takedown_store_path, SPEC, _SEM_TAKEDOWN_STORES
)


@register("semantic_incremental", oracle=SEMANTIC_INCREMENTAL_SQL)
def semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic ingest dedup over the persisted SRP store,
    self-contained for a driver gate: the embedding corpus splits
    deterministically (vec_id % {MOD} == 0 arrives, the rest is the
    existing corpus), the store over the existing slice is built ONCE
    per (session, corpus), and the arriving wave probes it. The oracle
    derives both sides from the embeddings table directly, so the row
    puts write→prune→probe→verify under independent value-hash
    evidence."""
    arriving = band_store.corpus_slice(SPEC, spark, sf_dir, True)
    return probe_semantic_store(spark, arriving, corpus_store_path(spark, sf_dir))


semantic_incremental.__doc__ = semantic_incremental.__doc__.replace(
    "{MOD}", str(SEM_ARRIVING_MOD)
)


def semantic_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic takedown verb under value-hash evidence: the
    arriving slice probes the existing-slice store after the victim
    slice went through the real intent-logged delete;
    ``SEMANTIC_TAKEDOWN_SQL`` excludes the victims, so it matches iff
    delete ≡ rebuild holds on the probed artifacts. LIBRARY op."""
    arriving = band_store.corpus_slice(SPEC, spark, sf_dir, True)
    return probe_semantic_store(spark, arriving, takedown_store_path(spark, sf_dir))
