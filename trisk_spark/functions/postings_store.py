"""The persisted term-postings store — ONE implementation of the
protocol behind ``bm25_store`` (term frequencies plus a doclens/stats
tail for the BM25 normalizer) and ``phrase_store`` (sorted token
positions for phrase and proximity counting). A store module
contributes a frozen ``PostingsSpec`` (its postings columns, wave
kernel, probe ceiling, tables and side-table hooks) and thin named
bindings; every verb below is written once.

LAYOUT (byte-compatible with every store the per-store copies wrote):

  * ``<path>/postings``: one row per (term, doc_id) partitioned by
    ``bucket = md5(term) mod N_BUCKETS``. Bucketing is a pure
    refinement of term equality (equal term ⇒ equal bucket), so a probe
    prunes to its query terms' buckets without changing semantics, and
    all of a term's postings share one bucket.
  * side tables of the spec (bm25: ``doclens`` and the 1-row
    ``stats``), committed after the postings by the spec's hooks.

PROBE ROUTING is driver-side arithmetic, not a Spark job: a term maps
to its bucket by the same md5 the write used (``bucket_of`` — Python
md5 ≡ Spark md5 ≡ DuckDB md5 on the same bytes). The pruned read is
also term-filtered inside the routed buckets, checkpointed lazily (the
ceiling count is its first action), and fails loud past the spec's
ceiling: a stopword-ish term is honest-but-huge work.

DURABILITY MODEL (single maintainer; local/HDFS-rename filesystems —
rename-dependent verbs refuse ``scheme://`` paths other than
``file:``). Postings are uncapped per-(term, doc) facts, so append and
delete are plain per-bucket facts operations: append ≡ rebuild over
existing ∪ wave, delete ≡ rebuild without the victims. Every crash
window is detectable and repairable:

  * append order is POSTINGS → side tables (bm25: DOCLENS → STATS swap,
    the swap is the commit point). A crash after the postings leaves
    posting doc_ids with no doclens row (bm25 stats
    ``n_unlisted_posting_docs`` > 0; repair = re-run the wave's append,
    then ``repair_replayed_append``); a crash before the stats swap
    leaves ``stats_lag`` > 0 (repair = ``bm25_store.repair_stats``).
    A store without side tables commits a wave in ONE job-level
    parquet append: it lands whole or not at all.
  * ingest stream: the last admitted batch id is persisted atomically
    after each wave; replayed batches at or below it are skipped. A
    crash between the append and the watermark replays one wave
    (stats ``n_dup_postings`` > 0); ``repair_replayed_append`` drops
    the byte-identical duplicates through the compaction swap.
  * compact / replay repair: tmp build then the recovery-ordered swap
    (``storefs.swap_in_compacted``); ``storefs.repair_store`` finishes
    or rolls back any half-swapped table.
  * delete: a durable takedown intent lands first
    (``storefs.record_takedown``). Kept postings have no other
    durable source, so the touched buckets go through the staged
    partition delete (``storefs.staged_partition_delete``): kept rows
    are staged durably before any live bucket directory is cleared,
    loner buckets end empty, and a crash anywhere resumes from the
    staging, never from driver memory. The side tables follow, then
    the intent drops (``resume_pending_delete`` re-runs every
    intermediate state to completion).
  * appends refuse to run while a takedown is pending
    (``storefs.require_no_pending_delete``): an append into a bucket
    whose staging already committed would be lost at the swap.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.catalog import ckpt_eager
from trisk_spark.functions import storefs

#: postings partition fan: directories = this; a probe prunes to at
#: most its own query terms' buckets
N_BUCKETS = 64


def _nothing(*_args) -> None:
    """The side-table hooks of a store without side tables."""


@dataclass(frozen=True)
class PostingsSpec:
    name: str  # verb/message prefix: "bm25", "phrase"
    columns: tuple[str, ...]  # postings columns, bucket excluded
    # (doc_id, text) wave -> (postings with bucket, per-doc ledger the
    # side tables take, or None when the postings are their own ledger)
    to_wave: Callable[[DataFrame], tuple[DataFrame, DataFrame | None]]
    max_probe_postings: int
    tables: tuple[str, ...]  # every table repair covers, postings first
    # side-table hooks, each run after the verb's postings landed:
    # write_tail(spark, path, ledger), append_tail(spark, path, ledger,
    # wave) with ``wave`` the ledger's measures row, and
    # delete_tail(spark, path, ids)
    measures: Callable[[], list] = list  # extra wave aggregates
    write_tail: Callable[..., None] = _nothing
    append_tail: Callable[..., None] = _nothing
    delete_tail: Callable[..., None] = _nothing


def bucket_of(term: str) -> int:
    """Driver-side bucket of a term — MUST equal ``bucket_col`` on the
    same bytes: md5 hex, first 15 nibbles as an integer, mod N."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % N_BUCKETS


def bucket_col(col=None):
    """Spark twin of ``bucket_of``."""
    c = F.col("term") if col is None else col
    return (
        F.pmod(
            F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint"),
            F.lit(N_BUCKETS),
        )
        .cast("int")
        .alias("bucket")
    )


def write_tasks(spark: SparkSession) -> int:
    """One writer task per bucket directory, explicit so AQE cannot
    serialize the commit of every directory into one task, capped by
    the session's shuffle parallelism."""
    conf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(conf, N_BUCKETS))


def _write_postings(spark: SparkSession, postings: DataFrame, target: str, mode: str):
    postings.repartition(write_tasks(spark), "bucket").write.mode(mode).partitionBy(
        "bucket"
    ).parquet(target)


def write(spec: PostingsSpec, spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Persist a store for a (doc_id, text) corpus frame: the
    bucket-partitioned postings, then the side tables."""
    postings, ledger = spec.to_wave(docs)
    _write_postings(spark, postings, f"{path}/postings", "overwrite")
    spec.write_tail(spark, path, ledger)


def _wave(spec: PostingsSpec, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, ledger) of a wave with the ledger checkpointed
    lazily: the append's measure is its first action and materializes
    it once for the measure, the side tables and the ingest sink.
    A store without a ledger checkpoints and measures its postings."""
    postings, ledger = spec.to_wave(docs)
    if ledger is None:
        postings = ledger = postings.localCheckpoint(eager=ckpt_eager())
    else:
        ledger = ledger.localCheckpoint(eager=ckpt_eager())
    return postings, ledger


def _append_wave(spec: PostingsSpec, spark, postings, ledger, path: str) -> None:
    wave = ledger.agg(F.count("*").alias("n"), *spec.measures()).collect()[0]
    if wave["n"] == 0:
        return
    _write_postings(spark, postings, f"{path}/postings", "append")
    spec.append_tail(spark, path, ledger, wave)


def append(spec: PostingsSpec, spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Admit a wave: append its postings into the buckets they route to
    (plain file append under partitionBy — untouched and touched
    buckets alike keep their bytes), then the side tables.
    append(store, wave) ≡ ``write`` over existing ∪ wave, table for
    table. Caller contract: the wave's doc_ids are disjoint from the
    store's (a replayed wave is the documented watermark window)."""
    storefs.require_no_pending_delete(path, f"append_{spec.name}_store", spec.name)
    _append_wave(spec, spark, *_wave(spec, docs), path)


def hits(
    spec: PostingsSpec, spark: SparkSession, path: str, terms, max_postings=None
) -> DataFrame:
    """The postings rows of ``terms``: the read prunes to their buckets
    and filters terms inside them, materialized once (lazy checkpoint;
    the ceiling count is the first action) behind the fail-loud
    ceiling (``max_postings``, default the spec's). Everything
    downstream of it is hits-sized."""
    if max_postings is None:
        max_postings = spec.max_probe_postings
    buckets = sorted({bucket_of(t) for t in terms})
    postings = spark.read.parquet(f"{path}/postings")
    if len(buckets) < N_BUCKETS:
        postings = postings.where(F.col("bucket").isin(buckets))
    out = postings.where(F.col("term").isin(terms)).select(*spec.columns)
    out = out.localCheckpoint(eager=ckpt_eager())
    n_hits = out.count()
    if n_hits > max_postings:
        raise ValueError(
            f"{spec.name} probe would materialize {n_hits} postings rows > "
            f"{max_postings} — a queried term is degenerate-frequent; "
            "drop it or raise max_postings"
        )
    return out


def ingest_stream(spec: PostingsSpec, spark: SparkSession, stream, path: str, sink):
    """``append`` per micro-batch under the watermark replay guard: a
    batch id at or below ``_last_admitted_batch_id`` is skipped
    entirely. ``sink(ledger, batch_id)`` receives each admitted wave's
    ledger (bm25: (doc_id, dl); phrase: its postings), materialized
    before the call."""
    op = f"{spec.name}_ingest_stream"
    storefs.require_rename_fs(path, op)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        wm = storefs.read_ingest_watermark(path)
        if wm is not None and batch_id <= wm:
            return
        storefs.require_no_pending_delete(path, op, spec.name)
        postings, ledger = _wave(spec, batch_df)
        _append_wave(spec, spark, postings, ledger, path)
        storefs.write_ingest_watermark(path, batch_id)
        sink(ledger, batch_id)

    return storefs.foreach_batch(stream, body)


def probe_stream(stream: DataFrame, probe: Callable[[list], DataFrame], sink):
    """Streaming retrieval over a written store: each non-empty
    micro-batch's rows (human-scale query sets: collected) are probed
    with their OWN driver-side bucket routing — ``probe(rows)`` — so
    the union of per-batch results equals the one-batch image. Sink
    contract: fully materialize inside the call."""

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()
        if rows:
            sink(probe(rows), batch_id)

    return stream.writeStream.outputMode("append").foreachBatch(fb)


def health(spark: SparkSession, path: str, *extra) -> DataFrame:
    """The postings half of a store's health row: (n_posting_rows,
    n_dup_postings, *extra aggregates over the postings, n_terms,
    max_term_postings). ``n_dup_postings`` > 0 is a replayed append
    (repair = ``repair_replayed_append``); ``max_term_postings`` is the
    probe-cost signal — what a worst-case single-term probe
    materializes."""
    p = spark.read.parquet(f"{path}/postings")
    rows = p.agg(
        F.count("*").cast("bigint").alias("n_posting_rows"),
        (F.count("*") - F.count_distinct("term", "doc_id"))
        .cast("bigint")
        .alias("n_dup_postings"),
        *extra,
    )
    terms = p.groupBy("term").agg(F.count("*").alias("n")).agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.coalesce(F.max("n"), F.lit(0)).cast("bigint").alias("max_term_postings"),
    )
    return rows.crossJoin(F.broadcast(terms))


def repair(spec: PostingsSpec, path: str) -> None:
    storefs.repair_store(path, spec.tables)


def repair_replayed_append(spec: PostingsSpec, spark: SparkSession, path: str) -> None:
    """Drop the postings a watermark-window replay duplicated: a
    dropDuplicates rewrite by (term, doc_id), bucket layout kept,
    through the crash-safe swap (replayed rows are byte-identical per
    key, so keeping any one is exact)."""
    storefs.repair_replayed_append(
        spark, path, "postings", ["term", "doc_id"], partition_by=("bucket",)
    )


def compact(spec: PostingsSpec, spark: SparkSession, path: str, side_files=None):
    """Rewrite postings into one file per bucket and each side table in
    ``side_files`` into that many files, then swap them in (content
    untouched)."""
    storefs.require_rename_fs(path, f"compact_{spec.name}_store")
    repair(spec, path)
    side = side_files or {}
    for t, n in side.items():
        spark.read.parquet(f"{path}/{t}").coalesce(max(1, n)).write.mode(
            "overwrite"
        ).parquet(f"{path}/{t}_compact_tmp")
    postings = spark.read.parquet(f"{path}/postings")
    _write_postings(spark, postings, f"{path}/postings_compact_tmp", "overwrite")
    storefs.swap_in_compacted(path, (*side, "postings"))


# ------------------------------------------------------- takedown ----


def record_delete(spec: PostingsSpec, spark: SparkSession, ids, path: str) -> list[int]:
    """Validate a takedown batch and land its durable intent (after
    finishing any earlier one); returns the sorted ids, empty when
    there is nothing to delete."""
    return storefs.record_takedown(
        spark, path, ids, "doc_id", f"delete_from_{spec.name}_store",
        partial(repair, spec), partial(run_recorded_delete, spec),
    )


def delete(spec: PostingsSpec, spark: SparkSession, ids, path: str) -> None:
    """Takedown: afterwards the store equals ``write`` over the corpus
    without the victims, table for table."""
    ids = record_delete(spec, spark, ids, path)
    if ids:
        run_recorded_delete(spec, spark, ids, path)


def resume_pending_delete(spec: PostingsSpec, spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted, from its durable intent.
    True if one was pending."""
    return storefs.resume_takedown(
        spark, path, partial(repair, spec), partial(run_recorded_delete, spec)
    )


def run_recorded_delete(spec: PostingsSpec, spark: SparkSession, ids, path: str):
    storefs.staged_partition_delete(
        spark, path, "postings", "bucket", "doc_id", ids, write_tasks(spark)
    )
    spec.delete_tail(spark, path, ids)
    storefs.clear_takedown(path)


# ------------------------------------------- self-contained rows ----


def corpus_store_path(spec: PostingsSpec, cache, spark: SparkSession, sf_dir: str):
    """The session-memoized scratch store: WRITTEN over the corpus's
    existing slice, then the arriving slice APPENDED — the fully-built
    store is memoized, so a repeat call probes, never re-appends."""

    def build(path: str) -> None:
        existing, arriving = storefs.corpus_split(spark, sf_dir)
        write(spec, spark, existing, path)
        append(spec, spark, arriving, path)

    return cache.get_or_build(spark, sf_dir, build)


def takedown_store_path(spec: PostingsSpec, cache, spark: SparkSession, sf_dir: str):
    """The session-memoized post-takedown scratch store
    (``storefs.takedown_scratch_store``)."""
    return storefs.takedown_scratch_store(
        cache, spark, sf_dir, partial(write, spec), partial(delete, spec)
    )
