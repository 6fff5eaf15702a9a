"""The persisted LSH band store — ONE implementation of the protocol
behind ``dedup_store`` (MinHash signatures over text) and
``semantic_store`` (SRP sign bands over scaled-int embeddings). A
store module contributes a frozen ``BandSpec`` (its row table, id and
band-value columns, band count, bucket cap, legacy fan, its two
kernels and its candidate-pair score) and thin named bindings; every
verb below is written once.

LAYOUT (byte-compatible with every store the per-store copies wrote):

  * ``<path>/<rows>``: the row table (``signatures`` / ``vectors``) —
    the VERIFY asset: band collision only nominates, the probe scores
    every candidate pair against these rows before flagging.
  * ``<path>/bands``: (id, band value) parquet partitioned by
    (band_idx, bucket), bucket = md5(cast(band value as string)) mod
    the store's fan — a refinement of band-value equality, so pruning
    never changes semantics, only bytes read. Membership is HARD-CAPPED
    at write time (the ``cap`` smallest ids per (band_idx, band
    value)), so a degenerate corpus can never fan a probe out
    quadratically.
  * ``<path>/_n_buckets``: the fan, derived from the corpus size at
    birth (``storefs.derived_fan``) and kept for the store's life;
    stores without it read ``legacy_fan``.

PROBE: the wave's rows and bands are computed once (lazy
localCheckpoint, materialized by the first consumer), one job collects
the routed (band_idx, bucket) pairs with the probe-size guard folded
in, the bands read is PRUNED to those directories (skipped when the
disjunction would be a tautology), the bounded wave side is BROADCAST
into one equi-join, and a struct-MAX argmax picks each arriving id's
best verified match (ties to the smallest id).

DURABILITY MODEL (single maintainer; local/HDFS-rename filesystems —
rename-dependent verbs refuse ``scheme://`` paths other than
``file:``). Recovery re-derives state from the durable row table, the
replay-from-a-durable-log model of *State Management in Apache Flink*
(VLDB 2017). Every crash window is detectable and repairable:

  * write: the fan record is STAGED (``_n_buckets.staged``) before the
    row table is overwritten and committed by rename only after the
    bands write; while it is staged every fan read fails loudly, so a
    crashed rebuild can never probe a new modulus over old buckets.
  * append: bands first, rows second. A crash between the two leaves
    band ids with no row (stats ``n_un*`` > 0); re-running the wave's
    append repairs it, because the band merge deduplicates.
  * ingest stream: the last admitted batch id is persisted atomically
    after each wave; replayed batches at or below it are skipped. A
    crash between the append and the watermark replays one row append
    (stats ``n_dup_*`` > 0); ``repair_replayed_append`` repairs it.
  * compact / replay repair: tmp build then the recovery-ordered swap
    (``storefs.swap_in_compacted``); ``storefs.repair_store`` finishes
    or rolls back any half-swapped table.
  * delete: a durable takedown intent lands first
    (``storefs.record_takedown``); touched band directories are
    cleared and re-derived from the kept rows (so cap re-entrants come
    back and loner buckets end empty), the row table swaps last, then
    the intent drops. Every intermediate state re-runs to completion
    from the intent (``resume_pending_delete``).
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from functools import partial, reduce
from operator import or_
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import ckpt_eager
from trisk_spark.functions import storefs

#: ceiling on a single probe wave: its band rows are BROADCAST into the
#: candidate join; the check rides the routing collect (no extra job)
MAX_PROBE_ROWS = 100_000

MAX_DELETE_IDS = storefs.MAX_DELETE_IDS

ARRIVING_MOD = storefs.ARRIVING_MOD
VICTIM_MOD = storefs.VICTIM_MOD


@dataclass(frozen=True)
class BandSpec:
    name: str  # verb/message prefix: "dedup", "semantic"
    corpus: str  # source table of the self-contained registered rows
    rows: str  # row table: the verify asset
    id_col: str
    band_col: str
    n_bands: int
    cap: int  # write-time bucket cap (smallest ids kept)
    legacy_fan: int  # fan of stores written before fans were recorded
    to_rows: Callable[[DataFrame], DataFrame]  # wave -> row table
    to_bands: Callable[[DataFrame], DataFrame]  # rows -> (id, band_idx, band)
    payload: tuple[str, ...]  # row columns the pair score reads
    score: Callable[[], Column]  # over payload and ref_<payload>
    verdict: Callable[[Column], list]  # report columns from the best score
    probe_schema: str


def bucket(spec: BandSpec, col: Column | None = None, n_buckets: int | None = None):
    """Partition bucket of a band value: md5(cast(value as string))
    reduced to the store's fan (the cast is a no-op on MinHash's string
    band hashes, so both stores' historical bucket values hold)."""
    c = F.col(spec.band_col) if col is None else col
    return (
        F.pmod(
            F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint"),
            F.lit(spec.legacy_fan if n_buckets is None else n_buckets),
        )
        .cast("int")
        .alias("bucket")
    )


def store_fan(spec: BandSpec, path: str) -> int:
    return storefs.read_store_fan(path, spec.legacy_fan)


def _by_dir(spark, spec: BandSpec, fan: int, bands: DataFrame) -> DataFrame:
    """Repartition band rows for their write: one task per (band_idx,
    bucket) directory, so each directory gets exactly one file; the
    task count is explicit so AQE cannot serialize the commit of every
    directory into one task, and capped by the session's shuffle
    parallelism."""
    conf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_tasks = max(1, min(conf, spec.n_bands * fan))
    return bands.repartition(n_tasks, "band_idx", "bucket")


def _band_rows(spec: BandSpec, rows: DataFrame, fan: int) -> DataFrame:
    """(id, band value, band_idx, bucket) rows of a row-table frame."""
    return spec.to_bands(rows).select(
        spec.id_col,
        spec.band_col,
        F.col("band_idx").cast("int").alias("band_idx"),
        bucket(spec, n_buckets=fan),
    )


def _capped(spec: BandSpec, bands: DataFrame) -> DataFrame:
    """The write-time cap: the ``cap`` smallest ids per (band_idx,
    band value) — order-free, so append and delete equal a rebuild."""
    w = Window.partitionBy("band_idx", spec.band_col).orderBy(spec.id_col)
    return (
        bands.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= spec.cap)
        .select(spec.id_col, spec.band_col, "band_idx", "bucket")
    )


def _routed(spec: BandSpec, bands: DataFrame, routes, fan: int) -> DataFrame:
    """Prune a bands read to the routed directories — skipped when the
    routes cover every directory, where the disjunction is pure planner
    cost (~0.5 s of per-partition predicate evaluation at 192 dirs)."""
    if len(routes) >= spec.n_bands * fan:
        return bands
    return bands.where(
        reduce(
            or_,
            [(F.col("band_idx") == b) & (F.col("bucket") == k) for b, k in routes],
        )
    )


def _routes(bands: DataFrame) -> list[tuple[int, int]]:
    return sorted(
        (r["band_idx"], r["bucket"])
        for r in bands.select("band_idx", "bucket").distinct().collect()
    )


def write(spec: BandSpec, spark: SparkSession, corpus: DataFrame, path: str) -> None:
    """Persist a store for a corpus frame. The row kernel runs once:
    bands derive from the written row table (the write is the barrier),
    and the fan comes from its parquet-metadata count."""
    storefs.stage_store_fan(path)
    spec.to_rows(corpus).write.mode("overwrite").parquet(f"{path}/{spec.rows}")
    stored = spark.read.parquet(f"{path}/{spec.rows}")
    fan = storefs.derived_fan(stored.count())
    _by_dir(spark, spec, fan, _capped(spec, _band_rows(spec, stored, fan))).write.mode(
        "overwrite"
    ).partitionBy("band_idx", "bucket").parquet(f"{path}/bands")
    storefs.commit_store_fan(path, fan)


def routed_buckets_checked(
    spec: BandSpec, bands_new: DataFrame, max_probe_rows: int
) -> list[tuple[int, int]]:
    """ONE job over the arriving band rows: the routed (band_idx,
    bucket) pairs (at most n_bands x fan, whatever the wave or corpus
    size) AND the probe-size guard."""
    row = bands_new.agg(
        F.count("*").alias("n_rows"),
        F.collect_set(F.struct("band_idx", "bucket")).alias("routes"),
    ).collect()[0]
    if row["n_rows"] > max_probe_rows * spec.n_bands:
        raise ValueError(
            f"{spec.name} probe batch exceeds {max_probe_rows} rows "
            f"({row['n_rows']} band rows > {max_probe_rows} rows x "
            f"{spec.n_bands} bands) — refusing to broadcast it; split the "
            "probe stream or raise max_probe_rows"
        )
    return sorted((r["band_idx"], r["bucket"]) for r in (row["routes"] or []))


def probe(
    spec: BandSpec,
    spark: SparkSession,
    wave: DataFrame,
    path: str,
    max_probe_rows: int,
    pre_rows: DataFrame | None = None,
) -> DataFrame:
    """Each arriving id with a band collision against the EXISTING
    store, with its best verified match: (id, dup_of, *verdict).
    Within-wave pairs are not generated. ``pre_rows`` is a wave already
    in row-table layout (skips the row kernel)."""
    fan = store_fan(spec, path)
    # LAZY: the routing collect is the first action and materializes
    # the wave's rows for all three consumers (routing, band broadcast,
    # score broadcast); without it each would replay the row kernel
    rows = (spec.to_rows(wave) if pre_rows is None else pre_rows).localCheckpoint(
        eager=ckpt_eager()
    )
    new = _band_rows(spec, rows, fan).withColumnRenamed(spec.id_col, "new_id")
    routes = routed_buckets_checked(spec, new, max_probe_rows)
    if not routes:
        return spark.createDataFrame([], spec.probe_schema)
    pairs = (
        _routed(spec, spark.read.parquet(f"{path}/bands"), routes, fan)
        .join(F.broadcast(new), ["band_idx", "bucket", spec.band_col])
        .where(F.col(spec.id_col) != F.col("new_id"))
        .select("new_id", F.col(spec.id_col).alias("ref_id"))
        .distinct()
    )
    # the corpus side joins the candidate ids (AQE decides: candidates
    # can be cap-fanned); the bounded wave side broadcasts
    ref = spark.read.parquet(f"{path}/{spec.rows}").select(
        F.col(spec.id_col).alias("ref_id"),
        *[F.col(c).alias(f"ref_{c}") for c in spec.payload],
    )
    scored = (
        pairs.join(ref, "ref_id")
        .join(
            F.broadcast(rows.select(F.col(spec.id_col).alias("new_id"), *spec.payload)),
            "new_id",
        )
        .select("new_id", "ref_id", spec.score().alias("score"))
    )
    # struct max = (score DESC, ref_id ASC): the LARGEST -ref_id is the
    # smallest id on ties — partial-aggregatable, no per-id sort
    best = scored.groupBy("new_id").agg(
        F.max(F.struct("score", (-F.col("ref_id")).alias("nid"))).alias("b")
    )
    return best.select(
        F.col("new_id").alias(spec.id_col),
        (-F.col("b.nid")).alias("dup_of"),
        *spec.verdict(F.col("b.score")),
    )


def append(spec: BandSpec, spark: SparkSession, wave: DataFrame, path: str) -> None:
    """Admit a wave: rewrite ONLY the touched band directories with the
    cap re-applied over old ∪ new members, then append the wave's rows
    (bands first — see the module DURABILITY MODEL). append(store,
    wave) equals ``write`` over existing ∪ wave, table for table.
    Caller contract: the wave's ids are disjoint from the store's."""
    fan = store_fan(spec, path)
    # LAZY: the routing collect materializes it for the band merge and
    # the row append
    rows = spec.to_rows(wave).localCheckpoint(eager=ckpt_eager())
    new = _band_rows(spec, rows, fan)
    routes = _routes(new)
    if not routes:  # no rows, so nothing to write on either table
        return
    old = _routed(spec, spark.read.parquet(f"{path}/bands"), routes, fan)
    merged = _by_dir(
        spark,
        spec,
        fan,
        # dropDuplicates makes a replayed append idempotent for bands:
        # duplicates can never stack against the cap
        _capped(
            spec,
            old.select(spec.id_col, spec.band_col, "band_idx", "bucket")
            .unionByName(new)
            .dropDuplicates(["band_idx", spec.band_col, spec.id_col]),
        ),
    ).localCheckpoint()  # the rewrite reads the path it overwrites
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("band_idx", "bucket").parquet(f"{path}/bands")
    rows.write.mode("append").parquet(f"{path}/{spec.rows}")


def ingest_wave(
    spec: BandSpec, spark: SparkSession, wave: DataFrame, path: str, max_probe_rows: int
) -> DataFrame:
    """Probe the wave, admit every id not flagged ``is_dup``, return
    the probe report (materialized BEFORE the append: it describes the
    store the wave was judged against). Within-wave near-dups are
    admitted together and collide from the next wave on."""
    report = probe(spec, spark, wave, path, max_probe_rows).localCheckpoint()
    flagged = report.where(F.col("is_dup")).select(spec.id_col)
    admitted = wave.where(F.col(spec.id_col).isNotNull()).join(
        F.broadcast(flagged), spec.id_col, "left_anti"
    )
    append(spec, spark, admitted, path)
    return report


def ingest_stream(
    spec: BandSpec, spark: SparkSession, stream: DataFrame, path: str, sink
):
    """``ingest_wave`` per micro-batch under the watermark replay guard:
    a batch id at or below ``_last_admitted_batch_id`` is skipped
    entirely — no probe, no append, no sink call."""
    storefs.require_rename_fs(path, f"{spec.name}_ingest_stream")

    def body(batch_df: DataFrame, batch_id: int) -> None:
        wm = storefs.read_ingest_watermark(path)
        if wm is not None and batch_id <= wm:
            return
        report = ingest_wave(spec, spark, batch_df, path, MAX_PROBE_ROWS)
        storefs.write_ingest_watermark(path, batch_id)
        sink(report, batch_id)

    return storefs.foreach_batch(stream, body)


def probe_stream(
    spec: BandSpec, spark: SparkSession, stream: DataFrame, path: str, sink
):
    return storefs.foreach_batch(
        stream,
        lambda b, bid: sink(probe(spec, spark, b, path, MAX_PROBE_ROWS), bid),
    )


def repair(spec: BandSpec, path: str) -> None:
    storefs.repair_store(path, (spec.rows, "bands"))


def repair_replayed_append(spec: BandSpec, spark: SparkSession, path: str) -> None:
    storefs.repair_replayed_append(spark, path, spec.rows, spec.id_col)


def compact(spec: BandSpec, spark: SparkSession, path: str, row_files: int) -> None:
    """Rewrite the row table into ``row_files`` files and the bands
    into one file per directory, then swap both in. Store content is
    untouched; the fan stays the one the store was born with."""
    storefs.require_rename_fs(path, f"compact_{spec.name}_store")
    repair(spec, path)
    spark.read.parquet(f"{path}/{spec.rows}").coalesce(max(1, row_files)).write.mode(
        "overwrite"
    ).parquet(f"{path}/{spec.rows}_compact_tmp")
    bands = spark.read.parquet(f"{path}/bands")
    _by_dir(spark, spec, store_fan(spec, path), bands).write.mode(
        "overwrite"
    ).partitionBy("band_idx", "bucket").parquet(f"{path}/bands_compact_tmp")
    storefs.swap_in_compacted(path, (spec.rows, "bands"))


def stats(
    spec: BandSpec,
    spark: SparkSession,
    path: str,
    names: tuple[str, str, str],
    avg_digits: int,
) -> DataFrame:
    """One health row: (n_rows, n_band_rows, n_buckets, min/max/avg
    bucket, saturated_buckets, n_unrowed, n_dup_rows) under the store's
    ``names`` for the row count, the band ids with no row (the append
    crash window) and the row ids beyond the first (the watermark
    replay window). Both are 0 in every consistent store."""
    n_rows, n_dup, n_unrowed = names
    rows = spark.read.parquet(f"{path}/{spec.rows}")
    counts = rows.agg(
        F.count("*").cast("bigint").alias(n_rows),
        (F.count("*") - F.count_distinct(F.col(spec.id_col)))
        .cast("bigint")
        .alias(n_dup),
    )
    bands = spark.read.parquet(f"{path}/bands")
    unrowed = (
        bands.select(spec.id_col)
        .distinct()
        .join(rows.select(spec.id_col), spec.id_col, "left_anti")
        .agg(F.count("*").cast("bigint").alias(n_unrowed))
    )
    per = bands.groupBy("band_idx", spec.band_col).agg(F.count("*").alias("n"))
    agg = per.agg(
        F.sum("n").cast("bigint").alias("n_band_rows"),
        F.count("*").cast("bigint").alias("n_buckets"),
        F.min("n").cast("bigint").alias("min_bucket"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.round(F.avg("n"), avg_digits).alias("avg_bucket"),
        F.sum(F.when(F.col("n") >= spec.cap, 1).otherwise(0))
        .cast("bigint")
        .alias("saturated_buckets"),
    )
    return (
        agg.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(unrowed))
        .select(
            n_rows, "n_band_rows", "n_buckets", "min_bucket", "max_bucket",
            "avg_bucket", "saturated_buckets", n_unrowed, n_dup,
        )
    )


# ------------------------------------------------------- takedown ----


def record_delete(spec: BandSpec, spark: SparkSession, ids, path: str) -> list[int]:
    """Validate a takedown batch and land its durable intent (after
    finishing any earlier one; ``storefs.record_takedown``);
    returns the sorted ids, empty when there is nothing to delete."""
    return storefs.record_takedown(
        spark, path, ids, spec.id_col, f"delete_from_{spec.name}_store",
        partial(repair, spec), partial(run_recorded_delete, spec),
    )


def delete(spec: BandSpec, spark: SparkSession, ids, path: str) -> None:
    """Takedown: afterwards the store equals ``write`` over the corpus
    without the victims, table for table."""
    ids = record_delete(spec, spark, ids, path)
    if ids:
        run_recorded_delete(spec, spark, ids, path)


def resume_pending_delete(spec: BandSpec, spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted, from its durable intent
    (repairing a half-swapped row table first). True if one was
    pending."""
    return storefs.resume_takedown(
        spark, path, partial(repair, spec), partial(run_recorded_delete, spec)
    )


def run_recorded_delete(
    spec: BandSpec, spark: SparkSession, ids: list, path: str
) -> None:
    base = storefs.strip_file_scheme(path)
    fan = store_fan(spec, path)
    rows = spark.read.parquet(f"{path}/{spec.rows}")
    routes = _routes(_band_rows(spec, rows.where(F.col(spec.id_col).isin(ids)), fan))
    # Every stored row yields n_bands band rows, so routes are empty iff
    # no victim row is left: also on a resume after the row swap landed.
    if routes:
        keep = rows.where(~F.col(spec.id_col).isin(ids))
        touched = _routed(spec, _band_rows(spec, keep, fan), routes, fan)
        # materialized before the directories it replaces are cleared
        rebuilt = _by_dir(spark, spec, fan, _capped(spec, touched)).localCheckpoint()
        for b, k in routes:
            shutil.rmtree(f"{base}/bands/band_idx={b}/bucket={k}", ignore_errors=True)
        rebuilt.write.mode("append").partitionBy("band_idx", "bucket").parquet(
            f"{path}/bands"
        )
        keep.write.mode("overwrite").parquet(f"{base}/{spec.rows}_compact_tmp")
        storefs.swap_in_compacted(path, (spec.rows,))
    storefs.clear_takedown(path)


# ------------------------------------------- self-contained rows ----


def corpus_slice(
    spec: BandSpec, spark: SparkSession, sf_dir: str, arriving: bool
) -> DataFrame:
    """The deterministic arriving / existing split of the corpus."""
    return storefs.corpus_split(spark, sf_dir, spec.corpus, spec.id_col)[arriving]


def corpus_store_path(
    spec: BandSpec, cache: storefs.ScratchStoreCache, spark: SparkSession, sf_dir: str
) -> str:
    """The session-memoized scratch store over the existing slice."""
    return cache.get_or_build(
        spark,
        sf_dir,
        lambda p: write(spec, spark, corpus_slice(spec, spark, sf_dir, False), p),
    )


def takedown_store_path(
    spec: BandSpec, cache: storefs.ScratchStoreCache, spark: SparkSession, sf_dir: str
) -> str:
    """The session-memoized post-takedown scratch store
    (``storefs.takedown_scratch_store``)."""
    return storefs.takedown_scratch_store(
        cache, spark, sf_dir, partial(write, spec), partial(delete, spec),
        spec.corpus, spec.id_col,
    )


victims_excluded_sql = storefs.victims_excluded_sql
