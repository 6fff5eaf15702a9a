"""Takedown (delete) across the persisted-store family: delete ≡
rebuild-without-victims per store, emptied loner directories, crash
resume from the durable intent. The dedup store's full crash matrix
(cap re-entrants, every window) lives in test_dedup_store; these pin
the semantic / bm25 / ivf mirrors."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from trisk_spark.functions import bm25_store as B
from trisk_spark.functions import ivf_store as I
from trisk_spark.functions import semantic_store as S
from trisk_spark.functions import storefs

from .conftest import SF_DIR


def _snap(spark, path, table_, cols):
    return sorted(
        tuple(
            tuple(v) if isinstance(v, list) else v
            for v in (r[c] for c in cols)
        )
        for r in spark.read.parquet(f"{path}/{table_}").collect()
    )


# ------------------------------------------------ semantic store -----


def _vec(seed: int, loner: bool = False):
    if loner:
        v = [0.001] * 64
        v[seed % 64] = 0.9
        return [float(x) for x in v]
    # one shared direction: identical vectors -> identical SRP bands
    return [float(0.3 + 0.001 * ((7 * k) % 5)) for k in range(64)]


def test_semantic_delete_equals_rebuild_with_reentrants(spark, tmp_path):
    from trisk_spark.functions.similarity import VEC_BUCKET_CAP

    n_same = VEC_BUCKET_CAP + 2  # two past the cap -> two evictees
    rows = [(i, _vec(0)) for i in range(n_same)]
    rows += [(9000 + i, _vec(9000 + i, loner=True)) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    victims = [0, 1, 9000]  # two in-cap members + one loner
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    S.write_semantic_store(spark, emb, live)
    S.delete_from_semantic_store(spark, victims, live)
    S.write_semantic_store(
        spark, emb.where(~F.col("vec_id").isin(victims)), ref
    )
    bcols = ["vec_id", "band_idx", "bucket", "bv"]
    assert _snap(spark, live, "bands", bcols) == _snap(spark, ref, "bands", bcols)
    assert _snap(spark, live, "vectors", ["vec_id", "vec", "norm"]) == _snap(
        spark, ref, "vectors", ["vec_id", "vec", "norm"]
    )
    band_ids = {t[0] for t in _snap(spark, live, "bands", ["vec_id"])}
    # the two cap evictees re-entered; the victims are gone
    assert {n_same - 2, n_same - 1} <= band_ids
    assert not set(victims) & band_ids
    row = S.semantic_store_stats(spark, live).collect()[0]
    assert row.n_dup_vector_ids == 0 and row.n_unvectored_band_ids == 0


def test_semantic_delete_crash_resume(spark, tmp_path, monkeypatch):
    emb = spark.createDataFrame(
        [(i, _vec(i, loner=True)) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    S.write_semantic_store(spark, emb, live)
    S.write_semantic_store(spark, emb.where(F.col("vec_id") >= 3), ref)

    real_swap = storefs.swap_in_compacted
    monkeypatch.setattr(
        storefs, "swap_in_compacted",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        S.delete_from_semantic_store(spark, [0, 1, 2], live)
    monkeypatch.setattr(storefs, "swap_in_compacted", real_swap)
    assert os.path.exists(f"{live}/_delete_intent")
    assert S.resume_pending_delete(spark, live)
    bcols = ["vec_id", "band_idx", "bucket", "bv"]
    assert _snap(spark, live, "bands", bcols) == _snap(spark, ref, "bands", bcols)
    assert _snap(spark, live, "vectors", ["vec_id", "vec", "norm"]) == _snap(
        spark, ref, "vectors", ["vec_id", "vec", "norm"]
    )
    assert glob.glob(f"{live}/_delete_intent*") == []


# ------------------------------------------------ bm25 store ---------


def test_bm25_delete_equals_rebuild_and_probes(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"shared words here plus unique{i} token{i}") for i in range(20)]
        + [(500, "lonely vocabulary nothing shares these")],
        "doc_id long, text string",
    )
    victims = [0, 1, 500]
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    B.write_bm25_store(spark, docs, live)
    B.delete_from_bm25_store(spark, victims, live)
    B.write_bm25_store(
        spark, docs.where(~F.col("doc_id").isin(victims)), ref
    )
    pcols = ["term", "doc_id", "tf", "dl", "bucket"]
    assert _snap(spark, live, "postings", pcols) == _snap(spark, ref, "postings", pcols)
    assert _snap(spark, live, "doclens", ["doc_id", "dl"]) == _snap(
        spark, ref, "doclens", ["doc_id", "dl"]
    )
    assert _snap(spark, live, "stats", ["n_docs", "total_len"]) == _snap(
        spark, ref, "stats", ["n_docs", "total_len"]
    )
    q = {1: ("shared", "unique2"), 2: ("lonely", "vocabulary")}
    a = sorted(map(tuple, B.probe_bm25_store(spark, live, q).collect()))
    b = sorted(map(tuple, B.probe_bm25_store(spark, ref, q).collect()))
    assert a == b
    assert not any(r[1] in victims for r in a)  # victims unretrievable
    row = B.bm25_store_stats(spark, live).collect()[0]
    assert row.n_dup_doc_ids == 0 and row.stats_lag == 0


def test_bm25_delete_crash_resume(spark, tmp_path, monkeypatch):
    docs = spark.createDataFrame(
        [(i, f"common ground extra{i} filler{i}") for i in range(12)],
        "doc_id long, text string",
    )
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    B.write_bm25_store(spark, docs, live)
    B.write_bm25_store(spark, docs.where(F.col("doc_id") >= 2), ref)

    real_swap = storefs.swap_in_compacted
    monkeypatch.setattr(
        storefs, "swap_in_compacted",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        B.delete_from_bm25_store(spark, [0, 1], live)
    monkeypatch.setattr(storefs, "swap_in_compacted", real_swap)
    assert B.resume_pending_delete(spark, live)
    pcols = ["term", "doc_id", "tf", "dl", "bucket"]
    assert _snap(spark, live, "postings", pcols) == _snap(spark, ref, "postings", pcols)
    assert _snap(spark, live, "stats", ["n_docs", "total_len"]) == _snap(
        spark, ref, "stats", ["n_docs", "total_len"]
    )
    assert glob.glob(f"{live}/_delete_intent*") == []


def test_bm25_delete_crash_after_staging_commit_resume(
    spark, tmp_path, monkeypatch
):
    """Crash in the window the r14 code could NOT survive: the staging
    is committed but no live bucket directory has been swapped yet.
    Resume must finish purely from the durable staging."""
    docs = spark.createDataFrame(
        [(i, f"common ground extra{i} filler{i}") for i in range(12)],
        "doc_id long, text string",
    )
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    B.write_bm25_store(spark, docs, live)
    B.write_bm25_store(spark, docs.where(F.col("doc_id") >= 2), ref)

    real_complete = storefs.complete_staged_partition_swap

    def flaky(path, table_, part_col):
        # entry call sees no staging and passes; the post-staging call
        # finds the committed root and dies before touching live data
        if os.path.isdir(f"{storefs.strip_file_scheme(path)}/{table_}_staged_delete"):
            raise RuntimeError("injected post-stage")
        return real_complete(path, table_, part_col)

    monkeypatch.setattr(storefs, "complete_staged_partition_swap", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        B.delete_from_bm25_store(spark, [0, 1], live)
    monkeypatch.setattr(storefs, "complete_staged_partition_swap", real_complete)
    assert os.path.isdir(f"{live}/postings_staged_delete")
    assert B.resume_pending_delete(spark, live)
    pcols = ["term", "doc_id", "tf", "dl", "bucket"]
    assert _snap(spark, live, "postings", pcols) == _snap(spark, ref, "postings", pcols)
    assert _snap(spark, live, "doclens", ["doc_id", "dl"]) == _snap(
        spark, ref, "doclens", ["doc_id", "dl"]
    )
    assert _snap(spark, live, "stats", ["n_docs", "total_len"]) == _snap(
        spark, ref, "stats", ["n_docs", "total_len"]
    )
    assert glob.glob(f"{live}/_delete_intent*") == []
    assert glob.glob(f"{live}/postings_staged_delete*") == []


def test_bm25_delete_crash_mid_directory_swap_resume(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER a live bucket directory was destroyed but BEFORE its
    staged kept rows were renamed in — the exact r14 data-loss hole
    (kept rows then lived only in driver memory; now they are durable
    in the committed staging and resume replays the swap)."""
    docs = spark.createDataFrame(
        [(i, f"common ground extra{i} filler{i}") for i in range(12)],
        "doc_id long, text string",
    )
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    B.write_bm25_store(spark, docs, live)
    B.write_bm25_store(spark, docs.where(F.col("doc_id") >= 2), ref)

    real_rename = os.rename

    def flaky(src, dst):
        # the staging COMMIT rename (src ..._staged_delete_tmp) passes;
        # the first staged->live dir rename dies — at this point that
        # bucket's live directory has already been rmtree'd
        if "_staged_delete/" in str(src).replace(os.sep, "/"):
            raise RuntimeError("injected mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(storefs.os, "rename", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        B.delete_from_bm25_store(spark, [0, 1], live)
    monkeypatch.setattr(storefs.os, "rename", real_rename)
    assert B.resume_pending_delete(spark, live)
    pcols = ["term", "doc_id", "tf", "dl", "bucket"]
    assert _snap(spark, live, "postings", pcols) == _snap(spark, ref, "postings", pcols)
    assert _snap(spark, live, "stats", ["n_docs", "total_len"]) == _snap(
        spark, ref, "stats", ["n_docs", "total_len"]
    )
    assert glob.glob(f"{live}/_delete_intent*") == []
    assert glob.glob(f"{live}/postings_staged_delete*") == []


def test_bm25_standalone_resume_after_partial_table_swap(
    spark, tmp_path, monkeypatch
):
    """Crash INSIDE swap_in_compacted (live doclens already renamed to
    _old, tmp not yet swapped in): a STANDALONE resume_pending_delete —
    no delete entry point in front of it — must repair first and finish
    (the r14 ADVICE low item: resume used to fail reading the missing
    live table)."""
    docs = spark.createDataFrame(
        [(i, f"common ground extra{i} filler{i}") for i in range(12)],
        "doc_id long, text string",
    )
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    B.write_bm25_store(spark, docs, live)
    B.write_bm25_store(spark, docs.where(F.col("doc_id") >= 2), ref)

    def partial_swap(path, tables):
        base = storefs.strip_file_scheme(path)
        t = tables[0]
        os.rename(f"{base}/{t}", f"{base}/{t}_old")
        raise RuntimeError("injected partial swap")

    monkeypatch.setattr(storefs, "swap_in_compacted", partial_swap)
    with pytest.raises(RuntimeError, match="injected"):
        B.delete_from_bm25_store(spark, [0, 1], live)
    monkeypatch.undo()
    assert not os.path.isdir(f"{live}/doclens")  # the damaged state
    assert B.resume_pending_delete(spark, live)
    pcols = ["term", "doc_id", "tf", "dl", "bucket"]
    assert _snap(spark, live, "postings", pcols) == _snap(spark, ref, "postings", pcols)
    assert _snap(spark, live, "doclens", ["doc_id", "dl"]) == _snap(
        spark, ref, "doclens", ["doc_id", "dl"]
    )
    assert _snap(spark, live, "stats", ["n_docs", "total_len"]) == _snap(
        spark, ref, "stats", ["n_docs", "total_len"]
    )
    assert glob.glob(f"{live}/_delete_intent*") == []


def test_semantic_standalone_resume_after_partial_table_swap(
    spark, tmp_path, monkeypatch
):
    """The semantic-store mirror: partial vectors swap (live renamed to
    _old, crash before tmp lands), then standalone resume."""
    emb = spark.createDataFrame(
        [(i, _vec(i, loner=True)) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    S.write_semantic_store(spark, emb, live)
    S.write_semantic_store(spark, emb.where(F.col("vec_id") >= 3), ref)

    def partial_swap(path, tables):
        base = storefs.strip_file_scheme(path)
        t = tables[0]
        os.rename(f"{base}/{t}", f"{base}/{t}_old")
        raise RuntimeError("injected partial swap")

    monkeypatch.setattr(storefs, "swap_in_compacted", partial_swap)
    with pytest.raises(RuntimeError, match="injected"):
        S.delete_from_semantic_store(spark, [0, 1, 2], live)
    monkeypatch.undo()
    assert not os.path.isdir(f"{live}/vectors")  # the damaged state
    assert S.resume_pending_delete(spark, live)
    bcols = ["vec_id", "band_idx", "bucket", "bv"]
    assert _snap(spark, live, "bands", bcols) == _snap(spark, ref, "bands", bcols)
    assert _snap(spark, live, "vectors", ["vec_id", "vec", "norm"]) == _snap(
        spark, ref, "vectors", ["vec_id", "vec", "norm"]
    )
    assert glob.glob(f"{live}/_delete_intent*") == []


# ------------------------------------------------ ivf index ----------


def test_ivf_delete_equals_rebuild_and_probe(spark, tmp_path):
    """Victims chosen ABOVE the centroid-model id range, so the frozen
    model is identical on both sides and delete ≡ rebuild is exact."""
    import shutil
    import tempfile

    from trisk_spark.catalog import table
    from trisk_spark.functions.similarity import N_CENTROIDS

    emb = table(spark, SF_DIR, "embeddings")
    victims = [r.vec_id for r in (
        emb.where(F.col("vec_id") >= N_CENTROIDS)
        .orderBy("vec_id").limit(5).collect()
    )]
    assert victims
    live = str(tmp_path / "live")
    I.write_index(spark, SF_DIR, live)
    I.delete_from_index(spark, victims, live)

    refsf = tempfile.mkdtemp(prefix="trisk_refsf_")
    try:
        emb.where(~F.col("vec_id").isin(victims)).coalesce(1).write.parquet(
            f"{refsf}/embeddings.parquet"
        )
        ref = str(tmp_path / "ref")
        I.write_index(spark, refsf, ref)
        icols = ["vec_id", "qvec", "qnorm", "codes", "recon_norm", "list_id"]
        assert _snap(spark, live, "index", icols) == _snap(spark, ref, "index", icols)
        assert _snap(spark, live, "centroids", ["c_id", "c_vec", "c_norm"]) == _snap(
            spark, ref, "centroids", ["c_id", "c_vec", "c_norm"]
        )
        # probing the deleted index never returns a victim
        hits = I.probe_index(spark, SF_DIR, live).collect()
        assert hits and not {r.neighbor_id for r in hits} & set(victims)
        # replaying the takedown is a no-op
        snap1 = _snap(spark, live, "index", icols)
        I.delete_from_index(spark, victims, live)
        assert _snap(spark, live, "index", icols) == snap1
    finally:
        shutil.rmtree(refsf, ignore_errors=True)


def _ivf_synth_sf(tmp_path, name: str, drop_ids=()):
    """Tiny synthetic embeddings corpus for cheap IVF crash tests:
    vector i points at unit direction i % 64, ids spread across many
    lists; the centroid model derives from the first N_CENTROIDS ids,
    so victims above that range leave the frozen model identical on
    both sides."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    drop = set(drop_ids)
    ids = [i for i in range(120) if i not in drop]

    def vec(i):
        v = [0.001 * ((i + k) % 3) for k in range(64)]
        v[i % 64] = 0.9
        return [float(x) for x in v]

    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": ids,
            "embedding": [vec(i) for i in ids],
            "label": [0] * len(ids),
        }),
        d / "embeddings.parquet",
    )
    return str(d)


def test_ivf_delete_crash_mid_directory_swap_resume(
    spark, tmp_path, monkeypatch
):
    """The IVF mirror of the bm25 mid-swap window (this store had NO
    crash-resume test before r15): crash after a live list directory
    was rmtree'd but before its staged kept rows renamed in; resume
    replays the swap from the durable staging and ends ≡ rebuild."""
    from trisk_spark.functions.similarity import N_CENTROIDS

    victims = [100, 103, 107]
    sf_full = _ivf_synth_sf(tmp_path, "full")
    sf_kept = _ivf_synth_sf(tmp_path, "kept", drop_ids=victims)
    assert min(victims) >= N_CENTROIDS
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    I.write_index(spark, sf_full, live)
    I.write_index(spark, sf_kept, ref)

    real_rename = os.rename

    def flaky(src, dst):
        if "_staged_delete/" in str(src).replace(os.sep, "/"):
            raise RuntimeError("injected mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(storefs.os, "rename", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        I.delete_from_index(spark, victims, live)
    monkeypatch.setattr(storefs.os, "rename", real_rename)
    assert os.path.exists(f"{live}/_delete_intent")
    assert I.resume_pending_delete(spark, live)
    icols = ["vec_id", "qvec", "qnorm", "codes", "recon_norm", "list_id"]
    assert _snap(spark, live, "index", icols) == _snap(spark, ref, "index", icols)
    assert glob.glob(f"{live}/_delete_intent*") == []
    assert glob.glob(f"{live}/index_staged_delete*") == []


def test_ivf_delete_crash_after_staging_commit_resume(
    spark, tmp_path, monkeypatch
):
    """Crash between the staging commit and the first directory swap:
    resume finishes purely from the committed staging."""
    victims = [100, 103, 107]
    sf_full = _ivf_synth_sf(tmp_path, "full")
    sf_kept = _ivf_synth_sf(tmp_path, "kept", drop_ids=victims)
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    I.write_index(spark, sf_full, live)
    I.write_index(spark, sf_kept, ref)

    real_complete = storefs.complete_staged_partition_swap

    def flaky(path, table_, part_col):
        if os.path.isdir(f"{storefs.strip_file_scheme(path)}/{table_}_staged_delete"):
            raise RuntimeError("injected post-stage")
        return real_complete(path, table_, part_col)

    monkeypatch.setattr(storefs, "complete_staged_partition_swap", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        I.delete_from_index(spark, victims, live)
    monkeypatch.setattr(storefs, "complete_staged_partition_swap", real_complete)
    assert os.path.isdir(f"{live}/index_staged_delete")
    assert I.resume_pending_delete(spark, live)
    icols = ["vec_id", "qvec", "qnorm", "codes", "recon_norm", "list_id"]
    assert _snap(spark, live, "index", icols) == _snap(spark, ref, "index", icols)
    assert glob.glob(f"{live}/index_staged_delete*") == []


# --------------------------------------- hash-gated takedown row -----


def test_dedup_takedown_flips_verdict_on_fixture(spark, tmp_path):
    """Non-vacuity for the dedup_takedown library row: an arriving doc
    whose ONLY near-dup target is in the victim slice must flag is_dup
    BEFORE the takedown and come back clean AFTER it — and the library
    op's oracle must match on this fixture corpus too."""
    import duckdb

    from trisk_spark.functions import dedup_store as D
    from .conftest import assert_matches_oracle

    text_v = " ".join(f"victim{i % 19} words" for i in range(40))
    filler = [
        (i, " ".join(f"doc{i}w{j}" for j in range(40)))
        # existing docs, NOT in the victim slice (id % 17 != 1)
        for i in (2, 3, 4, 6, 7, 8, 9, 11)
    ]
    rows = filler + [
        (18, text_v),          # existing AND victim (18 % 17 == 1)
        (40, text_v + " x"),   # arriving (40 % 5 == 0): near-dup of 18 only
        (45, "totally unrelated arriving content here now"),
    ]
    docs = {
        "doc_id": [r[0] for r in rows],
        "text": [r[1] for r in rows],
        "lang": ["en"] * len(rows),
        "source": ["fixture"] * len(rows),
        "n_chars": [len(r[1]) for r in rows],
    }
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(docs), f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    # BEFORE (the incremental row, victims still resident): 40 dups 18
    before = {r.doc_id: r for r in D.dedup_incremental(spark, sf).collect()}
    assert before[40].is_dup and before[40].dup_of == 18

    # AFTER the takedown: 40's only target is gone -> not a dup
    after = {r.doc_id: r for r in D.dedup_takedown(spark, sf).collect()}
    assert 40 not in after or not after[40].is_dup
    # and the oracle agrees on this fixture corpus
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    assert_matches_oracle(
        D.dedup_takedown(spark, sf), con, D.DEDUP_TAKEDOWN_SQL
    )


def test_stage_partition_delete_refuses_to_overwrite_committed_staging(
    spark, tmp_path
):
    """A committed staging may hold the only copy of kept rows for
    already-cleared partitions — staging anew over it must fail loud,
    never silently destroy it (consume via
    complete_staged_partition_swap first)."""
    path = str(tmp_path / "s")
    df = spark.createDataFrame([(1, 0), (2, 1)], "x long, bucket int")
    df.write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/t")
    storefs.stage_partition_delete(spark, path, "t", "bucket", [0], df)
    with pytest.raises(RuntimeError, match="committed staging"):
        storefs.stage_partition_delete(spark, path, "t", "bucket", [0], df)
    storefs.complete_staged_partition_swap(path, "t", "bucket")
    # consumed: staging anew is legal again
    storefs.stage_partition_delete(spark, path, "t", "bucket", [0], df)


# --------------------------------------- ivf compaction (r15) --------


@pytest.mark.slow
def test_ivf_compact_preserves_probe_and_cuts_files(
    spark, tmp_path, monkeypatch
):
    """compact_ivf_index: append waves + a takedown accumulate files;
    compaction must cut the file count, leave probe results identical,
    finish an INTERRUPTED takedown on entry (repair-on-entry), and a
    crash inside its own swap must be repairable by repair_ivf_index."""
    import glob

    victims = [100, 103]
    sf_full = _ivf_synth_sf(tmp_path, "full")
    live = str(tmp_path / "live")
    # build in three waves to accumulate per-wave files
    from trisk_spark.catalog import table as _table

    emb = _table(spark, sf_full, "embeddings")
    exsf = _ivf_synth_sf(tmp_path, "ex", drop_ids=list(range(80, 120)))
    I.write_index(spark, exsf, live)
    I.append_index(
        spark, emb.where((F.col("vec_id") >= 80) & (F.col("vec_id") < 100)), live
    )
    I.append_index(spark, emb.where(F.col("vec_id") >= 100), live)
    I.delete_from_index(spark, victims, live)

    def nfiles():
        return len(glob.glob(f"{live}/index/**/*.parquet", recursive=True))

    want = sorted(map(tuple, I.probe_index(spark, sf_full, live).collect()))
    n_before = nfiles()
    I.compact_ivf_index(spark, live)
    assert nfiles() < n_before
    assert sorted(map(tuple, I.probe_index(spark, sf_full, live).collect())) == want

    # crash inside the compaction swap -> repair finishes/rolls back
    real_swap = storefs.swap_in_compacted
    monkeypatch.setattr(
        storefs, "swap_in_compacted",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        I.compact_ivf_index(spark, live)
    monkeypatch.setattr(storefs, "swap_in_compacted", real_swap)
    I.repair_ivf_index(live)
    assert sorted(map(tuple, I.probe_index(spark, sf_full, live).collect())) == want

    # repair-on-entry consumes a pending takedown before compacting
    more_victims = [107]
    real_complete = storefs.complete_staged_partition_swap

    def flaky(path, table_, part_col):
        if os.path.isdir(
            f"{storefs.strip_file_scheme(path)}/{table_}_staged_delete"
        ):
            raise RuntimeError("injected post-stage")
        return real_complete(path, table_, part_col)

    monkeypatch.setattr(storefs, "complete_staged_partition_swap", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        I.delete_from_index(spark, more_victims, live)
    monkeypatch.setattr(storefs, "complete_staged_partition_swap", real_complete)
    I.compact_ivf_index(spark, live)  # finishes the takedown, then compacts
    assert glob.glob(f"{live}/_delete_intent*") == []
    hits = I.probe_index(spark, sf_full, live).collect()
    assert hits and not {r.neighbor_id for r in hits} & set(victims + more_victims)
    assert I.resume_pending_delete(spark, live) is False


# ------------------------------------ ivf takedown intent protocol ---


def test_ivf_append_refuses_pending_takedown(spark, tmp_path, monkeypatch):
    """A takedown crashed after its staging committed: an append into a
    live list directory would be replaced by the stale staging at the
    swap, so append_index must fail loud until resume_pending_delete
    finishes the takedown — then the same wave lands and the index
    equals a rebuild without the victims."""
    from trisk_spark.catalog import table as _table

    victims = [100, 103, 107]
    wave_ids = list(range(110, 120))
    sf_full = _ivf_synth_sf(tmp_path, "full")
    sf_base = _ivf_synth_sf(tmp_path, "base", drop_ids=wave_ids)
    sf_kept = _ivf_synth_sf(tmp_path, "kept", drop_ids=victims)
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    I.write_index(spark, sf_base, live)
    I.write_index(spark, sf_kept, ref)
    wave = _table(spark, sf_full, "embeddings").where(F.col("vec_id").isin(wave_ids))

    real_complete = storefs.complete_staged_partition_swap

    def flaky(path, table_, part_col):
        if os.path.isdir(f"{storefs.strip_file_scheme(path)}/{table_}_staged_delete"):
            raise RuntimeError("injected post-stage")
        return real_complete(path, table_, part_col)

    monkeypatch.setattr(storefs, "complete_staged_partition_swap", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        I.delete_from_index(spark, victims, live)
    monkeypatch.setattr(storefs, "complete_staged_partition_swap", real_complete)
    assert os.path.isdir(f"{live}/index_staged_delete")

    with pytest.raises(RuntimeError, match="_delete_intent"):
        I.append_index(spark, wave, live)
    assert I.resume_pending_delete(spark, live)
    I.append_index(spark, wave, live)
    icols = ["vec_id", "qvec", "qnorm", "codes", "recon_norm", "list_id"]
    assert _snap(spark, live, "index", icols) == _snap(spark, ref, "index", icols)


def _partial_swap(path, tables):
    """A compaction swap that dies between its two renames: the live
    table is renamed to ``_old`` and its tmp never lands."""
    base = storefs.strip_file_scheme(path)
    t = tables[0]
    os.rename(f"{base}/{t}", f"{base}/{t}_old")
    raise RuntimeError("injected partial swap")


def test_ivf_delete_repairs_a_crashed_compaction_first(
    spark, tmp_path, monkeypatch
):
    """A compaction that died inside its swap leaves no live ``index``
    directory; the next takedown must repair the store before it lands
    its intent and reads the index."""
    victims = [100, 103, 107]
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    I.write_index(spark, _ivf_synth_sf(tmp_path, "full"), live)
    I.write_index(spark, _ivf_synth_sf(tmp_path, "kept", drop_ids=victims), ref)

    with monkeypatch.context() as m:
        m.setattr(storefs, "swap_in_compacted", _partial_swap)
        with pytest.raises(RuntimeError, match="injected"):
            I.compact_ivf_index(spark, live)
    assert not os.path.isdir(f"{live}/index")  # the damaged state

    I.delete_from_index(spark, victims, live)
    icols = ["vec_id", "qvec", "qnorm", "codes", "recon_norm", "list_id"]
    assert _snap(spark, live, "index", icols) == _snap(spark, ref, "index", icols)
    assert glob.glob(f"{live}/_delete_intent*") == []
    assert glob.glob(f"{live}/index_*") == []


def test_ivf_standalone_resume_repairs_first(spark, tmp_path, monkeypatch):
    """A pending takedown over a store whose live index was renamed
    away by a crashed swap: a standalone resume_pending_delete repairs
    (rolls ``index_old`` back) before it re-runs the recorded delete."""
    victims = [100, 103, 107]
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    I.write_index(spark, _ivf_synth_sf(tmp_path, "full"), live)
    I.write_index(spark, _ivf_synth_sf(tmp_path, "kept", drop_ids=victims), ref)

    with monkeypatch.context() as m:
        m.setattr(
            I, "_run_recorded_delete",
            lambda *a: (_ for _ in ()).throw(RuntimeError("injected")),
        )
        with pytest.raises(RuntimeError, match="injected"):
            I.delete_from_index(spark, victims, live)
    os.rename(f"{live}/index", f"{live}/index_old")

    assert I.resume_pending_delete(spark, live)
    icols = ["vec_id", "qvec", "qnorm", "codes", "recon_norm", "list_id"]
    assert _snap(spark, live, "index", icols) == _snap(spark, ref, "index", icols)
    assert glob.glob(f"{live}/_delete_intent*") == []
