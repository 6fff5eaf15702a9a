"""The shared band-store protocol (functions/band_store.py) driven
through both of its specs: the MinHash dedup store and the SRP semantic
store. Crash-at-every-step recovery for append and delete, the staged
bucket-fan record, and no session-conf writes from any band verb."""

from __future__ import annotations

import glob
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import DataFrame, DataFrameWriter, functions as F
from pyspark.sql.conf import RuntimeConfig

from trisk_spark.functions import dedup_store, semantic_store, storefs


@dataclass
class _Case:
    rows: str
    id_col: str
    band_col: str
    corpus: DataFrame
    wave: DataFrame
    victims: list
    write: Callable
    append: Callable
    probe: Callable
    delete: Callable
    resume: Callable
    compact: Callable
    stats: Callable
    unrowed: str
    dup_rows: str


def _dedup_case(spark) -> _Case:
    # 10 near-duplicate groups of 5 docs: one differing word out of 61
    def text(group: int, i: int) -> str:
        return " ".join(f"g{group}w{j}" for j in range(60)) + f" u{i}"

    corpus = spark.createDataFrame(
        [(i, text(i % 10, i)) for i in range(50)], "doc_id long, text string"
    )
    wave = spark.createDataFrame(
        [(100 + g, text(g, 100 + g)) for g in range(4)]
        + [(200, " ".join(f"fresh{j}" for j in range(60)))],
        "doc_id long, text string",
    )
    d = dedup_store
    return _Case(
        "signatures", "doc_id", "bh", corpus, wave, [3, 13],
        d.write_dedup_store, d.append_dedup_store, d.probe_dedup_store,
        d.delete_from_dedup_store, d.resume_pending_delete,
        d.compact_dedup_store, d.dedup_store_stats,
        "n_unsigned_band_docs", "n_dup_signature_ids",
    )


def _semantic_case(spark) -> _Case:
    # 10 groups of 5 vectors: a group base plus a tiny per-id offset
    def vec(group: int, i: int) -> list:
        v = [((group * 7 + k * 3) % 11 - 5.5) / 5.5 for k in range(64)]
        v[i % 64] += 0.001
        return v

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame([(i, vec(i % 10, i)) for i in range(50)], schema)
    wave = spark.createDataFrame(
        [(100 + g, vec(g, 100 + g)) for g in range(4)]
        + [(200, [-x for x in vec(0, 0)])],
        schema,
    )
    s = semantic_store
    return _Case(
        "vectors", "vec_id", "bv", corpus, wave, [3, 13],
        s.write_semantic_store, s.append_semantic_store, s.probe_semantic_store,
        s.delete_from_semantic_store, s.resume_pending_delete,
        s.compact_semantic_store, s.semantic_store_stats,
        "n_unvectored_band_ids", "n_dup_vector_ids",
    )


_CASES = {"dedup": _dedup_case, "semantic": _semantic_case}


def _snap(spark, c: _Case, path: str) -> dict:
    def rows(table_, cols=None):
        df = spark.read.parquet(f"{path}/{table_}")
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in (df.select(*cols) if cols else df).collect()
        )

    return {
        "bands": rows("bands", [c.id_col, "band_idx", "bucket", c.band_col]),
        c.rows: rows(c.rows),
    }


def _assert_consistent(spark, c: _Case, path: str) -> None:
    row = c.stats(spark, path).collect()[0]
    assert row[c.unrowed] == 0 and row[c.dup_rows] == 0, row
    assert glob.glob(f"{path}/_delete_intent*") == []


class _Crash(Exception):
    pass


def _inject(m: pytest.MonkeyPatch, crash_at: int) -> list:
    """Count the filesystem mutation steps (rename, rmtree, parquet
    write) of whatever runs next; raise before step ``crash_at``
    (0 = never)."""
    steps: list = []

    def wrap(owner, name):
        real = getattr(owner, name)

        def step(*a, **kw):
            steps.append(name)
            if len(steps) == crash_at:
                raise _Crash(f"step {crash_at}: {name}")
            return real(*a, **kw)

        m.setattr(owner, name, step)

    wrap(storefs.os, "rename")
    wrap(shutil, "rmtree")
    wrap(DataFrameWriter, "parquet")
    return steps


def _crash_matrix(
    spark, tmp_path, monkeypatch, c: _Case, base: str, verb, recover, ref
):
    """Run ``verb`` on a copy of ``base`` crashing at every step k,
    ``recover`` it, and compare with the ``ref`` snapshot."""
    counted = str(tmp_path / "count")
    shutil.copytree(base, counted)
    with monkeypatch.context() as m:
        steps = _inject(m, 0)
        verb(counted)
    assert _snap(spark, c, counted) == ref
    assert len(steps) >= 2, steps
    for k in range(1, len(steps) + 1):
        path = str(tmp_path / f"crash{k}")
        shutil.copytree(base, path)
        with monkeypatch.context() as m:
            _inject(m, k)
            with pytest.raises(_Crash):
                verb(path)
        recover(path)
        assert _snap(spark, c, path) == ref, f"crash before step {k}: {steps[k - 1]}"
        _assert_consistent(spark, c, path)
    return steps


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(_CASES))
def test_append_recovers_from_a_crash_at_every_step(spark, tmp_path, monkeypatch, name):
    c = _CASES[name](spark)
    base, full = str(tmp_path / "base"), str(tmp_path / "full")
    c.write(spark, c.corpus, base)
    c.write(spark, c.corpus.unionByName(c.wave), full)
    _crash_matrix(
        spark, tmp_path, monkeypatch, c, base,
        verb=lambda p: c.append(spark, c.wave, p),
        # the documented repair: re-run the wave's append
        recover=lambda p: c.append(spark, c.wave, p),
        ref=_snap(spark, c, full),
    )


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(_CASES))
def test_delete_recovers_from_a_crash_at_every_step(spark, tmp_path, monkeypatch, name):
    c = _CASES[name](spark)
    base, kept = str(tmp_path / "base"), str(tmp_path / "kept")
    c.write(spark, c.corpus, base)
    c.write(spark, c.corpus.where(~F.col(c.id_col).isin(c.victims)), kept)
    before = _snap(spark, c, base)

    def recover(path):
        if not c.resume(spark, path):
            # crashed before the intent was durable: nothing changed,
            # and the caller re-issues the takedown
            assert _snap(spark, c, path) == before
            c.delete(spark, c.victims, path)

    steps = _crash_matrix(
        spark, tmp_path, monkeypatch, c, base,
        verb=lambda p: c.delete(spark, c.victims, p),
        recover=recover,
        ref=_snap(spark, c, kept),
    )
    assert steps.count("parquet") >= 3  # intent, touched bands, row table


@pytest.mark.parametrize("name", sorted(_CASES))
def test_crashed_rebuild_never_probes_a_stale_fan(spark, tmp_path, monkeypatch, name):
    """A rebuild that changes the fan and dies in its bands write must
    not leave the new modulus over the old buckets: the next probe
    raises or answers like the completed rebuild, never a silent miss."""
    c = _CASES[name](spark)
    path, ref = str(tmp_path / "store"), str(tmp_path / "ref")
    c.write(spark, c.corpus, path)
    fan = storefs.derived_fan(50)
    monkeypatch.setattr(storefs, "derived_fan", lambda n, **kw: fan * 16)
    c.write(spark, c.corpus, ref)
    expected = sorted(map(tuple, c.probe(spark, c.wave, ref).collect()))
    assert len(expected) >= 4, "fixture wave must hit the store"

    real = DataFrameWriter.parquet

    def dying(self, p, *a, **kw):
        if p.rstrip("/").endswith("/bands"):
            raise _Crash("bands write")
        return real(self, p, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", dying)
        with pytest.raises(_Crash):
            c.write(spark, c.corpus, path)
    try:
        got = sorted(map(tuple, c.probe(spark, c.wave, path).collect()))
    except RuntimeError as e:
        assert "_n_buckets.staged" in str(e)
    else:
        assert got == expected, "crashed rebuild silently changed the probe"
    # re-running the write heals the store
    c.write(spark, c.corpus, path)
    assert sorted(map(tuple, c.probe(spark, c.wave, path).collect())) == expected


@pytest.mark.parametrize("name", sorted(_CASES))
def test_band_verbs_never_set_session_conf(spark, tmp_path, monkeypatch, name):
    """append, delete and compact scope their confs per write: none of
    them may change session-global state a concurrent plan could see."""
    c = _CASES[name](spark)
    path = str(tmp_path / "store")
    c.write(spark, c.corpus, path)
    calls = []
    real = RuntimeConfig.set

    def spy(self, key, value):
        calls.append(key)
        return real(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    c.append(spark, c.wave, path)
    c.delete(spark, c.victims, path)
    c.compact(spark, path)
    assert calls == []
    # the per-write dynamic overwrite kept the untouched buckets
    full = str(tmp_path / "full")
    c.write(
        spark,
        c.corpus.unionByName(c.wave).where(~F.col(c.id_col).isin(c.victims)),
        full,
    )
    assert _snap(spark, c, path) == _snap(spark, c, full)
