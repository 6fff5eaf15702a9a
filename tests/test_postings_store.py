"""The shared postings-store protocol (functions/postings_store.py)
driven through both of its specs: the bm25 store (postings plus the
doclens/stats tail) and the phrase store (positional postings only).
Crash-at-every-step recovery for append and delete, reusing the step
counter of the band-store matrix (test_band_store)."""

from __future__ import annotations

import glob
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from trisk_spark.functions import bm25_store, phrase_store

from .test_band_store import _Crash, _inject

# ten short docs over an eight-word vocabulary: few buckets touched
_VOCAB = ("red", "green", "blue", "cyan", "gold", "gray", "pink", "teal")


def _text(i: int) -> str:
    return " ".join(_VOCAB[(i * k + k) % len(_VOCAB)] for k in range(1, 6))


@dataclass
class _Case:
    tables: tuple[str, ...]
    write: Callable
    append: Callable
    delete: Callable
    resume: Callable
    repair: Callable
    repair_replayed_append: Callable
    check: Callable  # stats row -> None, asserts a consistent store


def _bm25_check(row) -> None:
    assert (
        row.n_dup_doc_ids == 0
        and row.n_dup_postings == 0
        and row.n_unlisted_posting_docs == 0
        and row.stats_lag == 0
    ), row


def _phrase_check(row) -> None:
    assert row.n_dup_postings == 0, row


def _bm25_case() -> _Case:
    b = bm25_store
    return _Case(
        ("postings", "doclens", "stats"),
        b.write_bm25_store, b.append_bm25_store, b.delete_from_bm25_store,
        b.resume_pending_delete, b.repair_bm25_store, b.repair_replayed_append,
        lambda spark, p: _bm25_check(b.bm25_store_stats(spark, p).collect()[0]),
    )


def _phrase_case() -> _Case:
    p_ = phrase_store
    return _Case(
        ("postings",),
        p_.write_phrase_store, p_.append_phrase_store, p_.delete_from_phrase_store,
        p_.resume_pending_delete, p_.repair_phrase_store, p_.repair_replayed_append,
        lambda spark, p: _phrase_check(p_.phrase_store_stats(spark, p).collect()[0]),
    )


_CASES = {"bm25": _bm25_case, "phrase": _phrase_case}


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, _text(i)) for i in ids], "doc_id long, text string"
    )


def _snap(spark, c: _Case, path: str) -> dict:
    return {
        t: sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(f"{path}/{t}").collect()
        )
        for t in c.tables
    }


def _crash_matrix(spark, tmp_path, monkeypatch, c: _Case, base, verb, recover, ref):
    """Run ``verb`` on a copy of ``base`` crashing before every
    filesystem step k, ``recover`` it, and compare with ``ref``."""
    counted = str(tmp_path / "count")
    shutil.copytree(base, counted)
    with monkeypatch.context() as m:
        steps = _inject(m, 0)
        verb(counted)
    assert _snap(spark, c, counted) == ref
    for k in range(1, len(steps) + 1):
        path = str(tmp_path / f"crash{k}")
        shutil.copytree(base, path)
        with monkeypatch.context() as m:
            _inject(m, k)
            with pytest.raises(_Crash):
                verb(path)
        recover(path)
        assert _snap(spark, c, path) == ref, f"crash before step {k}: {steps[k - 1]}"
        c.check(spark, path)
        assert glob.glob(f"{path}/_delete_intent*") == []
    return steps


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(_CASES))
def test_append_recovers_from_a_crash_at_every_step(spark, tmp_path, monkeypatch, name):
    c = _CASES[name]()
    corpus, wave = _docs(spark, range(8)), _docs(spark, (8, 9))
    base, full = str(tmp_path / "base"), str(tmp_path / "full")
    c.write(spark, corpus, base)
    c.write(spark, corpus.unionByName(wave), full)

    def recover(path):
        # the documented repair: finish a half-swapped table, re-run the
        # wave's append, then drop the rows the re-run duplicated
        c.repair(path)
        c.append(spark, wave, path)
        c.repair_replayed_append(spark, path)

    steps = _crash_matrix(
        spark, tmp_path, monkeypatch, c, base,
        verb=lambda p: c.append(spark, wave, p),
        recover=recover,
        ref=_snap(spark, c, full),
    )
    assert "parquet" in steps


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(_CASES))
def test_delete_recovers_from_a_crash_at_every_step(spark, tmp_path, monkeypatch, name):
    c = _CASES[name]()
    victims = [2, 5]
    corpus = _docs(spark, range(10))
    base, kept = str(tmp_path / "base"), str(tmp_path / "kept")
    c.write(spark, corpus, base)
    c.write(spark, corpus.where(~F.col("doc_id").isin(victims)), kept)
    before = _snap(spark, c, base)

    def recover(path):
        if not c.resume(spark, path):
            # crashed before the intent was durable: nothing changed,
            # and the caller re-issues the takedown
            assert _snap(spark, c, path) == before
            c.delete(spark, victims, path)

    steps = _crash_matrix(
        spark, tmp_path, monkeypatch, c, base,
        verb=lambda p: c.delete(spark, victims, p),
        recover=recover,
        ref=_snap(spark, c, kept),
    )
    assert steps.count("parquet") >= 2  # the intent and the staged postings
