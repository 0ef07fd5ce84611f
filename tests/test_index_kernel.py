"""The shared lifecycle kernel (operators/index_store.py) across all six
persisted index families: a failed versioned write aborts its
generation, and a torn append stays invisible until a retry commits."""

import glob
import os
from typing import Callable, NamedTuple

import pytest

import orange3_timeseries_spark.operators.dedup as D
import orange3_timeseries_spark.operators.index_store as ist
import orange3_timeseries_spark.operators.retrieval as R
import orange3_timeseries_spark.operators.similarity as S
from orange3_timeseries_spark.operators.index_store import (
    current_version,
    list_versions,
    resolve_index_path,
)

_BASE = ("the quick brown fox jumps over the lazy dog while the cat "
         "watches from the warm windowsill nearby every single day")
_WORDS = _BASE.split()


def _text(i):
    # near-duplicates of _BASE, each with one word swapped for x<i>
    words = list(_WORDS)
    words[i % len(words)] = f"x{i}"
    return " ".join(words)


def _vec(i):
    return [float((i * 7 + j) % 5) for j in range(8)]


_VROWS = [_vec(i) for i in range(4)]
_CENTS = _VROWS
_BOOKS = [[v[m * 2:(m + 1) * 2] for v in _VROWS] for m in range(4)]


class Family(NamedTuple):
    """One family behind a uniform lifecycle: ``rows(lo, hi)`` is the
    batch of ids lo..hi, ``serve(index)`` a DataFrame to compare."""

    name: str
    table: str              # an appendable state table
    rows: Callable
    build: Callable
    write: Callable
    read: Callable
    append: Callable
    serve: Callable


def _families(spark):
    def docs(lo, hi):
        return spark.createDataFrame(
            [(i, _text(i)) for i in range(lo, hi + 1)],
            "doc_id long, text string")

    def vecs(lo, hi):
        return spark.createDataFrame(
            [(i, _vec(i)) for i in range(lo, hi + 1)],
            "vec_id long, embedding array<double>")

    queries = spark.createDataFrame(
        [(1, "quick fox x3"), (2, "lazy x9 dog")],
        "query_id long, text string")
    probe = spark.createDataFrame(
        [(101, _BASE.replace("warm", "cold"))], "doc_id long, text string")
    # ids 3, 8, 13, 18, 23 share this vector: the top 3 change once the
    # batch's 13 is indexed
    q = spark.createDataFrame([(0, _vec(13))],
                              "query_id long, embedding array<double>")
    return {f.name: f for f in [
        Family("bm25", "postings", docs,
               lambda d: R.bm25_build_index(d, n_buckets=8),
               R.write_bm25_index, R.read_bm25_index, R.bm25_append_index,
               lambda ix: R.bm25_topk_from_index(ix, queries, top_k=3)),
        Family("lsh", "entries", docs,
               lambda d: D.lsh_build_index(d, n_buckets=8),
               D.write_lsh_index, D.read_lsh_index, D.lsh_append_index,
               lambda ix: D.lsh_probe_index(ix, probe, threshold=0.2)),
        Family("simhash", "entries", docs,
               lambda d: D.simhash_build_index(d, n_buckets=8),
               D.write_simhash_index, D.read_simhash_index,
               D.simhash_append_index,
               lambda ix: D.simhash_probe_index(ix, probe,
                                                max_distance=12)),
        Family("ivf", "lists", vecs,
               lambda v: S.ivf_build_index(v, centroids=_CENTS),
               S.write_ivf_index, S.read_ivf_index, S.ivf_append_index,
               lambda ix: S.ivf_topk_from_index(ix, q, k=3, nprobe=2)),
        Family("pq", "codes", vecs,
               lambda v: S.pq_build_index(v, codebooks=_BOOKS,
                                          n_subspaces=4),
               S.write_pq_index, S.read_pq_index, S.pq_append_index,
               lambda ix: S.pq_topk_from_index(ix, q, k=3)),
        Family("ivfpq", "entries", vecs,
               lambda v: S.ivfpq_build_index(v, _CENTS, _BOOKS),
               S.write_ivfpq_index, S.read_ivfpq_index,
               S.ivfpq_append_index,
               lambda ix: S.ivfpq_topk_from_index(ix, q, k=3, nprobe=2)),
    ]}


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _ndeltas(vpath):
    return len(glob.glob(os.path.join(vpath, "delta=*", "_COMMITTED")))


@pytest.mark.parametrize(
    "name", ["bm25", "lsh", "simhash", "ivf", "pq", "ivfpq"])
def test_failed_write_aborts_generation(spark, tmp_path, monkeypatch,
                                        name):
    fam = _families(spark)[name]
    root = str(tmp_path / name)
    fam.write(fam.build(fam.rows(1, 6)), root)
    before = _rows(fam.serve(fam.read(spark, root)))

    def fail(*args, **kwargs):
        raise RuntimeError("simulated table write failure")

    monkeypatch.setattr(ist, "write_small_table", fail)
    with pytest.raises(RuntimeError, match="simulated table write"):
        fam.write(fam.build(fam.rows(1, 12)), root)
    monkeypatch.undo()

    # the failed generation is gone, with its in-process records
    v2 = os.path.join(root, "v=2")
    assert list_versions(root) == [1]
    assert v2 not in ist._LEASES and v2 not in ist._BEGIN_PTR
    assert _rows(fam.serve(fam.read(spark, root))) == before
    # the retry reuses the number
    fam.write(fam.build(fam.rows(1, 12)), root)
    assert current_version(root) == 2
    assert _rows(fam.serve(fam.read(spark, root))) == \
        _rows(fam.serve(fam.build(fam.rows(1, 12))))


@pytest.mark.parametrize("name", ["lsh", "simhash", "ivf", "pq", "ivfpq"])
def test_torn_append_is_invisible_and_retry_commits(spark, tmp_path,
                                                    monkeypatch, name):
    fam = _families(spark)[name]
    root = str(tmp_path / name)
    fam.write(fam.build(fam.rows(1, 6)), root)
    pre = _rows(fam.serve(fam.read(spark, root)))
    full = _rows(fam.serve(fam.build(fam.rows(1, 12))))
    assert pre != full

    def crash(dpath):
        raise RuntimeError("simulated crash before delta commit")

    monkeypatch.setattr(ist, "commit_delta", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        fam.append(spark, root, fam.rows(7, 12))
    monkeypatch.undo()

    # the torn delta's table data is on disk, unmarked, and unread
    v1 = resolve_index_path(root)
    assert glob.glob(os.path.join(v1, fam.table, "delta=1", "*"))
    assert _ndeltas(v1) == 0
    assert _rows(fam.serve(fam.read(spark, root))) == pre

    # the retry lands as delta=2 and serves like a rebuild
    fam.append(spark, root, fam.rows(7, 12))
    assert _ndeltas(v1) == 1
    assert _rows(fam.serve(fam.read(spark, root))) == full
