"""The benchmark's workloads: what each one runs, on which inputs, and
how its outputs are checked.

An operation is a zero-argument callable into the engine's public
functions that returns a DataFrame (forced by the runner with a noop-sink
write) or None (an eager call, forced by its own return).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable, Optional

# Events-only queries from the paper's core, one from each group: per-query
# fixed cost (driver plan construction, Catalyst, the job floor) dominates
# them.
TS_INTERACTIVE = (
    "sliding_mean_sum",             # windows and differences
    "period_days",                  # calendar aggregation
    "spiralogram_binned",           # spiralograms
    "interp_nearest",               # interpolation
    "acf_by_user",                  # spectra
)


@dataclass
class Op:
    name: str
    kind: str                       # "query", "commit" or "serve"
    call: Callable[[], object]
    family: Optional[str] = None
    step: Optional[str] = None


def query_ops(spark, data_dir, names):
    from __spark_entry__ import queries
    registry = queries()
    return [Op(n, "query", (lambda fn=registry[n]: fn(spark, data_dir)))
            for n in names]


# ------------------------------------------------------------ index families
@dataclass
class Family:
    """One persisted index family behind a uniform lifecycle interface.

    ``corpus``/``serve_input`` reproduce the split of the family's
    registered lifecycle query, so the post-compaction serve must equal
    that query's one-shot oracle (``oracle``)."""

    name: str
    oracle: str
    id_col: str
    build: Callable
    write: Callable
    read: Callable
    merge: Callable
    append: Callable
    compact: Callable
    serve: Callable
    corpus: object
    serve_input: object


def families(spark, data_dir):
    from orange3_timeseries_spark.operators import similarity as S
    from orange3_timeseries_spark.queries_pipeline import (
        _ann_seed_books,
        _ann_seed_centroids,
        _ann_seed_queries,
    )
    from orange3_timeseries_spark.sources import read_table

    vecs = read_table(spark, data_dir, "embeddings")
    # the seed models the registered lifecycle query trains: the first
    # 16 corpus vectors as centroids, codebooks sliced from the same rows
    cents, books = _ann_seed_centroids(vecs), _ann_seed_books(vecs)
    return [
        Family("ivfpq", "ann_ivfpq_lifecycle_topk", "vec_id",
               lambda df: S.ivfpq_build_index(df, cents, books),
               S.write_ivfpq_index, S.read_ivfpq_index, S.ivfpq_merge_index,
               S.ivfpq_append_index, S.compact_ivfpq_index,
               lambda i, q: S.ivfpq_topk_from_index(i, q, k=5, nprobe=4),
               vecs, _ann_seed_queries(vecs)),
    ]


BATCHES = 10        # hash buckets of the corpus
BASE_BUCKETS = 6    # build+write; then 2 buckets merged, 2 appended
STEPS = ("write", "merge", "append", "compact")    # the commits, in order
SERVES = 2          # serves of the compacted index, one after another


def split_plan(seed):
    """Bucket numbers of the (base, merge, append) batches for ``seed``."""
    import random
    order = list(range(BATCHES))
    random.Random(seed).shuffle(order)
    return (order[:BASE_BUCKETS], order[BASE_BUCKETS:BASE_BUCKETS + 2],
            order[BASE_BUCKETS + 2:])


def lifecycle_ops(spark, fam, path, seed, steps=STEPS, serves=SERVES):
    """The lifecycle of one family on a fresh path: build+write,
    read+merge+write, append, compact (those of them in ``steps``), then
    ``serves`` serves from the result, each reading the index."""
    from pyspark.sql import functions as F

    bucket = F.pmod(F.xxhash64(F.col(fam.id_col), F.lit(seed)),
                    F.lit(BATCHES))
    base, merge, append = split_plan(seed)

    def part(buckets):
        return fam.corpus.where(bucket.isin(buckets))

    shutil.rmtree(path, ignore_errors=True)
    calls = {
        "write": lambda: fam.write(fam.build(part(base)), path),
        "merge": lambda: fam.write(
            fam.merge(fam.read(spark, path), part(merge)), path),
        "append": lambda: fam.append(spark, path, part(append)),
        "compact": lambda: fam.compact(spark, path),
    }
    ops = [Op(f"{fam.name}.{step}", "commit", calls[step], fam.name, step)
           for step in steps]
    ops += [Op(f"{fam.name}.serve", "serve",
               lambda: fam.serve(fam.read(spark, path), fam.serve_input),
               fam.name, "serve")] * serves
    return ops


def dir_stats(path):
    """{relative file path: size} of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out
