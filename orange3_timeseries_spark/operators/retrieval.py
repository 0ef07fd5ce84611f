"""BM25 retrieval over a document corpus: the standard inverted-index
ranking primitive for decontamination-by-retrieval and quality-slicing
in training-data pipelines.

Extends the reference's surface (it has no retrieval operators) per the
project brief.  Design:

- **Inverted index as a DataFrame**: explode tokens -> one
  map-side-combining ``groupBy(doc, token)`` -> postings ``(doc_id,
  token, tf, dl)``.  At 100 TB the postings shuffle carries only skinny
  (id, token, two ints) rows.
- **Query-first pruning**: the distinct query-token set is broadcast and
  semi-joined into the postings BEFORE document frequencies are
  computed, so df/idf and scoring only ever touch postings whose token
  appears in some query — the corpus-sized token tail never shuffles.
  The df a token gets is still its full-corpus document frequency
  (filtering is by token, never by document).
- **Corpus stats without a driver action**: ``(N, Σdl)`` ride along as a
  broadcast one-row aggregate, ``avgdl`` derived per-row from the same
  two BIGINTs in both engines (one IEEE division — bit-identical).
- **Deterministic integer-unit scoring**: each per-(query, doc, token)
  BM25 term is computed with a fixed association of IEEE ops, rounded
  once to integer micro-units (``round(term * 10^unit_scale)`` as
  BIGINT), and the per-document score is the exact integer SUM of those
  units — order-free, so the ranking comparison is an integer compare
  that reassociation or partitioning cannot flip.  Ties break on
  ``doc_id`` ascending.
- **Top-k per query**: rank window partitioned by query over
  ``(units DESC, doc_id ASC)``.

Scoring formula (the Lucene/"BM25+1" robust-idf form, always >= 0)::

    idf(t)  = ln( ((N - df) + 0.5) / (df + 0.5) + 1 )
    norm(d) = k1 * ((1 - b) + b * (dl / avgdl))
    score   = sum_t  idf(t) * (tf * (k1 + 1)) / (tf + norm(d))
"""

from __future__ import annotations

import os
from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orange3_timeseries_spark.operators import index_store as ist
from orange3_timeseries_spark.operators.text import tokens_expr

__all__ = ["bm25_topk", "rrf_fuse", "Bm25Index", "bm25_build_index",
           "write_bm25_index", "read_bm25_index", "bm25_topk_from_index"]


def _bm25_score_topk(hit: DataFrame, stats: DataFrame,
                     q_terms: DataFrame, *, id_col: str,
                     query_id_col: str, k1: float, b: float,
                     top_k: int, unit_scale: int) -> DataFrame:
    """The shared BM25 scoring kernel: from pruned postings-with-df
    ``hit`` = (id_col, __tok__, __dl__, __tf__, __df__), the one-row
    corpus ``stats`` = (__n__, __sdl__), and the distinct
    ``q_terms`` = (query_id, __tok__), produce the ranked top-k table.
    Both the live :func:`bm25_topk` and the persisted-index serve path
    :func:`bm25_topk_from_index` route here — the bit-identical
    build→serve contract is structural, not copy-paste-synced."""
    unit = float(10 ** unit_scale)
    scored = hit.crossJoin(F.broadcast(stats))

    # fixed-association IEEE pipeline, identical in the DuckDB oracle:
    # every input is BIGINT, every mixed op promotes the same way
    avgdl = F.col("__sdl__").cast("double") / F.col("__n__").cast("double")
    idf = F.log(
        ((F.col("__n__") - F.col("__df__")).cast("double") + F.lit(0.5))
        / (F.col("__df__").cast("double") + F.lit(0.5)) + F.lit(1.0))
    norm = F.lit(k1) * (F.lit(1.0 - b)
                        + F.lit(b) * (F.col("__dl__").cast("double") / avgdl))
    weight = (F.col("__tf__").cast("double") * F.lit(k1 + 1.0)) \
        / (F.col("__tf__").cast("double") + norm)
    term_units = F.round(idf * weight * F.lit(unit)).cast("bigint")

    # materialize term_units BEFORE the q_terms fan-out join: the unit
    # value depends only on (doc, token), but evaluated inside the agg
    # it would recompute the log/divide pipeline once per JOINED
    # (query, doc, token) row — the fan-out is |queries sharing the
    # token| per hit row, so the hoist cuts the transcendental work by
    # that factor while summing the identical bigints (exact, order-free)
    per_doc = (scored
               .select(id_col, "__tok__", term_units.alias("__u__"))
               .join(F.broadcast(q_terms), "__tok__")
               .groupBy(query_id_col, id_col)
               .agg(F.sum("__u__").alias("__units__"),
                    F.count(F.lit(1)).cast("bigint").alias("n_terms")))
    wr = (Window.partitionBy(query_id_col)
          .orderBy(F.col("__units__").desc(), F.col(id_col).asc()))
    return (per_doc
            .withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= top_k)
            .select(query_id_col, id_col,
                    F.col("rank").cast("int").alias("rank"),
                    (F.col("__units__") / F.lit(unit)).alias("score"),
                    "n_terms"))


def _query_terms(queries: DataFrame, query_text_col: str,
                 query_id_col: str) -> DataFrame:
    """Distinct (query, token) pairs; small by contract -> broadcast."""
    return (queries
            .select(F.col(query_id_col),
                    F.explode(F.array_distinct(
                        tokens_expr(F.col(query_text_col))))
                    .alias("__tok__"))
            .distinct())


def _query_terms_local(queries: DataFrame, query_text_col: str,
                       query_id_col: str, n_buckets=None):
    """Collect the distinct (query, token) pairs ONCE and rebuild them
    as JVM LocalRelations: ``(q_terms, qtok, buckets)``.

    The serve plans otherwise RE-EXECUTE the query-side
    tokenize+distinct subtree for every consumer — the bucket-prune
    collect, the postings semi-join broadcast build, and the scoring
    join broadcast build are three separate small jobs over the same
    bounded data (guide §2.2: don't recompute what one pass already
    produced).  Queries are small by the same contract that lets them
    broadcast, so one driver collect carries exactly the bytes the
    broadcasts were shipping anyway; the rebuilt LocalRelations make
    every downstream broadcast build a zero-task driver read.  Content
    is identical to the lazy form (same rows, same xxhash64 bucket
    rule), so scores are bit-identical.

    Above the driver-collect budget (Catalyst size estimate vs
    ``SPARK_GRAFT_DRIVER_COLLECT_BUDGET`` —
    operators/localrel.driver_collect_ok) the collect is SKIPPED and
    the lazy distributed shapes return instead: a caller that hands a
    corpus-sized queries DF gets the graceful pre-r13 degradation (the
    query subtree re-executes per consumer) rather than a driver OOM;
    the bucket list still collects, but only AFTER a distinct — it is
    bounded by ``n_buckets`` ints no matter how large the query side
    is (r13 VERDICT item 2)."""
    from orange3_timeseries_spark.operators.localrel import (
        driver_collect_ok,
        local_df,
    )

    q = _query_terms(queries, query_text_col, query_id_col)
    spark = queries.sparkSession
    if not driver_collect_ok(q):
        qtok = q.select("__tok__").distinct()
        buckets = None
        if n_buckets is not None:
            buckets = sorted(
                int(r[0]) for r in qtok.select(
                    F.pmod(F.xxhash64(F.col("__tok__")),
                           F.lit(int(n_buckets))).cast("int")
                    .alias("__b__")).distinct().collect())
        return q, qtok, buckets
    if n_buckets is not None:
        rows = q.withColumn(
            "__b__", F.pmod(F.xxhash64(F.col("__tok__")),
                            F.lit(int(n_buckets))).cast("int")).collect()
        buckets = sorted({int(r["__b__"]) for r in rows})
    else:
        rows = q.collect()
        buckets = None
    id_ddl = dict(queries.dtypes)[query_id_col]
    q_terms = local_df(
        spark, [(r[query_id_col], r["__tok__"]) for r in rows],
        f"{query_id_col} {id_ddl}, __tok__ string")
    qtok = local_df(
        spark, [(t,) for t in sorted({r["__tok__"] for r in rows})],
        "__tok__ string")
    return q_terms, qtok, buckets


def bm25_topk(docs: DataFrame, queries: DataFrame, *,
              text_col: str = "text", id_col: str = "doc_id",
              query_text_col: str = "text", query_id_col: str = "query_id",
              k1: float = 1.2, b: float = 0.75, top_k: int = 10,
              unit_scale: int = 6) -> DataFrame:
    """Top-``top_k`` BM25 matches per query: ``(query_id, doc_id, rank,
    score, n_terms)``.

    ``n_terms`` is the number of distinct query tokens the document
    matched; ``score`` is the exact micro-unit sum presented as a
    double (``units / 10^unit_scale``).  Queries are tokenized like
    documents (lowercased whitespace tokens) and deduplicated — the
    classic binary-qtf BM25.  A query whose tokens match nothing
    produces no rows.
    """
    from orange3_timeseries_spark.operators.partitioning import (
        widen_partitions,
    )

    d = widen_partitions(docs.select(id_col, text_col))
    toks = tokens_expr(F.col(text_col))
    posting = d.select(F.col(id_col),
                       F.size(toks).alias("__dl__"),
                       F.explode(toks).alias("__tok__"))

    q_terms, qtok, _ = _query_terms_local(queries, query_text_col,
                                          query_id_col)
    # prune the postings to query tokens BEFORE the tf aggregation, not
    # after: the map-side broadcast semi-join means only matching-token
    # postings ever shuffle (for keyword queries that is ~1% of the
    # corpus's exploded rows — the r9 decade smoke measured exponent
    # 1.27 with the groupBy first, 0.9x after this reorder).  The df a
    # token gets is still its full-corpus document frequency, because
    # pruning drops whole tokens, never docs.
    qtok_b = F.broadcast(qtok)
    hit = (posting.join(qtok_b, "__tok__")
           .groupBy(id_col, "__tok__", "__dl__")
           .agg(F.count(F.lit(1)).alias("__tf__")))
    # df per token as a map-side-combining aggregate broadcast back in —
    # NOT a window partitioned by token: a frequent token's window
    # partition is every matching document (unbounded skew at corpus
    # scale), while the aggregated df table is <= |distinct query tokens|
    # rows no matter how large the corpus is
    df_tbl = hit.groupBy("__tok__").agg(F.count(F.lit(1)).alias("__df__"))
    hit = hit.join(F.broadcast(df_tbl), "__tok__")

    stats = d.agg(F.count(F.lit(1)).alias("__n__"),
                  F.sum(F.size(toks)).alias("__sdl__"))
    return _bm25_score_topk(hit, stats, q_terms, id_col=id_col,
                            query_id_col=query_id_col, k1=k1, b=b,
                            top_k=top_k, unit_scale=unit_scale)


def rrf_fuse(rankings, k: int = 60, top_k: int = 10, *,
             query_id_col: str = "query_id", id_col: str = "doc_id",
             rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    per-query rankings: ``score(d) = sum_r 1/(k + rank_r(d))`` with a
    missing ranker contributing 0; output ``(query_id, doc_id,
    rank_1..rank_N, score, rrf_rank)`` with ``rrf_rank`` breaking score
    ties on ``id_col`` ascending.

    The standard hybrid-retrieval combiner (BM25 + embedding ANN) for
    training-data pipelines: rank fusion needs no score calibration
    between rankers, and because every input is an INTEGER rank the
    score is the same fixed left-to-right sum of exact reciprocals on
    every engine — the fused ordering is bit-deterministic, no quantize
    firewall needed.  Each ranking is a skinny (query, doc, rank) table,
    so the N-way outer join shuffles only ids and small ints no matter
    how large the underlying corpus is."""
    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs at least two rankings")
    fused = None
    for i, r in enumerate(rankings, start=1):
        part = r.select(query_id_col, id_col,
                        F.col(rank_col).cast("int").alias(f"rank_{i}"))
        fused = part if fused is None else fused.join(
            part, on=[query_id_col, id_col], how="full_outer")
    score = None
    for i in range(1, len(rankings) + 1):
        term = F.coalesce(F.lit(1.0) / (F.lit(float(k))
                                        + F.col(f"rank_{i}")),
                          F.lit(0.0))
        score = term if score is None else score + term
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.col("__score__").desc(), F.col(id_col).asc()))
    return (fused.withColumn("__score__", score)
            .withColumn("rrf_rank", F.row_number().over(w))
            .where(F.col("rrf_rank") <= top_k)
            .select(query_id_col, id_col,
                    *[f"rank_{i}" for i in range(1, len(rankings) + 1)],
                    F.col("__score__").alias("score"), "rrf_rank"))


def retrieval_eval(ranking: DataFrame, qrels: DataFrame, *,
                   k: int = 10, query_id_col: str = "query_id",
                   id_col: str = "doc_id", rank_col: str = "rank",
                   unit_scale: int = 6) -> DataFrame:
    """Per-query retrieval-quality metrics of a ranking against binary
    relevance judgments: ``(query_id, n_rel, n_hits, recall_at_k, mrr,
    ndcg_at_k)`` — the standard eval triple (recall@k, MRR, binary
    nDCG@k) a retrieval stack needs before its rankings gate anything
    (decontamination audits, hybrid-fusion weight tuning, index-recall
    monitoring).

    ``ranking`` holds ``(query_id, doc_id, rank)`` rows (extra columns
    ignored; rows with rank > k are filtered here, and a document
    ranked more than once for the same query — e.g. the raw union of
    two ranker outputs — counts ONCE at its best rank, the trec_eval
    convention, so duplicates can never push recall or nDCG past 1).
    ``qrels`` holds ``(query_id, doc_id)`` relevant pairs
    (deduplicated here).  Every query WITH judgments gets a row —
    zero-hit queries score 0, not absent (silent drops are how eval
    numbers lie).

    Determinism: DCG is the classic ``Σ_hits 1/log2(rank+1)`` — each
    per-rank gain is quantized ONCE to integer micro-units
    (``round(10^unit_scale / log2(rank+1))`` — one fixed IEEE
    expression of an integer argument, identical on any engine) and
    summed as exact BIGINTs, so the sum is aggregation-order-free; the
    ideal DCG is the same units summed over ranks ``1..min(k, n_rel)``.
    ``ndcg_at_k``/``recall_at_k``/``mrr`` are single exact divisions,
    emitted unrounded.

    Scale: two skinny joins (ranking ⋈ qrels on (query, doc), then the
    per-query aggregate joined back to the per-query judgment counts);
    everything after the inputs is bounded by |queries| × k rows —
    corpus size never appears."""
    unit = float(10 ** unit_scale)
    r = (ranking.select(F.col(query_id_col), F.col(id_col),
                        F.col(rank_col).cast("int").alias("__rk__"))
         .where(F.col("__rk__") <= k)
         .groupBy(query_id_col, id_col)
         .agg(F.min("__rk__").alias("__rk__")))
    q = qrels.select(query_id_col, id_col).distinct()
    n_rel = q.groupBy(query_id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel"))
    gain = F.round(F.lit(unit)
                   / F.log2(F.col("__rk__") + F.lit(1))).cast("bigint")
    hit_agg = (r.join(q, [query_id_col, id_col])
               .groupBy(query_id_col)
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"),
                    F.sum(gain).alias("__dcg__"),
                    F.min("__rk__").alias("__minrk__")))
    ideal = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k))
                   .cast("int")),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + F.round(F.lit(unit)
                                     / F.log2(i + F.lit(1)))
        .cast("bigint"))
    return (n_rel.join(hit_agg, query_id_col, "left")
            .select(
                query_id_col, "n_rel",
                F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint"))
                .alias("n_hits"),
                (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                 / F.col("n_rel").cast("double")).alias("recall_at_k"),
                F.coalesce(F.lit(1.0)
                           / F.col("__minrk__").cast("double"),
                           F.lit(0.0)).alias("mrr"),
                (F.coalesce(F.col("__dcg__"), F.lit(0)).cast("double")
                 / ideal.cast("double")).alias("ndcg_at_k")))


__all__.append("retrieval_eval")


class Bm25Index(NamedTuple):
    """A persisted-or-persistable BM25 inverted index: three skinny
    state tables under the same build-once/serve-refit-free contract as
    the forecaster model tables (``models/registry.py``) — plain
    parquet columns, no pickle, engine-agnostic.

    - ``postings``: one row per (doc, token) — ``(token, <id_col>, tf,
      dl, bucket)``.  ``bucket = pmod(xxhash64(token), n_buckets)`` is
      the partition key: serving prunes whole parquet partitions by the
      query tokens' buckets before any join runs.  A token-less
      document keeps one NULL-token sentinel row (never scored, never
      in ``token_df``) so postings cover EVERY indexed id — the merge
      guard and the stats derivation depend on that completeness.
    - ``token_df``: the dictionary — ``(token, df, bucket)``.
    - ``stats``: ONE row — ``(n_docs, sum_dl, n_buckets)``.

    All counts are BIGINT, so a write→read round-trip is exact and a
    serve from the loaded index scores bit-identically to the live
    corpus-scan path (shared kernel :func:`_bm25_score_topk`).
    """

    postings: DataFrame
    token_df: DataFrame
    stats: DataFrame
    id_col: str = "doc_id"
    #: bucket count as a plain int (also in stats/params) — lets the
    #: merge and write paths avoid executing a one-row aggregate whose
    #: plan may be a full corpus pass on a freshly built index
    n_buckets: int = 64
    #: True only for fresh ``bm25_build_index`` output, whose postings
    #: are sentinel-complete BY CONSTRUCTION.  Indexes read from disk
    #: carry False, so a write cross-checks the stats it derives from
    #: the postings against the carried ones (:func:`_bm25_write_tables`)
    stats_trusted: bool = True


def bm25_build_index(docs: DataFrame, *, text_col: str = "text",
                     id_col: str = "doc_id",
                     n_buckets: int = 64) -> Bm25Index:
    """Build the full-corpus inverted index ONCE: explode tokens, one
    map-side-combining tf aggregation (the only corpus-sized shuffle —
    skinny (id, token, two ints) rows), one vocabulary-sized df
    aggregation, one single-row stats aggregate.  Unlike the live
    :func:`bm25_topk` there is no query-token pruning here — the index
    must serve ANY future query — which is exactly why it pays to
    persist it: every serve afterwards touches only the query tokens'
    buckets."""
    from orange3_timeseries_spark.operators.partitioning import (
        widen_partitions,
    )

    d = widen_partitions(docs.select(id_col, text_col))
    toks = tokens_expr(F.col(text_col))
    # explode_OUTER: a token-less document keeps ONE sentinel row
    # (token NULL, tf 1) — it can never score (query tokens join on
    # equality, so NULL never matches; token_df excludes it), but it
    # makes postings a COMPLETE per-doc record, so the merge guard
    # sees every indexed id (a re-ingested token-less doc previously
    # slipped past the guard and double-counted into N/Σdl) and the
    # persisted stats are derivable from postings alone
    posting = d.select(F.col(id_col),
                       F.size(toks).alias("dl"),
                       F.explode_outer(toks).alias("token"))
    tf = (posting.groupBy(id_col, "token", "dl")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    bucket = F.pmod(F.xxhash64(F.col("token")),
                    F.lit(n_buckets)).cast("int")
    postings = tf.select("token", id_col, "tf",
                         F.col("dl").cast("bigint").alias("dl"),
                         bucket.alias("bucket"))
    token_df = (tf.where(F.col("token").isNotNull())
                .groupBy("token")
                .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
                .select("token", "df", bucket.alias("bucket")))
    # stats use the SAME expressions as the live path (count every doc,
    # token-less ones included) so live and served scores share N/Σdl
    stats = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                  F.sum(F.size(toks)).cast("bigint").alias("sum_dl"),
                  F.lit(int(n_buckets)).alias("n_buckets"))
    return Bm25Index(postings, token_df, stats, id_col, n_buckets,
                     stats_trusted=True)


def _pin_budget_ok(df: DataFrame) -> bool:
    """Gate for the write-path postings pin: Catalyst's size estimate
    vs ``SPARK_GRAFT_WRITE_PIN_BUDGET`` bytes (default 8 GiB of
    executor-local checkpoint storage).  Inputs without statistics
    (driver-created DataFrames report Long.Max) are treated as
    bounded — they were driver-resident to begin with; an estimate
    failure keeps the always-correct sequential shape."""
    from orange3_timeseries_spark.operators.localrel import (
        plan_estimated_bytes,
    )

    budget = int(os.environ.get("SPARK_GRAFT_WRITE_PIN_BUDGET",
                                str(8 << 30)))
    try:
        est = plan_estimated_bytes(df)
    except Exception:
        return False
    return est >= (1 << 60) or est <= budget


_POSTINGS = ist.StateTable("postings", "bucket")
_TOKEN_DF = ist.StateTable(
    "token_df", "bucket",
    fold=lambda rows: (rows.groupBy("token", "bucket")
                       .agg(F.sum("df").cast("bigint").alias("df"))
                       .select("token", "df", "bucket")))
_STATS = ist.StateTable(
    "stats",
    fold=lambda rows: rows.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
        F.max("n_buckets").alias("n_buckets")))


def _bm25_write_tables(index: Bm25Index, table_path, guard=None) -> None:
    """The table wave of BM25's versioned write AND append: only the
    postings run the corpus tokenize; ``token_df`` and ``stats`` are
    DERIVED from them (df = rows per non-sentinel token, N = distinct
    ids, Σdl = per-doc dl summed), exact thanks to the sentinel rows.
    Within the pin budget (:func:`_pin_budget_ok`) the postings are
    pinned ONCE and every write, the derivation and the guard run as
    one concurrent wave; above it the postings are written first and
    read back.  An index read from disk (``stats_trusted`` False) must
    derive the stats it carries, else the write fails LOUDLY: a legacy
    pre-sentinel base would undercount N/Σdl in every later serve."""
    if _pin_budget_ok(index.postings):
        pr = index.postings.localCheckpoint()

        def _write_postings():
            ist.write_table(pr, _POSTINGS, table_path("postings"))
    else:
        ist.write_table(index.postings, _POSTINGS, table_path("postings"))
        pr = index.postings.sparkSession.read.parquet(
            table_path("postings"))
        _write_postings = None

    def _write_token_df():
        ist.write_table(pr.where(F.col("token").isNotNull())
                        .groupBy("token", "bucket")
                        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
                        .select("token", "df", "bucket"),
                        _TOKEN_DF, table_path("token_df"))

    def _derive_stats():
        return (pr.groupBy(index.id_col)
                .agg(F.max("dl").alias("__dl__"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                     F.sum("__dl__").cast("bigint").alias("sum_dl"))
                .first())

    def _carried_stats():
        # SUM-aggregated: merged/fragmented stats may be multi-row
        return index.stats.agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("sum_dl").cast("bigint").alias("sum_dl")).first()

    trusted = index.stats_trusted
    # run_concurrent drops None thunks: the derivations are always the
    # last one or two results
    res = ist.run_concurrent(guard, _write_postings, _write_token_df,
                             _derive_stats,
                             None if trusted else _carried_stats)
    derived = res[-1] if trusted else res[-2]
    if not trusted and (res[-1]["n_docs"], res[-1]["sum_dl"]) != \
            (derived["n_docs"], derived["sum_dl"]):
        raise ValueError(
            "write_bm25_index: stats derived from postings "
            f"(n_docs={derived['n_docs']}, sum_dl={derived['sum_dl']}) "
            "disagree with the stats this index carries "
            f"(n_docs={res[-1]['n_docs']}, sum_dl={res[-1]['sum_dl']})"
            " — the postings are not a complete per-doc record "
            "(legacy pre-sentinel base index, or externally edited "
            "state). Rebuild the index from the source corpus.")
    ist.write_small_table(
        index.postings.sparkSession, table_path("stats"),
        [(derived["n_docs"], derived["sum_dl"], int(index.n_buckets))],
        "n_docs bigint, sum_dl bigint, n_buckets int")


def _bm25_load(spark, vpath, tables, id_col=None) -> Bm25Index:
    from pyspark.errors import AnalysisException

    try:
        p = ist.read_small_table_row(spark, os.path.join(vpath, "params"))
        if id_col is None:
            id_col = p["id_col"]
        n_buckets = int(p["n_buckets"])
    except AnalysisException:
        # missing params table = legacy layout; the stats table
        # carries the true modulus
        if id_col is None:
            id_col = "doc_id"
        n_buckets = int(tables["stats"].select("n_buckets").first()[0])
    return Bm25Index(tables["postings"], tables["token_df"],
                     tables["stats"], id_col, n_buckets,
                     stats_trusted=False)


BM25_SPEC = ist.IndexSpec(
    "bm25", (_POSTINGS, _TOKEN_DF, _STATS),
    small_tables=lambda ix: [("params", [(ix.id_col, int(ix.n_buckets))],
                              "id_col string, n_buckets int")],
    load=_bm25_load,
    delta=lambda base, new_docs, text_col="text": bm25_build_index(
        new_docs, text_col=text_col, id_col=base.id_col,
        n_buckets=int(base.n_buckets)),
    guard=("postings", None, "double-count its postings"),
    write_tables=_bm25_write_tables)


def write_bm25_index(index: Bm25Index, path: str) -> None:
    """Persist the index as the next generation of the logical root
    ``path`` (operators/index_store.py). ``postings`` and ``token_df``
    partition by ``bucket``, so a serve's bucket filter becomes parquet
    PartitionFilters; ``token_df`` and ``stats`` are derived from the
    postings in one corpus pass (:func:`_bm25_write_tables`)."""
    ist.write_index(BM25_SPEC, index, path)


def read_bm25_index(spark: SparkSession, path: str,
                    id_col: Optional[str] = None) -> Bm25Index:
    """Load the current generation of ``path``; only the params row
    (build-time id column and bucket modulus) is read eagerly, and
    ``id_col`` overrides it.  A PRE-PARAMS index falls back to
    ``'doc_id'`` and its stats row's modulus, but only when params is
    missing: a corrupt table raises, because a wrong modulus would route
    merged postings to buckets the serve's prune never reads."""
    return ist.read_index(BM25_SPEC, spark, path, id_col=id_col)


def bm25_topk_from_index(index: Bm25Index, queries: DataFrame, *,
                         query_text_col: str = "text",
                         query_id_col: str = "query_id",
                         k1: float = 1.2, b: float = 0.75,
                         top_k: int = 10, unit_scale: int = 6,
                         prune_buckets: bool = True) -> DataFrame:
    """Serve BM25 top-k from a LOADED index — no corpus rescan, no tf
    re-aggregation: the only work is (1) an optional parquet partition
    prune to the query tokens' buckets (a bounded collect of <=
    |distinct query tokens| ints — queries are small by the same
    contract that lets them broadcast), (2) a broadcast semi-join
    pruning postings to query tokens, and (3) the shared scoring
    kernel's one skinny (query, doc) aggregation + top-k rank window.
    Every exchange after the scan is bounded by |queries| × top-k-ish
    row counts, independent of corpus size.

    Scores are bit-identical to :func:`bm25_topk` on the same corpus:
    tf/dl/df/N/Σdl round-trip exactly as BIGINTs and both paths route
    through :func:`_bm25_score_topk`."""
    id_col = index.id_col
    if id_col not in index.postings.columns:
        raise ValueError(
            f"index postings have no {id_col!r} column (columns: "
            f"{index.postings.columns}) — pass the id_col the index "
            "was built with to read_bm25_index")
    q_terms, qtok, bks = _query_terms_local(
        queries, query_text_col, query_id_col,
        n_buckets=int(index.n_buckets) if prune_buckets else None)

    post = index.postings
    tdf = index.token_df
    if prune_buckets:
        post = post.where(F.col("bucket").isin(bks))
        tdf = tdf.where(F.col("bucket").isin(bks))

    qtok_b = F.broadcast(qtok)
    hit = (post.withColumnRenamed("token", "__tok__")
           .join(qtok_b, "__tok__")
           .select(id_col, "__tok__",
                   F.col("dl").alias("__dl__"),
                   F.col("tf").alias("__tf__")))
    # SUM-aggregate df and stats instead of reading them raw: an index
    # fragmented by append-mode ingests (``bm25_append_index``) holds
    # one df row per (token, generation) and one stats row per ingest —
    # exact BIGINT addition recovers the canonical values, and on a
    # compact single-generation index the aggregation is the identity.
    # Both aggregates run AFTER the query-token prune, so they are
    # bounded by |query tokens| / |ingests|, never corpus-sized.
    df_tbl = (tdf.withColumnRenamed("token", "__tok__")
              .join(qtok_b, "__tok__")
              .groupBy("__tok__")
              .agg(F.sum("df").cast("bigint").alias("__df__")))
    hit = hit.join(F.broadcast(df_tbl), "__tok__")
    stats = index.stats.agg(
        F.sum("n_docs").cast("bigint").alias("__n__"),
        F.sum("sum_dl").cast("bigint").alias("__sdl__"))
    return _bm25_score_topk(hit, stats, q_terms, id_col=id_col,
                            query_id_col=query_id_col, k1=k1, b=b,
                            top_k=top_k, unit_scale=unit_scale)


def bm25_merge_index(base: Bm25Index, new_docs: DataFrame, *,
                     text_col: str = "text",
                     check_disjoint: bool = True) -> Bm25Index:
    """Merge newly ingested documents WITHOUT a rebuild: delta postings
    over ``new_docs`` only, df and stats added as BIGINTs, so serves are
    hash-identical to a rebuild over the union.  ``check_disjoint``
    (default True) rejects an already indexed id LOUDLY (it would
    double-count its postings); pass False only when a pipeline proves
    disjointness upstream (e.g.  ``operators/audit.py:coverage_audit``)."""
    return ist.merge_index(BM25_SPEC, base, new_docs, check_disjoint,
                           text_col=text_col)


def bm25_append_index(spark: SparkSession, path: str,
                      new_docs: DataFrame, *, text_col: str = "text",
                      check_disjoint: bool = True) -> None:
    """FAST-INGEST append: the batch's postings, df rows and one stats
    row land as a JOURNALED DELTA of the current generation, IO
    proportional to the batch and invisible until its marker lands.
    Serves SUM-aggregate df and stats, so appended rows score
    bit-identically to a rebuild; each append adds ~1 file per touched
    bucket until :func:`compact_bm25_index`. The disjoint guard is the
    one corpus-sized read."""
    ist.append_index(BM25_SPEC, spark, path, new_docs, check_disjoint,
                     text_col=text_col)


def compact_bm25_index(spark: SparkSession, path: str) -> None:
    """Fold the journaled deltas into a fresh canonical generation (~1
    file per bucket, token_df and stats re-derived and cross-checked);
    serves stay hash-identical."""
    ist.compact_index(BM25_SPEC, spark, path)


__all__ += ["bm25_merge_index", "bm25_append_index",
            "compact_bm25_index"]
