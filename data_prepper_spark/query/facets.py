"""Terms-facet aggregation over a query's match set — the OpenSearch
`aggs: {terms: {field: ...}}` surface every consumer of the reference's
indexes uses next to search itself (the reference ships docs via the
opensearch sink, OpenSearchSink.java:132-141; the search side then
serves `query + aggregations`). VERDICT r3 'What's missing' #3.

Plan shape (and why it scales):

    blocks scan (term In-filter pushed -> row-group pruned)
      |> per-shard kernel: union of the query's term postings,
      |    tombstone-filtered, np.unique -> (query_id, doc_id)
      |> shuffle join with the corpus on doc_id (narrow projection:
      |    doc_id + facet fields only — column-pruned at the scan)
      |> groupBy(query_id, field, value).count()   # partial agg map-side
      |> top-`size` values per (query_id, field) via Window

The match set of a hot term is NOT driver-known and can be huge, so it
flows kernel -> join as distributed rows (never .collect()). At 100 TB
the join is the cost center: bucket the corpus by doc_id (the index is
already doc-partitioned by the same key) and this becomes a co-located
join with zero corpus shuffle. The facet agg itself is two-phase
(map-side partial) — the same merge OpenSearch does across shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_prepper_spark.index.reader import COUNT_COLS, IndexReader
from data_prepper_spark.query import prep
from data_prepper_spark.query.engine import _match_sets, scatter

_MATCH_OUT = "query_id string, doc_id long"


def _match_kernel(tomb=None):
    """Per-shard: (query_id, doc_id) for every doc of the query's
    `engine._match_sets` (OpenSearch `match` / bool-should msm=1 match
    set)."""

    def run(table, entries: dict, dfs: None) -> dict:
        out_q, out_d = [], []
        for qid, docs in _match_sets(table, entries, tomb):
            out_q += [qid] * len(docs)
            out_d += list(docs)
        return {"query_id": out_q, "doc_id": out_d}

    return run


def match_docs(
    spark: SparkSession, index_dir: str, queries: DataFrame,
) -> DataFrame:
    """queries(query_id, query_text) -> (query_id, doc_id) match set.
    The count_matches scatter: no dictionary (no idf), and the scan
    reads the gaps stream alone."""
    r = IndexReader(spark, index_dir)
    per_term = prep.count_entries(
        prep.collect_rows(queries, "query_id", "query_text"), r.mode
    )
    out = scatter(
        r, per_term, prep.COUNT_FIELDS, lambda: _match_kernel(r.tomb),
        _MATCH_OUT, cols=COUNT_COLS, dictionary=False,
    )
    return out if out is not None else spark.createDataFrame([], _MATCH_OUT)


def sort_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    sort_col: str,
    ascending: bool = True,
    fields: list[str] | None = None,
    match: DataFrame | None = None,
) -> DataFrame:
    """OpenSearch `sort` parameter: top-k of the MATCH SET ordered by a
    document attribute instead of BM25 (scores are skipped entirely,
    as OpenSearch does when a non-score sort is given).

    queries(query_id, query_text, k) + docs(doc_id, <attrs>) ->
    (query_id, rank, doc_id, <sort_col>, <fields...>).

    Scale shape: the match set of a hot query can be huge and is never
    collected. Top-k runs TWO-PHASE: a per-(query, input-partition)
    partial top-k first (Window keyed by spark_partition_id spreads a
    hot query over every reducer; each emits <= k rows), then the exact
    global top-k over the <= k * n_partitions survivors — the same
    shard-then-merge shape OpenSearch uses for sorted search."""
    fields = fields or []
    m = match if match is not None else \
        match_docs(spark, index_dir, queries)
    proj = docs.select("doc_id", sort_col, *fields)
    joined = (
        m.join(proj, "doc_id")
        .join(F.broadcast(queries.select("query_id", "k")), "query_id")
    )
    order = [
        F.asc(sort_col) if ascending else F.desc(sort_col),
        F.asc("doc_id"),
    ]
    w_part = Window.partitionBy("query_id", "_pid").orderBy(*order)
    survivors = (
        joined.withColumn("_pid", F.spark_partition_id())
        .withColumn("r", F.row_number().over(w_part))
        .filter(F.col("r") <= F.col("k"))
        .drop("r", "_pid")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", sort_col, *fields)
    )


def terms_facet(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    fields: list[str],
    size: int = 10,
    match: DataFrame | None = None,
) -> DataFrame:
    """-> (query_id, field, value, count): for each query, the top
    `size` values of each facet field among MATCHING docs, ordered by
    count desc then value asc (OpenSearch terms-agg tie-break)."""
    m = match if match is not None else \
        match_docs(spark, index_dir, queries)
    slim = docs.select("doc_id", *fields)
    joined = m.join(slim, "doc_id")
    stacked = joined.select(
        "query_id",
        F.explode(
            F.create_map(*[
                x for f in fields
                for x in (F.lit(f), F.col(f).cast("string"))
            ])
        ).alias("field", "value"),
    )
    counts = stacked.groupBy("query_id", "field", "value").agg(
        F.count(F.lit(1)).alias("count")
    )
    w = Window.partitionBy("query_id", "field").orderBy(
        F.desc("count"), F.asc("value")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= size)
        .select("query_id", "field", "value", "count")
    )


def date_histogram(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    ts_col: str,
    unit: str = "hour",
    match: DataFrame | None = None,
) -> DataFrame:
    """-> (query_id, bucket timestamp, count): the OpenSearch
    `date_histogram` agg over a query's match set, with fixed calendar
    buckets (date_trunc — hour/day/minute/month). Same plan family as
    terms_facet: kernel match set, column-pruned corpus join, two-phase
    count agg; bucket count is bounded by time range / unit, so the
    final agg output is tiny regardless of corpus size."""
    m = match if match is not None else \
        match_docs(spark, index_dir, queries)
    joined = m.join(docs.select("doc_id", ts_col), "doc_id")
    return (
        joined.groupBy(
            "query_id", F.date_trunc(unit, F.col(ts_col)).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )


def stats_facet(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    fields: list[str],
    match: DataFrame | None = None,
) -> DataFrame:
    """-> (query_id, field, count, min, max, avg, sum): the OpenSearch
    `stats` aggregation over a query's match set — the third agg of the
    triad next to `terms` and `date_histogram`. One row per (query,
    numeric field). Same scale shape as terms_facet: distributed match
    set, column-pruned corpus join, ONE two-phase agg producing a
    bounded (n_queries x n_fields) result regardless of corpus size."""
    m = match if match is not None else \
        match_docs(spark, index_dir, queries)
    slim = docs.select("doc_id", *fields)
    joined = m.join(slim, "doc_id")
    stacked = joined.select(
        "query_id",
        F.explode(
            F.create_map(*[
                x for f in fields
                for x in (F.lit(f), F.col(f).cast("double"))
            ])
        ).alias("field", "value"),
    )
    return stacked.groupBy("query_id", "field").agg(
        F.count("value").alias("count"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.avg("value").alias("avg"),
        F.sum("value").alias("sum"),
    )


def percentiles_facet(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    field: str,
    percents: tuple = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0),
    approximate: bool = False,
    accuracy: int = 10000,
    match: DataFrame | None = None,
) -> DataFrame:
    """The OpenSearch `percentiles` aggregation over a query's match
    set -> (query_id, percent, value), default percents matching the
    API's [1, 5, 25, 50, 75, 95, 99].

    Two modes, one plan shape (match set -> column-pruned corpus join
    -> ONE agg producing an array, exploded to rows):

    - exact (default): Spark `percentile` with linear interpolation —
      bit-identical to DuckDB's quantile_cont, so oracle-checkable.
      Buffers each query's matched values on one reducer: right for
      facet-sized match sets, wrong for a hot query at 100 TB.
    - approximate=True: `percentile_approx` (Greenwald-Khanna sketch,
      bounded memory at any scale) — the same trade OpenSearch itself
      makes (its percentiles agg is t-digest, i.e. approximate by
      default); rank error bounded by 1/accuracy, mergeable map-side.
    """
    m = match if match is not None else \
        match_docs(spark, index_dir, queries)
    joined = m.join(docs.select("doc_id", field), "doc_id")
    plist = ", ".join(f"{p / 100.0!r}" for p in percents)
    fn = (
        f"percentile_approx({field}, array({plist}), {int(accuracy)})"
        if approximate else f"percentile({field}, array({plist}))"
    )
    agg = joined.groupBy("query_id").agg(
        F.expr(fn).alias("vals")
    )
    pcts = F.array(*[F.lit(float(p)) for p in percents])
    return (
        agg.select(
            "query_id",
            F.explode(F.arrays_zip(pcts.alias("percent"),
                                   F.col("vals").alias("value"))).alias("z"),
        )
        .select(
            "query_id",
            F.col("z.percent").alias("percent"),
            F.col("z.value").cast("double").alias("value"),
        )
    )


def significant_terms(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    field: str,
    size: int = 10,
    match: DataFrame | None = None,
) -> DataFrame:
    """The OpenSearch `significant_terms` aggregation: field values
    UNUSUALLY frequent in a query's match set relative to the whole
    corpus ("what is different about the matching docs"), scored with
    the default JLH heuristic:

        jlh = (fg_rate - bg_rate) * (fg_rate / bg_rate)

    where fg_rate = fg_count/fg_total over the match set and bg_rate =
    bg_count/bg_total over the full corpus; only values with
    fg_rate > bg_rate qualify (the API returns no "negatively
    significant" buckets). -> (query_id, value, fg_count, bg_count,
    score), top `size` per query by (score desc, value asc).

    Scale shape: foreground reuses the terms_facet plan (distributed
    match set -> column-pruned corpus join -> two-phase count agg);
    background is ONE corpus-wide two-phase agg whose output is
    bounded by field cardinality and joined to the foreground counts
    on value (broadcast-sized for any facetable field). Nothing about
    the corpus is collected; doubles are IEEE-identical in Spark and
    DuckDB so the score itself is oracle-checkable."""
    m = match if match is not None else \
        match_docs(spark, index_dir, queries)
    slim = docs.select("doc_id", F.col(field).cast("string").alias("value"))
    fg = (
        m.join(slim, "doc_id")
        .groupBy("query_id", "value")
        .agg(F.count(F.lit(1)).alias("fg_count"))
    )
    fg_tot = fg.groupBy("query_id").agg(
        F.sum("fg_count").alias("fg_total")
    )
    bg = slim.groupBy("value").agg(F.count(F.lit(1)).alias("bg_count"))
    bg_total = slim.count()
    scored = (
        fg.join(fg_tot, "query_id")
        .join(F.broadcast(bg), "value")
        .withColumn(
            "fg_rate", F.col("fg_count") / F.col("fg_total")
        )
        .withColumn(
            "bg_rate", F.col("bg_count") / F.lit(float(bg_total))
        )
        .filter(F.col("fg_rate") > F.col("bg_rate"))
        .withColumn(
            "score",
            (F.col("fg_rate") - F.col("bg_rate"))
            * (F.col("fg_rate") / F.col("bg_rate")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("value")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= size)
        .select("query_id", "value", "fg_count", "bg_count", "score")
    )


_AUTO_DH_UNITS = ("second", "minute", "hour", "day", "week", "month",
                  "quarter", "year")
_AUTO_DH_SECONDS = (1, 60, 3600, 86400, 604800, 2592000, 7776000,
                    31536000)


def auto_date_histogram(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    ts_col: str,
    target_buckets: int = 10,
    match: DataFrame | None = None,
) -> DataFrame:
    """The OpenSearch `auto_date_histogram` aggregation: pick the
    COARSEST calendar unit whose bucket count stays within
    `target_buckets` over the batch's full time span, then bucket like
    date_histogram -> (query_id, unit, bucket, count). The API's
    "give me about N buckets" dashboard contract without the caller
    guessing an interval.

    Two passes, both bounded: a tiny min/max agg over the joined match
    set picks the unit DRIVER-side (one row; the unit is shared by the
    whole batch so buckets stay comparable across queries, and the
    choice is reproducible from the span alone), then the normal
    date_histogram plan at that unit. The join is recomputed for the
    second pass rather than persisted — both jobs are bounded by the
    match set, and an unmanaged persist() would leak storage across a
    long-lived session (a caller can pass a pre-cached `match` when
    amortizing)."""
    m = match if match is not None else \
        match_docs(spark, index_dir, queries)
    joined = m.join(
        docs.select("doc_id", F.col(ts_col).cast("timestamp").alias("_t")),
        "doc_id",
    )
    row = joined.agg(F.min("_t").alias("lo"), F.max("_t").alias("hi")) \
        .first()
    if row["lo"] is None:
        return spark.createDataFrame(
            [], "query_id string, unit string, bucket timestamp, count long"
        )
    span = (row["hi"] - row["lo"]).total_seconds()
    unit = _AUTO_DH_UNITS[-1]
    for u, sec in zip(_AUTO_DH_UNITS, _AUTO_DH_SECONDS):
        if span / sec <= target_buckets:
            unit = u
            break
    out = (
        joined.select(
            "query_id", F.date_trunc(unit, F.col("_t")).alias("bucket")
        )
        .groupBy("query_id", "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("unit", F.lit(unit))
        .select("query_id", "unit", "bucket", "count")
    )
    return out


def percentile_ranks_facet(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    field: str,
    values: list[float],
    match: DataFrame | None = None,
) -> DataFrame:
    """The OpenSearch `percentile_ranks` aggregation — the inverse of
    percentiles: for each caller value, the percentage of the match
    set's field values at or below it ("what fraction of requests were
    under 500 ms") -> (query_id, value, rank) with rank in [0, 100].
    Exact: each value is ONE when()-guarded mean in a single two-phase
    agg (the fraction is avg of an indicator — mergeable, no sort, no
    buffering, unlike the percentiles direction); nulls are excluded
    from both numerator and denominator like the API."""
    if not values:
        raise ValueError("percentile_ranks: pass at least one value")
    m = match if match is not None else \
        match_docs(spark, index_dir, queries)
    joined = m.join(
        docs.select("doc_id", F.col(field).cast("double").alias("_v")),
        "doc_id",
    ).filter(F.col("_v").isNotNull())
    aggs = [
        (F.avg((F.col("_v") <= float(v)).cast("double")) * 100.0)
        .alias(f"_r{i}")
        for i, v in enumerate(values)
    ]
    wide = joined.groupBy("query_id").agg(*aggs)
    return wide.select(
        "query_id",
        F.explode(
            F.create_map(*[
                x for i, v in enumerate(values)
                for x in (F.lit(float(v)), F.col(f"_r{i}"))
            ])
        ).alias("value", "rank"),
    ).orderBy("query_id", "value")


def significant_text(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    size: int = 10,
    min_doc_count: int = 3,
    match: DataFrame | None = None,
) -> DataFrame:
    """The OpenSearch `significant_text` aggregation: TERMS of the
    free-text field unusually frequent in a query's matching docs
    relative to the whole corpus — significant_terms' text-field
    sibling, the "what words characterize the matching conversations"
    view. JLH-scored with DOC-count statistics (each matching doc
    contributes its DISTINCT terms once, the API contract) ->
    (query_id, term, fg_count, bg_count, score, bucket_rank), top
    `size` per query by (score desc, term asc), buckets with
    fg_count < min_doc_count dropped (API default 3; tests use 1).

    Background statistics come from the INDEX DICTIONARY (df = global
    doc frequency, n_docs from stats.json) — exactly where Lucene's
    significant-text heuristics read their background frequencies, and
    free: no corpus-wide tokenize pass. Foreground: the match set
    joins the column-pruned (doc_id, text) projection FIRST, so only
    MATCHED docs are ever tokenized (join-then-explode; the 13M-doc
    round-4 soak caught the explode-then-join order shuffling the
    whole corpus's exploded tokens — 400M rows for a 2-query batch).
    Tokenize is JVM-side (tokens_col — the index's pinned analyzer),
    array_distinct before explode for doc-count semantics, then a
    two-phase count agg. Cost scales with the match set; output is
    bounded by matched-vocabulary size x queries, never corpus size.
    Like OpenSearch on an unmerged index, background counts include
    tombstoned docs until compaction (documented artifact)."""
    from data_prepper_spark.query.bm25_df import tokens_col

    r = IndexReader(spark, index_dir)
    n_docs = float(r.n_docs)
    m = match if match is not None else \
        match_docs(spark, index_dir, queries)
    matched_text = m.join(docs.select("doc_id", text_col), "doc_id")
    fg = (
        matched_text.select(
            "query_id",
            F.explode(F.array_distinct(tokens_col(text_col, r.mode)))
            .alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("fg_count"))
        .filter(F.col("fg_count") >= min_doc_count)
    )
    fg_tot = m.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("fg_total")
    )
    bg = r.dictionary.select("term", F.col("df").alias("bg_count"))
    scored = (
        fg.join(fg_tot, "query_id")
        .join(F.broadcast(bg), "term")
        .withColumn("fg_rate", F.col("fg_count") / F.col("fg_total"))
        .withColumn("bg_rate", F.col("bg_count") / F.lit(n_docs))
        .filter(F.col("fg_rate") > F.col("bg_rate"))
        .withColumn(
            "score",
            (F.col("fg_rate") - F.col("bg_rate"))
            * (F.col("fg_rate") / F.col("bg_rate")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("bucket_rank", F.row_number().over(w))
        .filter(F.col("bucket_rank") <= size)
        .select("query_id", "term", "fg_count", "bg_count", "score",
                "bucket_rank")
    )


def count_matches(
    spark: SparkSession, index_dir: str, queries: DataFrame,
) -> DataFrame:
    """-> (query_id, n): the OpenSearch `_count` API role. Since
    session 2 this delegates to `engine.count_matches` (the gaps-only
    scatter: tfs/dls never reach the blocks scan — plan-pinned by
    test_plan_shape.py), keeping this module's historical (query_id,
    n) column contract."""
    from data_prepper_spark.query.engine import count_matches as _cm

    return _cm(spark, index_dir, queries).withColumnRenamed(
        "total_hits", "n"
    )
