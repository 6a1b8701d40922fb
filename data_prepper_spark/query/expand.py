"""Multi-term query expansion: prefix / wildcard / fuzzy.

The reference's search side serves these as Lucene multi-term queries;
with `rewrite: scoring_boolean` a multi-term query expands into a bool
SHOULD of term queries scored normally — exactly what this module does,
which keeps scores BM25-exact and oracle-reproducible (the default
constant_score rewrite throws ranking away; scoring_boolean is the
documented OpenSearch option this mirrors).

Expansion source is the index DICTIONARY (term -> df), which is
term-sorted parquet:
- prefix: `term LIKE 'pre%'` — Spark pushes StringStartsWith to the
  scan, so row groups outside the prefix range never decompress;
- wildcard: SQL LIKE with % and _ (Spark and DuckDB share LIKE
  semantics bit-for-bit) — a leading wildcard scans the dictionary
  (small: ~10^7-10^8 terms even at 10^12 turns), never the corpus;
- fuzzy: levenshtein(term, w) <= max_edits (classic edit distance in
  both Spark and DuckDB).

Determinism cap (OpenSearch max_expansions, default 50): top-N by
(df DESC, term ASC) — reproducible in SQL, so the oracle expands to the
same set. Expanded terms feed the existing bool machinery (should,
minimum_should_match=1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_prepper_spark.index.reader import IndexReader
from data_prepper_spark.index.tokenizer import tokenize
from data_prepper_spark.query import engine, prep

MAX_EXPANSIONS = 50
_EMPTY = "query_id string, rank long, doc_id long, score double"


def _bool_row(query_id: str, should: str, msm: int, k) -> dict:
    """A should-only bool_topk query row, passed as a driver row: no
    query frame for bool_topk to read back."""
    return {"query_id": query_id, "must": "", "should": should,
            "must_not": "", "minimum_should_match": msm, "k": int(k)}


def _cond(kind: str, pattern: str):
    if kind == "prefix":
        return F.col("term").startswith(pattern)
    if kind == "wildcard":
        # user wildcards: * = any run, ? = one char -> SQL LIKE % and _
        like = (
            pattern.replace("\\", "\\\\").replace("%", "\\%")
            .replace("_", "\\_").replace("*", "%").replace("?", "_")
        )
        return F.col("term").like(like)
    if kind == "fuzzy":
        return F.levenshtein(F.col("term"), F.lit(pattern)) <= 1
    if kind == "regexp":
        # Lucene/OpenSearch regexp queries match the ENTIRE term
        # (anchored), not a substring — same contract here; DuckDB's
        # regexp_full_match is the oracle equivalent
        return F.col("term").rlike(f"^(?:{pattern})$")
    raise ValueError(f"unknown expansion kind {kind!r}")


def expand_terms(
    spark: SparkSession, index_dir: str, kind: str, pattern: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """-> the expansion term set for one (kind, pattern), capped at
    max_expansions by (df DESC, term ASC)."""
    rows = (
        IndexReader(spark, index_dir).dictionary
        .filter(_cond(kind, pattern))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def _expand(
    r: IndexReader, conds: list[tuple[str, Column]], max_expansions: int,
) -> dict[str, list[str]]:
    """{query_id: expansion terms} for every (query_id, condition) in ONE
    dictionary pass (a per-query when() disjunction over the scan — one
    job for the whole batch, not one per query), each capped at
    max_expansions by (df DESC, term ASC)."""
    if not conds:
        return {}
    matches = F.array_compact(F.array(*[
        F.when(c, F.lit(qid)) for qid, c in conds
    ]))
    w = Window.partitionBy("query_id").orderBy(F.desc("df"), F.asc("term"))
    out: dict[str, list[str]] = {}
    for row in (
        r.dictionary.select("term", "df", F.explode(matches).alias("query_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_expansions)
        .select("query_id", "term")
        .collect()
    ):
        out.setdefault(row["query_id"], []).append(row["term"])
    return out


def _prefix_queries(queries: DataFrame, mode: str) -> list[tuple]:
    """[(query_id, leading tokens, last token, k)] for every query with
    at least one token: the last token is the prefix to expand."""
    out = []
    for r in prep.collect_rows(queries, "query_id", "query_text", "k"):
        toks = tokenize(r["query_text"], mode=mode)
        if toks:
            out.append((r["query_id"], toks[:-1], toks[-1], int(r["k"])))
    return out


def expand_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """queries(query_id, kind, pattern, k) -> (query_id, rank, doc_id,
    score): expand each pattern against the dictionary, then run ONE
    bool query batch (should OR, msm=1, BM25 over terms present).
    Queries whose pattern expands to nothing return no rows (same as an
    absent term). All patterns expand in ONE dictionary pass, then one
    corpus-side scatter-gather."""
    qrows = prep.collect_rows(queries)
    exp = _expand(
        IndexReader(spark, index_dir),
        [(r["query_id"], _cond(r["kind"], r["pattern"])) for r in qrows],
        max_expansions,
    )
    brows = [
        _bool_row(r["query_id"], " ".join(sorted(exp.get(r["query_id"], []))),
                  1, r["k"])
        for r in qrows
    ]
    return engine.bool_topk(spark, index_dir, brows)


_SEP = "\x1f"


def match_phrase_prefix_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """OpenSearch `match_phrase_prefix` (the search-as-you-type query):
    the LAST token of query_text is a prefix; docs matching the phrase
    with ANY dictionary completion of it qualify. queries(query_id,
    query_text, k) -> (query_id, rank, doc_id, score).

    Plan: expand every query's prefix in ONE dictionary pass (same
    when()-disjunction as expand_topk, capped per query at
    max_expansions by df DESC, term ASC — the API's expansion order),
    run ONE phrase batch over all (query, completion) pairs, then keep
    each doc's best-scoring completion and re-rank. Per-variant top-k
    suffices for global top-k: a doc in the global top-k is within its
    best variant's top-k (every doc above it there is above it
    globally too).

    Documented divergence: OpenSearch scores the whole construct as a
    MultiPhraseQuery (one weight for the position-OR); here each
    completion scores as its own match_phrase and a doc keeps the max
    — the scoring_boolean-style rewrite used across this module."""
    r = IndexReader(spark, index_dir)
    parsed = _prefix_queries(queries, r.mode)
    variants = _expand(
        r, [(qid, F.col("term").startswith(pref)) for qid, _, pref, _ in parsed],
        max_expansions,
    )
    prows = []
    for qid, lead, _, k in parsed:
        for i, v in enumerate(variants.get(qid, [])):
            prows.append((f"{qid}{_SEP}{i}", " ".join(lead + [v]), k))
    if not prows:
        return spark.createDataFrame([], _EMPTY)
    pq = spark.createDataFrame(
        prows, "query_id string, query_text string, k int")
    hits = engine.phrase_topk(spark, index_dir, pq)
    best = (
        hits.withColumn(
            "query_id", F.substring_index("query_id", _SEP, 1))
        .groupBy("query_id", "doc_id")
        .agg(F.max("score").alias("score"))
    )
    ks = queries.select("query_id", F.col("k").cast("int").alias("k"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (
        best.join(F.broadcast(ks), "query_id")
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )


def synonym_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    synonyms: dict[str, list[str]],
) -> DataFrame:
    """Query-time synonym expansion (the role of OpenSearch's
    synonym/synonym_graph analyzer filter, which the reference gets for
    free from the cluster's index analyzer): each query term becomes a
    conjunctive OR-group of (term + its synonyms), so a doc matches if
    it holds ANY variant of EVERY query term — Lucene's SynonymQuery
    placement, expressed through the bool OR-group kernel.

    Documented divergence: Lucene's SynonymQuery scores variants with a
    BLENDED df (the max across the group); here each variant keeps its
    own idf and the BM25 sum runs over the distinct variants present —
    the scoring_boolean rewrite, same policy as expand_topk's
    multi-term queries. Rank parity with the reference is therefore
    per-rewrite, not per-analyzer.

    `synonyms` is driver-known config (the analyzer's synonyms file —
    small, like the reference's), applied AFTER tokenization so keys
    and values are tokenizer-canonical. Multi-word synonyms
    contribute their tokens to the same group."""
    mode = IndexReader(spark, index_dir).mode
    rows = []
    for r in prep.collect_rows(queries, "query_id", "query_text", "k"):
        groups = []
        for t in dict.fromkeys(tokenize(r["query_text"], mode=mode)):
            variants = [t]
            for s in synonyms.get(t, []):
                variants += [v for v in tokenize(s, mode=mode)
                             if v not in variants]
            groups.append(" ".join(variants))
        rows.append(dict(_bool_row(r["query_id"], "", 0, r["k"]),
                         must_groups=" | ".join(groups)))
    return engine.bool_topk(spark, index_dir, rows)


def more_like_this_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_query_terms: int = 25,
    minimum_should_match: float = 0.3,
) -> DataFrame:
    """The OpenSearch `more_like_this` query over our own index:
    queries(query_id, like_text, k) -> docs similar to the text.

    Lucene's MLT recipe: select the like-text's most distinctive terms
    by tf·idf (idf from the GLOBAL dictionary — the driver-side
    dictionary slice of the like-texts' terms, no Spark job), cap at
    `max_query_terms` (Lucene default 25, ordered score desc then term
    asc for determinism), then run a bool should query with
    minimum_should_match = 30% of selected terms (the MLT default).
    Unindexed terms are dropped before the cap, like Lucene skipping
    zero-df terms."""
    import math

    r = IndexReader(spark, index_dir)
    rows = prep.collect_rows(queries, "query_id", "like_text", "k")
    dfs = r.df_slice(sorted({
        t for row in rows for t in tokenize(row["like_text"], mode=r.mode)
    }))
    brows = []
    for row in rows:
        tf: dict[str, int] = {}
        for t in tokenize(row["like_text"], mode=r.mode):
            tf[t] = tf.get(t, 0) + 1
        scored = [
            (tf[t] * math.log(1.0 + (r.n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)), t)
            for t in tf if t in dfs
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        sel = [t for _, t in scored[:max_query_terms]]
        if not sel:
            continue
        msm = max(1, int(minimum_should_match * len(sel)))
        brows.append(_bool_row(row["query_id"], " ".join(sel), msm,
                               row["k"]))
    if not brows:
        return spark.createDataFrame([], _EMPTY)
    return engine.bool_topk(spark, index_dir, brows)


def match_bool_prefix_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """OpenSearch `match_bool_prefix`: every token is a bool SHOULD
    term query except the LAST, which matches as a prefix — unlike
    match_phrase_prefix the tokens may appear anywhere, in any order
    (it is the search-as-you-type query WITHOUT position constraints).
    queries(query_id, query_text, k) -> (query_id, rank, doc_id,
    score).

    Composition: the last token's prefix expands against the term-
    sorted dictionary in ONE pass (StringStartsWith pushed to the
    scan, capped at max_expansions by df DESC / term ASC), expansions
    join the earlier tokens as should terms, and the whole batch runs
    as ONE bool query (msm=1 — the OpenSearch default operator OR).
    Scoring is the module's scoring_boolean rewrite: BM25 over the
    distinct terms present (Lucene blends the prefix's expansions
    through a SynonymQuery max-df weight; documented divergence, same
    policy as expand_topk/synonym_topk)."""
    r = IndexReader(spark, index_dir)
    parsed = _prefix_queries(queries, r.mode)
    expansions = _expand(
        r, [(qid, F.col("term").startswith(pref)) for qid, _, pref, _ in parsed],
        max_expansions,
    )
    brows = []
    for qid, lead, _, k in parsed:
        should = list(dict.fromkeys(lead + sorted(expansions.get(qid, []))))
        if should:
            brows.append(_bool_row(qid, " ".join(should), 1, k))
    if not brows:
        return spark.createDataFrame([], _EMPTY)
    return engine.bool_topk(spark, index_dir, brows)
