"""BM25 as a pure DataFrame composition — the verification engine.

This is the declarative twin of the compressed-shard WAND engine in
``index/``+``query/wand.py``: same tokenizer, same BM25 formula, same
tie-break. It exists so that (a) the first end-to-end slice is all
Catalyst-optimizable built-ins (tokenize = `split`/`filter`/`explode`,
JVM-side, whole-stage-codegen'd — zero Python in the hot path), and
(b) the custom WAND kernel can be differentially tested against it.

Mirrors the reference's ingest-to-index path (reference:
data-prepper-plugins/opensearch/.../OpenSearchSink.java:347-431 bulk
index + OpenSearch BM25 _search) restated as: tokenize -> groupBy(term,
doc) -> tf postings -> join query terms -> score -> top-k.

Scale notes (100 TB / 10^12 turns):
- postings are built with a single shuffle (groupBy term+doc with
  map-side partial aggregation);
- query terms are a tiny DataFrame -> explicitly broadcast, so scoring
  is shuffle-free on the postings side until the final per-query top-k,
  which aggregates only matching postings;
- top-k uses Window partitioned by query_id (k <= 100), never a global
  sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_prepper_spark.index.tokenizer import spark_tokenize_sql

K1 = 1.2
B = 0.75

# Stride of the arithmetic doc_id packing: conv serial * STRIDE +
# turn_idx. 2^20 turns per conversation covers any real agent transcript
# (the longest public agent traces are ~10^4 turns) while leaving
# 2^43 conv serials in an int64 — enough for a 10^12-turn corpus.
DOC_ID_STRIDE = 1 << 20


# the arithmetic packing only applies to this conv_id shape; anything
# else (UUIDs — the realistic production case) routes through the
# convmap/dense paths. Anchored so 'conv-12x' or 'xconv-1' can't
# half-match and silently produce garbage serials.
CONV_ID_ARITH_RE = r"^conv-([0-9]+)$"


def packed_doc_id(serial: Column, stride: int = DOC_ID_STRIDE) -> Column:
    """serial * stride + turn_idx with a loud turn-range guard: a packing
    collision would silently merge two turns' postings into one phantom
    document, so out-of-range input must fail in the executor. One
    codegen'd comparison per row — free."""
    bad = (F.col("turn_idx") >= stride) | (F.col("turn_idx") < 0)
    return F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(f"packed_doc_id: turn_idx outside [0, {stride}) "
                      "would collide doc_ids (use assign_doc_ids_dense): "),
                F.col("turn_idx").cast("string"),
            )
        ).cast("long"),
    ).otherwise(serial * stride + F.col("turn_idx").cast("long"))


def transcript_doc_id(stride: int = DOC_ID_STRIDE) -> Column:
    """doc_id for transcripts: conv serial * stride + turn_idx. Monotone
    in (conv_id, turn_idx) — the stable ordering the north rule mandates —
    with NO global shuffle (a dense-rank assignment would need one; see
    assign_doc_ids_dense for arbitrary conv_id schemes).

    Runtime guards RAISE on (a) turn_idx outside [0, stride) and (b) a
    conv_id that does not match the `conv-N` arithmetic scheme — a UUID
    corpus must fail loud here, never produce null serials (callers use
    assign_doc_ids_auto / the index's convmap for arbitrary schemes)."""
    serial = F.when(
        F.col("conv_id").rlike(CONV_ID_ARITH_RE),
        F.regexp_extract("conv_id", CONV_ID_ARITH_RE, 1).cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("transcript_doc_id: conv_id does not match the "
                      "arithmetic 'conv-N' scheme (use assign_doc_ids_auto "
                      "or the index convmap): "),
                F.col("conv_id"),
            )
        ).cast("long")
    )
    return packed_doc_id(serial, stride)


def tokens_col(text_col: str = "text", mode: str = "ascii") -> Column:
    """JVM-side tokenizer, identical semantics to oracle tokenize()."""
    return F.expr(spark_tokenize_sql(text_col, mode))


def assign_doc_ids(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Transcript fast path: arithmetic doc_id, no shuffle. Raises (in
    the executor, at scan time) if any turn_idx falls outside the
    packing range — see transcript_doc_id."""
    return df.withColumn("doc_id", transcript_doc_id())


def arith_scheme_aggs() -> list[Column]:
    """The two aggregates conv_scheme_arith_ok decides on, for callers
    that fold them into a wider narrow pass (index/build.py)."""
    return [
        F.sum((~F.col("conv_id").rlike(CONV_ID_ARITH_RE)).cast("long")).alias("bad"),
        F.max("turn_idx").alias("mx"),
    ]


def arith_scheme_ok(row) -> bool:
    """Decision over a row holding arith_scheme_aggs()' `bad` and `mx`."""
    mx = row["mx"]
    return int(row["bad"] or 0) == 0 and (mx is None or int(mx) < DOC_ID_STRIDE)


def conv_scheme_arith_ok(df: DataFrame) -> bool:
    """ONE narrow agg over (conv_id, turn_idx) — negligible next to
    tokenization — deciding whether the shuffle-free arithmetic packing
    applies: every conv_id must match the anchored `conv-N` scheme AND
    every turn_idx must fit the stride. A UUID corpus (the realistic
    production case) fails both-or-either and routes to the dense /
    convmap paths instead of producing null serials."""
    return arith_scheme_ok(df.agg(*arith_scheme_aggs()).first())


def assign_doc_ids_auto(df: DataFrame) -> DataFrame:
    """Guarded assignment: conv_scheme_arith_ok picks between the
    shuffle-free arithmetic packing and the dense two-phase fallback
    (arbitrary conv_id schemes — UUIDs — or >= DOC_ID_STRIDE-turn
    conversations)."""
    if conv_scheme_arith_ok(df):
        return df.withColumn("doc_id", transcript_doc_id())
    return assign_doc_ids_dense(df, ["conv_id", "turn_idx"])


def assign_doc_ids_dense(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """General path for arbitrary keys: two-phase dense id assignment.

    Phase 1 sorts the (small) distinct key set and assigns contiguous ids
    per range partition via zipWithIndex semantics; phase 2 joins back.
    Used only when keys are not arithmetically encodable; costs one extra
    shuffle of the key column (NOT the payload)."""
    keys = df.select(*order_cols).distinct().repartitionByRange(*order_cols)
    w = Window.orderBy(*order_cols)  # small key table; acceptable
    keyed = keys.withColumn("doc_id", F.row_number().over(w).cast("long") - 1)
    return df.join(keyed, on=order_cols, how="inner")


def build_df_index(
    df: DataFrame, doc_id_col: str = "doc_id", text_col: str = "text",
    persist: bool = True,
) -> dict[str, DataFrame]:
    """Returns {'postings', 'doclens', 'stats'} DataFrames.

    postings: term, doc_id, tf          (one shuffle, partial agg map-side)
    doclens:  doc_id, dl                (narrow — no shuffle)
    stats:    n_docs, avgdl             (single-row agg)

    The tokenized subtree feeds all three outputs AND both consumers of
    postings in score_queries_df (term_df and matched), so without
    persistence a query plan re-tokenizes the corpus up to 4x — invisible
    at bench scale, ruinous at 100 TB. persist=True (default) caches it
    MEMORY_AND_DISK; callers doing a single linear pass can opt out.
    """
    toks = df.select(F.col(doc_id_col).alias("doc_id"), tokens_col(text_col).alias("toks"))
    if persist:
        from pyspark import StorageLevel

        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    postings = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doclens = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return {"postings": postings, "doclens": doclens, "stats": stats}


def bm25_score_col(tf="tf", dl="dl", df_="df", n_docs="n_docs", avgdl="avgdl") -> Column:
    """score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), float64.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (Lucene/OpenSearch BM25 —
    what the reference's sink target computes)."""
    idf = F.log(
        F.lit(1.0)
        + (F.col(n_docs) - F.col(df_) + F.lit(0.5)) / (F.col(df_) + F.lit(0.5))
    )
    tfn = (F.col(tf).cast("double") * F.lit(K1 + 1.0)) / (
        F.col(tf).cast("double")
        + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col(dl) / F.col(avgdl))
    )
    return idf * tfn


def score_queries_df(
    index: dict[str, DataFrame], queries: DataFrame
) -> DataFrame:
    """queries: (query_id, query_text, k) -> (query_id, rank, doc_id, score).

    Tie-break: score desc, doc_id asc — identical to the oracle."""
    qterms = queries.select(
        "query_id",
        "k",
        F.explode(F.array_distinct(tokens_col("query_text"))).alias("term"),
    )
    qt = qterms.select("term").distinct()
    # ONE filtered pass over postings (broadcast semi-join on query terms);
    # df is computed on that filtered slice, never a global term agg.
    # Persisted: `needed` feeds BOTH term_df and matched below — without
    # the cache the postings shuffle (and, absent build_df_index's
    # persist, the whole tokenize subtree) executes twice.
    from pyspark import StorageLevel

    needed = index["postings"].join(F.broadcast(qt), "term").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    term_df = needed.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    matched = needed.join(F.broadcast(qterms), "term")
    # Sum per-term contributions in SORTED TERM ORDER (float64): the
    # oracle accumulates terms sorted, and float addition is not
    # associative — an unordered F.sum could un-tie exact ties and break
    # rank identity (SURVEY.md §7.3 hard part #1).
    scored = (
        matched.join(F.broadcast(term_df), "term")
        .join(index["doclens"], "doc_id")
        .crossJoin(F.broadcast(index["stats"]))
        .withColumn("contrib", bm25_score_col())
        .groupBy("query_id", "k", "doc_id")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )
