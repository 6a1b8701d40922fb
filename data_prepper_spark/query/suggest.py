"""Term suggester — the OpenSearch `suggest: {term: ...}` surface
("did you mean"), served from the index's own dictionary.

The reference ships docs into OpenSearch indexes (OpenSearchSink.java:
132-141) whose search side answers term suggestions via Lucene's
DirectSpellChecker: candidate terms within `max_edits` of the input,
sharing a `prefix_length`-char prefix, ranked best-first. Same
contract here, with the ranking made fully deterministic so a SQL
oracle can reproduce it bit-for-bit:

    (edit distance ASC, df DESC, term ASC), capped at `size`.

Knobs mirror the API defaults: max_edits=2, prefix_length=1,
min_word_length=4, size=5, suggest_mode in {missing, popular, always}
(missing: suggest only for terms absent from the index; popular:
candidates must out-df the input term; always: everything).

Plan shape: ONE dictionary scan answers the whole batch — each input
token contributes a when() condition (prefix pushdown: startswith is
a StringStartsWith the parquet scan prunes row groups with, since the
dictionary is term-sorted), then a per-token row_number window picks
the top `size`. The dictionary is tiny relative to the corpus
(~10^7-10^8 terms at 10^12 turns), so this never touches postings or
corpus — the same reason Lucene answers suggestions from the terms
dict alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_prepper_spark.index.reader import IndexReader
from data_prepper_spark.index.tokenizer import tokenize

_OUT = ("token string, suggestion string, distance int, df long, "
        "option_rank int")


def suggest_terms(
    spark: SparkSession,
    index_dir: str,
    text: str,
    max_edits: int = 2,
    prefix_length: int = 1,
    min_word_length: int = 4,
    size: int = 5,
    suggest_mode: str = "missing",
) -> DataFrame:
    """-> (token, suggestion, distance, df, option_rank) for each
    distinct eligible token of `text`, best suggestion first.

    `missing` mode returns no rows for tokens already in the index
    (the API's default: don't second-guess words that match)."""
    if suggest_mode not in ("missing", "popular", "always"):
        raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
    r = IndexReader(spark, index_dir)
    tokens = [
        t for t in dict.fromkeys(tokenize(text, mode=r.mode))
        if len(t) >= min_word_length
    ]
    # which tokens exist, and at what df: the driver-side dictionary
    # slice, no Spark job
    present = r.df_slice(tokens)
    if suggest_mode == "missing":
        tokens = [t for t in tokens if t not in present]
    if not tokens:
        return spark.createDataFrame([], _OUT)

    def cand_cond(t: str):
        c = (F.levenshtein(F.col("term"), F.lit(t)) <= max_edits) \
            & (F.col("term") != t)
        if prefix_length > 0:
            c = F.col("term").startswith(t[:prefix_length]) & c
        if suggest_mode == "popular":
            c = c & (F.col("df") > F.lit(present.get(t, 0)))
        return c

    matches = F.array_compact(F.array(*[
        F.when(cand_cond(t), F.lit(t)) for t in tokens
    ]))
    w = Window.partitionBy("token").orderBy(
        F.asc("distance"), F.desc("df"), F.asc("suggestion")
    )
    return (
        r.dictionary.select(
            F.col("term").alias("suggestion"), "df",
            F.explode(matches).alias("token"),
        )
        .withColumn(
            "distance",
            F.levenshtein(F.col("suggestion"), F.col("token")).cast("int"),
        )
        .withColumn("option_rank", F.row_number().over(w))
        .filter(F.col("option_rank") <= size)
        .select("token", "suggestion", "distance", "df", "option_rank")
    )
