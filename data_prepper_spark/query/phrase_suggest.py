"""Phrase suggester — the OpenSearch `suggest: {phrase: ...}` surface
("did you mean", whole-phrase form): candidate corrections per token
(the term suggester, query/suggest.py) recombined into candidate
phrases and ranked by a smoothed bigram language model, so the
suggestion is the correction that makes sense IN CONTEXT ("slow query"
beats "slow quest" even when both tokens are valid words).

Parity: OpenSearch's phrase suggester generates per-term candidates
with a DirectSpellChecker and scores whole candidates with a word-LM
over a shingle (bigram) field, default smoothing StupidBackoff(0.4)
(`discount * p(w)` when the bigram is unseen). Same structure here,
with two documented divergences that keep everything answerable from
our own index with zero extra stored state:

- LM statistics are DOC-frequencies, not term-frequencies: bigram
  counts come from the positions stream via the phrase kernel
  (count_phrase_matches — "docs containing the bigram"), unigram
  counts from the dictionary's df. Rankings agree whenever repeated
  phrases within one doc are not the deciding factor.
- `confidence` gates in log space: a variant is returned iff
  score(variant) > score(input) + log(confidence) (confidence=0
  disables the gate) — the same "must beat the input by a margin"
  contract.

Scale shape: two bounded Spark passes per call — one dictionary scan
(the batched term suggester; term-sorted parquet, prefix pushdown;
the unigram df probe reads on the driver) and ONE phrase-kernel
scatter counting every needed bigram in a single batch (pruned
posting decode, per-shard counts, sum). Candidate-phrase enumeration
and scoring are driver-side over <= max_variants strings — the
coordinator-node cost of the API, independent of corpus size.
"""

from __future__ import annotations

import math
from collections import Counter
from itertools import combinations, product

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_prepper_spark.index.reader import POS_COLS, IndexReader
from data_prepper_spark.index.tokenizer import tokenize
from data_prepper_spark.query import prep
from data_prepper_spark.query.engine import _phrase_kernel, scatter
from data_prepper_spark.query.suggest import suggest_terms

_DF_FLOOR = 1e-12  # log() floor for out-of-vocabulary terms


def count_phrase_matches(
    spark: SparkSession, index_dir: str, queries: DataFrame
) -> DataFrame:
    """Exact number of live docs containing each phrase CONSECUTIVELY
    in order: queries(query_id, query_text) -> (query_id, n); phrases
    with zero matches emit no row. The `_count` analog for
    match_phrase — and the bigram-count primitive the phrase suggester
    scores with.

    Plan: phrase_topk's scatter with the per-shard heap uncapped
    (k = n_docs) and the kernel output collapsed to per-shard counts
    INSIDE the kernel task — the exchange carries one (query_id, n)
    row per (shard, query), never the match list."""
    r = IndexReader(spark, index_dir)
    r.require_positions("count phrase matches")
    rows = [dict(row, k=int(r.n_docs)) for row in
            prep.collect_rows(queries, "query_id", "query_text")]
    per_term = prep.phrase_entries(rows, r.mode)

    def kernel():
        inner = _phrase_kernel(r.avgdl, r.n_docs, r.tomb)

        def run(table, entries: dict, dfs: dict) -> dict:
            n = Counter(inner(table, entries, dfs)["query_id"])
            return {"query_id": list(n), "n": list(n.values())}

        return run

    per_shard = scatter(r, per_term, prep.PHRASE_FIELDS, kernel,
                        "query_id string, n long", cols=POS_COLS)
    if per_shard is None:
        return spark.createDataFrame([], "query_id string, n long")
    return per_shard.groupBy("query_id").agg(F.sum("n").alias("n"))


def suggest_phrases(
    spark: SparkSession,
    index_dir: str,
    text: str,
    size: int = 5,
    max_errors: int = 1,
    candidates_per_term: int = 3,
    discount: float = 0.4,
    confidence: float = 1.0,
    max_edits: int = 2,
    prefix_length: int = 1,
    min_word_length: int = 4,
    max_variants: int = 200,
) -> list[dict]:
    """-> up to `size` dicts {suggestion, score, option_rank}, best
    first; [] when nothing beats the input by the confidence margin.

    score = StupidBackoff log-likelihood of the token sequence:
    log(df(w0)/N) + sum_i [ log(big(w_{i-1},w_i)/df(w_{i-1})) if the
    bigram occurs, else log(discount * df(w_i)/N) ] — doc-frequency
    statistics throughout (see module docstring).

    `max_errors`: maximum substituted tokens per variant (the API's
    meaning for integer max_errors); `candidates_per_term` bounds the
    per-token correction fan-out, `max_variants` the total
    (deterministic order: fewer errors first, then left-to-right
    best-candidate-first)."""
    r = IndexReader(spark, index_dir)
    n_docs = float(r.n_docs)
    tokens = tokenize(text, mode=r.mode)
    if not tokens:
        return []

    # per-token correction candidates (term suggester, always mode so
    # in-vocabulary tokens get contextual alternatives too)
    cand_rows = suggest_terms(
        spark, index_dir, text,
        max_edits=max_edits, prefix_length=prefix_length,
        min_word_length=min_word_length, size=candidates_per_term,
        suggest_mode="always",
    ).collect()
    cands: dict[str, list[str]] = {}
    df_term: dict[str, float] = {}
    for row in cand_rows:
        cands.setdefault(row["token"], []).append(row["suggestion"])
        df_term[row["suggestion"]] = float(row["df"])
    # unigram df for the input's own tokens (suggest_terms excludes
    # the identity match): one driver-side In-probe of the dictionary
    for t, df in r.df_slice(sorted(set(tokens))).items():
        df_term[t] = float(df)

    # enumerate variants: <= max_errors substitutions, deterministic
    variants: list[tuple[str, ...]] = []
    seen = {tuple(tokens)}
    for n_err in range(1, min(max_errors, len(tokens)) + 1):
        for posns in combinations(range(len(tokens)), n_err):
            pools = [cands.get(tokens[p], []) for p in posns]
            if any(not pool for pool in pools):
                continue
            for combo in product(*pools):
                v = list(tokens)
                for p, c in zip(posns, combo):
                    v[p] = c
                tv = tuple(v)
                if tv not in seen:
                    seen.add(tv)
                    variants.append(tv)
                if len(variants) >= max_variants:
                    break
            if len(variants) >= max_variants:
                break
        if len(variants) >= max_variants:
            break
    if not variants:
        return []

    # ONE batched phrase-count scatter for every bigram any variant
    # (or the input, for the confidence gate) needs
    bigrams = sorted({
        (a, b)
        for seq in [tuple(tokens), *variants]
        for a, b in zip(seq, seq[1:])
    })
    big_df: dict[tuple[str, str], float] = {}
    if bigrams:
        qdf = spark.createDataFrame(
            [(f"b{i}", f"{a} {b}") for i, (a, b) in enumerate(bigrams)],
            "query_id string, query_text string",
        )
        got = {
            row["query_id"]: float(row["n"])
            for row in count_phrase_matches(spark, index_dir, qdf).collect()
        }
        for i, pair in enumerate(bigrams):
            big_df[pair] = got.get(f"b{i}", 0.0)

    def lm_score(seq: tuple[str, ...]) -> float:
        s = math.log(max(df_term.get(seq[0], 0.0), _DF_FLOOR) / n_docs)
        for a, b in zip(seq, seq[1:]):
            big = big_df.get((a, b), 0.0)
            if big > 0:
                s += math.log(big / df_term[a])
            else:
                s += math.log(
                    discount * max(df_term.get(b, 0.0), _DF_FLOOR) / n_docs
                )
        return s

    base = lm_score(tuple(tokens))
    gate = base + math.log(confidence) if confidence > 0 else -math.inf
    scored = sorted(
        ((lm_score(v), " ".join(v)) for v in variants),
        key=lambda t: (-t[0], t[1]),
    )
    out = []
    for sc, sg in scored:
        if sc <= gate:
            continue
        out.append({"suggestion": sg, "score": sc,
                    "option_rank": len(out) + 1})
        if len(out) >= size:
            break
    return out
