"""Lucene `query_string` mini-language over the bool/phrase kernels.

The reference's indexes are queried day-to-day with the query-string
syntax (the `q=` parameter / `query_string` query OpenSearch exposes
on every index the opensearch sink ships, OpenSearchSink.java:132-141).
This module parses the widely-used subset and lowers it onto the
engine's existing kernels — no new execution path, so every clause
keeps its pushdowns and oracles:

    error timeout            -> should (default_operator=OR)
    +error timeout           -> must(error) + should(timeout)
    error AND timeout        -> both must
    error OR timeout         -> both should
    NOT crash / -crash       -> must_not
    error AND (b OR c)       -> must(error) + OR-group(b, c)
    "exact phrase"           -> match_phrase (positions kernel)

Operator precedence in full Lucene is notoriously ambiguous; the
deterministic rule here (documented, test-pinned): a term is MUST if
an AND is adjacent to it (either side) or it carries '+'; MUST_NOT if
preceded by NOT or '-'; parenthesized groups joined by OR become
conjunctive OR-groups (must_groups); everything else is SHOULD with
minimum_should_match = 1 when no must clause exists, else 0 — the
same msm defaulting the bool kernel applies.

Documented divergence: a quoted phrase is supported as the WHOLE
query (the dominant use), not mixed into bool clauses — mixing would
need a phrase-position filter inside the bool kernel; raise loudly
rather than silently degrade to bag-of-words.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from data_prepper_spark.query import engine, prep

_TOKEN_RE = re.compile(r'"[^"]*"|\(|\)|[^\s()]+')


class QueryStringError(ValueError):
    pass


def parse_query_string(qs: str) -> dict:
    """-> {"kind": "phrase", "phrase": str} or
    {"kind": "bool", "must": [..], "should": [..], "must_not": [..],
     "groups": [[..], ..]} (terms stay raw; the kernels tokenize)."""
    toks = _TOKEN_RE.findall(qs or "")
    if not toks:
        return {"kind": "bool", "must": [], "should": [],
                "must_not": [], "groups": []}
    quoted = [t for t in toks if t.startswith('"')]
    if quoted:
        body = toks[0].lstrip("+")
        if len(toks) != 1 or not body.startswith('"'):
            raise QueryStringError(
                "quoted phrases are supported as the whole query, not "
                f"mixed with bool clauses: {qs!r}"
            )
        return {"kind": "phrase", "phrase": body.strip('"')}

    must: list[str] = []
    should: list[str] = []
    must_not: list[str] = []
    groups: list[list[str]] = []

    # fold parenthesized OR-groups first
    i, flat = 0, []  # flat: ("term"|"op"|"group", payload)
    while i < len(toks):
        t = toks[i]
        if t == "(":
            j = i + 1
            grp: list[str] = []
            expect_term = True
            while j < len(toks) and toks[j] != ")":
                if toks[j] == "OR":
                    expect_term = True
                elif toks[j] in ("AND", "NOT", "("):
                    raise QueryStringError(
                        f"only OR is supported inside groups: {qs!r}")
                else:
                    if not expect_term:
                        raise QueryStringError(
                            f"terms inside a group must be OR-separated: {qs!r}")
                    grp.append(toks[j])
                    expect_term = False
                j += 1
            if j >= len(toks):
                raise QueryStringError(f"unclosed '(' in {qs!r}")
            flat.append(("group", grp))
            i = j + 1
        elif t in ("AND", "OR", "NOT"):
            flat.append(("op", t))
            i += 1
        else:
            flat.append(("term", t))
            i += 1

    for idx, (kind, val) in enumerate(flat):
        if kind == "op":
            continue
        prev_op = flat[idx - 1][1] if idx > 0 and flat[idx - 1][0] == "op" else None
        next_op = (flat[idx + 1][1]
                   if idx + 1 < len(flat) and flat[idx + 1][0] == "op" else None)
        if kind == "group":
            if prev_op == "NOT":
                raise QueryStringError(
                    f"NOT before a group is not supported: {qs!r}")
            if not val:
                continue
            groups.append(val)
            continue
        term = val
        if prev_op == "NOT" or term.startswith("-"):
            must_not.append(term.lstrip("-"))
        elif term.startswith("+") or prev_op == "AND" or next_op == "AND":
            must.append(term.lstrip("+"))
        else:
            should.append(term)
    return {"kind": "bool", "must": must, "should": should,
            "must_not": must_not, "groups": groups}


def query_string_topk(
    spark: SparkSession, index_dir: str, queries: DataFrame,
) -> DataFrame:
    """queries(query_id, query_string, k) -> (query_id, rank, doc_id,
    score). Phrase queries and bool queries may be mixed in one batch;
    each lowers to its kernel and the unions share the output schema
    (ONE job per kernel family, not one per query)."""
    rows = prep.collect_rows(queries, "query_id", "query_string", "k")
    phrase_rows, bool_rows = [], []
    for r in rows:
        p = parse_query_string(r["query_string"])
        if p["kind"] == "phrase":
            phrase_rows.append({"query_id": r["query_id"],
                                "query_text": p["phrase"], "k": int(r["k"])})
        else:
            msm = 1 if (p["should"] and not p["must"]) else 0
            bool_rows.append({
                "query_id": r["query_id"], "must": " ".join(p["must"]),
                "should": " ".join(p["should"]),
                "must_not": " ".join(p["must_not"]),
                "minimum_should_match": msm, "k": int(r["k"]),
                "must_groups": " | ".join(" ".join(g) for g in p["groups"]),
            })
    outs = []
    if bool_rows:
        outs.append(engine.bool_topk(spark, index_dir, bool_rows))
    if phrase_rows:
        outs.append(engine.phrase_topk(spark, index_dir, phrase_rows))
    if not outs:
        return spark.createDataFrame(
            [], "query_id string, rank long, doc_id long, score double")
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res
