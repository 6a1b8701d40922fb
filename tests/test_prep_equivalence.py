"""Driver-side query prep (query/prep.py) == the retired SQL prep.

The SQL expressions below are verbatim copies of the engine's
round-3 tokenize-in-SQL prep (parse_query_terms / count / phrase /
bool qterms pipelines) — kept HERE as the semantic pin after the
engine switched to pure-Python prep (profiled: the SQL prep's 3-4
driver-blocking jobs were ~80% of bool_topk latency)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_prepper_spark.index.tokenizer import spark_tokenize_sql
from data_prepper_spark.query import prep
from data_prepper_spark.query.engine import calculate_min_should_match


def tokens_col(col, mode):
    from data_prepper_spark.query.bm25_df import tokens_col as tc

    return tc(col, mode)


VOCAB = ["error", "timeout", "retry", "deploy", "Login", "cache-xx",
         "the", "queries", "CRASH", "niño", "данные", "x^2", "a^0.5",
         "x^..5", "", "zz9"]


def _rand_text(rng, n=5):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(0, n)))


@pytest.mark.parametrize("mode", ["ascii", "unicode", "ascii+stop+stem"])
def test_score_prep_matches_sql(spark, mode):
    rng = random.Random(42)
    rows = [
        {"query_id": f"q{i}", "query_text": _rand_text(rng), "k": 10,
         "after_score": (1.5 if i % 3 == 0 else None),
         "after_doc": (7 if i % 3 == 0 else None)}
        for i in range(30)
    ]
    qdf = spark.createDataFrame(
        [(r["query_id"], r["query_text"], r["k"], r["after_score"],
          r["after_doc"]) for r in rows],
        "query_id string, query_text string, k long, after_score double, "
        "after_doc long",
    )
    # --- retired SQL prep (engine.parse_query_terms, verbatim)
    unit = F.explode(F.split("query_text", r"\s+")).alias("unit")
    units = qdf.select("query_id", "k", "after_score", "after_doc", unit)
    units = units.select(
        "query_id", "k", "after_score", "after_doc",
        F.coalesce(
            F.nullif(
                F.regexp_extract("unit", r"\^([0-9]+(?:\.[0-9]+)?)$", 1),
                F.lit(""),
            ).cast("double"),
            F.lit(1.0),
        ).alias("boost"),
        F.explode(
            F.array_distinct(
                F.expr(spark_tokenize_sql(
                    r"regexp_replace(unit, '\\^[0-9.]+$', '')", mode))
            )
        ).alias("term"),
    )
    sql_rows = (
        units.groupBy("query_id", "k", "after_score", "after_doc", "term")
        .agg(F.max("boost").alias("boost"))
        .collect()
    )
    sql = {}
    for r in sql_rows:
        sql.setdefault(r["term"], set()).add(
            (r["query_id"], r["k"], r["after_score"], r["after_doc"],
             r["boost"])
        )
    got = {
        t: set(map(tuple, es))
        for t, es in prep.score_entries(rows, mode).items()
    }
    assert got == sql


@pytest.mark.parametrize("mode", ["ascii", "unicode"])
def test_phrase_prep_matches_sql(spark, mode):
    rng = random.Random(7)
    rows = [
        {"query_id": f"p{i}", "query_text": _rand_text(rng, 6), "k": 5,
         "slop": rng.choice([None, 0, 1, 2])}
        for i in range(25)
    ]
    qdf = spark.createDataFrame(
        [(r["query_id"], r["query_text"], r["k"], r["slop"]) for r in rows],
        "query_id string, query_text string, k long, slop int",
    )
    qterms = qdf.select(
        "query_id", "k",
        F.coalesce(F.col("slop"), F.lit(0)).cast("int").alias("slop"),
        F.posexplode(tokens_col("query_text", mode)).alias("ord", "term"),
    )
    qcnt = qterms.groupBy("query_id").agg(
        F.countDistinct("term").alias("n_terms"))
    sql_rows = (
        qterms.join(qcnt, "query_id")
        .groupBy("term", "query_id", "k", "n_terms", "slop")
        .agg(F.sort_array(F.collect_list("ord")).alias("offsets"))
        .collect()
    )
    sql = {}
    for r in sql_rows:
        sql.setdefault(r["term"], set()).add(
            (r["query_id"], r["k"], r["n_terms"], r["slop"],
             tuple(r["offsets"]))
        )
    got = {}
    for t, es in prep.phrase_entries(rows, mode).items():
        got[t] = {(q, k, n, s, tuple(o)) for q, k, n, s, o in es}
    assert got == sql


def test_bool_prep_matches_sql(spark):
    mode = "ascii"
    rng = random.Random(3)
    rows = []
    for i in range(30):
        rows.append({
            "query_id": f"b{i}",
            "must": _rand_text(rng, 3),
            "should": _rand_text(rng, 4),
            "must_not": _rand_text(rng, 2),
            "minimum_should_match": rng.choice(
                [0, 1, 2, "-1", "75%", "2<75%", None]),
            "k": 10,
            "must_groups": rng.choice(
                ["", "error timeout | retry", "a |  | deploy login",
                 "the cache"]),
        })
    qdf = spark.createDataFrame(
        [(r["query_id"], r["must"], r["should"], r["must_not"],
          str(r["minimum_should_match"])
          if r["minimum_should_match"] is not None else None,
          r["k"], r["must_groups"]) for r in rows],
        "query_id string, must string, should string, must_not string, "
        "minimum_should_match string, k long, must_groups string",
    )
    parts = []
    for role in ("must", "should", "must_not"):
        parts.append(
            qdf.select(
                "query_id", "k",
                F.explode(
                    F.array_distinct(tokens_col(role, mode))).alias("term"),
            ).withColumn("role", F.lit(role))
        )
    grp = (
        qdf.select(
            "query_id", "k",
            F.posexplode(
                F.split(F.coalesce(F.col("must_groups"), F.lit("")), r"\|")
            ).alias("gidx", "gtext"),
        )
        .filter(F.trim("gtext") != "")
        .select(
            "query_id", "k",
            F.explode(F.array_distinct(
                tokens_col("gtext", mode))).alias("term"),
            F.concat(F.lit("group"), F.col("gidx").cast("string"))
            .alias("role"),
        )
    )
    parts.append(grp.select(*parts[0].columns))
    qterms = parts[0]
    for p in parts[1:]:
        qterms = qterms.unionByName(p)
    counts = {
        r["query_id"]: r
        for r in qterms.groupBy("query_id").agg(
            F.countDistinct(
                F.when(F.col("role") == "must", F.col("term"))
            ).alias("n_must"),
            F.countDistinct(
                F.when(F.col("role") == "should", F.col("term"))
            ).alias("n_should"),
            F.countDistinct(
                F.when(F.col("role").startswith("group"), F.col("role"))
            ).alias("n_groups"),
        ).collect()
    }
    roles_rows = (
        qterms.groupBy("term", "query_id", "k")
        .agg(F.collect_set("role").alias("roles"))
        .collect()
    )
    sql = {}
    for r in roles_rows:
        c = counts[r["query_id"]]
        spec = next(
            str(x["minimum_should_match"])
            if x["minimum_should_match"] is not None else None
            for x in rows if x["query_id"] == r["query_id"]
        )
        eff = calculate_min_should_match(int(c["n_should"]), spec)
        if eff <= 0:
            eff = 1 if (c["n_must"] == 0 and c["n_should"] > 0) else 0
        sql.setdefault(r["term"], set()).add(
            (r["query_id"], r["k"], eff, c["n_must"], c["n_groups"],
             tuple(sorted(r["roles"])))
        )
    got = {}
    for t, es in prep.bool_entries(rows, mode).items():
        # no `negative` clause in this batch -> neg_boost is always None
        assert all(nb is None for *_, nb in es)
        got[t] = {
            (q, k, m, nm, ng, tuple(ro))
            for q, k, m, nm, ng, ro, _nb in es
        }
    assert got == sql


def test_count_and_simple_entries():
    rows = [{"query_id": "c1", "query_text": "Error error the", "k": 3},
            {"query_id": "c2", "query_text": "", "k": 1},
            {"query_id": "c3", "query_text": None, "k": 1}]
    assert prep.count_entries(rows, "ascii") == {"error": [("c1",)],
                                                 "the": [("c1",)]}
    assert prep.simple_entries(rows, "ascii") == {
        "error": [("c1", 3)], "the": [("c1", 3)]}
    # stop filter drops 'the'
    assert prep.count_entries(rows, "ascii+stop") == {"error": [("c1",)]}


# ------------------------------------------- distributed prep (r5)


def _qmap_python(spark, builder, rows, fields, mode):
    per_term = builder(rows, mode)
    return spark.createDataFrame(
        [(t, per_term[t]) for t in sorted(per_term)],
        f"term string, queries array<struct<{fields}>>")


def _norm_qmap(df):
    """-> {term: sorted list of entry tuples} (order-insensitive: the
    distributed merge is partition-order-independent by sort_array;
    the Python path keeps row order — content must be identical)."""
    out = {}
    for r in df.collect():
        out[r["term"]] = sorted(
            tuple(e) for e in [tuple(x) for x in r["queries"]]
        )
    return out


@pytest.mark.parametrize("kind,fields,extra", [
    ("score", prep.SCORE_FIELDS, {}),
    ("count", prep.COUNT_FIELDS, {}),
    ("simple", prep.SIMPLE_FIELDS, {}),
    ("phrase", prep.PHRASE_FIELDS, {"slop": 1}),
    ("bool", prep.BOOL_FIELDS,
     {"must": "error retry", "should": "deploy Login the",
      "must_not": "CRASH", "minimum_should_match": "75%"}),
])
def test_distributed_prep_matches_python(spark, kind, fields, extra):
    """qmap_df_dist == the pure-Python qmap on every builder kind,
    including null cursor columns (NaN round-trip through Arrow) and
    multi-partition inputs."""
    rng = random.Random(7)
    rows = []
    for i in range(200):
        r = {"query_id": f"q{i}", "query_text": _rand_text(rng, 6), "k": 10,
             "after_score": (2.5 if i % 4 == 0 else None),
             "after_doc": (11 if i % 4 == 0 else None)}
        r.update(extra)
        if kind == "bool" and i % 3 == 0:
            r["negative"] = "timeout"
            r["negative_boost"] = 0.25
        rows.append(r)
    schema_bits = {
        "query_id": "string", "query_text": "string", "k": "long",
        "after_score": "double", "after_doc": "long", "slop": "int",
        "must": "string", "should": "string", "must_not": "string",
        "minimum_should_match": "string", "negative": "string",
        "negative_boost": "double",
    }
    cols = list(rows[0].keys() | {"negative", "negative_boost"}
                if kind == "bool" else rows[0].keys())
    cols = [c for c in schema_bits if c in set(cols)]
    schema = ", ".join(f"{c} {schema_bits[c]}" for c in cols)
    qdf = spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], schema
    ).repartition(8)

    builder = getattr(prep, f"{kind}_entries")
    # normalize rows the way collect_rows would deliver them
    py_rows = [{c: r.get(c) for c in cols} for r in rows]
    want = _norm_qmap(_qmap_python(spark, builder, py_rows, fields, "ascii"))
    got = _norm_qmap(prep.qmap_df_dist(spark, qdf, kind, "ascii"))
    assert want.keys() == got.keys()
    for t in want:
        assert want[t] == got[t], t


def test_score_topk_distributed_dispatch(spark, tmp_path, monkeypatch):
    """Above PREP_DISTRIBUTED_THRESHOLD score_topk flips to the
    distributed qmap and returns rank-identical results."""
    from data_prepper_spark.data.transcripts import (
        generate_pandas, generate_queries,
    )
    from data_prepper_spark.index import build as ib
    from data_prepper_spark.query import engine

    d = str(tmp_path / "idx")
    ib.build_index(spark, spark.createDataFrame(generate_pandas(0, 60)), d,
                   n_shards=2, block_size=16)
    qpdf = generate_queries(40)
    qdf = spark.createDataFrame(qpdf)
    want = (
        engine.score_topk(spark, d, qdf, "wand").toPandas()
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    monkeypatch.setattr(prep, "PREP_DISTRIBUTED_THRESHOLD", 10)
    got = (
        engine.score_topk(spark, d, qdf, "wand").toPandas()
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert (want.doc_id.values == got.doc_id.values).all()
    assert (abs(want.score.values - got.score.values) <= 1e-9).all()
