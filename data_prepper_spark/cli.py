"""spark-submit entry point: build-index / query / bench subcommands.

Cluster usage (north rule: "runs via spark-submit --py-files"):

    zip -r dps.zip data_prepper_spark
    spark-submit --py-files dps.zip job.py build-index \
        --input /data/transcripts --index /data/index --shards 4096
    spark-submit --py-files dps.zip job.py build-index --resume ...   # skip done shards
    spark-submit --py-files dps.zip job.py query \
        --index /data/index --query "spark join table" --k 10
    spark-submit --py-files dps.zip job.py bench --sf-dir /data/sf0.1

Local smoke (this sandbox): python -m data_prepper_spark <subcommand>.

Under spark-submit the session comes from SparkSession.builder
.getOrCreate(), so the cluster master/conf win; standalone (or with
--local-cores) it is data_prepper_spark.session.get_spark (local[N]),
whose Python workers run the package's worker daemon.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from data_prepper_spark.index.layout import IndexExistsError


def _analyzer_spec(s: str) -> str:
    """argparse type for analyzer specs ('<mode>[+stop][+stem]'):
    validates eagerly so a typo fails at parse time, not mid-build."""
    from data_prepper_spark.index.tokenizer import parse_analyzer

    parse_analyzer(s)
    return s


def _get_spark(args):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cores = getattr(args, "local_cores", None)
    # spark-submit's launcher sets PYSPARK_GATEWAY_PORT: there getOrCreate
    # picks up --master/--conf; elsewhere it is the tuned local session
    if not cores and "PYSPARK_GATEWAY_PORT" in os.environ:
        return SparkSession.builder.appName("data_prepper_spark").getOrCreate()
    from data_prepper_spark.session import get_spark

    return get_spark(cores=cores)


def cmd_build_index(args) -> int:
    from pyspark.sql import functions as F  # noqa: F401

    from data_prepper_spark.index import build as ib

    spark = _get_spark(args)
    if args.input == "synthetic":
        from data_prepper_spark.data.transcripts import generate_spark

        df = generate_spark(spark, args.synthetic_convs)
    elif args.format == "iceberg":
        reader = spark.read.format("iceberg")
        if args.snapshot_id:
            reader = reader.option("snapshot-id", str(args.snapshot_id))
        df = reader.load(args.input)
    else:
        df = spark.read.parquet(args.input)
    t0 = time.monotonic()
    if getattr(args, "field_cols", None):
        from data_prepper_spark.query.multimatch import build_fields_index

        fields = [f.strip() for f in args.field_cols.split(",")]
        man = build_fields_index(
            spark, df, args.index, fields,
            n_shards=args.shards, block_size=args.block_size,
            tokenizer=args.tokenizer,
        )
        n_docs = df.count()
        wall = time.monotonic() - t0
        print(json.dumps(dict(man, n_docs=n_docs, wall_sec=round(wall, 2))))
        return 0
    stats = ib.build_index(
        spark,
        df,
        args.index,
        n_shards=args.shards,
        block_size=args.block_size,
        resume=args.resume,
        snapshot_id=args.snapshot_id or 0,
        incremental=args.incremental,
        tokenizer=args.tokenizer,
    )
    wall = time.monotonic() - t0
    out = dict(stats, wall_sec=round(wall, 2),
               turns_per_sec=round(stats["n_docs"] / wall, 1))
    print(json.dumps(out))
    return 0


def cmd_analyze(args) -> int:
    """OpenSearch `_analyze` analog — JVM-free (pure-Python analyzer):
    text in, analyzed tokens with surface offsets + index positions out."""
    from data_prepper_spark.index.reader import load_stats
    from data_prepper_spark.index.tokenizer import analyze

    spec = args.tokenizer
    if args.index:
        spec = load_stats(args.index).get("tokenizer", "ascii")
    text = args.text if args.text is not None else sys.stdin.read()
    print(json.dumps({"analyzer": spec, "tokens": analyze(text, spec)}))
    return 0


def cmd_termvectors(args) -> int:
    """OpenSearch _termvectors analog: per-(doc, term) term_freq,
    positions, offsets + index doc_freq, analyzed with the index's
    pinned spec (re-analysis of the stored field)."""
    from data_prepper_spark.query.termvectors import term_vectors

    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs)
    out = term_vectors(
        spark, args.index, docs, [int(d) for d in args.doc_ids],
        text_col=args.text_col, id_col=args.id_col,
    )
    for r in out.orderBy("doc_id", "term").collect():
        print(json.dumps({
            "doc_id": r["doc_id"], "term": r["term"],
            "term_freq": r["term_freq"], "doc_freq": r["doc_freq"],
            "positions": list(r["positions"]),
            "offsets": [[int(s), int(e)] for s, e in
                        zip(r["start_offsets"], r["end_offsets"])],
        }))
    return 0


def cmd_percolate(args) -> int:
    """Reverse search: stored queries (JSON list of {query_id, must,
    should, must_not, minimum_should_match}) x docs parquet ->
    (doc_id, query_id) match pairs."""
    from data_prepper_spark.query.percolate import percolate

    spark = _get_spark(args)
    stored = json.load(open(args.queries))
    qdf = spark.createDataFrame(
        [(q["query_id"], q.get("must", ""), q.get("should", ""),
          q.get("must_not", ""), str(q.get("minimum_should_match", "")))
         for q in stored],
        "query_id string, must string, should string, must_not string, "
        "minimum_should_match string",
    )
    docs = spark.read.parquet(args.docs)
    out = percolate(
        spark, qdf, docs, text_col=args.text_col, id_col=args.id_col,
        mode=args.tokenizer,
    )
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"matches": out.count(), "output": args.output}))
    else:
        for r in out.orderBy("doc_id", "query_id").limit(args.limit).collect():
            print(json.dumps({"doc_id": r["doc_id"],
                              "query_id": r["query_id"]}))
    return 0


def cmd_query(args) -> int:
    from data_prepper_spark.query import engine

    spark = _get_spark(args)
    if getattr(args, "positive", None):
        # boosting query: positive match, --negative docs demoted by
        # --negative-boost (never excluded)
        qdf = spark.createDataFrame(
            [("q0", args.positive, args.negative or "",
              float(args.negative_boost), args.k)],
            "query_id string, positive string, negative string, "
            "negative_boost double, k int",
        )
        res = engine.boosting_topk(spark, args.index, qdf)
        for r in res.orderBy("query_id", "rank").collect():
            print(json.dumps({"query_id": r["query_id"], "rank": r["rank"],
                              "doc_id": r["doc_id"],
                              "score": round(r["score"], 6)}))
        return 0
    if args.must or args.should or args.must_not or args.must_group:
        # bool query mode (OpenSearch bool: must AND / should OR with
        # minimum_should_match / must_not exclusion; --must-group adds
        # conjunctive OR-groups: each flag's terms are OR'd, groups AND'd)
        qdf = spark.createDataFrame(
            [("q0", args.must or "", args.should or "", args.must_not or "",
              str(args.minimum_should_match), args.k,
              " | ".join(args.must_group))],
            "query_id string, must string, should string, must_not string, "
            "minimum_should_match string, k int, must_groups string",
        )
        res = engine.bool_topk(spark, args.index, qdf)
        rows_out = res.orderBy("query_id", "rank").collect()
        for r in rows_out:
            print(json.dumps({"query_id": r["query_id"], "rank": r["rank"],
                              "doc_id": r["doc_id"],
                              "score": round(r["score"], 6)}))
        return 0
    if getattr(args, "query_string", None):
        from data_prepper_spark.query.query_string import query_string_topk

        qdf = spark.createDataFrame(
            [("q0", args.query_string, args.k)],
            "query_id string, query_string string, k int",
        )
        res = query_string_topk(spark, args.index, qdf)
        for r in res.orderBy("query_id", "rank").collect():
            print(json.dumps({"query_id": r["query_id"], "rank": r["rank"],
                              "doc_id": r["doc_id"],
                              "score": round(r["score"], 6)}))
        return 0
    if args.like:
        from data_prepper_spark.query import expand as ex

        qdf = spark.createDataFrame(
            [("q0", args.like, args.k)],
            "query_id string, like_text string, k int",
        )
        res = ex.more_like_this_topk(spark, args.index, qdf)
        for r in res.orderBy("query_id", "rank").collect():
            print(json.dumps({"query_id": r["query_id"], "rank": r["rank"],
                              "doc_id": r["doc_id"],
                              "score": round(r["score"], 6)}))
        return 0
    if getattr(args, "hybrid_vectors", None):
        # hybrid search: BM25 + cosine kNN fused (RRF or normalized);
        # --hybrid-vectors is a (doc_id, embedding) parquet; the query
        # vector is a JSON float list or a corpus doc's vector by id
        from pyspark.sql import functions as _F

        from data_prepper_spark.query import hybrid as hy

        if not args.query:
            print("hybrid mode needs --query", file=sys.stderr)
            return 2
        dv = spark.read.parquet(args.hybrid_vectors)
        if args.query_vector:
            vec = [float(x) for x in json.loads(args.query_vector)]
        elif args.query_vector_id is not None:
            got = dv.filter(
                _F.col("doc_id") == args.query_vector_id
            ).select("embedding").take(1)
            if not got:
                print(f"doc {args.query_vector_id} not in --hybrid-vectors",
                      file=sys.stderr)
                return 2
            vec = [float(x) for x in got[0][0]]
        else:
            print("hybrid mode needs --query-vector or --query-vector-id",
                  file=sys.stderr)
            return 2
        qdf = spark.createDataFrame(
            [("q0", args.query, vec)],
            "query_id string, query_text string, embedding array<double>",
        )
        res = hy.hybrid_topk(
            spark, args.index, qdf,
            dv.select("doc_id", _F.col("embedding").cast("array<double>")
                      .alias("embedding")),
            k=args.k, rank_constant=args.rank_constant,
            fusion=args.fusion, algo=args.algo,
        )
        score_col = "rrf_score" if args.fusion == "rrf" else "hybrid_score"
        for r in res.orderBy("query_id", "rank").collect():
            print(json.dumps({"query_id": r["query_id"], "rank": r["rank"],
                              "doc_id": r["doc_id"],
                              "score": round(r[score_col], 6)}))
        return 0
    rows = []
    if args.queries_json:
        for q in json.load(open(args.queries_json)):
            rows.append((q["query_id"], q["query_text"], int(q.get("k", args.k))))
    if args.query:
        rows.append(("q0", args.query, args.k))
    if not rows:
        print("no queries given (--query/--queries-json or bool clauses)",
              file=sys.stderr)
        return 2
    qdf = spark.createDataFrame(rows, "query_id string, query_text string, k int")
    if getattr(args, "fields", None):
        # multi_match over a fields index (best_fields / most_fields)
        from data_prepper_spark.query.multimatch import multi_match_topk

        res = multi_match_topk(
            spark, args.index, qdf,
            fields=[f.strip() for f in args.fields.split(",")],
            mm_type=args.mm_type, tie_breaker=args.tie_breaker,
        )
        for r in res.orderBy("query_id", "rank").collect():
            print(json.dumps({"query_id": r["query_id"], "rank": r["rank"],
                              "doc_id": r["doc_id"],
                              "score": round(r["score"], 6)}))
        return 0
    if getattr(args, "count", False):
        # OpenSearch _count / track_total_hits: exact live-doc match
        # totals instead of a ranked page
        res = engine.count_matches(spark, args.index, qdf)
        for r in res.orderBy("query_id").collect():
            print(json.dumps({"query_id": r["query_id"],
                              "total_hits": r["total_hits"]}))
        return 0
    if getattr(args, "rescore", None):
        # two-pass rescore: cheap primary -> window re-ranked by the
        # rescore query (Lucene QueryRescorer combine semantics)
        from pyspark.sql import functions as _F

        from data_prepper_spark.query.rescore import rescore_topk

        rq = qdf.withColumn("rescore_text", _F.lit(args.rescore))
        res = rescore_topk(
            spark, args.index, rq, window_size=args.rescore_window,
            score_mode=args.score_mode,
        ).select("query_id", "rank", "doc_id", "score")
    elif getattr(args, "function_score", None):
        # function_score: BM25 x doc-attribute factor (recency/
        # popularity boosting), optional filter context
        if not args.docs:
            print("--function-score needs --docs (corpus parquet with "
                  "doc_id + factor columns)", file=sys.stderr)
            return 2
        res = engine.function_score_topk(
            spark, args.index, qdf, spark.read.parquet(args.docs),
            args.function_score, boost_mode=args.boost_mode,
            filter_expr=args.filter or None,
        )
    elif args.filter:
        # filter context: bool {must: match, filter: attrs} — needs the
        # corpus for the attribute columns (--docs)
        if not args.docs:
            print("--filter needs --docs (corpus parquet with doc_id + "
                  "filter columns)", file=sys.stderr)
            return 2
        res = engine.filtered_topk(
            spark, args.index, qdf, spark.read.parquet(args.docs),
            args.filter,
        )
    elif args.phrase:
        if getattr(args, "slop", 0):
            from pyspark.sql import functions as _F

            qdf = qdf.withColumn("slop", _F.lit(int(args.slop)))
        res = engine.phrase_topk(spark, args.index, qdf)
    elif getattr(args, "span_near", False):
        # span_near: all terms within a window (width - n <= slop),
        # --unordered drops the clause-order requirement
        from pyspark.sql import functions as _F

        from data_prepper_spark.query.span import span_near_topk

        sq = qdf.withColumn("slop", _F.lit(int(args.slop))).withColumn(
            "in_order", _F.lit(not args.unordered))
        res = span_near_topk(spark, args.index, sq)
    elif getattr(args, "phrase_prefix", False):
        from data_prepper_spark.query.expand import match_phrase_prefix_topk

        res = match_phrase_prefix_topk(spark, args.index, qdf)
    elif getattr(args, "bool_prefix", False):
        from data_prepper_spark.query.expand import match_bool_prefix_topk

        res = match_bool_prefix_topk(spark, args.index, qdf)
    elif "," in args.index:
        # alias search: comma-separated member indexes, union-corpus
        # statistics (rank-identical to a single union index)
        if args.collapse:
            print("--collapse is not supported with alias (multi-index) "
                  "search yet", file=sys.stderr)
            return 2
        from data_prepper_spark.query.multi import multi_index_topk

        res = multi_index_topk(spark, args.index.split(","), qdf,
                               algo=args.algo)
    else:
        res = engine.score_topk(spark, args.index, qdf, algo=args.algo,
                                collapse=args.collapse)
    if args.fetch:
        # the _search stored-fields role: join the (tiny, driver-known)
        # top-k doc_id set back to the corpus — the In-filter pushes to
        # the corpus scan exactly like highlight's (engine In-filter
        # pattern), so at 100 TB this reads k row groups, not the corpus
        if not args.docs:
            print("--fetch needs --docs (corpus parquet with doc_id + "
                  "stored fields)", file=sys.stderr)
            return 2
        from pyspark.sql import functions as F

        slim = res.select("query_id", "rank", "doc_id", "score")
        ids = [r["doc_id"] for r in slim.select("doc_id").distinct().collect()]
        docs = spark.read.parquet(args.docs).filter(F.col("doc_id").isin(ids))
        fetched = slim.join(F.broadcast(docs), "doc_id", "left")
        for r in fetched.orderBy("query_id", "rank").collect():
            d = r.asDict()
            d["score"] = round(d["score"], 6)
            print(json.dumps(d, default=str))
        return 0
    rows_out = res.orderBy("query_id", "rank").collect()
    if not rows_out:
        print("0 hits (no query term matched the index dictionary)",
              file=sys.stderr)
    for r in rows_out:
        d = {"query_id": r["query_id"], "rank": r["rank"],
             "doc_id": r["doc_id"], "score": round(r["score"], 6)}
        if args.collapse:
            d["conv"] = r["conv"]
        if "index" in r.__fields__:
            d["index"] = r["index"]
        print(json.dumps(d))
    return 0


def cmd_run_pipeline(args) -> int:
    from data_prepper_spark.pipeline import load_yaml, run_pipelines

    spark = _get_spark(args)
    pipelines = load_yaml(args.config)
    if getattr(args, "transform", False):
        # rule-driven template rewrite (RuleEvaluator /
        # DynamicConfigTransformer analog): logical pipelines expand to
        # their physical multi-pipeline graph before execution
        from data_prepper_spark.plans.template import (
            BUILTIN_RULES,
            transform_pipelines,
        )

        pipelines = transform_pipelines(pipelines, BUILTIN_RULES)
        streaming = {
            n: c for n, c in pipelines.items()
            if next(iter(c["source"])).startswith("stream-")
        }
        for n in streaming:
            print(json.dumps({
                "pipeline": n,
                "skipped": "streaming pipeline — run via "
                           "pipeline.run_pipeline_streaming with a checkpoint",
            }))
        pipelines = {n: c for n, c in pipelines.items() if n not in streaming}
    results = run_pipelines(spark, pipelines)
    for name, routed in results.items():
        counts = {r: df.count() for r, df in routed.items()}
        print(json.dumps({"pipeline": name, "route_counts": counts}))
    return 0


def cmd_compact(args) -> int:
    """Merge all index segments per shard (Lucene-merge analog) and
    refresh block-max metadata against the current corpus stats."""
    from data_prepper_spark.index.build import compact_index

    spark = _get_spark(args)
    stats = compact_index(spark, args.index)
    print(json.dumps({"compacted": True, "n_docs": stats["n_docs"],
                      "avgdl": stats["avgdl"]}))
    return 0


def cmd_stats(args) -> int:
    """Index introspection (`_cat/indices` + `_segments` analog for the
    from-scratch index): corpus stats, per-segment block/term counts,
    tombstone ranges, on-disk bytes."""
    import glob as _glob

    from pyspark.sql import functions as _F

    from data_prepper_spark.index.reader import IndexReader

    r = IndexReader(_get_spark(args), args.index)
    out = {"index": args.index, **r.stats}
    if not r.empty:
        per_seg = (
            r.postings.groupBy("seg")
            .agg(
                _F.count("*").alias("block_rows"),
                _F.countDistinct("term").alias("terms"),
                _F.countDistinct("shard").alias("shards"),
            )
            .orderBy("seg")
            .collect()
        )
        out["segments"] = [row.asDict() for row in per_seg]
    if r.tomb is not None:
        out["tombstone_ranges"] = len(r.tomb.starts)
    out["disk_bytes"] = sum(
        os.path.getsize(p)
        for p in _glob.glob(os.path.join(args.index, "**"), recursive=True)
        if os.path.isfile(p)
    )
    print(json.dumps(out))
    return 0


def cmd_delete(args) -> int:
    """Tombstone deletes (the delete half of the reference's bulk
    actions, OpenSearchSink.java:347-431): point doc_ids or whole
    conversations; postings drop physically at the next `compact`."""
    from data_prepper_spark.index.tombstones import (
        delete_conversations,
        delete_docs,
    )

    spark = _get_spark(args)
    n = 0
    if args.doc_id:
        delete_docs(spark, args.index, [int(d) for d in args.doc_id])
        n += len(args.doc_id)
    if args.conv_serial:
        delete_conversations(
            spark, args.index, [int(c) for c in args.conv_serial]
        )
        n += len(args.conv_serial)
    if getattr(args, "conv_id", None):
        from data_prepper_spark.index.build import delete_conversations_by_id

        delete_conversations_by_id(spark, args.index, list(args.conv_id))
        n += len(args.conv_id)
    if getattr(args, "query", None):
        from data_prepper_spark.index.delete_query import delete_by_query

        q = spark.createDataFrame(
            [("cli-del", args.query)], "query_id string, query_text string"
        )
        n += delete_by_query(spark, args.index, q)
    print(json.dumps({"tombstoned": n, "index": args.index}))
    return 0


def cmd_suggest(args) -> int:
    """Term suggester ("did you mean") from the index dictionary —
    the OpenSearch `suggest: {term: ...}` surface."""
    from data_prepper_spark.query.suggest import suggest_terms

    spark = _get_spark(args)
    if args.phrase:
        from data_prepper_spark.query.phrase_suggest import suggest_phrases

        for row in suggest_phrases(
            spark, args.index, args.text, size=args.size,
            max_errors=args.max_errors, confidence=args.confidence,
            max_edits=args.max_edits,
        ):
            print(json.dumps(row))
        return 0
    res = suggest_terms(
        spark, args.index, args.text, max_edits=args.max_edits,
        size=args.size, suggest_mode=args.mode,
    )
    for r in res.orderBy("token", "option_rank").collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_rank_eval(args) -> int:
    """_rank_eval: precision/recall@k, MRR, NDCG@k of the engine's
    top-k against a rated (query_id, doc_id, rating) parquet."""
    from data_prepper_spark.query.rank_eval import rank_eval

    spark = _get_spark(args)
    qrows = [(q["query_id"], q["query_text"], int(q.get("k", args.k)))
             for q in json.load(open(args.queries_json))]
    qdf = spark.createDataFrame(
        qrows, "query_id string, query_text string, k int")
    ratings = spark.read.parquet(args.ratings)
    res = rank_eval(spark, args.index, qdf, ratings,
                    relevant_rating_threshold=args.threshold)
    rows = res.orderBy("query_id").collect()
    for r in rows:
        print(json.dumps({k: (round(v, 6) if isinstance(v, float) else v)
                          for k, v in r.asDict().items()}))
    if rows:
        import statistics as st

        print(json.dumps({"mean": {
            m: round(st.mean(r[m] for r in rows), 6)
            for m in ("precision_at_k", "recall_at_k", "mrr", "ndcg_at_k")
        }}))
    return 0


def cmd_redact(args) -> int:
    """PII redaction over a document parquet (emails, phones, SSNs,
    card numbers, IPs, AWS keys -> typed tokens; per-kind counts)."""
    from data_prepper_spark.text.pii import redact_documents

    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs)
    kinds = list(args.kind) if args.kind else None
    out = redact_documents(docs, column=args.text_col, kinds=kinds)
    out.write.mode(args.mode).parquet(args.out)
    print(json.dumps({"out": args.out, "rows": out.count()}))
    return 0


def cmd_export(args) -> int:
    """Full read-back of an index's matching documents (the reference's
    opensearch SOURCE role — PitWorker/ScrollWorker export an index's
    docs for reprocessing): match set from the query engine joined back
    to the corpus parquet, written distributed (never collected). With
    no --query, exports the whole corpus minus tombstoned docs."""
    from data_prepper_spark.index.reindex import live_docs

    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs)
    out = live_docs(spark, args.index, docs, query=args.query or None)
    out.write.mode(args.mode).parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"exported_rows": n, "out": args.out}))
    return 0


def cmd_reindex(args) -> int:
    """_reindex: rebuild the source index's live docs (optionally
    query-filtered) into a new index with new settings — analyzer
    migration, reshard, positions toggle. doc_ids are preserved."""
    from data_prepper_spark.index.reindex import reindex

    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs)
    stats = reindex(
        spark, args.index, docs, args.dest, query=args.query or None,
        n_shards=args.shards, block_size=args.block_size,
        tokenizer=args.tokenizer,
        positions=(None if args.positions == "keep"
                   else args.positions == "on"),
    )
    print(json.dumps(stats))
    return 0


def cmd_dedup(args) -> int:
    """Corpus near-dup clustering end-to-end: MinHash-LSH candidate
    pairs -> connected components (large-star/small-star) -> full
    cluster assignment written distributed. --drop-dups writes only the
    kept representatives (the dedup pass every training-data pipeline
    runs); default writes the assignment table (doc_id, cluster_id,
    cluster_size, is_representative) for auditing before dropping."""
    from pyspark.sql import functions as F

    from data_prepper_spark.dedup import cluster as cl
    from data_prepper_spark.dedup import dedup as dd

    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs)
    pairs = dd.minhash_lsh_pairs(
        docs, args.text_col, args.id_col,
        n=args.shingle, num_hashes=args.num_hashes, band_size=args.band_size,
    )
    out = cl.dedup_clusters(docs, pairs, args.id_col)
    if args.drop_dups:
        keep = out.filter(F.col("is_representative")).select(args.id_col)
        docs.join(keep, args.id_col).write.mode(args.mode).parquet(args.out)
    else:
        out.write.mode(args.mode).parquet(args.out)
    res = spark.read.parquet(args.out)
    n = res.count()
    summary = {"rows": n, "out": args.out, "dropped_dups": bool(args.drop_dups)}
    if not args.drop_dups:
        agg = res.agg(
            F.countDistinct("cluster_id").alias("clusters"),
            F.sum((~F.col("is_representative")).cast("long")).alias("dups"),
        ).first()
        summary.update(clusters=int(agg["clusters"]), duplicate_docs=int(agg["dups"]))
    print(json.dumps(summary))
    return 0


def cmd_dedup_lines(args) -> int:
    """Line-level corpus dedup (dedup/lines.py): rewrite text with
    corpus-wide duplicated lines removed, or audit the boilerplate
    with --stats."""
    from pyspark.sql import functions as F

    from data_prepper_spark.dedup import lines as dl

    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs)
    if args.stats:
        for r in dl.duplicate_line_stats(
            docs, args.text_col, args.id_col, args.min_words,
        ).collect():
            print(json.dumps(r.asDict()))
        return 0
    if not args.out:
        raise SystemExit("dedup-lines: --out required unless --stats")
    out = dl.dedup_lines(
        docs, args.text_col, args.id_col, args.min_words, args.dedup_mode,
    )
    out.write.mode(args.mode).parquet(args.out)
    res = spark.read.parquet(args.out)
    agg = res.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_lines_removed").alias("lines_removed"),
    ).first()
    print(json.dumps({"docs": int(agg["docs"]),
                      "lines_removed": int(agg["lines_removed"] or 0),
                      "out": args.out}))
    return 0


def cmd_url_filter(args) -> int:
    """URL/domain gate: write the kept corpus (or --report verdicts)."""
    from data_prepper_spark.text import urlfilter as uf

    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs)
    domains = None
    if args.domains:
        if args.domains.endswith(".parquet") or os.path.isdir(args.domains):
            domains = spark.read.parquet(args.domains)
        else:
            with open(args.domains) as f:
                domains = [ln.strip() for ln in f if ln.strip()]
    fragments = (
        [x for x in args.fragments.split(",") if x]
        if args.fragments else None
    )
    if args.report:
        for r in uf.url_filter_report(
            docs, domains, fragments, args.url_col, args.id_col,
        ).collect():
            print(json.dumps(r.asDict()))
        return 0
    if not args.out:
        raise SystemExit("url-filter: --out required unless --report")
    kept = uf.url_filter(docs, domains, fragments, args.url_col, args.id_col)
    kept.write.mode(args.mode).parquet(args.out)
    n_in, n_out = docs.count(), spark.read.parquet(args.out).count()
    print(json.dumps({"docs_in": n_in, "docs_kept": n_out,
                      "dropped": n_in - n_out, "out": args.out}))
    return 0


def cmd_knn_build(args) -> int:
    """Build the distributed HNSW graph index (dedup/hnsw.py): one
    graph per shard, persisted as a parquet blob table."""
    from pyspark.sql import functions as F

    from data_prepper_spark.dedup import hnsw

    spark = _get_spark(args)
    vecs = spark.read.parquet(args.vectors)
    hnsw.hnsw_build(
        vecs, args.out, n_shards=args.shards, m=args.m,
        ef_construction=args.ef_construction,
        id_col=args.id_col, vec_col=args.vec_col,
    )
    meta = spark.read.parquet(args.out).agg(
        F.count(F.lit(1)).alias("shards"), F.sum("n").alias("vectors")
    ).first()
    print(json.dumps({"out": args.out, "shards": int(meta["shards"]),
                      "vectors": int(meta["vectors"])}))
    return 0


def cmd_knn_query(args) -> int:
    """Top-k ANN over a built HNSW index; queries = parquet of
    (query_id, embedding) or one inline --vector."""
    from data_prepper_spark.dedup import hnsw

    spark = _get_spark(args)
    if args.queries:
        q = spark.read.parquet(args.queries)
    else:
        vec = [float(x) for x in args.vector.split(",")]
        q = spark.createDataFrame(
            [("q0", vec)], "query_id string, embedding array<float>"
        )
    if args.filter and not args.vectors:
        raise SystemExit("knn-query: --filter requires --vectors")
    vectors = spark.read.parquet(args.vectors) if args.filter else None
    res = hnsw.hnsw_topk(spark, args.graphs, q, k=args.k,
                         ef_search=args.ef_search,
                         filter=args.filter, vectors=vectors)
    for r in res.orderBy("query_id", "rank").collect():
        print(json.dumps(r.asDict()))
    return 0


def _write_corpus_fingerprint(spark, path: str, fp: tuple[int, str]) -> None:
    spark.createDataFrame([fp], "rows long, text_hash string").coalesce(1) \
        .write.mode("overwrite").parquet(path)


def _read_corpus_fingerprint(path: str) -> tuple[int, str] | None:
    from data_prepper_spark.index import layout

    if not layout.exists(path):
        return None
    t = layout.read_table(path, ["rows", "text_hash"])
    return t.column("rows")[0].as_py(), t.column("text_hash")[0].as_py()


def cmd_dedup_incremental(args) -> int:
    """Admit only-new rows of a snapshot against an existing corpus
    (dedup/bloom.py): build or reuse the persisted bloom artifact,
    probe the increment, anti-join the bloom-positive sliver — exact
    without re-shuffling the corpus. The artifact is reused only for
    the corpus it was built from: its fingerprint (bloom.
    corpus_fingerprint) sits in a one-row sidecar at <bloom>.corpus,
    and any other corpus rebuilds the artifact."""
    from data_prepper_spark.dedup import bloom as bl
    from data_prepper_spark.index import layout

    spark = _get_spark(args)
    new = spark.read.parquet(args.new)
    corpus = spark.read.parquet(args.corpus)
    fp = bl.corpus_fingerprint(corpus, args.text_col)
    sidecar = args.bloom.rstrip("/") + ".corpus" if args.bloom else None
    reused = bool(args.bloom) and layout.exists(args.bloom) \
        and _read_corpus_fingerprint(sidecar) == fp
    if reused:
        b = spark.read.parquet(args.bloom)
    else:
        b = bl.build_bloom(corpus, text_col=args.text_col, fpr=args.fpr,
                           expected_items=fp[0])
        if args.bloom:
            if layout.exists(sidecar):
                # void the old record first: a crash while the artifact
                # is rewritten must not leave it naming the old corpus
                _write_corpus_fingerprint(spark, sidecar, (-1, ""))
            b.write.mode("overwrite").parquet(args.bloom)
            _write_corpus_fingerprint(spark, sidecar, fp)
            b = spark.read.parquet(args.bloom)
    out = bl.dedup_incremental(
        new, b, corpus, text_col=args.text_col, id_col=args.id_col
    )
    out.write.mode("overwrite").parquet(args.out)
    admitted = spark.read.parquet(args.out).count()
    print(json.dumps({
        "out": args.out, "new_rows": new.count(), "admitted": admitted,
        "bloom": args.bloom, "bloom_reused": bool(reused),
    }))
    return 0


def cmd_mix(args) -> int:
    """Training-mixture construction (text/mix.py): domain weights +
    token budget -> per-domain epoch factors -> replicated corpus."""
    from pyspark.sql import functions as F

    from data_prepper_spark.text import mix as tm

    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs)
    if args.token_col not in docs.columns:
        docs = docs.withColumn(
            args.token_col,
            F.size(F.filter(
                F.split(F.col(args.text_col), r"\s+"), lambda x: x != ""
            )),
        )
    counts = tm.domain_token_counts(docs, args.domain_col, args.token_col)
    weights = {}
    for kv in args.weights.split(","):
        d, w = kv.split("=", 1)
        weights[d] = float(w)
    if args.budget:
        budget = int(args.budget)
    else:
        budget = int(sum(counts.values()) * args.budget_factor)
    epochs = tm.plan_mixture(
        counts, weights, budget, max_epochs=args.max_epochs
    )
    out = tm.materialize_mixture(
        docs, epochs, domain_col=args.domain_col, id_col=args.id_col
    )
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({
        "out": args.out, "rows": n, "budget_tokens": budget,
        "epochs": {d: round(e, 4) for d, e in sorted(epochs.items())},
    }))
    return 0


def cmd_pq_build(args) -> int:
    """Train PQ codebooks on a bounded sample and encode the corpus
    (dedup/pq.py): writes <out>/books and <out>/codes parquet."""
    from data_prepper_spark.dedup import pq

    spark = _get_spark(args)
    vecs = spark.read.parquet(args.vectors)
    books = pq.pq_train(
        vecs, m=args.m, ksub=args.ksub, sample_size=args.sample,
        vec_col=args.vec_col,
    )
    pq.save_books(spark, books, os.path.join(args.out, "books"))
    codes = pq.pq_encode(vecs, books, id_col=args.id_col,
                         vec_col=args.vec_col)
    codes.write.mode("overwrite").parquet(os.path.join(args.out, "codes"))
    n = spark.read.parquet(os.path.join(args.out, "codes")).count()
    print(json.dumps({"out": args.out, "vectors": n, "m": args.m,
                      "ksub": args.ksub, "bytes_per_vector": args.m}))
    return 0


def cmd_pq_query(args) -> int:
    """ADC cosine top-k over a pq-build index."""
    from data_prepper_spark.dedup import pq

    spark = _get_spark(args)
    books = pq.load_books(spark, os.path.join(args.index, "books"))
    codes = spark.read.parquet(os.path.join(args.index, "codes"))
    if args.queries:
        q = spark.read.parquet(args.queries)
    else:
        vec = [float(x) for x in args.vector.split(",")]
        q = spark.createDataFrame(
            [("q0", vec)], "query_id string, embedding array<float>"
        )
    res = pq.pq_topk(codes, q, books, k=args.k, id_col=args.id_col)
    for r in res.orderBy("query_id", "rank").collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_semdedup(args) -> int:
    """SemDeDup semantic dedup (dedup/semdedup.py): writes the
    per-vector decision table (or survivor ids with --survivors)."""
    from pyspark.sql import functions as F

    from data_prepper_spark.dedup import semdedup as sd

    spark = _get_spark(args)
    vecs = spark.read.parquet(args.vectors)
    dec = sd.semdedup(
        vecs, eps=args.eps, n_clusters=args.clusters,
        cluster_col=args.cluster_col, rank_by=args.rank_by,
        id_col=args.id_col, vec_col=args.vec_col,
    )
    if args.survivors:
        dec = dec.filter(F.col("keep")).select(args.id_col)
    dec.write.mode("overwrite").parquet(args.out)
    out = spark.read.parquet(args.out)
    kept = out.count() if args.survivors else out.filter("keep").count()
    print(json.dumps({"out": args.out, "vectors": vecs.count(),
                      "kept": kept}))
    return 0


def cmd_decontaminate(args) -> int:
    """Benchmark decontamination: write the corpus minus every doc
    sharing >= 1 word n-gram with the benchmark set (GPT-3's 13-gram
    recipe); --report writes the (doc_id, n_hits) audit table instead."""
    from data_prepper_spark.dedup import decontaminate as dc

    spark = _get_spark(args)
    corpus = spark.read.parquet(args.docs)
    bench = spark.read.parquet(args.benchmark)
    if args.report:
        out = dc.contaminated_ids(
            corpus, bench, args.text_col, args.id_col, args.ngram,
            bench_text_col=args.bench_text_col,
        )
    else:
        out = dc.decontaminate(
            corpus, bench, args.text_col, args.id_col, args.ngram,
            bench_text_col=args.bench_text_col,
        )
    out.write.mode(args.mode).parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({
        "rows": n, "out": args.out, "ngram": args.ngram,
        "kind": "contamination_report" if args.report else "clean_corpus",
        "dropped": None if args.report else corpus.count() - n,
    }))
    return 0


def cmd_check_index(args) -> int:
    """Lucene CheckIndex analog: one distributed scan verifying stream
    decode, block ordering/metadata, postings-vs-dictionary df, and
    doc counts vs stats.json."""
    from data_prepper_spark.index.check import check_index

    spark = _get_spark(args)
    report = check_index(spark, args.index)
    print(json.dumps(report))
    return 0 if report["ok"] else 1


def cmd_snapshot(args) -> int:
    """_snapshot API role: create/restore/list/delete incremental
    content-addressed snapshots of an index directory (JVM-free —
    driver-side file ops over the live commit point)."""
    from data_prepper_spark.index import backup

    if args.action == "create":
        print(json.dumps(backup.create_snapshot(
            args.index, args.repo, args.name)))
    elif args.action == "restore":
        print(json.dumps(backup.restore_snapshot(
            args.repo, args.name, args.index)))
    elif args.action == "delete":
        print(json.dumps(backup.delete_snapshot(args.repo, args.name)))
    else:
        print(json.dumps(backup.list_snapshots(args.repo)))
    return 0


def cmd_search(args) -> int:
    """The `_search` entry shape: --body takes the request JSON
    verbatim; --template + --params renders a Mustache search template
    first (query/templates.py), then dispatches (query/request.py)."""
    from data_prepper_spark.query import request as req
    from data_prepper_spark.query import templates as tpl

    if bool(args.body) == bool(args.template):
        raise SystemExit("search: give exactly one of --body / --template")
    if args.template:
        with open(args.template) as f:
            src = f.read()
        body = tpl.render_body(
            src, json.loads(args.params) if args.params else {})
    else:
        body = json.loads(args.body)
    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs) if args.docs else None
    res = req.search(spark, args.index, body, docs=docs,
                     knn_graphs=args.knn_graphs)
    order = "rank" if "rank" in res.columns else res.columns[:2]
    for r in res.orderBy(order).collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_nested_query(args) -> int:
    """Scored `nested` query (block-join scoring): matching turns are
    the nested children, conversations the parents; parent score folds
    child BM25 scores per --score-mode."""
    from data_prepper_spark.query import nested as nested_mod

    spark = _get_spark(args)
    q = spark.createDataFrame(
        [("q0", args.query, args.k)],
        "query_id string, query_text string, k int",
    )
    if args.inner_filter and not args.docs:
        raise SystemExit("nested-query: --inner-filter requires --docs")
    turns = spark.read.parquet(args.docs) if args.docs else None
    res = nested_mod.nested_topk(
        spark, args.index, q, turns=turns,
        inner_filter=args.inner_filter, score_mode=args.score_mode,
    )
    for r in res.orderBy("rank").collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_facet(args) -> int:
    """Aggregations over a query's match set (the OpenSearch `aggs`
    surface next to search): terms (top values per field),
    date-histogram (calendar buckets), stats (count/min/max/avg/sum)."""
    from data_prepper_spark.query import facets

    spark = _get_spark(args)
    docs = spark.read.parquet(args.docs)
    q = spark.createDataFrame(
        [("q0", args.query)], "query_id string, query_text string"
    )
    if args.kind != "tree" and not args.field:
        raise SystemExit("--field is required for this --kind")
    if args.kind == "tree":
        # general nested composition: --tree takes the OpenSearch
        # `aggs` request JSON verbatim (query/agg_tree.py)
        from data_prepper_spark.query import agg_tree as at

        res = at.agg_tree(spark, args.index, q, docs,
                          json.loads(args.tree))
    elif args.kind == "terms":
        res = facets.terms_facet(
            spark, args.index, q, docs, args.field, size=args.size
        )
    elif args.kind == "date_histogram":
        res = facets.date_histogram(
            spark, args.index, q, docs, args.field[0], unit=args.unit
        )
    elif args.kind == "significant":
        res = facets.significant_terms(
            spark, args.index, q, docs, args.field[0], size=args.size
        )
    elif args.kind == "percentiles":
        res = facets.percentiles_facet(
            spark, args.index, q, docs, args.field[0],
            approximate=args.approximate,
        )
    elif args.kind == "cardinality":
        from data_prepper_spark.query import aggs

        res = aggs.cardinality_facet(
            spark, args.index, q, docs, args.field,
            approximate=args.approximate,
        )
    elif args.kind == "histogram":
        from data_prepper_spark.query import aggs

        res = aggs.histogram_facet(
            spark, args.index, q, docs, args.field[0],
            interval=args.interval,
        )
    elif args.kind == "range":
        from data_prepper_spark.query import aggs

        def _edge(s):
            return None if s == "*" else float(s)

        ranges = [
            (_edge(lo), _edge(hi))
            for r in (args.range or [])
            for lo, hi in [r.split(":", 1)]
        ]
        res = aggs.range_facet(
            spark, args.index, q, docs, args.field[0], ranges
        )
    elif args.kind == "top_hits":
        from data_prepper_spark.query import aggs

        res = aggs.top_hits_facet(
            spark, args.index, q, docs, args.field[0], args.sort_field,
            size=args.size, ascending=args.ascending,
        )
    elif args.kind == "terms_stats":
        from data_prepper_spark.query import aggs

        res = aggs.terms_stats_facet(
            spark, args.index, q, docs, args.field[0], args.sort_field,
            size=args.size,
        )
    elif args.kind == "rare_terms":
        from data_prepper_spark.query import aggs_more as am

        res = am.rare_terms_facet(
            spark, args.index, q, docs, args.field[0],
            max_doc_count=args.max_doc_count,
        )
    elif args.kind == "multi_terms":
        from data_prepper_spark.query import aggs_more as am

        res = am.multi_terms_facet(
            spark, args.index, q, docs, args.field, size=args.size
        )
    elif args.kind == "extended_stats":
        from data_prepper_spark.query import aggs_more as am

        res = am.extended_stats_facet(
            spark, args.index, q, docs, args.field[0]
        )
    elif args.kind == "value_count":
        from data_prepper_spark.query import aggs_more as am

        res = am.value_count_facet(spark, args.index, q, docs, args.field)
    elif args.kind == "missing":
        from data_prepper_spark.query import aggs_more as am

        res = am.missing_facet(spark, args.index, q, docs, args.field[0])
    elif args.kind == "date_range":
        from data_prepper_spark.query import aggs_more as am

        # date bounds contain ':' so date_range buckets split on '/'
        ranges = [
            (None if lo == "*" else lo, None if hi == "*" else hi)
            for r in (args.range or [])
            for lo, hi in [r.split("/", 1)]
        ]
        res = am.date_range_facet(
            spark, args.index, q, docs, args.field[0], ranges
        )
    elif args.kind == "percentile_ranks":
        vals = [float(v) for v in (args.value or [])]
        res = facets.percentile_ranks_facet(
            spark, args.index, q, docs, args.field[0], vals
        )
    elif args.kind == "auto_date_histogram":
        res = facets.auto_date_histogram(
            spark, args.index, q, docs, args.field[0],
            target_buckets=args.size,
        )
    elif args.kind == "geo_distance":
        from data_prepper_spark.query import geo as gq

        rings = [
            (None if lo == "*" else float(lo),
             None if hi == "*" else float(hi))
            for r in (args.range or [])
            for lo, hi in [r.split(":", 1)]
        ]
        res = gq.geo_distance_facet(
            spark, args.index, q, docs, args.field[0], args.field[1],
            args.origin_lat, args.origin_lon, rings,
        )
    elif args.kind == "geotile_grid":
        from data_prepper_spark.query import geo as gq

        res = gq.geotile_grid_facet(
            spark, args.index, q, docs, args.field[0], args.field[1],
            zoom=args.zoom, size=args.size,
        )
    elif args.kind == "significant_text":
        res = facets.significant_text(
            spark, args.index, q, docs, size=args.size,
            min_doc_count=args.min_doc_count,
        )
    else:
        res = facets.stats_facet(spark, args.index, q, docs, args.field)
    if args.densify:
        # min_doc_count: 0 — fill bucket gaps with zero-count rows so
        # a following pipeline agg never diffs across a hole. The step
        # is the parent's interval: a calendar unit for date buckets,
        # a float for numeric histograms.
        from data_prepper_spark.query import pipeline_aggs as pa

        try:
            step = float(args.densify)
        except ValueError:
            step = args.densify
        res = pa.densify_buckets(res, order_col="bucket",
                                 value_col="count", step=step)
    if args.pipeline:
        # second-order agg over the bucket frame (date_histogram /
        # histogram parents): bucket-key-ordered window per query
        from data_prepper_spark.query import pipeline_aggs as pa

        fn = {"derivative": pa.derivative,
              "cumulative_sum": pa.cumulative_sum,
              "serial_diff": pa.serial_diff}[args.pipeline]
        res = fn(res, order_col="bucket", value_col="count")
    order = [c for c in ("query_id", "path", "keys", "metric", "field",
                         "bucket", "key", "value", "rank", "bucket_rank",
                         "term")
             if c in res.columns]
    for r in res.orderBy(*order).collect():
        print(json.dumps(
            {k: (str(v) if k == "bucket" else v) for k, v in r.asDict().items()}
        ))
    return 0


def cmd_convert_logstash(args) -> int:
    """Logstash .conf -> runnable pipeline YAML (the reference's
    data-prepper-logstash-configuration converter)."""
    from data_prepper_spark.logstash import convert_file

    out = convert_file(args.conf, args.out, strict=not args.lenient)
    print(json.dumps({"converted": args.conf, "yaml": out}))
    return 0


def cmd_bench(args) -> int:
    import bench

    print(json.dumps(bench.run_suite(args.sf_dir, args.cpus)))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="data_prepper_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build-index", help="SPIMI build of the inverted index")
    b.add_argument("--input", required=True,
                   help="transcript table path, or 'synthetic'")
    b.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    b.add_argument("--index", required=True, help="output index directory")
    b.add_argument("--shards", type=int, default=64)
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--resume", action="store_true",
                   help="skip shards marked done in the checkpoint manifest")
    b.add_argument("--incremental", action="store_true",
                   help="append a new segment for rows added since the last "
                        "snapshot (snapshots-between CDC); stats are merged")
    b.add_argument("--snapshot-id", type=int, default=0)
    b.add_argument("--synthetic-convs", type=int, default=1000)
    b.add_argument("--tokenizer", type=_analyzer_spec, default="ascii",
                   help="analyzer spec: ascii|unicode with optional "
                        "+stop / +stem filters, e.g. 'unicode+stop+stem'")
    b.add_argument("--field-cols", default=None,
                   help="comma-separated text columns: build a per-field "
                        "multi_match index (<index>/fields/<f>) instead "
                        "of a single-field one")
    b.add_argument("--local-cores", type=int, default=None)
    b.set_defaults(fn=cmd_build_index)

    an = sub.add_parser(
        "analyze", help="OpenSearch _analyze analog: text -> analyzed "
        "tokens with offsets/positions (no Spark session needed)")
    an.add_argument("--text", default=None,
                    help="text to analyze (default: read stdin)")
    an.add_argument("--tokenizer", type=_analyzer_spec, default="ascii",
                    help="analyzer spec (ascii|unicode[+stop][+stem])")
    an.add_argument("--index", default=None,
                    help="read the analyzer spec from this local index's "
                         "stats.json instead")
    an.set_defaults(fn=cmd_analyze)

    tvp = sub.add_parser(
        "termvectors", help="per-(doc, term) term_freq/positions/offsets "
        "+ index doc_freq (_termvectors analog)")
    tvp.add_argument("--index", required=True)
    tvp.add_argument("--docs", required=True, help="corpus parquet")
    tvp.add_argument("--doc-ids", nargs="+", required=True)
    tvp.add_argument("--text-col", default="text")
    tvp.add_argument("--id-col", default="doc_id")
    tvp.add_argument("--local-cores", type=int, default=None)
    tvp.set_defaults(fn=cmd_termvectors)

    pc = sub.add_parser(
        "percolate", help="reverse search: stored queries x docs parquet "
        "-> (doc_id, query_id) matches")
    pc.add_argument("--queries", required=True,
                    help="JSON file: [{query_id, must, should, must_not, "
                         "minimum_should_match}]")
    pc.add_argument("--docs", required=True, help="documents parquet")
    pc.add_argument("--text-col", default="text")
    pc.add_argument("--id-col", default="doc_id")
    pc.add_argument("--tokenizer", type=_analyzer_spec, default="ascii")
    pc.add_argument("--output", default=None,
                    help="write matches as parquet instead of printing")
    pc.add_argument("--limit", type=int, default=100)
    pc.add_argument("--local-cores", type=int, default=None)
    pc.set_defaults(fn=cmd_percolate)

    q = sub.add_parser("query", help="BM25 top-k over a built index")
    q.add_argument("--index", required=True)
    q.add_argument("--query", help="single query text")
    q.add_argument("--queries-json", help="JSON file: [{query_id, query_text, k}]")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--algo", default="bmx", choices=["bmx", "wand", "exhaustive"],
                   help="top-k kernel: bmx (block-max WAND, pruned; 'wand' "
                        "is an alias) or exhaustive (scores every posting); "
                        "all return the same hits")
    q.add_argument("--phrase", action="store_true",
                   help="match_phrase: consecutive tokens in order")
    q.add_argument("--slop", type=int, default=0,
                   help="match_phrase slop: each term may move up to N "
                        "positions (L-inf; Lucene counts total moves)")
    q.add_argument("--phrase-prefix", action="store_true",
                   help="match_phrase_prefix: last token is a prefix "
                        "(search-as-you-type)")
    q.add_argument("--bool-prefix", action="store_true",
                   help="match_bool_prefix: terms anywhere in any "
                        "order, last token a prefix")
    q.add_argument("--span-near", action="store_true",
                   help="span_near: all terms within a window "
                        "(width - n_terms <= --slop), in clause order "
                        "unless --unordered")
    q.add_argument("--unordered", action="store_true",
                   help="span_near in_order=false")
    q.add_argument("--collapse", action="store_true",
                   help="one best hit per conversation (OpenSearch "
                        "collapse on conv); top-k conversations")
    q.add_argument("--positive", default=None,
                   help="boosting query: positive (match) terms")
    q.add_argument("--negative", default=None,
                   help="boosting query: docs holding these terms are "
                        "demoted by --negative-boost, not excluded")
    q.add_argument("--negative-boost", type=float, default=0.5)
    q.add_argument("--must", help="bool query: AND terms")
    q.add_argument("--should", help="bool query: OR terms")
    q.add_argument("--must-not", help="bool query: excluded terms")
    q.add_argument("--minimum-should-match", default="0",
                   help="int, negative int, 'N%%', '-N%%', or 'n<spec' "
                        "conditional chains (OpenSearch spec syntax)")
    q.add_argument("--like", default=None,
                   help="more_like_this: find docs similar to this text "
                        "(tf-idf term selection + bool should, msm 30%%)")
    q.add_argument("--query-string", default=None,
                   help='Lucene query_string syntax: +must -not AND/OR/'
                        'NOT (a OR b) groups, "quoted phrase"')
    q.add_argument("--must-group", action="append", default=[],
                   help="conjunctive OR-group: terms in one flag are "
                        "OR'd, repeated flags AND'd — '(a OR b) AND "
                        "(c OR d)' = --must-group 'a b' --must-group "
                        "'c d' (the synonym-expansion shape)")
    q.add_argument("--filter", default=None,
                   help="filter context (bool {must: match, filter}): a "
                        "Spark SQL predicate over corpus columns; "
                        "restricts candidates before the top-k heap "
                        "without changing scoring stats")
    q.add_argument("--docs", default=None,
                   help="corpus parquet with doc_id + filter columns "
                        "(required with --filter / --fetch)")
    q.add_argument("--rescore", default=None,
                   help="rescore query text: re-rank the top window "
                        "(Lucene QueryRescorer semantics)")
    q.add_argument("--rescore-window", type=int, default=50)
    q.add_argument("--score-mode", default="total",
                   choices=["total", "multiply", "avg", "max", "min"])
    q.add_argument("--function-score", default=None,
                   help="Spark SQL double expression over --docs columns "
                        "(field_value_factor role), e.g. '1.0+log1p(value)'")
    q.add_argument("--boost-mode", default="multiply",
                   choices=["multiply", "sum", "replace"])
    q.add_argument("--fields", default=None,
                   help="multi_match fields over a fields index, e.g. "
                        "'text,tool^2'")
    q.add_argument("--mm-type", default="best_fields",
                   choices=["best_fields", "most_fields", "cross_fields"])
    q.add_argument("--tie-breaker", type=float, default=0.0)
    q.add_argument("--count", action="store_true",
                   help="OpenSearch _count: print exact per-query live "
                        "match totals instead of a ranked page")
    q.add_argument("--fetch", action="store_true",
                   help="join results back to --docs and print stored "
                        "fields with each hit (the _search source role; "
                        "term/phrase/filter modes)")
    q.add_argument("--hybrid-vectors", default=None,
                   help="hybrid search: (doc_id, embedding) parquet; "
                        "BM25 + cosine kNN fused per --fusion")
    q.add_argument("--query-vector", default=None,
                   help="hybrid query vector as a JSON float list")
    q.add_argument("--query-vector-id", type=int, default=None,
                   help="hybrid query vector = this doc's vector from "
                        "--hybrid-vectors")
    q.add_argument("--fusion", default="rrf",
                   choices=["rrf", "normalized"])
    q.add_argument("--rank-constant", type=int, default=60,
                   help="RRF rank constant (default 60)")
    q.add_argument("--local-cores", type=int, default=None)
    q.set_defaults(fn=cmd_query)

    rp = sub.add_parser(
        "run-pipeline",
        help="execute a reference-style YAML pipelines file as DataFrame plans",
    )
    rp.add_argument("--config", required=True, help="pipelines YAML path")
    rp.add_argument("--local-cores", type=int, default=None)
    rp.add_argument(
        "--transform", action="store_true",
        help="apply rule-driven template rewrite before running",
    )
    rp.set_defaults(fn=cmd_run_pipeline)

    c = sub.add_parser(
        "compact",
        help="merge all segments per shard; refresh block-max metadata",
    )
    c.add_argument("--index", required=True)
    c.add_argument("--local-cores", type=int, default=None)
    c.set_defaults(fn=cmd_compact)

    st = sub.add_parser(
        "stats",
        help="index introspection: corpus stats, segments, tombstones, bytes",
    )
    st.add_argument("--index", required=True)
    st.add_argument("--local-cores", type=int, default=None)
    st.set_defaults(fn=cmd_stats)

    dl = sub.add_parser(
        "delete",
        help="tombstone doc_ids / conversations; compact purges them",
    )
    dl.add_argument("--index", required=True)
    dl.add_argument("--doc-id", action="append", default=[],
                    help="point doc_id to delete (repeatable)")
    dl.add_argument("--conv-serial", action="append", default=[],
                    help="conversation serial to purge (repeatable)")
    dl.add_argument("--conv-id", action="append", default=[],
                    help="conversation id STRING to purge — works under "
                         "both id schemes incl. UUID corpora (repeatable)")
    dl.add_argument("--query", default=None,
                    help="delete-by-query: tombstone every doc matching "
                         "this match query (_delete_by_query)")
    dl.add_argument("--local-cores", type=int, default=None)
    dl.set_defaults(fn=cmd_delete)

    sg = sub.add_parser(
        "suggest", help='term suggester ("did you mean") from the '
        "index dictionary")
    sg.add_argument("--index", required=True)
    sg.add_argument("--text", required=True)
    sg.add_argument("--max-edits", type=int, default=2)
    sg.add_argument("--size", type=int, default=5)
    sg.add_argument("--mode", choices=["missing", "popular", "always"],
                    default="missing")
    sg.add_argument("--phrase", action="store_true",
                    help="phrase suggester: whole-phrase corrections "
                         "ranked by a StupidBackoff bigram LM over the "
                         "positions stream")
    sg.add_argument("--max-errors", type=int, default=1)
    sg.add_argument("--confidence", type=float, default=1.0)
    sg.add_argument("--local-cores", type=int, default=None)
    sg.set_defaults(fn=cmd_suggest)

    rv = sub.add_parser(
        "rank-eval", help="_rank_eval: precision/recall@k, MRR, NDCG@k "
        "against rated (query_id, doc_id, rating) docs")
    rv.add_argument("--index", required=True)
    rv.add_argument("--queries-json", required=True,
                    help='[{"query_id", "query_text", "k"?}, ...]')
    rv.add_argument("--ratings", required=True,
                    help="parquet with query_id, doc_id, rating")
    rv.add_argument("--k", type=int, default=10)
    rv.add_argument("--threshold", type=int, default=1,
                    help="relevant_rating_threshold")
    rv.add_argument("--local-cores", type=int, default=None)
    rv.set_defaults(fn=cmd_rank_eval)

    rd = sub.add_parser(
        "redact", help="PII redaction over a documents parquet "
        "(email/phone/ssn/credit-card/ip/aws-key -> typed tokens)")
    rd.add_argument("--docs", required=True)
    rd.add_argument("--out", required=True)
    rd.add_argument("--text-col", default="text")
    rd.add_argument("--kind", action="append", default=[],
                    help="restrict to these kinds (repeatable)")
    rd.add_argument("--mode", default="error")
    rd.add_argument("--local-cores", type=int, default=None)
    rd.set_defaults(fn=cmd_redact)

    ex = sub.add_parser(
        "export", help="export matching (or all live) docs to parquet "
        "(the opensearch-source read-back role)")
    ex.add_argument("--index", required=True)
    ex.add_argument("--docs", required=True,
                    help="corpus parquet with doc_id + payload columns")
    ex.add_argument("--out", required=True)
    ex.add_argument("--query", default=None,
                    help="match query; omit to export all live docs")
    ex.add_argument("--mode", default="overwrite")
    ex.add_argument("--local-cores", type=int, default=None)
    ex.set_defaults(fn=cmd_export)

    ri = sub.add_parser(
        "reindex", help="_reindex: rebuild live (or matching) docs into "
        "a new index with new settings (analyzer/shards/positions)")
    ri.add_argument("--index", required=True, help="source index")
    ri.add_argument("--docs", required=True,
                    help="corpus parquet with doc_id + text")
    ri.add_argument("--dest", required=True, help="destination index dir")
    ri.add_argument("--query", default=None,
                    help="copy only docs matching this query")
    ri.add_argument("--shards", type=int, default=None)
    ri.add_argument("--block-size", type=int, default=None)
    ri.add_argument("--tokenizer", type=_analyzer_spec, default=None,
                    help="analyzer migration target (spec: "
                         "ascii|unicode[+stop][+stem])")
    ri.add_argument("--positions", choices=["keep", "on", "off"],
                    default="keep")
    ri.add_argument("--local-cores", type=int, default=None)
    ri.set_defaults(fn=cmd_reindex)

    ci = sub.add_parser(
        "check-index", help="verify index integrity (Lucene CheckIndex "
        "analog): decode, ordering, df and doc-count consistency")
    ci.add_argument("--index", required=True)
    ci.add_argument("--local-cores", type=int, default=None)
    ci.set_defaults(fn=cmd_check_index)

    sn = sub.add_parser(
        "snapshot", help="_snapshot role: incremental content-addressed "
        "backup/restore of an index directory")
    sn.add_argument("action",
                    choices=["create", "restore", "list", "delete"])
    sn.add_argument("--repo", required=True,
                    help="snapshot repository directory")
    sn.add_argument("--index",
                    help="index dir (source for create, target for "
                         "restore)")
    sn.add_argument("--name", help="snapshot name")
    sn.set_defaults(fn=cmd_snapshot)

    dp = sub.add_parser(
        "dedup", help="near-dup clustering: MinHash-LSH pairs -> connected "
        "components -> cluster assignment (or --drop-dups to keep only "
        "representatives)")
    dp.add_argument("--docs", required=True, help="input parquet of documents")
    dp.add_argument("--out", required=True, help="output parquet path")
    dp.add_argument("--id-col", default="doc_id")
    dp.add_argument("--text-col", default="text")
    dp.add_argument("--shingle", type=int, default=3)
    dp.add_argument("--num-hashes", type=int, default=16)
    dp.add_argument("--band-size", type=int, default=4)
    dp.add_argument("--drop-dups", action="store_true",
                    help="write the deduplicated corpus instead of the "
                    "assignment table")
    dp.add_argument("--mode", default="error", help="parquet write mode")
    dp.add_argument("--local-cores", type=int, default=None)
    dp.set_defaults(fn=cmd_dedup)

    dls = sub.add_parser(
        "dedup-lines", help="line-level corpus dedup (C4/CCNet shape): "
        "remove lines whose normalized form repeats corpus-wide; "
        "--stats prints the top boilerplate lines instead")
    dls.add_argument("--docs", required=True, help="input parquet")
    dls.add_argument("--out", default=None,
                     help="output parquet (required unless --stats)")
    dls.add_argument("--id-col", default="doc_id")
    dls.add_argument("--text-col", default="text")
    dls.add_argument("--min-words", type=int, default=4)
    dls.add_argument("--dedup-mode", default="keep_first",
                     choices=["keep_first", "drop_all"])
    dls.add_argument("--stats", action="store_true")
    dls.add_argument("--mode", default="error", help="parquet write mode")
    dls.add_argument("--local-cores", type=int, default=None)
    dls.set_defaults(fn=cmd_dedup_lines)

    ufp = sub.add_parser(
        "url-filter", help="URL/domain gate (RefinedWeb/C4 first stage): "
        "drop docs whose url hits a domain blocklist (subdomains "
        "included) or contains a blocked fragment")
    ufp.add_argument("--docs", required=True, help="input parquet")
    ufp.add_argument("--out", default=None,
                     help="output parquet (omit with --report)")
    ufp.add_argument("--url-col", default="url")
    ufp.add_argument("--id-col", default="doc_id")
    ufp.add_argument("--domains", default=None,
                     help="blocked-domains file (one per line) or parquet "
                     "with a `domain` column")
    ufp.add_argument("--fragments", default=None,
                     help="comma-separated blocked URL fragments")
    ufp.add_argument("--report", action="store_true",
                     help="print per-doc verdicts instead of writing")
    ufp.add_argument("--mode", default="error", help="parquet write mode")
    ufp.add_argument("--local-cores", type=int, default=None)
    ufp.set_defaults(fn=cmd_url_filter)

    kb = sub.add_parser(
        "knn-build", help="build the distributed HNSW ANN index "
        "(one graph per shard, parquet blob table)")
    kb.add_argument("--vectors", required=True,
                    help="parquet with id + embedding columns")
    kb.add_argument("--out", required=True, help="graph table path")
    kb.add_argument("--shards", type=int, default=32)
    kb.add_argument("--m", type=int, default=16)
    kb.add_argument("--ef-construction", type=int, default=64)
    kb.add_argument("--id-col", default="vec_id")
    kb.add_argument("--vec-col", default="embedding")
    kb.add_argument("--local-cores", type=int, default=None)
    kb.set_defaults(fn=cmd_knn_build)

    kq = sub.add_parser(
        "knn-query", help="cosine top-k over a built HNSW index")
    kq.add_argument("--graphs", required=True, help="knn-build output")
    kq_in = kq.add_mutually_exclusive_group(required=True)
    kq_in.add_argument("--queries", default=None,
                       help="parquet of (query_id, embedding)")
    kq_in.add_argument("--vector", default=None,
                       help="inline query vector: comma-separated floats")
    kq.add_argument("--k", type=int, default=10)
    kq.add_argument("--ef-search", type=int, default=64)
    kq.add_argument("--filter", default=None,
                    help="k-NN efficient pre-filter: SQL predicate over "
                    "the --vectors frame's metadata columns")
    kq.add_argument("--vectors", default=None,
                    help="metadata-bearing vectors parquet (required "
                    "with --filter)")
    kq.add_argument("--local-cores", type=int, default=None)
    kq.set_defaults(fn=cmd_knn_query)

    di = sub.add_parser(
        "dedup-incremental", help="admit only-new snapshot rows vs an "
        "existing corpus via a persisted bloom artifact (exact)")
    di.add_argument("--corpus", required=True, help="existing corpus parquet")
    di.add_argument("--new", required=True, help="new snapshot parquet")
    di.add_argument("--out", required=True, help="admitted rows output")
    di.add_argument("--bloom", default=None,
                    help="bloom artifact path: reused if present and "
                    "built from this corpus (<bloom>.corpus records its "
                    "fingerprint), rebuilt and written otherwise")
    di.add_argument("--fpr", type=float, default=0.01)
    di.add_argument("--text-col", default="text")
    di.add_argument("--id-col", default="doc_id")
    di.add_argument("--local-cores", type=int, default=None)
    di.set_defaults(fn=cmd_dedup_incremental)

    mx = sub.add_parser(
        "mix", help="training-mixture construction: domain weights + "
        "token budget -> epoch factors -> replicated corpus")
    mx.add_argument("--docs", required=True)
    mx.add_argument("--out", required=True)
    mx.add_argument("--weights", required=True,
                    help="comma list domain=weight, e.g. web=0.6,code=0.4")
    mx.add_argument("--budget", type=int, default=None,
                    help="token budget (absolute)")
    mx.add_argument("--budget-factor", type=float, default=1.0,
                    help="budget = factor * total corpus tokens "
                    "(used when --budget absent)")
    mx.add_argument("--max-epochs", type=float, default=4.0)
    mx.add_argument("--domain-col", default="domain")
    mx.add_argument("--token-col", default="n_tokens",
                    help="token-count column; derived by whitespace "
                    "split of --text-col when absent")
    mx.add_argument("--text-col", default="text")
    mx.add_argument("--id-col", default="doc_id")
    mx.add_argument("--local-cores", type=int, default=None)
    mx.set_defaults(fn=cmd_mix)

    pb = sub.add_parser(
        "pq-build", help="train product-quantization codebooks and "
        "encode the corpus to m-byte codes (Jegou et al. 2011)")
    pb.add_argument("--vectors", required=True,
                    help="parquet with id + embedding columns")
    pb.add_argument("--out", required=True,
                    help="index dir (writes books/ and codes/)")
    pb.add_argument("--m", type=int, default=4,
                    help="subspaces = bytes per vector")
    pb.add_argument("--ksub", type=int, default=256)
    pb.add_argument("--sample", type=int, default=10000,
                    help="codebook training sample size")
    pb.add_argument("--id-col", default="vec_id")
    pb.add_argument("--vec-col", default="embedding")
    pb.add_argument("--local-cores", type=int, default=None)
    pb.set_defaults(fn=cmd_pq_build)

    pk = sub.add_parser(
        "pq-query", help="ADC cosine top-k over a pq-build index")
    pk.add_argument("--index", required=True, help="pq-build --out dir")
    pk_in = pk.add_mutually_exclusive_group(required=True)
    pk_in.add_argument("--queries", default=None,
                       help="parquet of (query_id, embedding)")
    pk_in.add_argument("--vector", default=None,
                       help="inline query vector: comma-separated floats")
    pk.add_argument("--k", type=int, default=10)
    pk.add_argument("--id-col", default="vec_id")
    pk.add_argument("--local-cores", type=int, default=None)
    pk.set_defaults(fn=cmd_pq_query)

    sdp = sub.add_parser(
        "semdedup", help="semantic dedup by embedding clustering "
        "(SemDeDup, Abbas et al. 2023)")
    sdp.add_argument("--vectors", required=True)
    sdp.add_argument("--out", required=True,
                     help="decision table output parquet")
    sdp.add_argument("--eps", type=float, default=0.95)
    sdp.add_argument("--clusters", type=int, default=16)
    sdp.add_argument("--cluster-col", default=None,
                     help="precomputed cluster/domain column (skips "
                     "the k-means fit)")
    sdp.add_argument("--rank-by", choices=["centroid", "id"],
                     default="centroid")
    sdp.add_argument("--survivors", action="store_true",
                     help="write surviving ids only")
    sdp.add_argument("--id-col", default="vec_id")
    sdp.add_argument("--vec-col", default="embedding")
    sdp.add_argument("--local-cores", type=int, default=None)
    sdp.set_defaults(fn=cmd_semdedup)

    dc = sub.add_parser(
        "decontaminate", help="drop corpus docs sharing any word n-gram "
        "with a benchmark set (GPT-3 13-gram recipe); --report audits "
        "instead of dropping")
    dc.add_argument("--docs", required=True, help="corpus parquet")
    dc.add_argument("--benchmark", required=True, help="benchmark parquet")
    dc.add_argument("--out", required=True)
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--bench-text-col", default=None,
                    help="benchmark text column if different")
    dc.add_argument("--ngram", type=int, default=13)
    dc.add_argument("--report", action="store_true",
                    help="write (doc_id, n_hits) instead of the clean corpus")
    dc.add_argument("--mode", default="error")
    dc.add_argument("--local-cores", type=int, default=None)
    dc.set_defaults(fn=cmd_decontaminate)

    fc = sub.add_parser(
        "facet", help="aggregations over a query's match set "
        "(terms / date_histogram / stats)")
    fc.add_argument("--index", required=True)
    fc.add_argument("--docs", required=True,
                    help="corpus parquet with doc_id + facet columns")
    fc.add_argument("--query", required=True)
    fc.add_argument("--kind",
                    choices=["terms", "date_histogram", "stats",
                             "significant", "percentiles", "cardinality",
                             "histogram", "range", "top_hits",
                             "terms_stats", "rare_terms", "multi_terms",
                             "extended_stats", "value_count", "missing",
                             "date_range", "significant_text",
                             "geo_distance", "geotile_grid",
                             "percentile_ranks", "auto_date_histogram",
                             "tree"],
                    default="terms")
    fc.add_argument("--tree", default=None,
                    help="kind=tree: the OpenSearch `aggs` request "
                         "JSON (nested bucket/metric tree)")
    fc.add_argument("--value", action="append",
                    help="percentile_ranks: a value to rank (repeatable)")
    fc.add_argument("--origin-lat", type=float, default=0.0,
                    help="geo_distance: ring origin latitude")
    fc.add_argument("--origin-lon", type=float, default=0.0,
                    help="geo_distance: ring origin longitude")
    fc.add_argument("--zoom", type=int, default=7,
                    help="geotile_grid: Web-Mercator zoom (0-29)")
    fc.add_argument("--max-doc-count", type=int, default=1,
                    help="rare_terms: bucket values appearing in at "
                         "most this many matching docs")
    fc.add_argument("--min-doc-count", type=int, default=3,
                    help="significant_text: drop buckets below this "
                         "foreground doc count")
    fc.add_argument("--pipeline", default=None,
                    choices=["derivative", "cumulative_sum",
                             "serial_diff"],
                    help="apply a pipeline agg to the bucket output "
                         "(date_histogram/histogram parents)")
    fc.add_argument("--densify", default=None,
                    help="min_doc_count:0 — fill bucket gaps before "
                         "--pipeline; pass the parent interval "
                         "(calendar unit like 'hour', or a float)")
    fc.add_argument("--approximate", action="store_true",
                    help="percentiles: GK sketch; cardinality: HLL++ "
                         "(bounded memory; the sketch trade OpenSearch "
                         "itself makes)")
    fc.add_argument("--interval", type=float, default=100.0,
                    help="histogram bucket width")
    fc.add_argument("--range", action="append",
                    help="range bucket 'from:to', * = open end "
                         "(repeatable)")
    fc.add_argument("--sort-field",
                    help="top_hits sort / terms_stats metric field")
    fc.add_argument("--ascending", action="store_true",
                    help="top_hits: sort ascending")
    fc.add_argument("--field", action="append",
                    help="facet field (repeatable; date_histogram uses "
                         "the first; unused by kind=tree)")
    fc.add_argument("--size", type=int, default=10)
    fc.add_argument("--unit", default="hour",
                    help="date_histogram bucket unit (minute/hour/day/month)")
    fc.add_argument("--local-cores", type=int, default=None)
    fc.set_defaults(fn=cmd_facet)

    cl = sub.add_parser(
        "convert-logstash",
        help="convert a Logstash .conf to a runnable pipeline YAML",
    )
    cl.add_argument("conf")
    cl.add_argument("--out", default=None)
    cl.add_argument(
        "--lenient", action="store_true",
        help="record unconvertible plugins under _unsupported instead of failing",
    )
    cl.set_defaults(fn=cmd_convert_logstash)

    sr = sub.add_parser(
        "search",
        help="execute an OpenSearch _search request body (or a Mustache "
        "search template + params) against a built index")
    sr.add_argument("--index", required=True)
    sr.add_argument("--body", default=None, help="request-body JSON")
    sr.add_argument("--template", default=None,
                    help="Mustache search-template source file")
    sr.add_argument("--params", default=None,
                    help="template params JSON (with --template)")
    sr.add_argument("--docs", default=None,
                    help="corpus parquet (filter-context / ids / nested / "
                    "knn vectors)")
    sr.add_argument("--knn-graphs", default=None,
                    help="hnsw blob table: serve knn bodies from the "
                    "graph index instead of exact scoring")
    sr.add_argument("--local-cores", type=int, default=None)
    sr.set_defaults(fn=cmd_search)

    nq = sub.add_parser(
        "nested-query",
        help="block-join scored nested query: fold matching-turn BM25 "
        "scores per conversation (score_mode avg/sum/max/min/none)")
    nq.add_argument("--index", required=True)
    nq.add_argument("--query", required=True)
    nq.add_argument("--k", type=int, default=10)
    nq.add_argument("--score-mode", default="avg",
                    choices=["avg", "sum", "max", "min", "none"])
    nq.add_argument("--inner-filter", default=None,
                    help="structural child predicate over --docs columns "
                    "(e.g. \"role = 'user'\")")
    nq.add_argument("--docs", default=None,
                    help="turn-metadata parquet with doc_id (required "
                    "with --inner-filter)")
    nq.add_argument("--local-cores", type=int, default=None)
    nq.set_defaults(fn=cmd_nested_query)

    be = sub.add_parser("bench", help="run the headline bench suite")
    be.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    be.add_argument("--cpus", type=int, default=8)
    be.set_defaults(fn=cmd_bench)

    args = p.parse_args(argv)
    try:
        return args.fn(args)
    except IndexExistsError as e:
        if args.fn is not cmd_build_index:
            raise
        b.error(str(e))


if __name__ == "__main__":
    sys.exit(main())
