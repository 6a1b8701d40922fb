"""A driver-literal request with a small pruned input is scored on
the driver: the query map and the dictionary slice ride the kernel as
closure constants, the tombstones, the dictionary slice and the pruned
blocks are read on the driver with pyarrow, the kernel runs once per
shard in-process, and the per-shard top-ks merge on the driver into a
LocalRelation. The one Spark job left is reading a query DataFrame;
driver rows cost none.

Pinned here: the Spark jobs one request runs (score_topk, bool_topk,
phrase_topk, and score_topk on an upserted and deleted-from index), the
output-schema parses a repeated request makes (none), the
Spark path's answer when the pruned input is over the driver limit,
the answers of every posting-reading entry point on that index, the
same answers through a file:// URI, and
rank identity of the driver merge against `oracle.bm25` on its edge
cases: ties at the kth score, alias search's index tie, collapse,
search_after cursors, k above the hit count, and empty answers."""

from __future__ import annotations

import itertools
from pathlib import Path

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.index import tombstones
from data_prepper_spark.index.tokenizer import tokenize
from data_prepper_spark.oracle import bm25 as oracle
from data_prepper_spark.query import engine, prep
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE
from data_prepper_spark.query.explain import explain_hits
from data_prepper_spark.query.facets import match_docs
from data_prepper_spark.query.multi import multi_index_topk
from data_prepper_spark.query.span import span_near_topk

Q_SCHEMA = "query_id string, query_text string, k int"
TOPK_DTYPES = [("query_id", "string"), ("rank", "bigint"),
               ("doc_id", "bigint"), ("score", "double")]
_groups = itertools.count()
# oracle ids of a replaced generation: real doc id + DEAD, never returned
DEAD = 1 << 52


def _jobs(spark, fn):
    """-> (fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    gid = f"interactive-request-{next(_groups)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _doc_ids(pdf: pd.DataFrame) -> pd.Series:
    return pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx


def _hits(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"]))
            for r in sorted(rows, key=lambda r: r["rank"])]


def _same(got, want) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


def _score(spark, d, text, k, **kw):
    q = spark.createDataFrame([("q", text, k)], Q_SCHEMA)
    return engine.score_topk(spark, d, q, **kw).collect()


def _local(spark, rows, schema):
    """A query frame built from pandas: an Arrow LocalRelation, whose
    read starts no Python worker per `parallelize` slice."""
    names = [c.split()[0] for c in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


@pytest.fixture(params=["driver", "spark"])
def site(request, monkeypatch):
    """The scatter's execution site: the driver, or Spark with no
    pruned input small enough for the driver."""
    if request.param == "spark":
        monkeypatch.setattr(engine, "LOCAL_MAX_BLOCKS", 0)
    return request.param


# ------------------------------------------------------------ fixtures

@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_pandas(0, 120)


@pytest.fixture(scope="module")
def index(spark, corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("interactive"))
    ib.build_index(spark, spark.createDataFrame(corpus_pdf), d, n_shards=4,
                   block_size=16)
    return d


@pytest.fixture(scope="module")
def oracle_idx(corpus_pdf):
    return oracle.build_index(list(zip(_doc_ids(corpus_pdf), corpus_pdf.text)))


@pytest.fixture(scope="module")
def tie_docs():
    """Twelve identical 'alpha beta' turns (an exact score tie that
    spans every shard), three higher-tf 'alpha' turns above them, and
    filler: 'alpha' top-6 cuts through the tie."""
    texts = (["alpha beta"] * 12 + ["alpha alpha beta"] * 3
             + ["gamma delta", "beta gamma", "delta epsilon"] * 5)
    return pd.DataFrame({
        "doc_id": [(i + 1) * DOC_ID_STRIDE for i in range(len(texts))],
        "conv_id": [f"conv-{i + 1}" for i in range(len(texts))],
        "text": texts,
    })


@pytest.fixture(scope="module")
def tie_index(spark, tie_docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ties"))
    ib.build_index(spark, spark.createDataFrame(tie_docs), d, n_shards=4,
                   block_size=4, assign_ids=False)
    return d


@pytest.fixture(scope="module")
def tie_oracle(tie_docs):
    return oracle.build_index(list(zip(tie_docs.doc_id, tie_docs.text)))


# --------------------------------------------------- Spark jobs per request

def test_score_topk_request_runs_one_job(spark, index, oracle_idx):
    """One take() of the query rows; the scan, the kernel and the merge
    run on the driver, and the returned LocalRelation collects with no
    job. Driver rows (a list of dicts or a pandas frame) run none."""
    for text in ("error handling timeout", "retry deploy"):
        rows, jobs = _jobs(spark, lambda: _score(spark, index, text, 10))
        assert jobs <= 1
        assert _same(_hits(rows), oracle.score_query(oracle_idx, text, 10))
        want = rows
        for q in ([{"query_id": "q", "query_text": text, "k": 10}],
                  pd.DataFrame({"query_id": ["q"], "query_text": [text],
                                "k": [10]})):
            rows, jobs = _jobs(
                spark, lambda: engine.score_topk(spark, index, q).collect())
            assert jobs == 0
            assert rows == want
    q = spark.createDataFrame([("q", "error handling", 5)], Q_SCHEMA)
    res = engine.score_topk(spark, index, q)
    _, jobs = _jobs(spark, res.collect)
    assert jobs == 0


def test_driver_request_builds_two_frames(spark, index, monkeypatch):
    """A driver-site request creates the scatter's rows frame and the
    ranked answer, no unused empty frame beside them."""
    calls = []
    create = type(spark).createDataFrame
    monkeypatch.setattr(type(spark), "createDataFrame",
                        lambda *a, **kw: calls.append(1) or create(*a, **kw))
    q = [{"query_id": "q", "query_text": "error handling", "k": 5}]
    assert len(engine.score_topk(spark, index, q).collect()) == 5
    assert len(calls) == 2


def test_repeated_driver_request_parses_no_schema(spark, index, monkeypatch):
    """The output schemas' DDL strings are parsed once per process: each
    parse is a JVM round trip."""
    q = [{"query_id": "q", "query_text": "error handling", "k": 5}]
    want = engine.score_topk(spark, index, q).collect()
    calls = []
    parse = type(spark.sparkContext)._parse_ddl
    monkeypatch.setattr(type(spark.sparkContext), "_parse_ddl",
                        lambda *a: calls.append(a[1:]) or parse(*a))
    assert engine.score_topk(spark, index, q).collect() == want
    assert calls == []


def test_bool_topk_request_runs_one_job(spark, index, oracle_idx):
    """collect_rows; the scan and the kernel run on the driver."""
    q = spark.createDataFrame(
        [("b", "", "error handling", "", 0, 7)],
        "query_id string, must string, should string, must_not string, "
        "minimum_should_match int, k int")
    rows, jobs = _jobs(spark, lambda: engine.bool_topk(spark, index, q).collect())
    assert jobs <= 1
    # a should-only bool with msm 1 ranks exactly like match
    assert _same(_hits(rows),
                 oracle.score_query(oracle_idx, "error handling", 7))


def test_phrase_topk_request_runs_one_job(spark, index, corpus_pdf):
    text = corpus_pdf.text.iloc[3]
    phrase = " ".join(text.split()[:2])
    q = spark.createDataFrame([("p", phrase, 5)], Q_SCHEMA)
    rows, jobs = _jobs(spark,
                       lambda: engine.phrase_topk(spark, index, q).collect())
    assert jobs <= 1
    assert rows  # the phrase is taken from a document


def test_count_matches_request_runs_one_job(spark, index, oracle_idx):
    """count_matches sums the per-shard counts on the driver: one job to
    read a query DataFrame, none for a list of dicts, the same answer
    either way, and a query of unknown terms still counts 0."""
    texts = {"a": "error handling timeout", "b": "retry deploy",
             "z": "zzqqxx qqzzyy"}
    want = {qid: len(oracle.score_query(oracle_idx, t, oracle_idx.n_docs))
            for qid, t in texts.items()}
    assert want["z"] == 0 and want["a"] > 0
    rows = [{"query_id": qid, "query_text": t} for qid, t in texts.items()]
    q = spark.createDataFrame(rows, "query_id string, query_text string")
    for queries, most in ((q, 1), (rows, 0)):
        got, jobs = _jobs(spark, lambda: engine.count_matches(
            spark, index, queries).collect())
        assert jobs <= most
        assert {r["query_id"]: r["total_hits"] for r in got} == want


def test_request_over_the_driver_limit_runs_on_spark(
        spark, index, oracle_idx, monkeypatch):
    """With no pruned input small enough for the driver, the same
    request runs its scan and kernel as Spark jobs and answers the
    same, collapse included."""
    text = "error handling timeout"
    local = _score(spark, index, text, 10)
    local_collapsed = _score(spark, index, text, 6, collapse=True)
    monkeypatch.setattr(engine, "LOCAL_MAX_BLOCKS", 0)
    rows, jobs = _jobs(spark, lambda: _score(spark, index, text, 10))
    assert jobs > 1
    assert rows == local
    assert _same(_hits(rows), oracle.score_query(oracle_idx, text, 10))
    assert _score(spark, index, text, 6, collapse=True) == local_collapsed


def test_driver_rows_over_the_batch_threshold_run_distributed(
        spark, index, corpus_pdf, monkeypatch):
    """Driver rows above prep.PREP_DISTRIBUTED_THRESHOLD take the
    distributed batch path as a query frame and answer like the same
    rows as a DataFrame and like the driver path, search_after cursor
    included; so does filtered_topk_multi's unfiltered group, which
    hands score_topk its rows."""
    rows = [{"query_id": f"q{i}", "query_text": t, "k": 5,
             "after_score": None, "after_doc": None}
            for i, t in enumerate(["error handling timeout", "retry deploy",
                                   "database connection"])]
    first = _hits(engine.score_topk(spark, index, rows[:1]).collect())
    rows[0]["after_doc"], rows[0]["after_score"] = first[1]

    def ranked(res):
        return sorted(res.collect(), key=lambda r: (r["query_id"], r["rank"]))

    small = ranked(engine.score_topk(spark, index, rows))
    monkeypatch.setattr(prep, "PREP_DISTRIBUTED_THRESHOLD", len(rows) - 1)
    want = ranked(engine.score_topk(spark, index, spark.createDataFrame(
        pd.DataFrame(rows),
        Q_SCHEMA + ", after_score double, after_doc long")))
    assert want == small
    for q in (rows, pd.DataFrame(rows)):
        rows_got, jobs = _jobs(
            spark, lambda: ranked(engine.score_topk(spark, index, q)))
        assert jobs > 1  # the distributed prep and Window merge ran
        assert rows_got == want

    docs = spark.createDataFrame(corpus_pdf.assign(
        doc_id=_doc_ids(corpus_pdf))[["doc_id", "conv_id", "role"]])
    fq = spark.createDataFrame(
        [(q["query_id"], q["query_text"], 5, None) for q in rows]
        + [("f", "error", 5, "role = 'user'")],
        Q_SCHEMA + ", filter string")
    multi = ranked(engine.filtered_topk_multi(spark, index, fq, docs))
    monkeypatch.undo()
    assert [r for r in multi if r["query_id"] != "f"] == ranked(
        engine.score_topk(spark, index, [
            dict(q, after_score=None, after_doc=None) for q in rows]))
    assert [r for r in multi if r["query_id"] == "f"] == ranked(
        engine.filtered_topk(spark, index, fq.filter("query_id = 'f'"),
                             docs, "role = 'user'"))


@pytest.fixture(scope="module")
def mutated(spark, corpus_pdf, tmp_path_factory):
    """An index with two segments and tombstones: conversations 5 and 12
    upserted (dead in the old segment, live in the new one), 3 and 44
    deleted. -> (index dir, the oracle over the merged statistics, the
    oracle ids no answer may hold, {oracle id: tokens}, query texts).

    Pre-compaction statistics count the old generation too: the oracle
    keeps it under ids no query can return, and answers drop them."""
    d = str(tmp_path_factory.mktemp("mutated"))
    ib.build_index(spark, spark.createDataFrame(corpus_pdf), d, n_shards=4,
                   block_size=16)
    serials = corpus_pdf.conv_id.str.slice(5).astype(int)
    rewritten, deleted = serials.isin([5, 12]), serials.isin([3, 44])
    batch = corpus_pdf[rewritten].copy().reset_index(drop=True)
    batch["text"] = [f"error handling retry rendezvous {i}"
                     for i in range(len(batch))]
    ib.upsert_conversations(spark, spark.createDataFrame(batch), d,
                            snapshot_id=1)
    tombstones.delete_conversations(spark, d, [3, 44])

    old_ids = _doc_ids(corpus_pdf) + rewritten.astype("int64") * DEAD
    docs = (list(zip(old_ids, corpus_pdf.text))
            + list(zip(_doc_ids(batch), batch.text)))
    idx = oracle.build_index(docs)
    hidden = set(old_ids[rewritten | deleted])
    tokens = {i: tokenize(t) for i, t in docs}
    # a deleted turn's and a replaced turn's own text: each tops the
    # unfiltered ranking, so the tombstones decide the answer
    texts = [corpus_pdf.text[deleted].iloc[0],
             corpus_pdf.text[rewritten].iloc[0], "error handling"]
    return d, idx, hidden, tokens, texts


def _live(mutated, text: str) -> list[tuple[int, float]]:
    """The oracle's full match set of `text` with the hidden docs
    dropped, in rank order."""
    _, idx, hidden, _, _ = mutated
    return [h for h in oracle.score_query(idx, text, idx.n_docs)
            if h[0] not in hidden]


def test_request_after_upsert_and_delete(spark, mutated):
    """Tombstones and both segments' blocks are read on the driver: a
    request on an upserted and deleted-from index still runs one job,
    and its answer is the oracle's over the merged statistics with the
    hidden docs dropped."""
    d, idx, hidden, _, texts = mutated
    for text in texts:
        rows, jobs = _jobs(spark, lambda: _score(spark, d, text, 10))
        assert jobs <= 1
        assert _same(_hits(rows), _live(mutated, text)[:10]), text
    for text in texts[:2]:
        assert oracle.score_query(idx, text, 1)[0][0] in hidden


def test_entry_points_after_upsert_and_delete(spark, mutated, site):
    """Every posting-reading entry point on the same two-segment,
    tombstoned index, on both scatter sites: bool (should-only, msm 1:
    ranks like match), count_matches, match_docs, phrase, span_near and
    explain answer as the oracle does with the hidden docs dropped. A
    tombstone applies only to the segments that existed when it was
    written, so an upserted doc's id is dead in the old segment and
    live in the new."""
    d, idx, _, tokens, texts = mutated
    text = texts[1]
    live = _live(mutated, text)
    q = spark.createDataFrame([("q", text)], "query_id string, query_text string")

    bq = spark.createDataFrame(
        [("b", "", text, "", 1, 10)],
        "query_id string, must string, should string, must_not string, "
        "minimum_should_match int, k int")
    assert _same(_hits(engine.bool_topk(spark, d, bq).collect()), live[:10])
    assert engine.count_matches(spark, d, q).collect()[0]["total_hits"] \
        == len(live)
    assert sorted(r["doc_id"] for r in match_docs(spark, d, q).collect()) \
        == sorted(doc for doc, _ in live)

    # phrases from a replaced turn's old text, a deleted turn's text and
    # the replacements: both segments and both kinds of tombstone. With
    # distinct terms, an in-order span_near at slop 0 is the phrase.
    phrases = [" ".join(tokenize(t)[:2]) for t in texts[:2]]
    phrases.append("handling retry")
    for phrase in phrases:
        terms = tokenize(phrase)
        assert len(set(terms)) == len(terms) == 2
        want = [(doc, s) for doc, s in _live(mutated, phrase)
                if any(tokens[doc][i:i + 2] == terms
                       for i in range(len(tokens[doc])))][:10]
        pq = spark.createDataFrame([("p", phrase, 10)], Q_SCHEMA)
        assert _same(_hits(engine.phrase_topk(spark, d, pq).collect()),
                     want), phrase
        sq = spark.createDataFrame(
            [("s", phrase, 0, True, 10)],
            "query_id string, query_text string, slop int, "
            "in_order boolean, k int")
        assert _same(_hits(span_near_topk(spark, d, sq).collect()),
                     want), phrase

    assert want  # the replacements hold "handling retry"

    # explain: a live hit's term scores sum (sorted-term order) to its
    # oracle score. The top unfiltered hit of a deleted turn's and of a
    # replaced turn's own text is explained only as far as it lives:
    # not at all once deleted, by its new text once replaced
    for text in texts[:2]:
        scores = dict(_live(mutated, text))
        top = oracle.score_query(idx, text, 1)[0][0] % DEAD
        targets = list(dict.fromkeys(
            [doc for doc, _ in _live(mutated, text)[:5]] + [top]))
        hits = spark.createDataFrame([("q", doc) for doc in targets],
                                     "query_id string, doc_id long")
        q = spark.createDataFrame([("q", text)],
                                  "query_id string, query_text string")
        parts: dict[int, list] = {}
        for r in explain_hits(spark, d, q, hits).collect():
            parts.setdefault(r["doc_id"], []).append(
                (r["term"], r["term_score"]))
        got = {doc: sum(s for _, s in sorted(ts))
               for doc, ts in parts.items()}
        assert set(got) == {doc for doc in targets if doc in scores}, text
        assert all(abs(got[doc] - scores[doc]) <= 1e-9 for doc in got)


def test_index_named_by_a_uri(spark, index, mutated, corpus_pdf):
    """An index named by a file:// URI answers as its local path does, in
    as many jobs (at most 1 for a top-k request): stats.json, the
    pointer files and the tombstones are read through the filesystem
    the URI names. Checked on an index without tombstones and on the
    two-segment tombstoned one."""
    def same(request):
        (want, local_jobs), (got, jobs) = (
            _jobs(spark, lambda: request(d)), _jobs(spark, lambda: request(uri)))
        assert got == want and jobs == local_jobs
        return jobs

    texts = ["error handling timeout", mutated[4][1]]
    phrases = [" ".join(corpus_pdf.text.iloc[3].split()[:2]), "handling retry"]
    for d in (index, mutated[0]):
        uri = Path(d).as_uri()
        for text in texts:
            sq = _local(spark, [("q", text, 10)], Q_SCHEMA)
            assert same(lambda i: _hits(
                engine.score_topk(spark, i, sq).collect())) <= 1
            q = _local(spark, [("q", text)],
                       "query_id string, query_text string")
            same(lambda i: engine.count_matches(spark, i, q).collect())
        for phrase in phrases:
            pq = _local(spark, [("p", phrase, 10)], Q_SCHEMA)
            assert same(lambda i: _hits(
                engine.phrase_topk(spark, i, pq).collect())) <= 1


def test_count_phrase_matches_on_both_sites(spark, mutated, monkeypatch):
    """count_phrase_matches answers the same on the driver site and on
    the Spark site, and counts the oracle's live phrase matches."""
    from data_prepper_spark.query.phrase_suggest import count_phrase_matches

    d, _, _, tokens, texts = mutated
    phrases = {f"p{i}": p for i, p in enumerate(
        [" ".join(tokenize(t)[:2]) for t in texts[:2]] + ["handling retry"])}
    q = spark.createDataFrame(list(phrases.items()),
                              "query_id string, query_text string")

    def counts():
        return {r["query_id"]: r["n"]
                for r in count_phrase_matches(spark, d, q).collect()}

    driver = counts()
    monkeypatch.setattr(engine, "LOCAL_MAX_BLOCKS", 0)
    assert counts() == driver
    for qid, phrase in phrases.items():
        terms = tokenize(phrase)
        want = sum(1 for doc, _ in _live(mutated, phrase)
                   if any(tokens[doc][i:i + 2] == terms
                          for i in range(len(tokens[doc]))))
        assert driver.get(qid, 0) == want, phrase
    assert driver


# ------------------------------------------- rank identity of the merge

def test_ties_at_the_kth_score_break_by_doc_id(spark, tie_index, tie_oracle):
    for k in (4, 6, 9, 15):
        got = _hits(_score(spark, tie_index, "alpha", k))
        want = oracle.score_query(tie_oracle, "alpha", k)
        assert len(want) == k and _same(got, want), k
    # the cut really falls inside the tie
    assert want[5][1] == want[6][1]


def test_alias_search_breaks_ties_by_index(spark, tie_docs, tie_index):
    """The same index twice: every hit appears once per member with the
    same score, ordered (score desc, doc_id asc, index asc). The oracle
    over the doubled corpus, ids 2 * doc_id + member, orders the same."""
    idx = oracle.build_index(
        [(2 * d + i, t) for d, t in zip(tie_docs.doc_id, tie_docs.text)
         for i in (0, 1)])
    q = spark.createDataFrame([("q", "alpha", 9)], Q_SCHEMA)
    rows = sorted(multi_index_topk(spark, [tie_index, tie_index], q).collect(),
                  key=lambda r: r["rank"])
    want = oracle.score_query(idx, "alpha", 9)
    assert [(r["doc_id"], r["index"]) for r in rows] == [
        (d // 2, d % 2) for d, _ in want]
    assert all(abs(r["score"] - s) <= 1e-9 for r, (_, s) in zip(rows, want))


def test_collapse_merges_on_the_driver(spark, index, oracle_idx):
    rows = sorted(_score(spark, index, "error handling", 6, collapse=True),
                  key=lambda r: r["rank"])
    full = oracle.score_query(oracle_idx, "error handling", oracle_idx.n_docs)
    best: dict[int, tuple[int, float]] = {}
    for d, s in full:  # score desc, doc_id asc: the first hit is the best
        best.setdefault(d // DOC_ID_STRIDE, (d, s))
    want = list(best.values())[:6]
    assert [r["conv"] for r in rows] == [d // DOC_ID_STRIDE for d, _ in want]
    assert _same(_hits(rows), want)


def test_search_after_pages_through_a_tie(spark, tie_index, tie_oracle):
    want = oracle.score_query(tie_oracle, "alpha", 12)
    got, cursor = [], None
    for _ in range(3):
        if cursor is None:
            q = spark.createDataFrame([("q", "alpha", 4)], Q_SCHEMA)
        else:
            q = spark.createDataFrame(
                [("q", "alpha", 4, cursor[1], cursor[0])],
                Q_SCHEMA + ", after_score double, after_doc long")
        page = _hits(engine.score_topk(spark, tie_index, q).collect())
        assert len(page) == 4
        got += page
        cursor = page[-1]
    assert _same(got, want)


def test_k_above_the_hit_count(spark, tie_index, tie_oracle):
    got = _hits(_score(spark, tie_index, "gamma", 1000))
    want = oracle.score_query(tie_oracle, "gamma", 1000)
    assert 0 < len(want) < 1000 and _same(got, want)


def test_empty_answers_keep_the_result_schema(spark, index, tmp_path):
    empty_dir = str(tmp_path / "empty")
    ib.build_index(spark, spark.createDataFrame(
        [], "conv_id string, turn_idx int, doc_id long, text string"),
        empty_dir, n_shards=4, assign_ids=False)
    q = spark.createDataFrame([("q", "zzqqxx error", 3)], Q_SCHEMA)
    unknown = spark.createDataFrame([("q", "zzqqxx", 3)], Q_SCHEMA)
    for res in (engine.score_topk(spark, empty_dir, q),
                engine.score_topk(spark, index, unknown)):
        assert res.dtypes == TOPK_DTYPES
        assert res.collect() == []
    res = engine.score_topk(spark, index, unknown, collapse=True)
    assert res.dtypes == TOPK_DTYPES[:2] + [("conv", "bigint")] \
        + TOPK_DTYPES[2:]
    assert res.collect() == []
