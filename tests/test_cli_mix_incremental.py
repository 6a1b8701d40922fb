"""CLI surface for the doc-promised mix / dedup-incremental /
semdedup / pq subcommands (cli.py), driven through cli.main like the
sibling CLI tests."""

import json
import os

import pytest


@pytest.fixture()
def docs_path(spark, tmp_path):
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "web"),
            (2, "epsilon zeta eta theta", "web"),
            (3, "iota kappa lam mu", "code"),
            (4, "nu xi omicron pi", "code"),
            (5, "rho sigma tau upsilon", "papers"),
        ],
        "doc_id long, text string, domain string",
    ).write.mode("overwrite").parquet(p)
    return p


def test_mix_cli(spark, tmp_path, docs_path, capsys):
    from data_prepper_spark import cli

    out = str(tmp_path / "mixture")
    rc = cli.main([
        "mix", "--docs", docs_path, "--out", out,
        "--weights", "web=0.5,code=0.3,papers=0.2",
        "--budget-factor", "2.0", "--max-epochs", "3",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] > 5  # replication happened
    got = spark.read.parquet(out)
    assert "epoch" in got.columns
    # every emitted row is a replica of an input doc
    assert got.select("doc_id").distinct().count() <= 5


def test_dedup_incremental_cli_reuses_bloom(spark, tmp_path, docs_path,
                                            capsys):
    from data_prepper_spark import cli

    new_p = str(tmp_path / "new")
    spark.createDataFrame(
        [
            (10, "alpha beta gamma delta", "web"),   # dup of doc 1
            (11, "a genuinely new document", "web"),
        ],
        "doc_id long, text string, domain string",
    ).write.mode("overwrite").parquet(new_p)
    bloom = str(tmp_path / "bloom")
    out = str(tmp_path / "admitted")
    rc = cli.main([
        "dedup-incremental", "--corpus", docs_path, "--new", new_p,
        "--out", out, "--bloom", bloom,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["admitted"] == 1 and rep["bloom_reused"] is False
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [11]
    assert os.path.isdir(bloom)
    # second run must reuse the persisted artifact
    rc = cli.main([
        "dedup-incremental", "--corpus", docs_path, "--new", new_p,
        "--out", str(tmp_path / "admitted2"), "--bloom", bloom,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["admitted"] == 1 and rep["bloom_reused"] is True


def test_semdedup_and_pq_cli(spark, tmp_path, capsys):
    from data_prepper_spark import cli

    vecs = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i % 4), 1.0, 0.0, float((i * 7) % 5)], i % 2)
         for i in range(40)],
        "vec_id long, embedding array<double>, label int",
    ).write.mode("overwrite").parquet(vecs)
    rc = cli.main([
        "semdedup", "--vectors", vecs, "--out", str(tmp_path / "sd"),
        "--cluster-col", "label", "--rank-by", "id", "--eps", "0.999",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < rep["kept"] <= 40

    idx = str(tmp_path / "pq")
    rc = cli.main([
        "pq-build", "--vectors", vecs, "--out", idx, "--m", "2",
        "--ksub", "8", "--sample", "40",
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["vectors"] == 40 and rep["bytes_per_vector"] == 2
    rc = cli.main([
        "pq-query", "--index", idx, "--vector", "1.0,1.0,0.0,2.0",
        "--k", "3",
    ])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len([l for l in lines if l.startswith("{")]) == 3


def test_pq_query_without_queries_or_vector_is_usage_error(tmp_path, capsys):
    """pq-query needs a query: with neither --queries nor --vector it
    exits through argparse (status 2) before touching the index."""
    from data_prepper_spark import cli

    with pytest.raises(SystemExit) as exc:
        cli.main(["pq-query", "--index", str(tmp_path / "pq")])
    assert exc.value.code == 2
    assert "--queries" in capsys.readouterr().err


@pytest.mark.parametrize("argv", [
    ["knn-query", "--graphs", "g"],
    ["knn-query", "--graphs", "g", "--queries", "q", "--vector", "1.0"],
    ["pq-query", "--index", "i", "--queries", "q", "--vector", "1.0"],
])
def test_vector_query_takes_exactly_one_query_input(argv, capsys):
    """knn-query and pq-query take --queries or --vector, exactly one:
    neither or both exits through argparse (status 2) before a Spark
    session starts or the index is opened."""
    from data_prepper_spark import cli

    with pytest.raises(SystemExit) as exc:
        cli.main(argv)
    assert exc.value.code == 2
    assert "--vector" in capsys.readouterr().err


def test_dedup_incremental_cli_rebuilds_bloom_for_grown_corpus(
        spark, tmp_path, docs_path, capsys):
    """A bloom artifact built from corpus A must not be reused against
    A ∪ B: B's rows would read bloom-negative and be admitted as new
    without the exact anti-join."""
    from data_prepper_spark import cli

    b_rows = [
        (20, "phi chi psi omega", "web"),
        (21, "one more fresh line", "code"),
    ]
    schema = "doc_id long, text string, domain string"
    b_path = str(tmp_path / "b")
    spark.createDataFrame(b_rows, schema).write.parquet(b_path)
    grown = str(tmp_path / "grown")
    spark.read.parquet(docs_path).unionByName(
        spark.read.parquet(b_path)).write.parquet(grown)
    bloom = str(tmp_path / "bloom")
    rc = cli.main([
        "dedup-incremental", "--corpus", docs_path, "--new", b_path,
        "--out", str(tmp_path / "admitted_a"), "--bloom", bloom,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["admitted"] == 2 and rep["bloom_reused"] is False
    rc = cli.main([
        "dedup-incremental", "--corpus", grown, "--new", b_path,
        "--out", str(tmp_path / "admitted_ab"), "--bloom", bloom,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["admitted"] == 0 and rep["bloom_reused"] is False
    # the rebuilt artifact now records A ∪ B, so it is reused again
    rc = cli.main([
        "dedup-incremental", "--corpus", grown, "--new", b_path,
        "--out", str(tmp_path / "admitted_ab2"), "--bloom", bloom,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["admitted"] == 0 and rep["bloom_reused"] is True
