"""Exact ``search`` through the CLI on an index built by ``run_pipeline``:
the output equals a NumPy brute force (cosine rounded to 6 digits, ties by
id ascending), a zero-vector note's null score ranks where ``knn_join``
ranks it, and the error exits keep their messages and job counts."""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectrekker_spark.cli import main
from vectrekker_spark.operators.knn import knn_join
from vectrekker_spark.pipeline import PipelineConfig, run_pipeline

NOTES = {
    "a.md": "alpha notes about vectors and engines",
    "b.md": "beta notes about streams and windows",
    "c.md": "alpha beta gamma",
    "d.md": "vectors vectors engines",
    "e.md": "  \n ",  # no tokens: a zero vector, so every cosine with it is null
    "f.md": "streams of windows and engines",
    "g.md": "gamma notes",
    "h.md": "gamma notes",  # same vector as g.md: a tie broken by id
}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("search")
    content = root / "content"
    content.mkdir()
    for name, text in NOTES.items():
        (content / name).write_text(text)
    cfg = PipelineConfig(
        content_dir=str(content),
        state_path=str(root / "state"),
        index_path=str(root / "index"),
        quarantine_path=str(root / "quarantine"),
    )
    assert run_pipeline(spark, cfg)["indexed"] == len(NOTES)
    rows = spark.read.parquet(cfg.index_path).select("id", "embedding").collect()
    return cfg.index_path, str(content), {r["id"]: np.array(r["embedding"]) for r in rows}


def _spark_round6(x: float) -> float:
    # Spark's round(): HALF_UP on the double's shortest decimal form
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _cosine(a: np.ndarray, b: np.ndarray) -> float | None:
    # in-order accumulation, the operation order of functions/vector.py
    den = np.sqrt(np.cumsum(a * a)[-1]) * np.sqrt(np.cumsum(b * b)[-1])
    return None if den == 0 else _spark_round6(np.cumsum(a * b)[-1] / den)


def _brute_force(vecs: dict, q: np.ndarray, k: int) -> list[str]:
    scored = [(rid, _cosine(v, q)) for rid, v in vecs.items()]
    # score descending, nulls last, ties by id ascending
    scored.sort(key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]))
    return [
        f"{rank:3d}  {float('nan') if s is None else s:+.6f}  {rid}"
        for rank, (rid, s) in enumerate(scored[:k], 1)
    ]


def _search(capsys, *argv) -> tuple[int, list[str]]:
    rc = main(["search", *argv])
    return rc, [line for line in capsys.readouterr().out.splitlines() if line.strip()]


def _jobs_of(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"cli-search-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("note", ["a.md", "g.md"])
def test_query_id_matches_brute_force(built, capsys, note):
    index, content, vecs = built
    qid = os.path.join(content, note)
    k = len(NOTES)  # every row, so the null-score row is printed too
    rc, lines = _search(capsys, "--index", index, "--query-id", qid, "-k", str(k))
    assert rc == 0
    assert lines == _brute_force(vecs, vecs[qid], k)
    assert lines[0].split() == ["1", "+1.000000", qid]  # the note itself
    assert lines[-1].split()[1:] == ["+nan", os.path.join(content, "e.md")]


def test_query_id_ranks_like_knn_join(built, spark, capsys):
    # the null-score row (and every other row) sits at the rank knn_join,
    # the batch operator, gives it
    index, content, _ = built
    qid = os.path.join(content, "a.md")
    idx = spark.read.parquet(index)
    q = idx.filter(F.col("id") == qid).select(
        F.col("id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = [
        (r["rank"], r["score"], r["vec_id"])
        for r in knn_join(q, idx, k=len(NOTES), id_col="id", vec_col="embedding")
        .orderBy("rank")
        .collect()
    ]
    assert want[-1][1] is None
    rc, lines = _search(capsys, "--index", index, "--query-id", qid, "-k", str(len(NOTES)))
    assert rc == 0
    got = [(int(r), None if s == "+nan" else float(s), i) for r, s, i in map(str.split, lines)]
    assert got == want


def test_query_id_search_job_count(built, spark, capsys):
    # the id lookup doubles as the not-found check and the vector is the
    # index's own, so neither an isEmpty probe nor a dimension probe runs
    index, content, _ = built
    qid = os.path.join(content, "b.md")
    n = _jobs_of(spark, lambda: main(["search", "--index", index, "--query-id", qid]))
    capsys.readouterr()
    assert n <= 3  # schema read, id lookup, top-k scan


def test_text_search_matches_brute_force(built, capsys):
    import pandas as pd

    from vectrekker_spark.queries.vector import hash_embed_batch

    index, content, vecs = built
    text = "alpha notes about vectors"
    rc, lines = _search(capsys, "--index", index, "--text", text, "-k", "3")
    assert rc == 0
    assert lines == _brute_force(vecs, np.array(hash_embed_batch(pd.Series([text]))[0]), 3)
    assert lines[0].split()[2] == os.path.join(content, "a.md")


def test_unknown_query_id_exits_2(built, capsys):
    index, _, _ = built
    rc, lines = _search(capsys, "--index", index, "--query-id", "no/such/note.md")
    assert rc == 2
    assert lines == ["error: id 'no/such/note.md' not in index"]


def test_search_text_dim_mismatch_errors(spark, tmp_path, capsys):
    # a --text search (local 64-dim hashing embedder) against an index built
    # in a different-dimension space must fail fast, not return NaN scores
    index = str(tmp_path / "index8")
    spark.createDataFrame(
        [("doc1", [1.0] * 8)], "id string, embedding array<double>"
    ).write.parquet(index)
    rc = []
    n = _jobs_of(
        spark, lambda: rc.append(main(["search", "--index", index, "--text", "some query"]))
    )
    out = capsys.readouterr().out
    assert rc == [2]
    assert "64 dims" in out and "8-dim" in out
    assert n <= 2  # the schema read plus one dimension probe, as before
