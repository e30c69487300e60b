"""End-to-end CLI runs on the shared session for the verbs no other test
drives: directSampler, wordpieceTrain -> wordpieceSegment (both modes,
through the saved artifact), chunkDocs, vocabCoverage and kAnonymity.
Inputs are a few rows each."""

from __future__ import annotations

import pytest

from ratatool_spark.cli import main


def _write(spark, rows, ddl, path):
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(str(path))
    return str(path)


def test_direct_sampler_head_and_reservoir(spark, tmp_path):
    src = _write(spark, [(i,) for i in range(20)], "id int", tmp_path / "in")
    head, res = str(tmp_path / "head"), str(tmp_path / "res")
    assert main(["directSampler", "--input", src, "--output", head,
                 "-n", "5", "--head"]) == 0
    assert main(["directSampler", "--input", src, "--output", res,
                 "-n", "5", "--seed", "3"]) == 0
    assert spark.read.parquet(head).count() == 5
    ids = [r["id"] for r in spark.read.parquet(res).collect()]
    assert len(ids) == len(set(ids)) == 5
    assert set(ids) <= set(range(20))


def test_wordpiece_train_then_segment_both_modes(spark, tmp_path):
    from ratatool_spark.operators.wordpiece import (
        load_wordpiece_tokenizer,
        wordpiece_apply_merges,
    )

    docs = [("d1", "low lower lowest"), ("d2", "low newer wider"),
            ("d3", "lower low")]
    src = _write(spark, docs, "doc_id string, text string", tmp_path / "in")
    tok = str(tmp_path / "wp.json")
    assert main(["wordpieceTrain", "--input", src, "--output", tok,
                 "--nMerges", "4", "--batch", "4", "--pool", "8"]) == 0
    merges, vocab = load_wordpiece_tokenizer(spark, tok)
    assert len(merges) > 0 and vocab

    replay, match = str(tmp_path / "replay"), str(tmp_path / "match")
    assert main(["wordpieceSegment", "--input", src, "--output", replay,
                 "--tokenizer", tok]) == 0
    got = {r["doc_id"]: r["wp_syms"]
           for r in spark.read.parquet(replay).collect()}
    for doc_id, text in docs:
        want = [s for w in text.split() for s in wordpiece_apply_merges(w, merges)]
        assert got[doc_id] == want

    odd = _write(spark, [("d4", "low Ω")], "doc_id string, text string",
                 tmp_path / "odd")
    assert main(["wordpieceSegment", "--input", odd, "--output", match,
                 "--tokenizer", tok, "--mode", "match", "--unk", "<u>"]) == 0
    (row,) = spark.read.parquet(match).collect()
    assert row["wp_syms"][-1] == "<u>"
    assert all(s in set(vocab) for s in row["wp_syms"][:-1])


def test_chunk_docs(spark, tmp_path):
    text = " ".join(f"t{i}" for i in range(10))
    src = _write(spark, [("a", text), ("b", "   ")],
                 "doc_id string, text string", tmp_path / "in")
    out = str(tmp_path / "out")
    assert main(["chunkDocs", "--input", src, "--output", out,
                 "--chunkSize", "4", "--overlap", "1"]) == 0
    rows = sorted(spark.read.parquet(out).collect(), key=lambda r: r["chunk_idx"])
    # stride 3: starts 1, 4, 7; the blank doc yields no chunk
    assert [(r["doc_id"], r["chunk"], r["n_chunk_tokens"]) for r in rows] == [
        ("a", "t0 t1 t2 t3", 4), ("a", "t3 t4 t5 t6", 4), ("a", "t6 t7 t8 t9", 4)]


def test_vocab_coverage(spark, tmp_path):
    src = _write(spark, [("a", "x y z w"), ("b", "x x")],
                 "doc_id string, text string", tmp_path / "in")
    vocab = _write(spark, [("x",), ("y",), ("y",)], "token string",
                   tmp_path / "vocab")
    out = str(tmp_path / "out")
    assert main(["vocabCoverage", "--input", src, "--vocab", vocab,
                 "--output", out]) == 0
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
           for r in spark.read.parquet(out).collect()}
    assert got == {"a": (4, 2, 0.5), "b": (2, 0, 0.0)}


@pytest.mark.parametrize("summary", [False, True], ids=["classes", "summary"])
def test_k_anonymity(spark, tmp_path, summary):
    rows = [("10001", 30)] * 3 + [("10002", 40)]
    src = _write(spark, rows, "zip string, age int", tmp_path / "in")
    out = str(tmp_path / "out")
    argv = ["kAnonymity", "--input", src, "--output", out,
            "--quasiFields", "zip,age", "--k", "2"]
    assert main(argv + (["--summary"] if summary else [])) == 0
    got = spark.read.parquet(out).collect()
    if summary:
        (r,) = got
        assert (r["k_min"], r["n_classes"], r["n_classes_at_risk"],
                r["n_rows_at_risk"]) == (1, 2, 1, 1)
    else:
        assert sorted((r["zip"], r["class_size"], r["at_risk"]) for r in got) == [
            ("10001", 3, False), ("10002", 1, True)]
