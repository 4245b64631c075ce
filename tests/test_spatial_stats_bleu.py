"""Spatial assignment (J8), BLEU (A4)."""

from deepseek_ocr_omnidocbench_spark.functions.bleu import (
    bleu_from_stats,
    bleu_stats,
    corpus_bleu,
)


def _bleu(pred: str, ref: str) -> float:
    return bleu_from_stats(bleu_stats(pred, ref))


def test_bleu_identity_and_zero():
    assert abs(_bleu("the cat sat on the mat here now",
                     "the cat sat on the mat here now") - 1.0) < 1e-9
    assert _bleu("completely different words", "the cat sat") == 0.0


def test_bleu_partial_and_brevity():
    ref = "the quick brown fox jumps over the lazy dog"
    close = "the quick brown fox jumps over a lazy dog"
    short = "the quick brown fox jumps"
    assert 0 < _bleu(close, ref) < 1
    s_short = _bleu(short, ref)
    assert 0 <= s_short < _bleu(close, ref)


def test_corpus_bleu_pools_counts():
    preds = ["the cat sat down", "a dog ran far away"]
    refs = ["the cat sat down", "a dog ran far away"]
    assert abs(corpus_bleu(preds, refs) - 1.0) < 1e-9


def test_assign_spans_to_blocks(spark):
    from deepseek_ocr_omnidocbench_spark.operators.spatial import (
        assign_spans_to_blocks,
    )

    spans = spark.createDataFrame(
        [("p1", 1, [0.0, 0.0, 10.0, 10.0]),     # inside block A
         ("p1", 2, [45.0, 45.0, 55.0, 55.0]),   # straddles A/B, more in B
         ("p1", 3, [200.0, 200.0, 210.0, 210.0])],  # no block
        ["img_id", "span_id", "bbox"])
    blocks = spark.createDataFrame(
        [("p1", 10, [0.0, 0.0, 50.0, 50.0]),
         ("p1", 20, [48.0, 48.0, 100.0, 100.0])],
        ["img_id", "block_id", "bbox"])
    got = {r["span_id"]: r["block_id"]
           for r in assign_spans_to_blocks(spans, blocks, min_overlap=0.2).collect()}
    assert got[1] == 10
    assert got[2] == 20
    assert 3 not in got
