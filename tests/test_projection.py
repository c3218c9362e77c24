"""Paragraph-dedup (#106) semantics the oracle can't see
(operator-level invariants)."""

from aws_big_data_blog_dmscdc_walkthrough_spark.operators import paragraphs


def test_paragraph_dedup_first_occurrence_and_reassembly(spark):
    docs = spark.createDataFrame(
        [
            # doc 0: two distinct paragraphs (10 words each)
            (0, " ".join(["a"] * 10 + ["b"] * 10)),
            # doc 1: first para duplicates doc 0's first → dropped;
            # second para fresh; 3-word tail para fresh
            (1, " ".join(["a"] * 10 + ["c"] * 10 + ["d"] * 3)),
            # doc 2: everything already seen → empty text_dedup
            (2, " ".join(["b"] * 10)),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in paragraphs.paragraph_dedup(docs).collect()}
    assert (out[0].n_paras, out[0].n_kept) == (2, 2)
    assert out[0].text_dedup == " ".join(["a"] * 10 + ["b"] * 10)
    assert (out[1].n_paras, out[1].n_kept) == (3, 2)
    assert out[1].text_dedup == " ".join(["c"] * 10 + ["d"] * 3)
    assert (out[2].n_paras, out[2].n_kept) == (1, 0)
    assert out[2].text_dedup == ""


def test_paragraph_dedup_keeps_null_and_empty_docs(spark):
    """NULL / whitespace-only text must report n_paras=0, not vanish
    from the per-document output (round-9 advice fix)."""
    docs = spark.createDataFrame(
        [
            (0, " ".join(["a"] * 10)),
            (1, None),
            (2, ""),
            (3, "   \t  "),
            (4, " ".join(["a"] * 10)),  # duplicate of doc 0's para
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in paragraphs.paragraph_dedup(docs).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    for d in (1, 2, 3):
        assert (out[d].n_paras, out[d].n_kept, out[d].text_dedup) == (0, 0, "")
    assert (out[0].n_paras, out[0].n_kept) == (1, 1)
    assert (out[4].n_paras, out[4].n_kept) == (1, 0)
