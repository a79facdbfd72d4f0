"""C1/C2 window math, dedup, and column-op vs pandas-UDF chunker equality."""

from __future__ import annotations

import hashlib

from conftest import SF_TINY, make_docs

from mmgraphrag_spark import synth
from mmgraphrag_spark.config import PipelineConfig
from mmgraphrag_spark.operators import chunker

CFG = PipelineConfig(chunk_max_tokens=10, chunk_overlap_tokens=3)  # step 7


def test_window_math(spark):
    words = [f"w{i:02d}" for i in range(20)]
    spans = synth.explode_spans(make_docs(spark, [("d1", [("text", " ".join(words), "", 0)])]))
    got = chunker.chunk_docs(spans, CFG).orderBy("chunk_order_index").collect()
    # starts 0,7,14 -> lengths 10,10,6 (trailing partial kept, like the
    # reference's range(0, n, step) loop preprocessing.py:30-68)
    assert [r.chunk_order_index for r in got] == [0, 1, 2]
    assert [r.tokens for r in got] == [10, 10, 6]
    assert got[0].content == " ".join(words[0:10])
    assert got[1].content == " ".join(words[7:17])
    assert got[2].content == " ".join(words[14:20])
    for r in got:
        assert r.chunk_id == "chunk-" + hashlib.md5(r.content.encode()).hexdigest()


def test_exact_dedup_deterministic_winner(spark):
    text = " ".join(["tok"] * 5)
    spans = synth.explode_spans(make_docs(spark, [
        ("d2", [("text", text, "", 0)]),
        ("d1", [("text", text, "", 0)]),
    ]))
    got = chunker.chunk_docs(spans, CFG).collect()
    assert len(got) == 1
    assert got[0].doc_id == "d1"  # lexicographically first wins


def test_text_spans_only(spark):
    spans = synth.explode_spans(make_docs(spark, [
        ("d1", [("text", "a b", "", 0), ("image", "cap", "d1/image_1", 1),
                 ("text", "c d", "", 2)]),
    ]))
    got = chunker.chunk_docs(spans, CFG).collect()
    assert len(got) == 1
    assert got[0].content == "a b c d"  # media text excluded, order kept


def test_udf_chunker_matches_column_chunker(spark):
    spans = synth.flat_spans(spark, SF_TINY)
    a = chunker.chunk_docs(spans).toPandas().sort_values("chunk_id").reset_index(drop=True)
    b = chunker.chunk_docs_udf(spans).toPandas().sort_values("chunk_id").reset_index(drop=True)
    assert a.equals(b)


def test_udf_chunker_matches_reference_window_math_with_bpe_style_tokenizer(spark):
    """C1 with a REAL (deterministic, vocabulary-free BPE-style) subword
    tokenizer: sentencepiece-style word-start marker, 3-char subword units,
    decode = concat + marker->space + strip. Window math must equal the
    reference's tiktoken slicing (preprocessing.py:30-68): windows start at
    0, step, 2*step over the TOKEN stream (cutting inside words), trailing
    partials kept, tokens = min(max, len-start), content stripped."""
    from dataclasses import replace

    from conftest import make_docs

    from mmgraphrag_spark.config import DEFAULT
    from mmgraphrag_spark.operators.chunker import chunk_docs_udf

    MARK = "▁"

    def tokenize(s):
        out = []
        for w in s.split(" "):
            out.append(MARK + w[:3])
            out.extend(w[i:i + 3] for i in range(3, len(w), 3))
        return out

    def detokenize(ts):
        return "".join(ts).replace(MARK, " ").strip()

    text = ("interleaved documents need canonicalization pipelines "
            "spanning extraction fusion graphs materialization")
    spans = synth.explode_spans(make_docs(spark, [("docA", [("text", text, "", 0)])]))
    cfg = replace(DEFAULT, chunk_max_tokens=12, chunk_overlap_tokens=3)

    got = sorted(
        (r.chunk_order_index, r.tokens, r.content)
        for r in chunk_docs_udf(spans, tokenize, detokenize, cfg).collect()
    )

    # the reference loop (chunking_by_token_size), verbatim semantics
    tokens = tokenize(text)
    want = []
    step = cfg.chunk_max_tokens - cfg.chunk_overlap_tokens
    for index, start in enumerate(range(0, len(tokens), step)):
        want.append((
            index,
            min(cfg.chunk_max_tokens, len(tokens) - start),
            detokenize(tokens[start:start + cfg.chunk_max_tokens]),
        ))
    assert len(want) > 2              # genuinely multi-chunk
    assert got == sorted(want)
    # mid-word cuts occurred (the BPE-specific case whitespace can't hit):
    # some chunk ends in a subword FRAGMENT that is not a word of the text
    words = set(text.split(" "))
    assert any(c.split(" ")[-1] not in words for _, _, c in got)
