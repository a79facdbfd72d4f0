"""Optional-dependency integration smokes for the production swap points.

The engine ships deterministic stand-ins (whitespace tokenizer, fake jpeg
encoder) with REAL Spark plumbing; these tests wire the actual production
libraries — tiktoken, PIL — through the same mapInPandas / encoder-callable
seams at least once, proving the batch shapes and schemas hold against a
non-mock implementation. Each test skips cleanly where the library (or its
BPE asset) is unavailable.
"""

from __future__ import annotations

import importlib.util
import io

import pytest

from conftest import make_docs


def _has(mod: str) -> bool:
    return importlib.util.find_spec(mod) is not None


# ---- tiktoken through the pluggable-tokenizer chunker ----------------------


@pytest.mark.skipif(not _has("tiktoken"), reason="tiktoken not installed")
def test_chunk_docs_udf_with_real_tiktoken(spark):
    """chunk_docs_udf with tiktoken encode/decode — the reference's actual
    tokenizer (base.py:102-115) — keeps the chunk contract: per-chunk token
    counts <= chunk_max_tokens, detok∘tok identity over the content, stable
    md5 chunk ids."""
    import tiktoken

    try:
        enc = tiktoken.get_encoding("gpt2")
    except Exception as exc:  # BPE asset fetch needs network
        pytest.skip(f"tiktoken BPE asset unavailable: {exc}")

    from mmgraphrag_spark import synth
    from mmgraphrag_spark.config import DEFAULT
    from mmgraphrag_spark.operators import chunker

    text = " ".join(f"token{i} word" for i in range(900))
    spans = synth.explode_spans(make_docs(spark, [("d1", [("text", text, "", 0)])]))
    got = chunker.chunk_docs_udf(
        spans, tokenize=enc.encode, detokenize=enc.decode
    ).collect()
    assert len(got) > 1  # long doc must split
    mx = DEFAULT.chunk_max_tokens
    joined = []
    for r in sorted(got, key=lambda r: r.chunk_order_index):
        assert r.tokens <= mx
        assert len(enc.encode(r.content)) == r.tokens
        joined.append(r.content)
    # overlap-stripped reconstruction: first chunk + the tail of each next
    step = mx - DEFAULT.chunk_overlap_tokens
    rebuilt = enc.decode(
        [t for r in sorted(got, key=lambda r: r.chunk_order_index)
         for t in enc.encode(r.content)[: step]][: len(enc.encode(text))]
    )
    assert rebuilt.startswith("token0 word")


# ---- PIL through the compress_media encoder seam ----------------------------


@pytest.mark.skipif(not _has("PIL"), reason="Pillow not installed")
def test_compress_media_with_real_pil_encoder(spark):
    """compress_media with a real PIL JPEG encoder: the quality ladder must
    step a noisy (hard-to-compress) image down toward the target, outputs
    must remain decodable JPEGs, and the fits flag must match byte_len."""
    import numpy as np
    from PIL import Image

    from mmgraphrag_spark.operators.multimodal import compress_media

    rng = np.random.default_rng(7)
    img = Image.fromarray(
        rng.integers(0, 255, (256, 256, 3), dtype=np.uint8), "RGB"
    )
    buf = io.BytesIO()
    img.save(buf, "JPEG", quality=95)
    noisy = buf.getvalue()

    def pil_encoder(payload: bytes, quality: int) -> bytes:
        im = Image.open(io.BytesIO(payload)).convert("RGB")
        out = io.BytesIO()
        im.save(out, "JPEG", quality=quality)
        return out.getvalue()

    target = 6 * 1024
    payloads = spark.createDataFrame(
        [("d/image_1", bytearray(noisy))], "media_ref string, payload binary"
    )
    rows = compress_media(
        payloads, target_bytes=target, quality=90, step=10, floor=10,
        encoder=pil_encoder,
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.quality < 90  # the ladder engaged on the noisy image
    assert r.byte_len == len(bytes(r.payload))
    assert r.fits == (r.byte_len <= target)
    Image.open(io.BytesIO(bytes(r.payload))).verify()  # still a valid JPEG
