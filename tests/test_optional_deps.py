"""Optional-dependency integration smokes for the production swap points.

The engine ships deterministic stand-ins (whitespace tokenizer, fake jpeg
encoder, trigram embedding) with REAL Spark plumbing; these tests wire the
actual production libraries — tiktoken, PIL, sentence-transformers — through
the same mapInPandas / encoder-callable seams at least once, proving the
batch shapes and schemas hold against a non-mock implementation. Each test
skips cleanly where the library (or its model/BPE asset) is unavailable.
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


# ---- sentence-transformers through the embedding batch path ----------------


@pytest.mark.skipif(
    not _has("sentence_transformers"), reason="sentence-transformers not installed"
)
def test_embedding_path_with_real_sentence_encoder(spark):
    """A real SentenceTransformer (the reference's encoder,
    parameter.py:14-20) driven through the engine's Arrow-batched embedding
    shape: mapInPandas batch encode -> integer quantization -> exact cosine
    top-1 must return a paraphrase above an unrelated sentence."""
    try:
        from sentence_transformers import SentenceTransformer

        model = SentenceTransformer("all-MiniLM-L6-v2")
    except Exception as exc:  # model download needs network
        pytest.skip(f"sentence model unavailable: {exc}")

    import pandas as pd
    from pyspark.sql import functions as F

    sents = [
        (0, "the cat sat on the mat"),
        (1, "a feline rested on the rug"),
        (2, "quarterly revenue grew by twelve percent"),
    ]
    df = spark.createDataFrame(sents, "vec_id long, sentence string")

    def encode(batches):
        for pdf in batches:
            vecs = model.encode(list(pdf["sentence"]), convert_to_numpy=True)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "embedding": [v.tolist() for v in vecs]}
            )

    emb = df.mapInPandas(encode, schema="vec_id long, embedding array<float>")
    rows = {r.vec_id: r.embedding for r in emb.collect()}
    dims = len(rows[0])
    assert dims > 0 and all(len(v) == dims for v in rows.values())
    # integer-quantized cosine, the engine's exact-arithmetic contract
    q = {k: [round(x * 1000) for x in v] for k, v in rows.items()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return dot / (na * nb)

    assert cos(q[0], q[1]) > cos(q[0], q[2])
