"""Multimodal payload plumbing: opaque binary columns + typed metadata, with
Arrow-batched decode and compress UDFs.

``media_payloads`` stands in for the image bytes the reference reads per
path (S9, img2graph.py:365-367), and ``compress_media`` for its
compress-to-target sink (S10, preprocessing.py:264-296).

The container ships no image libraries, so the *inference* inside each UDF
is either a clearly-marked ``NotImplementedError`` (real decode) or a
deterministic fake — but the Spark-side plumbing is real and tested: the
payload travels as a ``binary`` column, UDFs are ``mapInPandas`` over Arrow
batches (bytes never hit the driver), and output schemas are typed. On a
real cluster you replace ``_fake_decode`` / ``_fake_encoder`` with PIL calls
per batch and nothing else changes.

The fakes are arithmetic on payload length, so ``decode_media`` has an
exact DuckDB twin (``oracle.mm_decode_select``) — the *plumbing* is what the
parity check exercises.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, functions as F

DECODE_SCHEMA = (
    "media_ref string, byte_len long, width long, height long, n_channels long"
)


def media_payloads(media: DataFrame) -> DataFrame:
    """(media_ref, mime, byte_len, payload binary): opaque media bytes.

    Payload is a deterministic fake (utf-8 of 'ref:context' standing in for
    the image file the reference reads per-path, img2graph.py:365-367);
    at production scale this column is a pointer-or-inline blob from the
    lake (media_ref resolves to object storage).
    """
    body = F.concat(F.col("media_ref"), F.lit(":"), F.col("context"))
    return media.select(
        "media_ref",
        F.lit("image/fake").alias("mime"),
        F.length(body).cast("long").alias("byte_len"),
        F.encode(body, "UTF-8").alias("payload"),
    )


def _fake_decode(pdf):
    """Deterministic stand-in for image decoding (no vision libs here)."""
    import pandas as pd

    n = pdf["payload"].map(len).astype("int64")
    return pd.DataFrame({
        "media_ref": pdf["media_ref"],
        "byte_len": n,
        "width": 16 + n % 64,
        "height": 16 + (n * 7) % 64,
        "n_channels": 3,
    })


def decode_media(
    payloads: DataFrame, decoder: Callable | None = None
) -> DataFrame:
    """Arrow-batched decode: binary payload -> typed image metadata.

    ``decoder(pdf) -> pdf[DECODE_SCHEMA]`` runs real decoding in production;
    pass ``decoder="real"`` to see the explicit not-implemented marker.
    """
    if decoder == "real":
        raise NotImplementedError(
            "real image decoding needs PIL/libvips, not present in this "
            "container — wire a batch decoder callable instead"
        )
    import pandas as pd

    fn = decoder or _fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield fn(pdf)

    return payloads.select("media_ref", "payload").mapInPandas(
        run, schema=DECODE_SCHEMA
    )


COMPRESS_SCHEMA = (
    "media_ref string, quality int, byte_len long, fits boolean, payload binary"
)


def _fake_encoder(payload: bytes, quality: int) -> bytes:
    """Deterministic stand-in for a JPEG re-encode at ``quality``: keeps a
    quality-proportional prefix (monotone in quality, like a real encoder's
    size/quality curve). Production swap point: PIL ``img.save(quality=q)``."""
    keep = max(1, (len(payload) * quality) // 100)
    return payload[:keep]


def compress_media(
    payloads: DataFrame,
    target_bytes: int = 5 * 1024 * 1024,
    quality: int = 90,
    step: int = 10,
    floor: int = 10,
    encoder: Callable[[bytes, int], bytes] | None = None,
) -> DataFrame:
    """S10 — the reference's compress-to-target sink
    (/root/reference/mmgraphrag/preprocessing.py:264-296): re-encode at
    ``quality``, then step quality down by ``step`` until the payload fits
    ``target_bytes`` or quality would drop below ``floor``; report whether
    the final size fits (the reference prints a warning and keeps the file).

    Arrow-batched mapInPandas: the quality ladder runs per image INSIDE the
    executor batch (bounded ≤ (quality-floor)/step + 1 encodes, exactly the
    reference's loop); bytes never visit the driver. ``encoder(payload,
    quality) -> bytes`` is the PIL swap point; the default deterministic
    fake has a real encoder's monotone size/quality shape, so the loop
    logic (first-fit quality, floor stop) is fully tested here.
    """
    import pandas as pd

    enc = encoder or _fake_encoder

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_ref": [], "quality": [], "byte_len": [],
                   "fits": [], "payload": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                data = bytes(payload)
                q = quality
                body = enc(data, q)
                # reference loop shape: test quality > floor BEFORE each
                # decrement (preprocessing.py:286-289), so the last encode
                # happens exactly at quality == floor
                while len(body) > target_bytes and q > floor:
                    q -= step
                    body = enc(data, q)
                out["media_ref"].append(ref)
                out["quality"].append(q)
                out["byte_len"].append(len(body))
                out["fits"].append(len(body) <= target_bytes)
                out["payload"].append(body)
            yield pd.DataFrame(out)

    return payloads.select("media_ref", "payload").mapInPandas(
        run, schema=COMPRESS_SCHEMA
    )
