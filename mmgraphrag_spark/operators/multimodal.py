"""Multimodal payload plumbing: opaque binary columns + typed metadata, with
Arrow-batched decode / feature / frame-sample UDFs.

The container ships no image/audio/video libraries, so the *inference* inside
each UDF is either a clearly-marked ``NotImplementedError`` (real decode) or
a deterministic fake — but the Spark-side plumbing is real and tested: the
payload travels as a ``binary`` column, UDFs are ``mapInPandas`` over Arrow
batches (bytes never hit the driver), and output schemas are typed. On a real
cluster you replace ``_fake_decode`` with PIL/ffmpeg calls per batch and
nothing else changes.

The deterministic fakes are arithmetic on payload length / content, so every
query here has an exact DuckDB twin in oracle.py (``mm_decode_select``,
``mm_frames_select``, ``phash_select`` and siblings) — the *plumbing* is what
the parity check exercises.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, functions as F

DECODE_SCHEMA = (
    "media_ref string, byte_len long, width long, height long, n_channels long"
)
FRAME_SCHEMA = "media_ref string, frame_idx long, frame_md5 string"


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


def frame_samples(payloads: DataFrame, n_frames: int = 3, frame_bytes: int = 16) -> DataFrame:
    """Arrow-batched frame sampling: treat the payload as a stream and hash
    fixed-width byte windows ('frames'). Real video sampling swaps the window
    slicing for ffmpeg keyframe extraction; schema and batching identical."""
    import hashlib

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_ref": [], "frame_idx": [], "frame_md5": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                data = bytes(payload)
                for k in range(n_frames):
                    chunk = data[k * frame_bytes : (k + 1) * frame_bytes]
                    if not chunk:
                        break
                    out["media_ref"].append(ref)
                    out["frame_idx"].append(k)
                    out["frame_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return payloads.select("media_ref", "payload").mapInPandas(
        run, schema=FRAME_SCHEMA
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


def frame_dedup(frames: DataFrame) -> DataFrame:
    """(media_ref, n_frames, n_shared, shared_ppm): cross-media duplicate-
    frame coverage — for each media item, how many of its sampled frames
    also occur in at least one OTHER media item (re-posted clips, mirrored
    images, watermarked copies). The video sibling of document span
    coverage: frame fingerprints shared across items are the dedup signal.

    Input is :func:`frame_samples` output, so the real-decoder swap point
    is upstream; this stage is pure relational: one fingerprint-grain
    aggregation (map-side combinable) + one equi-join back + one
    media-grain aggregation. Never pairwise — sharing is counted at the
    fingerprint, so a frame reposted 10^6 times costs one group row, not
    10^12 pairs (the dup_paragraph rank-not-pairs lesson, applied to
    media).
    """
    sharing = frames.groupBy("frame_md5").agg(
        F.countDistinct("media_ref").alias("n_media")
    )
    return (
        frames.join(sharing, "frame_md5")
        .groupBy("media_ref")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum(F.when(F.col("n_media") >= 2, 1).otherwise(0))
            .cast("long").alias("n_shared"),
        )
        .selectExpr(
            "media_ref", "n_frames", "n_shared",
            "n_shared * 1000000L div n_frames AS shared_ppm",
        )
    )


PHASH_SCHEMA = "media_ref string, h0 long, h1 long, h2 long, h3 long, phash string"


def perceptual_hashes(payloads: DataFrame) -> DataFrame:
    """(media_ref, h0..h3, phash): 64-bit average-hash (aHash) per media
    item — the classic perceptual fingerprint (mean-threshold an 8×8
    downsample; near-identical images differ in a few bits, so near-dup
    detection is a Hamming-ball search, not equality).

    Arrow-batched mapInPandas is the REAL plumbing — production swaps the
    window-mean loop for PIL `img.resize((8,8)).convert('L')` over decoded
    pixels; here the deterministic stand-in 'pixels' are the payload bytes
    themselves. The bit rule is exact integer arithmetic (window j of n
    bytes covers [j·n/64, (j+1)·n/64); bit = sum_j·n ≥ total·len_j,
    empty windows 0), so the DuckDB twin reproduces every bit via
    ascii()-code list arithmetic — an approximate MEASURE with an exact
    cross-engine hash.
    The 64 bits are carried as 4×16-bit block ints: with 4 blocks, any
    pair within Hamming distance 3 shares at least one equal block
    (pigeonhole), which makes the pair search below index-complete.
    """
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_ref": [], "h0": [], "h1": [], "h2": [], "h3": [],
                   "phash": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                tot = sum(b)
                bits = []
                for j in range(64):
                    lo, hi = j * n // 64, (j + 1) * n // 64
                    lj = hi - lo
                    sj = sum(b[lo:hi])
                    bits.append(1 if lj > 0 and sj * n >= tot * lj else 0)
                hs = [
                    sum(bits[k * 16 + t] << t for t in range(16))
                    for k in range(4)
                ]
                val = hs[0] | (hs[1] << 16) | (hs[2] << 32) | (hs[3] << 48)
                out["media_ref"].append(ref)
                for k in range(4):
                    out[f"h{k}"].append(hs[k])
                out["phash"].append(format(val, "016x"))
            yield pd.DataFrame(out)

    return payloads.select("media_ref", "payload").mapInPandas(
        run, schema=PHASH_SCHEMA
    )


def phash_pairs(hashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(a, b, hamming): near-duplicate media pairs by perceptual hash.

    Candidates are the block-equal pairs (equi self-join on (block index,
    block value) — the simhash banding trick, never all-pairs); with 4
    blocks of 16 bits the index is COMPLETE for hamming ≤ 3. Verification
    is exact bit_count over the XOR of the four blocks (pure codegen).
    """
    bl = hashes.select(
        "media_ref",
        F.explode(F.expr(
            "array(struct(0 AS k, h0 AS v), struct(1 AS k, h1 AS v),"
            " struct(2 AS k, h2 AS v), struct(3 AS k, h3 AS v))"
        )).alias("b"),
    ).select("media_ref", F.col("b.k").alias("k"), F.col("b.v").alias("v"))
    cand = (
        bl.alias("x")
        .join(
            bl.alias("y"),
            (F.col("x.k") == F.col("y.k")) & (F.col("x.v") == F.col("y.v"))
            & (F.col("x.media_ref") < F.col("y.media_ref")),
        )
        .select(
            F.col("x.media_ref").alias("a"), F.col("y.media_ref").alias("b")
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("media_ref").alias("a"),
        *[F.col(f"h{k}").alias(f"a{k}") for k in range(4)],
    )
    hb = hashes.select(
        F.col("media_ref").alias("b"),
        *[F.col(f"h{k}").alias(f"b{k}") for k in range(4)],
    )
    return (
        cand.join(ha, "a").join(hb, "b")
        .selectExpr(
            "a", "b",
            "cast(bit_count(a0 ^ b0) + bit_count(a1 ^ b1)"
            " + bit_count(a2 ^ b2) + bit_count(a3 ^ b3) AS long) AS hamming",
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
