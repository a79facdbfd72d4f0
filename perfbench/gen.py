"""Seeded input generator for the benchmark.

Everything the program sees is written here as parquet with the engine's
``documents`` schema (doc_id long, text string, lang string, source string,
n_chars long); the query stream and the micro-batch arrival order are plain
Python lists derived from the same seed. The same seed and spec give
byte-identical files.

Media share is set through the ``doc_id % media_doc_mod`` residue the span
synthesizer keys on (``synth.spans_from_docs``): a media doc gets an id in
residue class 0, a text-only doc an id in a non-zero class.
"""

from __future__ import annotations

import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
_LANGS = ("en", "de", "fr", "es", "zh")
_ALPHABET = np.array(list(string.ascii_lowercase))


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated corpus."""

    n_docs: int
    words_min: int
    words_max: int
    vocab: int
    zipf_s: float
    media_share: float         # fraction of docs in residue class 0
    media_doc_mod: int = 3     # PipelineConfig.media_doc_mod
    resend_share: float = 0.0  # ingest only: share of a batch re-sending old text


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words, 3-10 letters. Lengths straddle the
    extractor's mention (>=5) and concept (>=6) cut-offs and the media
    detector's object band (4), so every operator sees all token classes."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(3, 11, size=n)
        letters = rng.integers(0, 26, size=(n, 10))
        for ln, row in zip(lens, letters):
            w = "".join(_ALPHABET[row[:ln]])
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


def zipf_probs(size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    return p / p.sum()


class Corpus:
    """Seeded word source shared by documents and queries of one workload."""

    def __init__(self, spec: CorpusSpec, seed: int | list[int]):
        self.spec = spec
        self.rng = np.random.default_rng(seed)
        self.words = np.array(vocabulary(self.rng, spec.vocab))
        self.probs = zipf_probs(spec.vocab, spec.zipf_s)

    def texts(self, n: int) -> list[str]:
        sp = self.spec
        lens = self.rng.integers(sp.words_min, sp.words_max + 1, size=n)
        flat = self.rng.choice(len(self.words), size=int(lens.sum()), p=self.probs)
        out, at = [], 0
        for ln in lens:
            out.append(" ".join(self.words[flat[at:at + ln]]))
            at += ln
        return out

    def doc_ids(self, first_slot: int, n: int) -> np.ndarray:
        """Ids for slots first_slot..first_slot+n-1: slot k maps to
        k*mod + residue, residue 0 (media) with probability media_share."""
        mod = self.spec.media_doc_mod
        media = self.rng.random(n) < self.spec.media_share
        other = self.rng.integers(1, mod, size=n)
        slots = np.arange(first_slot, first_slot + n, dtype=np.int64)
        return slots * mod + np.where(media, 0, other)

    def table(self, ids: np.ndarray, texts: list[str]) -> pa.Table:
        langs = self.rng.integers(0, len(_LANGS), size=len(ids))
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[i] for i in langs], pa.string()),
            "source": pa.array([f"src{i % 7}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }, schema=DOCS_SCHEMA)

    def documents(self, n: int, first_slot: int = 0) -> pa.Table:
        return self.table(self.doc_ids(first_slot, n), self.texts(n))

    def queries(self, n: int, docs: pa.Table, media_refs: list[str] = (),
                n_tokens: int = 4, min_len: int = 5, mm_every: int = 4) -> list[str]:
        """Query strings of ``n_tokens`` words. All but the last are drawn
        from the running text of ``docs`` (so by the corpus Zipf law) among
        words of at least ``min_len`` letters, which the extractor makes
        entities, so every query seeds real context; the last is out of
        vocabulary. In every ``mm_every``-th query, from the first on, the
        first token names an image instead (one of ``media_refs``), so the
        answer chain's multimodal branch runs. A run's first query is thus
        an image query and the next ones text queries."""
        words = [w for t in docs.column("text").to_pylist() for w in t.split()
                 if len(w) >= min_len]
        idx = self.rng.integers(0, len(words), size=(n, n_tokens - 1))
        mm = np.arange(n) % mm_every == 0
        ref = self.rng.integers(0, max(len(media_refs), 1), size=n)
        out = []
        for qi in range(n):
            toks = [words[i] for i in idx[qi]] + [f"zq{qi}x"]
            if media_refs and mm[qi]:
                toks[0] = media_refs[ref[qi]]
            out.append(" ".join(toks))
        return out

    def batches(self, n_batches: int, batch_docs: int,
                first_slot: int = 0) -> list[pa.Table]:
        """Micro-batches in arrival order. After the first, each re-sends the
        text of ``resend_share`` earlier docs under fresh ids (so the
        content-addressed extraction cache is hit) and carries new text for
        the rest."""
        out: list[pa.Table] = []
        sent: list[str] = []
        slot = first_slot
        for b in range(n_batches):
            n_old = 0 if b == 0 else int(round(batch_docs * self.spec.resend_share))
            pick = self.rng.choice(len(sent), size=n_old, replace=False) if n_old else []
            texts = [sent[i] for i in pick] + self.texts(batch_docs - n_old)
            out.append(self.table(self.doc_ids(slot, batch_docs), texts))
            sent.extend(texts[n_old:])
            slot += batch_docs
        return out


def write(table: pa.Table, path: str) -> None:
    """Deterministic parquet write: one row group, fixed codec, no stats
    that depend on anything but the data."""
    pq.write_table(table, path, compression="zstd", row_group_size=1 << 20)


def media_refs(table: pa.Table, mod: int) -> list[str]:
    """``media_ref`` of the first image of every media doc in ``table`` (every
    doc of at least 37 words has one, see synth.spans_from_docs)."""
    return [f"doc{i}/image_1" for i in table.column("doc_id").to_pylist()
            if i % mod == 0]
