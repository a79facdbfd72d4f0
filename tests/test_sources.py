"""Ingestion sources (S1-S3): MinerU content-list JSON, real DOCX, direct
PDF — every format lands on the spans relation and drives the pipeline."""

from __future__ import annotations

import os

import pytest
from conftest import SF_TINY

from pyspark.sql import functions as F

from mmgraphrag_spark import synth
from mmgraphrag_spark.operators import chunker, extractor, media
from mmgraphrag_spark.sources import docx, mineru, pdf

REF_CONTENT_LIST = (
    "/root/reference/example_input/mineru_result/2020.acl-main.45/auto/"
    "2020.acl-main.45_content_list.json"
)
# the example paper's PDF sits beside its MinerU result
REF_PDF = REF_CONTENT_LIST.split("mineru_result/")[0] + "2020.acl-main.45.pdf"

needs_ref_content_list = pytest.mark.skipif(
    not os.path.exists(REF_CONTENT_LIST), reason="reference fixtures not present"
)
needs_ref_pdf = pytest.mark.skipif(
    not os.path.exists(REF_PDF), reason="reference fixtures not present"
)

FAKE_JPEG = b"\xff\xd8\xff\xe0spans-fixture-jpeg-bytes\xff\xd9"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---- MinerU (S3) ------------------------------------------------------------


@needs_ref_content_list
def test_mineru_reference_content_list_lands_on_spans(spark):
    """The reference's real example input (204 ordered items: 180 text +
    12 equation, 1 image + 11 tables with img_path) normalizes to the spans
    relation with the reference's sequential image numbering."""
    lists = mineru.read_content_lists(spark, REF_CONTENT_LIST)
    spans = mineru.content_list_spans(lists).cache()
    assert spans.count() == 204
    kinds = dict(spans.groupBy("kind").count().collect())
    assert kinds == {"text": 192, "image": 12}
    # rename_images_in_json semantics: img_path items -> image_1..image_12
    # in item order (pdf2md_preprocessing.py:302-313)
    refs = [
        r.media_ref
        for r in spans.filter(F.col("kind") == "image").orderBy("offset").collect()
    ]
    assert refs == [f"2020.acl-main.45/image_{i}" for i in range(1, 13)]
    # offsets are the dense item order
    mn, mx, nd = spans.agg(
        F.min("offset"), F.max("offset"), F.countDistinct("offset")
    ).collect()[0]
    assert (mn, mx, nd) == (0, 203, 204)
    # title paragraph survives verbatim
    first = spans.filter(F.col("offset") == 0).collect()[0]
    assert first.kind == "text" and "Dice Loss" in first.text


@needs_ref_content_list
def test_mineru_spans_drive_chunker_and_extractor(spark):
    """End-to-end: the reference's content list -> chunks -> mentions."""
    spans = mineru.content_list_spans(
        mineru.read_content_lists(spark, REF_CONTENT_LIST)
    )
    chunks = chunker.chunk_docs(spans)
    n_chunks = chunks.count()
    assert n_chunks > 1  # 192 text spans -> multi-chunk doc
    mentions, triples = extractor.extract_mentions_and_triples(chunks)
    assert mentions.count() > 0 and triples.count() > 0
    med = media.media_spans(spans)
    assert med.count() == 12


def test_mineru_round_trip_equals_synth_spans(spark):
    """serializer ∘ parser == identity against the independent spans
    derivation: spans -> content-list JSON -> spans reproduces synth
    bit-for-bit (the ingest_spans driver query's oracle is the DuckDB spans
    derivation for exactly this reason)."""
    flat = synth.flat_spans(spark, SF_TINY)
    back = mineru.content_list_spans(mineru.spans_to_content_list(flat))
    assert _rows(back) == _rows(flat)


def test_mineru_media_context_matches_reference_walk(spark):
    """media_context == the reference's fore/back word accumulation
    (pdf2md_preprocessing.py:416-440) on a hand-checked fixture."""
    rows = [
        ("d1", "text", "a b c d e", "", 0),
        ("d1", "image", "cap", "d1/image_1", 1),
        ("d1", "text", "f g", "", 2),
        ("d1", "text", "h i j", "", 3),
        ("d2", "image", "solo", "d2/image_1", 0),
    ]
    flat = spark.createDataFrame(
        rows, "doc_id string, kind string, text string, media_ref string, offset int"
    )
    got = {r.media_ref: r.context for r in mineru.media_context(flat, 3).collect()}
    # before = last 3 words of preceding text, after = first 3 of following
    assert got["d1/image_1"] == "c d e f g h"
    assert got["d2/image_1"] == ""


def test_mineru_media_context_long_doc_not_quadratic(spark):
    """A pathological 10k-span single doc completes fast (the unbounded
    prefix/suffix windows this replaced were O(s²) per doc) and every
    context equals the reference's pure-Python fore/back walk."""
    import time

    n, nw = 10_000, 7
    rows = []
    for i in range(n):
        if i % 40 == 7:
            rows.append(("big", "image", f"cap {i}", f"big/image_{i}", i))
        else:
            # vary word counts, include empty spans (1 empty word each)
            rows.append(("big", "text", " ".join(f"w{i}_{j}" for j in range(i % 4)), "", i))
    flat = spark.createDataFrame(
        rows, "doc_id string, kind string, text string, media_ref string, offset int"
    ).repartition(1).cache()
    flat.count()
    t0 = time.perf_counter()
    got = {r.media_ref: r.context for r in mineru.media_context(flat, nw).collect()}
    wall = time.perf_counter() - t0
    flat.unpersist()
    # reference walk: last/first nw words of the split-by-space joins
    texts = [(o, t) for (_, k, t, _, o) in rows if k == "text"]
    for (_, k, _, ref, o) in rows:
        if k != "image":
            continue
        bw = " ".join(t for (oo, t) in texts if oo < o).split(" ")
        aw = " ".join(t for (oo, t) in texts if oo > o).split(" ")
        want = (" ".join(bw[-nw:]) + " " + " ".join(aw[:nw])).strip()
        assert got[ref] == want, ref
    assert wall < 60, f"10k-span doc took {wall:.1f}s — quadratic regression?"


def test_mineru_glob_reads_many_files(spark, tmp_path):
    """Directory-of-files layout: one content list per doc, doc_id from the
    filename stem."""
    import json

    for i in range(3):
        items = [
            {"type": "text", "text": f"doc {i} first paragraph", "page_idx": 0},
            {"type": "image", "img_path": "images/x.jpg",
             "img_caption": [f"figure {i}"], "page_idx": 0},
        ]
        (tmp_path / f"doc{i}_content_list.json").write_text(json.dumps(items))
    spans = mineru.content_list_spans(
        mineru.read_content_lists(spark, str(tmp_path / "*_content_list.json"))
    )
    assert spans.count() == 6
    assert sorted(
        r.doc_id for r in spans.select("doc_id").distinct().collect()
    ) == ["doc0", "doc1", "doc2"]
    img = spans.filter(F.col("doc_id") == "doc1").filter(F.col("kind") == "image")
    r = img.collect()[0]
    assert r.media_ref == "doc1/image_1" and r.text == "figure 1" and r.offset == 1


# ---- DOCX (S1) --------------------------------------------------------------


def _fixture_docx(tmp_path, name="mydoc"):
    p = tmp_path / f"{name}.docx"
    docx.write_docx(
        [
            "alpha bravo charlie delta",
            ("image", FAKE_JPEG),
            "echo foxtrot golf",
            "hotel india juliet",
        ],
        str(p),
    )
    return p


def test_docx_reader_extracts_text_images_and_context(spark, tmp_path):
    _fixture_docx(tmp_path)
    spans = docx.docx_spans(spark, str(tmp_path / "*.docx"), context_length=10)
    got = sorted(tuple(r) for r in spans.collect())
    assert got == sorted([
        ("mydoc", "text", "alpha bravo charlie delta", "", 0),
        # before = last 10 chars of para 0, after = first 10 of para 1
        # (reference extract_image_context, preprocessing.py:215-236)
        ("mydoc", "image", "rlie delta echo foxtr", "mydoc/image_1", 1),
        ("mydoc", "text", "echo foxtrot golf", "", 2),
        ("mydoc", "text", "hotel india juliet", "", 3),
    ])
    m = docx.docx_media(spark, str(tmp_path / "*.docx")).collect()
    assert len(m) == 1
    assert (m[0].doc_id, m[0].media_ref) == ("mydoc", "mydoc/image_1")
    assert bytes(m[0].content) == FAKE_JPEG  # bytes never touched the driver


def test_docx_spans_drive_pipeline(spark, tmp_path):
    _fixture_docx(tmp_path)
    spans = docx.docx_spans(spark, str(tmp_path / "*.docx"))
    chunks = chunker.chunk_docs(spans)
    mentions, _ = extractor.extract_mentions_and_triples(chunks)
    assert mentions.count() > 0
    assert media.media_spans(spans).count() == 1


# ---- PDF (S2) ---------------------------------------------------------------


def test_pdf_reader_extracts_text_images_and_context(spark, tmp_path):
    pdf.write_pdf(
        [
            ["first line of text", "second (escaped) line"],
            [("image", FAKE_JPEG), "third line after image"],
        ],
        str(tmp_path / "mypdf.pdf"),
    )
    spans = pdf.pdf_spans(spark, str(tmp_path / "*.pdf"), context_length=12)
    got = sorted(tuple(r) for r in spans.collect())
    assert got == sorted([
        ("mypdf", "text", "first line of text", "", 0),
        ("mypdf", "text", "second (escaped) line", "", 1),
        ("mypdf", "image", "scaped) line third line a", "mypdf/image_1", 2),
        ("mypdf", "text", "third line after image", "", 3),
    ])
    m = pdf.pdf_media(spark, str(tmp_path / "*.pdf")).collect()
    assert len(m) == 1 and bytes(m[0].content) == FAKE_JPEG


def test_pdf_spans_drive_pipeline(spark, tmp_path):
    pdf.write_pdf(
        [["kappa lambda sigma omega epsilon", "upsilon omicron theta"]],
        str(tmp_path / "tiny.pdf"),
    )
    spans = pdf.pdf_spans(spark, str(tmp_path / "*.pdf"))
    chunks = chunker.chunk_docs(spans)
    mentions, triples = extractor.extract_mentions_and_triples(chunks)
    assert mentions.count() > 0 and triples.count() > 0


@needs_ref_content_list
def test_full_pipeline_runs_from_mineru_source(spark, tmp_path):
    """The whole checkpointed KG pipeline runs end-to-end from the
    reference's REAL MinerU content list as the spans front end — nodes and
    edges materialize, spans checkpoint carries the 204-item sequence."""
    from mmgraphrag_spark.plans.pipeline import Pipeline

    work = str(tmp_path / "work")
    pipe = Pipeline(
        spark, sf_dir="unused", work_dir=work,
        source=("mineru", REF_CONTENT_LIST),
    )
    ran = pipe.run(resume=False, parallel=False)
    assert all(ran.values())
    assert spark.read.parquet(f"{work}/spans").count() == 204
    nodes = spark.read.parquet(f"{work}/nodes")
    edges = spark.read.parquet(f"{work}/edges")
    assert nodes.count() > 100 and edges.count() > 100
    # media side populated from the 12 img_path items
    assert spark.read.parquet(f"{work}/img_mentions").count() > 0

    # the CLI's query half runs over the same work dir: context renders,
    # the augmented prompt embeds it (reference index->query lifecycle)
    from mmgraphrag_spark.__main__ import _local_query

    out = _local_query(spark, work, "dice loss for data imbalanced tasks")
    assert out["context"].count("```csv") == 3
    assert out["context"] in out["augmented"]


def test_mineru_convert_shells_out_and_feeds_content_lists(spark, tmp_path, monkeypatch):
    """S3 front half: mineru_convert drives the magic-pdf CLI exactly as the
    reference does (pdf2md_preprocessing.py:316-349 — `-p <pdf> -o <out>`,
    `<out>/<name>/auto/<name>_content_list.json` layout, already-converted
    resume skip) and its output feeds read_content_lists unchanged."""
    import os

    fake_bin = tmp_path / "bin"
    fake_bin.mkdir()
    fake = fake_bin / "magic-pdf"
    fake.write_text(
        '#!/bin/sh\n'
        'pdf="$2"; out="$4"\n'
        'name=$(basename "$pdf" .pdf)\n'
        'mkdir -p "$out/$name/auto"\n'
        'printf \'[{"type": "text", "text": "hello from %s", "page_idx": 0},\n'
        ' {"type": "image", "img_path": "images/x.jpg",'
        ' "img_caption": ["fig"], "page_idx": 0}]\' "$name" '
        '> "$out/$name/auto/${name}_content_list.json"\n'
    )
    fake.chmod(0o755)
    monkeypatch.setenv("PATH", f"{fake_bin}:{os.environ['PATH']}")
    (tmp_path / "a.pdf").write_bytes(b"%PDF-1.4 fake")
    (tmp_path / "b.pdf").write_bytes(b"%PDF-1.4 fake")
    out = tmp_path / "out"
    lists_glob = mineru.mineru_convert(str(tmp_path / "*.pdf"), str(out))
    spans = mineru.content_list_spans(
        mineru.read_content_lists(spark, lists_glob)
    )
    rows = sorted((r.doc_id, r.kind, r.media_ref) for r in spans.collect())
    assert rows == [
        ("a", "image", "a/image_1"), ("a", "text", ""),
        ("b", "image", "b/image_1"), ("b", "text", ""),
    ]
    # resume: a failing binary must not matter once outputs exist
    fake.write_text("#!/bin/sh\nexit 1\n")
    assert mineru.mineru_convert(str(tmp_path / "*.pdf"), str(out)) == lists_glob
    # missing binary fails loudly, never a silent empty scan
    monkeypatch.setenv("PATH", str(tmp_path))  # no magic-pdf here
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="not on PATH"):
        mineru.mineru_convert(str(tmp_path / "*.pdf"), str(tmp_path / "out2"))


def test_pdf_reader_decodes_cid_type0_text():
    """A CID/Type0 PDF (hex show strings, /Identity-H, /ToUnicode CMap with
    bfchar + both bfrange forms) decodes to the same spans as its WinAnsi
    twin — the wild-academic-PDF encoding the reference reads via PyMuPDF
    (pdf_preprocessing.py:313-399). The fixture's codes are non-identity,
    so a latin-1 fallback would garble: this proves the CMap is applied."""
    pages = [
        ["Dice loss for Data-imbalanced NLP tasks!",
         "We use the F1 score (macro), see: section 3."],
        [("image", FAKE_JPEG), "after the figure, more prose."],
    ]
    blob_cid = pdf.pdf_bytes(pages, cid=True)
    blob_simple = pdf.pdf_bytes(pages)
    got_cid, media_cid = pdf.parse_pdf("d", blob_cid)
    got_simple, _ = pdf.parse_pdf("d", blob_simple)
    assert got_cid == got_simple
    assert [s[2] for s in got_cid if s[1] == "text"] == [
        "Dice loss for Data-imbalanced NLP tasks!",
        "We use the F1 score (macro), see: section 3.",
        "after the figure, more prose.",
    ]
    assert len(media_cid) == 1 and media_cid[0][3] == FAKE_JPEG


def test_pdf_reader_drops_type0_without_tounicode_loudly():
    """A Type0 font with NO /ToUnicode CMap and no invertible embedded font
    must yield EMPTY text (loud drop), never latin-1 garbage — the
    documented remaining swap point."""
    blob = pdf.pdf_bytes([["hello world"]], cid=True)
    # strip the /ToUnicode reference from the font object
    import re as _re

    blob = _re.sub(rb"/ToUnicode \d+ 0 R", b"", blob)
    spans, _ = pdf.parse_pdf("d", blob)
    assert [s for s in spans if s[1] == "text"] == []


def test_pdf_reader_decodes_type0_via_embedded_truetype_cmap():
    """A Type0 PDF with NO /ToUnicode but an embedded subset TrueType
    (/DescendantFonts -> /FontDescriptor -> /FontFile2) decodes by
    inverting the font's own format-4 cmap table — the shape wild
    subset-font PDFs have, which the reference reads via PyMuPDF's native
    font handling (pdf_preprocessing.py:313-399). Codes are non-identity,
    so latin-1 would garble and an ignored font file would drop."""
    pages = [
        ["Dice loss for Data-imbalanced NLP tasks!",
         "We use the F1 score (macro), see: section 3."],
        [("image", FAKE_JPEG), "after the figure, more prose."],
    ]
    blob = pdf.pdf_bytes(pages, cid=True, tounicode=False)
    assert b"/ToUnicode" not in blob and b"/FontFile2" in blob
    got, media = pdf.parse_pdf("d", blob)
    got_simple, _ = pdf.parse_pdf("d", pdf.pdf_bytes(pages))
    assert got == got_simple
    assert len(media) == 1 and media[0][3] == FAKE_JPEG


def test_ttf_cmap_inverse_formats_and_cid_to_gid_stream():
    """The TrueType cmap inverse handles format 12 (32-bit groups) and
    format 6 (trimmed) subtables, picks the lowest code point when two
    chars share a glyph, and composes with a /CIDToGIDMap STREAM (2 bytes
    per CID) instead of /Identity."""
    import struct

    def ttf_with(subtable: bytes, plat=3, enc=1) -> bytes:
        cmap = struct.pack(">HHHHI", 0, 1, plat, enc, 12) + subtable
        return (
            struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
            + b"cmap" + struct.pack(">III", 0, 28, len(cmap))
            + cmap
        )

    # format 12: 'A','B' -> gids 7,8 ; 'a' -> gid 7 too (ties: lowest wins)
    f12 = struct.pack(
        ">HHIII", 12, 0, 16 + 24, 0, 2
    ) + struct.pack(">III", ord("A"), ord("B"), 7) + struct.pack(
        ">III", ord("a"), ord("a"), 7
    )
    inv = pdf._ttf_gid_to_unicode(ttf_with(f12, plat=0, enc=4))
    assert inv == {7: "A", 8: "B"}

    # format 6: first=0x30 ('0'..'2') -> gids 5,0,6 (gid 0 = unmapped)
    f6 = struct.pack(">HHHHHHHH", 6, 20, 0, 0x30, 3, 5, 0, 6)
    inv6 = pdf._ttf_gid_to_unicode(ttf_with(f6))
    assert inv6 == {5: "0", 6: "2"}

    # compose with a CIDToGIDMap stream: CID 1 -> gid 5, CID 2 -> gid 6
    ttf = ttf_with(f6)
    gmap = struct.pack(">HHH", 0, 5, 6)  # CID 0 -> gid 0 (notdef)
    bodies = {
        1: b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H"
           b" /DescendantFonts [2 0 R] >>",
        2: b"<< /Subtype /CIDFontType2 /FontDescriptor 3 0 R"
           b" /CIDToGIDMap 5 0 R >>",
        3: b"<< /FontFile2 4 0 R >>",
        4: b"<< /Length " + str(len(ttf)).encode()
           + b" >>\nstream\n" + ttf + b"\nendstream",
        5: b"<< /Length " + str(len(gmap)).encode()
           + b" >>\nstream\n" + gmap + b"\nendstream",
    }
    cmap, width = pdf._type0_fontfile_cmap(bodies[1], bodies)
    assert width == 2 and cmap == {1: "0", 2: "2"}


@needs_ref_pdf
def test_pdf_reader_extracts_real_acl_paper_text():
    """The subset reader handles the reference's REAL example PDF (pure
    function, no Spark): FlateDecode content streams, TJ arrays with
    kerned word spaces. Known phrases from the paper must surface."""
    blob = open(REF_PDF, "rb").read()
    spans, _ = pdf.parse_pdf("acl45", blob)
    texts = [s[2] for s in spans if s[1] == "text"]
    assert len(texts) > 100
    full = " ".join(texts).lower()
    for phrase in ("dice loss", "data-imbalanced", "cross entropy", "f1 score"):
        assert phrase in full, phrase
    # kern heuristic recovered word boundaries (not one glued blob)
    assert sum(len(t.split()) for t in texts) > 4000


@needs_ref_pdf
@needs_ref_content_list
def test_pdf_and_mineru_front_ends_agree_on_the_same_paper(spark):
    """Two REAL ingestion paths over the same physical document (the
    reference's example paper: direct-PDF subset reader vs MinerU content
    list) produce substantially the same entity inventory downstream —
    cross-format robustness, not just per-format unit checks. (Differences
    come from PDF line-break hyphenation and footnote text MinerU folds
    away, so containment, not equality, is the right bar.)"""
    def names(spans):
        chunks = chunker.chunk_docs(spans)
        m, _ = extractor.extract_mentions_and_triples(chunks)
        return {r.entity_name for r in m.select("entity_name").distinct().collect()}

    a = names(pdf.pdf_spans(spark, REF_PDF))
    b = names(mineru.content_list_spans(mineru.read_content_lists(spark, REF_CONTENT_LIST)))
    assert len(a) > 1000 and len(b) > 1000
    containment = len(a & b) / min(len(a), len(b))
    assert containment >= 0.5, containment


# ---- S1/S2 distributed serialize ∘ parse round trips ------------------------


def _expected_roundtrip(flat_pdf, n=100):
    """Reference _context recomputation over a pandas spans frame."""
    out = []
    for _, g in flat_pdf.groupby("doc_id"):
        g = g.sort_values("offset")
        texts = [t if k == "text" else "" for k, t in zip(g["kind"], g["text"])]
        for i, r in enumerate(g.itertuples()):
            if r.kind == "text":
                out.append((r.doc_id, "text", r.text, "", r.offset))
            else:
                before = "".join(texts[:i])[-n:].strip()
                after = "".join(texts[i + 1:])[:n].strip()
                ctx = f"{before} {after}".strip()
                out.append((r.doc_id, "image", ctx, r.media_ref, r.offset))
    return sorted(out)


def test_docx_distributed_round_trip_matches_reference_context(spark):
    """spans -> executor-built .docx blobs -> parse_docx == spans with the
    image captions replaced by the reference's ±100-char context walk
    (preprocessing.py:215-236); text/media_ref/offset round-trip exactly."""
    flat = synth.flat_spans(spark, SF_TINY)
    back = docx.docx_spans_from_blobs(docx.spans_to_docx(flat))
    assert _rows(back) == _expected_roundtrip(flat.toPandas())


def test_pdf_distributed_round_trip_matches_reference_context(spark):
    """Same round trip through COS serialization: BT/Tj text + DCTDecode
    XObject draws; the two real-format front ends agree bit-for-bit."""
    flat = synth.flat_spans(spark, SF_TINY)
    back = pdf.pdf_spans_from_blobs(pdf.spans_to_pdf(flat))
    assert _rows(back) == _expected_roundtrip(flat.toPandas())


def test_docx_serializer_escapes_xml_specials(tmp_path):
    """Paragraph text containing XML metacharacters survives the OOXML
    round trip (serializer escapes, ElementTree unescapes)."""
    tricky = 'a < b && c > "d" <w:t>fake</w:t>'
    spans, _ = docx.parse_docx("d", docx.docx_bytes([tricky, "plain"]))
    assert spans[0][2] == tricky and spans[1][2] == "plain"


def test_pdf_reader_decodes_type0_via_embedded_cff_charset():
    """A Type0 PDF with NO /ToUnicode but an embedded CFF
    (/DescendantFonts -> /FontDescriptor -> /FontFile3 /Type1C) decodes by
    resolving the CFF charset's glyph names to unicode — the
    LaTeX/commercial subset-CFF shape the reference reads via PyMuPDF
    (pdf_preprocessing.py:313-399), previously the loud-drop gap. Codes
    are non-identity, so latin-1 would garble and an ignored font file
    would drop everything."""
    pages = [
        ["Dice loss for Data-imbalanced NLP tasks!",
         "We use the F1 score (macro), see: section 3."],
        [("image", FAKE_JPEG), "after the figure, more prose."],
    ]
    blob = pdf.pdf_bytes(pages, cid=True, tounicode=False, fontfile="cff")
    assert b"/ToUnicode" not in blob and b"/FontFile3" in blob
    assert b"/FontFile2" not in blob
    got, media = pdf.parse_pdf("d", blob)
    got_simple, _ = pdf.parse_pdf("d", pdf.pdf_bytes(pages))
    assert got == got_simple
    assert len(media) == 1 and media[0][3] == FAKE_JPEG


def test_cff_gid_to_unicode_charset_paths():
    """The CFF inverse handles standard-string SIDs (charset format 0),
    custom String-INDEX names (uniXXXX and single-char), accent-suffix
    names, and refuses CID-keyed CFFs (no glyph names -> loud drop)."""
    import struct

    # standard-strings route: glyphs [.notdef, space, H, e, eacute]
    # SIDs: space=1, A..Z start at 34 -> H=41; a..z start at 66 -> e=70;
    # eacute=207 (accented block)
    assert pdf._CFF_STD_STRINGS[1] == "space"
    assert pdf._CFF_STD_STRINGS[41] == "H"
    assert pdf._CFF_STD_STRINGS[70] == "e"
    assert pdf._CFF_STD_STRINGS[207] == "eacute"

    def index(items):
        if not items:
            return b"\x00\x00"
        offs = [1]
        for it in items:
            offs.append(offs[-1] + len(it))
        return (struct.pack(">HB", len(items), 1)
                + bytes(offs) + b"".join(items))

    def mini_cff(sids, strings=(), cid_keyed=False):
        n = len(sids) + 1  # + .notdef
        header = b"\x01\x00\x04\x01"
        name_idx = index([b"T"])
        strings_idx = index(list(strings))
        gsubr_idx = index([])
        charstrings = index([b"\x0e"] * n)
        charset = b"\x00" + b"".join(struct.pack(">H", s) for s in sids)
        ros = b""
        if cid_keyed:  # /ROS: registry SID, ordering SID, supplement
            ros = b"\x8c\x8c\x8b\x0c\x1e"
        top = (ros + b"\x1d" + struct.pack(">i", 0) + b"\x0f"
               + b"\x1d" + struct.pack(">i", 0) + b"\x11")
        top_idx_len = len(index([top]))
        base = (len(header) + len(name_idx) + top_idx_len
                + len(strings_idx) + len(gsubr_idx))
        top = (ros + b"\x1d" + struct.pack(">i", base) + b"\x0f"
               + b"\x1d" + struct.pack(">i", base + len(charset)) + b"\x11")
        return (header + name_idx + index([top]) + strings_idx + gsubr_idx
                + charset + charstrings)

    got = pdf._cff_gid_to_unicode(mini_cff([1, 41, 70, 207]))
    assert got == {1: " ", 2: "H", 3: "e", 4: "é"}

    # custom strings: SID 391 -> "uni2605" (★), SID 392 -> "Z"
    got2 = pdf._cff_gid_to_unicode(
        mini_cff([391, 392], strings=[b"uni2605", b"Z"])
    )
    assert got2 == {1: "★", 2: "Z"}

    # CID-keyed (/ROS present): charset carries CIDs, not names -> {}
    assert pdf._cff_gid_to_unicode(mini_cff([1, 41], cid_keyed=True)) == {}
