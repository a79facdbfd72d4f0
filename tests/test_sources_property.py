"""Property-based round trips for the ingestion parsers (pure functions —
no Spark session needed, so hypothesis can drive many examples cheaply)."""

from __future__ import annotations

import string

from hypothesis import example, given, settings, strategies as st

from mmgraphrag_spark.sources import docx, pdf

# printable latin-1 text without the XML/PDF-delimiter edge cases the
# writers escape for us anyway — plus explicit escape-worthy characters
_line = st.text(
    alphabet=string.ascii_letters + string.digits + " ()\\.,-",
    min_size=1, max_size=60,
).map(str.strip).filter(bool)

_jpeg = st.binary(min_size=4, max_size=64).map(
    lambda b: b"\xff\xd8" + b.replace(b"endstream", b"endstreax") + b"\xff\xd9"
)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.one_of(_line, st.tuples(st.just("image"), _jpeg)),
                min_size=1, max_size=8))
@example(items=["ET", "a (ET) b"])
def test_pdf_write_parse_round_trip(tmp_path_factory, items):
    """write_pdf ∘ parse_pdf preserves every text line (escapes included)
    and every image byte-for-byte, in order. A shown "ET" must not end its
    text block."""
    p = tmp_path_factory.mktemp("pdfprop") / "doc.pdf"
    pdf.write_pdf([items], str(p))
    spans, media = pdf.parse_pdf("doc", p.read_bytes())
    got_texts = [s[2] for s in spans if s[1] == "text"]
    want_texts = [x for x in items if isinstance(x, str)]
    assert got_texts == want_texts
    want_imgs = [x[1] for x in items if not isinstance(x, str)]
    assert [m[3] for m in media] == want_imgs
    # offsets dense and ordered
    assert [s[4] for s in spans] == list(range(len(spans)))


@settings(max_examples=25, deadline=None)
@given(st.lists(st.one_of(_line, st.tuples(st.just("image"), _jpeg)),
                min_size=1, max_size=8))
def test_docx_write_parse_round_trip(tmp_path_factory, items):
    # XML-escape-sensitive chars are excluded from the alphabet (the
    # fixture writer does not escape; the READER under test handles any
    # well-formed document.xml)
    safe = [x if not isinstance(x, str)
            else x.replace("&", "").replace("<", "").replace(">", "") or "x"
            for x in items]
    p = tmp_path_factory.mktemp("docxprop") / "doc.docx"
    docx.write_docx(safe, str(p))
    spans, media = docx.parse_docx("doc", p.read_bytes())
    got_texts = [s[2] for s in spans if s[1] == "text"]
    want_texts = [x for x in safe if isinstance(x, str) and x.strip()]
    assert got_texts == want_texts
    want_imgs = [x[1] for x in safe if not isinstance(x, str)]
    assert [bytes(m[3]) for m in media] == want_imgs
    assert [s[4] for s in spans] == list(range(len(spans)))
