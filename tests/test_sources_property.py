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


# show strings with balanced, unescaped parentheses nested a few levels deep,
# which PDF allows inside a literal string (the package's writer escapes
# every paren, so the round trip above never produces them)
_nested = st.recursive(
    st.text(alphabet=string.ascii_letters + string.digits + " ", max_size=6),
    lambda inner: st.lists(inner, max_size=3).map(lambda xs: "(" + "".join(xs) + ")"),
    max_leaves=8,
)
_show = st.lists(_nested, min_size=1, max_size=4).map("".join)


def _content_pdf(cs: bytes) -> bytes:
    """A minimal PDF: one object holding the raw content stream ``cs``."""
    head = b"%%PDF-1.4\n1 0 obj\n<< /Length %d >>\nstream\n" % len(cs)
    return head + cs + b"\nendstream\nendobj\n%%EOF\n"


@settings(max_examples=50, deadline=None)
@given(st.lists(st.lists(_show, min_size=1, max_size=3), min_size=1, max_size=4),
       st.sampled_from(["Tj", "TJ"]))
@example(blocks=[["a (b) c"]], op="Tj")
@example(blocks=[["x (y) z", "w"]], op="TJ")
def test_pdf_show_strings_with_nested_parens(blocks, op):
    """A literal string shows whole, nested parentheses included, by one Tj
    per string or inside a TJ array whose -200 kerns render as spaces."""
    streams = []
    for strs in blocks:
        lits = [b"(" + s.encode("latin-1") + b")" for s in strs]
        if op == "Tj":
            shows = b" ".join(lit + b" Tj" for lit in lits)
        else:
            shows = b"[" + b" -200 ".join(lits) + b"] TJ"
        streams.append(b"BT /F1 12 Tf " + shows + b" ET")
    spans, _ = pdf.parse_pdf("doc", _content_pdf(b"\n".join(streams)))
    sep = "" if op == "Tj" else " "
    want = [t for t in (sep.join(strs).strip() for strs in blocks) if t]
    assert [s[2] for s in spans] == want


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
