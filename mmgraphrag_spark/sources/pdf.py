"""S2 — direct-PDF ingestion source (stdlib re + zlib subset reader).

The reference reads PDFs with PyMuPDF: page text via ``page.get_text``,
images via ``page.get_images``/``extract_image``, image context = ±100
chars of neighboring text (/root/reference/mmgraphrag/pdf_preprocessing.py:
206-262,313-399). PyMuPDF is a native lib not present here, so this module
implements the well-formed subset directly on the COS object syntax:

* objects are located by scanning ``N 0 obj ... endobj`` (no xref chasing —
  linear scan covers well-formed files and survives mild xref damage);
* streams are cut between ``stream``/``endstream``; ``/FlateDecode``
  inflates with zlib;
* text comes from content-stream show operators: ``(..) Tj``, ``(..) '``,
  ``<hex> Tj``, ``[(..) <hex> ..] TJ`` inside BT/ET blocks, with PDF string
  escapes (octal, \\n, \\(, ...) decoded;
* CID/Type0 fonts (most wild academic PDFs) are decoded through their
  ``/ToUnicode`` CMaps: font resource dicts (``/Font << /F1 N 0 R >>``) are
  resolved to font objects, ``beginbfchar``/``beginbfrange`` sections map
  code-width-sized codes (``begincodespacerange``) to UTF-16BE text, and
  the active font is tracked across ``Tf`` operators — matching what the
  reference gets from PyMuPDF on the common case
  (pdf_preprocessing.py:313-399). A Type0 font WITHOUT a /ToUnicode CMap
  falls back to inverting the embedded font program itself: a subset
  TrueType's own ``cmap`` table (/FontFile2; formats 4/6/12; composed
  with /CIDToGIDMap), or a CFF's charset glyph names (/FontFile3 /Type1C
  or OpenType-wrapped; standard strings + String INDEX, names resolved
  via an AGL subset / uniXXXX / accent-suffix rules) — what font-aware
  readers do natively. Only a genuinely unmappable font (CID-keyed CFF
  with no /ToUnicode — its charset maps to registry CIDs, not names — or
  no embedded program at all) remains the swap point: its show strings
  are dropped loudly (empty, never garbled);
* image XObjects (``/Subtype /Image``) are collected in object order and
  matched to ``Do`` draw operators sequentially; raw ``/DCTDecode`` stream
  bytes ARE the jpeg.

Spans mapping: each BT/ET text block -> one ``kind='text'`` span; each
drawn image -> ``kind='image'`` span with ``media_ref=<doc_id>/image_<n>``
and the reference's ±context_length-char before/after context as text.

Scale shape: identical to docx.py — binaryFile scan, per-document parse in
an Arrow batch, bytes never on the driver.
"""

from __future__ import annotations

import io
import re
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from .docx import MEDIA_SCHEMA, SPAN_SCHEMA, _context

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
# a literal string's parens and escapes: a backslash escapes the byte after it
_PAREN_RE = re.compile(rb"\\.|[()]", re.S)
# what ends a BT block's scan: ET, unless it sits inside a literal string
_BT_END_RE = re.compile(rb"\(|ET")
# in-order BT-block tokens: font select, literal string, hex show, TJ array
_BT_TOK_RE = re.compile(
    rb"/(\w+)\s+[-\d.]+\s+Tf|\(|<([0-9A-Fa-f\s]*)>\s*(?:Tj|')|\[", re.S
)
# inside a TJ array: literal/hex strings interleaved with kerning numbers
_ARRAY_TOK_RE = re.compile(rb"\(|<([0-9A-Fa-f\s]*)>|(-?\d+(?:\.\d+)?)|\]", re.S)
_SHOW_RE = re.compile(rb"\s*(?:Tj|')")
_TJ_RE = re.compile(rb"\s*TJ")
# a TJ kern adjustment at or beyond this magnitude (thousandths of an em,
# applied negatively) renders as an inter-word gap — the standard heuristic
# for PDFs that kern word spaces instead of emitting space glyphs
TJ_SPACE_KERN = 120
_ESC_RE = re.compile(rb"\\(\d{1,3}|.)", re.S)
_DO_RE = re.compile(rb"/\w+\s+Do")

_ESC = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
        b"(": b"(", b")": b")", b"\\": b"\\"}


def _unescape(s: bytes) -> bytes:
    def sub(m: re.Match) -> bytes:
        g = m.group(1)
        if g.isdigit():
            return bytes([int(g, 8) & 0xFF])
        return _ESC.get(g, g)

    return _ESC_RE.sub(sub, s)


_LEN_RE = re.compile(rb"/Length\s+(\d+)(?!\s+0\s+R)")
_STREAM_START_RE = re.compile(rb"stream\r?\n")


def _stream_data(body: bytes) -> bytes | None:
    sm = _STREAM_START_RE.search(body)
    if not sm:
        return None
    data = None
    lm = _LEN_RE.search(body[: sm.start()])
    if lm:
        # /Length is authoritative: binary stream data may itself contain
        # \r\nendstream-looking byte runs (or END in \r, which the regex
        # fallback's \r?\n would wrongly eat as a line ending)
        cand = body[sm.end(): sm.end() + int(lm.group(1))]
        if b"endstream" in body[sm.end() + len(cand): sm.end() + len(cand) + 11]:
            data = cand
    if data is None:
        # no usable /Length (indirect N 0 R, or inconsistent): delimiter scan
        m = _STREAM_RE.search(body)
        if not m:
            return None
        data = m.group(1)
    if b"/FlateDecode" in body[: sm.start()]:
        try:
            data = zlib.decompress(data)
        except zlib.error:
            return None
    return data


# ---- /ToUnicode CMap decoding (CID/Type0 fonts) ----------------------------

_CODESPACE_RE = re.compile(rb"begincodespacerange\s*(.*?)endcodespacerange", re.S)
_BFCHAR_RE = re.compile(rb"beginbfchar\s*(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange\s*(.*?)endbfrange", re.S)
_HEXSTR_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")
_BFRANGE_ENTRY_RE = re.compile(
    rb"<([0-9A-Fa-f\s]*)>\s*<([0-9A-Fa-f\s]*)>\s*"
    rb"(?:<([0-9A-Fa-f\s]*)>|\[(.*?)\])",
    re.S,
)
_FONTRES_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONTREF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+0\s+R")
_TOUNI_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")

#: sentinel for "simple font: decode bytes as latin-1" (the pre-CMap path)
_SIMPLE = object()


def _hexbytes(h: bytes) -> bytes:
    h = re.sub(rb"\s+", b"", h)
    if len(h) % 2:
        h += b"0"  # spec: an odd trailing hex digit implies a final 0
    return bytes.fromhex(h.decode("ascii"))


def _utf16(b: bytes) -> str:
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return ""


def _parse_tounicode(data: bytes) -> tuple[dict[int, str], int]:
    """A /ToUnicode CMap stream -> ({code: text}, code byte width).

    Handles ``begincodespacerange`` (code width), ``beginbfchar`` pairs and
    ``beginbfrange`` triples in both the ``<lo> <hi> <dst>`` (incrementing
    last UTF-16 code unit, per spec) and ``<lo> <hi> [<d1> ...]`` forms —
    the structures PyMuPDF resolves natively for the reference
    (pdf_preprocessing.py:313-399)."""
    width = 2
    m = _CODESPACE_RE.search(data)
    if m:
        hx = _HEXSTR_RE.search(m.group(1))
        if hx:
            width = max(1, len(_hexbytes(hx.group(1))))
    cmap: dict[int, str] = {}
    for sec in _BFCHAR_RE.finditer(data):
        toks = _HEXSTR_RE.findall(sec.group(1))
        for i in range(0, len(toks) - 1, 2):
            src = int.from_bytes(_hexbytes(toks[i]), "big")
            cmap[src] = _utf16(_hexbytes(toks[i + 1]))
    for sec in _BFRANGE_RE.finditer(data):
        for em in _BFRANGE_ENTRY_RE.finditer(sec.group(1)):
            lo = int.from_bytes(_hexbytes(em.group(1)), "big")
            hi = int.from_bytes(_hexbytes(em.group(2)), "big")
            if em.group(3) is not None:
                base = _utf16(_hexbytes(em.group(3)))
                if base:
                    for k in range(hi - lo + 1):
                        cmap[lo + k] = base[:-1] + chr(ord(base[-1]) + k)
            else:
                for k, d in enumerate(_HEXSTR_RE.findall(em.group(4))):
                    if lo + k > hi:
                        break
                    cmap[lo + k] = _utf16(_hexbytes(d))
    return cmap, width


# ---- embedded-TrueType cmap fallback (Type0 fonts without /ToUnicode) ------

_DESCFONTS_ARR_RE = re.compile(rb"/DescendantFonts\s*\[\s*(\d+)\s+0\s+R")
_DESCFONTS_REF_RE = re.compile(rb"/DescendantFonts\s+(\d+)\s+0\s+R")
_FONTDESC_RE = re.compile(rb"/FontDescriptor\s+(\d+)\s+0\s+R")
_FONTFILE2_RE = re.compile(rb"/FontFile2\s+(\d+)\s+0\s+R")
_CID2GID_RE = re.compile(rb"/CIDToGIDMap\s+(\d+)\s+0\s+R")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")


def _u16(b: bytes, o: int) -> int:
    return int.from_bytes(b[o:o + 2], "big")


def _u32(b: bytes, o: int) -> int:
    return int.from_bytes(b[o:o + 4], "big")


def _ttf_gid_to_unicode(ttf: bytes) -> dict[int, str]:
    """A TrueType blob -> {glyph id: unicode char}, inverting its ``cmap``
    table. Subset fonts embedded via /FontFile2 keep their character-to-glyph
    map even when the PDF omits /ToUnicode, so the inverse recovers text the
    way font-aware readers (the reference's PyMuPDF,
    pdf_preprocessing.py:313-399) do natively. Supports the subtable formats
    subsetters emit: 4 (segment delta/range), 6 (trimmed), 12 (32-bit
    groups); prefers the (3,1)/(0,*) Unicode encodings. When two characters
    share a glyph the LOWEST code point wins, deterministically."""
    try:
        if len(ttf) < 12:
            return {}
        n_tables = _u16(ttf, 4)
        cmap_off = None
        for i in range(n_tables):
            rec = 12 + 16 * i
            if ttf[rec:rec + 4] == b"cmap":
                cmap_off = _u32(ttf, rec + 8)
                break
        if cmap_off is None or cmap_off + 4 > len(ttf):
            return {}
        best = None  # (preference, subtable offset)
        for i in range(_u16(ttf, cmap_off + 2)):
            rec = cmap_off + 4 + 8 * i
            plat, enc = _u16(ttf, rec), _u16(ttf, rec + 2)
            off = cmap_off + _u32(ttf, rec + 4)
            pref = {(3, 1): 0, (0, 3): 1, (0, 4): 1}.get((plat, enc), 2 if plat == 0 else 3)
            if best is None or pref < best[0]:
                best = (pref, off)
        if best is None:
            return {}
        sub = best[1]
        char_to_gid: dict[int, int] = {}
        fmt = _u16(ttf, sub)
        if fmt == 4:
            seg2 = _u16(ttf, sub + 6)
            segs = seg2 // 2
            end_at, start_at = sub + 14, sub + 16 + seg2
            delta_at, range_at = start_at + seg2, start_at + 2 * seg2
            for s in range(segs):
                end_c = _u16(ttf, end_at + 2 * s)
                start_c = _u16(ttf, start_at + 2 * s)
                delta = _u16(ttf, delta_at + 2 * s)
                roff = _u16(ttf, range_at + 2 * s)
                if start_c > end_c or start_c == 0xFFFF:
                    continue
                for c in range(start_c, end_c + 1):
                    if roff == 0:
                        gid = (c + delta) & 0xFFFF
                    else:
                        at = range_at + 2 * s + roff + 2 * (c - start_c)
                        gid = _u16(ttf, at)
                        if gid:
                            gid = (gid + delta) & 0xFFFF
                    if gid:
                        char_to_gid.setdefault(c, gid)
        elif fmt == 6:
            first, cnt = _u16(ttf, sub + 6), _u16(ttf, sub + 8)
            for k in range(cnt):
                gid = _u16(ttf, sub + 10 + 2 * k)
                if gid:
                    char_to_gid.setdefault(first + k, gid)
        elif fmt == 12:
            n_groups = _u32(ttf, sub + 12)
            for g in range(n_groups):
                at = sub + 16 + 12 * g
                start_c, end_c = _u32(ttf, at), _u32(ttf, at + 4)
                start_g = _u32(ttf, at + 8)
                if end_c - start_c > 0x10FFFF:  # corrupt group: bail
                    return {}
                for k in range(end_c - start_c + 1):
                    if start_g + k:
                        char_to_gid.setdefault(start_c + k, start_g + k)
        gid_to_char: dict[int, str] = {}
        for c in sorted(char_to_gid):  # lowest code point wins per glyph
            gid_to_char.setdefault(char_to_gid[c], chr(c))
        return gid_to_char
    except (IndexError, ValueError, OverflowError):
        return {}


# ---- embedded-CFF charset fallback (Type0 /FontFile3 without /ToUnicode) ---

_FONTFILE3_RE = re.compile(rb"/FontFile3\s+(\d+)\s+0\s+R")

# CFF standard strings, SIDs 0-228 (Appendix A of the CFF spec; public
# format data). SIDs 229-390 are expert/oldstyle forms with no unicode
# mapping — genuinely unmappable, left absent. SIDs >= 391 index the
# font's own String INDEX.
_CFF_STD_STRINGS: tuple[str, ...] = tuple(
    [".notdef"]
    + ("space exclam quotedbl numbersign dollar percent ampersand quoteright"
       " parenleft parenright asterisk plus comma hyphen period slash").split()
    + "zero one two three four five six seven eight nine".split()
    + "colon semicolon less equal greater question at".split()
    + list("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
    + ("bracketleft backslash bracketright asciicircum underscore"
       " quoteleft").split()
    + list("abcdefghijklmnopqrstuvwxyz")
    + "braceleft bar braceright asciitilde".split()
    + ("exclamdown cent sterling fraction yen florin section currency"
       " quotesingle quotedblleft guillemotleft guilsinglleft guilsinglright"
       " fi fl endash dagger daggerdbl periodcentered paragraph bullet"
       " quotesinglbase quotedblbase quotedblright guillemotright ellipsis"
       " perthousand questiondown grave acute circumflex tilde macron breve"
       " dotaccent dieresis ring cedilla hungarumlaut ogonek caron emdash"
       " AE ordfeminine Lslash Oslash OE ordmasculine ae dotlessi lslash"
       " oslash oe germandbls onesuperior logicalnot mu trademark Eth"
       " onehalf plusminus Thorn onequarter divide brokenbar degree thorn"
       " threequarters twosuperior registered minus eth multiply"
       " threesuperior copyright").split()
    + ("Aacute Acircumflex Adieresis Agrave Aring Atilde Ccedilla Eacute"
       " Ecircumflex Edieresis Egrave Iacute Icircumflex Idieresis Igrave"
       " Ntilde Oacute Ocircumflex Odieresis Ograve Otilde Scaron Uacute"
       " Ucircumflex Udieresis Ugrave Yacute Ydieresis Zcaron aacute"
       " acircumflex adieresis agrave aring atilde ccedilla eacute"
       " ecircumflex edieresis egrave iacute icircumflex idieresis igrave"
       " ntilde oacute ocircumflex odieresis ograve otilde scaron uacute"
       " ucircumflex udieresis ugrave yacute ydieresis zcaron").split()
)

# Adobe-Glyph-List subset for the names above that are not resolvable by
# rule (single char / uniXXXX / base+accent-suffix)
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&",
    "quoteright": "’", "parenleft": "(", "parenright": ")",
    "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "zero": "0", "one": "1", "two": "2",
    "three": "3", "four": "4", "five": "5", "six": "6", "seven": "7",
    "eight": "8", "nine": "9", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?", "at": "@",
    "bracketleft": "[", "backslash": "\\", "bracketright": "]",
    "asciicircum": "^", "underscore": "_", "quoteleft": "‘",
    "braceleft": "{", "bar": "|", "braceright": "}", "asciitilde": "~",
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "fraction": "⁄", "yen": "¥", "florin": "ƒ",
    "section": "§", "currency": "¤", "quotesingle": "'",
    "quotedblleft": "“", "guillemotleft": "«",
    "guilsinglleft": "‹", "guilsinglright": "›", "fi": "ﬁ",
    "fl": "ﬂ", "endash": "–", "dagger": "†",
    "daggerdbl": "‡", "periodcentered": "·",
    "paragraph": "¶", "bullet": "•",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "quotedblright": "”", "guillemotright": "»",
    "ellipsis": "…", "perthousand": "‰",
    "questiondown": "¿", "grave": "`", "acute": "´",
    "circumflex": "ˆ", "tilde": "˜", "macron": "¯",
    "breve": "˘", "dotaccent": "˙", "dieresis": "¨",
    "ring": "˚", "cedilla": "¸", "hungarumlaut": "˝",
    "ogonek": "˛", "caron": "ˇ", "emdash": "—",
    "AE": "Æ", "ordfeminine": "ª", "Lslash": "Ł",
    "Oslash": "Ø", "OE": "Œ", "ordmasculine": "º",
    "ae": "æ", "dotlessi": "ı", "lslash": "ł",
    "oslash": "ø", "oe": "œ", "germandbls": "ß",
    "onesuperior": "¹", "logicalnot": "¬", "mu": "µ",
    "trademark": "™", "Eth": "Ð", "onehalf": "½",
    "plusminus": "±", "Thorn": "Þ", "onequarter": "¼",
    "divide": "÷", "brokenbar": "¦", "degree": "°",
    "thorn": "þ", "threequarters": "¾",
    "twosuperior": "²", "registered": "®", "minus": "−",
    "eth": "ð", "multiply": "×", "threesuperior": "³",
    "copyright": "©",
}

_ACCENT_SUFFIX = {
    "acute": "ACUTE", "grave": "GRAVE", "circumflex": "CIRCUMFLEX",
    "dieresis": "DIAERESIS", "tilde": "TILDE", "ring": "RING ABOVE",
    "cedilla": "CEDILLA", "caron": "CARON",
}

_UNI_NAME_RE = re.compile(r"u(?:ni)?([0-9A-Fa-f]{4,6})$")


def _glyph_name_char(name: str) -> str | None:
    """Glyph name -> unicode char via the AGL subset above, single-char
    names, ``uniXXXX``/``uXXXX(XX)`` forms, and base+accent-suffix names
    (Aacute .. zcaron) resolved through the unicode name registry."""
    if name in _AGL:
        return _AGL[name]
    if len(name) == 1 and name.isascii() and name.isprintable():
        return name
    m = _UNI_NAME_RE.fullmatch(name)
    if m:
        try:
            return chr(int(m.group(1), 16))
        except (ValueError, OverflowError):
            return None
    for suf, acc in _ACCENT_SUFFIX.items():
        if name.endswith(suf) and len(name) == len(suf) + 1:
            base = name[0]
            if base.isascii() and base.isalpha():
                import unicodedata

                case = "CAPITAL" if base.isupper() else "SMALL"
                try:
                    return unicodedata.lookup(
                        f"LATIN {case} LETTER {base.upper()} WITH {acc}"
                    )
                except KeyError:
                    return None
    return None


def _read_cff_index(b: bytes, off: int) -> tuple[list[bytes], int]:
    """A CFF INDEX at ``off`` -> (items, offset past the INDEX)."""
    count = _u16(b, off)
    if count == 0:
        return [], off + 2
    osz = b[off + 2]
    offs = [
        int.from_bytes(b[off + 3 + i * osz: off + 3 + (i + 1) * osz], "big")
        for i in range(count + 1)
    ]
    data = off + 3 + (count + 1) * osz - 1
    return [b[data + offs[i]: data + offs[i + 1]] for i in range(count)], (
        data + offs[count]
    )


def _parse_cff_dict(data: bytes) -> dict[int, list]:
    """CFF DICT bytes -> {operator: operands}; two-byte (12 x) operators
    are keyed 1200+x. Reals are skipped (not needed for offsets)."""
    out: dict[int, list] = {}
    operands: list = []
    i = 0
    while i < len(data):
        b0 = data[i]
        if b0 <= 21:
            op = b0
            i += 1
            if b0 == 12:
                op = 1200 + data[i]
                i += 1
            out[op] = operands
            operands = []
        elif b0 == 28:
            operands.append(int.from_bytes(data[i + 1:i + 3], "big", signed=True))
            i += 3
        elif b0 == 29:
            operands.append(int.from_bytes(data[i + 1:i + 5], "big", signed=True))
            i += 5
        elif b0 == 30:  # real number: nibbles until an 0xF terminator
            i += 1
            while i < len(data):
                byte = data[i]
                i += 1
                if (byte & 0x0F) == 0x0F or (byte >> 4) == 0x0F:
                    break
            operands.append(0)
        elif 32 <= b0 <= 246:
            operands.append(b0 - 139)
            i += 1
        elif 247 <= b0 <= 250:
            operands.append((b0 - 247) * 256 + data[i + 1] + 108)
            i += 2
        elif 251 <= b0 <= 254:
            operands.append(-(b0 - 251) * 256 - data[i + 1] - 108)
            i += 2
        else:  # reserved byte: skip defensively
            i += 1
    return out


def _parse_cff_charset(b: bytes, off: int, nglyphs: int) -> list[int]:
    """CFF charset (formats 0/1/2) -> per-gid SID list (gid 0 = .notdef)."""
    fmt = b[off]
    sids = [0]
    if fmt == 0:
        for i in range(nglyphs - 1):
            sids.append(_u16(b, off + 1 + 2 * i))
    elif fmt in (1, 2):
        i = off + 1
        while len(sids) < nglyphs:
            first = _u16(b, i)
            nleft = b[i + 2] if fmt == 1 else _u16(b, i + 2)
            i += 3 if fmt == 1 else 4
            for k in range(nleft + 1):
                if len(sids) < nglyphs:
                    sids.append(first + k)
    return sids


def _cff_gid_to_unicode(cff: bytes) -> dict[int, str]:
    """A bare CFF (/FontFile3 /Type1C) or OpenType-wrapped CFF blob ->
    {glyph id: unicode char}, by resolving the charset's glyph NAMES
    (standard strings + the font's String INDEX) through the glyph-name
    rules — the CFF sibling of :func:`_ttf_gid_to_unicode`, covering the
    LaTeX/commercial subset-CFF fonts the reference reads via PyMuPDF
    (pdf_preprocessing.py:313-399). CID-keyed CFFs (a /ROS in the top
    DICT) have no glyph names — their charset maps to registry CIDs, which
    are unmappable without external registry tables — so they return {}
    (the caller's loud-drop path), as does any malformed blob."""
    try:
        if cff[:4] == b"OTTO":  # OpenType wrapper: locate the CFF table
            for i in range(_u16(cff, 4)):
                rec = 12 + 16 * i
                if cff[rec:rec + 4] == b"CFF ":
                    o, ln = _u32(cff, rec + 8), _u32(cff, rec + 12)
                    cff = cff[o:o + ln]
                    break
            else:
                return {}
        if len(cff) < 4 or cff[0] != 1:
            return {}
        off = cff[2]  # hdrSize
        _, off = _read_cff_index(cff, off)            # Name INDEX
        tops, off = _read_cff_index(cff, off)         # Top DICT INDEX
        strings, off = _read_cff_index(cff, off)      # String INDEX
        if not tops:
            return {}
        top = _parse_cff_dict(tops[0])
        if 1230 in top:  # /ROS: CID-keyed, no glyph names
            return {}
        if 17 not in top or not top[17]:
            return {}
        charstrings, _ = _read_cff_index(cff, int(top[17][0]))
        n = len(charstrings)
        ch_off = int(top.get(15, [0])[0]) if top.get(15) else 0
        if ch_off in (0, 1, 2):
            # predefined charsets: the glyph order IS the standard-strings
            # prefix, so gid == SID over the embedded glyph count
            sids = list(range(n))
        else:
            sids = _parse_cff_charset(cff, ch_off, n)
        out: dict[int, str] = {}
        for gid, sid in enumerate(sids):
            if gid == 0 or sid == 0:
                continue
            if sid < 391:
                name = _CFF_STD_STRINGS[sid] if sid < len(_CFF_STD_STRINGS) else None
            else:
                k = sid - 391
                name = strings[k].decode("latin-1") if k < len(strings) else None
            ch = _glyph_name_char(name) if name else None
            if ch:
                out.setdefault(gid, ch)
        return out
    except (IndexError, ValueError, OverflowError):
        return {}


def _type0_fontfile_cmap(fb: bytes, bodies: dict[int, bytes]):
    """Type0-without-/ToUnicode fallback: walk /DescendantFonts ->
    /FontDescriptor -> /FontFile2, invert the embedded TrueType's cmap, and
    compose with /CIDToGIDMap (Identity by default; a stream map is 2 bytes
    per CID). Returns the same ``({code: text}, width)`` shape as
    ``_parse_tounicode`` (Identity-H codes are 2-byte CIDs), or ``None``
    when the font embeds nothing invertible (CFF /FontFile3, no font file:
    the loud-drop path)."""
    dm = _DESCFONTS_ARR_RE.search(fb)
    if dm:
        desc = bodies.get(int(dm.group(1)))
    else:
        dm = _DESCFONTS_REF_RE.search(fb)
        arr = bodies.get(int(dm.group(1))) if dm else None
        rm = _REF_RE.search(arr) if arr else None
        desc = bodies.get(int(rm.group(1))) if rm else None
    if desc is None:
        return None
    fdm = _FONTDESC_RE.search(desc)
    fd = bodies.get(int(fdm.group(1))) if fdm else None
    ffm = _FONTFILE2_RE.search(fd) if fd else None
    ttf = _stream_data(bodies[int(ffm.group(1))]) if ffm and int(ffm.group(1)) in bodies else None
    if not ttf:
        # CFF path: /FontFile3 (Type1C / OpenType-wrapped CFF). Glyph names
        # from the charset invert to unicode; for a CIDFontType0 the
        # Identity-H code IS the GID (CIDToGIDMap applies only to Type2).
        f3 = _FONTFILE3_RE.search(fd) if fd else None
        cff = (
            _stream_data(bodies[int(f3.group(1))])
            if f3 and int(f3.group(1)) in bodies else None
        )
        if not cff:
            return None
        gid_to_char = _cff_gid_to_unicode(cff)
        if not gid_to_char:  # CID-keyed / malformed: loud drop
            return None
        return dict(gid_to_char), 2
    gid_to_char = _ttf_gid_to_unicode(ttf)
    if not gid_to_char:
        return None
    c2g = _CID2GID_RE.search(desc)
    if c2g and int(c2g.group(1)) in bodies:
        gmap = _stream_data(bodies[int(c2g.group(1))])
        if gmap is None:
            return None
        cmap = {}
        for cid in range(len(gmap) // 2):
            ch = gid_to_char.get(_u16(gmap, 2 * cid))
            if ch:
                cmap.setdefault(cid, ch)
        return cmap, 2
    # /CIDToGIDMap /Identity (or absent, the default): CID == GID
    return {gid: ch for gid, ch in gid_to_char.items()}, 2


def _font_cmaps(bodies: dict[int, bytes]):
    """Resource-name -> decode rule: (cmap, width) for fonts decodable via
    /ToUnicode or an embedded-TrueType cmap inverse, ``None`` for Type0
    fonts with neither (loud drop), absent for simple fonts (latin-1).
    Resource dicts are resolved globally — per-page name collisions (rare;
    generators emit consistent names) take the last."""
    fonts: dict[bytes, object] = {}
    for body in bodies.values():
        for fr in _FONTRES_RE.finditer(body):
            for nm in _FONTREF_RE.finditer(fr.group(1)):
                name, oid = nm.group(1), int(nm.group(2))
                fb = bodies.get(oid)
                if fb is None:
                    continue
                tm = _TOUNI_RE.search(fb)
                if tm and int(tm.group(1)) in bodies:
                    data = _stream_data(bodies[int(tm.group(1))])
                    if data:
                        fonts[name] = _parse_tounicode(data)
                        continue
                if b"/Type0" in fb:
                    fonts[name] = _type0_fontfile_cmap(fb, bodies)
    return fonts


def _decode_show(raw: bytes, font) -> str:
    """Show-string bytes -> text under the active font's decode rule."""
    if font is _SIMPLE:
        return raw.decode("latin-1")
    if font is None:  # Type0 without /ToUnicode: drop loudly, never garble
        return ""
    cmap, w = font
    out = []
    for i in range(0, len(raw) - w + 1, w):
        ch = cmap.get(int.from_bytes(raw[i:i + w], "big"))
        if ch:
            out.append(ch)
    return "".join(out)


def _literal_ends(data: bytes) -> dict[int, int]:
    """Offset of each ``(`` that opens a literal string -> the offset just
    past its closing ``)``. A literal string may hold balanced, unescaped
    parentheses, and a backslash escapes the byte after it. A ``(`` that
    never closes has no entry; the scanners read it as one byte."""
    ends: dict[int, int] = {}
    opened: list[int] = []
    for m in _PAREN_RE.finditer(data):
        if m.group() == b"(":
            opened.append(m.start())
        elif m.group() == b")" and opened:
            ends[opened.pop()] = m.end()
    return ends


def _bt_blocks(cs: bytes, ends: dict[int, int]) -> Iterator[tuple[int, int]]:
    """(start, end) of each BT/ET block's payload in ``cs``, in order. Its
    literal strings are skipped whole, so a shown "ET" does not end it."""
    p = cs.find(b"BT")
    while p >= 0:
        j = p + 2
        while (m := _BT_END_RE.search(cs, j)) and m.group() == b"(":
            j = ends.get(m.start(), m.end())
        if m:
            yield p + 2, m.start()
            p = cs.find(b"BT", m.end())
        else:  # no ET: try the next BT, as a regex search would
            p = cs.find(b"BT", p + 1)


def _tj_array(cs: bytes, i: int, end: int, ends: dict[int, int], font):
    """The text of the ``[ .. ] TJ`` array opening at ``cs[i]`` and the
    offset past TJ, or None when ``cs[i:end]`` holds no such array."""
    parts: list[str] = []
    j = i + 1
    while m := _ARRAY_TOK_RE.search(cs, j, end):
        j = m.end()
        if m.group(1) is not None:
            parts.append(_decode_show(_hexbytes(m.group(1)), font))
        elif m.group(2) is not None:
            if float(m.group(2)) <= -TJ_SPACE_KERN:
                parts.append(" ")
        elif m.group() == b"]":
            tj = _TJ_RE.match(cs, j, end)
            return ("".join(parts), tj.end()) if tj else None
        elif m.start() in ends:
            j = ends[m.start()]
            parts.append(_decode_show(_unescape(cs[m.start() + 1:j - 1]), font))
    return None


def _block_text(cs: bytes, start: int, end: int, ends: dict[int, int], fonts,
                font) -> tuple[str, object]:
    """The text a BT/ET payload ``cs[start:end]`` shows, and the font active
    after it (text state persists across blocks)."""
    parts: list[str] = []
    j = start
    while sm := _BT_TOK_RE.search(cs, j, end):
        j = sm.end()
        if sm.group(1) is not None:  # /Name size Tf
            font = fonts.get(sm.group(1), _SIMPLE)
        elif sm.group(2) is not None:  # <hex> Tj | '
            parts.append(_decode_show(_hexbytes(sm.group(2)), font))
        elif sm.group() == b"(":  # (..) Tj | '
            if sm.start() in ends:
                j = ends[sm.start()]
                show = _SHOW_RE.match(cs, j, end)
                if show:
                    raw = _unescape(cs[sm.start() + 1:j - 1])
                    parts.append(_decode_show(raw, font))
                    j = show.end()
        elif arr := _tj_array(cs, sm.start(), end, ends, font):  # [ .. ] TJ
            text, j = arr
            parts.append(text)
    return "".join(parts).strip(), font


def parse_pdf(doc_id: str, blob: bytes, context_length: int = 100):
    """One document -> (span rows, media rows); pure function."""
    pieces = []       # ('text', decoded) | ('image',) placeholders in order
    img_objs = []
    content_streams = []
    bodies: dict[int, bytes] = {}
    for m in _OBJ_RE.finditer(blob):
        bodies[int(m.group(1))] = body = m.group(2)
        data = _stream_data(body)
        if data is None:
            continue
        if b"/Subtype" in body and b"/Image" in body:
            img_objs.append(data)
        else:
            ends = _literal_ends(data)
            if next(_bt_blocks(data, ends), None) or _DO_RE.search(data):
                content_streams.append((data, ends))
    fonts = _font_cmaps(bodies)

    draw_n = 0
    cur_font: object = _SIMPLE  # text state persists across BT blocks
    for cs, ends in content_streams:
        # walk the stream once, emitting text blocks and draws in order
        events = [(a, "bt", b) for a, b in _bt_blocks(cs, ends)]
        for do in _DO_RE.finditer(cs):
            # Do inside a BT/ET block is not legal PDF; treat all as draws
            events.append((do.start(), "do", None))
        for start, kind, end in sorted(events, key=lambda e: e[0]):
            if kind == "bt":
                text, cur_font = _block_text(cs, start, end, ends, fonts, cur_font)
                if text:
                    pieces.append(("text", text))
            else:
                if draw_n < len(img_objs):
                    pieces.append(("image", draw_n))
                    draw_n += 1
    # image objects never drawn still exist in the file (reference's
    # get_images(full=True) reports them too): append at the end
    for k in range(draw_n, len(img_objs)):
        pieces.append(("image", k))

    texts = [p[1] if p[0] == "text" else "" for p in pieces]
    spans, media = [], []
    img_n = 0
    for i, p in enumerate(pieces):
        if p[0] == "text":
            spans.append((doc_id, "text", p[1], "", i))
        else:
            img_n += 1
            ref = f"{doc_id}/image_{img_n}"
            spans.append((doc_id, "image", _context(texts, i, context_length), ref, i))
            media.append((doc_id, ref, f"image_{img_n}.jpg", img_objs[p[1]]))
    return spans, media


def _doc_id_from_path(path: str) -> str:
    return re.sub(r"\.pdf$", "", path.rsplit("/", 1)[-1])


def pdf_spans(spark: SparkSession, path: str, context_length: int = 100) -> DataFrame:
    """Distributed spans source over a directory/glob of .pdf files."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = ["doc_id", "kind", "text", "media_ref", "offset"]
        for pdf in batches:
            rows = []
            for p, blob in zip(pdf["path"], pdf["content"]):
                rows.extend(
                    parse_pdf(_doc_id_from_path(p), bytes(blob), context_length)[0]
                )
            yield pd.DataFrame(rows, columns=cols)

    return (
        spark.read.format("binaryFile").load(path)
        .select("path", "content")
        .mapInPandas(run, schema=SPAN_SCHEMA)
    )


def pdf_media(spark: SparkSession, path: str) -> DataFrame:
    """(doc_id, media_ref, filename, content): embedded image bytes."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = ["doc_id", "media_ref", "filename", "content"]
        for pdf in batches:
            rows = []
            for p, blob in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_pdf(_doc_id_from_path(p), bytes(blob))[1])
            yield pd.DataFrame(rows, columns=cols)

    return (
        spark.read.format("binaryFile").load(path)
        .select("path", "content")
        .mapInPandas(run, schema=MEDIA_SCHEMA)
    )


def _cid_codes(charset: list[str]) -> tuple[dict[str, int], bytes]:
    """Assign deliberately NON-identity 2-byte codes to ``charset`` and
    serialize the matching /ToUnicode CMap, exercising every structure the
    reader parses: codespacerange, bfchar pairs, a ``<lo> <hi> <dst>``
    incrementing bfrange (a-z) and an array-form bfrange. A latin-1
    interpretation of these codes garbles, so tests prove the CMap is used."""
    lower = "abcdefghijklmnopqrstuvwxyz"
    others = sorted(set(charset) - set(lower))
    code_of: dict[str, int] = {}
    code = 0x0100
    for c in lower:
        code_of[c] = code
        code += 1
    half = len(others) // 2
    bfchar = []
    for c in others[:half]:
        code_of[c] = code
        bfchar.append(f"<{code:04X}> <{ord(c):04X}>")
        code += 1
    arr_lo, arr = code, []
    for c in others[half:]:
        code_of[c] = code
        arr.append(f"<{ord(c):04X}>")
        code += 1
    parts = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin", "begincmap",
        "1 begincodespacerange", "<0000> <FFFF>", "endcodespacerange",
        f"{len(bfchar)} beginbfchar", *bfchar, "endbfchar",
        "beginbfrange", "<0100> <0119> <0061>",
    ]
    if arr:
        parts.append(f"<{arr_lo:04X}> <{code - 1:04X}> [" + " ".join(arr) + "]")
    parts += ["endbfrange", "endcmap", "end", "end"]
    return code_of, "\n".join(parts).encode()


def _cff_bytes(char_to_gid: dict[str, int]) -> bytes:
    """Fixture helper: a minimal bare CFF (the /FontFile3 /Type1C payload)
    whose charset names each glyph ``uniXXXX`` via the font's String INDEX —
    the only structures ``_cff_gid_to_unicode`` reads (Name INDEX, Top DICT,
    String INDEX, charset format 0, CharStrings count). Charstrings are
    1-byte endchar stubs; a renderable font would need real outlines."""
    import struct

    def index(items: list[bytes]) -> bytes:
        if not items:
            return b"\x00\x00"
        offs = [1]
        for it in items:
            offs.append(offs[-1] + len(it))
        osz = 1 if offs[-1] < 256 else 2
        pack = (lambda o: bytes([o])) if osz == 1 else (
            lambda o: struct.pack(">H", o)
        )
        return (
            struct.pack(">HB", len(items), osz)
            + b"".join(pack(o) for o in offs) + b"".join(items)
        )

    n = max(char_to_gid.values()) + 1
    gid_to_char: dict[int, str] = {}
    for c, g in sorted(char_to_gid.items()):
        gid_to_char.setdefault(g, c)
    names, sid_of_gid = [], {}
    for g in sorted(gid_to_char):
        sid_of_gid[g] = 391 + len(names)
        names.append(f"uni{ord(gid_to_char[g]):04X}".encode())
    header = b"\x01\x00\x04\x02"
    name_idx = index([b"SynthCFF"])
    strings_idx = index(names)
    gsubr_idx = index([])
    charstrings = index([b"\x0e"] * n)
    charset = b"\x00" + b"".join(
        struct.pack(">H", sid_of_gid.get(g, 0)) for g in range(1, n)
    )

    def top(cs: int, ch: int) -> bytes:  # fixed-width int32 operands
        return (b"\x1d" + struct.pack(">i", cs) + b"\x0f"
                + b"\x1d" + struct.pack(">i", ch) + b"\x11")

    top_idx_len = len(index([top(0, 0)]))
    base = len(header) + len(name_idx) + top_idx_len + len(strings_idx) + len(gsubr_idx)
    top_idx = index([top(base, base + len(charset))])
    assert len(top_idx) == top_idx_len
    return header + name_idx + top_idx + strings_idx + gsubr_idx + charset + charstrings


def _ttf_bytes(char_to_gid: dict[str, int]) -> bytes:
    """Fixture helper: a minimal TrueType blob whose format-4 ``cmap``
    subtable maps each char to its glyph id — the only table
    ``_ttf_gid_to_unicode`` reads (a renderable font would also need glyf/
    head/...; subset-extraction tests don't). Consecutive chars mapping to
    consecutive gids collapse into delta segments, exercising the segment
    walk; the spec-required terminal 0xFFFF segment is emitted."""
    pts = sorted((ord(c), g) for c, g in char_to_gid.items())
    segs = []  # (startCode, endCode, startGid)
    for c, g in pts:
        if segs and c == segs[-1][1] + 1 and g == segs[-1][2] + (c - segs[-1][0]):
            segs[-1] = (segs[-1][0], c, segs[-1][2])
        else:
            segs.append((c, c, g))
    segs.append((0xFFFF, 0xFFFF, 0))  # terminal segment (maps to gid 0)
    n = len(segs)

    def u16s(vals):
        return b"".join(v.to_bytes(2, "big") for v in vals)

    body = (
        u16s([e for _, e, _ in segs]) + b"\x00\x00"
        + u16s([s for s, _, _ in segs])
        + u16s([((g - s) & 0xFFFF) for s, _, g in segs])
        + u16s([0] * n)
    )
    sub = u16s([4, 14 + len(body), 0, 2 * n, 2, 0, 2 * n - 2]) + body
    cmap = u16s([0, 1, 3, 1]) + (12).to_bytes(4, "big") + sub
    return (
        (0x00010000).to_bytes(4, "big") + u16s([1, 16, 0, 0])
        + b"cmap" + (0).to_bytes(4, "big")
        + (28).to_bytes(4, "big") + len(cmap).to_bytes(4, "big")
        + cmap
    )


def pdf_bytes(
    pages: list, cid: bool = False, tounicode: bool = True,
    fontfile: str = "ttf",
) -> bytes:
    """Minimal PDF serializer. ``pages`` is a list of pages; each page is a
    list of str (text line) or ("image", jpeg_bytes) items. Content streams
    are Flate-compressed; images are /DCTDecode XObjects — exercising
    exactly the subset the reader supports. Emits a correct xref table, so
    standard viewers open the file too.

    ``cid=True`` emits the text through an /Identity-H Type0 font with a
    /ToUnicode CMap and hex show strings — the wild-academic-PDF encoding
    shape — instead of WinAnsi literal strings. ``tounicode=False`` (with
    cid) omits the /ToUnicode CMap and instead embeds a subset TrueType
    via /DescendantFonts -> /FontDescriptor -> /FontFile2 whose cmap table
    carries the same code assignment — the shape wild subset-font PDFs
    have, decodable only through the font-file inverse."""
    objs: dict[int, bytes] = {}
    img_count = 0
    page_obj_ids = []
    next_id = 3  # 1=catalog, 2=pages
    font_id = next_id
    next_id += 1
    code_of: dict[str, int] = {}
    if cid:
        charset = sorted({
            ch for page in pages for item in page
            if isinstance(item, str) for ch in item
        })
        code_of, cmap = _cid_codes(charset)
        if tounicode:
            cmap_id = next_id
            next_id += 1
            objs[cmap_id] = (
                b"<< /Length " + str(len(cmap)).encode()
                + b" >>\nstream\n" + cmap + b"\nendstream"
            )
            objs[font_id] = (
                b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth"
                b" /Encoding /Identity-H /ToUnicode "
                + str(cmap_id).encode() + b" 0 R >>"
            )
        else:
            desc_id, fd_id, ff_id = next_id, next_id + 1, next_id + 2
            next_id += 3
            if fontfile == "cff":
                blob = _cff_bytes(code_of)  # gid == CID (CIDFontType0)
                objs[ff_id] = (
                    b"<< /Subtype /Type1C /Length " + str(len(blob)).encode()
                    + b" >>\nstream\n" + blob + b"\nendstream"
                )
                objs[fd_id] = (
                    b"<< /Type /FontDescriptor /FontName /Synth /Flags 4"
                    b" /FontFile3 " + str(ff_id).encode() + b" 0 R >>"
                )
                objs[desc_id] = (
                    b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /Synth"
                    b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
                    b" /Supplement 0 >> /FontDescriptor " + str(fd_id).encode()
                    + b" 0 R >>"
                )
            else:
                ttf = _ttf_bytes(code_of)  # gid == CID (Identity map)
                objs[ff_id] = (
                    b"<< /Length " + str(len(ttf)).encode()
                    + b" /Length1 " + str(len(ttf)).encode()
                    + b" >>\nstream\n" + ttf + b"\nendstream"
                )
                objs[fd_id] = (
                    b"<< /Type /FontDescriptor /FontName /Synth /Flags 4"
                    b" /FontFile2 " + str(ff_id).encode() + b" 0 R >>"
                )
                objs[desc_id] = (
                    b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth"
                    b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
                    b" /Supplement 0 >> /FontDescriptor " + str(fd_id).encode()
                    + b" 0 R /CIDToGIDMap /Identity >>"
                )
            objs[font_id] = (
                b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth"
                b" /Encoding /Identity-H /DescendantFonts ["
                + str(desc_id).encode() + b" 0 R] >>"
            )
    else:
        objs[font_id] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

    for page in pages:
        parts, xobjects = [], []
        y = 720
        for item in page:
            if isinstance(item, tuple) and item[0] == "image":
                img_count += 1
                img_id = next_id
                next_id += 1
                jpeg = item[1]
                objs[img_id] = (
                    b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8"
                    b" /ColorSpace /DeviceRGB /BitsPerComponent 8"
                    b" /Filter /DCTDecode /Length " + str(len(jpeg)).encode()
                    + b" >>\nstream\n" + jpeg + b"\nendstream"
                )
                name = f"Im{img_count}".encode()
                xobjects.append((name, img_id))
                parts.append(b"q 100 0 0 100 72 " + str(y - 100).encode()
                             + b" cm /" + name + b" Do Q")
                y -= 110
            elif cid:
                hx = "".join(f"{code_of[c]:04X}" for c in item).encode()
                parts.append(b"BT /F1 12 Tf 72 " + str(y).encode()
                             + b" Td <" + hx + b"> Tj ET")
                y -= 16
            else:
                esc = (
                    item.encode("latin-1")
                    .replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
                )
                parts.append(b"BT /F1 12 Tf 72 " + str(y).encode()
                             + b" Td (" + esc + b") Tj ET")
                y -= 16
        content = zlib.compress(b"\n".join(parts))
        cs_id = next_id
        next_id += 1
        objs[cs_id] = (
            b"<< /Filter /FlateDecode /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream"
        )
        xo = b" ".join(b"/" + n + b" " + str(i).encode() + b" 0 R" for n, i in xobjects)
        page_id = next_id
        next_id += 1
        objs[page_id] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 " + str(font_id).encode() + b" 0 R >>"
            + (b" /XObject << " + xo + b" >>" if xobjects else b"")
            + b" >> /Contents " + str(cs_id).encode() + b" 0 R >>"
        )
        page_obj_ids.append(page_id)

    kids = b" ".join(str(i).encode() + b" 0 R" for i in page_obj_ids)
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        b"<< /Type /Pages /Kids [" + kids + b"] /Count "
        + str(len(page_obj_ids)).encode() + b" >>"
    )

    buf = io.BytesIO()
    buf.write(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for oid in sorted(objs):
        offsets[oid] = buf.tell()
        buf.write(str(oid).encode() + b" 0 obj\n" + objs[oid] + b"\nendobj\n")
    xref_at = buf.tell()
    n = max(objs) + 1
    buf.write(b"xref\n0 " + str(n).encode() + b"\n")
    buf.write(b"0000000000 65535 f \n")
    for oid in range(1, n):
        buf.write(("%010d 00000 n \n" % offsets[oid]).encode())
    buf.write(
        b"trailer\n<< /Size " + str(n).encode() + b" /Root 1 0 R >>\n"
        b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
    )
    return buf.getvalue()


def write_pdf(pages: list, path: str) -> None:
    """Fixture helper: serialize to a file (see pdf_bytes)."""
    with open(path, "wb") as f:
        f.write(pdf_bytes(pages))


def spans_to_pdf(spans: DataFrame) -> DataFrame:
    """Inverse source: spans relation -> (doc_id, content) .pdf blobs.

    One single-page PDF per document: text spans become Tj lines, image
    spans become /DCTDecode XObjects drawn in order (the span caption is
    NOT serialized — a real PDF carries no caption stream, so the parser
    re-derives image context from the neighboring text). Blob bytes are
    built executor-side inside the applyInPandas group."""
    import pandas as pd

    def build(group: pd.DataFrame) -> pd.DataFrame:
        group = group.sort_values("offset")
        items = [
            ("image", ref.encode()) if kind == "image" else text
            for kind, text, ref in zip(
                group["kind"], group["text"], group["media_ref"]
            )
        ]
        return pd.DataFrame(
            {"doc_id": [group["doc_id"].iloc[0]],
             "content": [pdf_bytes([items])]}
        )

    return spans.groupBy("doc_id").applyInPandas(
        build, schema="doc_id string, content binary"
    )


def pdf_spans_from_blobs(
    blobs: DataFrame, context_length: int = 100
) -> DataFrame:
    """Parse (doc_id, content) .pdf blobs -> spans (distributed)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = ["doc_id", "kind", "text", "media_ref", "offset"]
        for pdf_ in batches:
            rows = []
            for d, blob in zip(pdf_["doc_id"], pdf_["content"]):
                rows.extend(parse_pdf(d, bytes(blob), context_length)[0])
            yield pd.DataFrame(rows, columns=cols)

    return blobs.mapInPandas(run, schema=SPAN_SCHEMA)
