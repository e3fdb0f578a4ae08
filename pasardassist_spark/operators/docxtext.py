"""DOCX (WordprocessingML) text extraction — the other format that
dominates real document crawls, fully stdlib-feasible (zipfile +
xml.etree) so the extraction is REAL, not a seam.

Reference parity: same transcode-stage role as operators/pdftext.py —
the reference pipeline's opaque-payload handling (src/utils/*) mapped to
a 100 TB map pass; Spark-side the operator is an Arrow-batched
``mapInPandas`` over binary payloads (queries/multimodal.py precedent).

What is REAL here:

- an OPC container walk: the payload is a genuine ZIP archive; the main
  document part is located through ``_rels/.rels`` (the
  ``officeDocument`` relationship), not by hard-coding
  ``word/document.xml`` — Word always writes that path, but the package
  spec allows any, and the rels walk is what a conforming consumer does;
- namespace-aware WordprocessingML parsing: paragraphs are ``w:p``
  elements in document order; each paragraph's text is the concatenation
  of its descendant ``w:t`` runs (honoring ``xml:space='preserve'`` —
  ElementTree preserves text verbatim either way), with ``w:tab`` →
  ``\\t`` and ``w:br``/``w:cr`` → ``\\n`` mapped inline, the mapping
  python-docx and LibreOffice use;
- tables are walked in flow order (``w:tbl`` → ``w:tr`` → ``w:tc``), each
  cell's paragraphs joining the output — real Word documents put a third
  of their text inside tables.

Password-protected OOXML (an agile-encrypted CFB container) decrypts via
operators/ooxmlcrypt.py when a password is supplied (round 14) and raises
``NotImplementedError`` by name without one.  Legacy binary ``.doc``
(OLE2 compound files) raises ``NotImplementedError``; malformed ZIP/XML
raises ``ValueError``.

The writer ``encode_docx`` synthesizes CONFORMING minimal packages
([Content_Types].xml, _rels/.rels, word/document.xml with runs split at
arbitrary boundaries and some runs carrying ``xml:space='preserve'``
leading/trailing spaces) so the extractor is exercised end-to-end on
genuine files — Word/LibreOffice open these.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from pasardassist_spark.operators.opc import REL, REL_OFFICEDOC, main_part

__all__ = ["encode_docx", "extract_docx_paragraphs", "sniff_docx"]

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


def sniff_docx(payload: bytes) -> bool:
    return payload[:4] == b"PK\x03\x04"


def extract_docx_paragraphs(
    payload: bytes, password: str | None = None
) -> list[str]:
    """Return the document's paragraphs (body flow order, table cells
    included) as a list of strings.  A password-protected package (an
    agile-encrypted CFB container, operators/ooxmlcrypt.py) decrypts
    transparently when ``password`` is given.  See module docstring for
    semantics."""
    if payload[:8] == _OLE2_MAGIC:
        from pasardassist_spark.operators.ooxmlcrypt import (
            decrypt_ooxml,
            sniff_encrypted_ooxml,
        )

        if sniff_encrypted_ooxml(payload):
            if password is None:
                raise NotImplementedError(
                    "password-protected OOXML requires a password"
                )
            return extract_docx_paragraphs(
                decrypt_ooxml(payload, password)
            )
        raise NotImplementedError(
            "legacy binary .doc (OLE2 compound file) unsupported"
        )
    if not sniff_docx(payload):
        raise ValueError("not a ZIP-based OOXML payload")
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"corrupt OOXML zip: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "EncryptedPackage" in names or "EncryptionInfo" in names:
            raise NotImplementedError("encrypted OOXML package unsupported")
        doc_part = main_part(zf, names, "word/document.xml")
        try:
            root = ET.fromstring(zf.read(doc_part))
        except ET.ParseError as exc:
            raise ValueError(f"malformed WordprocessingML: {exc}") from exc
    body = root.find(f"{{{_W}}}body")
    if body is None:
        raise ValueError("document part has no w:body")
    out: list[str] = []
    _walk_block(body, out)
    return out


def _walk_block(node: ET.Element, out: list[str]) -> None:
    """Paragraphs and tables in flow order; table cells contribute their
    own paragraphs."""
    for child in node:
        tag = child.tag
        if tag == f"{{{_W}}}p":
            out.append(_para_text(child))
        elif tag == f"{{{_W}}}tbl":
            # Direct rows/cells only: iter('w:tc') would also yield cells of
            # tables nested inside a cell, which _walk_block then recurses
            # into again — duplicating every nested-table paragraph.
            for tr in child.findall(f"{{{_W}}}tr"):
                for tc in tr.findall(f"{{{_W}}}tc"):
                    _walk_block(tc, out)


def _para_text(p: ET.Element) -> str:
    parts: list[str] = []
    for el in p.iter():
        tag = el.tag
        if tag == f"{{{_W}}}t":
            parts.append(el.text or "")
        elif tag == f"{{{_W}}}tab":
            parts.append("\t")
        elif tag in (f"{{{_W}}}br", f"{{{_W}}}cr"):
            parts.append("\n")
    return "".join(parts)


# --------------------------------------------------------------- writer ---

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.wordprocessingml.'
    'document.main+xml"/></Types>'
)

_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{REL}">'
    f'<Relationship Id="rId1" Type="{REL_OFFICEDOC}"'
    ' Target="word/document.xml"/></Relationships>'
)


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _runs_xml(text: str) -> str:
    """Split the paragraph into runs at irregular boundaries (exercises
    run concatenation); runs with edge whitespace get xml:space."""
    chunks = [text[i : i + 13] for i in range(0, len(text), 13)] or [""]
    runs = []
    for c in chunks:
        space = (
            ' xml:space="preserve"' if c != c.strip() or c == "" else ""
        )
        runs.append(f"<w:r><w:t{space}>{_xml_escape(c)}</w:t></w:r>")
    return "".join(runs)


def encode_docx(paragraphs: list[str]) -> bytes:
    """Write a conforming minimal .docx: every string becomes one w:p of
    multiple split runs.  Tab and newline characters are written as real
    w:tab / w:br elements (what Word produces), so the extractor's
    mapping reconstructs the input string exactly."""
    body = []
    for para in paragraphs:
        segs = re.split(r"([\t\n])", para)
        inner = "".join(
            "<w:r><w:tab/></w:r>" if s == "\t"
            else "<w:r><w:br/></w:r>" if s == "\n"
            else _runs_xml(s) if s else ""
            for s in segs
        ) or _runs_xml("")
        body.append(f"<w:p>{inner}</w:p>")
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W}"><w:body>'
        + "".join(body)
        + "<w:sectPr/></w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _RELS)
        zf.writestr("word/document.xml", document)
    return buf.getvalue()
