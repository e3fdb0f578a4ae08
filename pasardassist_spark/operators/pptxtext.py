"""PPTX (PresentationML) text extraction — the third OOXML sibling
(operators/docxtext.py, operators/xlsxtext.py); decks are a standard
slice of real Office crawls and fully stdlib-feasible, so the extraction
is REAL, not a seam.

Reference parity: same transcode-stage role as operators/pdftext.py —
the reference pipeline's opaque-payload handling (src/utils/*) mapped to
a 100 TB map pass; Spark-side an Arrow-batched ``mapInPandas`` over
binary payloads (queries/documents.py precedent).

What is REAL here:

- the OPC container walk: presentation part located through
  ``_rels/.rels`` (officeDocument relationship), then the
  PRESENTATION's rels part resolves each slide's ``r:id``;
- slide ORDER comes from ``p:sldIdLst`` in presentation.xml — never
  from zip member order or slide file names (the writer deliberately
  scrambles file numbering so a name-sorted walk mis-orders slides);
- DrawingML text recovery: every shape's ``p:txBody`` in shape-tree
  order, paragraphs ``a:p`` joined by newline, run text ``a:t``
  concatenated, explicit line breaks ``a:br`` → ``\\n`` — the mapping
  python-pptx and LibreOffice use.

Password-protected OOXML (an agile-encrypted CFB container) decrypts via
operators/ooxmlcrypt.py when a password is supplied (round 14) and raises
``NotImplementedError`` by name without one.  Legacy binary ``.ppt``
(OLE2 compound files) raises ``NotImplementedError``; malformed ZIP/XML
raises ``ValueError``.

The writer ``encode_pptx`` synthesizes CONFORMING minimal packages
(PowerPoint/LibreOffice open them) with split runs and real ``a:br``
elements, so the extractor is exercised end-to-end on genuine files.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from pasardassist_spark.operators.opc import REL, REL_OFFICEDOC, main_part, part_rels

__all__ = [
    "encode_pptx",
    "extract_pptx_slides",
    "extract_pptx_notes",
    "sniff_pptx",
]

_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_REL_SLIDE = f"{_R}/slide"
_REL_NOTES = f"{_R}/notesSlide"

_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


def sniff_pptx(payload: bytes) -> bool:
    return payload[:4] == b"PK\x03\x04"


def _slide_text(root: ET.Element) -> str:
    """All txBody paragraphs in shape-tree order, joined by newline;
    a:br inside a paragraph is an explicit newline."""
    paras: list[str] = []
    for tx in root.iter(f"{{{_P}}}txBody"):
        for p in tx.findall(f"{{{_A}}}p"):
            parts: list[str] = []
            for el in p.iter():
                if el.tag == f"{{{_A}}}t":
                    parts.append(el.text or "")
                elif el.tag == f"{{{_A}}}br":
                    parts.append("\n")
            paras.append("".join(parts))
    return "\n".join(paras)


def extract_pptx_slides(
    payload: bytes, password: str | None = None
) -> list[str]:
    """Return one text string per slide, in p:sldIdLst order.  See
    module docstring for semantics."""
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
            return extract_pptx_slides(decrypt_ooxml(payload, password))
        raise NotImplementedError(
            "legacy binary .ppt (OLE2 compound file) unsupported"
        )
    if not sniff_pptx(payload):
        raise ValueError("not a ZIP-based OOXML payload")
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"corrupt OOXML zip: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "EncryptedPackage" in names or "EncryptionInfo" in names:
            raise NotImplementedError("encrypted OOXML package unsupported")
        pres_part = main_part(zf, names, "ppt/presentation.xml")
        try:
            pres = ET.fromstring(zf.read(pres_part))
        except ET.ParseError as exc:
            raise ValueError(f"malformed PresentationML: {exc}") from exc
        rels = part_rels(zf, names, pres_part)
        sld_lst = pres.find(f"{{{_P}}}sldIdLst")
        if sld_lst is None:
            return []
        out: list[str] = []
        for sld in sld_lst.findall(f"{{{_P}}}sldId"):
            rid = sld.get(f"{{{_R}}}id")
            if rid is None or rid not in rels:
                raise ValueError(
                    f"slide id {sld.get('id')!r} has no resolvable r:id"
                )
            tgt = rels[rid][1]
            if tgt not in names:
                raise ValueError(f"slide part missing: {tgt}")
            try:
                root = ET.fromstring(zf.read(tgt))
            except ET.ParseError as exc:
                raise ValueError(f"malformed slide {tgt}: {exc}") from exc
            out.append(_slide_text(root))
        return out


def extract_pptx_notes(payload: bytes) -> list[str | None]:
    """One entry per slide in p:sldIdLst order: the slide's speaker
    notes (the notesSlide part resolved through the SLIDE's own rels —
    a third rels level under ppt/slides/_rels), or None when the slide
    has none.  Notes text recovers through the same DrawingML walk as
    slide bodies."""
    if payload[:8] == _OLE2_MAGIC:
        raise NotImplementedError(
            "legacy binary .ppt (OLE2 compound file) unsupported"
        )
    if not sniff_pptx(payload):
        raise ValueError("not a ZIP-based OOXML payload")
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"corrupt OOXML zip: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "EncryptedPackage" in names or "EncryptionInfo" in names:
            raise NotImplementedError("encrypted OOXML package unsupported")
        pres_part = main_part(zf, names, "ppt/presentation.xml")
        try:
            pres = ET.fromstring(zf.read(pres_part))
        except ET.ParseError as exc:
            raise ValueError(f"malformed PresentationML: {exc}") from exc
        rels = part_rels(zf, names, pres_part)
        sld_lst = pres.find(f"{{{_P}}}sldIdLst")
        if sld_lst is None:
            return []
        out: list[str | None] = []
        for sld in sld_lst.findall(f"{{{_P}}}sldId"):
            rid = sld.get(f"{{{_R}}}id")
            if rid is None or rid not in rels:
                raise ValueError(
                    f"slide id {sld.get('id')!r} has no resolvable r:id"
                )
            slide_part = rels[rid][1]
            srels = part_rels(zf, names, slide_part)
            note_tgt = next(
                (t for _rid, (typ, t) in srels.items() if typ == _REL_NOTES),
                None,
            )
            if note_tgt is None:
                out.append(None)
                continue
            if note_tgt not in names:
                raise ValueError(f"notesSlide part missing: {note_tgt}")
            try:
                nroot = ET.fromstring(zf.read(note_tgt))
            except ET.ParseError as exc:
                raise ValueError(
                    f"malformed notesSlide {note_tgt}: {exc}"
                ) from exc
            out.append(_slide_text(nroot))
        return out


# --------------------------------------------------------------- writer ---

_CT_TMPL = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/ppt/presentation.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.presentationml.'
    'presentation.main+xml"/>{slide_overrides}</Types>'
)

_PKG_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{REL}">'
    f'<Relationship Id="rId1" Type="{REL_OFFICEDOC}"'
    ' Target="ppt/presentation.xml"/></Relationships>'
)


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _runs_xml(text: str) -> str:
    """Split paragraph text into multiple a:r runs at irregular
    boundaries (exercises run concatenation)."""
    chunks = [text[i : i + 11] for i in range(0, len(text), 11)] or [""]
    return "".join(f"<a:r><a:t>{_xml_escape(c)}</a:t></a:r>" for c in chunks)


def _para_xml(text: str) -> str:
    segs = re.split(r"(\n)", text)
    inner = "".join(
        "<a:br/>" if s == "\n" else _runs_xml(s) if s else ""
        for s in segs
    ) or _runs_xml("")
    return f"<a:p>{inner}</a:p>"


def encode_pptx(
    slides: list[str], notes: list[str | None] | None = None
) -> bytes:
    """Write a conforming minimal .pptx: one slide per string.  Newlines
    alternate between in-paragraph a:br elements and a:p boundaries, and
    slide FILE numbering is deliberately reversed relative to deck order,
    so only the sldIdLst walk reconstructs the input exactly.  ``notes``
    (parallel to slides; None entries = no notes) writes real notesSlide
    parts linked through each slide's own rels sidecar."""
    n = len(slides)
    notes = notes or [None] * n
    slide_parts: list[tuple[str, str]] = []
    note_parts: list[tuple[str, str]] = []
    slide_rels: list[tuple[str, str]] = []  # (slide part, rels xml)
    rels_entries: list[str] = []
    sld_ids: list[str] = []
    for i, text in enumerate(slides):
        # Extraction joins paragraphs with "\n" and maps a:br to "\n",
        # so alternate the two encodings: every pair of newline-split
        # segments becomes one paragraph with an internal a:br, and the
        # paragraph boundary supplies the next newline — both break
        # mechanisms are exercised and the string reconstructs exactly.
        segs = text.split("\n")
        paras = ["\n".join(segs[j : j + 2]) for j in range(0, len(segs), 2)]
        body = "".join(_para_xml(p) for p in paras)
        sld = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:sld xmlns:p="{_P}" xmlns:a="{_A}"><p:cSld><p:spTree>'
            "<p:sp><p:txBody>"
            + body
            + "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
        )
        # reversed file numbering: deck slide i lives in slideN-i.xml
        fname = f"slides/slide{n - i}.xml"
        slide_parts.append((f"ppt/{fname}", sld))
        rels_entries.append(
            f'<Relationship Id="rIdSl{i + 1}" Type="{_REL_SLIDE}"'
            f' Target="{fname}"/>'
        )
        sld_ids.append(f'<p:sldId id="{256 + i}" r:id="rIdSl{i + 1}"/>')
        if notes[i] is not None:
            nsegs = notes[i].split("\n")
            nparas = [
                "\n".join(nsegs[j : j + 2]) for j in range(0, len(nsegs), 2)
            ]
            nxml = (
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<p:notes xmlns:p="{_P}" xmlns:a="{_A}"><p:cSld><p:spTree>'
                "<p:sp><p:txBody>"
                + "".join(_para_xml(np_) for np_ in nparas)
                + "</p:txBody></p:sp></p:spTree></p:cSld></p:notes>"
            )
            note_parts.append((f"ppt/notesSlides/notesSlide{n - i}.xml", nxml))
            slide_rels.append((
                f"ppt/slides/_rels/slide{n - i}.xml.rels",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<Relationships xmlns="{REL}">'
                f'<Relationship Id="rIdN1" Type="{_REL_NOTES}"'
                f' Target="../notesSlides/notesSlide{n - i}.xml"/>'
                "</Relationships>",
            ))
    pres = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{_P}" xmlns:r="{_R}">'
        "<p:sldIdLst>" + "".join(sld_ids) + "</p:sldIdLst></p:presentation>"
    )
    pres_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{REL}">'
        + "".join(rels_entries)
        + "</Relationships>"
    )
    overrides = "".join(
        f'<Override PartName="/{part}" ContentType='
        '"application/vnd.openxmlformats-officedocument.presentationml.'
        'slide+xml"/>'
        for part, _xml in slide_parts
    ) + "".join(
        f'<Override PartName="/{part}" ContentType='
        '"application/vnd.openxmlformats-officedocument.presentationml.'
        'notesSlide+xml"/>'
        for part, _xml in note_parts
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CT_TMPL.format(slide_overrides=overrides))
        zf.writestr("_rels/.rels", _PKG_RELS)
        zf.writestr("ppt/presentation.xml", pres)
        zf.writestr("ppt/_rels/presentation.xml.rels", pres_rels)
        for part, xml in slide_parts:
            zf.writestr(part, xml)
        for part, xml in note_parts:
            zf.writestr(part, xml)
        for part, xml in slide_rels:
            zf.writestr(part, xml)
    return buf.getvalue()
