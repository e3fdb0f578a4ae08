"""XLSX (SpreadsheetML) text extraction — the OOXML sibling of
operators/docxtext.py; spreadsheets are a large slice of real Office
crawls and fully stdlib-feasible (zipfile + xml.etree), so the
extraction is REAL, not a seam.

Reference parity: same transcode-stage role as operators/pdftext.py —
the reference pipeline's opaque-payload handling (src/utils/*) mapped to
a 100 TB map pass; Spark-side an Arrow-batched ``mapInPandas`` over
binary payloads (queries/documents.py precedent).

What is REAL here:

- the OPC container walk: main workbook part located through
  ``_rels/.rels`` (officeDocument relationship), then the WORKBOOK's own
  rels part (``xl/_rels/workbook.xml.rels``) resolves each sheet's
  ``r:id`` and the sharedStrings part — the two-level indirection every
  conforming consumer performs (targets resolved relative to the
  workbook directory);
- the sharedStrings indirection: ``t="s"`` cells store an INDEX into
  ``sharedStrings.xml``; entries are deduplicated (as Excel writes them)
  and may be rich text (``<r><t>…`` runs, concatenated);
- cell-type dispatch: ``t="s"`` shared, ``t="inlineStr"`` (``<is><t>``),
  ``t="str"`` (cached formula string in ``<v>``), ``t="b"`` booleans
  (``TRUE``/``FALSE``), and untyped numeric ``<v>`` passed through
  verbatim;
- sheet ORDER comes from ``<sheets>`` in workbook.xml (r:id → rels
  target), never from zip member order; within a sheet, cells order by
  the ``r="B3"`` A1-style reference (row-major), the order a reader
  sees.

Password-protected OOXML (an agile-encrypted CFB container) decrypts via
operators/ooxmlcrypt.py when a password is supplied (round 14) and raises
``NotImplementedError`` by name without one.  Legacy binary ``.xls``
(OLE2 compound files) raises ``NotImplementedError``; malformed ZIP/XML
raises ``ValueError``.

The writer ``encode_xlsx`` synthesizes CONFORMING minimal packages
(Excel/LibreOffice open them): parts are distributed across 1-2 sheets
and 2 columns per row, alternating sharedStrings (deduplicated, long
strings as multi-run rich text) and inline-string encodings, so the
extractor is exercised end-to-end on genuine files.

Reference files (parity docs): app.service.ts:1-40 treats fetched
payloads as opaque blobs + typed metadata; this operator is the
text-recovery stage of that payload family.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from pasardassist_spark.operators.opc import REL, REL_OFFICEDOC, main_part, part_rels

__all__ = ["encode_xlsx", "extract_xlsx_cells", "sniff_xlsx"]

_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_REL_WORKSHEET = f"{_R}/worksheet"
_REL_SHARED = f"{_R}/sharedStrings"

_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def sniff_xlsx(payload: bytes) -> bool:
    return payload[:4] == b"PK\x03\x04"


def _col_index(letters: str) -> int:
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - 64)
    return n


def _si_text(si: ET.Element) -> str:
    """A shared-string item (or inline <is>) is a plain <t> or rich-text
    <r><t> runs; concatenate them in document order.  Phonetic furigana
    runs (<rPh>) also contain <t> elements but are NOT cell text — a
    conforming reader skips them."""
    out: list[str] = []
    for child in si:
        tag = child.tag
        if tag == f"{{{_S}}}t":
            out.append(child.text or "")
        elif tag == f"{{{_S}}}r":
            out.extend(t.text or "" for t in child.iter(f"{{{_S}}}t"))
    return "".join(out)


def _cell_text(c: ET.Element, shared: list[str]) -> str:
    ctype = c.get("t") or "n"
    if ctype == "s":
        v = c.find(f"{{{_S}}}v")
        if v is None or v.text is None:
            raise ValueError("shared-string cell without index")
        i = int(v.text)
        if not 0 <= i < len(shared):
            raise ValueError(f"shared-string index {i} out of range")
        return shared[i]
    if ctype == "inlineStr":
        is_ = c.find(f"{{{_S}}}is")
        return "" if is_ is None else _si_text(is_)
    if ctype == "b":
        v = c.find(f"{{{_S}}}v")
        return "TRUE" if v is not None and (v.text or "").strip() == "1" else "FALSE"
    # 'str' (cached formula result) and 'n' (numeric) both carry <v> text
    v = c.find(f"{{{_S}}}v")
    return "" if v is None else (v.text or "")


def extract_xlsx_cells(
    payload: bytes, password: str | None = None
) -> list[str]:
    """Return every cell's text, sheets in workbook order, cells
    row-major within each sheet.  An agile-encrypted package decrypts
    transparently when ``password`` is given
    (operators/ooxmlcrypt.py).  See module docstring for semantics."""
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
            return extract_xlsx_cells(decrypt_ooxml(payload, password))
        raise NotImplementedError(
            "legacy binary .xls (OLE2 compound file) unsupported"
        )
    if not sniff_xlsx(payload):
        raise ValueError("not a ZIP-based OOXML payload")
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"corrupt OOXML zip: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "EncryptedPackage" in names or "EncryptionInfo" in names:
            raise NotImplementedError("encrypted OOXML package unsupported")
        wb_part = main_part(zf, names, "xl/workbook.xml")
        try:
            wb = ET.fromstring(zf.read(wb_part))
        except ET.ParseError as exc:
            raise ValueError(f"malformed SpreadsheetML: {exc}") from exc
        rels = part_rels(zf, names, wb_part)
        shared: list[str] = []
        for _rid, (typ, tgt) in rels.items():
            if typ == _REL_SHARED and tgt in names:
                try:
                    sst = ET.fromstring(zf.read(tgt))
                except ET.ParseError as exc:
                    raise ValueError(f"malformed sharedStrings: {exc}") from exc
                shared = [_si_text(si) for si in sst.iter(f"{{{_S}}}si")]
        out: list[str] = []
        sheets = wb.find(f"{{{_S}}}sheets")
        if sheets is None:
            raise ValueError("workbook has no sheets element")
        for sheet in sheets.findall(f"{{{_S}}}sheet"):
            rid = sheet.get(f"{{{_R}}}id")
            if rid is None or rid not in rels:
                raise ValueError(
                    f"sheet {sheet.get('name')!r} has no resolvable r:id"
                )
            tgt = rels[rid][1]
            if tgt not in names:
                raise ValueError(f"worksheet part missing: {tgt}")
            try:
                ws = ET.fromstring(zf.read(tgt))
            except ET.ParseError as exc:
                raise ValueError(f"malformed worksheet {tgt}: {exc}") from exc
            rows: list[tuple[int, list[tuple[int, str]]]] = []
            for rno, row in enumerate(ws.iter(f"{{{_S}}}row"), start=1):
                r_attr = int(row.get("r") or rno)
                cells: list[tuple[int, str]] = []
                for cno, c in enumerate(row.findall(f"{{{_S}}}c"), start=1):
                    ref = c.get("r")
                    if ref:
                        m = _CELL_REF.match(ref)
                        if not m:
                            raise ValueError(f"bad cell reference {ref!r}")
                        col = _col_index(m.group(1))
                    else:
                        col = cno
                    cells.append((col, _cell_text(c, shared)))
                cells.sort(key=lambda t: t[0])
                rows.append((r_attr, cells))
            rows.sort(key=lambda t: t[0])
            for _r, cells in rows:
                out.extend(txt for _c, txt in cells)
        return out


# --------------------------------------------------------------- writer ---

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'sheet.main+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'sharedStrings+xml"/>'
    "{sheet_overrides}</Types>"
)

_PKG_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{REL}">'
    f'<Relationship Id="rId1" Type="{REL_OFFICEDOC}"'
    ' Target="xl/workbook.xml"/></Relationships>'
)


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _t_xml(text: str) -> str:
    space = ' xml:space="preserve"' if text != text.strip() or text == "" else ""
    return f"<t{space}>{_xml_escape(text)}</t>"


def _si_xml(text: str) -> str:
    """Long shared strings are written as multi-run rich text (what Excel
    emits for mixed formatting) — exercises run concatenation."""
    if len(text) <= 17:
        return f"<si>{_t_xml(text)}</si>"
    chunks = [text[i : i + 17] for i in range(0, len(text), 17)]
    return "<si>" + "".join(f"<r>{_t_xml(c)}</r>" for c in chunks) + "</si>"


def _col_letters(n: int) -> str:
    s = ""
    while n:
        n, rem = divmod(n - 1, 26)
        s = chr(65 + rem) + s
    return s


def encode_xlsx(cells: list[str]) -> bytes:
    """Write a conforming minimal .xlsx: the strings are laid out across
    1-2 sheets, 2 columns per row, alternating shared (deduplicated) and
    inline string encodings.  extract_xlsx_cells returns them exactly."""
    halves = (
        [cells[: (len(cells) + 1) // 2], cells[(len(cells) + 1) // 2 :]]
        if len(cells) > 2
        else [cells]
    )
    halves = [h for h in halves if h] or [[]]
    shared: list[str] = []
    shared_idx: dict[str, int] = {}
    sheet_xmls: list[str] = []
    flat_no = 0
    for part in halves:
        rows_xml: list[str] = []
        for rno in range((len(part) + 1) // 2):
            cells_xml: list[str] = []
            for cno in range(2):
                k = rno * 2 + cno
                if k >= len(part):
                    break
                text = part[k]
                ref = f"{_col_letters(cno + 1)}{rno + 1}"
                if flat_no % 2 == 0:
                    if text not in shared_idx:
                        shared_idx[text] = len(shared)
                        shared.append(text)
                    cells_xml.append(
                        f'<c r="{ref}" t="s"><v>{shared_idx[text]}</v></c>'
                    )
                else:
                    is_xml = _t_xml(text)
                    cells_xml.append(
                        f'<c r="{ref}" t="inlineStr"><is>{is_xml}</is></c>'
                    )
                flat_no += 1
            rows_xml.append(f'<row r="{rno + 1}">' + "".join(cells_xml) + "</row>")
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{_S}"><sheetData>'
            + "".join(rows_xml)
            + "</sheetData></worksheet>"
        )
    sheets_decl = "".join(
        f'<sheet name="Sheet{i + 1}" sheetId="{i + 1}" r:id="rIdS{i + 1}"/>'
        for i in range(len(sheet_xmls))
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_S}" xmlns:r="{_R}">'
        f"<sheets>{sheets_decl}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{REL}">'
        + "".join(
            f'<Relationship Id="rIdS{i + 1}" Type="{_REL_WORKSHEET}"'
            f' Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheet_xmls))
        )
        + f'<Relationship Id="rIdSS" Type="{_REL_SHARED}"'
        ' Target="sharedStrings.xml"/></Relationships>'
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_S}" count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(_si_xml(s) for s in shared)
        + "</sst>"
    )
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/>'
        for i in range(len(sheet_xmls))
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            _CONTENT_TYPES.format(sheet_overrides=overrides),
        )
        zf.writestr("_rels/.rels", _PKG_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        for i, xml in enumerate(sheet_xmls):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
    return buf.getvalue()


# ------------------------------------------------------- typed records ---

# Builtin numFmtIds that render as dates (ECMA-376 §18.8.30) — the set a
# conforming reader must know WITHOUT a numFmts element, because Excel
# never writes builtin formats out.
_DATE_NUMFMT_IDS = frozenset(range(14, 23)) | frozenset(range(45, 48))

# The 1900 date system epoch: serial 1 = 1900-01-01, with Excel's
# deliberate Lotus-compat leap bug (a phantom 1900-02-29 at serial 60),
# so for serials > 59 the effective epoch is 1899-12-30.
_EPOCH_1900 = (1899, 12, 30)


def serial_to_iso(serial: int, date1904: bool = False) -> str:
    """Excel date serial -> ISO date string.

    1900 system (default): serials <= 59 use the pre-bug epoch
    1899-12-31; the phantom serial 60 (Lotus leap bug) is rejected by
    name.  1904 system (``workbookPr/@date1904`` — Mac-authored
    workbooks): serial 0 = 1904-01-01, NO leap bug, and every serial
    sits 1,462 days behind its 1900-system reading — silently applying
    the wrong system is a 4-year data-corruption bug, which is why the
    extractor keys the conversion off the workbook declaration."""
    import datetime

    if date1904:
        return (
            datetime.date(1904, 1, 1) + datetime.timedelta(days=serial)
        ).isoformat()
    if serial == 60:
        raise ValueError(
            "serial 60 is the phantom 1900-02-29 (Lotus leap bug)"
        )
    if serial < 60:
        base = datetime.date(1899, 12, 31)
    else:
        base = datetime.date(*_EPOCH_1900)
    return (base + datetime.timedelta(days=serial)).isoformat()


def _style_is_date(zf: zipfile.ZipFile, names: set[str]) -> list[bool]:
    """cellXfs index -> is-a-date-format, via styles.xml: each xf's
    numFmtId is either a builtin (the date set above) or resolved
    through the custom numFmts table (format codes containing y/m/d
    day-month-year tokens outside quoted literals)."""
    if "xl/styles.xml" not in names:
        return []
    try:
        st = ET.fromstring(zf.read("xl/styles.xml"))
    except ET.ParseError as exc:
        raise ValueError(f"malformed styles.xml: {exc}") from exc
    custom_date: dict[int, bool] = {}
    for nf in st.iter(f"{{{_S}}}numFmt"):
        code = nf.get("formatCode") or ""
        # strip quoted literals and color/condition brackets, then look
        # for date tokens
        bare = re.sub(r'"[^"]*"|\[[^\]]*\]', "", code).lower()
        custom_date[int(nf.get("numFmtId", "-1"))] = bool(
            re.search(r"[ymd]", bare) and not re.search(r"[#0?]", bare)
        )
    out: list[bool] = []
    xfs = st.find(f"{{{_S}}}cellXfs")
    for xf in ([] if xfs is None else xfs.findall(f"{{{_S}}}xf")):
        fid = int(xf.get("numFmtId", "0"))
        out.append(fid in _DATE_NUMFMT_IDS or custom_date.get(fid, False))
    return out


def extract_xlsx_typed(payload: bytes) -> list[list[tuple[str, str]]]:
    """Rows of (kind, value) with kind in {'s','n','b','d'}: strings via
    the sharedStrings/inline machinery, numbers verbatim, booleans
    TRUE/FALSE, and DATES recognized through the style -> numFmt chain
    and rendered ISO (the typed-table shape LLM record serialization
    needs; plain extract_xlsx_cells flattens everything to text).
    Single-sheet scope: the first sheet in workbook order."""
    if payload[:8] == _OLE2_MAGIC:
        raise NotImplementedError(
            "legacy binary .xls (OLE2 compound file) unsupported"
        )
    if not sniff_xlsx(payload):
        raise ValueError("not a ZIP-based OOXML payload")
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"corrupt OOXML zip: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "EncryptedPackage" in names or "EncryptionInfo" in names:
            raise NotImplementedError("encrypted OOXML package unsupported")
        wb_part = main_part(zf, names, "xl/workbook.xml")
        wb = ET.fromstring(zf.read(wb_part))
        # the workbook's date system declaration (ECMA-376 §18.2.28):
        # Mac-authored files set workbookPr/@date1904 and every serial
        # shifts by 1,462 days
        wpr = wb.find(f"{{{_S}}}workbookPr")
        date1904 = wpr is not None and (
            (wpr.get("date1904") or "").lower() in ("1", "true")
        )
        rels = part_rels(zf, names, wb_part)
        shared: list[str] = []
        for _rid, (typ, tgt) in rels.items():
            if typ == _REL_SHARED and tgt in names:
                sst = ET.fromstring(zf.read(tgt))
                shared = [_si_text(si) for si in sst.iter(f"{{{_S}}}si")]
        date_styles = _style_is_date(zf, names)
        sheets = wb.find(f"{{{_S}}}sheets")
        if sheets is None:
            raise ValueError("workbook has no sheets element")
        first = sheets.find(f"{{{_S}}}sheet")
        if first is None:
            raise ValueError("workbook has no sheets")
        rid = first.get(f"{{{_R}}}id")
        if rid is None or rid not in rels:
            raise ValueError("first sheet has no resolvable r:id")
        ws = ET.fromstring(zf.read(rels[rid][1]))
        out: list[list[tuple[str, str]]] = []
        for row in ws.iter(f"{{{_S}}}row"):
            cells: list[tuple[int, tuple[str, str]]] = []
            for cno, c in enumerate(row.findall(f"{{{_S}}}c"), start=1):
                ref = c.get("r")
                col = cno
                if ref:
                    m = _CELL_REF.match(ref)
                    if not m:
                        raise ValueError(f"bad cell reference {ref!r}")
                    col = _col_index(m.group(1))
                ctype = c.get("t") or "n"
                sidx = int(c.get("s", "-1"))
                is_date = 0 <= sidx < len(date_styles) and date_styles[sidx]
                if ctype in ("s", "inlineStr", "str"):
                    cells.append((col, ("s", _cell_text(c, shared))))
                elif ctype == "b":
                    cells.append((col, ("b", _cell_text(c, shared))))
                elif is_date:
                    v = c.find(f"{{{_S}}}v")
                    if v is None or v.text is None:
                        raise ValueError("date-styled cell without value")
                    cells.append(
                        (col, ("d", serial_to_iso(int(float(v.text)),
                                                  date1904=date1904)))
                    )
                else:
                    cells.append((col, ("n", _cell_text(c, shared))))
            cells.sort(key=lambda t: t[0])
            out.append([kv for _c, kv in cells])
        return out


def encode_xlsx_table(
    header: list[str], rows: list[list[object]], date1904: bool = False
) -> bytes:
    """Write a conforming one-sheet table: header strings via
    sharedStrings, then typed data cells — str (inline), bool, int/float
    (numeric), and ('date', serial) tuples as numbers styled with the
    builtin date numFmtId 14 through a real styles.xml cellXfs chain.
    ``date1904=True`` declares the Mac 1904 date system via
    workbookPr/@date1904 — serials the caller passes must already be in
    that system (1,462 days behind their 1900-system values)."""
    shared: list[str] = []
    shared_idx: dict[str, int] = {}

    def sref(text: str) -> int:
        if text not in shared_idx:
            shared_idx[text] = len(shared)
            shared.append(text)
        return shared_idx[text]

    def cell_xml(ref: str, v: object) -> str:
        if isinstance(v, tuple) and len(v) == 2 and v[0] == "date":
            return f'<c r="{ref}" s="1"><v>{int(v[1])}</v></c>'
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is>{_t_xml(str(v))}</is></c>'
        )

    rows_xml = []
    hdr = "".join(
        f'<c r="{_col_letters(cno + 1)}1" t="s"><v>{sref(h)}</v></c>'
        for cno, h in enumerate(header)
    )
    rows_xml.append(f'<row r="1">{hdr}</row>')
    for rno, row in enumerate(rows, start=2):
        body = "".join(
            cell_xml(f"{_col_letters(cno + 1)}{rno}", v)
            for cno, v in enumerate(row)
        )
        rows_xml.append(f'<row r="{rno}">{body}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_S}"><sheetData>'
        + "".join(rows_xml)
        + "</sheetData></worksheet>"
    )
    styles = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<styleSheet xmlns="{_S}"><cellXfs count="2">'
        '<xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>'
        "</cellXfs></styleSheet>"
    )
    wpr = '<workbookPr date1904="1"/>' if date1904 else ""
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_S}" xmlns:r="{_R}">{wpr}'
        '<sheets><sheet name="Data" sheetId="1" r:id="rIdS1"/></sheets>'
        "</workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{REL}">'
        f'<Relationship Id="rIdS1" Type="{_REL_WORKSHEET}"'
        ' Target="worksheets/sheet1.xml"/>'
        f'<Relationship Id="rIdSS" Type="{_REL_SHARED}"'
        ' Target="sharedStrings.xml"/></Relationships>'
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_S}" count="{len(shared)}"'
        f' uniqueCount="{len(shared)}">'
        + "".join(_si_xml(s) for s in shared)
        + "</sst>"
    )
    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType='
        '"application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'sheet.main+xml"/>'
        '<Override PartName="/xl/styles.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'styles+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'sharedStrings+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/></Types>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", _PKG_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/styles.xml", styles)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()
