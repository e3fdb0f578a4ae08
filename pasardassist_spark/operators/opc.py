"""Open Packaging Conventions (ECMA-376 Part 2) part lookup, shared by the
OOXML extractors (operators/docxtext.py, pptxtext.py, xlsxtext.py): the
package relationships name the main part, and each part's ``.rels``
sidecar maps its ``r:id`` references to targets resolved relative to the
part's directory. Malformed relationship XML raises ``ValueError``."""

from __future__ import annotations

import zipfile
import xml.etree.ElementTree as ET

REL = "http://schemas.openxmlformats.org/package/2006/relationships"
REL_OFFICEDOC = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    "/officeDocument"
)


def resolve(base_dir: str, target: str) -> str:
    target = target.lstrip("/")
    if not base_dir:
        return target
    parts = (base_dir + "/" + target).split("/")
    out: list[str] = []
    for p in parts:
        if p == "..":
            if out:
                out.pop()
        elif p not in (".", ""):
            out.append(p)
    return "/".join(out)


def part_rels(zf: zipfile.ZipFile, names: set[str], part: str) -> dict[str, tuple[str, str]]:
    """rId -> (type, resolved target) for a part's .rels sidecar."""
    d, _, base = part.rpartition("/")
    rels_name = (d + "/" if d else "") + "_rels/" + base + ".rels"
    if rels_name not in names:
        return {}
    try:
        rels = ET.fromstring(zf.read(rels_name))
    except ET.ParseError as exc:
        raise ValueError(f"malformed part rels {rels_name}: {exc}") from exc
    out: dict[str, tuple[str, str]] = {}
    for rel in rels.iter(f"{{{REL}}}Relationship"):
        rid, typ, tgt = rel.get("Id"), rel.get("Type"), rel.get("Target") or ""
        if rid:
            out[rid] = (typ or "", resolve(d, tgt))
    return out


def main_part(zf: zipfile.ZipFile, names: set[str], fallback: str) -> str:
    """The main part the package's officeDocument relationship names, or
    ``fallback`` — the fixed path the producing application writes (e.g.
    ``word/document.xml``) — when the rels are missing or point nowhere."""
    if "_rels/.rels" in names:
        try:
            rels = ET.fromstring(zf.read("_rels/.rels"))
        except ET.ParseError as exc:
            raise ValueError(f"malformed package rels: {exc}") from exc
        for rel in rels.iter(f"{{{REL}}}Relationship"):
            if rel.get("Type") == REL_OFFICEDOC:
                target = (rel.get("Target") or "").lstrip("/")
                if target in names:
                    return target
    if fallback in names:
        return fallback
    kind = fallback.rpartition("/")[2].removesuffix(".xml")
    raise ValueError(f"OOXML package has no main {kind} part")
