"""HTML main-text extraction — the WARC-to-clean-text stage of a web
corpus build (trafilatura/jusText's job, re-implemented on the stdlib
``html.parser`` so it runs in a library-free container).

Policy (deliberately simple and fully deterministic, so an oracle can
recompute the expected output from ground truth):

- content inside ``<script>``, ``<style>``, ``<nav>`` is dropped
  (tag-blocklist boilerplate removal);
- text is collected per BLOCK element (``p``, ``h1``-``h6``, ``li``,
  ``td``, ``blockquote``), inline children (``a``, ``b``, ``span``, ...)
  concatenate into the enclosing block;
- each block's text is whitespace-collapsed and stripped; empty blocks
  are dropped (the degenerate case of jusText's density rule);
- character references are decoded (``&amp;`` -> ``&``);
- ``<title>`` is captured separately; ``<a>`` start-tags are counted
  (link density is the standard boilerplate signal).

The real-world seam: production extraction adds language-aware stopword
density and DOM-subtree scoring (jusText) — that refinement belongs at
this same function boundary.

Scale shape: one ``tables.map_rows`` stage, map-only (no shuffle);
one Python parser pass per page, O(bytes). At 100 TB this stage is
embarrassingly parallel and I/O-bound, exactly like the reference's
per-event metadata parsing (src/modules/tasks/sub-tasks.service.ts
token-URI fetch + JSON parse, re-expressed for HTML pages).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pasardassist_spark.tables import map_rows

SKIP_TAGS = frozenset({"script", "style", "nav"})
BLOCK_TAGS = frozenset(
    {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "blockquote"}
)

_WS = re.compile(r"\s+")


class _MainTextParser(HTMLParser):
    """One-pass block collector; see module docstring for the policy."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self._in_title = False
        self._cur: list[str] | None = None
        self.title_parts: list[str] = []
        self.blocks: list[str] = []
        self.n_links = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip += 1
        if tag == "a":
            self.n_links += 1
        if tag == "title":
            self._in_title = True
        if tag in BLOCK_TAGS and self._skip == 0:
            self._cur = []

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        if tag == "title":
            self._in_title = False
        if tag in BLOCK_TAGS and self._cur is not None:
            text = _WS.sub(" ", "".join(self._cur)).strip()
            if text:
                self.blocks.append(text)
            self._cur = None

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self.title_parts.append(data)
        elif self._skip == 0 and self._cur is not None:
            self._cur.append(data)


def extract_page(html: str) -> tuple[str, list[str], int]:
    """Parse one HTML page -> (title, block texts, link count)."""
    p = _MainTextParser()
    p.feed(html)
    p.close()
    return _WS.sub(" ", "".join(p.title_parts)).strip(), p.blocks, p.n_links


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("clean_text", T.StringType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("n_links", T.LongType()),
    ]
)


def extract_main_text(df: DataFrame, html_col: str, id_col: str) -> DataFrame:
    """Map-only HTML -> main-text extraction, one ``tables.map_rows``
    stage."""

    def extract(doc_id, html):
        title, blocks, n_links = extract_page(html)
        yield int(doc_id), title, "\n".join(blocks), len(blocks), n_links

    return map_rows(df.select(id_col, html_col), extract, _OUT_SCHEMA)
