"""Document-format extraction queries — PDF, DOCX, EPUB, Markdown,
LaTeX, RTF, and RSS/Atom text recovery as a distributed transcode
stage, plus the mixed-format dispatcher that certifies the whole family
through one plan.

A real 100 TB training-data crawl is dominated by PDF and Office
documents; extraction is a pure map pass (no shuffle) that runs at input
bandwidth.  Spark-side every query is one per-row Python stage
(``tables.map_rows``: write the container, parse it back, yield the
output rows) — the plan is scan → project → mapInPandas, one stage, no
exchange (same shape as the image decode family, queries/multimodal.py).
The split-write-extract queries share ``_extract_parts``; the
normalize-and-renumber ones share ``_normalized_extract``.

Fixture-synthesis pattern (operators/gifcodec.py precedent): every
document's OWN text is split into pages/paragraphs by closed-form
character arithmetic, written into a GENUINE container (conforming
PDF-1.4 with Flate streams and a classic xref; conforming OPC/
WordprocessingML zip), then parsed back by the real extractor.  The
DuckDB oracle re-derives each page's length and md5 from the same
substring arithmetic — a lost escape, a mis-walked page tree, or a
dropped run mismatches the hash on 500 real files.

Reference parity: the reference treats fetched documents as opaque
payload + typed metadata (src/utils/*); this is the transcode stage that
model turns into text (SURVEY §2.10 UDF surface / LLM-pipeline family).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.caching import scratch_dir
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load, map_rows

_OUT_SCHEMA = (
    "doc_id long, part_no int, n_parts int, n_chars long, part_md5 string"
)


def _split_bounds(length: int, n: int) -> list[tuple[int, int]]:
    """Equal character splits: part p is text[L*p//n : L*(p+1)//n] — the
    exact arithmetic the SQL oracle mirrors with integer division."""
    return [(length * p // n, length * (p + 1) // n) for p in range(n)]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _part_rows(doc_id, got: list[str]):
    """One ``_OUT_SCHEMA`` row per extracted part."""
    for p, ptxt in enumerate(got):
        yield doc_id, p, len(got), len(ptxt), _md5(ptxt)


def _extract_parts(d: DataFrame, n_mod: int, encode, extract) -> DataFrame:
    """Split each (doc_id, text) row into doc_id % n_mod + 1 equal
    character parts, write them with ``encode(parts, doc_id)``, parse
    the payload back with ``extract`` and emit one ``_OUT_SCHEMA`` row per
    recovered part."""

    def _row(doc_id, text):
        n = int(doc_id) % n_mod + 1
        parts = [text[a:b] for a, b in _split_bounds(len(text), n)]
        got = extract(encode(parts, int(doc_id)))
        if len(got) != n:
            # raise, not assert (must survive python -O): a parser
            # regression must fail the task loudly, never emit a
            # plausible wrong row count
            raise ValueError(f"doc {doc_id}: wrote {n} parts, extracted {len(got)}")
        yield from _part_rows(doc_id, got)

    return map_rows(d, _row, _OUT_SCHEMA)


def _normalized_extract(d: DataFrame, fmt: str, roundtrip) -> DataFrame:
    """Split each (doc_id, text) row into doc_id % 7 + 1 equal character
    parts, normalize each part's whitespace, drop the empty ones (the
    ``_MD_ORACLE`` contract), and write and read them back with
    ``roundtrip``; a result that differs from what was written fails the
    task."""

    def _row(doc_id, text):
        n = int(doc_id) % 7 + 1
        raw = [text[a:b] for a, b in _split_bounds(len(text), n)]
        norm = [" ".join(w for w in part.split(" ") if w) for part in raw]
        kept = [p for p in norm if p]
        got = roundtrip(kept)
        if got != kept:
            # raise, not assert (must survive python -O)
            raise ValueError(f"{fmt} round-trip mismatch for doc {doc_id}")
        yield from _part_rows(doc_id, got)

    return map_rows(d, _row, _OUT_SCHEMA)


def _oracle(n_mod: int) -> str:
    # DuckDB: // is floor division; substring() is 1-based character
    # semantics, matching Python code-point slicing.
    return f"""
    WITH base AS (
        SELECT doc_id, text, length(text) AS L,
               doc_id % {n_mod} + 1 AS n
        FROM documents
    ),
    parts AS (
        SELECT doc_id,
               CAST(p.p AS INTEGER) AS part_no,
               CAST(n AS INTEGER) AS n_parts,
               substring(text, CAST((L * p.p) // n AS INTEGER) + 1,
                         CAST((L * (p.p + 1)) // n - (L * p.p) // n
                              AS INTEGER)) AS ptxt
        FROM base
        JOIN (SELECT unnest(range(0, {n_mod})) AS p) p ON p.p < n
    )
    SELECT doc_id, part_no, n_parts,
           CAST(length(ptxt) AS BIGINT) AS n_chars,
           md5(ptxt) AS part_md5
    FROM parts
    """


@query("doc_pdf_extract", oracle=_oracle(3))
def doc_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text extraction end-to-end (operators/pdftext.py): each
    document's text is split into doc_id%3+1 pages and written as a
    conforming PDF, rotating BOTH container generations and the stream
    filter by doc_id — odd ids get the PDF-1.5 layout (a /Type /XRef
    cross-reference stream with predictor-12 Flate rows locating every
    non-stream object inside a /Type /ObjStm object stream, the layout
    of virtually all post-2005 PDFs), even ids the classic PDF-1.4
    table; content streams cycle FlateDecode, LZWDecode,
    [/ASCII85Decode /FlateDecode] and [/ASCIIHexDecode /RunLengthDecode]
    cascades (doc_id%4), with indirect /Length refs whose targets sit
    INSIDE the object stream on the 1.5 side (type-2 resolution on every
    document).  Extraction is the conforming walk — startxref → xref
    table or stream (/W rows, /Index subsections, /Prev chains) →
    trailer → catalog → page tree → content streams.  The oracle
    re-derives every page's length and md5 from substring arithmetic, so
    any parser defect (xref row decode, predictor undo, ObjStm offset,
    filter cascade, escape decode, page order, TJ handling, standard
    security handler key derivation or per-object decrypt)
    hash-mismatches on 500 real PDFs — ~250 of them xref-stream files.
    ENCRYPTED variants rotate in by doc_id%5 (round 14): 3 → RC4
    (V1/R2 40-bit and V2/R3 128-bit alternating), 4 → the AES slice
    cycling AES-128 (V4/R4 AESV2), AES-256 R5 (single-SHA-256) and
    AES-256 R6 (V5 AESV3 — Algorithm 2.B hardened hash, /UE key
    unwrap, /Perms check; density-capped at 1/25 because 2.B is a
    deliberate KDF), all owner-locked (empty user password — the
    permissions-only lock every conforming reader opens,
    operators/pdfcrypt.py), and the %2/%5 interleave crosses
    encryption with BOTH container generations.  Wrong password / JPX
    / JBIG2 raise by name (module docstring); hybrid /XRefStm, /Prev
    generation mixes, /Extends chains, the filter codecs and the
    crypto-vector pins are hand-tested in tests/test_pdf15.py and
    tests/test_pdfcrypt.py."""
    from pasardassist_spark.operators.pdftext import encode_pdf, extract_pdf_pages

    _FILTERS = ("flate", "lzw", "a85flate", "rlhex")

    def enc(parts: list[str], doc_id: int) -> bytes:
        mode = None
        if doc_id % 5 == 3:
            mode = "rc4-40" if (doc_id // 5) % 2 == 0 else "rc4-128"
        elif doc_id % 5 == 4:
            # AES slice cycles the three handler generations; R6's
            # hardened hash is a deliberate KDF (~4 ms/derivation), so
            # its density is capped at 1/25 of the corpus to keep the
            # bench anchor measuring Spark, not key stretching
            mode = ("aes-128", "aes-128", "aes-256-r5", "aes-256-r5",
                    "aes-256")[(doc_id // 5) % 5]
        return encode_pdf(
            parts,
            xref_stream=doc_id % 2 == 1,
            content_filter=_FILTERS[doc_id % 4],
            encrypt=mode,
        )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _extract_parts(d, 3, enc, extract_pdf_pages)


@query("doc_docx_extract", oracle=_oracle(4))
def doc_docx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL DOCX text extraction end-to-end (operators/docxtext.py): each
    document's text becomes doc_id%4+1 paragraphs of a conforming OPC
    package (the main part located via the _rels/.rels officeDocument
    relationship, not a hard-coded path), paragraphs written as multiple
    split w:r runs with xml:space edge cases and real w:tab/w:br elements
    for tab/newline characters; the namespace-aware extractor
    reconstructs each paragraph exactly.  Oracle: same substring + md5
    re-derivation as doc_pdf_extract.  OLE2 .doc and encrypted packages
    raise by name; table-cell flow order pytest-pinned in
    tests/test_docformats.py."""
    from pasardassist_spark.operators.docxtext import (
        encode_docx,
        extract_docx_paragraphs,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _extract_parts(
        d, 4, lambda parts, _: encode_docx(parts), extract_docx_paragraphs
    )


def _doc_pipeline_oracle() -> str:
    from pasardassist_spark.queries.curation import (
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MIN_STOP_HITS,
        GOPHER_STOPS,
    )
    from pasardassist_spark.queries.text import _TOKS_SQL

    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPS)
    return f"""
    WITH m AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'docx' END AS fmt,
               CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 3 + 1
                         ELSE doc_id % 4 + 1 END AS INTEGER) AS n_parts,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_words,
               CAST(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                    AS DOUBLE) / len({_TOKS_SQL}) AS mean_word_len,
               CAST(len(list_filter({_TOKS_SQL}, t -> t IN ({stops})))
                    AS BIGINT) AS stop_hits
        FROM documents
    )
    SELECT doc_id, fmt, n_parts, n_chars, n_words,
           round(mean_word_len, 6) AS mean_word_len, stop_hits,
           (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
            AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
            AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
    FROM m
    """


@query("pipeline_doc_extract_clean", oracle=_doc_pipeline_oracle())
def pipeline_doc_extract_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Office-document front half composed end-to-end: genuine PDF (even
    doc_ids) / DOCX (odd) containers -> the conforming extractors
    (operators/pdftext.py / docxtext.py) -> Gopher-style quality gates on
    the EXTRACTED text, one plan. The gates run on what the parser
    recovered, so a lost escape or dropped run flips mean_word_len or a
    stop-hit and hash-mismatches — the oracle re-derives everything from
    documents.text because a correct extractor reconstructs it exactly.

    Scale shape: synthesis+extraction is one map-only mapInPandas, the
    gates are column math fused onto its output — zero shuffle, scan
    speed, composing without materialization (the
    pipeline_web_extract_clean discipline for the office-format half of
    a crawl)."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators import text as X
    from pasardassist_spark.operators.docxtext import (
        encode_docx,
        extract_docx_paragraphs,
    )
    from pasardassist_spark.operators.pdftext import encode_pdf, extract_pdf_pages
    from pasardassist_spark.queries.curation import (
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MIN_STOP_HITS,
        GOPHER_STOPS,
    )

    schema = "doc_id long, fmt string, n_parts int, text string"

    def _stage(doc_id, text):
        seed = int(doc_id)
        if seed % 2 == 0:
            fmt, n = "pdf", seed % 3 + 1
            parts = [text[a:b] for a, b in _split_bounds(len(text), n)]
            # rotate container generations: every other PDF is the 1.5
            # xref-stream + ObjStm layout
            got = extract_pdf_pages(encode_pdf(parts, xref_stream=seed % 4 == 0))
        else:
            fmt, n = "docx", seed % 4 + 1
            parts = [text[a:b] for a, b in _split_bounds(len(text), n)]
            got = extract_docx_paragraphs(encode_docx(parts))
        yield doc_id, fmt, n, "".join(got)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    ext = map_rows(d, _stage, schema)
    toks = X.tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    mwl = (
        F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
        .cast("double") / n_words
    )
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*GOPHER_STOPS))
    ).cast("long")
    return ext.select(
        "doc_id", "fmt", "n_parts",
        F.length("text").cast("long").alias("n_chars"),
        n_words.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        (
            (mwl >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mwl <= GOPHER_MAX_MEAN_WORD_LEN)
            & (stop_hits >= GOPHER_MIN_STOP_HITS)
        ).alias("keep"),
    )


@query("doc_epub_extract", oracle=_oracle(5))
def doc_epub_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL EPUB text extraction end-to-end (operators/epubtext.py): each
    document's text becomes doc_id%5+1 XHTML chapters of a conforming
    OCF container, located the conforming way — mimetype validation,
    META-INF/container.xml -> OPF rootfile, manifest hrefs resolved
    relative to the OPF directory, SPINE order (not zip order) deciding
    the reading sequence. Chapter text survives span splitting, real
    <br/> elements for newlines, and style-subtree exclusion. Oracle:
    the same substring + md5 re-derivation as the PDF/DOCX rows.
    DRM-protected containers raise by name; spine/manifest error paths
    pytest-pinned in tests/test_docformats.py."""
    from pasardassist_spark.operators.epubtext import (
        encode_epub,
        extract_epub_chapters,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _extract_parts(
        d, 5, lambda parts, _: encode_epub(parts), extract_epub_chapters
    )


_MD_ORACLE = """
    WITH base AS (
        SELECT doc_id, text, length(text) AS L, doc_id % 7 + 1 AS n
        FROM documents
    ),
    parts AS (
        SELECT doc_id, p.p AS orig_no,
               substring(text, CAST((L * p.p) // n AS INTEGER) + 1,
                         CAST((L * (p.p + 1)) // n - (L * p.p) // n
                              AS INTEGER)) AS ptxt
        FROM base
        JOIN (SELECT unnest(range(0, 7)) AS p) p ON p.p < n
    ),
    norm AS (
        SELECT doc_id, orig_no,
               array_to_string(
                   list_filter(string_split(ptxt, ' '), w -> w != ''),
                   ' ') AS ptxt
        FROM parts
    ),
    kept AS (
        SELECT doc_id, ptxt,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY orig_no) - 1
                   AS part_no,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_parts
        FROM norm WHERE ptxt != ''
    )
    SELECT doc_id, CAST(part_no AS INTEGER) AS part_no,
           CAST(n_parts AS INTEGER) AS n_parts,
           CAST(length(ptxt) AS BIGINT) AS n_chars,
           md5(ptxt) AS part_md5
    FROM kept
    """


@query("doc_markdown_extract", oracle=_MD_ORACLE)
def doc_markdown_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Markdown extraction end-to-end (operators/mdtext.py — the
    developer-corpus format): each document's text splits into doc_id%7+1
    parts, every part wrapped as a DIFFERENT markdown block kind
    (heading, emphasis runs, link+image paragraph, blockquote, list item,
    verbatim code fence, code-span paragraph, with thematic breaks
    interleaved), and the CommonMark-subset parser — real block pass +
    inline pass with code-span shielding, matching-length backtick runs,
    nested link text, and backslash escapes — recovers each block's plain
    text. Whitespace contract: words rejoin single-spaced; empty parts
    have no markdown representation and are filtered with renumbering on
    both engines. Grammar hand-cases pytest-pinned in
    tests/test_docformats.py."""
    from pasardassist_spark.operators.mdtext import (
        encode_markdown,
        extract_markdown_blocks,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _normalized_extract(
        d, "markdown", lambda kept: extract_markdown_blocks(encode_markdown(kept))
    )


@query("doc_latex_extract", oracle=_MD_ORACLE)
def doc_latex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LaTeX extraction end-to-end (operators/textext.py — the
    arXiv-ingestion pass): each document's text splits into doc_id%7+1
    parts, every part wrapped as a DIFFERENT construct (section heading
    with label, emphasis runs with citations, math-interleaved paragraph
    where $...$/display math drop out, itemize list, VERBATIM block,
    tabular row with &-separators, comment-laced paragraph), inside a
    full documentclass/begin-document skeleton. The tokenizer-driven
    parser (control sequences with TeX whitespace rules, keep- vs
    drop-argument command tables, math-mode tracking across
    $/$$/\\(\\)/\\[\\] and math environments, verbatim preservation,
    escape handling) recovers the plain text; same normalize-and-
    renumber contract — and therefore the same oracle — as
    doc_markdown_extract. Grammar hand-cases pytest-pinned in
    tests/test_docformats.py."""
    from pasardassist_spark.operators.textext import encode_latex, latex_to_text

    def _roundtrip(kept: list[str]) -> list[str]:
        # the writer emits one construct per part separated by blank
        # lines, which survive extraction as \n\n seams; normalize each
        # segment's whitespace to recover parts
        segs = latex_to_text(encode_latex(kept)).split("\n\n")
        got = [" ".join(seg.split()) for seg in segs]
        return [g for g in got if g]

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _normalized_extract(d, "latex", _roundtrip)


@query("doc_rtf_extract", oracle=_MD_ORACLE)
def doc_rtf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RTF extraction end-to-end (operators/rtftext.py — the
    legacy-Office format): each document's text splits into doc_id%7+1
    paragraphs, every one written through a rotating grammar (plain,
    bold/italic format-run groups, all-hex \\'hh paragraphs, \\uN
    unicode escapes under \\uc2 with fallback skipping, ignorable-
    destination-laced paragraphs) behind a real header with font/color/
    info tables the parser must drop wholesale. The group-aware parser
    (state stack scoping \\uc and destinations, control-word parameter
    rules, cp1252 hex decode, signed 16-bit unicode escapes) recovers
    each paragraph; same normalize-and-renumber contract — and oracle —
    as doc_markdown_extract. Grammar hand-cases pytest-pinned in
    tests/test_docformats.py."""
    from pasardassist_spark.operators.rtftext import encode_rtf, rtf_to_text

    def _roundtrip(kept: list[str]) -> list[str]:
        segs = rtf_to_text(encode_rtf(kept)).split("\n")
        got = [" ".join(seg.split()) for seg in segs]
        return [g for g in got if g]

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _normalized_extract(d, "rtf", _roundtrip)


@query(
    "doc_feed_extract",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
               doc_id % 5 + 1 AS n,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    entries AS (
        SELECT doc_id, kind,
               CAST(i.i AS INTEGER) AS entry_no,
               CAST(1600000000 + doc_id * 37 + i.i * 7919 AS BIGINT)
                   AS ts_epoch,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS title
        FROM base JOIN (SELECT unnest(range(0, 5)) AS i) i ON i.i < n
    )
    SELECT doc_id, kind, entry_no, ts_epoch,
           CAST(length(title) AS BIGINT) AS n_chars,
           md5(title) AS title_md5
    FROM entries
    """,
)
def doc_feed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL syndication-feed parsing end-to-end (operators/feedtext.py —
    feed XML is how crawlers discover fresh content): each document's
    words become doc_id%5+1 entries of a genuine RSS 2.0 (even doc_ids)
    or Atom 1.0 feed (odd, namespace-aware), with entry timestamps
    written in the dialect's own date grammar — RFC-822 with named
    months and ±hhmm offsets for RSS, RFC-3339 with Z/±hh:mm for Atom —
    at a per-entry zone offset that the parser must normalize away: the
    oracle knows only the UTC epoch formula, so a zone-handling bug
    shifts every timestamp and hash-mismatches. Date parsers are
    additionally cross-checked against email.utils/fromisoformat in
    tests/test_docformats.py."""
    from pasardassist_spark.operators.feedtext import (
        encode_atom,
        encode_rss,
        parse_feed,
    )

    schema = (
        "doc_id long, kind string, entry_no int, ts_epoch long, "
        "n_chars long, title_md5 string"
    )

    def _row(doc_id, text):
        seed = int(doc_id)
        kind = "rss" if seed % 2 == 0 else "atom"
        n = seed % 5 + 1
        words = [w for w in text.split(" ") if w]
        w_ = len(words)
        entries = []
        for i in range(n):
            a, b = (w_ * i) // n, (w_ * (i + 1)) // n
            epoch = 1600000000 + seed * 37 + i * 7919
            off = ((seed + i) % 25 - 12) * 30
            title = " ".join(words[a:b])
            entries.append((title, f"http://feed/{seed}/{i}", epoch, off, title))
        xml = (encode_rss if kind == "rss" else encode_atom)(f"feed-{seed}", entries)
        got_kind, _, got = parse_feed(xml)
        if got_kind != kind or [
            (e.title, e.ts_epoch) for e in got
        ] != [(t, ep) for t, _l, ep, _o, _s in entries]:
            # raise, not assert (must survive python -O)
            raise ValueError(f"feed round-trip mismatch for doc {doc_id}")
        for e in got:
            yield doc_id, kind, e.entry_no, e.ts_epoch, len(e.title), _md5(e.title)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query(
    "pipeline_any_doc_extract",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 12
               WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' WHEN 2 THEN 'epub'
               WHEN 3 THEN 'markdown' WHEN 4 THEN 'latex' WHEN 5 THEN 'rtf'
               WHEN 6 THEN 'xlsx' WHEN 7 THEN 'pptx' WHEN 8 THEN 'email'
               WHEN 9 THEN 'doc' WHEN 10 THEN 'xls' ELSE 'ppt'
           END AS fmt,
           CAST(length(norm) AS BIGINT) AS n_chars,
           md5(norm) AS text_md5
    FROM (
        SELECT doc_id,
               array_to_string(
                   list_filter(string_split(text, ' '), w -> w != ''),
                   ' ') AS norm
        FROM documents
    )
    """,
)
def pipeline_any_doc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document-format family as ONE dispatcher stage — the shape a
    real crawl pipeline runs (payloads arrive in mixed formats; a single
    map pass sniffs and routes): each document is written into the
    format doc_id%12 selects (PDF, DOCX, EPUB, Markdown, LaTeX, RTF,
    XLSX, PPTX, RFC 5322 email, legacy .doc/.xls/.ppt), re-extracted by
    that format's conforming parser, and reduced to the md5 of its
    whitespace-normalized text — which the oracle computes directly
    from documents.text, so ALL TWELVE parsers
    must reconstruct their input exactly for the single hash column to
    match on 500 mixed-format files. Zero shuffle; the per-format rates
    are in BASELINE.md's round-11/12 tables."""
    from pasardassist_spark.operators.docxtext import (
        encode_docx,
        extract_docx_paragraphs,
    )
    from pasardassist_spark.operators.epubtext import (
        encode_epub,
        extract_epub_chapters,
    )
    from pasardassist_spark.operators.mdtext import (
        encode_markdown,
        extract_markdown_blocks,
    )
    from pasardassist_spark.operators.pdftext import encode_pdf, extract_pdf_pages
    from pasardassist_spark.operators.rtftext import encode_rtf, rtf_to_text
    from pasardassist_spark.operators.docsniff import (
        sniff_document as _sniff_document,
    )
    from pasardassist_spark.operators.textext import encode_latex, latex_to_text
    from pasardassist_spark.operators.xlsxtext import (
        encode_xlsx,
        extract_xlsx_cells,
    )
    from pasardassist_spark.operators.pptxtext import (
        encode_pptx,
        extract_pptx_slides,
    )
    from pasardassist_spark.operators.emailtext import encode_email, parse_email
    from pasardassist_spark.operators.doctext import encode_doc, extract_doc_text
    from pasardassist_spark.operators.xlstext import encode_xls, extract_xls_cells
    from pasardassist_spark.operators.ppttext import encode_ppt, extract_ppt_text

    def _rtf(parts):
        return encode_rtf(parts)

    codecs = {
        # container rotation keyed off the part count (seed-derived, so
        # deterministic): the sniffer must route BOTH PDF generations
        "pdf": (
            lambda parts: encode_pdf(parts, xref_stream=len(parts) % 2 == 1),
            extract_pdf_pages,
        ),
        "docx": (encode_docx, extract_docx_paragraphs),
        "epub": (encode_epub, extract_epub_chapters),
        "markdown": (
            encode_markdown,
            extract_markdown_blocks,
        ),
        "latex": (
            encode_latex,
            lambda tex: [
                s for s in (
                    " ".join(seg.split())
                    for seg in latex_to_text(tex).split("\n\n")
                ) if s
            ],
        ),
        "rtf": (
            _rtf,
            lambda rtf: [
                s for s in (
                    " ".join(seg.split())
                    for seg in rtf_to_text(rtf).split("\n")
                ) if s
            ],
        ),
        "xlsx": (encode_xlsx, extract_xlsx_cells),
        "pptx": (encode_pptx, extract_pptx_slides),
        "email": (
            lambda parts: encode_email(
                "dispatch", 1700000000, " ".join(parts), len(parts)
            ),
            lambda raw: [parse_email(raw).text],
        ),
        "doc": (
            lambda parts: encode_doc("\n".join(parts)),
            lambda raw: extract_doc_text(raw).split("\n"),
        ),
        "xls": (
            lambda parts: encode_xls(
                "S", [(i, 0, i) for i in range(len(parts))], list(parts)
            ),
            lambda raw: [
                v for _s, _r, _c, k, v in extract_xls_cells(raw) if k == "s"
            ],
        ),
        # encrypted decks rotate in on odd part counts (r15): the
        # CryptSession10Container + persist-object RC4 CryptoAPI path,
        # values unchanged so the same oracle hash certifies it
        "ppt": (
            lambda parts: encode_ppt(
                parts,
                password="corpus-pw" if len(parts) % 2 == 1 else None,
            ),
            lambda raw: extract_ppt_text(raw, "corpus-pw"),
        ),
    }
    fmts = ["pdf", "docx", "epub", "markdown", "latex", "rtf", "xlsx",
            "pptx", "email", "doc", "xls", "ppt"]

    schema = "doc_id long, fmt string, n_chars long, text_md5 string"

    def _row(doc_id, text):
        seed = int(doc_id)
        fmt = fmts[seed % 12]
        enc, ext = codecs[fmt]
        n = seed % 3 + 2
        words = [w for w in text.split(" ") if w]
        w_ = len(words)
        # WORD-boundary splits: rejoining parts must reproduce the
        # normalized document exactly (character splits would cut words
        # at part seams)
        kept = [" ".join(words[w_ * p // n : w_ * (p + 1) // n]) for p in range(n)]
        kept = [p for p in kept if p]
        payload = enc(kept)
        # route the EXTRACTION by sniffing the payload, the way a crawl
        # pipeline routes an unlabeled blob — the known fmt only checks
        # the sniffer; binary formats sniff on magic bytes (epub before
        # docx: both are zips, epub is distinguished by its stored
        # mimetype), text formats on the RTF magic with markdown/latex
        # left to the router's declared default ordering
        sniffed = _sniff_document(payload)
        if sniffed != fmt:
            raise ValueError(
                f"sniffer said {sniffed!r}, expected {fmt!r} (doc {doc_id})"
            )
        got = ext(payload)
        joined = " ".join(" ".join(w for w in g.split(" ") if w) for g in got if g)
        want = " ".join(w for w in text.split(" ") if w)
        if joined != want:
            # raise, not assert (must survive python -O)
            raise ValueError(f"{fmt} dispatcher round-trip mismatch, doc {doc_id}")
        yield doc_id, fmt, len(joined), _md5(joined)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query(
    "doc_email_extract",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 3 + 1 AS n,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    msg AS (
        SELECT doc_id,
               CAST(i.i AS INTEGER) AS msg_no,
               CAST(n AS INTEGER) AS n_msgs,
               'msg ' || doc_id || ' ' || i.i AS subject,
               CAST(1700000000 + doc_id * 97 + i.i * 61 AS BIGINT)
                   AS date_epoch,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS body
        FROM base JOIN (SELECT unnest(range(0, 3)) AS i) i ON i.i < n
    )
    SELECT doc_id, msg_no, n_msgs, subject, date_epoch,
           CAST(length(body) AS BIGINT) AS n_chars,
           md5(body) AS body_md5
    FROM msg
    """,
)
def doc_email_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RFC 5322 / MIME email extraction end-to-end
    (operators/emailtext.py): each document becomes an mboxrd mailbox of
    doc_id%3+1 genuine messages — word-slice bodies composed through the
    structure (doc_id+msg_no)%4 selects (plain-8bit, plain-QP,
    multipart/alternative with a base64 HTML sibling, multipart/mixed
    with a nested alternative and a binary attachment), subjects RFC
    2047 B-encoded on odd structures, dates rendered RFC 2822 — then
    split back at the mbox layer (>From quoting exercised on real text)
    and parsed: headers unfolded, encoded-words decoded, the multipart
    tree recursed, the text/plain leaf selected and its CTE decoded.
    The oracle re-derives each body's word-slice md5 and the closed-form
    date/subject directly from documents.text, so any defect in QP,
    base64, boundary scanning, part selection, or date math mismatches
    on 500 mailboxes.  Scan → mapInPandas, one stage, zero shuffle."""
    from pasardassist_spark.operators.emailtext import (
        encode_email,
        encode_mbox,
        parse_email,
        split_mbox,
    )

    schema = (
        "doc_id long, msg_no int, n_msgs int, subject string, "
        "date_epoch long, n_chars long, body_md5 string"
    )

    def _row(doc_id, text):
        seed = int(doc_id)
        n = seed % 3 + 1
        words = [w for w in text.split(" ") if w]
        w_ = len(words)
        msgs = []
        for i in range(n):
            body = " ".join(words[w_ * i // n : w_ * (i + 1) // n])
            msgs.append(
                encode_email(
                    f"msg {seed} {i}", 1700000000 + seed * 97 + i * 61, body, seed + i,
                )
            )
        got = split_mbox(encode_mbox(msgs))
        if len(got) != n:
            # raise, not assert (must survive python -O)
            raise ValueError(f"doc {doc_id}: wrote {n} messages, split {len(got)}")
        for i, raw in enumerate(got):
            doc = parse_email(raw)
            if doc.subject != f"msg {seed} {i}":
                raise ValueError(
                    f"doc {doc_id} msg {i}: subject mismatch {doc.subject!r}"
                )
            yield (
                doc_id, i, n, doc.subject, doc.date_epoch, len(doc.text),
                _md5(doc.text),
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query(
    "doc_email_attachments",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 3 + 1 AS n,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    att AS (
        SELECT doc_id,
               CAST(i.i AS INTEGER) AS att_no,
               'slice-' || i.i || '.txt' AS filename,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS body
        FROM base JOIN (SELECT unnest(range(0, 3)) AS i) i ON i.i < n
    )
    SELECT doc_id, att_no, filename,
           'application/octet-stream' AS ctype,
           CAST(octet_length(encode(body)) AS BIGINT) AS n_bytes,
           md5(body) AS content_md5
    FROM att
    """,
)
def doc_email_attachments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attachment recovery from MIME messages (operators/emailtext.py —
    the other half of mail-corpus ingestion: bodies become text,
    attachments become payload rows for the multimodal pipeline): each
    document composes ONE multipart/mixed message whose doc_id%3+1
    base64 attachments carry word-slice payloads under Content-
    Disposition filenames (body QP-encoded on odd docs); the extractor
    walks the MIME tree collecting (filename, ctype, decoded bytes) for
    every attachment part, and the oracle re-derives each slice's byte
    length and md5 directly from documents.text — a wrong disposition
    parse, base64 decode, or part-order walk mismatches on 500
    messages.  Scan → mapInPandas, one stage, zero shuffle."""
    from pasardassist_spark.operators.emailtext import (
        encode_email_with_attachments,
        extract_attachments,
        parse_email,
    )

    schema = (
        "doc_id long, att_no int, filename string, ctype string, "
        "n_bytes long, content_md5 string"
    )

    def _row(doc_id, text):
        seed = int(doc_id)
        n = seed % 3 + 1
        words = [w for w in text.split(" ") if w]
        w_ = len(words)
        atts = [
            (
                f"slice-{i}.txt",
                " ".join(words[w_ * i // n : w_ * (i + 1) // n]).encode("utf-8"),
            )
            for i in range(n)
        ]
        raw = encode_email_with_attachments(
            f"atts {seed}", 1700000000 + seed, "carrier body",
            atts, qp_body=bool(seed % 2),
        )
        if parse_email(raw).text != "carrier body":
            raise ValueError(f"doc {doc_id}: body part corrupted")
        got = extract_attachments(raw)
        if len(got) != n:
            raise ValueError(f"doc {doc_id}: wrote {n} attachments, got {len(got)}")
        for i, (fname, ctype, data) in enumerate(got):
            yield doc_id, i, fname, ctype, len(data), hashlib.md5(data).hexdigest()

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


def _thread_roundtrip(seed: int, text: str) -> dict:
    """The binary-tree thread fixture shared by doc_email_threads and
    pipeline_email_to_sft: compose seed%4+2 messages (word-slice bodies,
    message i replying to (i-1)//2, threading identity split between
    In-Reply-To and References), scramble the mailbox order, split and
    re-parse.  Returns {msg_id: EmailDoc}."""
    from pasardassist_spark.operators.emailtext import (
        encode_email,
        encode_mbox,
        parse_email,
        split_mbox,
    )

    n = seed % 4 + 2
    words = [w for w in text.split(" ") if w]
    w_ = len(words)
    msgs = []
    for i in range(n):
        body = " ".join(words[w_ * i // n : w_ * (i + 1) // n])
        mid = f"t{seed}.{i}@corpus"
        if i == 0:
            irt, refs = None, None
        elif i % 2 == 1:
            irt, refs = f"t{seed}.{(i - 1) // 2}@corpus", None
        else:
            # ancestor chain root..parent, parent LAST
            chain, p = [], (i - 1) // 2
            while True:
                chain.append(p)
                if p == 0:
                    break
                p = (p - 1) // 2
            irt = None
            refs = [f"t{seed}.{a}@corpus" for a in reversed(chain)]
        msgs.append(
            encode_email(
                f"thread {seed} msg {i}",
                1700000000 + seed * 131 + i * 67,
                body,
                seed + i,
                msg_id=mid,
                in_reply_to=irt,
                references=refs,
            )
        )
    scrambled = [msgs[(7 * j + 3) % n] for j in range(n)]
    got = split_mbox(encode_mbox(scrambled))
    if len(got) != n:
        raise ValueError(f"doc {seed}: wrote {n} messages, split {len(got)}")
    parsed = {}
    for raw in got:
        doc = parse_email(raw)
        if doc.msg_id is None:
            raise ValueError(f"doc {seed}: message without id")
        parsed[doc.msg_id] = doc
    return parsed


@query(
    "doc_email_threads",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 4 + 2 AS n,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    msg AS (
        SELECT doc_id,
               CAST(i.i AS INTEGER) AS i,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS body
        FROM base JOIN (SELECT unnest(range(0, 6)) AS i) i ON i.i < n
    )
    SELECT doc_id,
           't' || doc_id || '.' || i || '@corpus' AS msg_id,
           CASE WHEN i = 0 THEN NULL
                ELSE 't' || doc_id || '.' || ((i - 1) // 2) || '@corpus'
           END AS parent_id,
           CAST(floor(log2(i + 1)) AS INTEGER) AS depth,
           CAST(length(body) AS BIGINT) AS n_chars,
           md5(body) AS body_md5
    FROM msg
    """,
)
def doc_email_threads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mail-thread reconstruction (operators/emailtext.py — the step
    that turns an mbox archive into conversation trees for chat-style
    training data): each document becomes a BINARY-TREE thread of
    doc_id%4+2 messages (message i replies to (i-1)//2), written into
    one mboxrd mailbox in a SCRAMBLED order (position j holds message
    (7j+3) mod n, so file order never equals thread order), with the
    threading identity split across both RFC 5322 mechanisms — odd
    messages carry In-Reply-To, even messages ONLY a References chain
    whose last id is the parent (the JWZ fallback rule).  The extractor
    re-parses every message, resolves each parent, and computes depth by
    WALKING the chain; the oracle re-derives depth as floor(log2(i+1))
    and the bodies as word slices, so a mis-parsed Message-ID, a wrong
    fallback rule, or a broken walk mismatches on 500 mailboxes.  Scan →
    mapInPandas, one stage, zero shuffle (threads are mailbox-local —
    the partition-local shape real archives have)."""
    schema = (
        "doc_id long, msg_id string, parent_id string, depth int, "
        "n_chars long, body_md5 string"
    )

    def _row(doc_id, text):
        parsed = _thread_roundtrip(int(doc_id), text)
        for mid, doc in parsed.items():
            depth, p, hops = 0, doc.in_reply_to, 0
            while p is not None:
                if p not in parsed or hops > 64:
                    raise ValueError(f"doc {doc_id}: broken thread chain at {p!r}")
                depth += 1
                hops += 1
                p = parsed[p].in_reply_to
            yield doc_id, mid, doc.in_reply_to, depth, len(doc.text), _md5(doc.text)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query(
    "pipeline_email_to_sft",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 4 + 2 AS n,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    paths(pn, leaf, path) AS (VALUES
        (2, 1, [0, 1]),
        (3, 1, [0, 1]), (3, 2, [0, 2]),
        (4, 2, [0, 2]), (4, 3, [0, 1, 3]),
        (5, 2, [0, 2]), (5, 3, [0, 1, 3]), (5, 4, [0, 1, 4])),
    j AS (
        SELECT b.doc_id, b.n, b.words, p.leaf, p.path
        FROM base b JOIN paths p ON p.pn = b.n
    ),
    r AS (
        SELECT doc_id, leaf,
               len(path) AS n_turns,
               array_to_string(list_transform(path, i ->
                   '<|im_start|>' ||
                   (CASE WHEN CAST(floor(log2(i + 1)) AS INTEGER) % 2 = 0
                         THEN 'user' ELSE 'assistant' END) ||
                   chr(10) ||
                   array_to_string(
                       words[(len(words) * i) // n + 1
                             : (len(words) * (i + 1)) // n], ' ') ||
                   '<|im_end|>' || chr(10)), '') AS rendered,
               CAST(list_sum(list_transform(path, i ->
                   CASE WHEN CAST(floor(log2(i + 1)) AS INTEGER) % 2 = 1
                        THEN length(array_to_string(
                            words[(len(words) * i) // n + 1
                                  : (len(words) * (i + 1)) // n], ' '))
                        ELSE 0 END)) AS BIGINT) AS assistant_chars
        FROM j
    )
    SELECT doc_id,
           't' || doc_id || '.' || leaf || '@corpus' AS leaf_id,
           CAST(n_turns AS INTEGER) AS n_turns,
           assistant_chars,
           md5(rendered) AS rendered_md5
    FROM r
    """,
)
def pipeline_email_to_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mail-to-training-data composition end-to-end: thread mailboxes
    (the doc_email_threads fixture — scrambled mboxrd, JWZ parent
    resolution) are reconstructed into trees, every ROOT-TO-LEAF path
    becomes one conversation (the Reddit/email-SFT convention), roles
    alternate user/assistant by depth, and each conversation renders in
    the ChatML template format_chat_sft uses, with the assistant
    character mass (the loss-maskable span) computed alongside.  The
    oracle enumerates the binary tree's paths per size as literal
    tables and re-renders the identical strings from word slices — a
    wrong parent, a missed leaf, or a role-parity slip mismatches the
    hash on 500 mailboxes.  Scan → mapInPandas, one stage, zero
    shuffle; leaves are thread-local so the fan-out is bounded by
    thread size, never corpus size."""
    schema = (
        "doc_id long, leaf_id string, n_turns int, assistant_chars long, "
        "rendered_md5 string"
    )

    def _row(doc_id, text):
        parsed = _thread_roundtrip(int(doc_id), text)
        parents = {m.in_reply_to for m in parsed.values() if m.in_reply_to is not None}
        leaves = [mid for mid in parsed if mid not in parents]
        for leaf in leaves:
            path, p, hops = [], leaf, 0
            while p is not None:
                if p not in parsed or hops > 64:
                    raise ValueError(f"doc {doc_id}: broken chain at {p!r}")
                path.append(p)
                hops += 1
                p = parsed[p].in_reply_to
            path.reverse()  # root -> leaf
            chunks, a_chars = [], 0
            for depth, mid in enumerate(path):
                role = "user" if depth % 2 == 0 else "assistant"
                body = parsed[mid].text
                if role == "assistant":
                    a_chars += len(body)
                chunks.append(f"<|im_start|>{role}\n{body}<|im_end|>\n")
            yield doc_id, leaf, len(path), a_chars, _md5("".join(chunks))

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query("doc_xlsx_extract", oracle=_oracle(5))
def doc_xlsx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL XLSX text extraction end-to-end (operators/xlsxtext.py): each
    document's text becomes doc_id%5+1 cell strings of a conforming
    SpreadsheetML package — cells spread across 1-2 sheets and 2 columns
    per row, ALTERNATING sharedStrings references (deduplicated; long
    strings written as multi-run rich text) and inline strings, sheets
    resolved through the workbook's own rels part (two-level OPC
    indirection), cells ordered by their A1-style references.  Oracle:
    same substring+md5 re-derivation as doc_pdf_extract.  Legacy OLE2
    .xls and encrypted packages raise by name; numeric/boolean/formula
    cell typing and rPh-skip contracts pytest-pinned in
    tests/test_docformats.py."""
    from pasardassist_spark.operators.xlsxtext import (
        encode_xlsx,
        extract_xlsx_cells,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _extract_parts(
        d, 5, lambda parts, _: encode_xlsx(parts), extract_xlsx_cells
    )


@query(
    "doc_xlsx_records",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 4 + 2 AS n,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    rec AS (
        SELECT doc_id,
               CAST(i.i AS INTEGER) AS rec_no,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS name,
               CAST(doc_id * 7 + i.i * 13 AS BIGINT) AS qty,
               CAST((doc_id % 100 + i.i) * 100 + 25 AS BIGINT) AS price_cents,
               (doc_id + i.i) % 2 = 0 AS active,
               CAST(DATE '1899-12-30'
                    + CAST(40000 + doc_id % 1000 + i.i * 3 AS INTEGER)
                    AS VARCHAR) AS since
        FROM base JOIN (SELECT unnest(range(0, 6)) AS i) i ON i.i < n
    )
    SELECT doc_id, rec_no,
           CAST(length(name) AS BIGINT) AS name_n_chars,
           md5(name) AS name_md5,
           qty, price_cents, active, since
    FROM rec
    """,
)
def doc_xlsx_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPED spreadsheet-to-records extraction (operators/xlsxtext.py
    typed layer — the table-serialization shape LLM pipelines feed
    tabular corpora through): each document becomes a conforming
    one-sheet workbook of doc_id%4+2 records under a sharedStrings
    header row — string names (word slices), integer and decimal
    numerics, booleans, and DATES carried the way Excel really stores
    them: plain numbers whose cell style points through styles.xml
    cellXfs at the builtin date numFmtId 14, converted to ISO under the
    workbook's DECLARED date system — even doc_ids the 1900 system
    (Lotus leap-bug epoch), odd doc_ids the Mac 1904 system
    (workbookPr/@date1904, serials 1,462 days behind).  Both fixture
    variants encode the SAME calendar dates, so an extractor that
    ignores the declaration silently corrupts every odd workbook's
    dates by 4 years and hash-mismatches.  The oracle re-derives every
    field closed-form (DATE '1899-12-30' + 1900-serial), so a broken
    style walk, a wrong epoch, or a mistyped cell mismatches on 500
    workbooks.  Scan → mapInPandas, one stage, zero shuffle."""
    from pasardassist_spark.operators.xlsxtext import (
        encode_xlsx_table,
        extract_xlsx_typed,
    )

    schema = (
        "doc_id long, rec_no int, name_n_chars long, name_md5 string, "
        "qty long, price_cents long, active boolean, since string"
    )
    header = ["name", "qty", "price", "active", "since"]

    def _row(doc_id, text):
        seed = int(doc_id)
        n = seed % 4 + 2
        d1904 = seed % 2 == 1
        # same calendar date either way: the 1904 system sits exactly
        # 1,462 days behind the 1900 system
        shift = 1462 if d1904 else 0
        words = [w for w in text.split(" ") if w]
        w_ = len(words)
        rows = []
        for i in range(n):
            rows.append([
                " ".join(words[w_ * i // n : w_ * (i + 1) // n]),
                seed * 7 + i * 13,
                float(seed % 100 + i) + 0.25,
                (seed + i) % 2 == 0,
                ("date", 40000 + seed % 1000 + i * 3 - shift),
            ])
        got = extract_xlsx_typed(encode_xlsx_table(header, rows, date1904=d1904))
        if len(got) != n + 1 or got[0] != [("s", h) for h in header]:
            raise ValueError(f"doc {doc_id}: header/record shape mismatch")
        for i, cells in enumerate(got[1:]):
            kinds = [k for k, _v in cells]
            if kinds != ["s", "n", "n", "b", "d"]:
                raise ValueError(f"doc {doc_id} rec {i}: cell typing {kinds}")
            name = cells[0][1]
            yield (
                doc_id, i, len(name), _md5(name), int(cells[1][1]),
                round(float(cells[2][1]) * 100), cells[3][1] == "TRUE",
                cells[4][1],
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query("doc_pptx_extract", oracle=_oracle(3))
def doc_pptx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PPTX text extraction end-to-end (operators/pptxtext.py): each
    document's text becomes doc_id%3+1 slides of a conforming
    PresentationML package, slide order carried by p:sldIdLst while the
    slide FILE numbering is deliberately reversed (a zip-order or
    name-order walk mis-orders the deck), paragraph text as split a:r
    runs with newlines alternating between a:br and a:p boundaries.
    Oracle: same substring+md5 re-derivation as doc_pdf_extract.  Legacy
    OLE2 .ppt and encrypted packages raise by name; contracts
    pytest-pinned in tests/test_docformats.py."""
    from pasardassist_spark.operators.pptxtext import (
        encode_pptx,
        extract_pptx_slides,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _extract_parts(
        d, 3, lambda parts, _: encode_pptx(parts), extract_pptx_slides
    )


@query(
    "doc_pptx_notes",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 3 + 1 AS n,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    sl AS (
        SELECT doc_id,
               CAST(i.i AS INTEGER) AS slide_no,
               words[(len(words) * i.i) // n + 1
                     : (len(words) * (i.i + 1)) // n] AS ws,
               (doc_id + i.i) % 2 = 0 AS has_notes
        FROM base JOIN (SELECT unnest(range(0, 3)) AS i) i ON i.i < n
    )
    SELECT doc_id, slide_no,
           md5(array_to_string(ws, ' ')) AS slide_md5,
           has_notes,
           CASE WHEN has_notes
                THEN md5(array_to_string(list_reverse(ws), ' '))
           END AS notes_md5
    FROM sl
    """,
)
def doc_pptx_notes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speaker-notes recovery (operators/pptxtext.py): real decks carry
    training-relevant text in notesSlide parts, resolved through a THIRD
    rels level — presentation rels → slide → the slide's own rels
    sidecar → notesSlide.  Every other slide of each deck gets a notes
    part whose text is the slide's words REVERSED (so swapping slide and
    note text, or attaching a note to the wrong slide, mismatches);
    slides without notes must come back None.  The oracle re-derives
    both hashes from word slices.  Scan → mapInPandas, one stage, zero
    shuffle."""
    from pasardassist_spark.operators.pptxtext import (
        encode_pptx,
        extract_pptx_notes,
        extract_pptx_slides,
    )

    schema = (
        "doc_id long, slide_no int, slide_md5 string, has_notes boolean, "
        "notes_md5 string"
    )

    def _row(doc_id, text):
        seed = int(doc_id)
        n = seed % 3 + 1
        words = [w for w in text.split(" ") if w]
        w_ = len(words)
        slides, notes = [], []
        for i in range(n):
            ws = words[w_ * i // n : w_ * (i + 1) // n]
            slides.append(" ".join(ws))
            notes.append(" ".join(reversed(ws)) if (seed + i) % 2 == 0 else None)
        payload = encode_pptx(slides, notes)
        got_s = extract_pptx_slides(payload)
        got_n = extract_pptx_notes(payload)
        if got_s != slides or len(got_n) != n:
            raise ValueError(f"doc {doc_id}: deck round-trip broke")
        for i in range(n):
            yield (
                doc_id, i, _md5(got_s[i]), got_n[i] is not None,
                None if got_n[i] is None else _md5(got_n[i]),
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query("doc_encrypted_extract", oracle=_oracle(3))
def doc_encrypted_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSWORD-PROTECTED OOXML extraction end-to-end
    (operators/ooxmlcrypt.py — [MS-OFFCRYPTO] agile encryption, round
    14): each document's text is split into doc_id%3+1 parts, packed as
    a conforming DOCX/XLSX/PPTX (doc_id%3), then wrapped in a REAL
    encrypted CFB container rotating BOTH [MS-OFFCRYPTO] generations —
    doc_id%7==3 gets STANDARD encryption (binary EncryptionInfo, fixed
    50000-round SHA1 spin, 0x36/0x5C expansion, AES-ECB package: the
    Office 2007 default), everything else AGILE (XML descriptor,
    SHA512/SHA256 chains and AES-128/256 rotating by id, spin counts
    100/1000 by parity, 4096-byte segment CBC with per-segment IVs,
    HMAC-SHA512 data-integrity gate) — under a per-fixture unique
    password pw{doc_id%97}, then decrypted back through the
    password-aware extractors via the version router.  The oracle is
    the same substring+md5 re-derivation as doc_pdf_extract: any defect
    anywhere in either key-derivation/decrypt chain hash-mismatches on
    500 containers.  Wrong password / missing password / extensible
    (x.3) / CryptoAPI-RC4 raise by name (tests/test_ooxmlcrypt.py).

    Spark plan: one Arrow map pass, no shuffle — the decrypt is
    row-local and embarrassingly parallel at crawl scale."""
    from pasardassist_spark.operators.docxtext import (
        encode_docx,
        extract_docx_paragraphs,
    )
    from pasardassist_spark.operators.ooxmlcrypt import (
        encrypt_ooxml_agile,
        encrypt_ooxml_standard,
    )
    from pasardassist_spark.operators.pptxtext import (
        encode_pptx,
        extract_pptx_slides,
    )
    from pasardassist_spark.operators.xlsxtext import (
        encode_xlsx,
        extract_xlsx_cells,
    )

    _ENCODERS = (encode_docx, encode_xlsx, encode_pptx)
    _EXTRACTORS = (
        extract_docx_paragraphs,
        extract_xlsx_cells,
        extract_pptx_slides,
    )

    def enc(parts: list[str], doc_id: int) -> bytes:
        package = _ENCODERS[doc_id % 3](parts)
        password = f"pw{doc_id % 97}"
        if doc_id % 7 == 3:
            return encrypt_ooxml_standard(
                package, password,
                key_bits=128 if doc_id % 4 < 2 else 256,
            )
        return encrypt_ooxml_agile(
            package, password,
            spin_count=1000 if doc_id % 2 else 100,
            key_bits=128 if doc_id % 4 < 2 else 256,
            hash_algorithm="SHA256" if doc_id % 5 == 0 else "SHA512",
        )

    # format AND password both depend on the row id, and the check is
    # the exact parts, not just their count
    def _row(doc_id, text):
        i = int(doc_id)
        n = i % 3 + 1
        parts = [text[a:b] for a, b in _split_bounds(len(text), n)]
        got = _EXTRACTORS[i % 3](enc(parts, i), password=f"pw{i % 97}")
        if got != parts:
            raise ValueError(f"doc {doc_id}: encrypted round-trip mismatch")
        yield from _part_rows(doc_id, got)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, _OUT_SCHEMA)


@query(
    "doc_legacy_extract",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    """,
)
def doc_legacy_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL legacy Word97 .doc extraction end-to-end
    (operators/doctext.py over the operators/cfb.py container): each
    document's text is written through a multi-piece PIECE TABLE that
    alternates cp1252-compressed and UTF-16 pieces at irregular split
    points (the fc bit-30 rule both ways), FIB offsets per [MS-DOC],
    Clx/PlcPcd in the 1Table stream, all inside a conforming compound
    file — then recovered through the documented read path: FIB
    validation → table-stream selection → Clx walk → piece decode →
    control-character mapping.  ENCRYPTED documents rotate in by
    doc_id%3 (round 14, operators/doccrypt.py): 1 → fEncrypted RC4
    standard, 2 → RC4 CryptoAPI, both under Word's VelvetSweatshop
    default — the 512-byte rekey walk, FibBase/header plaintext spans
    and lKey addressing run on two thirds of the corpus.  The oracle
    hashes documents.text directly, so the FULL text must survive the
    piece table, the container AND the cipher on 500 real files.
    fObfuscation (XOR) and non-Word layers raise by name.  Scan →
    mapInPandas, one stage, zero shuffle."""
    from pasardassist_spark.operators.doctext import (
        encode_doc,
        extract_doc_text,
    )

    schema = "doc_id long, n_chars long, text_md5 string"

    def _row(doc_id, text):
        enc_mode = (None, "standard", "cryptoapi")[int(doc_id) % 3]
        got = extract_doc_text(encode_doc(text, encrypt=enc_mode))
        if got != text:
            raise ValueError(f"doc {doc_id}: .doc round-trip mismatch")
        yield doc_id, len(got), _md5(got)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query(
    "doc_xls_extract",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 4 + 1 AS n,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    slices AS (
        SELECT doc_id, n, CAST(i.i AS INTEGER) AS i,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS s
        FROM base JOIN (SELECT unnest(range(0, 4)) AS i) i ON i.i < n
    ),
    rows_ AS (
        SELECT doc_id, i AS row_, 0 AS col_, 's' AS kind,
               md5(s) AS str_md5, CAST(NULL AS BIGINT) AS cents
        FROM slices
        UNION ALL
        SELECT doc_id, CAST(n AS INTEGER), 0, 's', md5(s), NULL
        FROM slices WHERE i = 0
        UNION ALL
        SELECT b.doc_id, CAST(j.j AS INTEGER), 1, 'n', NULL,
               CAST((b.doc_id + j.j) * 100 + 25 AS BIGINT)
        FROM base b JOIN (SELECT unnest(range(0, 2)) AS j) j ON TRUE
    )
    SELECT doc_id, row_, col_, kind, str_md5, cents FROM rows_
    """,
)
def doc_xls_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL legacy BIFF8 .xls extraction end-to-end
    (operators/xlstext.py over the operators/cfb.py container): each
    document's word slices become SST strings referenced by LABELSST
    cells — with a planted DUPLICATE cell sharing its isst, the shared-
    string semantics — plus exact-cents NUMBER cells, the SST written
    with deliberate mid-string CONTINUE splits whose fragments re-decide
    their own compression.  Recovery walks BOF/EOF substream framing,
    the BOUNDSHEET lbPlyPos offset, and the continuation-aware SST
    parse; the oracle re-derives every cell closed-form, so a broken
    CONTINUE boundary, a wrong flag restatement, or an isst slip
    mismatches on 500 real workbooks.  ENCRYPTED workbooks rotate in by
    doc_id%3 (round 14, operators/xlscrypt.py): 1 → FILEPASS RC4
    standard (MD5 1.1), 2 → RC4 CryptoAPI (SHA-1 vMajor 2), both under
    Excel's default VelvetSweatshop password (opens with no prompt) —
    the 1024-byte rekey walk, exempt-span discipline and verifier check
    run on two thirds of the corpus.  XOR obfuscation raises by name.
    Scan → mapInPandas, one stage, zero shuffle."""
    from pasardassist_spark.operators.xlstext import (
        encode_xls,
        extract_xls_cells,
    )

    schema = (
        "doc_id long, row_ int, col_ int, kind string, str_md5 string, "
        "cents long"
    )

    def _row(doc_id, text):
        seed = int(doc_id)
        n = seed % 4 + 1
        words = [w for w in text.split(" ") if w]
        w_ = len(words)
        strings = [" ".join(words[w_ * i // n : w_ * (i + 1) // n]) for i in range(n)]
        scells = [(i, 0, i) for i in range(n)] + [(n, 0, 0)]
        ncells = [(j, 1, float(seed + j) + 0.25) for j in range(2)]
        enc_mode = (None, "standard", "cryptoapi")[seed % 3]
        payload = encode_xls("Data", scells, strings, ncells, encrypt=enc_mode)
        got = extract_xls_cells(payload)
        if len(got) != len(scells) + len(ncells):
            raise ValueError(
                f"doc {doc_id}: cell count {len(got)} != "
                f"{len(scells) + len(ncells)}"
            )
        for sheet, row, col, kind, value in got:
            if sheet != "Data":
                raise ValueError(f"doc {doc_id}: sheet {sheet!r}")
            if kind == "s":
                yield doc_id, row, col, kind, _md5(value), None
            else:
                yield doc_id, row, col, kind, None, round(float(value) * 100)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query(
    "doc_msg_extract",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 3 AS n_att,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    )
    SELECT doc_id,
           md5('mail ' || doc_id) AS subject_md5,
           md5(array_to_string(words, ' ')) AS body_md5,
           CAST(n_att AS INTEGER) AS n_attachments,
           md5(COALESCE(
               array_to_string(list_transform(range(0, CAST(n_att AS INTEGER)),
                   i -> 'file-' || doc_id || '-' || i || '.bin'), '|'),
               '')) AS att_names_md5
    FROM base
    """,
)
def doc_msg_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Outlook .msg extraction end-to-end (operators/msgtext.py
    over the CFB container): subject / full-text body / sender through
    the MAPI property-stream naming (``__substg1.0_{pid}{type}``, both
    001E cp1252 and 001F UTF-16 string types decided by content),
    attachment long filenames collected from their numbered
    sub-storages in order, and a recipient storage planted for the
    reader to walk past.  Round 13: odd doc_ids store the body the way
    real Outlook exports do — NO plain 0x1000 stream, only
    PR_RTF_COMPRESSED (0x1009): LZFu compressed RTF ([MS-OXRTFCP],
    operators/lzfu.py, decoder pinned to the spec's canonical vector)
    wrapping a real RTF render, recovered through the rtftext
    extractor.  The oracle re-derives the body and attachment names
    from the row, so a mis-parsed property id, a wrong string type, a
    bad LZFu copy, or a storage mix-up mismatches on 500 real files —
    half of them compressed-RTF-only.  Scan → mapInPandas, one stage,
    zero shuffle."""
    from pasardassist_spark.operators.msgtext import encode_msg, extract_msg

    schema = (
        "doc_id long, subject_md5 string, body_md5 string, "
        "n_attachments int, att_names_md5 string"
    )

    def _row(doc_id, text):
        seed = int(doc_id)
        body = " ".join(w for w in text.split(" ") if w)
        atts = [f"file-{seed}-{i}.bin" for i in range(seed % 3)]
        got = extract_msg(
            encode_msg(f"mail {seed}", body, "corpus", atts, rtf_body=seed % 2 == 1)
        )
        if got.body != body or got.attachments != atts:
            raise ValueError(f"doc {doc_id}: .msg round-trip broke")
        yield (
            doc_id, _md5(got.subject), _md5(got.body), len(got.attachments),
            _md5("|".join(got.attachments)),
        )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


@query(
    "doc_cfb_streams",
    oracle="""
    WITH base AS (
        SELECT doc_id, text, lang,
               doc_id % 3 + 1 AS n,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    rows_ AS (
        SELECT doc_id, 'body.txt' AS path, text AS content FROM base
        UNION ALL
        SELECT doc_id, 'meta/lang' AS path, lang AS content FROM base
        UNION ALL
        SELECT doc_id,
               'part-' || i.i AS path,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS content
        FROM base JOIN (SELECT unnest(range(0, 3)) AS i) i ON i.i < n
    )
    SELECT doc_id, path,
           CAST(octet_length(encode(content)) AS BIGINT) AS n_bytes,
           md5(content) AS content_md5
    FROM rows_
    """,
)
def doc_cfb_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL CFB / OLE2 container walk end-to-end (operators/cfb.py — the
    binary container under legacy Office, MSI, and .msg): each document
    becomes a conforming version-3 compound file holding its full text
    as a FAT-chained stream (>4096 bytes for most docs), doc_id%3+1
    word-slice MINI streams (the miniFAT + root-mini-stream double
    indirection), and a nested 'meta' STORAGE with the lang value — then
    every stream is recovered through the DIFAT → FAT → directory
    binary-tree → miniFAT walk a conforming reader performs.  The
    oracle re-derives each stream's byte length and md5 directly from
    the documents row, so a broken chain, a mis-walked sibling tree, or
    a cutoff mistake mismatches on 500 real containers.  The legacy
    document layers (WordDocument/Workbook) remain the named seam; the
    container is no longer one.  Scan → mapInPandas, one stage, zero
    shuffle."""
    from pasardassist_spark.operators.cfb import read_cfb, write_cfb

    schema = "doc_id long, path string, n_bytes long, content_md5 string"

    def _row(doc_id, text, lang):
        seed = int(doc_id)
        n = seed % 3 + 1
        words = [w for w in text.split(" ") if w]
        w_ = len(words)
        streams = [("body.txt", text.encode("utf-8"))]
        for i in range(n):
            streams.append((
                f"part-{i}",
                " ".join(words[w_ * i // n : w_ * (i + 1) // n]).encode("utf-8"),
            ))
        streams.append(("meta/lang", str(lang).encode("utf-8")))
        got = read_cfb(write_cfb(streams))
        if sorted(got) != sorted(streams):
            raise ValueError(f"doc {doc_id}: CFB round-trip mismatch")
        for path, blob in got:
            yield doc_id, path, len(blob), hashlib.md5(blob).hexdigest()

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return map_rows(d, _row, schema)


@query("doc_odt_extract", oracle=_oracle(4))
def doc_odt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ODT extraction end-to-end (operators/odttext.py — the
    OpenDocument member completing the office trio with DOCX and RTF):
    each document's text becomes doc_id%4+1 paragraphs of a conforming
    ODF package (stored mimetype first, manifest, content.xml), written
    through ODF's OWN whitespace model — multi-space runs as
    <text:s text:c='N'/>, tabs and newlines as their elements, runs
    split into spans — which the extractor expands back exactly.
    ENCRYPTED packages rotate in on doc_id%3==2 (round 14,
    operators/odfcrypt.py): the ODF 1.2 AES-256-CBC + PBKDF2 profile
    with the sha256-1k checksum as the password gate, under the fixture
    corpus password — a third of the corpus exercises key derivation,
    member decrypt, checksum verification and the STORED-member layout
    on every run.  The doc_id%6==5 half of the encrypted slice writes
    the pre-1.2 OpenOffice Blowfish 8-bit-CFB profile instead (r15,
    operators/blowfish.py — SHA1 start key, PBKDF2 to 16 bytes,
    SHA1/1K checksum, stream mode so stored==deflated length), the
    profile old .odt corpora actually hit.  Same substring+md5 oracle
    as doc_docx_extract; foreign algorithms raise by name;
    wrong-password and
    flow-order (headings, table cells, lists) contracts pytest-pinned
    in tests/test_docformats.py + tests/test_odfcrypt.py."""
    from pasardassist_spark.operators.odttext import (
        encode_odt,
        extract_odt_paragraphs,
    )

    def enc(parts: list[str], doc_id: int) -> bytes:
        # encrypted on doc_id%3==2; of those, doc_id%6==5 gets the
        # LEGACY Blowfish-CFB profile (r15), the rest ODF 1.2 AES —
        # both generations of the format under one oracle hash
        return encode_odt(
            parts,
            password="corpus-pw" if doc_id % 3 == 2 else None,
            legacy_blowfish=doc_id % 6 == 5,
        )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return _extract_parts(
        d, 4, enc, lambda p: extract_odt_paragraphs(p, "corpus-pw")
    )


@query(
    "doc_ics_extract",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               doc_id % 4 + 1 AS n,
               array_to_string(
                   list_filter(string_split(text, ' '), w -> w != ''),
                   ' ') AS norm,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    ev AS (
        SELECT doc_id,
               CAST(i.i AS INTEGER) AS event_no,
               'ev-' || doc_id || '-' || i.i || '@corpus' AS uid,
               CAST(1700000000 + doc_id * 53 + i.i * 3600 AS BIGINT)
                   AS dtstart_epoch,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS summary,
               norm
        FROM base JOIN (SELECT unnest(range(0, 4)) AS i) i ON i.i < n
    )
    SELECT doc_id, event_no, uid, dtstart_epoch,
           md5(summary) AS summary_md5,
           CAST(length(norm) AS BIGINT) AS desc_n_chars
    FROM ev
    """,
)
def doc_ics_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL iCalendar parsing end-to-end (operators/icstext.py — RFC
    5545, the calendar-export format): each document becomes a genuine
    VCALENDAR of doc_id%4+1 VEVENTs — word-slice summaries with
    escaped , ; \\ characters, the FULL document text as a description
    long enough to FOLD at 75 octets (mid-word, so unfolding must
    precede all parsing), closed-form UTC DTSTARTs, and a quoted
    parameter carrying ':' and ';' to exercise the quote-aware content-
    line splitter. The oracle re-derives UIDs, epochs, summary md5s,
    and description lengths from pure arithmetic; non-UTC date forms
    raise by name and the fold/nesting error contracts are pytest-
    pinned in tests/test_docformats.py."""
    from pasardassist_spark.operators.icstext import encode_ics, parse_ics

    schema = (
        "doc_id long, event_no int, uid string, dtstart_epoch long, "
        "summary_md5 string, desc_n_chars long"
    )

    def _row(doc_id, text):
        seed = int(doc_id)
        n = seed % 4 + 1
        words = [w for w in text.split(" ") if w]
        norm = " ".join(words)
        w_ = len(words)
        evs = []
        for i in range(n):
            a, b = (w_ * i) // n, (w_ * (i + 1)) // n
            evs.append((
                f"ev-{seed}-{i}@corpus",
                1700000000 + seed * 53 + i * 3600,
                " ".join(words[a:b]),
                norm,
            ))
        got = parse_ics(encode_ics(evs))
        if [(e.uid, e.dtstart_epoch, e.summary, e.description) for e in got] != evs:
            # raise, not assert (must survive python -O)
            raise ValueError(f"iCalendar round-trip mismatch for doc {doc_id}")
        for e in got:
            yield (
                doc_id, e.event_no, e.uid, e.dtstart_epoch, _md5(e.summary),
                len(e.description),
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)


# ------------------------------------------- streaming doc-gate driver row

def _docgate_oracle() -> str:
    from pasardassist_spark.queries.curation import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_RATIO,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPS,
    )
    from pasardassist_spark.queries.text import _TOKS_SQL

    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPS)
    return f"""
    WITH base AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    -- the doc-unique interleave token (every 3rd word) that makes
    -- cross-doc shingle overlap zero by construction -- near-dup
    -- admission never fires, so digest-dedup is the whole policy
    uniq AS (
        SELECT doc_id,
               flatten(list_transform(range(1, len(toks) + 1),
                   i -> CASE WHEN i % 3 = 0
                             THEN [toks[i],
                                   'qz' || CAST(doc_id AS VARCHAR) || 'x']
                             ELSE [toks[i]] END)) AS toks
        FROM base
    ),
    pay AS (
        SELECT b.doc_id,
               CASE WHEN b.doc_id % 11 = 5 AND p.doc_id IS NOT NULL
                    THEN p.toks ELSE b.toks END AS toks,
               b.doc_id % 7 = 3 AS dead,
               CASE CAST(b.doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
                    ELSE 'markdown' END AS fmt
        FROM uniq b LEFT JOIN uniq p ON p.doc_id = b.doc_id - 1
    ),
    txt AS (
        SELECT doc_id, fmt, dead, toks,
               array_to_string(toks, ' ') AS t
        FROM pay
    ),
    g AS (
        SELECT doc_id, fmt, dead, t,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(length(replace(t, ' ', '')) AS DOUBLE)
                   / len(toks) AS mean_word_len,
               (CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE)
                + (length(t) - length(replace(t, '...', ''))) / 3)
                   / len(toks) AS symbol_ratio,
               CAST(len(list_filter(toks,
                        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                   / len(toks) AS alpha_ratio,
               CAST(len(list_filter(toks, x -> x IN ({stops})))
                    AS BIGINT) AS stop_hits
        FROM txt
    ),
    kept AS (
        SELECT doc_id, fmt, t FROM g
        WHERE NOT dead
          AND n_words >= {GOPHER_MIN_WORDS}
          AND n_words <= {GOPHER_MAX_WORDS}
          AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
          AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
          AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
          AND alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}
          AND stop_hits >= {GOPHER_MIN_STOP_HITS}
    ),
    ranked AS (
        SELECT doc_id, fmt, t,
               row_number() OVER (
                   PARTITION BY md5(t)
                   ORDER BY doc_id % 4, doc_id
               ) AS rn
        FROM kept
    )
    SELECT doc_id, fmt,
           CAST(length(t) AS BIGINT) AS n_chars,
           md5(t) AS text_md5
    FROM ranked WHERE rn = 1
    """


@query("streaming_docgate_readout", oracle=_docgate_oracle())
def streaming_docgate_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming document-ingest gate (streaming/docgate.py) driven
    end-to-end as a batch twin and read back — the drift_psi_readout
    pattern giving the composite a driver row with a closed-form oracle.

    Every document becomes a GENUINE container payload rotating the
    format by doc_id%3 (PDF — both xref generations —, DOCX, markdown);
    doc_id%7==3 rows become iCalendar payloads the dispatcher
    dead-letters by name, and doc_id%11==5 rows carry the PREVIOUS
    document's text (injected exact duplicates the dedup gate must
    reject).  The payload corpus replays through apply_doc_batch in 4
    epochs (doc_id%4), exercising extract -> dead-letter -> Gopher gate
    -> generational dedup index exactly as the streaming foreachBatch
    does; the readout is the admitted corpus (doc_id, fmt, n_chars,
    text_md5).

    The oracle re-derives admission closed-form: payload text (own or
    prev), dead-letter exclusion, the Gopher keep-condition (identical
    constants), and first-wins-in-replay-order per exact text digest
    (epoch asc, id asc — the gate's min-id intra-batch rule).  Payload
    text interleaves a doc-unique token every 3rd word, so every
    5-shingle of every doc contains a token no other doc has —
    cross-doc shingle overlap is ZERO by construction and the near-dup
    band channel cannot fire (the raw word-soup corpus genuinely
    band-collides, and sequential near-dup admission has no closed SQL
    form); injected duplicates copy the previous doc's FINAL text, so
    the digest channel fires for real.  The band/near-dup machinery
    itself is equivalence-pinned in tests/test_docgate.py.  Sequential-composite caveat: replay runs 4
    driver-side epochs, but each epoch is a distributed map+join plan —
    at 100 TB this is foreachBatch cadence, not a driver loop over
    rows."""
    from pasardassist_spark.operators.docxtext import encode_docx
    from pasardassist_spark.operators.pdftext import encode_pdf
    from pasardassist_spark.streaming.docgate import apply_doc_batch
    from pasardassist_spark.streaming.generations import admitted_events

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    prev = d.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("prev_text"),
    )
    joined = d.join(prev, "doc_id", "left")

    def _synth(doc_id, text, prev_text):
        seed = int(doc_id)
        if seed % 7 == 3:
            payload = b"BEGIN:VCALENDAR\nVERSION:2.0\nEND:VCALENDAR\n"
        else:
            dup = seed % 11 == 5 and prev_text is not None
            src = prev_text if dup else text
            src_seed = seed - 1 if dup else seed
            words: list[str] = []
            for i, w in enumerate((x for x in src.split(" ") if x), 1):
                words.append(w)
                if i % 3 == 0:
                    words.append(f"qz{src_seed}x")
            body = " ".join(words)
            k = seed % 3
            if k == 0:
                payload = encode_pdf([body], xref_stream=seed % 2 == 1)
            elif k == 1:
                payload = encode_docx([body])
            else:
                payload = body.encode("utf-8")
        yield seed, payload

    payloads = map_rows(joined, _synth, "doc_id long, payload binary").localCheckpoint()

    state_dir = scratch_dir("docgate_state_")
    admitted_dir = scratch_dir("docgate_admitted_")
    for e in range(4):
        apply_doc_batch(
            payloads.filter(F.col("doc_id") % 4 == e),
            e, state_dir, admitted_dir,
        )
    return admitted_events(spark, admitted_dir).select(
        "doc_id",
        "fmt",
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )


# --------------------------------------- attachment-recursion composite

@query(
    "pipeline_attachment_extract",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CAST(doc_id % 3 AS INTEGER) AS n_att,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    split AS (
        SELECT doc_id, n_att,
               array_to_string(words[1 : len(words) // 2], ' ') AS body,
               words[len(words) // 2 + 1 :] AS rest
        FROM base
    ),
    att AS (
        SELECT doc_id,
               array_to_string(
                   list_transform(range(0, n_att),
                       i -> array_to_string(
                           rest[(len(rest) * i) // n_att + 1
                                : (len(rest) * (i + 1)) // n_att], ' ')),
                   '|') AS att_text
        FROM split WHERE n_att > 0
    )
    SELECT s.doc_id,
           CAST(s.n_att AS INTEGER) AS n_attachments,
           md5(s.body) AS body_md5,
           md5(COALESCE(a.att_text, '')) AS att_text_md5
    FROM split s LEFT JOIN att a ON s.doc_id = a.doc_id
    """,
)
def pipeline_attachment_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attachment RECURSION — the composite a real mail crawl runs:
    each document becomes an RFC 5322 message whose first-half words are
    the body and whose second half ships as doc_id%3 base64 attachments
    that are GENUINE containers (DOCX for even attachment slots, PDF —
    the 1.5 xref-stream generation — for odd).  Extraction walks the
    full nested path: parse_email for the body, extract_attachments for
    the decoded parts, then the SNIFF-ROUTED dispatcher
    (operators/docsniff.py:extract_document) on each attachment's bytes
    — exactly how container-in-container payloads surface on a crawl.
    The oracle re-derives body and per-attachment text from word
    arithmetic, so a broken base64 round-trip, a mis-sniffed container,
    or a lost attachment order mismatches on 500 messages.  Scan →
    mapInPandas, one stage, zero shuffle."""
    from pasardassist_spark.operators.docsniff import extract_document
    from pasardassist_spark.operators.docxtext import encode_docx
    from pasardassist_spark.operators.emailtext import (
        encode_email,
        encode_email_with_attachments,
        extract_attachments,
        parse_email,
    )
    from pasardassist_spark.operators.pdftext import encode_pdf

    schema = (
        "doc_id long, n_attachments int, body_md5 string, "
        "att_text_md5 string"
    )

    def _row(doc_id, text):
        seed = int(doc_id)
        n_att = seed % 3
        words = [w for w in text.split(" ") if w]
        body = " ".join(words[: len(words) // 2])
        rest = words[len(words) // 2 :]
        atts: list[tuple[str, bytes]] = []
        for i in range(n_att):
            part = " ".join(rest[len(rest) * i // n_att : len(rest) * (i + 1) // n_att])
            if i % 2 == 0:
                atts.append((f"part-{i}.docx", encode_docx([part])))
            else:
                atts.append((f"part-{i}.pdf", encode_pdf([part], xref_stream=True)))
        if atts:
            payload = encode_email_with_attachments(
                f"att {seed}", 1_700_000_000 + seed, body, atts,
                qp_body=seed % 2 == 1,
            )
        else:
            payload = encode_email(f"att {seed}", 1_700_000_000 + seed, body, 0)
        got_body = " ".join(parse_email(payload).text.split())
        got_atts = [
            extract_document(blob)[1]
            for _fname, _ctype, blob in extract_attachments(payload)
        ]
        if got_body != body or len(got_atts) != n_att:
            raise ValueError(
                f"doc {doc_id}: attachment recursion broke "
                f"({len(got_atts)} of {n_att} attachments)"
            )
        yield doc_id, n_att, _md5(got_body), _md5("|".join(got_atts))

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(d, _row, schema)
