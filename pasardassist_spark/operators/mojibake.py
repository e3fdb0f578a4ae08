"""Mojibake detection and repair — the ftfy-class fix a 100 TB web crawl
applies before any text operator sees a byte.

The dominant real-world corruption is UTF-8 bytes mis-decoded as a
single-byte codepage (latin-1/cp1252): 'café' becomes 'cafÃ©', a
cp1252 hop turns a curly quote into 'â€™', and a document that
transits two broken hops becomes 'cafÃƒÂ©' (double mojibake).  The
repair is the inverse round-trip, applied while it still makes
progress:

    while s encodes to latin-1 (or, failing that, cp1252 — the €/™
    characters latin-1 lacks) AND those bytes are valid UTF-8 AND
    decoding them changes the string: replace s.

Safety: clean ASCII is a fixed point (the round-trip is the identity);
clean text with genuine non-latin-1 characters (CJK, emoji) cannot
encode to latin-1 and is left untouched; clean latin-1-range text
('café') encodes, but its bytes are NOT valid UTF-8 (a lone 0xE9
continuation), so it is also left untouched.  The only strings the loop
touches are those that LOOK like UTF-8 seen through a single-byte lens —
which is the definition of the defect.  The iteration cap bounds
adversarial inputs; each pass strictly shrinks byte length (multi-byte
sequences collapse), so the loop terminates on its own for real text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pasardassist_spark.tables import map_rows

MAX_PASSES = 4


def fix_mojibake_text(s: str) -> tuple[str, int]:
    """Repair one string; returns (fixed, passes_applied).

    ADVICE r13: latin-1 alone misses the commonest real-world case —
    cp1252 mojibake like 'â€™' for a curly quote, whose € and ™ have no
    latin-1 codepoint.  When the latin-1 round-trip can't even start,
    fall back to cp1252 (ftfy's sloppy-windows-1252 direction): if EVERY
    character maps into cp1252 the text was plausibly decoded through
    it, and the UTF-8 check then arbitrates exactly as for latin-1.
    Genuine non-Western text (CJK, emoji) fails both encodes and stays
    untouched."""
    n = 0
    for _ in range(MAX_PASSES):
        try:
            b = s.encode("latin-1")
        except UnicodeEncodeError:
            try:
                b = s.encode("cp1252")
            except UnicodeEncodeError:
                break  # genuine non-single-byte text: clean by construction
        try:
            t = b.decode("utf-8")
        except UnicodeDecodeError:
            break  # bytes aren't UTF-8: s was already the real text
        if t == s:
            break  # pure ASCII fixed point
        s, n = t, n + 1
    return s, n


def fix_mojibake(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow-batched repair over any frame with a text column; appends
    ``n_fixes`` (mojibake generations undone).  Row-local — no shuffle,
    scales with input splits."""
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = f"{fields}, n_fixes int"

    i = df.columns.index(text_col)

    def _row(*row):
        t, n = fix_mojibake_text(row[i])
        yield (*row[:i], t, *row[i + 1 :], n)

    return map_rows(df, _row, schema)
