"""RFC 5322 / MIME email extraction: codec round-trips cross-checked
against the stdlib email/quopri parsers, mbox framing invariants, and
error contracts."""

from __future__ import annotations

import email
import email.policy
import email.utils
import quopri

import pytest

from pasardassist_spark.operators.emailtext import (
    decode_header_value,
    encode_email,
    encode_header_value,
    encode_mbox,
    format_rfc2822,
    parse_email,
    qp_decode,
    qp_encode,
    split_mbox,
)

TEXTS = [
    "hello world",
    "a" * 200,
    "tabs\tand = signs == here",
    "unicodé ✓ émojis",
    "trailing space ",
    "line1\nline2\n",
    "",
    " lead",
    "x" * 73 + "=",
    "\n\n\n",
    "From the start of a line\n>From a quoted one",
]


def test_qp_roundtrip_and_stdlib_agreement():
    for t in TEXTS:
        enc = qp_encode(t.encode("utf-8"))
        assert qp_decode(enc).decode("utf-8") == t, repr(t)
        # our encoding must be decodable by the stdlib
        assert quopri.decodestring(enc.encode()).decode("utf-8") == t, repr(t)
        # and within the 76-char line limit
        assert all(len(line) <= 76 for line in enc.split("\n"))


def test_qp_decode_foreign_forms():
    assert qp_decode("a=3Db") == b"a=b"
    assert qp_decode("a=\nb") == b"ab"  # soft break
    assert qp_decode("a=\r\nb") == b"ab"
    assert qp_decode("caf=C3=A9").decode("utf-8") == "café"
    with pytest.raises(ValueError, match="quoted-printable"):
        qp_decode("bad =Z escape")


def test_rfc2822_format_parse_roundtrip():
    from pasardassist_spark.operators.feedtext import parse_rfc822_date

    for epoch in [0, 1, 86399, 86400, 951782399, 951782400,  # Y2K leap
                  1700000123, 4102444800]:  # 2100
        s = format_rfc2822(epoch)
        assert parse_rfc822_date(s) == epoch, s
        # stdlib agreement on both rendering and parsing
        assert int(email.utils.parsedate_to_datetime(s).timestamp()) == epoch


def test_encoded_words_b_and_q_forms():
    assert decode_header_value("=?utf-8?B?aGVsbG8=?=") == "hello"
    assert decode_header_value("=?utf-8?Q?caf=C3=A9_x?=") == "café x"
    # whitespace between ADJACENT encoded-words is removed (RFC 2047 §6.2)
    assert decode_header_value(
        "=?utf-8?B?YWI=?= =?utf-8?B?Y2Q=?="
    ) == "abcd"
    # ...but not between an encoded-word and plain text
    assert decode_header_value("=?utf-8?B?YWI=?= plain") == "ab plain"
    # our encoder's output round-trips, including multi-word chains
    for s in ["short", "unicodé ✓", "long subject " * 10]:
        assert decode_header_value(encode_header_value(s, force=True)) == s


@pytest.mark.parametrize("structure", range(4))
def test_email_roundtrip_all_structures(structure):
    bodies = [
        "plain words here",
        "",
        "unicodé ✓ body",
        "From the start\nof a line",
        "long text " * 40,
        "=3D literal equals = test",
        "ends with newline\n",
    ]
    for body in bodies:
        raw = encode_email("subj X", 1700000123, body, structure)
        doc = parse_email(raw)
        assert doc.subject == "subj X"
        assert doc.date_epoch == 1700000123
        assert doc.text == body, (structure, repr(body))
        # the stdlib parser agrees on subject and plain-part content
        m = email.message_from_bytes(raw, policy=email.policy.default)
        assert m["Subject"] == "subj X"
        plain = m.get_body(preferencelist=("plain",)).get_content()
        assert plain == body or plain.rstrip("\n") == body.rstrip("\n")


def test_email_html_fallback_when_no_plain_part():
    raw = (
        b"Subject: h\n"
        b"Date: Mon, 07 Aug 2023 14:30:05 +0000\n"
        b"Content-Type: text/html; charset=utf-8\n"
        b"\n"
        b"<html><body><p>only <b>html</b> here</p></body></html>"
    )
    doc = parse_email(raw)
    assert doc.text == "only html here"


def test_email_header_folding_unfolded():
    raw = (
        b"Subject: part one\n"
        b"\tpart two\n"
        b"Date: Mon, 07 Aug 2023\n"
        b" 14:30:05 +0000\n"
        b"\n"
        b"body"
    )
    doc = parse_email(raw)
    assert doc.subject == "part one part two"
    assert doc.date_epoch == 1691418605


def test_email_error_contracts():
    with pytest.raises(ValueError, match="no Date"):
        parse_email(b"Subject: x\n\nbody")
    with pytest.raises(ValueError, match="boundary"):
        parse_email(
            b"Subject: x\nDate: Mon, 07 Aug 2023 14:30:05 +0000\n"
            b"Content-Type: multipart/mixed\n\nbody"
        )
    with pytest.raises(ValueError, match="content-transfer-encoding"):
        parse_email(
            b"Subject: x\nDate: Mon, 07 Aug 2023 14:30:05 +0000\n"
            b"Content-Transfer-Encoding: uuencode\n\nbody"
        )
    with pytest.raises(ValueError, match="no text part"):
        parse_email(
            b"Subject: x\nDate: Mon, 07 Aug 2023 14:30:05 +0000\n"
            b"Content-Type: application/octet-stream\n\n\x00"
        )
    with pytest.raises(ValueError, match="base64"):
        parse_email(
            b"Subject: x\nDate: Mon, 07 Aug 2023 14:30:05 +0000\n"
            b"Content-Type: text/plain\n"
            b"Content-Transfer-Encoding: base64\n\n!!notb64!!"
        )


def test_mbox_framing_byte_exact():
    cases = [
        [b"no trailing newline"],
        [b"one trailing\n"],
        [b"two trailing\n\n"],
        [b"From starts the message", b">From quoted",
         b"mid\nFrom line\n>>From deep"],
        [b"", b"\n", b"x"],
        [b"\n\n\n"],
        [],
    ]
    for msgs in cases:
        assert split_mbox(encode_mbox(msgs)) == msgs, msgs
    with pytest.raises(ValueError, match="does not start"):
        split_mbox(b"not an mbox")


def test_mbox_quoting_visible_in_file():
    mb = encode_mbox([b"From x\n>From y\n>>From z"])
    assert b"\n>From x\n" in mb
    assert b"\n>>From y\n" in mb
    assert b"\n>>>From z\n" in mb


def test_mbox_spark_source_roundtrip(spark, tmp_path):
    import pandas as pd

    from pasardassist_spark.sources.mbox import read_mbox, write_mbox

    msgs = [encode_email(f"s{i}", 1700000000 + i, f"body {i}\nFrom x", i)
            for i in range(20)]
    df = spark.createDataFrame(
        pd.DataFrame({"msg": msgs})
    ).repartition(3)
    manifest = write_mbox(df, str(tmp_path)).collect()
    assert sum(m.n_records for m in manifest) == 20
    back = read_mbox(spark, str(tmp_path)).collect()
    assert len(back) == 20
    got = sorted(
        (parse_email(bytes(r.raw)).subject, parse_email(bytes(r.raw)).text)
        for r in back
    )
    assert got == sorted((f"s{i}", f"body {i}\nFrom x") for i in range(20))


def test_threading_headers_roundtrip_and_jwz_rule():
    raw = encode_email(
        "s", 1700000000, "b", 0,
        msg_id="a1@x", in_reply_to="a0@x", references=["r0@x", "r1@x"],
    )
    doc = parse_email(raw)
    assert doc.msg_id == "a1@x"
    # In-Reply-To wins over References when both present
    assert doc.in_reply_to == "a0@x"
    # References-only: the LAST id is the parent (JWZ rule)
    raw2 = encode_email(
        "s", 1700000000, "b", 1, msg_id="a2@x", references=["r0@x", "r1@x"]
    )
    assert parse_email(raw2).in_reply_to == "r1@x"
    # no threading headers at all
    d3 = parse_email(encode_email("s", 1700000000, "b", 2))
    assert d3.msg_id is not None and d3.in_reply_to is None
    # folded References header still parses (unfolding happens first)
    raw4 = (
        b"Subject: s\nDate: Mon, 07 Aug 2023 14:30:05 +0000\n"
        b"Message-ID: <m@x>\nReferences: <r0@x>\n <r1@x>\n\nbody"
    )
    d4 = parse_email(raw4)
    assert d4.msg_id == "m@x" and d4.in_reply_to == "r1@x"


def test_attachment_extraction_and_disposition():
    from pasardassist_spark.operators.emailtext import (
        encode_email_with_attachments,
        extract_attachments,
    )

    atts = [("a.txt", b"alpha bytes"), ("unicodé.bin", bytes(range(256))),
            ("", b"")]
    raw = encode_email_with_attachments("s", 1700000000, "the body", atts,
                                        qp_body=True)
    doc = parse_email(raw)
    assert doc.text == "the body"
    got = extract_attachments(raw)
    assert [(f, d) for f, _c, d in got] == atts  # RFC 2047 filename decoded
    assert all(c == "application/octet-stream" for _f, c, _d in got)
    # encode_email's structure-3 binary part is also an attachment
    got3 = extract_attachments(encode_email("s", 1700000000, "b", 3))
    assert len(got3) == 1 and got3[0][0] == "digest.bin"
    assert len(got3[0][2]) == 16
    # plain messages carry none
    assert extract_attachments(encode_email("s", 1700000000, "b", 0)) == []


def test_text_attachment_before_body_not_selected_as_body():
    """A text/plain part with Content-Disposition: attachment that
    precedes the real body in depth-first order must NOT become the
    message text, even without an attachments sink (round-12 ADVICE)."""
    from pasardassist_spark.operators.emailtext import (
        extract_attachments,
        parse_email,
    )

    raw = (
        "From: a@example.com\n"
        "Date: Mon, 10 Jun 2024 09:00:00 +0000\n"
        "Subject: attach order\n"
        "MIME-Version: 1.0\n"
        'Content-Type: multipart/mixed; boundary="B"\n'
        "\n"
        "--B\n"
        "Content-Type: text/plain\n"
        'Content-Disposition: attachment; filename="notes.txt"\n'
        "\n"
        "ATTACHED FILE CONTENT\n"
        "--B\n"
        "Content-Type: text/plain\n"
        "\n"
        "the real body\n"
        "--B--\n"
    ).encode()
    doc = parse_email(raw)
    assert doc.text.strip() == "the real body"
    atts = extract_attachments(raw)
    assert [a[0] for a in atts] == ["notes.txt"]
    assert atts[0][2].strip() == b"ATTACHED FILE CONTENT"
