"""MBOX / RFC 5322 email extraction — the mailing-list-archive
format LLM corpora mine constantly (public list archives, the Enron
corpus, mbox exports), from the public RFCs: 4155 (mbox framing),
5322 (message syntax), 2045-2047 (MIME, transfer encodings, encoded
headers).

Like pyarrow for Arrow IPC, the stdlib ``email`` package is the
format's reference implementation and is wrapped — not re-implemented
— in the engine's seam discipline. What this module adds:

- the MBOX framing walk (``From `` separator lines, mboxrd
  ``>From`` unstuffing — one leading ``>`` strips from every
  ``>+From`` body line) with the torn policy line framing allows:
  complete messages before a tear survive, a torn final message
  drops message-granularly when its MIME structure no longer
  parses to a usable body;
- extraction semantics for a TEXT pipeline: the ``text/plain`` leaf
  of the MIME tree (multipart/alternative's html sibling is NOT the
  text of record), Content-Transfer-Encoding decoded (base64,
  quoted-printable, 7/8bit), charset honored, RFC 2047
  encoded-words in Subject decoded;
- drop policy: a payload that is not mbox-framed drops the ROW;
  a message without a parseable Message-ID or a text/plain body
  drops MESSAGE-granularly (real archives carry delivery-status
  and html-only spam messages); an over-bound decoded body drops
  its message (the bomb discipline).

Reference parity note: extension surface (the reference reads plain
text/CSV only, mp3/src/maple/mapler.go:41-43).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from distributed_computing_projects_spark.operators.spread import (
    encode_payloads, flat_map_rows)

MAX_BODY_BYTES = 1 << 28  # decoded text/plain bound per message

_FROM_SEP = re.compile(rb"\r?\n(?=From )")
_UNSTUFF = re.compile(rb"(?m)^>(>*From )")


def iter_mbox_messages(data: bytes):
    """RFC 5322 message byte strings from one mbox payload
    (separator framing per RFC 4155, mboxrd unstuffing), or ``None``
    when the payload is not mbox-framed at all."""
    if not data.startswith(b"From "):
        return None
    out = []
    for part in _FROM_SEP.split(data):
        nl = part.find(b"\n")
        if nl < 0:
            continue  # a bare separator line: nothing to keep
        out.append(_UNSTUFF.sub(rb"\1", part[nl + 1:]))
    return out or None


def extract_message(msg_bytes: bytes):
    """{msg_id, subject, sender, text} from one RFC 5322 message, or
    ``None`` — the message-granular drop — when Message-ID or a
    decodable ``text/plain`` leaf is missing."""
    import email
    import email.policy

    try:
        msg = email.message_from_bytes(msg_bytes,
                                       policy=email.policy.default)
        msg_id = msg.get("Message-ID")
        subject = str(msg.get("Subject", ""))
        sender = str(msg.get("From", ""))
    except Exception:
        return None
    if not msg_id:
        return None
    body = None
    for part in msg.walk():
        if part.get_content_type() != "text/plain":
            continue
        try:
            raw = part.get_payload(decode=True)
            if raw is None or len(raw) > MAX_BODY_BYTES:
                return None  # bomb body: drop the message whole
            charset = part.get_content_charset() or "utf-8"
            # RFC 5322 wire bodies are CRLF; LF is the text-pipeline
            # canonical (the MIME encoder also guarantees exactly one
            # trailing newline — callers' oracles account for it)
            body = raw.decode(charset, "replace").replace("\r\n", "\n")
        except Exception:
            return None  # undecodable CTE/charset: message drop
        break
    if body is None:
        return None  # html-only / delivery-status message: drop
    return {"msg_id": msg_id.strip(), "subject": subject,
            "sender": sender, "text": body}


# -------------------------------------------------------- builder


def build_email(msg_id: str, subject: str, sender: str, text: str,
                cte: str = "base64", html: str | None = None,
                boundary: str | None = None) -> bytes:
    """One deterministic RFC 5322 message: text/plain under the
    given Content-Transfer-Encoding, optionally multipart/alternative
    with an html sibling (NOT the text of record), RFC 2047 subject
    encoding when the subject is non-ASCII, pinned MIME boundary."""
    from email.message import EmailMessage
    from email.policy import SMTP

    msg = EmailMessage(policy=SMTP)
    msg["Message-ID"] = msg_id
    msg["Subject"] = subject  # policy emits RFC 2047 when non-ASCII
    msg["From"] = sender
    msg["Date"] = "Mon, 01 Jan 2024 00:00:00 +0000"
    msg.set_content(text, cte=cte)
    if html is not None:
        msg.add_alternative(f"<html><body><p>{html}</p></body></html>",
                            subtype="html")
        if boundary:
            msg.set_boundary(boundary)
    return msg.as_bytes()


def build_mbox(messages: list[bytes]) -> bytes:
    """RFC 4155 mbox from message byte strings: ``From `` separator
    lines, mboxrd stuffing of body ``From `` lines."""
    out = []
    for m in messages:
        stuffed = re.sub(rb"(?m)^(>*From )", rb">\1", m)
        out.append(b"From fixture@localhost Mon Jan  1 00:00:00 2024\n"
                   + stuffed.rstrip(b"\n") + b"\n")
    return b"\n".join(out)


# ------------------------------------------------------- Spark stages


_CTES = ["base64", "quoted-printable"]


def mbox_payloads(df: DataFrame, id_col: str, text_col: str,
                  source_col: str) -> DataFrame:
    """(id, payload): per row a TWO-message mbox — the doc's message
    (text/plain under the ``id % 2``-th transfer encoding, inside
    multipart/alternative with an html decoy sibling, en-dash
    subject forcing RFC 2047) plus an html-ONLY notification message
    that extraction must drop message-granularly."""

    def encode(i, text, source):
        doc_msg = build_email(
            f"<{i}@corpus.example.com>",
            f"Doc {i} – report",
            f"corpus-{source}@example.com",
            text,
            cte=_CTES[i % 2],
            html="DECOY html body that must not be extracted",
            boundary=f"----=fixture-{i}",
        )
        dud = (b"From: noreply@example.com\r\n"
               b"Message-ID: <dud-" + str(i).encode() +
               b"@example.com>\r\n"
               b"Content-Type: text/html\r\n\r\n"
               b"<p>html-only notification</p>\r\n")
        return build_mbox([doc_msg, dud])

    return encode_payloads(df, encode, id_col, text_col, source_col)


def extract_emails(payloads: DataFrame) -> DataFrame:
    """(id, subject, sender, extracted) over (id-ignored, payload)
    rows: the mbox walk + MIME extraction, id re-parsed from
    Message-ID (the local-part digits), message-granular drops for
    html-only/id-less messages."""

    def extract(payload):
        # not mbox-framed (None): row drop
        for m in iter_mbox_messages(payload) or ():
            rec = extract_message(m)
            if rec is None:
                continue
            mid = re.fullmatch(r"<(\d+)@[^>]+>", rec["msg_id"])
            if mid:  # a foreign Message-ID shape drops
                yield (int(mid.group(1)), rec["subject"], rec["sender"],
                       rec["text"])

    return flat_map_rows(
        payloads.select("payload"), extract,
        "id bigint, subject string, sender string, extracted string")


def read_mbox(spark, path: str) -> DataFrame:
    """:func:`extract_emails` over ``.mbox`` files on disk."""
    return extract_emails(
        spark.read.format("binaryFile").load(path)
        .withColumnRenamed("content", "payload"))
