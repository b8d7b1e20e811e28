"""Minimal PDF text layer — the "PDF/layout parse" slot of the pipeline.

The reference engine is HTML-only, so this is an engine-side addition
covering the extraction tier's other major input genre.  Scope is the
simple-but-real core of PDF 1.4 text extraction, implemented on stdlib
only (no pdf libraries exist in this container):

- content streams stored plain or FlateDecode-compressed (zlib);
- text-showing operators ``Tj`` and ``'`` with literal strings
  (backslash escapes incl. octal), and ``TJ`` arrays;
- tolerant object scan (no xref table walk — the recovery strategy real
  parsers fall back to on damaged files).

Out of scope, by design and documented: encryption, CID/Type0 composite
fonts (text would need per-font CMaps), predictors, object streams.
``extract_pdf_text`` returns what it can and never raises on garbage.

``build_simple_pdf`` writes a valid single-page PDF whose text layer
round-trips through ``extract_pdf_text`` line-for-line — the fixture
generator for tests and the driver oracle.
"""

from __future__ import annotations

import re
import zlib

_STREAM_HDR_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")
_TJ_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)\s*(?:Tj|')")
_TJ_ARRAY_RE = re.compile(rb"\[((?:[^][])*)\]\s*TJ")
_STR_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)")
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(raw: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i:i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = raw[i + 1:i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt in b"01234567":  # octal escape, up to 3 OCTAL digits
                j = i + 1
                while j < min(i + 4, n) and raw[j] in b"01234567":
                    j += 1
                out.append(int(raw[i + 1:j], 8) & 0xFF)
                i = j
                continue
            i += 1  # lone backslash (incl. before 8/9): swallowed, PDF spec
            continue
        out += c
        i += 1
    return bytes(out)


def _escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _stream_blocks(pdf: bytes):
    """(dict-params, stream-bytes) pairs.  Streams are sliced by their
    /Length entry when present — compressed payloads are arbitrary bytes
    and can legitimately contain the token 'endstream', so a bare regex
    to the first 'endstream' truncates ~0.2%% of real streams.  Falls
    back to the endstream scan when Length is absent or inconsistent."""
    for m in _STREAM_HDR_RE.finditer(pdf):
        params = m.group(1)
        start = m.end()
        lm = _LENGTH_RE.search(params)
        if lm:
            n = int(lm.group(1))
            end = start + n
            tail = pdf[end:end + 12]
            if tail.lstrip(b"\r\n").startswith(b"endstream"):
                yield params, pdf[start:end]
                continue
        idx = pdf.find(b"endstream", start)
        if idx != -1:
            yield params, pdf[start:idx].rstrip(b"\r\n")


def extract_pdf_text(pdf: bytes) -> str:
    """Text of all extractable content streams, one output line per
    text-showing operation, joined with newlines.  Tolerant: skips
    streams it can't decode; returns '' for non-PDF input."""
    if not pdf or not pdf.startswith(b"%PDF"):
        return ""
    lines: list[str] = []
    for m in _stream_blocks(pdf):
        params, data = m
        if b"FlateDecode" in params:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                continue
        elif b"Filter" in params:
            continue  # unsupported filter — skip, don't guess
        if b"BT" not in data:
            continue
        # Tj/' and TJ operations merged in STREAM order — separate passes
        # would scramble interleaved lines
        ops: list[tuple[int, str]] = []
        for tm in _TJ_RE.finditer(data):
            ops.append((
                tm.start(),
                _unescape(tm.group(1)).decode("latin-1", "replace"),
            ))
        for am in _TJ_ARRAY_RE.finditer(data):
            parts = [
                _unescape(s.group(1)).decode("latin-1", "replace")
                for s in _STR_RE.finditer(am.group(1))
            ]
            if parts:
                ops.append((am.start(), "".join(parts)))
        ops.sort(key=lambda p: p[0])
        lines.extend(t for _, t in ops)
    return "\n".join(lines)


def build_simple_pdf(text: str) -> bytes:
    """A valid single-page PDF 1.4 whose text layer is ``text``, one Tj
    per input line; its content stream is Flate-compressed so the
    extractor's decompression path is exercised."""
    ops = ["BT", "/F1 11 Tf", "1 0 0 1 50 780 Tm", "13 TL"]
    for i, line in enumerate(text.split("\n")):
        if i:
            ops.append("T*")
        ops.append(f"({_escape(line)}) Tj")
    ops.append("ET")
    content = zlib.compress("\n".join(ops).encode("latin-1", "replace"))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Filter /FlateDecode /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)
