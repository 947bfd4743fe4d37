"""Tokenizer for the CH SQL dialect.

Token kinds: KEYWORD-ish bare words (IDENT), NUMBER, STRING (single
quoted, backslash escapes per the reference's
Parsers/ExpressionElementParsers.cpp string literal rules), QUOTED_IDENT
(backticks), and single/multi-char PUNCT (including ``->`` lambda arrow,
``?``/``:`` ternary, comparison operators).

Comments (``--`` line, ``/* */`` block) are dropped.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<line_comment>--[^\n]*)
    | (?P<block_comment>/\*.*?\*/)
    | (?P<string>'(?:[^'\\]|\\.)*')
    | (?P<qident>`(?:[^`\\]|\\.)*`)
    | (?P<hexfloat>0[xX][0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?[pP][+-]?\d+)
    | (?P<hexnum>0[xX][0-9A-Fa-f]+)
    | (?P<number>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<punct><=|>=|!=|<>|==|->|\|\||[-+*/%(),.\[\]<>=?:])
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class Token:
    kind: str  # 'string' | 'qident' | 'number' | 'ident' | 'punct'
    text: str
    pos: int = -1  # character offset in the source text

    def is_kw(self, *words: str) -> bool:
        return self.kind == "ident" and self.text.upper() in words

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"{self.kind}:{self.text}"


def tokenize(sql: str) -> list[Token]:
    return list(iter_tokens(sql))


def iter_tokens(sql: str):
    """Tokens of ``sql`` one at a time, so a caller can stop reading
    early (an INSERT's VALUES payload is never tokenized)."""
    pos = 0
    n = len(sql)
    while pos < n:
        m = _TOKEN_RE.match(sql, pos)
        if m is None:
            raise ValueError(f"cannot tokenize at offset {pos}: {sql[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "line_comment", "block_comment"):
            continue
        text = m.group()
        if kind == "hexnum":
            # hex literal 0xFF (ExpressionElementParsers.cpp number
            # parsing = strtoull base 0) — Spark SQL has no 0x form;
            # emit decimal, or the strtod double past the u64 range
            v = int(text, 16)
            kind, text = "number", (
                str(v) if v <= 0xFFFFFFFFFFFFFFFF else repr(float(v))
            )
        elif kind == "hexfloat":
            # C99 hex float 0x123p4 (strtod-style, same parser)
            kind, text = "number", repr(float.fromhex(text))
        elif kind == "number" and text.endswith("."):
            # `-0.` / `1.` trailing-dot floats: Spark's parser rejects
            # a bare trailing dot
            text += "0"
        elif (
            kind == "number"
            and text.isdigit()
            and text.startswith("0")
            and len(text) > 1
        ):
            # leading-zero integer: ParserNumber's strtoull(buf, &end,
            # base=0) reads it as OCTAL; a non-octal digit or u64
            # overflow leaves the token partially consumed, so the
            # parser falls back to strtod's DECIMAL read (0377 = 255,
            # 0999 = 999.0, 0100…(309 digits) = 1e308 — golden 00031)
            try:
                v = int(text, 8)
            except ValueError:
                v = None
            kind, text = "number", (
                str(v)
                if v is not None and v <= 0xFFFFFFFFFFFFFFFF
                else repr(float(text))
            )
        elif kind == "number" and text.isdigit() and int(text) > 0xFFFFFFFFFFFFFFFF:
            # integer literal past the u64 range: strtoull overflows,
            # the parser re-reads with strtod (Float64)
            kind, text = "number", repr(float(text))
        elif (
            kind == "number"
            and ("." in text or "e" in text.lower())
            and not text.startswith(".")
            and len(text) > 24
        ):
            # very long float literal (-0.0000…001 with 300 digits,
            # golden 00031): Spark parses it as a DECIMAL first and
            # overflows max precision 38 — pre-fold through strtod
            kind, text = "number", repr(float(text))
        elif kind == "string":
            text = _decode_hex_escapes(text)
        yield Token(kind=kind, text=text, pos=m.start())


def _decode_hex_escapes(text: str) -> str:
    """``\\xHH`` byte escapes (ExpressionElementParsers.cpp
    parseEscapeSequence) are not a Spark SQL escape — decode them to the
    literal character here, re-escaping quote/backslash."""
    buf, raw = _unescape(text)
    try:
        return buf.decode("utf-8")
    except UnicodeDecodeError:
        # CH strings are byte strings (parseEscapeSequence produces
        # arbitrary bytes); Spark's UTF8String does not validate
        # either, so smuggle the exact bytes via unhex — the token
        # stays kind='string' and splices as an expression
        return f"CAST(unhex('{raw.hex().upper()}') AS STRING)"


# escapes that Spark's string-literal reader decodes differently from
# the reference (\% and \_ keep their backslash, \Z is ^Z, \u is a
# code point, \1-\9 start an octal escape)
_SPARK_OWN_ESCAPE = re.compile(r"\\[1-9%_ZuU]")
_SURROGATE = re.compile(r"[\ud800-\udfff]")


def string_value(text: str) -> str | None:
    """The value of a quoted string literal token under the reference's
    escape rules (the content bytes ``_unescape`` decodes), or None
    when only the SQL path reads it the same way as before: not valid
    UTF-8, surrogate-escaped input bytes, or an escape Spark reads
    differently."""
    body = text[1:-1]
    if _SURROGATE.search(body):
        return None
    if "\\" not in body:
        return body
    if _SPARK_OWN_ESCAPE.search(body):
        return None
    try:
        return _unescape(text)[1].decode("utf-8")
    except UnicodeDecodeError:
        return None


def _unescape(text: str) -> tuple[bytearray, bytearray]:
    """Both readings of a quoted string literal: the body with the
    escapes Spark lacks decoded (still a Spark SQL string body), and
    the content bytes the reference reads."""

    _C_ESCAPES = {"a": "\a", "b": "\b", "f": "\f", "v": "\v", "0": "\x00", "e": "\x1b"}

    # \xHH are BYTE escapes: consecutive ones form one UTF-8 sequence
    # ('\xD0\xA0' is the two-byte encoding of one Cyrillic letter), so
    # assemble bytes first and decode once at the end.
    buf = bytearray()
    raw = bytearray()
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if c == "\\" and i + 1 < n:
            e = text[i + 1]
            if e in ("x", "X") and i + 3 < n and re.fullmatch(
                r"[0-9A-Fa-f]{2}", text[i + 2 : i + 4]
            ):
                b = int(text[i + 2 : i + 4], 16)
                raw.append(b)
                if chr(b) in ("'", "\\"):
                    buf += b"\\" + bytes([b])
                else:
                    buf.append(b)
                i += 4
                continue
            if e in _C_ESCAPES:
                # C escapes the reference accepts (parseEscapeSequence)
                # but Spark's string parser does not: decode to raw char
                buf += _C_ESCAPES[e].encode("utf-8")
                raw += _C_ESCAPES[e].encode("utf-8")
                i += 2
                continue
            buf += text[i : i + 2].encode("utf-8")
            raw += {"n": b"\n", "r": b"\r", "t": b"\t"}.get(
                e, e.encode("utf-8")
            )
            i += 2
            continue
        buf += c.encode("utf-8")
        if not (c == "'" and i in (0, n - 1)):
            raw += c.encode("utf-8")
        i += 1
    return buf, raw


def render(tokens: list[Token]) -> str:
    """Render tokens back to SQL text with minimal-but-safe spacing."""
    parts: list[str] = []
    prev: Token | None = None
    for t in tokens:
        if prev is not None and _needs_space(prev, t):
            parts.append(" ")
        parts.append(t.text)
        prev = t
    return "".join(parts)


_TIGHT_BEFORE = {"(", ")", ",", ".", "[", "]"}
_TIGHT_AFTER = {"(", ".", "["}


def _needs_space(a: Token, b: Token) -> bool:
    if b.text in _TIGHT_BEFORE and b.text != "(":
        return False
    if a.text in _TIGHT_AFTER:
        return False
    if b.text == "(":
        # keep f(...) tight but `AND (`, `IN (` spaced — harmless either way
        return a.kind not in ("ident", "qident")
    if a.text in (")", "]") and b.kind == "punct":
        return b.text not in _TIGHT_BEFORE
    return True
