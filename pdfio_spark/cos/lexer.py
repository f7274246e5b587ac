"""Byte-stream lexer / recursive-descent parser for COS syntax.

Re-expresses the reference tokenizer (/root/reference/src/CosReader.jl
and /root/reference/src/BufferParser.jl) over an in-memory bytes buffer
with an index cursor. The same parser serves file objects, content
streams and CMap streams via the `parse_more` plug-in hook
(parse_value's fparse_more, /root/reference/src/CosReader.jl:26-38).

KMP keyword search (BufferParser.jl:52-87) is replaced by C-speed
bytes.find — same semantics (offset within a max window, cursor left at
keyword start on hit, restored on miss).
"""
from __future__ import annotations

import re

from .objects import Comment, HexStr, LitStr, Name, Ref, f32

__all__ = ["Buf", "ParseError"]

# PDF character classes (reference src/bytes.jl:128-146)
_WS = b"\x00\t\n\x0c\r "
_SPACE = frozenset(_WS)
_DELIM = frozenset(b"()<>{}[]%/")
_ODIGITS = frozenset(b"01234567")
_XDIGITS = frozenset(b"0123456789abcdefABCDEF")

# Precompiled scanners. Each token scanner also takes the whitespace
# after its token, the reference's chomp_space, in the same match.
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>{}\[\]%/]"
_SPACE_RUN = re.compile(rb"[" + _WS + rb"]*")
_NAME_WS = re.compile(rb"/(" + _REGULAR + rb"*)[" + _WS + rb"]*")
_WORD_WS = re.compile(rb"(" + _REGULAR + rb"*)[" + _WS + rb"]*")
_NUM_WS = re.compile(rb"([0-9+\-.]*)[" + _WS + rb"]*")
_UNUM_WS = re.compile(rb"([0-9]*)[" + _WS + rb"]*")
# a number, then `gen R` when R is followed by a delimiter, space or EOF
# (the guard keeps `1 0 RG` three operands)
_NUM_REF = re.compile(rb"([0-9+\-.]*)[" + _WS + rb"]*(?:([0-9]+)[" + _WS
                      + rb"]*R(?!" + _REGULAR + rb")[" + _WS + rb"]*)?")
_COMMENT_WS = re.compile(rb"%([^\r\n]*)[" + _WS + rb"]*")
_LIT_SPECIAL = re.compile(rb"[\\()]")
_HEX_RUN = re.compile(rb"[0-9a-fA-F" + _WS + rb"]*")


class ParseError(Exception):
    pass


# parse_value's dispatch on the first byte (CosReader.jl:26-38)
_K_WORD, _K_NUM, _K_SNUM, _K_NAME, _K_LIT, _K_ANGLE, _K_ARRAY, \
    _K_COMMENT = range(8)
_KIND = bytearray(256)  # all _K_WORD: operators, constants, stray bytes
for _c in b"0123456789":
    _KIND[_c] = _K_NUM
for _c, _k in ((0x2D, _K_SNUM), (0x2B, _K_SNUM), (0x2E, _K_SNUM),
               (0x2F, _K_NAME), (0x28, _K_LIT), (0x3C, _K_ANGLE),
               (0x5B, _K_ARRAY), (0x25, _K_COMMENT)):
    _KIND[_c] = _k
_KIND = bytes(_KIND)

# Literal-string escapes (/root/reference/src/bytes.jl:84-92)
_ESCAPES = {
    ord("("): ord("("), ord(")"): ord(")"), ord("\\"): ord("\\"),
    ord("b"): 0x08, ord("f"): 0x0C, ord("n"): 0x0A,
    ord("r"): 0x0D, ord("t"): 0x09,
}

_CONSTS = {b"true": True, b"false": False, b"null": None}


def _number(token: bytes, pos: int):
    """A numeric token's value: '+' ignored, '.' makes a float32
    (CosReader.jl:455-509)."""
    if 0x2B in token:
        token = token.replace(b"+", b"")
    if not token:
        raise ParseError(f"bad number at {pos}")
    if 0x2E in token:
        try:
            return f32(float(token))
        except ValueError:
            raise ParseError(f"bad float {token!r} at {pos}")
    try:
        return int(token)
    except ValueError:
        raise ParseError(f"bad int {token!r} at {pos}")


def _default_parse_more(token: bytes):
    return len(token), None


class Buf:
    """bytes + cursor with the reference's lexing primitives."""
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    # ---- primitives (BufferParser.jl:10-32) ----
    def eof(self) -> bool:
        return self.pos >= len(self.data)

    def peek(self) -> int:
        if self.pos >= len(self.data):
            raise ParseError("unexpected EOF")
        return self.data[self.pos]

    def advance(self) -> int:
        b = self.peek()
        self.pos += 1
        return b

    def skip(self, n: int = 1) -> None:
        self.pos += n

    def read(self, n: int) -> bytes:
        out = self.data[self.pos:self.pos + n]
        self.pos += len(out)
        return out

    def skipv(self, expected: bytes) -> None:
        if self.data.startswith(expected, self.pos):
            self.pos += len(expected)
            return
        # mismatch: the cursor stops at the first differing byte
        for c in expected:
            if self.eof() or self.data[self.pos] != c:
                got = "EOF" if self.eof() else chr(self.data[self.pos])
                raise ParseError(
                    f"Found '{got}' expected '{chr(c)}' at {self.pos}")
            self.pos += 1

    def chomp_space(self) -> int:
        data, p = self.data, self.pos
        if p >= len(data) or data[p] not in _SPACE:
            return 0
        self.pos = _SPACE_RUN.match(data, p).end()
        return self.pos - p

    def chomp_eol(self) -> None:
        data, ln = self.data, len(self.data)
        p = self.pos
        while p < ln and data[p] in b"\r\n":
            p += 1
        self.pos = p

    def locate_keyword(self, keyword: bytes, maxoffset: int | None = None) -> int:
        """bytes.find within a bounded window; on a hit the cursor is
        left AFTER the keyword (mirrors locate_keyword!,
        /root/reference/src/BufferParser.jl:52-87); unchanged on miss.
        Returns the offset from the entry position, or -1."""
        if maxoffset is None:
            maxoffset = len(keyword)
        end = min(len(self.data), self.pos + maxoffset)
        idx = self.data.find(keyword, self.pos, end)
        if idx < 0:
            return -1
        off = idx - self.pos
        self.pos = idx + len(keyword)  # reference leaves cursor past keyword
        return off

    # ---- value parsing (CosReader.jl) ----
    def parse_value(self, parse_more=_default_parse_more):
        """Dispatch on first byte (reference src/CosReader.jl:26-38).
        Every value parser leaves the cursor past the value's trailing
        whitespace, except the constant/operator tokens, which keep the
        reference's one-byte arithmetic (parse_ops_or_const)."""
        data, p = self.data, self.pos
        ln = len(data)
        if p < ln and data[p] in _SPACE:
            p = self.pos = _SPACE_RUN.match(data, p).end()
        if p >= ln:
            raise ParseError("unexpected EOF")
        k = _KIND[data[p]]
        if k == _K_NUM:
            return self.try_parse_indirect_reference()
        if k == _K_NAME:
            return self.parse_name()
        if k == _K_WORD:
            return self.parse_ops_or_const(parse_more)
        if k == _K_LIT:
            return self.parse_string()
        if k == _K_ARRAY:
            return self.parse_array()
        if k == _K_ANGLE:
            return self.parse_xstring()
        if k == _K_SNUM:
            return self.parse_number()
        return self.parse_comment()

    def parse_comment(self) -> Comment:
        # EOF-tolerant: truncated streams may end mid-comment
        # (corrupt-flate fixtures)
        m = _COMMENT_WS.match(self.data, self.pos)
        self.pos = m.end()
        return Comment(m.group(1))

    def parse_name(self) -> Name:
        data = self.data
        if self.pos >= len(data) or data[self.pos] != 0x2F:
            raise ParseError(f"expected / at {self.pos}")
        m = _NAME_WS.match(data, self.pos)
        token = m.group(1)
        if 0x23 in token:  # '#' hex escape (CosReader.jl:61-71)
            self.pos = m.end(1)
            out = bytearray()
            i, ln = 0, len(token)
            while i < ln:
                c = token[i]
                if c == 0x23:
                    if i + 2 >= ln or not (token[i + 1] in _XDIGITS
                                           and token[i + 2] in _XDIGITS):
                        raise ParseError(f"bad #-escape in name at {self.pos}")
                    out.append(int(token[i + 1:i + 3], 16))
                    i += 3
                else:
                    out.append(c)
                    i += 1
            token = bytes(out)
        self.pos = m.end()
        return Name(token.decode("latin-1"))

    def parse_ops_or_const(self, parse_more=_default_parse_more):
        """Keyword tokenizer with the reference's exact cursor arithmetic
        (/root/reference/src/CosReader.jl:80-112): constants consume
        token+1 space; parse_more may claim fewer bytes than the token."""
        data, start = self.data, self.pos
        m = _WORD_WS.match(data, start)
        tb = m.group(1)
        end = self.pos = m.end()
        ns = end - m.end(1)
        if not tb and ns == 0:
            # corrupt input: no token, no whitespace -> would spin forever
            raise ParseError(f"unparseable byte at {end}")
        reset_marker = ns > 0 and end < len(data)
        nused = len(tb) + 1
        if tb in _CONSTS:
            ret = _CONSTS[tb]
        else:
            nused, ret = parse_more(tb)
            if nused < len(tb):
                reset_marker = True
            else:
                nused += 1
        if reset_marker:
            self.pos = min(start + nused, len(data))
        return ret

    def parse_array(self) -> list:
        data = self.data
        ln = len(data)
        out = []
        p = self.pos + 1  # past [
        while True:
            if p < ln and data[p] in _SPACE:
                p = _SPACE_RUN.match(data, p).end()
            if p >= ln:
                self.pos = p
                raise ParseError("unexpected EOF")
            if data[p] == 0x5D:  # ]
                break
            self.pos = p
            out.append(self.parse_value())
            p = self.pos
        self.pos = _SPACE_RUN.match(data, p + 1).end()
        return out

    def _read_octal_escape(self, c: int) -> int:
        n = c - 0x30
        for _ in range(2):
            if self.eof():
                return n
            b = self.peek()
            if b not in _ODIGITS:
                return n
            n = ((n << 3) + (b - 0x30)) & 0xFF
            self.skip(1)
        return n

    def parse_string(self) -> LitStr:
        # chunk-scan: copy runs between \ ( ) wholesale
        data = self.data
        out = bytearray()
        p = self.pos + 1  # past (
        paren = 0
        while True:
            m = _LIT_SPECIAL.search(data, p)
            if m is None:
                raise ParseError("unterminated literal string")
            out += data[p:m.start()]
            p = m.start()
            c = data[p]
            p += 1
            if c == 0x5C:  # backslash
                if p >= len(data):
                    raise ParseError("unterminated escape")
                c = data[p]
                p += 1
                if c in _ODIGITS:
                    self.pos = p
                    out.append(self._read_octal_escape(c))
                    p = self.pos
                elif c in (0x0D, 0x0A):
                    p = _SPACE_RUN.match(data, p).end()
                else:
                    e = _ESCAPES.get(c, 0)
                    if e == 0:
                        raise ParseError(f"bad escape at {p}")
                    out.append(e)
            elif c == 0x28:
                paren += 1
                out.append(c)
            else:  # 0x29
                if paren > 0:
                    paren -= 1
                    out.append(c)
                else:
                    self.pos = _SPACE_RUN.match(data, p).end()
                    return LitStr(out)

    def parse_xstring(self):
        data = self.data
        p = self.pos + 1  # past <
        if p < len(data) and data[p] == 0x3C:
            self.pos = p + 1
            return self.parse_dict()
        m = _HEX_RUN.match(data, p)
        end = m.end()
        if end >= len(data) or data[end] != 0x3E:
            raise ParseError(f"unexpected char in hex string at {end}")
        chunk = data[p:end]
        out = chunk.translate(None, _WS)
        if len(out) % 2 != 0:
            # odd length: append a zero nibble per spec 7.3.4.3.
            # DIVERGENCE: the reference pushes NUL into its hex vector
            # (CosReader.jl:197) which later makes hex2bytes THROW —
            # it rejects the doc; we tolerate per spec.
            out += b"0"
        self.pos = _SPACE_RUN.match(data, end + 1).end()
        return HexStr(out)

    def parse_dict(self) -> dict:
        """Cursor must be just past '<<' (CosReader.jl:206-236). Bytes
        between entries other than '/' and '>' are skipped one by one."""
        data = self.data
        ln = len(data)
        d: dict = {}
        p = _SPACE_RUN.match(data, self.pos).end()
        while True:
            if p >= ln:
                self.pos = p
                raise ParseError("unexpected EOF")
            c = data[p]
            if c == 0x2F:
                m = _NAME_WS.match(data, p)
                if 0x23 in m.group(1):
                    self.pos = p
                    key = self.parse_name()
                else:
                    key = Name(m.group(1).decode("latin-1"))
                    self.pos = m.end()
                val = self.parse_value()
                if val is not None:  # null values deleted (CosReader.jl:219)
                    d[key] = val
                p = self.pos
                if p < ln and data[p] in _SPACE:
                    p = _SPACE_RUN.match(data, p).end()
                continue
            p += 1
            if c == 0x3E:
                self.pos = p
                self.skipv(b">")
                self.pos = _SPACE_RUN.match(data, self.pos).end()
                return d

    # ---- numbers (CosReader.jl:455-509) ----
    def parse_unsignednumber(self) -> int:
        m = _UNUM_WS.match(self.data, self.pos)
        token = m.group(1)
        if not token:
            raise ParseError(f"bad number at {self.pos}")
        self.pos = m.end()
        return int(token)

    def parse_number(self):
        m = _NUM_WS.match(self.data, self.pos)
        self.pos = m.end()
        return _number(m.group(1), self.pos)

    # ---- indirect refs (CosReader.jl:370-419) ----
    def try_parse_indirect_reference(self):
        """`n g R` is a reference only when R is followed by a
        delimiter, space or EOF; otherwise the cursor stays just past
        the first number and its whitespace."""
        m = _NUM_REF.match(self.data, self.pos)
        gen = m.group(2)
        if gen is None:
            self.pos = m.end()
            return _number(m.group(1), self.pos)
        self.pos = m.start(2)
        nobj = _number(m.group(1), self.pos)
        if isinstance(nobj, int):
            self.pos = m.end()
            return Ref(nobj, int(gen))
        return nobj

    def parse_indirect_ref(self) -> Ref:
        self.chomp_space()
        objn = self.parse_unsignednumber()
        genn = self.parse_unsignednumber()
        self.skipv(b"R")
        if not (self.eof() or self.peek() in _DELIM or self.peek() in _SPACE):
            raise ParseError(f"invalid delimiter after R at {self.pos}")
        self.chomp_space()
        return Ref(objn, genn)
