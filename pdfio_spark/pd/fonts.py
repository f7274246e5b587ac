"""Fonts: unicode mappings, CMaps, glyph metrics, width arithmetic.

Mirrors the decode-to-unicode plane of the reference
(/root/reference/src/PDFonts.jl, PDFontMetrics.jl, PDFontTables.jl):

 - simple-font encodings (Std/MacRoman/MacExpert/WinAnsi/Symbol/Zapf)
   from pdfio_spark/data/encodings.json (public Adobe tables);
 - /Encoding /Differences overlays with AGL glyph-name resolution
   including uniXXXX / uXXXX names, '_' ligature splits, '.suffix'
   strips (PDFonts.jl:59-189);
 - ToUnicode CMap parsing with the corrupt-range repair
   (PDFonts.jl:383-487) over sorted interval lists instead of an
   IntervalTree;
 - std-14 AFM metrics incl. kern pairs (PDFontMetrics.jl) from
   data/afm.json;
 - /Widths arrays, Type0 /W CID widths (PDFontMetrics.jl:158-214);
 - the float32 width accumulation that drives byte-identical layout
   (get_string_width / get_TextBox, PDFonts.jl:648-691).
"""
from __future__ import annotations

import json
import math
import re
import struct

import numpy as np

from ..cos.lexer import Buf, ParseError
from ..cos.objects import HexStr, LitStr, Name, Stream, f32

# importlib.resources is zip-aware: the package may ship inside a
# --py-files pdfio_spark.zip where plain open() cannot reach the data
from importlib.resources import files as _res_files

_DATA_PKG = _res_files("pdfio_spark.data")
_ENC = json.loads((_DATA_PKG / "encodings.json").read_text())
_AFM_RAW = json.loads((_DATA_PKG / "afm.json").read_text())

# byte -> glyphname maps
_E2G = {k: {int(b): g for b, g in _ENC[k].items()}
        for k in ("STD", "MAC", "WIN", "MEX", "SYM", "ZAP")}
# glyphname -> [codepoints]
AGL: dict[str, list[int]] = _ENC["AGL"]
AGL_ZAP: dict[str, list[int]] = _ENC["AGL_ZAP"]
PDFDOC_TO_UNICODE = {int(k): v for k, v in _ENC["PDFDOC"].items()}

# glyphname -> byte (reverse maps, last-wins like reverse_dict)
_G2E = {k: {g: b for b, g in _E2G[k].items()} for k in _E2G}

ADOBE_STD_14 = {
    "Times-Roman", "Helvetica", "Courier", "Symbol",
    "Times-Bold", "Helvetica-Bold", "Courier-Bold", "ZapfDingbats",
    "Times-Italic", "Helvetica-Oblique", "Courier-Oblique",
    "Times-BoldItalic", "Helvetica-BoldOblique", "Courier-BoldOblique",
}


def _enc_to_unicode(enc_key: str, agl=None) -> dict[int, list[int]]:
    """dict_remap(byte->glyph, glyph->unicode) (Utils.jl:49-56)."""
    agl = agl if agl is not None else AGL
    return {b: agl.get(g, [0]) for b, g in _E2G[enc_key].items()}


STD_TO_UNICODE = _enc_to_unicode("STD")
MAC_TO_UNICODE = _enc_to_unicode("MAC")
WIN_TO_UNICODE = _enc_to_unicode("WIN")
MEX_TO_UNICODE = _enc_to_unicode("MEX")
SYM_TO_UNICODE = _enc_to_unicode("SYM")
ZAP_TO_UNICODE = _enc_to_unicode("ZAP", AGL_ZAP)


# ------------------------------------------------------------- AFM

class AdobeFontMetrics:
    __slots__ = ("cid_to_name", "name_to_wx", "kern_pairs", "has_kerning",
                 "italic_angle", "is_fixed_pitch", "weight", "fontname",
                 "_wx256", "_kern256", "run")

    def __init__(self, raw: dict):
        self.cid_to_name = {int(k): v for k, v in raw["cid_to_name"].items()}
        self.name_to_wx = {k: f32(v) for k, v in raw["name_to_wx"].items()}
        self.kern_pairs = {tuple(k.split(" ")): f32(v)
                           for k, v in raw["kern"].items()}
        self.has_kerning = bool(raw["kern"])
        self.italic_angle = raw["italic"]
        self.is_fixed_pitch = raw["fixed"]
        self.weight = raw["weight"]
        self.fontname = raw["fontname"]
        self._wx256 = None
        self._kern256 = None
        self.run: RunWidths | None = None

    def flags(self) -> int:
        res = 0
        if self.italic_angle != 0:
            res += 0x00000040
        if self.is_fixed_pitch:
            res += 0x00000001
        return res

    def wx256(self) -> np.ndarray:
        """Dense cid->width vector (missing cid -> 1000, matching
        get_character_width's fallback)."""
        if self._wx256 is None:
            v = np.full(256, 1000.0, dtype=np.float32)
            for cid, name in self.cid_to_name.items():
                if 0 <= cid < 256:
                    v[cid] = self.name_to_wx.get(name, f32(1000.0))
            self._wx256 = v
        return self._wx256

    def kern256(self) -> np.ndarray:
        """Dense (prev, curr) kern matrix for vectorized lookups."""
        if self._kern256 is None:
            m = np.zeros((256, 256), dtype=np.float32)
            if self.has_kerning:
                name_to_cids: dict[str, list[int]] = {}
                for cid, name in self.cid_to_name.items():
                    if 0 <= cid < 256:
                        name_to_cids.setdefault(name, []).append(cid)
                for (n1, n2), kw in self.kern_pairs.items():
                    for c1 in name_to_cids.get(n1, ()):
                        for c2 in name_to_cids.get(n2, ()):
                            m[c1, c2] = kw
            self._kern256 = m
        return self._kern256


_AFM_CACHE: dict[str, AdobeFontMetrics] = {}


def read_afm(fontname: str) -> AdobeFontMetrics:
    afm = _AFM_CACHE.get(fontname)
    if afm is None:
        afm = AdobeFontMetrics(_AFM_RAW[fontname])
        _AFM_CACHE[fontname] = afm
    return afm


# ------------------------------------------------------------- CMap

class _IntervalList:
    """Sorted (lo, hi) -> payload list standing in for the reference's
    IntervalTree; point intersection + get-or-insert by exact key."""
    __slots__ = ("items",)

    def __init__(self):
        self.items: list[list] = []  # [lo, hi, payload]

    def intersect(self, b: int) -> list:
        return [it for it in self.items if it[0] <= b <= it[1]]

    def set(self, lo: int, hi: int, payload) -> None:
        for it in self.items:
            if it[0] == lo and it[1] == hi:
                it[2] = payload
                return
        self.items.append([lo, hi, payload])
        self.items.sort(key=lambda it: (it[0], it[1]))

    def get_or_insert(self, lo: int, hi: int, factory):
        for it in self.items:
            if it[0] == lo and it[1] == hi:
                return it[2]
        payload = factory()
        self.set(lo, hi, payload)
        return payload

    def __len__(self):
        return len(self.items)


class CMap:
    __slots__ = ("code_space", "range_map", "cache")

    def __init__(self):
        self.code_space = _IntervalList()
        self.range_map = _IntervalList()
        # first-byte decode cache: b1 -> ("1", chars) one-byte code,
        # ("2", subtree, {b2: chars}) two-byte code. Real text repeats
        # few distinct codes — interval scans happen once per code.
        self.cache: dict = {}


from ..cos.objects import str_bytes as _xstr_bytes  # canonical coercion


def _offset_xstring(obj, offset: int):
    """_offset (PDFonts.jl:387-394): add offset to a 2-byte bfrange
    target during corrupt-range repair."""
    da = bytearray(_xstr_bytes(obj))
    db = (da[0] * 256 + da[1] + offset) & 0xFFFF
    da[0], da[1] = db >> 8, db & 0xFF
    return HexStr(bytes(da).hex().encode())


_CMAP_COMMANDS = (b"beginbfchar", b"beginbfrange", b"begincodespacerange")


def _cmap_parse_more(token: bytes):
    if token in _CMAP_COMMANDS:
        return len(token), token.decode()
    return len(token), None


def read_cmap(data: bytes) -> CMap:
    """read_cmap + on_cmap_command! (PDFonts.jl:396-487)."""
    cmap = CMap()
    buf = Buf(data)
    params: list[int] = []
    while not buf.eof():
        try:
            obj = buf.parse_value(_cmap_parse_more)
        except ParseError:
            break
        if isinstance(obj, (int, np.integer)) and not isinstance(obj, bool):
            params.append(int(obj))
        elif obj in ("beginbfchar", "beginbfrange", "begincodespacerange"):
            _on_cmap_command(buf, obj, params, cmap)
    return cmap


def _on_cmap_command(buf: Buf, command: str, params: list[int],
                     cmap: CMap) -> None:
    n = params.pop() if params else 0
    for _ in range(n):
        o1 = buf.parse_value()
        if not isinstance(o1, HexStr):
            return
        d1 = o1.binary
        o2 = o1 if command == "beginbfchar" else buf.parse_value()
        if not isinstance(o2, HexStr):
            return
        d2 = o2.binary
        if command != "begincodespacerange":
            o3 = buf.parse_value()
            if len(d1) == 1:
                cmap.range_map.set(d1[0], d2[0], o3)
            else:
                if d1[1] <= d2[1]:
                    imap = cmap.range_map.get_or_insert(
                        d1[0], d2[0], _IntervalList)
                    imap.set(d1[1], d2[1], o3)
                else:
                    # corrupt range lo2>hi2: split into 3 with offset
                    # arithmetic (PDFonts.jl:419-434)
                    imap = cmap.range_map.get_or_insert(
                        d1[0], d1[0], _IntervalList)
                    imap.set(d1[1], 0xFF, o3)
                    o3 = _offset_xstring(o3, 0xFF - d1[1] + 1)
                    if d2[0] - d1[0] > 1:
                        imap = cmap.range_map.get_or_insert(
                            d1[0] + 1, d2[0] - 1, _IntervalList)
                        imap.set(0x00, 0xFF, o3)
                        o3 = _offset_xstring(o3, (d2[0] - d1[0] - 1) * 0x100)
                    imap = cmap.range_map.get_or_insert(
                        d2[0], d2[0], _IntervalList)
                    imap.set(0x00, d2[1], o3)
        else:
            if d1[0] > d2[0]:
                raise ParseError("invalid codespace range")
            if len(d1) == 1:
                cmap.code_space.set(d1[0], d2[0], None)
            else:
                if d1[1] <= d2[1]:
                    imap = _IntervalList()
                    imap.set(d1[1], d2[1], None)
                    cmap.code_space.set(d1[0], d2[0], imap)
                else:
                    imap = cmap.code_space.get_or_insert(
                        d1[0], d1[0], _IntervalList)
                    imap.set(d1[1], 0xFF, None)
                    imap = cmap.code_space.get_or_insert(
                        d2[0], d2[0], _IntervalList)
                    imap.set(0x00, d2[1], None)
                    if d2[0] - d1[0] > 1:
                        imap = cmap.code_space.get_or_insert(
                            d1[0] + 1, d2[0] - 1, _IntervalList)
                        imap.set(0x00, 0xFF, None)


def get_unicode_chars(barr: bytes) -> list[int]:
    """UTF-16BE decode incl. surrogate pairs (PDFonts.jl:297-326);
    returns a list of codepoints.

    DIVERGENCE (documented): for multi-unit payloads the reference
    re-reads bytes 1-2 on EVERY loop iteration (a stale-index bug —
    bfchar <00660069> decodes to 'ff', not 'fi'); we advance through
    the buffer, the plain UTF-16 reading (FitV policy)."""
    out: list[int] = []
    nb, ln = 0, len(barr)
    while nb < ln:
        b1, b2 = barr[nb], barr[nb + 1] if nb + 1 < ln else 0
        nb += 2
        if 0xD8 <= b1 <= 0xDB:
            c = (b1 - 0xD8) * 256 + b2
            b3 = barr[nb] if nb < ln else 0
            b4 = barr[nb + 1] if nb + 1 < ln else 0
            nb += 2
            if 0xDC <= b3 <= 0xDF:
                c1 = (b3 - 0xDC) * 256 + b4
                c = c * 1024 + c1 + 0x10000
            out.append(c)
        else:
            out.append(b1 * 256 + b2)
    return out


def _unicode_chars_for(b: int, lo: int, v) -> list[int]:
    """get_unicode_chars(b, interval, value) (PDFonts.jl:280-295)."""
    if isinstance(v, HexStr):
        carr = get_unicode_chars(v.binary)
        if carr:
            carr[0] += (b - lo)
        return carr
    if isinstance(v, list):
        xstr = v[b - lo]
        return get_unicode_chars(_xstr_bytes(xstr))
    return [0]


def _cmap_first_byte(cmap: CMap, b1: int) -> tuple:
    """Classify b1 per the reference decision tree (PDFonts.jl:331-377)
    and memoize: one-byte codes carry their chars; two-byte codes carry
    the second-byte interval list + a per-b2 cache."""
    cs, rm = cmap.code_space, cmap.range_map
    xs = cs.intersect(b1)
    if not xs:
        return ("1", [0])
    itree = xs[0][2]
    itv = rm.intersect(b1)
    if itree is None:
        if itv:
            return ("1", _unicode_chars_for(b1, itv[0][0], itv[0][2]))
        return ("1", [0])
    if not itv:
        return ("1", [0])
    payload = itv[0][2]
    if not isinstance(payload, _IntervalList):
        return ("1", _unicode_chars_for(b1, itv[0][0], payload))
    return ("2", payload, {})


def cmap_decode(barr: bytes, cmap: CMap) -> list[int]:
    """get_encoded_string(barr, cmap) (PDFonts.jl:331-381).

    DIVERGENCE (documented): unmapped / out-of-codespace bytes emit
    one NUL here, deterministically. The reference's carr buffer is
    stateful across iterations — its NUL pushes can be silently
    dropped or PRIOR characters re-appended on irregular CMaps (a
    rebinding bug); regular CMaps (every oracled fixture) agree."""
    cache = cmap.cache
    out: list[int] = []
    i, ln = 0, len(barr)
    while i < ln:
        b1 = barr[i]
        i += 1
        e = cache.get(b1)
        if e is None:
            e = _cmap_first_byte(cmap, b1)
            cache[b1] = e
        if e[0] == "1":
            out.extend(e[1])
            continue
        if i >= ln:
            out.append(0)
            break
        b2 = barr[i]
        i += 1
        sub = e[2]
        chars = sub.get(b2)
        if chars is None:
            itv2 = e[1].intersect(b2)
            chars = (_unicode_chars_for(b2, itv2[0][0], itv2[0][2])
                     if itv2 else [0])
            sub[b2] = chars
        out.extend(chars)
    return out


# ------------------------------------- glyph names -> unicode (AGL)

_AGL_UNI_RE = re.compile(r"u(?P<u>[0-9a-fA-F]+$)|uni(?P<uni>[0-9a-fA-F]{4,6}$)")


def get_agl_unicode(g: str) -> list[int]:
    """AGL lookup incl. uXXXX/uniXXXX names (PDFonts.jl:65-88)."""
    m = _AGL_UNI_RE.search(g)
    if m is not None:
        u, uni = m.group("u"), m.group("uni")
        if u is not None:
            ln = len(u)
            if ln > 3 and ln % 4 == 0:
                ret = []
                for i in range(0, ln, 4):
                    c = int(u[i:i + 4], 16)
                    if 0xD7FF < c < 0xE000:
                        break
                    ret.append(c)
                if len(ret) * 4 == ln:
                    return ret
        else:
            c = int(uni, 16)
            # DIVERGENCE (documented): the reference's range check is
            # `0<=c<=0xD7FF && 0xE000<=c<=0x10FFFF` (PDFonts.jl:83) —
            # unsatisfiable, so it NEVER maps uniXXXX by codepoint and
            # falls through to the AGL table (usually NUL). We apply
            # the AGL-spec rule (disjunction) — real fonts name glyphs
            # uni20AC etc. and losing them drops real text.
            if 0x0000 <= c <= 0xD7FF or 0xE000 <= c <= 0x10FFFF:
                return [c]
    v = AGL.get(g)
    if v is None:
        v = AGL_ZAP.get(g, [0])
    return v


def get_unicodes_from_glyph_name(s: str) -> list[int]:
    """'_' ligature splits + '.suffix' strips (PDFonts.jl:90-100)."""
    nf = s.split(".")[0]
    if not nf:
        return [0]
    out: list[int] = []
    for g in nf.split("_"):
        out.extend(get_agl_unicode(g))
    return out


# ------------------------------------------------ font unicode maps

def _merge_base_encoding(fum: dict, encoding) -> None:
    table = (WIN_TO_UNICODE if encoding == Name("WinAnsiEncoding") else
             MAC_TO_UNICODE if encoding == Name("MacRomanEncoding") else
             MEX_TO_UNICODE if encoding == Name("MacExpertEncoding") else
             STD_TO_UNICODE)
    fum.update(table)


def _subtype_default_encoding(fum: dict, doc, font: dict) -> None:
    """FontType1/MMType1 default: Symbol/Zapf by basefont else Std
    (PDFonts.jl:139-150)."""
    subtype = doc.get(font, Name("Subtype"))
    if subtype is None:
        return
    if subtype in (Name("Type1"), Name("MMType1")):
        basefont = doc.get(font, Name("BaseFont"))
        base = str(basefont).rsplit("+", 1)[-1] if basefont else ""
        enc = (SYM_TO_UNICODE if base == "Symbol" else
               ZAP_TO_UNICODE if base == "ZapfDingbats" else
               STD_TO_UNICODE)
        fum.update(enc)


def get_unicode_mapping(doc, font: dict):
    """Priority: /ToUnicode CMap > /Encoding > subtype default
    (PDFonts.jl:191-207). Returns CMap | dict[int,list[int]] | None."""
    tounicode = doc.get(font, Name("ToUnicode"))
    if isinstance(tounicode, Stream):
        return read_cmap(tounicode.decoded(doc))
    encoding = doc.get(font, Name("Encoding"))
    fum: dict[int, list[int]] = {}
    if encoding is None:
        _subtype_default_encoding(fum, doc, font)
    elif isinstance(encoding, Name):
        _merge_base_encoding(fum, encoding)
    elif isinstance(encoding, dict):
        baseenc = doc.get(encoding, Name("BaseEncoding"))
        if baseenc is None:
            _subtype_default_encoding(fum, doc, font)
        else:
            _merge_base_encoding(fum, baseenc)
        subtype = doc.get(font, Name("Subtype"))
        if subtype != Name("Type3"):
            diff = doc.get(encoding, Name("Differences"))
            if isinstance(diff, list):
                cid = 0xFF
                d: dict[int, str] = {}
                for v in diff:
                    if isinstance(v, (int, np.integer)) and \
                            not isinstance(v, bool):
                        cid = int(v) & 0xFF
                    else:
                        d[cid] = str(v)
                        cid += 1
                for k, g in d.items():
                    fum[k] = get_unicodes_from_glyph_name(g)
    return fum if fum else None


def get_glyph_id_mapping(doc, font) -> tuple[dict, dict]:
    """glyphname <-> cid maps for width lookup (PDFonts.jl:227-269)."""
    gn2cid: dict[str, int] = {}
    cid2gn: dict[int, str] = {}
    if font is None:
        return gn2cid, cid2gn
    subtype = doc.get(font, Name("Subtype"))
    if subtype == Name("Type0"):
        return gn2cid, cid2gn

    basefont = doc.get(font, Name("BaseFont"))
    if basefont is not None:
        base = str(basefont).rsplit("+", 1)[-1]
        if base in ADOBE_STD_14:
            key = ("SYM" if base == "Symbol" else
                   "ZAP" if base == "ZapfDingbats" else "STD")
            gn2cid.update(_G2E[key])
            cid2gn.update(_E2G[key])

    encoding = doc.get(font, Name("Encoding"))
    if encoding is None:
        return gn2cid, cid2gn
    baseenc = encoding if isinstance(encoding, Name) else \
        doc.get(encoding, Name("BaseEncoding"))
    key = ("WIN" if baseenc == Name("WinAnsiEncoding") else
           "MAC" if baseenc == Name("MacRomanEncoding") else
           "MEX" if baseenc == Name("MacExpertEncoding") else "STD")
    if subtype != Name("Type3"):
        gn2cid.update(_G2E[key])
        cid2gn.update(_E2G[key])
    if isinstance(encoding, Name):
        return gn2cid, cid2gn
    diff = doc.get(encoding, Name("Differences"))
    if isinstance(diff, list):
        cid = 0x00
        for v in diff:
            if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
                cid = int(v) & 0xFF
            else:
                gn2cid[str(v)] = cid
                cid2gn[cid] = str(v)
                cid += 1
    return gn2cid, cid2gn


# ---------------------------------------------------------- widths

class CIDWidth:
    """Type0 /W interval widths + /DW default (PDFonts.jl:489-496)."""
    __slots__ = ("imap", "dw", "cache", "run")

    def __init__(self, imap=None, dw=f32(1000.0)):
        self.imap = imap if imap is not None else _IntervalList()
        self.dw = f32(dw)
        self.cache: dict = {}
        self.run: RunWidths | None = None


def get_font_widths(doc, font):
    """(PDFontMetrics.jl:158-177): /Widths array | AFM | CID /W."""
    if font is None:
        return np.zeros(256, dtype=np.float32)
    subtype = doc.get(font, Name("Subtype"))
    if subtype == Name("Type0"):
        return _get_cid_font_widths(doc, font)
    basefont = doc.get(font, Name("BaseFont"))
    widths_obj = doc.get(font, Name("Widths"))
    if widths_obj is None:
        if basefont is None:
            return np.zeros(256, dtype=np.float32)
        return read_afm(str(basefont))
    d = np.zeros(256, dtype=np.float32)
    # clamp the WRITE range only: a corrupt negative /FirstChar would
    # write through numpy NEGATIVE indices into the array tail (the
    # reference throws a BoundsError; r5 core review). The widths
    # INDEX keeps the original base (ADVICE r5: indexing from the
    # clamped value gave char 0 the nonexistent negative char's width
    # — misaligned table instead of just dropping the bogus entries).
    orig_firstchar = int(doc.get(font, Name("FirstChar"), 0))
    firstchar = max(0, orig_firstchar)
    lastchar = int(doc.get(font, Name("LastChar"), 0))
    widths = [doc.get_object(w) for w in widths_obj]
    for i in range(firstchar, min(lastchar, 255) + 1):
        ix = i - orig_firstchar
        if ix < len(widths):
            # reference rounds to Int (PDFontMetrics.jl:174)
            d[i] = float(np.rint(float(widths[ix])))
    return d


def _get_cid_font_widths(doc, font) -> CIDWidth:
    """(PDFontMetrics.jl:181-214)."""
    encoding = doc.get(font, Name("Encoding"))
    desc = doc.get(font, Name("DescendantFonts"))
    if not isinstance(desc, list) or not desc:
        return CIDWidth()
    d0 = doc.get_object(desc[0])
    w = doc.get(d0, Name("W"))
    dw = doc.get(d0, Name("DW"))
    if w is None or encoding != Name("Identity-H"):
        return CIDWidth() if dw is None else CIDWidth(dw=f32(float(dw)))
    m = _IntervalList()
    w = [doc.get_object(x) for x in w]
    i = 0
    while i < len(w):
        bcid = int(w[i])
        i += 1
        if i >= len(w):
            break
        nxt = w[i]
        i += 1
        if isinstance(nxt, list):
            ccid = bcid
            for wdo in nxt:
                m.set(ccid, ccid, f32(float(wdo)))
                ccid += 1
        else:
            ecid = int(nxt)
            if i >= len(w):
                break
            width = w[i]
            i += 1
            m.set(bcid, ecid, f32(float(width)))
    return CIDWidth(m) if dw is None else CIDWidth(m, f32(float(dw)))


def get_character_width(c, widths) -> np.float32:
    if isinstance(widths, CIDWidth):
        c = int(c)
        w = widths.cache.get(c)
        if w is None:
            itv = widths.imap.intersect(c)
            w = itv[0][2] if itv else widths.dw
            widths.cache[c] = w
        return w
    if isinstance(widths, AdobeFontMetrics):
        n = widths.cid_to_name.get(int(c))
        if n is None:
            return f32(1000.0)
        return widths.name_to_wx.get(n, f32(1000.0))
    wv = widths[int(c)]
    return f32(1000.0) if wv == 0 else f32(wv)


def get_kern_width(c1, c2, widths) -> np.float32:
    if isinstance(widths, AdobeFontMetrics):
        n1 = widths.cid_to_name.get(int(c1))
        n2 = widths.cid_to_name.get(int(c2))
        if n1 is None or n2 is None:
            return f32(0.0)
        return widths.kern_pairs.get((n1, n2), f32(0.0))
    return f32(0.0)


# ---------------------------------------------------------- PDFont

class PDFont:
    """Bundle: unicode mapping + widths + glyph<->cid + flags + name
    (PDFonts.jl:498-519). Cached per document."""
    __slots__ = ("obj", "widths", "fum", "glyph_name_to_cid",
                 "cid_to_glyph_name", "flags", "fontname", "_strtable",
                 "_run")

    def __init__(self, doc, cosfont: dict):
        self.obj = cosfont
        self.fum = get_unicode_mapping(doc, cosfont)
        self.widths = get_font_widths(doc, cosfont)
        self.glyph_name_to_cid, self.cid_to_glyph_name = \
            get_glyph_id_mapping(doc, cosfont)
        self.flags = _font_flags(doc, cosfont, self.widths)
        self.fontname = _font_name(doc, cosfont, self.widths)
        self._strtable = None
        self._run: RunWidths | None = None

    def run_widths(self) -> "RunWidths":
        if self._run is None:
            self._run = run_widths(self.widths)
        return self._run

    def strtable(self) -> list[str] | None:
        """byte -> decoded-string table for simple-font fums (one dict
        lookup per byte becomes one list index)."""
        if not isinstance(self.fum, dict):
            return None
        if self._strtable is None:
            self._strtable = [
                "".join(map(chr, self.fum.get(b, [0])))
                if self.fum.get(b) is not None else "\x00"
                for b in range(256)]
        return self._strtable


# Global cache for "simple" fonts (std-14 base font + named encoding,
# no ToUnicode/Widths/Differences/Descriptor): the PDFont is then a pure
# function of (Subtype, BaseFont, Encoding) — one construction per
# worker process instead of one per document.
_SIMPLE_FONT_CACHE: dict[tuple, "PDFont"] = {}


def get_pdfont_cached(doc, cosfont: dict) -> "PDFont":
    sig = None
    if isinstance(cosfont, dict):
        enc = cosfont.get(Name("Encoding"))
        sub = cosfont.get(Name("Subtype"))
        base = cosfont.get(Name("BaseFont"))
        # cache key values must be DIRECT Names: an indirect /BaseFont
        # would put a Ref in the key, and Refs compare equal ACROSS
        # documents — doc B would silently get doc A's font (r5 core
        # review; the cache is process-wide)
        if (isinstance(enc, (Name, type(None)))
                and isinstance(sub, (Name, type(None)))
                and isinstance(base, (Name, type(None)))
                and Name("ToUnicode") not in cosfont
                and Name("Widths") not in cosfont
                and Name("FontDescriptor") not in cosfont):
            sig = (sub, base, enc)
            hit = _SIMPLE_FONT_CACHE.get(sig)
            if hit is not None:
                return hit
    font = PDFont(doc, cosfont)
    if sig is not None and len(_SIMPLE_FONT_CACHE) < 256:
        _SIMPLE_FONT_CACHE[sig] = font
    return font


def _font_flags(doc, cosfont, widths) -> int:
    """(PDFonts.jl:573-588)."""
    refdesc = doc.get(cosfont, Name("FontDescriptor"))
    if refdesc is None:
        if isinstance(widths, AdobeFontMetrics):
            return widths.flags()
        return 0
    flags = 0
    cfweight = doc.get(refdesc, Name("FontWeight"))
    cfname = doc.get(refdesc, Name("FontName"))
    cosflags = doc.get(refdesc, Name("Flags"))
    if cfweight is not None and int(cfweight) >= 700:
        flags |= 0x80000000
    if cfname is not None and ("Bold" in str(cfname) or "bold" in str(cfname)):
        flags |= 0x80000000
    if cosflags is not None:
        flags += int(cosflags)
    return flags & 0xFFFFFFFF


def _font_name(doc, cosfont, widths):
    refdesc = doc.get(cosfont, Name("FontDescriptor"))
    if refdesc is not None:
        fn = doc.get(refdesc, Name("FontName"))
        if fn is not None:
            return Name(str(fn))
    if isinstance(widths, CIDWidth):
        return Name("")
    subtype = doc.get(cosfont, Name("Subtype"))
    if subtype == Name("Type3"):
        nm = doc.get(cosfont, Name("Name"))
        return Name(str(nm)) if nm is not None else Name("Type3")
    basef = doc.get(cosfont, Name("BaseFont"))
    return Name(str(basef)) if basef is not None else Name("")


SPACE_GID_STD = _G2E["STD"].get("space", 32)


def space_code(widths) -> int:
    """SPACE_CODE (PDFonts.jl:521-524): AGL 'space' for CID, std
    encoding byte otherwise."""
    if isinstance(widths, CIDWidth):
        return AGL.get("space", [0])[0]
    return SPACE_GID_STD


# ------------------------------------------------ text decode+width

def get_encoded_string(s, pdfont) -> str:
    """bytes -> text via the font's unicode mapping; unmapped -> U+0000
    (NativeEncodingToUnicode, Utils.jl:82-88)."""
    return _decode(s, s.binary if isinstance(s, HexStr) else bytes(s), pdfont)


def _decode(s, barr: bytes, pdfont) -> str:
    if pdfont is None or pdfont.fum is None:
        # decoded as ASCII (reference warns + CDTextString fallback)
        return pdf_doc_decode(s)
    fum = pdfont.fum
    if isinstance(fum, CMap):
        return "".join(map(chr, cmap_decode(barr, fum)))
    table = pdfont.strtable() if hasattr(pdfont, "strtable") else None
    if table is not None:
        # latin-1 maps each byte to the code point of its value, which
        # str.translate looks up in the 256-entry table
        return barr.decode("latin-1").translate(table)
    cps = []
    for b in barr:
        v = fum.get(b)
        if v is None:
            cps.append(0)
        else:
            cps.extend(v)
    return "".join(map(chr, cps))


def pdf_doc_decode(s) -> str:
    """CDTextString conversion: UTF-16BE with BOM, else PDFDocEncoding
    (CosObjectHelpers.jl:8-48).

    DIVERGENCE (documented): the reference gives only HEX strings the
    UTF-16 path; a LITERAL string with a FE FF BOM goes through
    PDFDocEncoding unconditionally (CosObjectHelpers.jl:46), turning
    real UTF-16 titles into thorn/NUL soup. Spec 7.9.2.2 applies the
    BOM rule to both string forms; we follow the spec (FitV policy).
    Odd-length UTF-16 payloads decode with errors='replace' (U+FFFD)
    where the reference would truncate — tolerant by design."""
    if isinstance(s, HexStr):
        raw = s.binary
        hexchars = bytes(s)
        has_prefix = hexchars[:4] in (b"feff", b"FEFF")
        is_utf16 = has_prefix or hexchars[:2] == b"00"
        if is_utf16:
            body = raw[2:] if has_prefix else raw
            try:
                return body.decode("utf-16-be", errors="replace")
            except Exception:
                return ""
        return "".join(chr(PDFDOC_TO_UNICODE.get(b, 0)) for b in raw)
    raw = bytes(s)
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be", errors="replace")
        except Exception:
            return ""
    return "".join(chr(PDFDOC_TO_UNICODE.get(b, 0)) for b in raw)


_THOUSAND = f32(1000.0)
_ZERO = f32(0.0)
# contribution vectors (or CID terms) a RunWidths keeps before it starts
# over; the table can sit on a process-wide font
_RUN_CACHE_CAP = 64
_CID_CACHE_CAP = 4096


class RunWidths:
    """A font's glyph-run width terms for get_string_width.

    Every character but a string's first adds
    c = wx*tfs/1000 + (tw if space else tc) (+ kern), since the TJ
    offset tj applies to the first only. c depends on the code and on
    (tfs, tc, tw) alone, so it is computed once per triple as a float32
    vector over codes 0..255 (per code for CID fonts) with the same f32
    operations, in the same order, as the per-string formula. The cache
    keys hold the float32 bits, so -0.0 and 0.0 stay apart."""
    __slots__ = ("cid", "wx", "kern", "zero_kern", "sc", "_terms")

    def __init__(self, widths):
        self.sc = space_code(widths)
        self.cid = widths if isinstance(widths, CIDWidth) else None
        self.wx = self.kern = None
        # an AFM font without kerning still adds its all-zero kern row,
        # which turns a -0.0 term into 0.0
        self.zero_kern = False
        if isinstance(widths, AdobeFontMetrics):
            self.wx = widths.wx256()
            if widths.has_kerning:
                self.kern = widths.kern256()
            else:
                self.zero_kern = True
        elif self.cid is None:
            base = np.asarray(widths, dtype=np.float32)
            self.wx = np.where(base == 0, np.float32(1000.0), base)
        self._terms: dict = {}

    def _first_term(self, code, w, tfs, tj, tc, tw):
        return (w - tj) * tfs / _THOUSAND + (tw if code == self.sc else tc)

    def width(self, barr: bytes, pc: int, tfs, tj, tc, tw) -> np.float32:
        """get_string_width over float32 tfs, tj, tc, tw."""
        if self.cid is not None:
            return self._cid_width(barr, tfs, tj, tc, tw)
        key = struct.pack("fff", tfs, tc, tw)
        c = self._terms.get(key)
        if c is None:
            c = self.wx * tfs / _THOUSAND + np.where(
                np.arange(len(self.wx)) == self.sc, tw, tc)
            if self.zero_kern:
                c = c + _ZERO
            if len(self._terms) >= _RUN_CACHE_CAP:
                self._terms.clear()
            self._terms[key] = c
        codes = np.frombuffer(barr, dtype=np.uint8)
        w = c[codes]
        if self.kern is not None:
            prev = np.empty_like(codes)
            prev[0] = pc & 0xFF if 0 <= pc < 256 else 0
            prev[1:] = codes[:-1]
            kw = self.kern[prev, codes]
            w = w + kw
        if tj or math.copysign(1.0, tj) < 0:
            c0 = codes[0]
            w0 = self._first_term(c0, self.wx[c0], tfs, tj, tc, tw)
            if self.kern is not None:
                w0 = w0 + kw[0]
            elif self.zero_kern:
                w0 = w0 + _ZERO
            w[0] = w0
        return np.add.accumulate(w)[-1]

    def _cid_width(self, barr: bytes, tfs, tj, tc, tw) -> np.float32:
        """2-byte codes (PDFonts.jl:626-646); summed from 0.0 in order."""
        codes = [barr[i] * 256 + barr[i + 1]
                 for i in range(0, len(barr) - 1, 2)]
        if not codes:
            return _ZERO
        key = struct.pack("fff", tfs, tc, tw)
        terms = self._terms
        w = []
        for code in codes:
            t = terms.get((key, code))
            if t is None:
                t = get_character_width(code, self.cid) * tfs / _THOUSAND \
                    + (tw if code == self.sc else tc)
                if len(terms) >= _CID_CACHE_CAP:
                    terms.clear()
                terms[(key, code)] = t
            w.append(t)
        w = np.array(w, dtype=np.float32)
        if tj or math.copysign(1.0, tj) < 0:
            w[0] = self._first_term(
                codes[0], get_character_width(codes[0], self.cid),
                tfs, tj, tc, tw)
        # 0.0 + (w0 + w1 + ...) is the sum from 0.0: they differ only
        # when every term is -0.0, and then 0.0 + -0.0 is 0.0
        return _ZERO + np.add.accumulate(w)[-1]


def run_widths(widths) -> RunWidths:
    """The RunWidths of `widths`, kept on AFM metrics and CID widths (so
    fonts sharing them share it); a bare /Widths vector gets a fresh
    one, which its PDFont keeps."""
    if isinstance(widths, (AdobeFontMetrics, CIDWidth)):
        if widths.run is None:
            widths.run = RunWidths(widths)
        return widths.run
    return RunWidths(widths)


_NO_FONT_RUN = RunWidths(np.zeros(256, dtype=np.float32))


def get_string_width(barr: bytes, widths, pc: int, tfs, tj, tc, tw) -> np.float32:
    """Float32 width accumulation (PDFonts.jl:648-663):
    w = (w - tj)*tfs/1000 + (space ? tw : tc); w += kern; tj first char
    only, summed sequentially in f32 (np.add.accumulate, not the
    pairwise np.sum)."""
    if len(barr) == 0:
        return f32(0.0)
    return run_widths(widths).width(barr, pc, f32(tfs), f32(tj), f32(tc),
                                    f32(tw))


def _as_f32(x) -> np.float32:
    return x if type(x) is np.float32 else f32(x)


def get_text_box(ss: list, pdfont, tfs, tc, tw, th):
    """get_TextBox (PDFonts.jl:665-691): decode strings, apply TJ kern
    (inject space when kern < -180), accumulate width. Returns
    (text, w*th, tfs)."""
    totalw = tj = _ZERO
    parts: list[str] = []
    nchars = 0
    last_char = ""
    if pdfont is None:
        rw = _NO_FONT_RUN
    elif isinstance(pdfont, PDFont):
        rw = pdfont.run_widths()
    else:
        rw = run_widths(pdfont.widths)
    tfs32, tc32, tw32 = _as_f32(tfs), _as_f32(tc), _as_f32(tw)
    for s in ss:
        if isinstance(s, (HexStr, LitStr)):
            barr = s.binary if isinstance(s, HexStr) else bytes(s)
            t = _decode(s, barr, pdfont)
            if t:
                if tj < -180 and t[0] != " " and nchars > 0 and \
                        last_char != " ":
                    parts.append(" ")
                    nchars += 1
                parts.append(t)
                nchars += len(t)
                last_char = t[-1]
            if barr:
                # init_code: every string starts from code 0
                totalw = totalw + rw.width(barr, 0, tfs32, tj, tc32, tw32)
            tj = _ZERO
        elif isinstance(s, (int, float, np.floating, np.integer)) and \
                not isinstance(s, bool):
            tj = f32(s)
    totalw = totalw * th
    return "".join(parts), totalw, tfs
