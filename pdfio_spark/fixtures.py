"""Deterministic synthetic PDF fixtures.

Builds small PDFs in pure Python (seed-free byte construction) covering
the feature classes of the reference test corpus
(/root/reference/test/runtests.jl; see FIXTURES.md §3): classic xref /
xref streams + object streams / hybrid, the five text filters,
std-14 + WinAnsi + CID fonts, Form XObjects, inline images, marked
content, junk-before-header, contents arrays, and RC4/AES encryption.

These are the INPUTS the engine is tested against; expected text is
derived from the layout semantics (tests/test_golden.py) or from the
DuckDB oracle SQL (__spark_entry__.py).
"""
from __future__ import annotations

import hashlib
import re
import struct
import zlib

__all__ = [
    "sanitize", "chunk_text", "make_pdf", "FIXTURE_CLASSES", "build_fixture",
]

# characters that survive sanitization — everything here is safe inside
# a PDF literal string without escaping, and identical in Spark/DuckDB
# regexp_replace semantics.
SANITIZE_RE = r"[^a-zA-Z0-9 .,:;!?-]"


def sanitize(text: str) -> str:
    return re.sub(SANITIZE_RE, " ", text)


def chunk_text(text: str, width: int = 60, max_lines: int = 8) -> list[str]:
    """Fixed-width chunking (no word wrap — must be SQL-expressible)."""
    out = [text[i:i + width] for i in range(0, len(text), width)]
    return out[:max_lines] if out else [""]


# ---------------------------------------------------------------- writer

def _ser(obj) -> bytes:
    """Serialize a python value to PDF syntax."""
    if obj is None:
        return b"null"
    if isinstance(obj, bool):
        return b"true" if obj else b"false"
    if isinstance(obj, int):
        return str(obj).encode()
    if isinstance(obj, float):
        return (f"{obj:.4f}").rstrip("0").rstrip(".").encode() or b"0"
    if isinstance(obj, RefN):
        return f"{obj.n} 0 R".encode()
    if isinstance(obj, NameN):
        return b"/" + str(obj).encode()
    if isinstance(obj, str):
        return b"(" + obj.encode("latin-1") + b")"
    if isinstance(obj, HexN):
        return b"<" + obj.hexs.encode() + b">"
    if isinstance(obj, bytes):
        return b"(" + obj + b")"
    if isinstance(obj, dict):
        inner = b" ".join(b"/" + k.encode() + b" " + _ser(v)
                          for k, v in obj.items())
        return b"<< " + inner + b" >>"
    if isinstance(obj, (list, tuple)):
        return b"[ " + b" ".join(_ser(v) for v in obj) + b" ]"
    raise TypeError(f"cannot serialize {type(obj)}")


class RefN:
    __slots__ = ("n",)

    def __init__(self, n: int):
        self.n = n


class NameN(str):
    __slots__ = ()


class HexN:
    __slots__ = ("hexs",)

    def __init__(self, hexs: str):
        self.hexs = hexs


class StreamN:
    __slots__ = ("d", "data")

    def __init__(self, d: dict, data: bytes):
        self.d = d
        self.data = data


# ------------------------------------------------------------- encoders

def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """LZW encoder compatible with the PDF LZWDecode filter."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    cl = 9
    out_bits: list[tuple[int, int]] = [(256, 9)]  # start with clear
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
        else:
            out_bits.append((table[w], cl))
            table[wc] = next_code
            # encoder bumps code length when next_code reaches limit-early
            if next_code == (1 << cl) - early and cl < 12:
                cl += 1
            next_code += 1
            if next_code >= 4096:
                out_bits.append((256, cl))
                table = {bytes([i]): i for i in range(256)}
                next_code = 258
                cl = 9
            w = bytes([ch])
    if w:
        out_bits.append((table[w], cl))
    out_bits.append((257, cl))
    # pack big-endian
    acc = 0
    nacc = 0
    out = bytearray()
    for code, bits in out_bits:
        acc = (acc << bits) | code
        nacc += bits
        while nacc >= 8:
            out.append((acc >> (nacc - 8)) & 0xFF)
            nacc -= 8
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        grp = data[i:i + 4]
        pad = 4 - len(grp)
        n = int.from_bytes(grp + b"\x00" * pad, "big")
        if n == 0 and pad == 0:
            out += b"z"
            continue
        chars = bytearray(5)
        for j in range(4, -1, -1):
            chars[j] = 0x21 + n % 85
            n //= 85
        out += chars[:5 - pad]
    out += b"~>"
    return bytes(out)


def rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 127:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
        else:
            j = i + 1
            while j < n and (j - i) < 128 and not (
                    j + 1 < n and data[j] == data[j + 1]):
                j += 1
            out.append(j - i - 1)
            out += data[i:j]
            i = j
    out.append(0x80)
    return bytes(out)


def encode_filter(data: bytes, filt: str) -> bytes:
    if filt == "FlateDecode":
        return zlib.compress(data)
    if filt == "ASCIIHexDecode":
        return data.hex().encode()
    if filt == "ASCII85Decode":
        # the reference's partial-group decode pads with 0 not 'u'
        # (CosStream.jl:288-297) which floors the last byte; emit whole
        # groups only — trailing spaces are harmless in content streams
        return ascii85_encode(data + b" " * (-len(data) % 4))
    if filt == "RunLengthDecode":
        return rle_encode(data)
    if filt == "LZWDecode":
        return lzw_encode(data)
    if filt == "CCITTFaxDecode":
        # no encoder: the decoder quarantines these rows by design
        # (reference parity, CosStream.jl:49-53) — raw bytes suffice
        return data
    raise ValueError(filt)


# ------------------------------------------------------- encryption

def _rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for idx, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[idx] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


_ENC_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _pad_pw(pw: bytes) -> bytes:
    return (pw + _ENC_PAD)[:32]


class _Rc4Encryptor:
    """RC4 standard security handler (spec algorithms 2/3/4/5).
    Parameterized over revision (R2 40-bit / R3 128-bit / R4 AESV2
    crypt-filter) and user/owner passwords, mirroring the reference's
    test matrix (test/runtests.jl:104-169)."""

    def __init__(self, id0: bytes, p: int = -44, r: int = 3,
                 user_pw: bytes = b"", owner_pw: bytes | None = None,
                 aes: bool = False):
        self.r = r
        self.aes = aes
        self.v = 4 if aes else (1 if r == 2 else 2)
        self.length = 40 if r == 2 else 128
        nkey = self.length // 8
        self.p = p & 0xFFFFFFFF
        self.id0 = id0
        if owner_pw is None:
            owner_pw = user_pw
        # algorithm 3: /O from the owner password
        h = hashlib.md5(_pad_pw(owner_pw)).digest()
        if r >= 3:
            for _ in range(50):
                h = hashlib.md5(h).digest()
        okey = h[:nkey]
        o = _rc4(okey, _pad_pw(user_pw))
        if r >= 3:
            for i in range(1, 20):
                o = _rc4(bytes(b ^ i for b in okey), o)
        self.o = o
        # algorithm 2: file key from the user password
        md = hashlib.md5()
        md.update(_pad_pw(user_pw))
        md.update(self.o)
        md.update(struct.pack("<I", self.p))
        md.update(id0)
        h = md.digest()
        if r >= 3:
            for _ in range(50):
                h = hashlib.md5(h[:nkey]).digest()
        self.key = h[:nkey]
        if r == 2:
            # algorithm 4: /U = rc4(key, PAD)
            self.u = _rc4(self.key, _ENC_PAD)
        else:
            # algorithm 5
            x = _rc4(self.key, hashlib.md5(_ENC_PAD + id0).digest())
            for i in range(1, 20):
                x = _rc4(bytes(b ^ i for b in self.key), x)
            self.u = x + b"\x00" * 16

    def enc_dict(self) -> dict:
        d = {"Filter": NameN("Standard"), "V": self.v, "R": self.r,
             "Length": self.length, "P": self.p - (1 << 32),
             "O": HexN(self.o.hex()), "U": HexN(self.u.hex())}
        if self.aes:
            d["CF"] = {"StdCF": {"CFM": NameN("AESV2"), "Length": 16}}
            d["StmF"] = NameN("StdCF")
            d["StrF"] = NameN("StdCF")
        return d

    def _object_key(self, num: int, gen: int) -> bytes:
        md = hashlib.md5()
        md.update(self.key)
        md.update(struct.pack("<I", num)[:3])
        md.update(struct.pack("<I", gen)[:2])
        if self.aes:
            md.update(b"sAlT")
        n = min(len(self.key) + 5, 16)
        return md.digest()[:n]

    def encrypt(self, num: int, gen: int, data: bytes) -> bytes:
        ok = self._object_key(num, gen)
        if not self.aes:
            return _rc4(ok, data)
        from cryptography.hazmat.primitives.ciphers import (Cipher,
                                                            algorithms,
                                                            modes)
        iv = hashlib.md5(f"{num}:{gen}".encode()).digest()
        padn = 16 - (len(data) % 16)
        enc = Cipher(algorithms.AES(ok), modes.CBC(iv)).encryptor()
        return iv + enc.update(data + bytes([padn]) * padn) + enc.finalize()


class _Aes256Encryptor:
    """V5 R6 AES-256, empty passwords (spec 2.B KDF; deterministic
    salts/keys so fixtures are byte-stable)."""

    def __init__(self, p: int = -44):
        from cryptography.hazmat.primitives.ciphers import (Cipher,
                                                            algorithms,
                                                            modes)
        self._Cipher, self._algorithms, self._modes = (Cipher, algorithms,
                                                       modes)
        self.p = p & 0xFFFFFFFF
        self.key = hashlib.sha256(b"pdfio-spark-fixture-filekey").digest()
        uv, uk = b"UVALSALT", b"UKEYSALT"
        ov, ok = b"OVALSALT", b"OKEYSALT"
        pw = b""
        uhash = self._hash_2b(pw, uv, b"")
        ukey = self._hash_2b(pw, uk, b"")
        self.u = uhash + uv + uk
        self.ue = self._aes_cbc(ukey, b"\x00" * 16, self.key, True)
        ohash = self._hash_2b(pw, ov, self.u[:48])
        okey = self._hash_2b(pw, ok, self.u[:48])
        self.o = ohash + ov + ok
        self.oe = self._aes_cbc(okey, b"\x00" * 16, self.key, True)

    def _aes_cbc(self, key, iv, data, enc):
        c = self._Cipher(self._algorithms.AES(key), self._modes.CBC(iv))
        x = c.encryptor() if enc else c.decryptor()
        return x.update(data) + x.finalize()

    def _hash_2b(self, password: bytes, salt: bytes, udata: bytes) -> bytes:
        k = hashlib.sha256(password + salt + udata).digest()
        i = 0
        while True:
            k1 = (password + k + udata) * 64
            e = self._aes_cbc(k[:16], k[16:32], k1, True)
            mod = sum(e[:16]) % 3
            k = (hashlib.sha256(e).digest() if mod == 0 else
                 hashlib.sha384(e).digest() if mod == 1 else
                 hashlib.sha512(e).digest())
            i += 1
            if i >= 64 and e[-1] <= i - 32:
                break
        return k[:32]

    def enc_dict(self) -> dict:
        return {"Filter": NameN("Standard"), "V": 5, "R": 6,
                "Length": 256, "P": self.p - (1 << 32),
                "O": HexN(self.o.hex()), "U": HexN(self.u.hex()),
                "OE": HexN(self.oe.hex()), "UE": HexN(self.ue.hex()),
                "CF": {"StdCF": {"CFM": NameN("AESV3"), "Length": 32}},
                "StmF": NameN("StdCF"), "StrF": NameN("StdCF")}

    def encrypt(self, num: int, gen: int, data: bytes) -> bytes:
        # deterministic IV per object (fixtures must be byte-stable)
        iv = hashlib.md5(f"{num}:{gen}".encode()).digest()
        padn = 16 - (len(data) % 16)
        return iv + self._aes_cbc(self.key, iv, data + bytes([padn]) * padn,
                                  True)


class _PkiEncryptor:
    """Adobe.PubSec adbe.pkcs7.s5 with an AESV2 crypt filter: the
    24-byte CMS content is seed(20) + perms(4); file key =
    sha1(seed || recipients)[:16] (ref PKISecHandler.jl:95-133).
    Recipient identity: the packaged synthetic test cert/key."""

    def __init__(self):
        import importlib.resources as ir
        from cryptography import x509
        from cryptography.hazmat.primitives.serialization import (
            pkcs7, Encoding, load_pem_private_key)
        pem = (ir.files("pdfio_spark") / "data"
               / "pki_test_identity.pem").read_bytes()
        cert = x509.load_pem_x509_certificate(pem)
        self.seed = b"pdfio-spark-pki-seed"          # exactly 20 bytes
        content = self.seed + b"\xff\xff\xff\xfc"    # perms
        self.recipient = (pkcs7.PKCS7EnvelopeBuilder()
                          .set_data(content).add_recipient(cert)
                          .encrypt(Encoding.DER, [pkcs7.PKCS7Options.Binary]))
        self.key = hashlib.sha1(self.seed + self.recipient).digest()[:16]

    def enc_dict(self) -> dict:
        return {"Filter": NameN("Adobe.PubSec"),
                "SubFilter": NameN("adbe.pkcs7.s5"),
                "V": 4, "Length": 128,
                "CF": {"DefaultCryptFilter": {
                    "Type": NameN("CryptFilter"), "CFM": NameN("AESV2"),
                    "Length": 128,
                    "Recipients": [HexN(self.recipient.hex())]}},
                "StmF": NameN("DefaultCryptFilter"),
                "StrF": NameN("DefaultCryptFilter")}

    def encrypt(self, num: int, gen: int, data: bytes) -> bytes:
        from cryptography.hazmat.primitives.ciphers import (Cipher,
                                                            algorithms,
                                                            modes)
        md = hashlib.md5()
        md.update(self.key)
        md.update(struct.pack("<I", num)[:3])
        md.update(struct.pack("<I", gen)[:2])
        md.update(b"sAlT")
        ok = md.digest()[:16]
        iv = hashlib.md5(f"{num}:{gen}".encode()).digest()
        padn = 16 - (len(data) % 16)
        enc = Cipher(algorithms.AES(ok), modes.CBC(iv)).encryptor()
        return iv + enc.update(data + bytes([padn]) * padn) + enc.finalize()


# ----------------------------------------------------- document builder

# Courier for oracled text fixtures: zero kern pairs, so the
# reference's unscaled-kern quirk (PDFonts.jl:655-656, kw added in
# 1000-unit scale) can never drive a short line's width negative and
# drop it from the layout — Helvetica kerns occasionally do, which no
# SQL oracle can predict. Helvetica stays covered by unit tests.
COURIER_FONT = {"Type": NameN("Font"), "Subtype": NameN("Type1"),
                "BaseFont": NameN("Courier")}
HELV_FONT = {"Type": NameN("Font"), "Subtype": NameN("Type1"),
             "BaseFont": NameN("Helvetica")}


def content_for_lines(lines: list[str], x: float = 72.0, y: float = 720.0,
                      leading: float = 14.0, fontsize: int = 12) -> bytes:
    """BT /F1 fs Tf x y Td (l1) Tj 0 -TL Td (l2) Tj ... ET"""
    parts = [b"BT", f"/F1 {fontsize} Tf".encode(),
             f"{x:g} {y:g} Td".encode()]
    first = True
    for ln in lines:
        if not first:
            parts.append(f"0 -{leading:g} Td".encode())
        parts.append(b"(" + ln.encode("latin-1") + b") Tj")
        first = False
    parts.append(b"ET")
    return b"\n".join(parts) + b"\n"


def content_for_lines_cid(lines: list[str], x=72.0, y=720.0,
                          leading=14.0, fontsize=12) -> bytes:
    """Same but 2-byte CID hex strings for an Identity-H Type0 font."""
    parts = [b"BT", f"/F1 {fontsize} Tf".encode(),
             f"{x:g} {y:g} Td".encode()]
    first = True
    for ln in lines:
        if not first:
            parts.append(f"0 -{leading:g} Td".encode())
        hexs = "".join(f"{ord(c):04x}" for c in ln)
        parts.append(b"<" + hexs.encode() + b"> Tj")
        first = False
    parts.append(b"ET")
    return b"\n".join(parts) + b"\n"


TOUNICODE_IDENTITY = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CMapName /Adobe-Identity-UCS def
/CMapType 2 def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
1 beginbfrange
<0000> <00FF> <0000>
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end
"""


def cid_font_objects(alloc) -> tuple[RefN, list]:
    """Type0/Identity-H font with ToUnicode identity CMap; /W gives all
    cids width 500 (exercises CIDWidth interval lookup)."""
    f_n = alloc()
    desc_n = alloc()
    tu_n = alloc()
    objs = [
        (f_n, {"Type": NameN("Font"), "Subtype": NameN("Type0"),
               "BaseFont": NameN("SyntheticCID"),
               "Encoding": NameN("Identity-H"),
               "DescendantFonts": [RefN(desc_n)],
               "ToUnicode": RefN(tu_n)}),
        (desc_n, {"Type": NameN("Font"), "Subtype": NameN("CIDFontType2"),
                  "BaseFont": NameN("SyntheticCID"),
                  "CIDSystemInfo": {"Registry": "Adobe",
                                    "Ordering": "Identity",
                                    "Supplement": 0},
                  "DW": 1000, "W": [0, [500] * 1]}),
        (tu_n, StreamN({}, TOUNICODE_IDENTITY)),
    ]
    # W as ranges: cids 32..126 -> 500
    objs[1][1]["W"] = [32, 126, 500]
    return RefN(f_n), objs


def make_pdf(page_contents: list[bytes],
             content_filter: str | None = "FlateDecode",
             font: str = "helvetica",
             xref_stream: bool = False,
             use_objstm: bool = False,
             header_junk: bytes = b"",
             contents_array: bool = False,
             form_xobject: bool = False,
             inline_image: bool = False,
             artifact_extra: bytes | None = None,
             info: dict | None = None,
             filter_chain: list[str] | None = None,
             nested_pagetree: bool = False,
             encrypt: str | None = None,
             page_labels: bool = False,
             outline: bool = False,
             struct_elems: int = 0,
             attach: bytes | None = None,
             tiff_predictor_cols: int | None = None,
             ccitt_image: bool = False) -> bytes:
    """Assemble a complete PDF. One page per entry in page_contents."""
    if encrypt is not None and (xref_stream or use_objstm):
        # latent trap (r5 review): the xref-stream dict is built without
        # /Encrypt //ID and ObjStm payloads are not stream-encrypted, so
        # the combination silently emits an undecryptable file. Writer
        # coverage for encrypted ObjStm packaging lives in
        # cos/writer.rewrite_pdf (pack='objstm', encrypt=...).
        raise ValueError("make_pdf: encrypt= with xref_stream/use_objstm "
                         "is not supported; use cos.writer.rewrite_pdf")
    counter = [0]

    def alloc() -> int:
        counter[0] += 1
        return counter[0]

    objs: list[tuple[int, object]] = []

    catalog_n = alloc()
    pages_n = alloc()

    # font
    if font == "helvetica":
        font_n = alloc()
        objs.append((font_n, COURIER_FONT))  # see COURIER_FONT note
        font_ref = RefN(font_n)
    elif font == "winansi":
        font_n = alloc()
        d = dict(HELV_FONT)
        d["Encoding"] = NameN("WinAnsiEncoding")
        # /Widths for bytes 32..126 (Helvetica-ish but synthetic constant)
        d["FirstChar"] = 32
        d["LastChar"] = 126
        d["Widths"] = [500] * 95
        objs.append((font_n, d))
        font_ref = RefN(font_n)
    elif font == "macroman":
        # Courier base (kern-free — see COURIER_FONT note) with the
        # explicit /MacRomanEncoding byte->glyph table (ref
        # src/PDFonts.jl mac_encoding path; test/runtests.jl:759-782)
        font_n = alloc()
        d = dict(COURIER_FONT)
        d["Encoding"] = NameN("MacRomanEncoding")
        objs.append((font_n, d))
        font_ref = RefN(font_n)
    elif font in ("symbol", "zapf"):
        # std-14 symbolic fonts: no /Encoding entry -> the font's
        # BUILT-IN encoding table applies (ref test/runtests.jl:657-681)
        font_n = alloc()
        base = "Symbol" if font == "symbol" else "ZapfDingbats"
        objs.append((font_n, {"Type": NameN("Font"),
                              "Subtype": NameN("Type1"),
                              "BaseFont": NameN(base)}))
        font_ref = RefN(font_n)
    elif font == "type3":
        # Type3 font: /Widths resolve exactly like any simple font
        # (ref PDFontMetrics.jl:160-177 has no Type3 branch) and the
        # reference ignores /FontMatrix for width math — parity kept.
        # CharProcs streams carry d0 glyph-metric ops (never executed
        # for text extraction; d0/d1 are arity no-ops, C16).
        font_n = alloc()
        cp_n = alloc()
        objs.append((cp_n, StreamN(
            {}, b"600 0 d0\n0 0 m 500 700 l f\n")))
        objs.append((font_n, {
            "Type": NameN("Font"), "Subtype": NameN("Type3"),
            "FontBBox": [0, 0, 700, 700],
            "FontMatrix": [0.001, 0, 0, 0.001, 0, 0],
            "CharProcs": {"glyphA": RefN(cp_n)},
            "FirstChar": 32, "LastChar": 126,
            "Widths": [600] * 95,
            "Encoding": {"Type": NameN("Encoding"),
                         "Differences": [65, NameN("glyphA")]}}))
        font_ref = RefN(font_n)
    elif font == "cid":
        font_ref, fobjs = cid_font_objects(alloc)
        objs.extend(fobjs)
    else:
        raise ValueError(font)

    resources = {"Font": {"F1": font_ref}}

    # optional form xobject: page content just invokes /X1 Do
    xobj_ref = None
    page_ns = []
    page_objs = []
    for content in page_contents:
        body = content
        if artifact_extra is not None:
            body = (b"/Artifact BMC\n" + artifact_extra + b"\nEMC\n" + body)
        if inline_image:
            body = (b"BI /W 2 /H 2 /CS /G /BPC 8 ID \x00\x01\x02\x03 EI\n"
                    + body)
        img_n = None
        if ccitt_image:
            # fax-encoded Image XObject on the page: its pixels are
            # unreachable (decoder raises, reference parity), but TEXT
            # extraction must not be disturbed — image XObjects are
            # never decoded on the text path (_NullXObject)
            img_n = alloc()
            imd = {"Type": NameN("XObject"), "Subtype": NameN("Image"),
                   "Width": 8, "Height": 8, "BitsPerComponent": 1,
                   "ColorSpace": NameN("DeviceGray"),
                   "Filter": NameN("CCITTFaxDecode"),
                   "DecodeParms": {"K": -1, "Columns": 8}}
            page_objs.append((img_n, StreamN(imd, b"\x00" * 8)))
            body = b"q 8 0 0 8 100 100 cm /Im1 Do Q\n" + body
        xn = None
        if form_xobject:
            xn = alloc()
            xd = {"Type": NameN("XObject"), "Subtype": NameN("Form"),
                  "BBox": [0, 0, 612, 792],
                  "Resources": resources}
            raw = body
            if content_filter:
                xd["Filter"] = NameN(content_filter)
                raw = encode_filter(body, content_filter)
            page_objs.append((xn, StreamN(xd, raw)))
            body = b"q /X1 Do Q\n"

        page_n = alloc()
        if contents_array:
            # split body into two streams mid-way
            half = len(body) // 2
            c1, c2 = body[:half], body[half:]
            cns = []
            for part in (c1, c2):
                cn = alloc()
                d = {}
                raw = part
                if content_filter and not form_xobject:
                    d["Filter"] = NameN(content_filter)
                    raw = encode_filter(part, content_filter)
                page_objs.append((cn, StreamN(d, raw)))
                cns.append(RefN(cn))
            contents_val = cns
        else:
            cn = alloc()
            d = {}
            raw = body
            if filter_chain:
                # chain: apply encoders in reverse so decode order matches
                d["Filter"] = [NameN(f) for f in filter_chain]
                for f in reversed(filter_chain):
                    raw = encode_filter(raw, f)
            elif tiff_predictor_cols and not form_xobject:
                # FlateDecode + TIFF Predictor 2 DecodeParms: encode =
                # per-row horizontal differencing (full rows only; the
                # tail passes through, mirroring the decoder)
                cols = tiff_predictor_cols
                enc = bytearray()
                full = len(body) // cols * cols
                for r in range(0, full, cols):
                    prev = 0
                    for bch in body[r:r + cols]:
                        enc.append((bch - prev) & 0xFF)
                        prev = bch
                enc.extend(body[full:])
                d["Filter"] = NameN("FlateDecode")
                d["DecodeParms"] = {"Predictor": 2, "Columns": cols}
                raw = zlib.compress(bytes(enc))
            elif content_filter and not form_xobject:
                d["Filter"] = NameN(content_filter)
                raw = encode_filter(body, content_filter)
            page_objs.append((cn, StreamN(d, raw)))
            contents_val = RefN(cn)

        page_d = {"Type": NameN("Page"), "Parent": RefN(pages_n),
                  "MediaBox": [0, 0, 612, 792],
                  "Resources": dict(resources),
                  "Contents": contents_val}
        if form_xobject:
            page_d["Resources"] = {"Font": {"F1": font_ref},
                                   "XObject": {"X1": RefN(xn)}}
        if ccitt_image:
            rd = dict(page_d["Resources"])
            xo = dict(rd.get("XObject", {}))
            xo["Im1"] = RefN(img_n)
            rd["XObject"] = xo
            page_d["Resources"] = rd
        page_objs.append((page_n, page_d))
        page_ns.append(page_n)

    objs.extend(page_objs)

    if nested_pagetree and len(page_ns) > 2:
        mid_n = alloc()
        half = len(page_ns) // 2
        left, right = page_ns[:half], page_ns[half:]
        mid = {"Type": NameN("Pages"), "Parent": RefN(pages_n),
               "Kids": [RefN(p) for p in right], "Count": len(right)}
        objs.append((mid_n, mid))
        for i, (n, o) in enumerate(objs):
            if n in right and isinstance(o, dict):
                o["Parent"] = RefN(mid_n)
        kids = [RefN(p) for p in left] + [RefN(mid_n)]
    else:
        kids = [RefN(p) for p in page_ns]

    objs.append((pages_n, {"Type": NameN("Pages"), "Kids": kids,
                           "Count": len(page_ns)}))
    catalog_d = {"Type": NameN("Catalog"), "Pages": RefN(pages_n)}
    if struct_elems > 0:
        # tagged PDF: /MarkInfo Marked + /StructTreeRoot with a Document
        # root, an H1, and one custom-role Para (RoleMap Para->P) per
        # requested element — exercises D10 (PDDocStruct.jl:24-65)
        root_n = alloc()
        doc_n = alloc()
        h1_n = alloc()
        para_ns = [alloc() for _ in range(struct_elems)]
        objs.append((h1_n, {"Type": NameN("StructElem"), "S": NameN("H1"),
                            "P": RefN(doc_n), "T": "Heading",
                            "Lang": "en", "K": 0}))
        for j, pn in enumerate(para_ns):
            objs.append((pn, {"Type": NameN("StructElem"),
                              "S": NameN("Para"), "P": RefN(doc_n),
                              "ActualText": f"para-{j}", "K": j + 1}))
        objs.append((doc_n, {"Type": NameN("StructElem"),
                             "S": NameN("Document"), "P": RefN(root_n),
                             "K": [RefN(h1_n)] + [RefN(p) for p in para_ns]}))
        objs.append((root_n, {"Type": NameN("StructTreeRoot"),
                              "K": RefN(doc_n),
                              "RoleMap": {"Para": NameN("P")},
                              "ParentTreeNextKey": 1}))
        catalog_d["StructTreeRoot"] = RefN(root_n)
        catalog_d["MarkInfo"] = {"Marked": True}
    if page_labels:
        # pages 1-2 lowercase roman, rest decimal with 'P-' prefix
        pl_n = alloc()
        objs.append((pl_n, {"Nums": [0, {"S": NameN("r")},
                                     2, {"S": NameN("D"), "P": "P-"}]}))
        catalog_d["PageLabels"] = RefN(pl_n)
    if outline:
        root_n = alloc()
        item_ns = [alloc() for _ in page_ns]
        dest_names = []
        # direct-dest items rotate the FULL layout matrix (SURVEY N3;
        # PDOutline.jl:41-67) with deterministic coordinates
        layouts = [
            [NameN("XYZ"), 10.0, 700.0, 1.5],
            [NameN("Fit")],
            [NameN("FitH"), 600.0],
            [NameN("FitV"), 50.0],
            [NameN("FitR"), 10.0, 20.0, 300.0, 400.0],
            [NameN("FitB")],
            [NameN("FitBH"), 650.0],
            [NameN("FitBV"), 60.0],
        ]
        for i, inum in enumerate(item_ns):
            item = {"Title": f"Sec {i + 1}", "Parent": RefN(root_n)}
            if i % 2 == 0:
                # direct destination array
                lay = layouts[(i // 2) % len(layouts)]
                item["Dest"] = [RefN(page_ns[i])] + lay
            else:
                # named destination resolved via the /Names/Dests name
                # tree (exercises string-key tree search, SURVEY T2/N2)
                item["Dest"] = f"sec{i + 1}"
                dest_names.append((f"sec{i + 1}", page_ns[i]))
            if i + 1 < len(item_ns):
                item["Next"] = RefN(item_ns[i + 1])
            if i > 0:
                item["Prev"] = RefN(item_ns[i - 1])
            objs.append((inum, item))
        objs.append((root_n, {"Type": NameN("Outlines"),
                              "First": RefN(item_ns[0]),
                              "Last": RefN(item_ns[-1]),
                              "Count": len(item_ns)}))
        catalog_d["Outlines"] = RefN(root_n)
        if dest_names:
            # two-level name tree: root with Kids, leaves with Limits
            dest_names.sort()
            half = max(1, len(dest_names) // 2)
            leaves = [dest_names[:half], dest_names[half:]]
            leaves = [lf for lf in leaves if lf]
            kid_ns = []
            for lf in leaves:
                kn = alloc()
                names_arr = []
                for nm, pg in lf:
                    names_arr.extend([nm, [RefN(pg), NameN("Fit")]])
                objs.append((kn, {"Limits": [lf[0][0], lf[-1][0]],
                                  "Names": names_arr}))
                kid_ns.append(kn)
            dests_n = alloc()
            objs.append((dests_n, {"Kids": [RefN(k) for k in kid_ns]}))
            names_n = alloc()
            objs.append((names_n, {"Dests": RefN(dests_n)}))
            catalog_d["Names"] = RefN(names_n)
    if attach is not None:
        # /Names/EmbeddedFiles name tree with one Filespec + EF stream
        # (ISO 32000 7.11.4); the stream flows through the normal
        # filter/decrypt path like any other
        att_stream_n = alloc()
        objs.append((att_stream_n, StreamN(
            {"Type": NameN("EmbeddedFile"),
             "Filter": NameN("FlateDecode")},
            zlib.compress(attach))))
        spec_n = alloc()
        objs.append((spec_n, {"Type": NameN("Filespec"),
                              "F": "attachment.txt",
                              "EF": {"F": RefN(att_stream_n)}}))
        eftree_n = alloc()
        objs.append((eftree_n,
                     {"Names": ["attachment.txt", RefN(spec_n)]}))
        names_d = {"EmbeddedFiles": RefN(eftree_n)}
        if "Names" in catalog_d:
            # merge with the outline named-dest tree if present
            for n, o in objs:
                if isinstance(o, dict) and RefN and \
                        catalog_d["Names"].n == n:
                    o["EmbeddedFiles"] = RefN(eftree_n)
                    break
        else:
            names_n2 = alloc()
            objs.append((names_n2, names_d))
            catalog_d["Names"] = RefN(names_n2)
    objs.append((catalog_n, catalog_d))
    info_n = None
    if info is not None:
        info_n = alloc()
        objs.append((info_n, info))

    # ---------------- encryption setup
    file_id = hashlib.md5(b"pdfio-spark-fixture-id").digest()
    encryptor = None
    encrypt_n = None
    if encrypt == "rc4_128":
        encryptor = _Rc4Encryptor(file_id)
        encrypt_n = alloc()
    elif encrypt == "rc4_40":
        encryptor = _Rc4Encryptor(file_id, r=2)
        encrypt_n = alloc()
    elif encrypt == "aes128":
        encryptor = _Rc4Encryptor(file_id, r=4, aes=True)
        encrypt_n = alloc()
    elif encrypt == "owner_pw":
        # user password set, owner password empty: opening with "" must
        # go through the algorithm-7 owner path (O decrypts to the user
        # password) — ref test/runtests.jl owner-password cases
        encryptor = _Rc4Encryptor(file_id, user_pw=b"fixture-user-pw",
                                  owner_pw=b"")
        encrypt_n = alloc()
    elif encrypt == "user_pw_locked":
        # both passwords non-empty: an empty-password open MUST fail
        # (negative fixture — rows quarantine as wrong_password)
        encryptor = _Rc4Encryptor(file_id, user_pw=b"secret",
                                  owner_pw=b"secret2")
        encrypt_n = alloc()
    elif encrypt == "aes256":
        encryptor = _Aes256Encryptor()
        encrypt_n = alloc()
    elif encrypt == "pki":
        encryptor = _PkiEncryptor()
        encrypt_n = alloc()
    elif encrypt is not None:
        raise ValueError(encrypt)
    if encryptor is not None:
        objs.append((encrypt_n, encryptor.enc_dict()))

    def enc_strings(o, num):
        """Encrypt string values (emitted as hex strings)."""
        if isinstance(o, str) and not isinstance(o, NameN):
            return HexN(encryptor.encrypt(num, 0, o.encode("latin-1")).hex())
        if isinstance(o, bytes):
            return HexN(encryptor.encrypt(num, 0, o).hex())
        if isinstance(o, dict):
            return {k: enc_strings(v, num) for k, v in o.items()}
        if isinstance(o, (list, tuple)):
            return [enc_strings(v, num) for v in o]
        return o

    # ---------------- serialize
    out = bytearray()
    out += header_junk
    out += b"%PDF-1.7\n%\xc2\xb5\xc2\xb6\n"

    offsets: dict[int, int] = {}

    junk = len(header_junk)  # file offsets are header-relative (hoffset)

    def emit_obj(n: int, o: object) -> None:
        offsets[n] = len(out) - junk
        out.extend(f"{n} 0 obj\n".encode())
        if isinstance(o, StreamN):
            data = o.data
            if encryptor is not None:
                data = encryptor.encrypt(n, 0, data)
            d = dict(o.d)
            d["Length"] = len(data)
            if encryptor is not None and n != encrypt_n:
                d = enc_strings(d, n)
            out.extend(_ser(d))
            out.extend(b"\nstream\n")
            out.extend(data)
            out.extend(b"\nendstream")
        else:
            if encryptor is not None and n != encrypt_n:
                o = enc_strings(o, n)
            out.extend(_ser(o))
        out.extend(b"\nendobj\n")

    if not xref_stream:
        for n, o in sorted(objs):
            emit_obj(n, o)
        xref_pos = len(out) - junk
        maxn = counter[0]
        out.extend(f"xref\n0 {maxn + 1}\n".encode())
        out.extend(b"0000000000 65535 f \n")
        for n in range(1, maxn + 1):
            out.extend(f"{offsets[n]:010d} 00000 n \n".encode())
        trailer = {"Size": maxn + 1, "Root": RefN(catalog_n)}
        if info_n:
            trailer["Info"] = RefN(info_n)
        if encryptor is not None:
            trailer["Encrypt"] = RefN(encrypt_n)
            trailer["ID"] = [HexN(file_id.hex()), HexN(file_id.hex())]
        out.extend(b"trailer\n")
        out.extend(_ser(trailer))
        out.extend(f"\nstartxref\n{xref_pos}\n%%EOF\n".encode())
        return bytes(out)

    # xref-stream variant: put small dict objects in an ObjStm
    objstm_entries = []
    direct_objs = []
    for n, o in sorted(objs):
        if use_objstm and isinstance(o, dict) and n != catalog_n:
            objstm_entries.append((n, o))
        else:
            direct_objs.append((n, o))
    objstm_n = alloc() if objstm_entries else None
    for n, o in direct_objs:
        emit_obj(n, o)

    in_objstm: dict[int, int] = {}
    if objstm_entries:
        hdr = bytearray()
        body = bytearray()
        for idx, (n, o) in enumerate(objstm_entries):
            in_objstm[n] = idx
            hdr.extend(f"{n} {len(body)} ".encode())
            body.extend(_ser(o))
            body.extend(b"\n")
        payload = bytes(hdr) + bytes(body)
        stm_d = {"Type": NameN("ObjStm"), "N": len(objstm_entries),
                 "First": len(hdr), "Filter": NameN("FlateDecode")}
        offsets[objstm_n] = len(out) - junk
        out.extend(f"{objstm_n} 0 obj\n".encode())
        comp = zlib.compress(payload)
        stm_d["Length"] = len(comp)
        out.extend(_ser(stm_d))
        out.extend(b"\nstream\n")
        out.extend(comp)
        out.extend(b"\nendstream\nendobj\n")

    # build xref stream with PNG Up predictor, W [1 4 2]
    xrefstm_n = alloc()
    maxn = counter[0]
    rows = []
    for n in range(0, maxn + 1):
        if n == 0:
            rows.append((0, 0, 65535))
        elif n in in_objstm:
            rows.append((2, objstm_n, in_objstm[n]))
        elif n == xrefstm_n:
            rows.append((1, 0, 0))  # patched below
        elif n in offsets:
            rows.append((1, offsets[n], 0))
        else:
            rows.append((0, 0, 0))
    xref_pos = len(out) - junk
    rows[xrefstm_n] = (1, xref_pos, 0)

    def pack_rows() -> bytes:
        raw = bytearray()
        for t, a, c in rows:
            raw.append(t)
            raw.extend(struct.pack(">I", a))
            raw.extend(struct.pack(">H", c))
        return bytes(raw)

    raw = pack_rows()
    # PNG Up predictor, columns = 7
    cols = 7
    pred_rows = bytearray()
    prev = bytes(cols)
    for i in range(0, len(raw), cols):
        row = raw[i:i + cols]
        pred_rows.append(2)
        pred_rows.extend(bytes((row[j] - prev[j]) & 0xFF for j in range(cols)))
        prev = row
    comp = zlib.compress(bytes(pred_rows))
    xd = {"Type": NameN("XRef"), "Size": maxn + 1,
          "W": [1, 4, 2], "Root": RefN(catalog_n),
          "Filter": NameN("FlateDecode"),
          "DecodeParms": {"Predictor": 12, "Columns": cols},
          "Length": len(comp)}
    if info_n:
        xd["Info"] = RefN(info_n)
    out.extend(f"{xrefstm_n} 0 obj\n".encode())
    out.extend(_ser(xd))
    out.extend(b"\nstream\n")
    out.extend(comp)
    out.extend(b"\nendstream\nendobj\n")
    out.extend(f"startxref\n{xref_pos}\n%%EOF\n".encode())
    return bytes(out)


def make_hybrid_pdf(lines: list[str]) -> bytes:
    """Hybrid xref (reference test A1947-15.pdf): the classic table
    lists only catalog+pages (others free), /XRefStm supplements the
    rest; first-seen entry wins."""
    body = content_for_lines(lines)
    comp = zlib.compress(body)
    out = bytearray(b"%PDF-1.5\n%\xc2\xb5\xc2\xb6\n")
    offs = {}

    def emit(n, raw):
        offs[n] = len(out)
        out.extend(f"{n} 0 obj\n".encode() + raw + b"\nendobj\n")

    emit(1, _ser({"Type": NameN("Catalog"), "Pages": RefN(2)}))
    emit(2, _ser({"Type": NameN("Pages"), "Kids": [RefN(3)], "Count": 1}))
    emit(3, _ser({"Type": NameN("Page"), "Parent": RefN(2),
                  "MediaBox": [0, 0, 612, 792],
                  "Resources": {"Font": {"F1": RefN(5)}},
                  "Contents": RefN(4)}))
    offs[4] = len(out)
    out.extend(b"4 0 obj\n" + _ser({"Filter": NameN("FlateDecode"),
                                    "Length": len(comp)}))
    out.extend(b"\nstream\n" + comp + b"\nendstream\nendobj\n")
    emit(5, _ser(COURIER_FONT))

    # xref STREAM covering objects 3-6 (page, contents, font, itself)
    xstm_n = 6
    rows = [(1, offs[3], 0), (1, offs[4], 0), (1, offs[5], 0), (1, 0, 0)]
    xstm_pos = len(out)
    rows[3] = (1, xstm_pos, 0)
    raw = b"".join(bytes([t]) + struct.pack(">I", a) + struct.pack(">H", c)
                   for t, a, c in rows)
    xd = {"Type": NameN("XRef"), "Size": 7, "Index": [3, 4],
          "W": [1, 4, 2], "Root": RefN(1), "Length": len(raw)}
    out.extend(f"{xstm_n} 0 obj\n".encode() + _ser(xd))
    out.extend(b"\nstream\n" + raw + b"\nendstream\nendobj\n")

    # classic table: 0 free, 1-2 in use, 3-6 marked free (XRefStm has them)
    xref_pos = len(out)
    out.extend(b"xref\n0 7\n")
    out.extend(b"0000000000 65535 f \n")
    out.extend(f"{offs[1]:010d} 00000 n \n".encode())
    out.extend(f"{offs[2]:010d} 00000 n \n".encode())
    for _ in range(4):
        out.extend(b"0000000000 00000 f \n")
    out.extend(b"trailer\n")
    out.extend(_ser({"Size": 7, "Root": RefN(1), "XRefStm": xstm_pos}))
    out.extend(f"\nstartxref\n{xref_pos}\n%%EOF\n".encode())
    return bytes(out)


def make_incremental_pdf(lines_v1: list[str], lines_v2: list[str]) -> bytes:
    """Incremental update (Prev chain): v2 appends a replacement content
    stream; first-seen (newest revision) wins (CosDoc.jl:510)."""
    base = make_pdf([content_for_lines(lines_v1)])
    # locate the content stream object number: it's the first StreamN
    # emitted — find "N 0 obj" preceding "stream"
    sidx = base.find(b"\nstream\n")
    oidx = base.rfind(b" 0 obj", 0, sidx)
    nidx = base.rfind(b"\n", 0, oidx)
    objn = int(base[nidx + 1:oidx])
    old_startxref = int(base[base.rfind(b"startxref") + 9:
                             base.rfind(b"%%EOF")].strip())
    old_size = base.count(b" 0 obj") + 1

    body = content_for_lines(lines_v2)
    comp = zlib.compress(body)
    out = bytearray(base)
    new_off = len(out)
    out.extend(f"{objn} 0 obj\n".encode())
    out.extend(_ser({"Filter": NameN("FlateDecode"), "Length": len(comp)}))
    out.extend(b"\nstream\n" + comp + b"\nendstream\nendobj\n")
    xref_pos = len(out)
    out.extend(f"xref\n{objn} 1\n{new_off:010d} 00000 n \n".encode())
    out.extend(b"trailer\n")
    # Root must resolve from the NEW trailer too
    # find catalog object number in base
    cidx = base.find(b"/Type /Catalog")
    coidx = base.rfind(b" 0 obj", 0, cidx)
    cnidx = base.rfind(b"\n", 0, coidx)
    catn = int(base[cnidx + 1:coidx])
    out.extend(_ser({"Size": old_size, "Root": RefN(catn),
                     "Prev": old_startxref}))
    out.extend(f"\nstartxref\n{xref_pos}\n%%EOF\n".encode())
    return bytes(out)


_SIG_HEX_LEN = 8192  # hex chars reserved for /Contents (4096 bytes)


_IDENTITY_FILES = {
    "default": "pki_test_identity.pem",
    "expired": "sig_expired_identity.pem",
    "untrusted": "sig_untrusted_identity.pem",  # self-signed, NOT in store
    "ec": "sig_ec_identity.pem",                # ECDSA P-256, in store
    "leaf": "sig_leaf_identity.pem",            # CA-signed; CA in store
}

# Test trust-store membership (mirrors the reference's CertStore dir):
# 'leaf' is trusted only via its chain to sig_ca; 'untrusted' never.
TRUST_STORE_FILES = ("pki_test_identity.pem", "sig_expired_identity.pem",
                     "sig_ca_identity.pem", "sig_ec_identity.pem")


def test_trust_pems() -> list[bytes]:
    """PEM blobs of the packaged trust anchors (certs; the PEMs also
    carry keys, which TrustStore.from_pems ignores)."""
    import importlib.resources as ir
    return [(ir.files("pdfio_spark") / "data" / f).read_bytes()
            for f in TRUST_STORE_FILES]


def sig_identity(name: str):
    """-> (cert, private_key) of a packaged synthetic signing
    identity: 'ca' | 'leaf' | 'untrusted' | 'ec' | 'expired'. Shared
    by the revocation-material builders below and the signature tests
    (one loader, not three copies — r6 review)."""
    import importlib.resources as ir
    from cryptography import x509
    from cryptography.hazmat.primitives.serialization import (
        load_pem_private_key)
    fname = {"ca": "sig_ca_identity.pem",
             "leaf": "sig_leaf_identity.pem",
             "untrusted": "sig_untrusted_identity.pem",
             "ec": "sig_ec_identity.pem",
             "expired": "sig_expired_identity.pem"}[name]
    pem = (ir.files("pdfio_spark") / "data" / fname).read_bytes()
    return (x509.load_pem_x509_certificates(pem)[0],
            load_pem_private_key(pem, password=None))


def make_crl(serials, revoked_at=None, signer="ca") -> bytes:
    """PEM CRL revoking `serials`, issued under the packaged CA's
    subject and signed by `signer`'s key (signer != 'ca' builds the
    unauthenticated negative)."""
    import datetime
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.serialization import Encoding
    ca_cert, _ = sig_identity("ca")
    _, key = sig_identity(signer)
    when = revoked_at or datetime.datetime(2020, 1, 1)
    b = (x509.CertificateRevocationListBuilder()
         .issuer_name(ca_cert.subject)
         .last_update(when)
         .next_update(when + datetime.timedelta(days=3650)))
    for s in serials:
        b = b.add_revoked_certificate(
            x509.RevokedCertificateBuilder()
            .serial_number(s).revocation_date(when).build())
    return b.sign(key, hashes.SHA256()).public_bytes(Encoding.PEM)


def make_ocsp_response(target="leaf", revoked=True, revoked_at=None,
                       signer="ca", delegate=False) -> bytes:
    """DER OCSP response for `target`'s packaged cert under the CA,
    signed by `signer`'s key — or, with delegate=True, by a freshly
    generated responder cert the CA issues for id-kp-OCSPSigning and
    carries inside the response (RFC 6960 4.2.2.2)."""
    import datetime
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.serialization import Encoding
    from cryptography.x509 import ocsp
    ca_cert, ca_key = sig_identity("ca")
    tgt_cert, _ = sig_identity(target)
    sign_cert, sign_key = sig_identity(signer)
    when = datetime.datetime(2020, 1, 1)
    extra = []
    if delegate:
        from cryptography.hazmat.primitives.asymmetric import rsa
        dkey = rsa.generate_private_key(public_exponent=65537,
                                        key_size=2048)
        dcert = (x509.CertificateBuilder()
                 .subject_name(x509.Name([x509.NameAttribute(
                     x509.NameOID.COMMON_NAME, "ocsp-delegate")]))
                 .issuer_name(ca_cert.subject)
                 .public_key(dkey.public_key())
                 .serial_number(x509.random_serial_number())
                 .not_valid_before(datetime.datetime(2015, 1, 1))
                 .not_valid_after(datetime.datetime(2099, 1, 1))
                 .add_extension(x509.ExtendedKeyUsage(
                     [x509.oid.ExtendedKeyUsageOID.OCSP_SIGNING]),
                     critical=False)
                 .sign(ca_key, hashes.SHA256()))
        sign_cert, sign_key = dcert, dkey
        extra = [dcert]
    b = (ocsp.OCSPResponseBuilder()
         .add_response(
             cert=tgt_cert, issuer=ca_cert,
             algorithm=hashes.SHA256(),
             cert_status=(ocsp.OCSPCertStatus.REVOKED if revoked
                          else ocsp.OCSPCertStatus.GOOD),
             this_update=when,
             next_update=when + datetime.timedelta(days=3650),
             revocation_time=(revoked_at or when) if revoked else None,
             revocation_reason=None)
         .responder_id(ocsp.OCSPResponderEncoding.NAME, sign_cert))
    if extra:
        b = b.certificates(extra)
    return b.sign(sign_key, hashes.SHA256()).public_bytes(Encoding.DER)


def _test_identity(which: str = "default"):
    """-> (signer_cert, key, extra_certs). extra_certs = further certs
    in the PEM (e.g. the issuing CA for 'leaf') to embed in the CMS."""
    import importlib.resources as ir
    from cryptography import x509
    from cryptography.hazmat.primitives.serialization import (
        load_pem_private_key)
    pem = (ir.files("pdfio_spark") / "data"
           / _IDENTITY_FILES[which]).read_bytes()
    certs = x509.load_pem_x509_certificates(pem)
    return certs[0], load_pem_private_key(pem, password=None), certs[1:]


def make_signed_pdf(lines: list[str],
                    subfilter: str = "adbe.pkcs7.detached",
                    tamper: bool = False,
                    identity: str = "default") -> bytes:
    """Digitally-signed PDF: base doc + incremental update carrying an
    AcroForm /Sig field whose /V has ByteRange + CMS (or PKCS#1)
    Contents, signed with the packaged test identity. Classic two-pass:
    serialize with fixed-width placeholders, patch ByteRange, sign the
    ByteRange bytes, splice the hex signature (ref PDSignature.jl
    ByteRange semantics). tamper=True flips a byte AFTER signing."""
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import padding
    from cryptography.hazmat.primitives.serialization import (pkcs7,
                                                              Encoding)
    base = make_pdf([content_for_lines(lines)])
    cidx = base.find(b"/Type /Catalog")
    coidx = base.rfind(b" 0 obj", 0, cidx)
    cnidx = base.rfind(b"\n", 0, coidx)
    catn = int(base[cnidx + 1:coidx])
    m = re.search(rb"/Pages (\d+) 0 R", base)
    pages_n = int(m.group(1))
    old_startxref = int(base[base.rfind(b"startxref") + 9:
                             base.rfind(b"%%EOF")].strip())
    old_size = base.count(b" 0 obj") + 1
    sig_n, fld_n = old_size, old_size + 1

    cert, key, extra_certs = _test_identity(identity)
    out = bytearray(base)

    def emit(n: int, body: bytes) -> int:
        off = len(out)
        out.extend(f"{n} 0 obj\n".encode() + body + b"\nendobj\n")
        return off

    sig_d = (b"<< /Type /Sig /Filter /Adobe.PPKLite /SubFilter /"
             + subfilter.encode()
             + b" /Name (pdfio-spark signer) /M (D:20260101000000Z)"
             + b" /ByteRange [0 AAAAAAAAAA BBBBBBBBBB CCCCCCCCCC]"
             + b" /Contents <" + b"0" * _SIG_HEX_LEN + b">")
    if subfilter == "adbe.x509.rsa_sha1":
        cder = cert.public_bytes(Encoding.DER)
        sig_d += b" /Cert <" + cder.hex().encode() + b">"
    sig_d += b" >>"
    sig_off = emit(sig_n, sig_d)
    fld_off = emit(fld_n, _ser({"FT": NameN("Sig"), "T": "Sig1",
                                "V": RefN(sig_n)}))
    cat_off = emit(catn, _ser({"Type": NameN("Catalog"),
                               "Pages": RefN(pages_n),
                               "AcroForm": {"Fields": [RefN(fld_n)],
                                            "SigFlags": 3}}))
    xref_pos = len(out)
    out.extend(f"xref\n{catn} 1\n{cat_off:010d} 00000 n \n"
               f"{sig_n} 2\n{sig_off:010d} 00000 n \n"
               f"{fld_off:010d} 00000 n \n".encode())
    out.extend(b"trailer\n" + _ser({"Size": old_size + 2,
                                    "Root": RefN(catn),
                                    "Prev": old_startxref}))
    out.extend(f"\nstartxref\n{xref_pos}\n%%EOF\n".encode())

    # pass 2: patch ByteRange (fixed width), then sign the range bytes
    lt = out.find(b"/Contents <", sig_off) + len(b"/Contents ")
    gt_after = lt + 1 + _SIG_HEX_LEN + 1
    br = f"[0 {lt} {gt_after} {len(out) - gt_after}]".encode()
    br_at = out.find(b"[0 AAAAAAAAAA", sig_off)
    br_end = out.find(b"]", br_at) + 1
    out[br_at:br_end] = br.ljust(br_end - br_at)
    signed = bytes(out[:lt]) + bytes(out[gt_after:])
    if subfilter == "adbe.x509.rsa_sha1":
        raw = key.sign(signed, padding.PKCS1v15(), hashes.SHA1())
        # DER OCTET STRING wrap (long-form length)
        der = (b"\x04\x82" + len(raw).to_bytes(2, "big") + raw)
    elif subfilter == "adbe.pkcs7.sha1":
        # eContent = sha1(byterange); the CMS signer digest itself may
        # be any supported hash (builder refuses SHA-1 signing)
        digest = hashlib.sha1(signed).digest()
        b = (pkcs7.PKCS7SignatureBuilder().set_data(digest)
             .add_signer(cert, key, hashes.SHA256()))
        for c in extra_certs:
            b = b.add_certificate(c)
        der = b.sign(Encoding.DER, [pkcs7.PKCS7Options.Binary])
    else:
        b = (pkcs7.PKCS7SignatureBuilder().set_data(signed)
             .add_signer(cert, key, hashes.SHA256()))
        for c in extra_certs:
            b = b.add_certificate(c)
        der = b.sign(Encoding.DER, [pkcs7.PKCS7Options.DetachedSignature,
                                    pkcs7.PKCS7Options.Binary])
    hx = der.hex().encode()
    assert len(hx) <= _SIG_HEX_LEN, "signature larger than placeholder"
    out[lt + 1:lt + 1 + len(hx)] = hx
    if tamper:
        # flip a content byte inside the signed range (after header)
        out[100] ^= 0x01
    return bytes(out)


def make_corrupt_flate_pdf(lines: list[str], cut: int = 6) -> bytes:
    """Corrupt deflate tail (reference test 00007.pdf): a comment pad
    absorbs the truncation so the text itself survives; the decoder must
    keep partial output rather than fail."""
    # incompressible pad: deflate emits it near-verbatim, so a small
    # tail cut only loses pad bytes, never the text
    pad = bytearray()
    c = 0
    while len(pad) < 2048:
        pad += hashlib.sha256(b"pad" + c.to_bytes(4, "big")).hexdigest().encode()
        c += 1
    body = content_for_lines(lines) + b"% " + bytes(pad) + b"\n"
    comp = zlib.compress(body, 1)[:-cut]
    return _rebuild_with_content(comp)


def _rebuild_with_content(comp: bytes) -> bytes:
    """Minimal classic-xref PDF around a pre-encoded content payload."""
    out = bytearray(b"%PDF-1.4\n%\xc2\xb5\xc2\xb6\n")
    offs = {}

    def emit(n, raw):
        offs[n] = len(out)
        out.extend(f"{n} 0 obj\n".encode() + raw + b"\nendobj\n")

    emit(1, _ser({"Type": NameN("Catalog"), "Pages": RefN(2)}))
    emit(2, _ser({"Type": NameN("Pages"), "Kids": [RefN(3)], "Count": 1}))
    emit(3, _ser({"Type": NameN("Page"), "Parent": RefN(2),
                  "MediaBox": [0, 0, 612, 792],
                  "Resources": {"Font": {"F1": RefN(5)}},
                  "Contents": RefN(4)}))
    offs[4] = len(out)
    out.extend(b"4 0 obj\n" + _ser({"Filter": NameN("FlateDecode"),
                                    "Length": len(comp)}))
    out.extend(b"\nstream\n" + comp + b"\nendstream\nendobj\n")
    emit(5, _ser(COURIER_FONT))
    xref_pos = len(out)
    out.extend(b"xref\n0 6\n0000000000 65535 f \n")
    for n in range(1, 6):
        out.extend(f"{offs[n]:010d} 00000 n \n".encode())
    out.extend(b"trailer\n" + _ser({"Size": 6, "Root": RefN(1)}))
    out.extend(f"\nstartxref\n{xref_pos}\n%%EOF\n".encode())
    return bytes(out)


# --------------------------------------------------- per-doc dispatcher

FIXTURE_CLASSES = [
    "flate_simple", "plain_uncompressed", "xref_stream", "objstm",
    "filter_asciihex", "filter_ascii85", "filter_rle", "filter_lzw",
    "filter_chain", "contents_array", "header_offset", "multipage",
    "font_winansi", "font_cid", "xobject_form", "inline_image",
    "marked_artifact", "encrypt_rc4_128", "encrypt_aes256",
    "multipage_labels", "outline_toc",
    "xref_hybrid", "flate_corrupt", "incremental", "with_info",
]


# encoding-probe bytes (as latin-1 strings) and their expected decodes,
# cross-checked in tests against Python's mac_roman codec / public AGL
MACROMAN_PROBE = "\x87\x8e\xa5\xd0\xd1"          # -> áé•–—
MACROMAN_PROBE_DECODED = "\u00e1\u00e9\u2022\u2013\u2014"
SYMBOL_PROBE = "abgdpmW"
# AGL: mu -> U+00B5 MICRO SIGN, Omega -> U+2126 OHM SIGN (not U+03A9)
SYMBOL_PROBE_DECODED = "\u03b1\u03b2\u03b3\u03b4\u03c0\u00b5\u2126"
ZAPF_PROBE = "12345"                              # -> ✑✒✓✔✕
ZAPF_PROBE_DECODED = "\u2711\u2712\u2713\u2714\u2715"


def build_fixture(cls: str, lines: list[str]) -> bytes:
    """Build a PDF of fixture class `cls` whose extracted text equals the
    canonical layout rendering of `lines` (one text line per Td row)."""
    c = content_for_lines(lines)
    if cls == "flate_simple":
        return make_pdf([c])
    if cls == "plain_uncompressed":
        return make_pdf([c], content_filter=None)
    if cls == "xref_stream":
        return make_pdf([c], xref_stream=True)
    if cls == "objstm":
        return make_pdf([c], xref_stream=True, use_objstm=True)
    if cls == "filter_asciihex":
        return make_pdf([c], content_filter="ASCIIHexDecode")
    if cls == "filter_ascii85":
        return make_pdf([c], content_filter="ASCII85Decode")
    if cls == "filter_rle":
        return make_pdf([c], content_filter="RunLengthDecode")
    if cls == "filter_lzw":
        return make_pdf([c], content_filter="LZWDecode")
    if cls == "filter_chain":
        return make_pdf([c], content_filter=None,
                        filter_chain=["ASCIIHexDecode", "FlateDecode"])
    if cls == "contents_array":
        return make_pdf([c], contents_array=True)
    if cls == "header_offset":
        return make_pdf([c], header_junk=b"JUNK " * 20 + b"\n")
    if cls == "multipage":
        per_page = [content_for_lines([ln]) for ln in lines]
        return make_pdf(per_page, nested_pagetree=True)
    if cls == "font_winansi":
        return make_pdf([c], font="winansi")
    if cls == "font_macroman":
        # doc lines + a constant probe line of MacRoman high bytes:
        # 87->aacute 8E->eacute A5->bullet D0->endash D1->emdash
        # (decode is a constant literal in the oracle)
        return make_pdf([content_for_lines(lines + [MACROMAN_PROBE])],
                        font="macroman")
    if cls == "font_symbol":
        # Symbol built-in encoding: digits/space/colon are identity, so
        # line 1 carries the doc_id; line 2 is the constant greek probe
        did = lines[0][4:lines[0].index(":")]
        return make_pdf([content_for_lines([did, SYMBOL_PROBE])],
                        font="symbol")
    if cls == "flate_tiff_pred":
        # FlateDecode + TIFF Predictor 2 (the class the reference
        # quarantines — CosStream.jl:125 E_NOT_IMPLEMENTED)
        return make_pdf([c], content_filter=None, tiff_predictor_cols=17)
    if cls == "with_attachment":
        # deterministic payload: 'ATTACH:' + first line (closed form)
        return make_pdf([c], attach=b"ATTACH:" + lines[0].encode("latin-1"))
    if cls == "attach_encrypted":
        # attachment inside an AES-256 doc: the EF stream decrypts
        # through StmF like any stream
        return make_pdf([c], encrypt="aes256",
                        attach=b"ATTACH:" + lines[0].encode("latin-1"))
    if cls == "signed":
        # SubFilter rotates by doc_id across the reference's matrix;
        # (did // 4) % 3 so the rotation covers all three SubFilters
        # when this class cycles with 3 siblings (did % 4 == 0 docs)
        did = int(lines[0][4:lines[0].index(":")])
        sub = ("adbe.pkcs7.detached", "adbe.pkcs7.sha1",
               "adbe.x509.rsa_sha1")[(did // 4) % 3]
        return make_signed_pdf(lines, subfilter=sub)
    if cls == "signed_tampered":
        return make_signed_pdf(lines, tamper=True)
    if cls == "signed_expired":
        # cryptographically valid CMS whose signer cert window predates
        # the /M signing time -> status must be 'certificate expired'
        return make_signed_pdf(lines, identity="expired")
    if cls == "signed_chain":
        # trust-chain rotation (r4): leaf-via-CA (chain to store root
        # passes), self-signed unknown issuer (untrusted), ECDSA P-256
        # signer (trusted store member; EC verification path)
        did = int(lines[0][4:lines[0].index(":")])
        ident = ("leaf", "untrusted", "ec")[(did // 4) % 3]
        return make_signed_pdf(lines, identity=ident)
    if cls == "tagged":
        # one Para StructElem per text line (line count is the same
        # closed form the lines CTE predicts)
        return make_pdf([c], struct_elems=len(lines))
    if cls == "font_type3":
        # Widths [600]*95 == Courier metrics, so the layout is identical
        # to the std single-page closed form; decode is the Type3
        # default (byte passthrough for ASCII — ref PDFonts.jl:172
        # skips Differences for Type3 unicode mapping)
        return make_pdf([c], font="type3")
    if cls == "font_zapf":
        # ZapfDingbats built-in encoding: constant probe only (no byte
        # maps to itself, so doc text cannot be carried through)
        return make_pdf([content_for_lines([ZAPF_PROBE])], font="zapf")
    if cls == "font_cid":
        return make_pdf([content_for_lines_cid(lines)], font="cid")
    if cls == "xobject_form":
        return make_pdf([c], form_xobject=True)
    if cls == "ccitt_image":
        # scanned-fax page shape: CCITT image + text overlay — the text
        # must extract byte-identically; the image stays undecoded
        return make_pdf([c], ccitt_image=True)
    if cls == "ccitt_content":
        # CCITT on the CONTENT stream (pathological): the row must
        # quarantine as error, never fail the task
        return make_pdf([c], content_filter="CCITTFaxDecode")
    if cls == "inline_image":
        return make_pdf([c], inline_image=True)
    if cls == "marked_artifact":
        return make_pdf([c], artifact_extra=b"BT /F1 12 Tf 72 100 Td (SUPPRESSED) Tj ET")
    if cls == "encrypt_rc4_128":
        return make_pdf([c], encrypt="rc4_128")
    if cls == "encrypt_rc4_40":
        return make_pdf([c], encrypt="rc4_40")
    if cls == "encrypt_aes128":
        return make_pdf([c], encrypt="aes128")
    if cls == "encrypt_owner_pw":
        return make_pdf([c], encrypt="owner_pw")
    if cls == "encrypt_aes256":
        return make_pdf([c], encrypt="aes256")
    if cls == "encrypt_pki":
        return make_pdf([c], encrypt="pki")
    if cls == "multipage_labels":
        per_page = [content_for_lines([ln]) for ln in lines]
        return make_pdf(per_page, page_labels=True)
    if cls == "outline_toc":
        per_page = [content_for_lines([ln]) for ln in lines]
        return make_pdf(per_page, outline=True)
    if cls == "with_info":
        return make_pdf([c], info={"Producer": "pdfio-spark",
                                   "Title": lines[0][:24]})
    if cls == "with_dates":
        # doc_id is recoverable from the canonical "Doc <id>: " prefix
        did = int(lines[0][4:lines[0].index(":")])
        cdate = f"D:20{did % 100:02d}0315143000+05'30"
        return make_pdf([c], info={"Producer": "pdfio-spark",
                                   "CreationDate": cdate})
    if cls == "xref_hybrid":
        return make_hybrid_pdf(lines)
    if cls == "flate_corrupt":
        return make_corrupt_flate_pdf(lines)
    if cls == "incremental":
        # v1 content is superseded; expected text is `lines` (v2)
        return make_incremental_pdf(["OLD CONTENT SUPERSEDED"], lines)
    raise ValueError(cls)
