"""Font plane tests: CMap corrupt-range repair, width math, encodings.
Mirrors the reference CMap byte-level unit checks
(/root/reference/test/runtests.jl:443-476) on synthesized CMaps."""
import numpy as np
import pytest

from pdfio_spark.cos.objects import HexStr, LitStr, Name, f32
from pdfio_spark.pd import fonts


def decode(barr: bytes, cmap) -> list[int]:
    return fonts.cmap_decode(barr, cmap)


GOOD_CMAP = b"""
/CIDInit /ProcSet findresource begin
begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0003> <0020>
<0004> <0041>
endbfchar
1 beginbfrange
<0010> <001f> <0061>
endbfrange
endcmap
"""


class TestCMap:
    def test_bfchar_bfrange(self):
        cmap = fonts.read_cmap(GOOD_CMAP)
        assert decode(b"\x00\x03", cmap) == [0x20]
        assert decode(b"\x00\x04", cmap) == [0x41]
        assert decode(b"\x00\x10", cmap) == [0x61]
        assert decode(b"\x00\x1f", cmap) == [0x61 + 0xF]
        assert decode(b"\x00\x02", cmap) == [0]  # unmapped -> U+0000

    def test_one_byte_codespace(self):
        cmap = fonts.read_cmap(b"""
1 begincodespacerange
<00> <ff>
endcodespacerange
1 beginbfrange
<41> <5a> <0061>
endbfrange
""")
        assert decode(b"AB", cmap) == [0x61, 0x62]

    def test_corrupt_bfrange_repair(self):
        """lo2 > hi2 splits into 3 ranges with offset arithmetic
        (PDFonts.jl:419-434). Range <00FB>-<0108> -> <0106>:
        [00 FB]=0106, [00 FF]=010A, [01 00]=010B, [01 08]=0113."""
        cmap = fonts.read_cmap(b"""
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
1 beginbfrange
<00fb> <0108> <0106>
endbfrange
""")
        assert decode(b"\x00\xfb", cmap) == [0x0106]
        assert decode(b"\x00\xff", cmap) == [0x010A]
        assert decode(b"\x01\x00", cmap) == [0x010B]
        assert decode(b"\x01\x08", cmap) == [0x0113]

    def test_bfrange_array_form(self):
        cmap = fonts.read_cmap(b"""
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
1 beginbfrange
<0001> <0003> [<0058> <0059> <005a>]
endbfrange
""")
        assert decode(b"\x00\x01\x00\x03", cmap) == [0x58, 0x5A]

    def test_surrogate_pair_target(self):
        cmap = fonts.read_cmap(b"""
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
1 beginbfchar
<0001> <D835DC00>
endbfchar
""")
        assert decode(b"\x00\x01", cmap) == [0x1D400]


class TestWidths:
    def test_afm_helvetica(self):
        afm = fonts.read_afm("Helvetica")
        assert fonts.get_character_width(ord(" "), afm) == f32(278.0)
        assert fonts.get_character_width(ord("A"), afm) == f32(667.0)
        assert fonts.get_character_width(999, afm) == f32(1000.0)

    def test_afm_kerning(self):
        afm = fonts.read_afm("Helvetica")
        # 'A' 'V' kern pair -70 (Helvetica.afm KPX AV)
        assert fonts.get_kern_width(ord("A"), ord("V"), afm) == f32(-70.0)
        assert fonts.get_kern_width(ord("A"), ord("A"), afm) == f32(0.0)

    def test_string_width_kern_applied_raw(self):
        """Kern widths are added UNSCALED (PDFonts.jl:655-656)."""
        afm = fonts.read_afm("Helvetica")
        tfs = f32(10.0)
        w_av = fonts.get_string_width(b"AV", afm, 0, tfs, f32(0), f32(0), f32(0))
        w_a = fonts.get_string_width(b"A", afm, 0, tfs, f32(0), f32(0), f32(0))
        w_v = fonts.get_string_width(b"V", afm, 0, tfs, f32(0), f32(0), f32(0))
        assert w_av == pytest.approx(float(w_a + w_v) - 70.0, abs=1e-3)

    def test_space_gets_tw(self):
        afm = fonts.read_afm("Helvetica")
        tw = f32(5.0)
        w = fonts.get_string_width(b" ", afm, 0, f32(10.0), f32(0), f32(0), tw)
        assert w == pytest.approx(278.0 * 10 / 1000 + 5.0, abs=1e-4)

    def test_widths_vector_zero_default(self):
        wv = np.zeros(256, dtype=np.float32)
        wv[65] = 600
        assert fonts.get_character_width(65, wv) == f32(600.0)
        assert fonts.get_character_width(66, wv) == f32(1000.0)

    def test_cid_width_interval(self):
        cw = fonts.CIDWidth()
        cw.imap.set(32, 126, f32(500.0))
        assert fonts.get_character_width(65, cw) == f32(500.0)
        assert fonts.get_character_width(20000, cw) == f32(1000.0)

    def test_tj_kern_space_injection(self):
        """TJ kern < -180 injects a space into text (PDFonts.jl:676-679)."""
        afm = fonts.read_afm("Helvetica")

        class FakeFont:
            widths = afm
            fum = {b: [b] for b in range(256)}
        text, w, h = fonts.get_text_box(
            [LitStr(b"ab"), -200, LitStr(b"cd")],
            FakeFont(), f32(12.0), f32(0), f32(0), f32(1.0))
        assert text == "ab cd"
        text2, _, _ = fonts.get_text_box(
            [LitStr(b"ab"), -100, LitStr(b"cd")],
            FakeFont(), f32(12.0), f32(0), f32(0), f32(1.0))
        assert text2 == "abcd"


def _width_oracle(barr, widths, pc, tfs, tj, tc, tw):
    """get_string_width as the per-string formula computes it: every
    term in f32 afresh, summed in order (np.add.accumulate)."""
    if len(barr) == 0:
        return f32(0.0)
    sc = fonts.space_code(widths)
    thousand = f32(1000.0)
    if isinstance(widths, fonts.CIDWidth):
        totalw = f32(0.0)
        tj = f32(tj)
        for i in range(0, len(barr) - 1, 2):
            c = barr[i] * 256 + barr[i + 1]
            w = fonts.get_character_width(c, widths)
            w = (w - tj) * tfs / thousand + (tw if c == sc else tc)
            tj = f32(0.0)
            totalw = totalw + w
        return totalw
    codes = np.frombuffer(barr, dtype=np.uint8)
    if isinstance(widths, fonts.AdobeFontMetrics):
        wx = widths.wx256()[codes]
        prev = np.empty_like(codes)
        prev[0] = pc & 0xFF if 0 <= pc < 256 else 0
        prev[1:] = codes[:-1]
        kw = widths.kern256()[prev, codes]
    else:
        base = np.asarray(widths, dtype=np.float32)
        wx = np.where(base == 0, np.float32(1000.0), base)[codes]
        kw = None
    tjv = np.zeros(len(codes), dtype=np.float32)
    tjv[0] = f32(tj)
    w = (wx - tjv) * f32(tfs) / thousand + np.where(
        codes == sc, f32(tw), f32(tc)).astype(np.float32)
    if kw is not None:
        w = w + kw
    return np.add.accumulate(w)[-1]


def _bits(x) -> bytes:
    return np.asarray(x, dtype=np.float32).tobytes()


class TestStringWidthFastPath:
    """get_string_width's cached contribution vectors against the
    formula, bit for bit."""

    STRINGS = (b"", b"A", b" ", b"AV", b"Hello World", b"To. Wa, AVAT",
               bytes(range(256)), b"\x00\xff \x00 ", b"\x20\x20\x41")
    # (tfs, tc, tw): -0.0 must not share a cache entry with 0.0, and
    # an all -0.0 triple makes every term -0.0
    SPACING = ((12.0, 0.0, 0.0), (10.5, 0.25, 3.0), (-8.0, -0.0, 0.0),
               (0.0, 1.0, -2.0), (1000.0, 0.1, 0.1), (12.0, -0.0, -0.0),
               (7.25, 0.0, -0.0), (0.0, 0.0, 0.0), (-0.0, -0.0, -0.0))
    TJ = (0.0, -250.0, 120.5, -0.0, 1e-3)
    PC = (0, 65, -1, 300)

    def _check(self, widths, strings):
        # one table across every call, as a PDFont keeps it (a bare
        # /Widths vector gets a fresh one per get_string_width call)
        rw = fonts.run_widths(widths)
        n = 0
        for _ in range(2):  # the second pass reads the caches
            for tfs, tc, tw in self.SPACING:
                for tj in self.TJ:
                    for pc in self.PC:
                        for s in strings:
                            args = (s, widths, pc, f32(tfs), f32(tj),
                                    f32(tc), f32(tw))
                            want = _bits(_width_oracle(*args))
                            got = fonts.get_string_width(*args)
                            assert type(got) is np.float32
                            assert _bits(got) == want, args
                            if s:
                                assert _bits(rw.width(s, *args[2:])) \
                                    == want, args
                            n += 1
        return n

    def test_afm_with_kerning(self):
        for name in ("Helvetica", "Times-Bold"):
            afm = fonts.read_afm(name)
            assert afm.has_kerning
            assert self._check(afm, self.STRINGS)

    def test_afm_without_kerning(self):
        afm = fonts.read_afm("Courier")
        assert not afm.has_kerning
        assert self._check(afm, self.STRINGS)

    def test_widths_vector_with_zeros(self):
        rng = np.random.default_rng(7)
        wv = rng.integers(0, 900, 256).astype(np.float32)
        wv[::5] = 0  # a 0 reads 1000
        wv[32] = 0
        assert self._check(wv, self.STRINGS)

    def test_cid_widths(self):
        cw = fonts.CIDWidth(dw=f32(900.0))
        cw.imap.set(0x0020, 0x007E, f32(500.0))
        cw.imap.set(0x0041, 0x0041, f32(722.0))
        cw.imap.set(0x3000, 0x30FF, f32(1000.0))
        strings = (b"", b"\x00", b"\x00A", b"\x00A\x00 \x00V",
                   b"\x30\x42\x00\x20\x30", b"\xff\xff\x00\x41\x12")
        assert self._check(cw, strings)

    def test_caches_stay_bounded(self):
        afm = fonts.read_afm("Helvetica")
        rw = fonts.run_widths(afm)
        assert fonts.run_widths(afm) is rw  # shared by every font
        for i in range(3 * fonts._RUN_CACHE_CAP):
            fonts.get_string_width(b"AV", afm, 0, f32(1 + i), f32(0),
                                   f32(0), f32(0))
            assert len(rw._terms) <= fonts._RUN_CACHE_CAP
        cw = fonts.CIDWidth()
        crw = fonts.run_widths(cw)
        barr = bytes(range(256)) * 4
        for i in range(8):
            fonts.get_string_width(barr, cw, 0, f32(1 + i), f32(0),
                                   f32(0), f32(0))
            assert len(crw._terms) <= fonts._CID_CACHE_CAP


class TestGlyphNames:
    def test_agl_uniXXXX(self):
        assert fonts.get_agl_unicode("uni0041") == [0x41]
        assert fonts.get_agl_unicode("u0042") == [0x42]
        assert fonts.get_agl_unicode("u00410042") == [0x41, 0x42]

    def test_ligature_split_and_suffix(self):
        assert fonts.get_unicodes_from_glyph_name("f_i") == [0x66, 0x69]
        assert fonts.get_unicodes_from_glyph_name("A.sc") == [0x41]

    def test_standard_names(self):
        assert fonts.get_agl_unicode("quotesingle") == [0x27]
        assert fonts.get_agl_unicode("Alpha") == [0x391]
        assert fonts.get_agl_unicode("nosuchglyphname") == [0]

    def test_win_encoding_quirks(self):
        # reference special cases (PDFontTables.jl:24-27)
        assert fonts.WIN_TO_UNICODE[0xA0] == [0x3A]  # colon quirk
        assert fonts.WIN_TO_UNICODE[0xAD] == [0xAD]  # sfthyphen
        assert fonts.MAC_TO_UNICODE[0xCA] == [0x3A]


class TestNavigation:
    def test_roman_alpha(self):
        from pdfio_spark.pd.navigation import to_roman, to_alpha
        assert to_roman(4) == "iv" and to_roman(1987) == "mcmlxxxvii"
        assert to_roman(9, lower=False) == "IX"
        assert to_alpha(1) == "a" and to_alpha(26) == "z"
        assert to_alpha(27) == "aa" and to_alpha(28, lower=False) == "BB"

    def test_page_labels(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        from pdfio_spark.pd.navigation import get_page_labels
        pdf = build_fixture("multipage_labels", ["a", "b", "c", "d"])
        labels = get_page_labels(PDDoc(pdf))
        assert labels == ["i", "ii", "P-1", "P-2"]

    def test_outline(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        from pdfio_spark.pd.navigation import get_outline
        pdf = build_fixture("outline_toc", ["a", "b", "c"])
        items = get_outline(PDDoc(pdf))
        assert [i["title"] for i in items] == ["Sec 1", "Sec 2", "Sec 3"]
        assert all(i["level"] == 0 for i in items)


class TestCDDate:
    def test_parse_show(self):
        from pdfio_spark.pd.dates import CDDate
        assert repr(CDDate("D:199812231952-08'30 ")) == \
            "D:19981223195200-08'30"

    def test_invalid(self):
        from pdfio_spark.pd.dates import CDDate
        import pytest as _pt
        with _pt.raises(ValueError):
            CDDate("not a date")
        with _pt.raises(ValueError):
            CDDate("D:209")

    def test_partial_defaults(self):
        from pdfio_spark.pd.dates import CDDate
        assert CDDate("D:2009") == CDDate("D:20090101000000Z")
        assert CDDate("D:200902") == CDDate("D:20090201000000+00")
        assert CDDate("D:20090202010203") == CDDate("D:20090202010203+00'00")

    def test_tz_ordering(self):
        from pdfio_spark.pd.dates import CDDate
        assert CDDate("D:20090202010202+00'01") < CDDate("D:20090202010202")
        assert CDDate("D:20090202010202") < CDDate("D:20090202010203")
        assert CDDate("D:20090202-01'01") > CDDate("D:20090202-00'01")
        assert CDDate("D:2009020208+06") < CDDate("D:2009020204+01")
        assert CDDate("D:2009020208+06") == CDDate("D:2009020204+02")

    def test_utc(self):
        from pdfio_spark.pd.dates import CDDate
        d = CDDate("D:20190425173659+05'30")
        assert repr(CDDate(d.utc())) == "D:20190425120659Z"

    def test_label_inverse(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        from pdfio_spark.pd.navigation import (find_page_for_label,
                                               from_alpha, from_roman)
        assert from_roman("iv") == 4 and from_roman("MCMXC") == 1990
        assert from_roman("xyz") is None
        assert from_alpha("a") == 1 and from_alpha("aa") == 27
        assert from_alpha("ab") is None
        pdf = build_fixture("multipage_labels", ["a", "b", "c", "d", "e"])
        doc = PDDoc(pdf)
        assert find_page_for_label(doc, "i") == (1, 1)
        assert find_page_for_label(doc, "ii") == (2, 1)
        assert find_page_for_label(doc, "P-1") == (3, 1)
        assert find_page_for_label(doc, "P-3") == (5, 1)
        assert find_page_for_label(doc, "nosuch") is None


class TestReferenceFidelity:
    def test_symbol_font_decode(self):
        """Symbol base font -> SYM encoding (PDFonts.jl:139-150):
        'a' -> alpha, 'b' -> beta, 'G' -> Gamma."""
        from pdfio_spark.cos.doc import CosDoc
        from pdfio_spark.fixtures import make_pdf, content_for_lines, NameN
        pdf = make_pdf([content_for_lines(["abG"])])
        # patch BaseFont to Symbol, SAME length so xref offsets hold
        pdf = pdf.replace(b"/BaseFont /Courier",
                          b"/BaseFont /Symbol ", 1)
        from pdfio_spark.pd.extract import extract_doc
        r = extract_doc(pdf)
        assert "αβΓ" in r["text"]

    def test_cid_w_array_form(self):
        """Type0 /W 'c [w1 w2 ...]' form (PDFontMetrics.jl:200-206)."""
        class FakeDoc:
            def get(self, d, k, default=None):
                v = d.get(k, default)
                return v
            def get_object(self, v):
                return v
        from pdfio_spark.cos.objects import Name
        font = {Name("Subtype"): Name("Type0"),
                Name("Encoding"): Name("Identity-H"),
                Name("DescendantFonts"): [
                    {Name("W"): [65, [100.0, 200.0, 300.0]],
                     Name("DW"): 750}]}
        w = fonts.get_font_widths(FakeDoc(), font)
        assert fonts.get_character_width(65, w) == f32(100.0)
        assert fonts.get_character_width(66, w) == f32(200.0)
        assert fonts.get_character_width(67, w) == f32(300.0)
        assert fonts.get_character_width(68, w) == f32(750.0)

    def test_doc_without_info(self):
        """Doc without /Info: get_info returns {} (runtests.jl:314-327)."""
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        doc = PDDoc(build_fixture("flate_simple", ["x"]))
        assert doc.get_info() == {}
        assert doc.get_names_dict() is None

    def test_info_with_trapped_name(self):
        """Name values in /Info survive as strings (empty-property test,
        runtests.jl:329-347)."""
        from pdfio_spark.fixtures import make_pdf, content_for_lines, NameN
        from pdfio_spark.pd.pagetree import PDDoc
        pdf = make_pdf([content_for_lines(["x"])],
                       info={"Trapped": NameN("False"), "Title": "T1"})
        info = PDDoc(pdf).get_info()
        assert info["Trapped"] == "False"
        assert info["Title"] == "T1"

    def test_utf16_metadata_string(self):
        from pdfio_spark.cos.objects import HexStr
        from pdfio_spark.pd.fonts import pdf_doc_decode
        # FEFF BOM + 'Hé' in UTF-16BE
        assert pdf_doc_decode(HexStr(b"feff004800e9")) == "Hé"

    def test_signature_detection(self):
        """AcroForm /FT /Sig detection (PDDocImpl.jl:141-153)."""
        from pdfio_spark.fixtures import make_pdf, content_for_lines, NameN, RefN
        from pdfio_spark.pd.pagetree import PDDoc
        pdf = make_pdf([content_for_lines(["x"])])
        assert PDDoc(pdf).has_signature() is False
        # splice an AcroForm with a Sig field into the catalog: rebuild
        # via the writer is simpler — patch catalog dict pre-serialize
        # by crafting a doc with an extra object through make_pdf's info
        # hook is not available; construct manually instead.
        import zlib
        body = content_for_lines(["signed doc"])
        comp = zlib.compress(body)
        out = bytearray(b"%PDF-1.6\n")
        offs = {}
        def emit(n, raw):
            offs[n] = len(out)
            out.extend(f"{n} 0 obj\n".encode() + raw + b"\nendobj\n")
        from pdfio_spark.fixtures import _ser, HELV_FONT
        emit(1, _ser({"Type": NameN("Catalog"), "Pages": RefN(2),
                      "AcroForm": {"Fields": [RefN(6)], "SigFlags": 3}}))
        emit(2, _ser({"Type": NameN("Pages"), "Kids": [RefN(3)], "Count": 1}))
        emit(3, _ser({"Type": NameN("Page"), "Parent": RefN(2),
                      "MediaBox": [0, 0, 612, 792],
                      "Resources": {"Font": {"F1": RefN(5)}},
                      "Contents": RefN(4)}))
        offs[4] = len(out)
        out.extend(b"4 0 obj\n" + _ser({"Filter": NameN("FlateDecode"),
                                        "Length": len(comp)}))
        out.extend(b"\nstream\n" + comp + b"\nendstream\nendobj\n")
        emit(5, _ser(HELV_FONT))
        emit(6, _ser({"FT": NameN("Sig"), "T": "Signature1",
                      "V": RefN(7)}))
        emit(7, _ser({"Type": NameN("Sig"),
                      "Filter": NameN("Adobe.PPKLite"),
                      "ByteRange": [0, 1, 2, 3]}))
        xref_pos = len(out)
        out.extend(b"xref\n0 8\n0000000000 65535 f \n")
        for n in range(1, 8):
            out.extend(f"{offs[n]:010d} 00000 n \n".encode())
        out.extend(b"trailer\n" + _ser({"Size": 8, "Root": RefN(1)}))
        out.extend(f"\nstartxref\n{xref_pos}\n%%EOF\n".encode())
        doc = PDDoc(bytes(out))
        assert doc.has_signature() is True
        assert "signed doc" in __import__("pdfio_spark.pd.extract",
                                          fromlist=["x"]).extract_doc(
                                              bytes(out))["text"]

    def test_page_get_fonts(self):
        """pdPageGetFonts merge semantics (PDPage.jl:134-141)."""
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        doc = PDDoc(build_fixture("flate_simple", ["x"]))
        fonts_map = doc.get_page(1).get_fonts()
        assert list(fonts_map) == ["F1"]
        assert fonts_map["F1"].fontname == "Courier"

    def test_page_boxes(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        page = PDDoc(build_fixture("flate_simple", ["x"])).get_page(1)
        assert page.get_media_box() == (0.0, 0.0, 612.0, 792.0)
        # no CropBox -> defaults to MediaBox (PDPage.jl:81-84)
        assert page.get_crop_box() == page.get_media_box()


class TestEncodingProbesEndToEnd:
    """MacRoman / Symbol / ZapfDingbats through the FULL parse stack
    (ref test/runtests.jl:759-782 spec-2.pdf MacRoman, :657-681 symbol),
    with the expected decodes cross-checked against sources INDEPENDENT
    of the shipped tables: Python's mac_roman codec and the public AGL."""

    def test_macroman_probe_matches_python_codec(self):
        from pdfio_spark.fixtures import (MACROMAN_PROBE,
                                          MACROMAN_PROBE_DECODED)
        assert (MACROMAN_PROBE.encode("latin-1").decode("mac_roman")
                == MACROMAN_PROBE_DECODED)

    def test_macroman_end_to_end(self):
        from pdfio_spark.fixtures import (build_fixture,
                                          MACROMAN_PROBE_DECODED)
        from pdfio_spark.pd.extract import extract_doc
        r = extract_doc(build_fixture("font_macroman", ["Doc 7: hi"]))
        assert r["status"] == "ok"
        assert r["text"] == ("         Doc 7: hi\n         "
                             + MACROMAN_PROBE_DECODED + "\n")

    def test_symbol_end_to_end(self):
        from pdfio_spark.fixtures import build_fixture, SYMBOL_PROBE_DECODED
        from pdfio_spark.pd.extract import extract_doc
        # public AGL: alpha 03B1 ... mu -> 00B5 MICRO, Omega -> 2126 OHM
        assert SYMBOL_PROBE_DECODED == (
            "αβγδπµΩ")
        r = extract_doc(build_fixture("font_symbol", ["Doc 42: x"]))
        assert r["status"] == "ok"
        assert r["text"] == ("         42\n         "
                             + SYMBOL_PROBE_DECODED + "\n")

    def test_zapf_end_to_end(self):
        from pdfio_spark.fixtures import build_fixture, ZAPF_PROBE_DECODED
        from pdfio_spark.pd.extract import extract_doc
        # public AGL (zapfdingbats list): a17..a21 -> U+2711..U+2715
        assert ZAPF_PROBE_DECODED == "✑✒✓✔✕"
        r = extract_doc(build_fixture("font_zapf", ["Doc 3: y"]))
        assert r["status"] == "ok"
        assert r["text"] == "         " + ZAPF_PROBE_DECODED + "\n"


class TestType3EndToEnd:
    """Type3 font through the full stack: /Widths + FirstChar like any
    simple font (ref PDFontMetrics.jl:160-177 — no Type3 branch),
    Differences skipped for the unicode map (ref PDFonts.jl:172),
    d0 in CharProcs never executed for extraction."""

    def test_type3_extracts(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.extract import extract_doc
        r = extract_doc(build_fixture("font_type3", ["Doc 9: type3 ABC"]))
        assert r["status"] == "ok"
        assert r["text"] == "         Doc 9: type3 ABC\n"

    def test_type3_font_name_and_widths(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        doc = PDDoc(build_fixture("font_type3", ["x"]))
        fonts = doc.get_page(1).get_fonts()  # name -> PDFont
        assert len(fonts) == 1
        pdf_font = next(iter(fonts.values()))
        # Type3 has no BaseFont: name falls back to /Name or 'Type3'
        assert str(pdf_font.fontname) == "Type3"
        # /Widths resolved through the simple-font path
        assert pdf_font.widths[ord("A")] == 600.0
        assert pdf_font.widths[0] == 0.0  # below FirstChar
        # Differences feed the glyph<->cid maps (width lookup by name)
        assert pdf_font.glyph_name_to_cid.get("glyphA") == 65


class TestStructTree:
    """D10 struct-tree reader (PDDocStruct.jl:24-65)."""

    def test_walk_structure(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        doc = PDDoc(build_fixture("tagged", ["Doc 3: abc", "line two"]))
        assert doc.is_tagged == "tagged"
        elems = list(doc.walk_structure())
        assert [e["role"] for e in elems] == ["Document", "H1",
                                              "Para", "Para"]
        # RoleMap resolves the custom Para role to standard P
        assert [e["mapped_role"] for e in elems][2:] == ["P", "P"]
        assert elems[1]["title"] == "Heading" and elems[1]["lang"] == "en"
        assert elems[3]["actual_text"] == "para-1"
        assert [e["depth"] for e in elems] == [0, 1, 1, 1]

    def test_untagged_doc_yields_nothing(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        doc = PDDoc(build_fixture("flate_simple", ["x"]))
        assert doc.get_structure_tree() is None
        assert list(doc.walk_structure()) == []


class TestDestinationLayouts:
    """N3 full layout matrix (PDOutline.jl:32-67). The reference reads
    FitV's left from v[4] (off-by-one that throws on spec-shaped
    arrays); we follow the spec and read v[3]."""

    def test_layout_matrix(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        from pdfio_spark.pd.navigation import get_outline
        # direct-dest items are Sec 1,3,5,... with layout idx 0,1,2,...;
        # even Sec numbers are named dests resolving to Fit
        pdf = build_fixture("outline_toc", [f"l{i}" for i in range(16)])
        items = get_outline(PDDoc(pdf))
        d = {i["title"]: i["dest"] for i in items}
        assert d["Sec 1"]["layout"] == "XYZ"
        assert (d["Sec 1"]["left"], d["Sec 1"]["top"],
                d["Sec 1"]["zoom"]) == (10.0, 700.0, 1.5)
        assert d["Sec 2"]["layout"] == "Fit"      # named dest
        assert d["Sec 3"]["layout"] == "Fit"      # direct Fit
        assert d["Sec 5"]["layout"] == "FitH" and d["Sec 5"]["top"] == 600.0
        assert d["Sec 7"]["layout"] == "FitV" and d["Sec 7"]["left"] == 50.0
        assert d["Sec 9"]["layout"] == "FitR"
        assert (d["Sec 9"]["left"], d["Sec 9"]["bottom"],
                d["Sec 9"]["right"], d["Sec 9"]["top"]) == (10, 20, 300, 400)
        assert d["Sec 11"]["layout"] == "FitB"
        assert d["Sec 13"]["layout"] == "FitBH" and d["Sec 13"]["top"] == 650
        assert d["Sec 15"]["layout"] == "FitBV" and d["Sec 15"]["left"] == 60
        assert all(i["dest"]["page_no"] == int(i["title"][4:])
                   for i in items)


class TestAttachments:
    """Embedded files via /Names/EmbeddedFiles (ISO 32000 7.11.4)."""

    def test_plain_and_encrypted(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        from pdfio_spark.pd.navigation import get_attachments
        for cls in ("with_attachment", "attach_encrypted"):
            pdf = build_fixture(cls, ["Doc 7: att"])
            atts = get_attachments(PDDoc(pdf))
            assert [(a["name"], a["data"]) for a in atts] == \
                [("attachment.txt", b"ATTACH:Doc 7: att")]

    def test_no_attachments(self):
        from pdfio_spark.fixtures import build_fixture
        from pdfio_spark.pd.pagetree import PDDoc
        from pdfio_spark.pd.navigation import get_attachments
        assert get_attachments(
            PDDoc(build_fixture("flate_simple", ["x"]))) == []
