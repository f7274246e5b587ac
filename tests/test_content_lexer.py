"""Corner cases of the COS token loop as the content interpreter drives
it: the reference's cursor arithmetic (constants and operators consume
their token plus ONE whitespace byte, CosReader.jl:80-112), the `R`
delimiter guard, operand collection and grouping (PDPageElement.jl:
97-130) and the inline-image data scan (PDPageElement.jl:249-281)."""
import pytest

from pdfio_spark.cos import Buf, LitStr, Name, Ref
from pdfio_spark.cos.objects import Comment, f32
from pdfio_spark.pd.content import (Element, Group, InlineImage, TextRun,
                                    _get_content_op, eval_content,
                                    load_objects, new_state)


def lex(data: bytes) -> list:
    return load_objects(Group(), Buf(data)).objs


def ops(objs) -> list:
    return [o.op if isinstance(o, Element) else o.elem.op
            if isinstance(o, TextRun) else type(o).__name__ for o in objs]


class TestConstants:
    def test_true_false_null_consume_one_space(self):
        # token + exactly one whitespace byte, however many follow
        for data, val, pos in ((b"true  x", True, 5),
                               (b"false\n\n1", False, 6),
                               (b"null \t7", None, 5)):
            b = Buf(data)
            assert b.parse_value() is val
            assert b.pos == pos, data

    def test_constant_at_eof(self):
        for data in (b"true", b"null", b"false ", b"true\r\n"):
            b = Buf(data)
            b.parse_value()
            assert b.pos == len(data)

    def test_constant_before_delimiter(self):
        b = Buf(b"true/X")
        assert b.parse_value() is True
        assert b.pos == 4 and b.parse_value() == Name("X")


class TestOperatorCursor:
    def test_operator_consumes_one_space(self):
        b = Buf(b"Tj   (x)")
        assert b.parse_value(_get_content_op)[1] == "Tj"
        assert b.pos == 3

    def test_parse_more_claims_fewer_bytes(self):
        # "qQ" is no operator: longest match is "q" (1 byte), and the
        # cursor resets to just past it, so "Q" is the next token
        b = Buf(b"qQ 1 w")
        assert b.parse_value(_get_content_op)[1] == "q"
        assert b.pos == 1
        assert b.parse_value(_get_content_op)[1] == "Q"
        assert b.pos == 3

    def test_glued_operators_group(self):
        objs = lex(b"BTET q")
        assert ops(objs) == ["TextObject", "q"]
        assert ops(objs[0].group.objs) == ["BT", "ET"]

    def test_glued_operator_keeps_following_operand(self):
        objs = lex(b"BT 12 TL T*0 Tc ET")
        assert ops(objs[0].group.objs) == ["BT", "TL", "T*", "Tc", "ET"]
        assert objs[0].group.objs[3].operands == [0]


class TestReferences:
    def test_rg_is_not_a_reference(self):
        objs = lex(b"1 0 0 RG 0 1 0 RG")
        assert ops(objs) == ["RG", "RG"]
        assert objs[0].operands == [1, 0, 0]
        assert objs[1].operands == [0, 1, 0]

    def test_reference_needs_delimiter_or_space_or_eof(self):
        for data in (b"12 0 R", b"12 0 R ", b"12 0 R/X", b"12 0 R]",
                     b"12\n0\rR\n"):
            b = Buf(data)
            assert b.parse_value() == Ref(12, 0), data
        b = Buf(b"12 0 Rx")
        assert b.parse_value() == 12 and b.pos == 3
        assert b.parse_value() == 0 and b.pos == 5

    def test_reference_in_content_fails_the_stream(self):
        # a Ref is a tuple, and the token loop unpacks tuples as
        # operators: the page is quarantined, as before
        with pytest.raises(ValueError):
            lex(b"BT 1 0 R Tj ET")

    def test_float_before_integer_pair(self):
        b = Buf(b"1.5 0 R")
        v = b.parse_value()
        assert v == f32(1.5) and b.pos == 4

    def test_refs_in_arrays_and_dicts(self):
        b = Buf(b"[1 0 R 2 3 4 0 R] << /A 5 0 R /B 6 /C [7] >>")
        assert b.parse_value() == [Ref(1, 0), 2, 3, Ref(4, 0)]
        assert b.parse_value() == {Name("A"): Ref(5, 0), Name("B"): 6,
                                   Name("C"): [7]}
        assert b.pos == 44


class TestTextOperands:
    def test_quote_operators(self):
        objs = lex(b"BT (a) ' 1 2 (b) \" ET")
        tr1, tr2 = objs[0].group.objs[1:3]
        assert isinstance(tr1, TextRun) and tr1.elem.op == "'"
        assert tr1.ss == [LitStr(b"a")]
        assert isinstance(tr2, TextRun) and tr2.elem.op == '"'
        assert tr2.elem.operands == [1, 2, LitStr(b"b")]
        assert tr2.ss == [LitStr(b"b")]

    def test_double_quote_sets_spacing(self):
        state = new_state()
        eval_content(load_objects(Group(), Buf(
            b"BT 14 TL 3 0.5 (b) \" ET")), state)
        assert state["Tw"] == f32(3) and state["Tc"] == f32(0.5)

    def test_tj_array_mixes_strings_and_kerns(self):
        objs = lex(b"BT [(a) -250 (b) 12.5 <63>] TJ ET")
        tr = objs[0].group.objs[1]
        assert tr.elem.op == "TJ"
        assert [bytes(x) if isinstance(x, bytes) else x for x in tr.ss] \
            == [b"a", -250, b"b", f32(12.5), b"63"]


class TestGroups:
    def test_nested_bt_et_and_bdc_emc(self):
        objs = lex(b"/P <</MCID 0>> BDC BT /F1 12 Tf (x) Tj ET "
                   b"/Span BMC /Artifact BMC q Q EMC EMC EMC 1 w")
        assert ops(objs) == ["MarkedContent", "w"]
        mc = objs[0].group.objs
        assert ops(mc) == ["BDC", "TextObject", "MarkedContent", "EMC"]
        assert mc[0].operands == [Name("P"), {Name("MCID"): 0}]
        assert ops(mc[1].group.objs) == ["BT", "Tf", "Tj", "ET"]
        inner = mc[2].group.objs
        assert ops(inner) == ["BMC", "MarkedContent", "EMC"]
        assert ops(inner[1].group.objs) == ["BMC", "q", "Q", "EMC"]

    def test_unclosed_group_ends_at_eof(self):
        objs = lex(b"BT (a) Tj")
        assert ops(objs) == ["TextObject"]
        assert ops(objs[0].group.objs) == ["BT", "Tj"]

    def test_operands_short_of_arity(self):
        objs = lex(b"5 cm")
        assert objs[0].op == "cm" and objs[0].operands == [5]
        # fixed arity pops whatever precedes, elements included
        objs = lex(b"q 0 1 RG")
        assert ops(objs) == ["RG"]
        assert objs[0].operands[0].op == "q"
        assert objs[0].operands[1:] == [0, 1]

    def test_scn_takes_every_preceding_operand(self):
        objs = lex(b"q 0.1 0.2 /P1 scn")
        assert ops(objs) == ["q", "scn"]
        assert objs[1].operands == [f32(0.1), f32(0.2), Name("P1")]


class TestInlineImage:
    def test_ei_inside_data_not_followed_by_space(self):
        objs = lex(b"q BI /W 2 /H 1 /BPC 8 ID \x00EIx\x01EI\x02EI Q")
        img = objs[1]
        assert isinstance(img, InlineImage)
        assert img.params == {Name("W"): 2, Name("H"): 1, Name("BPC"): 8}
        assert img.data == b"\x00EIx\x01EI\x02"
        assert ops(objs) == ["q", "InlineImage", "Q"]

    def test_id_consumes_one_space_only(self):
        objs = lex(b"BI /W 1 ID  \n EI")
        assert objs[0].data == b" \n "  # the space before EI is data

    def test_ei_at_eof_and_missing_ei(self):
        objs = lex(b"BI /W 1 ID abcEI")
        assert objs[0].data == b"abc"
        objs = lex(b"BI /W 1 ID abcEIdef")
        assert objs[0].data == b"abcEIdef"


class TestComments:
    def test_comment_at_eof_without_newline(self):
        b = Buf(b"% trailing comment")
        c = b.parse_value()
        assert isinstance(c, Comment) and bytes(c) == b" trailing comment"
        assert b.pos == len(b.data)

    def test_comment_ends_at_cr_or_lf(self):
        b = Buf(b"%a b\r\n 7 %c\n/N")
        assert bytes(b.parse_value()) == b"a b"
        assert b.pos == 7 and b.parse_value() == 7
        assert bytes(b.parse_value()) == b"c"
        assert b.pos == 12 and b.parse_value() == Name("N")

    def test_comments_skipped_in_content(self):
        objs = lex(b"BT %c1\n (a) Tj % c2\r\nET % at eof")
        assert ops(objs) == ["TextObject"]
        assert ops(objs[0].group.objs) == ["BT", "Tj", "ET"]
