"""Content-stream interpreter: tokenize postfix `operands... op` into a
group tree, then evaluate it against a graphics state.

Mirrors /root/reference/src/PDPageElement.jl: the 73-operator arity
table (:405-483), longest-match-3-byte keyword resolution (:485-497),
operand collection (:110-123), BT/ET and marked-content grouping,
inline images (:249-281), and the evalContent! state machine
(:654-852). All layout math is numpy float32.
"""
from __future__ import annotations

import numpy as np

from ..cos.lexer import _SPACE, _SPACE_RUN, Buf, ParseError
from ..cos.objects import Comment, HexStr, LitStr, Name, f32
from .fonts import get_text_box

__all__ = ["load_objects", "eval_content", "GState", "TextLayout",
           "new_state"]

# op -> (kind, noperand); kind: e=element, t=textrun, g=begin-group,
# E=end-group, i=inline-image. Group payload: text|marked.
_OPS: dict[bytes, tuple] = {}
for _name, _nop in [
        ("'", 1), ('"', 3), ("Tj", 1), ("TJ", 1)]:
    _OPS[_name.encode()] = ("t", _nop, None)
_OPS[b"BDC"] = ("g", 2, "marked")
_OPS[b"BMC"] = ("g", 1, "marked")
_OPS[b"BT"] = ("g", 0, "text")
_OPS[b"EMC"] = ("E", 0, None)
_OPS[b"ET"] = ("E", 0, None)
_OPS[b"BI"] = ("i", 0, None)
for _name, _nop in [
        ("b", 0), ("b*", 0), ("B", 0), ("B*", 0), ("BX", 0), ("c", 6),
        ("cm", 6), ("cs", 1), ("CS", 1), ("d", 2), ("d0", 2), ("d1", 6),
        ("Do", 1), ("DP", 0), ("EI", 0), ("EX", 0), ("f", 0), ("f*", 0),
        ("F", 0), ("g", 1), ("G", 1), ("gs", 1), ("h", 0), ("i", 1),
        ("ID", 0), ("j", 1), ("J", 1), ("k", 4), ("K", 4), ("l", 2),
        ("m", 2), ("M", 1), ("MP", 0), ("n", 0), ("q", 0), ("Q", 0),
        ("re", 4), ("rg", 3), ("RG", 3), ("ri", 1), ("s", 0), ("S", 0),
        ("sc", -1), ("SC", -1), ("scn", -1), ("SCN", -1), ("sh", 1),
        ("T*", 0), ("Tc", 1), ("Td", 2), ("TD", 2), ("Tf", 2), ("TL", 1),
        ("Tm", 6), ("Tr", 1), ("Ts", 1), ("Tw", 1), ("Tz", 1), ("v", 4),
        ("w", 1), ("W", 0), ("W*", 0), ("y", 4)]:
    _OPS[_name.encode()] = ("e", _nop, None)


# whole-token hits of the longest match below, one lookup each
_OP_TOKENS = {k: (len(k), (v[0], k.decode(), v[1], v[2]))
              for k, v in _OPS.items()}


def _get_content_op(token: bytes):
    """Longest-match over the first <=3 bytes (PDPageElement.jl:485-497)."""
    hit = _OP_TOKENS.get(token)
    if hit is not None:
        return hit
    s = min(len(token), 3)
    while s > 0:
        hit = _OPS.get(token[:s])
        if hit is not None:
            return s, (hit[0], token[:s].decode(), hit[1], hit[2])
        s -= 1
    raise ParseError(f"no content operator in {token[:3]!r}")


class Element:
    __slots__ = ("op", "noperand", "operands")

    def __init__(self, op: str, noperand: int):
        self.op = op
        self.noperand = noperand
        self.operands: list = []


class TextRun:
    __slots__ = ("ss", "elem")

    def __init__(self, elem: Element):
        self.elem = elem
        self.ss: list = []


class Group:
    __slots__ = ("objs", "is_eog")

    def __init__(self):
        self.objs: list = []
        self.is_eog = False


class TextObject:
    __slots__ = ("group",)

    def __init__(self):
        self.group = Group()


class MarkedContent:
    __slots__ = ("group",)

    def __init__(self):
        self.group = Group()


class InlineImage:
    __slots__ = ("params", "data")

    def __init__(self):
        self.params: dict = {}
        self.data = b""


_NODE_TYPES = (Element, TextRun, TextObject, MarkedContent, InlineImage)


def _populate_element(group: Group, elem: Element) -> None:
    """Pop fixed arity, or pop-while-operand for arity -1 (sc/scn)
    (PDPageElement.jl:110-123)."""
    objs = group.objs
    if elem.noperand >= 0:
        k = max(len(objs) - elem.noperand, 0)
    else:
        k = len(objs)
        while k and not isinstance(objs[k - 1], _NODE_TYPES):
            k -= 1
    elem.operands = objs[k:]
    del objs[k:]


def _collect_inline_image(img: InlineImage, buf: Buf) -> None:
    """BI params until ID elem, then raw scan for space-preceded EI
    (PDPageElement.jl:249-281)."""
    while True:
        value = buf.parse_value(_get_content_op)
        if isinstance(value, Name):
            v2 = buf.parse_value(_get_content_op)
            img.params[value] = v2
            continue
        if isinstance(value, tuple) and value[1] == "ID":
            break
        if value is None and buf.eof():
            return
    data, start = buf.data, buf.pos
    i = data.find(b"EI", start)
    while i >= 0 and i + 2 < len(data) and data[i + 2] not in _SPACE:
        i = data.find(b"EI", i + 1)
    if i < 0:
        img.data = data[start:]
        buf.pos = len(data)
    else:
        img.data = data[start:i]
        buf.pos = min(i + 3, len(data))


def load_objects(group: Group, buf: Buf) -> Group:
    """Token loop building the group tree (PDPageElement.jl:97-130)."""
    data = buf.data
    ln = len(data)
    objs = group.objs
    while not group.is_eog:
        p = buf.pos
        if p < ln and data[p] in _SPACE:
            p = buf.pos = _SPACE_RUN.match(data, p).end()
        if p >= ln:
            break
        obj = buf.parse_value(_get_content_op)
        if not isinstance(obj, tuple):  # a Ref is a tuple: it fails below
            if not isinstance(obj, Comment):
                objs.append(obj)
            continue
        kind, op, nop, gtype = obj
        if kind == "i":
            img = InlineImage()
            _collect_inline_image(img, buf)
            objs.append(img)
            continue
        elem = Element(op, nop)
        _populate_element(group, elem)
        if kind == "e":
            objs.append(elem)
        elif kind == "t":
            tr = TextRun(elem)
            for operand in elem.operands:
                if isinstance(operand, (LitStr, HexStr)):
                    tr.ss.append(operand)
                elif isinstance(operand, list):
                    tr.ss.extend(operand)
            objs.append(tr)
        elif kind == "g":
            newobj = TextObject() if gtype == "text" else MarkedContent()
            newobj.group.objs.append(elem)
            load_objects(newobj.group, buf)
            objs.append(newobj)
        else:  # "E"
            objs.append(elem)
            group.is_eog = True
    return group


# --------------------------------------------------------- evaluation

class TextLayout:
    """Span: 4 transformed corners + text + font (PDPageElement.jl:499-516)."""
    __slots__ = ("lbx", "lby", "rbx", "rby", "rtx", "rty", "ltx", "lty",
                 "text", "fontname", "fontflags")

    def __init__(self, lbx, lby, rbx, rby, rtx, rty, ltx, lty,
                 text, fontname, fontflags):
        self.lbx, self.lby = lbx, lby
        self.rbx, self.rby = rbx, rby
        self.rtx, self.rty = rtx, rty
        self.ltx, self.lty = ltx, lty
        self.text = text
        self.fontname = fontname
        self.fontflags = fontflags


# State matrices are never written in place (every operator builds a new
# one), so one read-only identity serves every reset.
_IDENT3 = np.identity(3, dtype=np.float32)
_IDENT3.flags.writeable = False


class GState:
    """Stack of state dicts with copy-on-save (PDPageElement.jl:552-588)."""
    __slots__ = ("stack",)

    def __init__(self):
        d = {
            "text_layout": [],
            "h_profile": {},
            "CTM": _IDENT3,
            "Tc": f32(0.0), "Tw": f32(0.0), "Tz": f32(100.0),
            "TL": f32(0.0), "Tr": 0, "Ts": f32(0.0),
        }
        self.stack = [d]

    def __getitem__(self, k):
        return self.stack[-1][k]

    def get(self, k, default=None):
        return self.stack[-1].get(k, default)

    def __setitem__(self, k, v):
        self.stack[-1][k] = v

    def delete(self, k):
        self.stack[-1].pop(k, None)

    def save(self):
        self.stack.append(dict(self.stack[-1]))

    def restore(self):
        if len(self.stack) > 1:
            self.stack.pop()


def new_state() -> GState:
    return GState()


def _mat(a, b, c, d, e, fv) -> np.ndarray:
    return np.array([[a, b, 0.0], [c, d, 0.0], [e, fv, 1.0]],
                    dtype=np.float32)


def _translate(m: np.ndarray, tx, ty) -> np.ndarray:
    """[1 0 0; 0 1 0; tx ty 1] @ m — only row 2 changes; same f32
    3-term sequential arithmetic as the full matmul."""
    out = m.copy()
    out[2] = tx * m[0] + ty * m[1] + m[2]
    return out


def _set_text_pos(tx, ty, state: GState) -> None:
    """(PDPageElement.jl:788-798)."""
    tlm = state.get("Tlm")
    if tlm is None:
        tlm = _IDENT3
    tlm = _translate(tlm, tx, ty)
    state["Tm"] = tlm
    state["Tlm"] = tlm


def _offset_text_pos(tx, ty, state: GState) -> None:
    tm = state.get("Tm")
    if tm is None:
        tm = _IDENT3
    state["Tm"] = _translate(tm, tx, ty)


def _offset_text_leading(state: GState) -> None:
    tl = state.get("TL", f32(0.0))
    _set_text_pos(f32(0.0), -tl, state)


_F0 = f32(0.0)
_F100 = f32(100.0)
_NO_FONT = (Name(""), None)
_BOX = np.array([[0.0, 0.0, 1.0], [0.0, 0.0, 1.0],
                 [0.0, 0.0, 1.0], [0.0, 0.0, 1.0]], dtype=np.float32)


def _eval_text_run(tr: TextRun, state: GState, ctx) -> None:
    """(PDPageElement.jl:682-711) — the byte-identical-critical kernel."""
    if tr.elem.op in ("'", '"'):  # Tj and TJ change no state first
        _eval_element(tr.elem, state, ctx)
    st = state.stack[-1]
    tfs = st.get("fontsize", _F0)
    th = st["Tz"] / _F100
    tm = st.get("Tm")
    if tm is None:
        tm = _IDENT3
    trm = tm @ st["CTM"]

    fontname, font = st.get("font", _NO_FONT)
    text, w, h = get_text_box(tr.ss, font, tfs, st["Tc"], st["Tw"], th)

    d = st["h_profile"]
    # the reference's rint(h * 10): a float32 h times 10 is a float64
    # product, and round() rounds half to even like np.rint
    ih = round(float(h) * 10)
    d[ih] = d.get(ih, 0) + len(text)

    # the box corners [[0 0 1] [w 0 1] [w h 1] [0 h 1]] @ trm
    box = _BOX.copy()
    box[1, 0] = box[2, 0] = w
    box[2, 1] = box[3, 1] = h
    tb = box @ trm
    if not st.get("in_artifact", False):
        # span fontname is the Tf resource name (PDPageElement.jl:704-706)
        st["text_layout"].append(TextLayout(
            tb[0, 0], tb[0, 1], tb[1, 0], tb[1, 1],
            tb[2, 0], tb[2, 1], tb[3, 0], tb[3, 1],
            text, fontname, font.flags if font is not None else 0))
    _offset_text_pos(w, _F0, state)


def _eval_element(elem: Element, state: GState, ctx) -> None:
    op = elem.op
    ops = elem.operands
    if op == "q":
        state.save()
    elif op == "Q":
        state.restore()
    elif op == "cm":
        cm = _mat(*(f32(x) for x in ops[:6]))
        state["CTM"] = cm @ state["CTM"]
    elif op == "Tm":
        tm = _mat(*(f32(x) for x in ops[:6]))
        state["Tm"] = tm
        state["Tlm"] = tm
    elif op == "Tf":
        if len(ops) >= 2:
            fontname = ops[0]
            font = ctx.get_font(fontname) if ctx is not None else None
            # reference: font === CosNull -> return without touching
            # fontsize (PDPageElement.jl:770-780)
            if font is not None:
                state["font"] = (fontname, font)
                state["fontsize"] = f32(ops[1])
    elif op in ("Tc", "Tw", "Tz", "TL", "Ts"):
        state[op] = f32(ops[0])
    elif op == "Tr":
        state["Tr"] = f32(ops[0])
    elif op == "TD":
        tx, ty = f32(ops[0]), f32(ops[1])
        state["TL"] = -ty
        _set_text_pos(tx, ty, state)
    elif op == "Td":
        _set_text_pos(f32(ops[0]), f32(ops[1]), state)
    elif op == "T*":
        _offset_text_leading(state)
    elif op == "'":
        _offset_text_leading(state)
    elif op == '"':
        state["Tw"] = f32(ops[0])
        state["Tc"] = f32(ops[1])
        _offset_text_leading(state)
    elif op == "Do":
        if ctx is not None:
            xobj = ctx.get_xobject(ops[0])
            if xobj is not None:
                xobj.do(state)
    # all path/color/state ops: parsed for arity, evaluated as no-ops


def eval_content(group: Group, state: GState, ctx=None) -> GState:
    """evalContent! dispatch (PDPageElement.jl:654-736)."""
    for obj in group.objs:
        if isinstance(obj, Element):
            _eval_element(obj, state, ctx)
        elif isinstance(obj, TextRun):
            _eval_text_run(obj, state, ctx)
        elif isinstance(obj, TextObject):
            state["Tm"] = _IDENT3
            state["Tlm"] = _IDENT3
            eval_content(obj.group, state, ctx)
            state.delete("Tm")
            state.delete("Tlm")
        elif isinstance(obj, MarkedContent):
            first = obj.group.objs[0] if obj.group.objs else None
            tag = (first.operands[0] if isinstance(first, Element)
                   and first.operands else None)
            if tag == Name("Artifact"):
                state["in_artifact"] = True
                eval_content(obj.group, state, ctx)
                state.delete("in_artifact")
            else:
                eval_content(obj.group, state, ctx)
        # InlineImage / bare COS objects: no-op
    return state
