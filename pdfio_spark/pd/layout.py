"""Text layout assembly: span ordering + monospace rendering.

Transliterates the reference's byte-identical output kernel:
 - span comparator with superscript y-tolerance
   (/root/reference/src/PDPageElement.jl:528-548); the comparator is
   non-lexicographic (pairwise tolerance) so it stays in Python — a
   Window.orderBy cannot express it;
 - show_text_layout!: dominant char height from the h_profile
   histogram, Courier 0.6 width ratio, newline/space emission
   (/root/reference/src/PDPageElement.jl:590-652).

All arithmetic is numpy float32 in the reference's op order.
"""
from __future__ import annotations

from functools import cmp_to_key

import numpy as np

from ..cos.objects import f32

__all__ = ["span_sort", "show_text_layout", "span_width", "span_height"]


def span_width(tl) -> np.float32:
    dx = tl.rbx - tl.lbx
    dy = tl.rby - tl.lby
    return np.sqrt(dx * dx + dy * dy)


def span_height(tl) -> np.float32:
    dx = tl.ltx - tl.lbx
    dy = tl.lty - tl.lby
    return np.sqrt(dx * dx + dy * dy)


def _isless(tl1, tl2) -> bool:
    """(PDPageElement.jl:530-548): 'less' = lower on page, or same line
    and further right; tolerance = larger half-height."""
    y2 = max(tl2.lby, tl2.rby, tl2.rty, tl2.lty)
    x2 = min(tl2.lbx, tl2.rbx, tl2.rtx, tl2.ltx)
    y1 = max(tl1.lby, tl1.rby, tl1.rty, tl1.lty)
    x1 = min(tl1.lbx, tl1.rbx, tl1.rtx, tl1.ltx)
    dy = y1 - y2
    dx = x1 - x2
    ytol1 = (tl1.lty - tl1.lby) / f32(2.0)
    ytol2 = (tl2.lty - tl2.lby) / f32(2.0)
    ytol = ytol1 if abs(ytol1) > abs(ytol2) else ytol2
    if dy < -ytol:
        return True
    if dy > ytol:
        return False
    return dx > 0


def _cmp(a, b) -> int:
    # sort!(heap, lt = >) == ascending by (b,a)-isless == reading order
    if _isless(b, a):
        return -1
    if _isless(a, b):
        return 1
    return 0


def span_sort(heap: list) -> list:
    return sorted(heap, key=cmp_to_key(_cmp))


def show_text_layout(state) -> str:
    """(PDPageElement.jl:590-652)."""
    heap = span_sort(state["text_layout"])
    szdict: dict = state["h_profile"]

    out: list[str] = []
    x = f32(0.0)
    y = f32(-1.0)

    pairs = sorted(szdict.items(), key=lambda kv: -kv[1])
    if not pairs:
        return ""
    iht = pairs[0][0]
    ht = f32(iht) * f32(0.1)

    xwr = f32(0.6)  # Courier X width ratio
    ph = f32(0.0)
    npc = 0
    seven = f32(7.0)
    pt1 = f32(0.1)
    for tl in heap:
        h = span_height(tl)
        if h > seven * ht:
            ht = h
        xw = xwr * ht
        nc = len(tl.text)
        if nc:
            w = span_width(tl) / f32(nc)
        else:  # an empty span divides by zero: inf, or nan for 0/0
            with np.errstate(divide="ignore", invalid="ignore"):
                w = span_width(tl) / f32(nc)
        if not (w > pt1 and h > pt1):
            continue
        if ht > h:
            while y > tl.lty:
                out.append("\n")
                y = y - ht
                x = f32(0.0)
        else:
            while y > tl.lby + ht:
                out.append("\n")
                y = y - ht
                x = f32(0.0)
            y = tl.lby
        y = tl.lby
        # sub/superscript spacer; dropcap exception (PDPageElement.jl:635)
        if (x > tl.lbx - xw) and (ph < h or (ph > h and npc > 1)):
            out.append(" ")
        while x < tl.lbx - xw:
            out.append(" ")
            x = x + xw
        x = tl.lbx
        out.append(tl.text)
        x = x + span_width(tl)
        while x < tl.rbx - xw:
            out.append(" ")
            x = x + xw
        x = tl.rbx
        ph = h
        npc = nc
    return "".join(out)
