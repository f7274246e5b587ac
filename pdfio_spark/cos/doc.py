"""COS document: file structure, xref resolution, object access.

Mirrors cosDocOpen / doc_trailer_update / read_xref_* / cosDocGetObject
(/root/reference/src/CosDoc.jl:132-519) and the xref-stream decoder
(/root/reference/src/CosObjStream.jl:23-76), re-expressed over an
in-memory bytes buffer. One CosDoc lives per input row inside the
extraction UDF; nothing here touches Spark.
"""
from __future__ import annotations

import re

import numpy as np

from .lexer import Buf, ParseError
from .objects import IndirectObject, Name, ObjStm, Ref, Stream

__all__ = ["CosDoc", "PDFError"]

_STREAM = b"stream"
_ENDSTREAM = b"endstream"
_ENDOBJ = b"endobj"
_OBJ = b"obj"
_STARTXREF = b"startxref"
_EOF_MARK = b"%%EOF"
_XREF = b"xref"
_TRAILER = b"trailer"

_HEADER_RE = re.compile(rb"%(PDF|FDF)-(\d)\.(\d)")
_POW10_10 = np.array([10 ** (9 - i) for i in range(10)], dtype=np.int64)
_POW10_5 = np.array([10 ** (4 - i) for i in range(5)], dtype=np.int64)


class PDFError(Exception):
    pass


class _ObjectLoc:
    """xref entry: byte offset or (objstm ref, index) + memoized object.
    Mirrors CosObjectLoc (/root/reference/src/CosReader.jl:287-292)."""
    __slots__ = ("loc", "stm", "obj", "resolved", "_resolving")

    def __init__(self, loc: int, stm: Ref | None = None):
        self.loc = loc
        self.stm = stm
        self.obj = None
        self.resolved = False
        self._resolving = False


class CosDoc:
    """Per-document parse state over in-memory PDF bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.buf = Buf(data)
        self.hoffset = 0
        self.version = (0, 0)
        self.header = ""
        self.is_pdf = False
        self.startxref = 0
        self.xref: dict[Ref, _ObjectLoc] = {}
        self.trailers: list[dict] = []
        self.xrefstm: list[Stream] = []
        self.has_native_xrefstm = False
        self.encrypt = None
        self.sec_handler = None

        self._read_header()
        # reference: only %PDF headers get the xref machinery; %FDF
        # documents skip it (cosDocOpen isPDF gate, CosDoc.jl:140-141)
        self.is_pdf = self.header == "PDF"
        if self.is_pdf:
            self._read_trailers()
        enc_ref = self.trailer.get(Name("Encrypt")) if self.trailer else None
        if enc_ref is not None:
            self.encrypt = self.get_object(enc_ref)
            from .crypt import make_sec_handler
            self.sec_handler = make_sec_handler(self)

    # ---- header (read_header, CosDoc.jl:334-378) ----
    def _read_header(self) -> None:
        # scan the first chunk for %PDF-x.y, tolerating junk before it
        window = self.data[:8192]
        m = _HEADER_RE.search(window)
        if m is None:
            m = _HEADER_RE.search(self.data)
        if m is None:
            raise PDFError("bad header: no %PDF-x.y found")
        self.header = m.group(1).decode("ascii")
        self.version = (int(m.group(2)), int(m.group(3)))
        self.hoffset = m.start()

    # ---- trailer + xref chain (doc_trailer_update, CosDoc.jl:393-415) ----
    @property
    def trailer(self) -> dict:
        if self.has_native_xrefstm:
            return self.xrefstm[0].dict
        return self.trailers[0] if self.trailers else {}

    def _seek(self, loc: int) -> Buf:
        b = Buf(self.data)
        b.pos = loc + self.hoffset
        return b

    def _read_trailers(self) -> None:
        tail_at = max(0, len(self.data) - 256)
        idx = self.data.rfind(_STARTXREF, tail_at)
        if idx < 0:
            idx = self.data.rfind(_STARTXREF)
        if idx < 0:
            raise PDFError("startxref not found")
        b = Buf(self.data, idx + len(_STARTXREF))
        b.chomp_space()
        self.startxref = b.parse_number()
        b.chomp_space()
        if not self.data.startswith(_EOF_MARK, b.pos):
            raise PDFError("%%EOF not found after startxref")

        b = self._seek(int(self.startxref))
        self._read_xref_chain(b)

    def _read_xref_chain(self, b: Buf) -> None:
        """Walk the /Prev chain, dispatching EACH section by what the
        offset points at — a classic `xref` table (CosDoc.jl:457-483)
        or a /Type /XRef stream (CosDoc.jl:437-455). Real-world
        incremental updates can mix styles (a classic document amended
        with a cross-reference stream and vice versa — our own
        writer.append_update emits both), so per-section dispatch
        replaces the r5 assumption of a homogeneous chain. Visited
        offsets share ONE cycle guard across both section kinds: a
        corrupt /Prev ping-ponging between a table and a stream must
        terminate, not loop forever (r4/r6)."""
        found = False
        first_section = True
        seen: set[int] = set()
        while True:
            b.chomp_space()
            is_stream = 0x30 <= b.peek() <= 0x39
            if first_section:
                # trailer precedence keys off the NEWEST section's kind
                self.has_native_xrefstm = is_stream
                first_section = False
            if is_stream:
                stm = self._parse_indirect_obj(b).obj
                if not isinstance(stm, (Stream, ObjStm)):
                    raise PDFError("xref stream expected")
                if isinstance(stm, ObjStm):
                    stm = stm.stm
                trailer = stm.dict
                if not found and trailer.get(Name("Root")) is None:
                    raise PDFError("bad trailer: no /Root in first "
                                   "xref stream")
                self.xrefstm.append(stm)
                self._read_xref_stream(stm)
            else:
                self._read_xref_table(b)
                trailer = self._read_trailer_dict(b)
                if not found and trailer.get(Name("Root")) is None:
                    raise PDFError("bad trailer: no /Root")
                self.trailers.append(trailer)
                loc = trailer.get(Name("XRefStm"))
                if loc is not None:
                    hb = self._seek(int(loc))
                    hstm = self._parse_indirect_obj(hb).obj
                    if isinstance(hstm, ObjStm):
                        hstm = hstm.stm
                    if isinstance(hstm, Stream):
                        self._read_xref_stream(hstm)
            found = True
            prev = trailer.get(Name("Prev"))
            if prev is None or int(prev) in seen:
                break
            seen.add(int(prev))
            b = self._seek(int(prev))

    def _read_trailer_dict(self, b: Buf) -> dict:
        b.chomp_space()
        if b.locate_keyword(_TRAILER, len(_TRAILER)) < 0:
            raise PDFError("trailer keyword not found")
        b.chomp_space()
        b.skipv(b"<")
        b.skipv(b"<")
        d = b.parse_dict()
        b.chomp_space()
        return d

    def _read_xref_table(self, b: Buf) -> None:
        """Classic 20-byte-record xref section (CosDoc.jl:490-519);
        first-seen entry wins across incremental updates. Sections are
        decoded with numpy (real PDFs carry thousands of records)."""
        # tolerate a /Prev offset landing on whitespace before 'xref'
        # (common writer off-by-one; the FIRST table already got this
        # tolerance through _read_trailers' chomp_space)
        b.chomp_space()
        b.skipv(_XREF)
        b.chomp_eol()
        while True:
            if b.eof() or not (0x30 <= b.peek() <= 0x39):
                break
            oid = b.parse_unsignednumber()
            n_entry = b.parse_unsignednumber()
            raw = b.read(20 * n_entry)
            if len(raw) < 20 * n_entry:
                raise PDFError("short xref record")
            arr = np.frombuffer(raw, dtype=np.uint8).reshape(n_entry, 20)
            digs = arr[:, 0:10].astype(np.int64) - 0x30
            offsets = digs @ _POW10_10
            gens = (arr[:, 11:16].astype(np.int64) - 0x30) @ _POW10_5
            in_use = arr[:, 17] != 0x66  # 'f'
            xref = self.xref
            for i, off, gen in zip(np.nonzero(in_use)[0].tolist(),
                                   offsets[in_use].tolist(),
                                   gens[in_use].tolist()):
                ref = Ref(oid + i, gen)
                if ref not in xref:
                    xref[ref] = _ObjectLoc(off)

    def _read_xref_stream(self, stm: Stream) -> None:
        """Binary W-field records of an xref stream
        (/root/reference/src/CosObjStream.jl:23-76)."""
        if stm.dict.get(Name("Type")) != Name("XRef"):
            raise PDFError("not an XRef stream")
        size = stm.dict.get(Name("Size"))
        w = stm.dict.get(Name("W"))
        if size is None or w is None or len(w) != 3:
            raise PDFError("bad XRef stream dict")
        index = stm.dict.get(Name("Index"))
        if index is None:
            index = [0, int(size)]
        data = stm.decoded(self)
        w_n = [int(x) for x in w]
        recsize = sum(w_n)
        datasize = len(data)
        it = 0
        for i in range(0, len(index), 2):
            start_oid = int(index[i])
            count = int(index[i + 1])
            for j in range(count):
                if it + recsize > datasize:
                    # partial final record (truncated stream): keep the
                    # entries already decoded — `it >= datasize` alone
                    # let data[p+k] index past the end (r4)
                    return
                oid = start_oid + j
                rec = []
                p = it
                for tw in w_n:
                    v = 0
                    for k in range(tw):
                        v = v * 256 + data[p + k]
                    p += tw
                    rec.append(v)
                it += recsize
                typ = rec[0] if w_n[0] > 0 else 1
                if typ == 1:
                    ref = Ref(oid, rec[2])
                    if ref not in self.xref:
                        self.xref[ref] = _ObjectLoc(rec[1])
                elif typ == 2:
                    ref = Ref(oid, 0)
                    if ref not in self.xref:
                        self.xref[ref] = _ObjectLoc(rec[2], Ref(rec[1], 0))
                # typ 0: free entry, skipped

    # ---- indirect object parsing (parse_indirect_obj, CosReader.jl:352-368) ----
    def _parse_indirect_obj(self, b: Buf, decrypt: bool = True) -> IndirectObject:
        b.chomp_space()
        objn = b.parse_unsignednumber()
        b.chomp_space()
        genn = b.parse_unsignednumber()
        b.chomp_space()
        b.skipv(_OBJ)
        obj = b.parse_value()
        b.chomp_space()
        obj = self._postprocess(b, obj)
        b.chomp_space()
        try:
            b.skipv(_ENDOBJ)
        except ParseError:
            pass  # tolerate missing endobj in damaged files
        ind = IndirectObject(objn, genn, obj)
        if decrypt and self.sec_handler is not None:
            from .crypt import decrypt_object
            decrypt_object(self.sec_handler, ind)
        if isinstance(ind.obj, Stream) and \
                ind.obj.dict.get(Name("Type")) == Name("ObjStm"):
            ind.obj = ObjStm(ind.obj)
        return ind

    def _postprocess(self, b: Buf, obj):
        """Detect `stream`, resolve (possibly indirect) /Length, slurp the
        payload (postprocess_indirect_object, CosReader.jl:317-344)."""
        if not isinstance(obj, dict):
            return obj
        if b.locate_keyword(_STREAM, len(_STREAM)) != 0:
            return obj
        # EOL after `stream`: CR LF or LF
        c = b.advance()
        if c == 0x0D:
            b.skipv(b"\n")
        elif c != 0x0A:
            raise PDFError("bad EOL after stream keyword")
        pos = b.pos
        stmlen = obj.get(Name("Length"))
        if isinstance(stmlen, Ref):
            stmlen = self.get_object(stmlen)
            obj[Name("Length")] = stmlen
        if stmlen is None:
            # missing /Length or its ref resolved to nothing: ParseError
            # keeps the failure inside get_object's object-level
            # quarantine (int(None) raised TypeError, which escaped it
            # and failed the whole document — r4)
            raise ParseError("stream /Length missing or unresolvable")
        ln = int(stmlen)
        data = self.data[pos:pos + ln]
        b.pos = pos + ln
        b.chomp_space()
        try:
            b.skipv(_ENDSTREAM)
        except ParseError:
            # tolerate off-by-EOL Length errors: search nearby
            idx = self.data.find(_ENDSTREAM, pos, pos + ln + 4096)
            if idx < 0:
                raise
            data = self.data[pos:idx]
            # strip at most one trailing EOL the writer added
            if data.endswith(b"\r\n"):
                data = data[:-2]
            elif data.endswith(b"\n") or data.endswith(b"\r"):
                data = data[:-1]
            b.pos = idx + len(_ENDSTREAM)
        return Stream(obj, bytes(data))

    # ---- object access (cosDocGetObject, CosDoc.jl:274-313) ----
    def get_object(self, ref):
        """Resolve a Ref to its object (memoized); direct objects pass
        through unchanged."""
        if not isinstance(ref, Ref):
            return ref
        loc = self.xref.get(ref)
        if loc is None:
            return None
        if loc.resolved:
            return loc.obj
        if loc.stm is None:
            b = self._seek(loc.loc)
            try:
                ind = self._parse_indirect_obj(b)
                loc.obj = ind.obj
            except (ParseError, PDFError, ValueError, IndexError):
                loc.obj = None
            loc.resolved = True
            return loc.obj
        # object inside an object stream — guard against a corrupt
        # xref marking the container chain circular (S-in-S or
        # A-in-B-in-A would recurse unboundedly: `resolved` is only
        # set AFTER the recursive call returns; r5 core review)
        if loc._resolving:
            loc.obj = None
            loc.resolved = True
            return None
        loc._resolving = True
        objstm = self.get_object(loc.stm)
        if objstm is None:
            objstm = self._scan_object_stream(loc.stm)
        if not isinstance(objstm, ObjStm):
            if isinstance(objstm, Stream) and \
                    objstm.dict.get(Name("Type")) == Name("ObjStm"):
                objstm = ObjStm(objstm)
                self.xref[loc.stm].obj = objstm
            else:
                loc.resolved = True
                return None
        try:
            objstm.populate(self)
            if objstm.oids[loc.loc] != ref.num:
                loc.obj = None
            else:
                loc.obj = objstm.get_object_at(loc.loc, self)
        except (ParseError, PDFError, ValueError, IndexError):
            loc.obj = None
        loc.resolved = True
        return loc.obj

    def _scan_object_stream(self, stmref: Ref):
        """Recovery scan for an ObjStm missing from the xref
        (scan_object_stream, CosDoc.jl:315-332)."""
        look_ahead = 2048
        loc = max(0, self.startxref - look_ahead)
        keyword = f"{stmref.num} {stmref.gen} obj".encode("ascii")
        idx = self.data.find(keyword, loc + self.hoffset,
                             self.startxref + self.hoffset)
        if idx < 0:
            return None
        b = Buf(self.data, idx)
        try:
            ind = self._parse_indirect_obj(b)
        except (ParseError, PDFError):
            return None
        entry = _ObjectLoc(idx - self.hoffset)
        entry.obj = ind.obj
        entry.resolved = True
        self.xref[stmref] = entry
        return ind.obj

    def get(self, container, key, default=None):
        """cosDocGetObject(doc, dict, key): fetch + deref in one step
        (CosDoc.jl:237-259)."""
        container = self.get_object(container)
        if isinstance(container, (Stream, ObjStm)):
            container = container.dict
        if not isinstance(container, dict):
            return default
        v = container.get(key)
        if v is None:
            return default
        return self.get_object(v)

    # ---- helpers mirroring the PD-facing doc API ----
    def get_root(self):
        return self.get(self.trailer, Name("Root"))

    def get_info(self):
        return self.get(self.trailer, Name("Info"))

    def get_id(self):
        """Trailer /ID, dereferenced (an indirect /ID is nonstandard
        but occurs in the wild; an unresolved Ref used to reach the
        security handler and silently yield id0=b'' — r4)."""
        ids = self.get_object(self.trailer.get(Name("ID")))
        if isinstance(ids, list):
            return [self.get_object(x) for x in ids]
        return ids

    def is_encrypted(self) -> bool:
        return self.encrypt is not None

    def merge_streams(self, stms: list) -> bytes:
        """Concatenate decoded payloads of a /Contents array
        (merge_streams, CosDoc.jl:688-708)."""
        parts = []
        for s in stms:
            stm = self.get_object(s)
            if isinstance(stm, Stream):
                parts.append(stm.decoded(self))
        return b"".join(parts)
