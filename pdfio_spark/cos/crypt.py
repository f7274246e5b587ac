"""Standard security handler — RC4 and AES decryption.

Mirrors StdSecHandler (/root/reference/src/StdSecHandler.jl) and the
object-key derivation / recursive decrypt pass (/root/reference/src/
CosCrypt.jl:81-239). Password-less (empty user password) documents are
the target; user/owner password validation follows the spec algorithms.

AES uses the `cryptography` package when present; RC4 and the key
derivation are pure Python (hashlib).
"""
from __future__ import annotations

import hashlib
import struct

from .objects import HexStr, LitStr, Name, ObjStm, Ref, Stream

__all__ = ["make_sec_handler", "decrypt_object", "UnsupportedEncryption"]

# 32-byte standard padding (PDF 32000-1:2008, 7.6.3.3 Algorithm 2)
PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


class UnsupportedEncryption(Exception):
    pass


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 KSA+PRGA (reference has its own ksa/prga,
    /root/reference/src/LibCrypto.jl:972-985)."""
    # not cryptography's ARC4: it takes only 5/7/8/10/16/20/24/32-byte
    # keys, an object key is min(n + 5, 16) bytes (11 for /Length 48)
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for idx, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[idx] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
    return dec.update(data) + dec.finalize()


from .objects import str_bytes as _str_bytes  # canonical coercion


#: Cache hits only happen for batch-produced corpora sharing one
#: /Encrypt; millions of DISTINCT encrypted docs on a long-lived
#: executor would otherwise grow these without bound (~200 B/doc), so
#: cap and clear — a full reset is fine, the KDF just reruns.
_CRYPT_CACHE_MAX = 4096


def _cache_put(cache: dict, key, value) -> None:
    if len(cache) >= _CRYPT_CACHE_MAX:
        cache.clear()
    cache[key] = value


#: (password, U, O, UE, OE) -> file key for R5/R6 (id-independent KDF)
_R6_KEY_CACHE: dict[tuple, bytes] = {}
#: recipients blobs -> decrypted CMS content (seed+perms) for PKI docs
_PKI_SEED_CACHE: dict[tuple, bytes] = {}


class StdSecHandler:
    """V/R dispatch per StdSecHandler.jl:314-377. Only the empty user
    password is attempted (web-crawl PDFs); a wrong password raises
    UnsupportedEncryption so the row is quarantined, not the task."""

    def __init__(self, doc, enc: dict, password: bytes = b""):
        g = lambda k, d=None: doc.get(enc, Name(k), d)
        self.v = int(g("V", 0))
        self.r = int(g("R", 0))
        self.length = int(g("Length", 40))
        self.o = _str_bytes(g("O"))
        self.u = _str_bytes(g("U"))
        self.oe = _str_bytes(g("OE"))
        self.ue = _str_bytes(g("UE"))
        self.p = int(g("P", -1)) & 0xFFFFFFFF
        self.encrypt_metadata = g("EncryptMetadata", True)
        ids = doc.get_id()
        self.id0 = _str_bytes(doc.get_object(ids[0])) if ids else b""
        # crypt filters (V4/V5): resolve StmF/StrF -> CFM
        if self.v >= 4:
            cf = g("CF") or {}
            stmf = g("StmF", Name("Identity"))
            strf = g("StrF", Name("Identity"))

            def cfm_of(fname):
                if fname == Name("Identity"):
                    return Name("Identity")
                cfd = doc.get(cf, fname) if isinstance(cf, dict) else None
                if cfd is None:
                    return Name("Identity")
                return cfd.get(Name("CFM"), Name("None"))
            self.stm_cfm = cfm_of(stmf)
            self.str_cfm = cfm_of(strf)
        else:
            self.stm_cfm = self.str_cfm = Name("V2")
        self.key = self._compute_key(password)

    # --- Algorithm 2: R2-R4 file key (StdSecHandler.jl:60-92) ---
    def _algo2(self, password: bytes) -> bytes:
        pw = (password + PAD)[:32]
        md = hashlib.md5()
        md.update(pw)
        md.update(self.o[:32])
        md.update(struct.pack("<I", self.p))
        md.update(self.id0)
        if self.r >= 4 and not self.encrypt_metadata:
            md.update(b"\xff\xff\xff\xff")
        h = md.digest()
        n = self.length // 8 if self.r >= 3 else 5
        if self.r >= 3:
            for _ in range(50):
                h = hashlib.md5(h[:n]).digest()
        return h[:n]

    # --- R5/R6 SHA2 KDF (Algorithm 2.A/2.B, StdSecHandler.jl:94-175) ---
    def _hash_2b(self, password: bytes, salt: bytes, udata: bytes) -> bytes:
        k = hashlib.sha256(password + salt + udata).digest()
        if self.r == 5:
            return k
        i = 0
        while True:
            k1 = (password + k + udata) * 64
            e = _aes_cbc_encrypt(k[:16], k[16:32], k1)
            mod = sum(e[:16]) % 3
            k = (hashlib.sha256(e).digest() if mod == 0 else
                 hashlib.sha384(e).digest() if mod == 1 else
                 hashlib.sha512(e).digest())
            i += 1
            if i >= 64 and e[-1] <= i - 32:
                break
        return k[:32]

    def _compute_key(self, password: bytes) -> bytes:
        if self.r in (2, 3, 4):
            key = self._algo2(password)
            # validate against /U (algorithms 4/5); tolerate mismatch by
            # raising so the row is marked unsupported (wrong password)
            if self.r == 2:
                u_check = rc4(key, PAD)
                ok = u_check == self.u[:32]
            else:
                md = hashlib.md5(PAD + self.id0).digest()
                x = rc4(key, md)
                for i in range(1, 20):
                    k2 = bytes(b ^ i for b in key)
                    x = rc4(k2, x)
                ok = x == self.u[:16]
            if not ok:
                # try owner password path (algorithm 7) with empty owner pw
                key2 = self._algo7_user_pw(password)
                if key2 is None:
                    raise UnsupportedEncryption("password required")
                key = key2
            return key
        if self.r in (5, 6):
            # R5/R6 keys depend only on (password, U, O, UE, OE) — NOT
            # on the file id — so the expensive 2.B KDF (64+ AES+SHA
            # rounds) is cacheable across documents sharing an /Encrypt
            # (common in batch-produced corpora). ~9% of corpus CPU.
            ck = (password, self.u, self.o, self.ue, self.oe)
            hit = _R6_KEY_CACHE.get(ck)
            if hit is not None:
                return hit
            # Algorithm 11: validate user password
            vsalt, ksalt = self.u[32:40], self.u[40:48]
            h = self._hash_2b(password, vsalt, b"")
            if h == self.u[:32]:
                ikey = self._hash_2b(password, ksalt, b"")
                key = _aes_cbc_decrypt(ikey, b"\x00" * 16, self.ue[:32])
                _cache_put(_R6_KEY_CACHE, ck, key)
                return key
            # Algorithm 12: owner password
            vsalt, ksalt = self.o[32:40], self.o[40:48]
            h = self._hash_2b(password, vsalt, self.u[:48])
            if h == self.o[:32]:
                ikey = self._hash_2b(password, ksalt, self.u[:48])
                key = _aes_cbc_decrypt(ikey, b"\x00" * 16, self.oe[:32])
                _cache_put(_R6_KEY_CACHE, ck, key)
                return key
            raise UnsupportedEncryption("password required")
        raise UnsupportedEncryption(f"unsupported /R {self.r}")

    def _algo7_user_pw(self, owner_pw: bytes):
        """Algorithm 7: recover user password from /O, then algo 2
        (StdSecHandler.jl:254-274)."""
        pw = (owner_pw + PAD)[:32]
        h = hashlib.md5(pw).digest()
        if self.r >= 3:
            for _ in range(50):
                h = hashlib.md5(h).digest()
        n = self.length // 8 if self.r >= 3 else 5
        rc4key = h[:n]
        data = self.o[:32]
        if self.r == 2:
            user_pw = rc4(rc4key, data)
        else:
            for i in range(19, -1, -1):
                k2 = bytes(b ^ i for b in rc4key)
                data = rc4(k2, data)
            user_pw = data
        key = self._algo2_with_pw_raw(user_pw)
        # validate the recovered key against /U (algorithm 6 after 7)
        if self.r == 2:
            ok = rc4(key, PAD) == self.u[:32]
        else:
            md = hashlib.md5(PAD + self.id0).digest()
            x = rc4(key, md)
            for i in range(1, 20):
                x = rc4(bytes(b ^ i for b in key), x)
            ok = x == self.u[:16]
        return key if ok else None

    def _algo2_with_pw_raw(self, padded_pw: bytes) -> bytes:
        md = hashlib.md5()
        md.update(padded_pw[:32])
        md.update(self.o[:32])
        md.update(struct.pack("<I", self.p))
        md.update(self.id0)
        if self.r >= 4 and not self.encrypt_metadata:
            md.update(b"\xff\xff\xff\xff")
        h = md.digest()
        n = self.length // 8 if self.r >= 3 else 5
        if self.r >= 3:
            for _ in range(50):
                h = hashlib.md5(h[:n]).digest()
        return h[:n]

    # --- per-object key + decrypt (algo01/01a, CosCrypt.jl:81-129) ---
    def object_key(self, num: int, gen: int, aes: bool) -> bytes:
        if self.r >= 5:
            return self.key  # AESV3 uses the file key directly
        md = hashlib.md5()
        md.update(self.key)
        md.update(struct.pack("<I", num)[:3])
        md.update(struct.pack("<I", gen)[:2])
        if aes:
            md.update(b"sAlT")
        n = min(len(self.key) + 5, 16)
        return md.digest()[:n]

    def decrypt_bytes(self, data: bytes, num: int, gen: int,
                      cfm: Name) -> bytes:
        if cfm == Name("Identity") or cfm == Name("None"):
            return data
        if cfm in (Name("AESV2"), Name("AESV3")):
            key = self.object_key(num, gen, True)
            if len(data) < 16:
                return b""
            out = _aes_cbc_decrypt(key, data[:16], data[16:])
            # strip PKCS#5 padding
            if out and 1 <= out[-1] <= 16:
                out = out[:-out[-1]]
            return out
        key = self.object_key(num, gen, False)
        return rc4(key, data)


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return enc.update(data) + enc.finalize()


# --------------------------------------------------------------- PKI
#
# Recipient credentials for the public-key (Adobe.PubSec) handler.
# Resolution order: set_pki_credentials() > $PDFIO_SPARK_PKI_ID (path to
# a PEM file holding certificate + private key) > the packaged synthetic
# TEST identity (fixtures only — lets the Spark fixture corpus decrypt
# without per-worker plumbing; never use it for real documents).
_PKI_CREDENTIALS: tuple[bytes, bytes] | None = None


def set_pki_credentials(cert_pem: bytes, key_pem: bytes) -> None:
    global _PKI_CREDENTIALS
    _PKI_CREDENTIALS = (cert_pem, key_pem)


def _load_pki_credentials():
    """-> (certificate, private_key) or raises UnsupportedEncryption."""
    import os
    pem = None
    if _PKI_CREDENTIALS is not None:
        cert_pem, key_pem = _PKI_CREDENTIALS
        pem = cert_pem + b"\n" + key_pem
    else:
        path = os.environ.get("PDFIO_SPARK_PKI_ID")
        if path:
            with open(path, "rb") as f:
                pem = f.read()
        else:
            try:
                import importlib.resources as ir
                pem = (ir.files("pdfio_spark") / "data"
                       / "pki_test_identity.pem").read_bytes()
            except Exception:
                pem = None
    if pem is None:
        raise UnsupportedEncryption("pki recipient credentials required")
    try:
        from cryptography import x509
        from cryptography.hazmat.primitives.serialization import (
            load_pem_private_key)
        cert = x509.load_pem_x509_certificate(pem)
        key = load_pem_private_key(pem, password=None)
        return cert, key
    except Exception as e:
        raise UnsupportedEncryption(f"bad pki credentials: {e}")


class PKISecHandler(StdSecHandler):
    """Adobe.PubSec handler, SubFilter adbe.pkcs7.s3/s4/s5
    (PKISecHandler.jl:26-133). The file key is
    hash(seed20 || concat(Recipients) [|| FFFFFFFF if !EncryptMetadata])
    where seed is the first 20 bytes of the CMS EnvelopedData content
    decrypted with the recipient's certificate/private key; hash is
    SHA-256 for AESV3 else SHA-1; key length = CF /Length bits."""

    def __init__(self, doc, enc: dict, subtype):
        g = lambda k, d=None: doc.get(enc, Name(k), d)
        sub = str(subtype)
        if sub not in ("adbe.pkcs7.s3", "adbe.pkcs7.s4", "adbe.pkcs7.s5"):
            raise UnsupportedEncryption(f"pki subfilter {sub} not supported")
        r = {"adbe.pkcs7.s3": 2, "adbe.pkcs7.s4": 3, "adbe.pkcs7.s5": 4}[sub]
        self.v = int(g("V", 1))
        self.length = int(g("Length", 128))
        if r < 4:
            # synthesize the default crypt filter (ref :44-57): CFM V2,
            # Recipients on the /Encrypt dict itself
            cfm = Name("V2")
            recipients = g("Recipients")
            encrypt_metadata = g("EncryptMetadata", True)
            cf_length = self.length
        else:
            cf = g("CF") or {}
            stmf = g("StmF", Name("Identity"))
            strf = g("StrF", Name("Identity"))
            cfd = doc.get(cf, stmf) if isinstance(cf, dict) else None
            if cfd is None:
                raise UnsupportedEncryption("pki crypt filter missing")
            cfm = doc.get(cfd, Name("CFM"), Name("None"))
            recipients = doc.get(cfd, Name("Recipients"))
            encrypt_metadata = doc.get(cfd, Name("EncryptMetadata"), True)
            cf_length = int(doc.get(cfd, Name("Length"), self.length))
            # /StrF may name a DIFFERENT filter (commonly Identity);
            # strings must not be decrypted with the stream CFM then
            # (StdSecHandler resolves the two separately — r4 fix)
            if strf == stmf:
                str_cfm = cfm
            elif strf == Name("Identity"):
                str_cfm = Name("Identity")
            else:
                sfd = doc.get(cf, strf) if isinstance(cf, dict) else None
                str_cfm = (doc.get(sfd, Name("CFM"), Name("None"))
                           if sfd is not None else Name("Identity"))
        if not isinstance(recipients, list):
            recipients = [recipients] if recipients is not None else []
        blobs = [_str_bytes(doc.get_object(x)) for x in recipients]
        if not blobs:
            raise UnsupportedEncryption("pki /Recipients missing")
        # the decrypted seed depends only on the recipients blobs —
        # cache across documents sharing an envelope (RSA private
        # decrypt is ~1 ms/doc otherwise)
        ck = tuple(blobs)
        content = _PKI_SEED_CACHE.get(ck)
        if content is None:
            cert, key = _load_pki_credentials()
            from cryptography.hazmat.primitives.serialization import pkcs7
            for blob in blobs:
                try:
                    content = pkcs7.pkcs7_decrypt_der(blob, cert, key, [])
                    break
                except Exception:
                    continue
            if content is None or len(content) < 20:
                raise UnsupportedEncryption(
                    "unable to decrypt with recipient certificate")
            _cache_put(_PKI_SEED_CACHE, ck, content)
        self.perms = (struct.unpack(">I", content[20:24])[0]
                      if len(content) >= 24 else 0xFFFFFFFF)
        digest = content[:20] + b"".join(blobs)
        if encrypt_metadata is False:
            digest += b"\xff" * 4
        h = (hashlib.sha256(digest) if cfm == Name("AESV3")
             else hashlib.sha1(digest))
        # CF /Length may be bits (spec) or bytes (seen in the wild);
        # exactly 40 is bits per spec (RC4-40 pkcs7.s3 docs) — the
        # reference always divides by 8 (PKISecHandler.jl get_key)
        nbytes = cf_length // 8 if cf_length >= 40 else cf_length
        self.key = h.digest()[:nbytes]
        # r>=5 short-circuits object_key to the file key (AESV3)
        self.r = 5 if cfm == Name("AESV3") else r
        self.stm_cfm = cfm
        self.str_cfm = str_cfm if r >= 4 else cfm
        self.encrypt_metadata = encrypt_metadata


def make_sec_handler(doc):
    enc = doc.encrypt
    if isinstance(enc, (Stream, ObjStm)):
        enc = enc.dict
    if not isinstance(enc, dict):
        raise UnsupportedEncryption("bad /Encrypt")
    filt = enc.get(Name("Filter"))
    if filt == Name("Standard"):
        return StdSecHandler(doc, enc)
    sub = doc.get(enc, Name("SubFilter"))
    if filt == Name("Adobe.PubSec") or (
            sub is not None and str(sub).startswith("adbe.pkcs7")):
        return PKISecHandler(doc, enc, sub)
    raise UnsupportedEncryption(f"security handler {filt} not supported")


def _pop_crypt_filter(obj, default_cfm):
    """If the stream's /Filter chain STARTS with /Crypt (the only spec
    position), remove that entry (and its DecodeParms slot) and return
    the CFM to use: None when the named filter is /Identity (payload is
    plaintext — do not decrypt), else the handler default. Streams
    without a Crypt filter pass through with the default CFM."""
    d = obj.dict
    filt = d.get(Name("Filter"))
    is_list = isinstance(filt, list)
    first = filt[0] if (is_list and filt) else filt
    if first != Name("Crypt"):
        return default_cfm
    pkey = Name("DecodeParms") if Name("DecodeParms") in d else Name("DP")
    parms = d.get(pkey)
    p0 = (parms[0] if isinstance(parms, list) and parms else
          parms if isinstance(parms, dict) else None)
    cname = (p0 or {}).get(Name("Name"), Name("Identity"))
    if is_list:
        d[Name("Filter")] = filt[1:]
        if isinstance(parms, list):
            d[pkey] = parms[1:]
        elif isinstance(parms, dict):
            # nonconforming single-dict parms against a list /Filter:
            # the dict belonged to the stripped Crypt entry — leaving it
            # would mis-attribute it to the next filter in the chain
            d.pop(pkey, None)
    else:
        d.pop(Name("Filter"), None)
        if parms is not None:
            d.pop(pkey, None)
    return None if cname == Name("Identity") else default_cfm


def decrypt_object(handler: StdSecHandler, ind) -> None:
    """Recursively decrypt strings and stream payloads in place
    (decrypt!, /root/reference/src/CosCrypt.jl:131-239). XRef streams are
    exempt (S.7.5.8.2)."""
    num, gen = ind.num, ind.gen

    def walk(obj):
        if isinstance(obj, (LitStr, HexStr)):
            raw = _str_bytes(obj)
            dec = handler.decrypt_bytes(raw, num, gen, handler.str_cfm)
            return LitStr(dec)
        if isinstance(obj, list):
            return [walk(v) for v in obj]
        if isinstance(obj, dict):
            return {k: walk(v) for k, v in obj.items()}
        if isinstance(obj, Stream):
            typ = obj.dict.get(Name("Type"))
            if typ == Name("XRef"):
                return obj
            cfm = handler.stm_cfm
            # per-stream /Crypt filter override (spec 7.4.10; the
            # reference strips it from the chain, CosCrypt.jl): a
            # leading Crypt filter names this stream's crypt filter —
            # /Name /Identity (or absent) means the payload is NOT
            # encrypted. Strip the Crypt entry either way so the
            # decode chain never sees it (filters.py would quarantine).
            cfm = _pop_crypt_filter(obj, cfm)
            obj.dict = {k: (walk(v) if isinstance(v, (LitStr, HexStr, list, dict)) else v)
                        for k, v in obj.dict.items()}
            if cfm is not None:
                obj.raw = handler.decrypt_bytes(obj.raw, num, gen, cfm)
            return obj
        return obj

    ind.obj = walk(ind.obj)
