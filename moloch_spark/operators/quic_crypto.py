"""QUIC v1 Initial-packet crypto (RFC 8999/9000/9001) — pure stdlib.

The reference stops at a protocol label for IETF QUIC
(capture/parsers/quic.c:199-216 matches the version nibble and moves
on) because opening the Initial needs AES-128-GCM + HKDF, which its
vintage didn't ship. But Initial-packet keys are NOT secret: RFC 9001
§5.2 derives them from the client Destination Connection ID printed in
the clear on the wire, precisely so middleboxes/analyzers can read the
ClientHello. This module implements that public derivation so
`quic_parser.parse_quic_v1` can extract SNI/ALPN/JA3 from v1 Initials
— strictly beyond-reference coverage.

Everything here is forward-AES only (GCM's CTR mode and header
protection both use the encrypt direction), implemented from the
public specs: FIPS-197 (AES, S-box generated from the GF(2^8) inverse
+ affine map, T-tables from the MixColumns matrix), NIST SP 800-38D
(GCM/GHASH), RFC 5869 (HKDF), RFC 8446 §7.1 (HKDF-Expand-Label).
Pure-Python throughput is ~0.1 GB/min/core — fine for the analytic
gates; a cluster deployment would swap `aes128_ctr`/`_ghash` for a
native crypto provider behind the same function seam (the swap seam
pattern documented for the media codecs in media_codec.py).
"""

from __future__ import annotations

import hmac
import hashlib
import struct

# Native AES provider swap seam (module docstring): the pure-Python
# primitives below stay as the spec-pinned reference implementation
# (vector tests exercise them directly) and as the fallback, but the
# per-packet GCM + header-protection path routes through the
# `cryptography` package's OpenSSL-backed AES when it is importable —
# same bytes out, ~2 orders of magnitude faster per 1200-byte Initial.
try:  # pragma: no cover - exercised whenever cryptography is installed
    from cryptography.exceptions import InvalidTag as _InvalidTag
    from cryptography.hazmat.primitives.ciphers import (
        Cipher as _Cipher,
        algorithms as _algorithms,
        modes as _modes,
    )
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM as _AESGCM
except ImportError:  # pragma: no cover
    _AESGCM = None
    _InvalidTag = None
    _Cipher = _algorithms = _modes = None

# ---------------------------------------------------------------------------
# AES-128, encrypt direction only (FIPS-197)
# ---------------------------------------------------------------------------


def _gf256_mul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11B
        b >>= 1
    return r


def _build_sbox() -> list[int]:
    # multiplicative inverse in GF(2^8) followed by the affine transform
    inv = [0] * 256
    for x in range(1, 256):
        for y in range(1, 256):
            if _gf256_mul(x, y) == 1:
                inv[x] = y
                break
    sbox = []
    for x in range(256):
        b, v = inv[x], 0
        for i in range(8):
            bit = (
                (b >> i) ^ (b >> ((i + 4) % 8)) ^ (b >> ((i + 5) % 8))
                ^ (b >> ((i + 6) % 8)) ^ (b >> ((i + 7) % 8)) ^ (0x63 >> i)
            ) & 1
            v |= bit << i
        sbox.append(v)
    return sbox


_SBOX = _build_sbox()
_T0, _T1, _T2, _T3 = [], [], [], []
for _s in _SBOX:
    _s2 = _gf256_mul(_s, 2)
    _s3 = _s2 ^ _s
    _T0.append((_s2 << 24) | (_s << 16) | (_s << 8) | _s3)
    _T1.append((_s3 << 24) | (_s2 << 16) | (_s << 8) | _s)
    _T2.append((_s << 24) | (_s3 << 16) | (_s2 << 8) | _s)
    _T3.append((_s << 24) | (_s << 16) | (_s3 << 8) | _s2)
_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)


def aes128_key_schedule(key: bytes) -> list[int]:
    """16-byte key -> 44 round-key words (u32, big-endian columns)."""
    w = list(struct.unpack(">4I", key))
    for i in range(4, 44):
        t = w[i - 1]
        if i % 4 == 0:
            t = ((t << 8) | (t >> 24)) & 0xFFFFFFFF  # RotWord
            t = (
                (_SBOX[(t >> 24) & 0xFF] << 24)
                | (_SBOX[(t >> 16) & 0xFF] << 16)
                | (_SBOX[(t >> 8) & 0xFF] << 8)
                | _SBOX[t & 0xFF]
            )
            t ^= _RCON[i // 4 - 1] << 24
        w.append(w[i - 4] ^ t)
    return w


def aes128_encrypt_block(rk: list[int], block: bytes) -> bytes:
    """One 16-byte block through the forward cipher (T-table form)."""
    w0, w1, w2, w3 = struct.unpack(">4I", block)
    w0 ^= rk[0]
    w1 ^= rk[1]
    w2 ^= rk[2]
    w3 ^= rk[3]
    T0, T1, T2, T3 = _T0, _T1, _T2, _T3
    for r in range(1, 10):
        k = 4 * r
        n0 = (T0[(w0 >> 24) & 0xFF] ^ T1[(w1 >> 16) & 0xFF]
              ^ T2[(w2 >> 8) & 0xFF] ^ T3[w3 & 0xFF] ^ rk[k])
        n1 = (T0[(w1 >> 24) & 0xFF] ^ T1[(w2 >> 16) & 0xFF]
              ^ T2[(w3 >> 8) & 0xFF] ^ T3[w0 & 0xFF] ^ rk[k + 1])
        n2 = (T0[(w2 >> 24) & 0xFF] ^ T1[(w3 >> 16) & 0xFF]
              ^ T2[(w0 >> 8) & 0xFF] ^ T3[w1 & 0xFF] ^ rk[k + 2])
        n3 = (T0[(w3 >> 24) & 0xFF] ^ T1[(w0 >> 16) & 0xFF]
              ^ T2[(w1 >> 8) & 0xFF] ^ T3[w2 & 0xFF] ^ rk[k + 3])
        w0, w1, w2, w3 = n0, n1, n2, n3
    S = _SBOX
    o0 = ((S[(w0 >> 24) & 0xFF] << 24) | (S[(w1 >> 16) & 0xFF] << 16)
          | (S[(w2 >> 8) & 0xFF] << 8) | S[w3 & 0xFF]) ^ rk[40]
    o1 = ((S[(w1 >> 24) & 0xFF] << 24) | (S[(w2 >> 16) & 0xFF] << 16)
          | (S[(w3 >> 8) & 0xFF] << 8) | S[w0 & 0xFF]) ^ rk[41]
    o2 = ((S[(w2 >> 24) & 0xFF] << 24) | (S[(w3 >> 16) & 0xFF] << 16)
          | (S[(w0 >> 8) & 0xFF] << 8) | S[w1 & 0xFF]) ^ rk[42]
    o3 = ((S[(w3 >> 24) & 0xFF] << 24) | (S[(w0 >> 16) & 0xFF] << 16)
          | (S[(w1 >> 8) & 0xFF] << 8) | S[w2 & 0xFF]) ^ rk[43]
    return struct.pack(">4I", o0, o1, o2, o3)


def aes128_ctr(rk: list[int], initial_counter: bytes, data: bytes) -> bytes:
    """CTR keystream XOR (GCM's inc32 on the last 4 counter bytes).
    The XOR is one big-int operation over the whole buffer rather than
    a Python-level per-byte loop."""
    prefix = initial_counter[:12]
    (ctr,) = struct.unpack(">I", initial_counter[12:])
    nblocks = (len(data) + 15) // 16
    ks = b"".join(
        aes128_encrypt_block(rk, prefix + struct.pack(">I", (ctr + i) & 0xFFFFFFFF))
        for i in range(nblocks)
    )
    n = len(data)
    x = int.from_bytes(data, "big") ^ int.from_bytes(ks[:n], "big")
    return x.to_bytes(n, "big") if n else b""


# ---------------------------------------------------------------------------
# GHASH / GCM (NIST SP 800-38D)
# ---------------------------------------------------------------------------

_R = 0xE1 << 120


def _ghash(h: int, aad: bytes, ct: bytes) -> bytes:
    """GHASH with the H·x^i ladder hoisted out of the per-block loop:
    the 128 doubling steps depend only on H, so per block the multiply
    is just an XOR of ladder entries at the set bits (~64 int XORs vs
    128 shift+branch steps — GHASH is the pure-Python hot spot)."""
    vtab = [0] * 128
    v = h
    for i in range(128):
        vtab[i] = v  # vtab[i] = H * x^i  (bit i counted from the MSB)
        v = (v >> 1) ^ (_R if v & 1 else 0)

    def mul_h(x: int) -> int:
        z = 0
        while x:
            b = x & -x
            z ^= vtab[128 - b.bit_length()]
            x ^= b
        return z

    def blocks(b: bytes):
        for off in range(0, len(b), 16):
            yield b[off : off + 16].ljust(16, b"\x00")

    y = 0
    for blk in blocks(aad):
        y = mul_h(y ^ int.from_bytes(blk, "big"))
    for blk in blocks(ct):
        y = mul_h(y ^ int.from_bytes(blk, "big"))
    lens = (len(aad) * 8).to_bytes(8, "big") + (len(ct) * 8).to_bytes(8, "big")
    y = mul_h(y ^ int.from_bytes(lens, "big"))
    return y.to_bytes(16, "big")


def aes_gcm_encrypt(
    key: bytes, nonce: bytes, aad: bytes, plaintext: bytes
) -> tuple[bytes, bytes]:
    """-> (ciphertext, 16-byte tag). 96-bit nonce only (QUIC's case)."""
    if _AESGCM is not None:
        blob = _AESGCM(key).encrypt(nonce, plaintext, aad)
        return blob[:-16], blob[-16:]
    rk = aes128_key_schedule(key)
    h = int.from_bytes(aes128_encrypt_block(rk, b"\x00" * 16), "big")
    j0 = nonce + b"\x00\x00\x00\x01"
    ct = aes128_ctr(rk, nonce + b"\x00\x00\x00\x02", plaintext)
    s = _ghash(h, aad, ct)
    tag = bytes(a ^ b for a, b in zip(aes128_encrypt_block(rk, j0), s))
    return ct, tag


def aes_gcm_decrypt(
    key: bytes, nonce: bytes, aad: bytes, ct: bytes, tag: bytes
) -> bytes:
    """-> plaintext; raises ValueError on tag mismatch."""
    if _AESGCM is not None:
        try:
            return _AESGCM(key).decrypt(nonce, ct + tag, aad)
        except _InvalidTag:
            raise ValueError("GCM tag mismatch") from None
    rk = aes128_key_schedule(key)
    h = int.from_bytes(aes128_encrypt_block(rk, b"\x00" * 16), "big")
    j0 = nonce + b"\x00\x00\x00\x01"
    s = _ghash(h, aad, ct)
    expect = bytes(a ^ b for a, b in zip(aes128_encrypt_block(rk, j0), s))
    if not hmac.compare_digest(expect, tag):
        raise ValueError("GCM tag mismatch")
    return aes128_ctr(rk, nonce + b"\x00\x00\x00\x02", ct)


# ---------------------------------------------------------------------------
# HKDF (RFC 5869) + TLS 1.3 Expand-Label (RFC 8446 §7.1)
# ---------------------------------------------------------------------------


def hkdf_extract(salt: bytes, ikm: bytes) -> bytes:
    return hmac.new(salt, ikm, hashlib.sha256).digest()


def hkdf_expand(prk: bytes, info: bytes, length: int) -> bytes:
    out, t, i = b"", b"", 1
    while len(out) < length:
        t = hmac.new(prk, t + info + bytes([i]), hashlib.sha256).digest()
        out += t
        i += 1
    return out[:length]


def hkdf_expand_label(secret: bytes, label: bytes, ctx: bytes, length: int) -> bytes:
    full = b"tls13 " + label
    info = (
        struct.pack(">H", length)
        + bytes([len(full)]) + full
        + bytes([len(ctx)]) + ctx
    )
    return hkdf_expand(secret, info, length)


def _hp_mask(hp_key: bytes, sample: bytes) -> bytes:
    """Header-protection mask: one AES-ECB block over the ciphertext
    sample (RFC 9001 §5.4.3)."""
    if _Cipher is not None:
        enc = _Cipher(_algorithms.AES(hp_key), _modes.ECB()).encryptor()
        return enc.update(sample) + enc.finalize()
    return aes128_encrypt_block(aes128_key_schedule(hp_key), sample)


# RFC 9001 §5.2 — fixed, public
INITIAL_SALT_V1 = bytes.fromhex("38762cf7f55934b34d179ae6a4c80cadccbb7f0a")


def initial_keys(dcid: bytes, *, is_client: bool = True) -> tuple[bytes, bytes, bytes]:
    """Client (or server) Initial (key, iv, hp) from the wire DCID."""
    initial = hkdf_extract(INITIAL_SALT_V1, dcid)
    side = b"client in" if is_client else b"server in"
    secret = hkdf_expand_label(initial, side, b"", 32)
    return (
        hkdf_expand_label(secret, b"quic key", b"", 16),
        hkdf_expand_label(secret, b"quic iv", b"", 12),
        hkdf_expand_label(secret, b"quic hp", b"", 16),
    )


# ---------------------------------------------------------------------------
# RFC 9000 varints + Initial packet open/seal
# ---------------------------------------------------------------------------


def varint_decode(buf: bytes, off: int) -> tuple[int, int]:
    """-> (value, new_offset); raises ValueError on truncation."""
    if off >= len(buf):
        raise ValueError("varint past end")
    n = 1 << (buf[off] >> 6)
    if off + n > len(buf):
        raise ValueError("truncated varint")
    v = buf[off] & 0x3F
    for i in range(1, n):
        v = (v << 8) | buf[off + i]
    return v, off + n


def varint_encode(v: int) -> bytes:
    if v < 1 << 6:
        return bytes([v])
    if v < 1 << 14:
        return struct.pack(">H", v | 0x4000)
    if v < 1 << 30:
        return struct.pack(">I", v | 0x80000000)
    return struct.pack(">Q", v | 0xC000000000000000)


def open_initial(datagram: bytes) -> dict:
    """Remove header protection + decrypt a client Initial -> dict with
    version/dcid/scid/pn/payload (raises ValueError on anything that is
    not a well-formed v1 client Initial)."""
    buf = datagram
    if len(buf) < 7 or not buf[0] & 0x80:
        raise ValueError("not a long-header packet")
    (version,) = struct.unpack(">I", buf[1:5])
    if version != 1:
        raise ValueError(f"not QUIC v1 (0x{version:08x})")
    if (buf[0] & 0x30) != 0x00:
        raise ValueError("not an Initial packet")
    off = 5
    dcil = buf[off]
    off += 1
    if dcil > 20 or off + dcil > len(buf):
        raise ValueError("bad DCID length")
    dcid = buf[off : off + dcil]
    off += dcil
    scil = buf[off]
    off += 1
    if scil > 20 or off + scil > len(buf):
        raise ValueError("bad SCID length")
    scid = buf[off : off + scil]
    off += scil
    token_len, off = varint_decode(buf, off)
    off += token_len
    length, off = varint_decode(buf, off)
    pn_off = off
    if pn_off + length > len(buf) or length < 20:
        raise ValueError("truncated packet body")
    key, iv, hp = initial_keys(dcid)
    sample = buf[pn_off + 4 : pn_off + 20]
    mask = _hp_mask(hp, sample)
    first = buf[0] ^ (mask[0] & 0x0F)
    pn_len = (first & 0x03) + 1
    pn_bytes = bytes(
        b ^ m for b, m in zip(buf[pn_off : pn_off + pn_len], mask[1:])
    )
    pn = int.from_bytes(pn_bytes, "big")
    aad = bytes([first]) + buf[1:pn_off] + pn_bytes
    nonce = bytes(
        a ^ b for a, b in zip(iv, pn.to_bytes(12, "big"))
    )
    body = buf[pn_off + pn_len : pn_off + length]
    payload = aes_gcm_decrypt(key, nonce, aad, body[:-16], body[-16:])
    return {
        "version": version,
        "dcid": dcid,
        "scid": scid,
        "pn": pn,
        "payload": payload,
        # bytes this packet occupies — a datagram may coalesce further
        # packets after it (RFC 9000 §12.2)
        "consumed": pn_off + length,
    }


def open_initial_coalesced(datagram: bytes) -> list[dict]:
    """Open every client Initial coalesced in one UDP datagram (RFC
    9000 §12.2: Initial + 0-RTT/Handshake may share a datagram; a big
    ClientHello can also span two Initials). The first packet must
    open; trailing packets that aren't v1 Initials (other encryption
    levels, padding garbage) end the walk silently."""
    out = [open_initial(datagram)]
    rest = datagram[out[0]["consumed"] :]
    while (
        len(rest) >= 7
        and rest[0] & 0x80
        and (rest[0] & 0x30) == 0
        and rest[1:5] == b"\x00\x00\x00\x01"
    ):
        try:
            opened = open_initial(rest)
        except ValueError:
            break
        out.append(opened)
        rest = rest[opened["consumed"] :]
    return out


def seal_initial(
    *,
    dcid: bytes,
    scid: bytes = b"\x01\x02",
    pn: int = 0,
    payload: bytes,
    pad_to: int = 1200,
) -> bytes:
    """Build + encrypt + header-protect a client Initial (synthesis /
    round-trip side; clients must pad Initials to 1200 bytes — RFC 9000
    §14.1 — so pad_to defaults to that)."""
    pn_len = 4
    frames = payload
    overhead = 7 + len(dcid) + len(scid) + 1 + 2 + pn_len + 16
    if pad_to and overhead + len(frames) < pad_to:
        frames = frames + b"\x00" * (pad_to - overhead - len(frames))
    length = pn_len + len(frames) + 16
    first = 0xC0 | (pn_len - 1)
    pn_bytes = pn.to_bytes(pn_len, "big")
    hdr = (
        bytes([first])
        + struct.pack(">I", 1)
        + bytes([len(dcid)]) + dcid
        + bytes([len(scid)]) + scid
        + varint_encode(0)  # no token
        + (0x4000 | length).to_bytes(2, "big")  # 2-byte varint
    )
    key, iv, hp = initial_keys(dcid)
    nonce = bytes(a ^ b for a, b in zip(iv, pn.to_bytes(12, "big")))
    ct, tag = aes_gcm_encrypt(key, nonce, hdr + pn_bytes, frames)
    body = ct + tag
    # header protection over the finished packet
    pn_off = len(hdr)
    pkt = bytearray(hdr + pn_bytes + body)
    sample = bytes(pkt[pn_off + 4 : pn_off + 20])
    mask = _hp_mask(hp, sample)
    pkt[0] ^= mask[0] & 0x0F
    for i in range(pn_len):
        pkt[pn_off + i] ^= mask[1 + i]
    return bytes(pkt)


def crypto_stream(*payloads: bytes) -> bytes:
    """Walk decrypted Initial frames (PADDING/PING/CRYPTO/ACK) and
    reassemble the CRYPTO byte stream by offset — across multiple
    packets' payloads when a ClientHello spans coalesced Initials
    (offsets are stream-level, so frames from any packet merge).
    Unknown frame type stops that payload's walk (keeps what was
    gathered so far)."""
    parts: list[tuple[int, bytes]] = []
    for payload in payloads:
        _walk_frames(payload, parts)
    out = bytearray()
    for coff, data in sorted(parts):
        if coff > len(out):
            break  # gap — handshake split across datagrams we don't have
        out[coff : coff + len(data)] = data
    return bytes(out)


def _walk_frames(payload: bytes, parts: list[tuple[int, bytes]]) -> None:
    off = 0
    try:
        while off < len(payload):
            if payload[off] == 0x00:  # PADDING — skip the whole run
                off = len(payload) - len(payload[off:].lstrip(b"\x00"))
                continue
            ftype, off = varint_decode(payload, off)
            if ftype == 0x01:  # PING
                continue
            if ftype in (0x02, 0x03):  # ACK — skip its varint fields
                _, off = varint_decode(payload, off)  # largest acked
                _, off = varint_decode(payload, off)  # ack delay
                nranges, off = varint_decode(payload, off)
                _, off = varint_decode(payload, off)  # first range
                for _ in range(nranges):
                    _, off = varint_decode(payload, off)
                    _, off = varint_decode(payload, off)
                if ftype == 0x03:
                    for _ in range(3):
                        _, off = varint_decode(payload, off)
                continue
            if ftype == 0x06:  # CRYPTO
                coff, off = varint_decode(payload, off)
                clen, off = varint_decode(payload, off)
                if off + clen > len(payload):
                    break
                parts.append((coff, payload[off : off + clen]))
                off += clen
                continue
            break
    except ValueError:
        pass
