"""FLAC codec in pure NumPy/stdlib: decode + lossless encode.

Like the other codecs in this package (png.py, tiff.py, audio.py)
this is a real implementation of the public format spec (the xiph.org FLAC format, as shipped in libFLAC and RFC-drafted
for IETF cellar), not a library binding — the sandbox has no audio
libraries and the oracle needs bit-reproducible output.

Decoder coverage: STREAMINFO + skipped metadata blocks, fixed and
variable blocking, all subframe types (CONSTANT, VERBATIM, FIXED 0-4,
LPC 1-32), wasted bits, rice/rice2 residual partitions with raw-escape,
independent / left-side / right-side / mid-side stereo, 8/12/16/20/24
bps, frame-header CRC-8 + frame CRC-16 verification, and STREAMINFO
MD5 verification of the decoded stream.

Encoder: lossless by construction (residual = exact integer error of
whatever predictor is chosen) — per-block best-of CONSTANT / FIXED 0-4
/ optional Levinson-Durbin LPC with verbatim fallback, per-partition
rice parameter search with raw escape, wasted-bits detection, all four
stereo modes, configurable block size and rice partition order.

Bit-level primitives are accelerated with a one-positions index (unary
runs jump via searchsorted instead of bit-at-a-time scans), keeping
decode cost linear in payload size with small constants; the per-sample
LPC recurrence is an integer loop by spec (the >> shift floor makes it
inherently sequential), bounded by the <=65535 block size.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

__all__ = ["decode_flac", "encode_flac"]

_SYNC = 0x3FFE

# CRC-8 poly 0x07, CRC-16 poly 0x8005 (both init 0, MSB-first) — the two
# FLAC frame checksums.
_CRC8_TBL = np.zeros(256, dtype=np.uint8)
_CRC16_TBL = np.zeros(256, dtype=np.uint16)
for _i in range(256):
    _c8, _c16 = _i, _i << 8
    for _ in range(8):
        _c8 = ((_c8 << 1) ^ 0x07) & 0xFF if _c8 & 0x80 else (_c8 << 1) & 0xFF
        _c16 = ((_c16 << 1) ^ 0x8005) & 0xFFFF if _c16 & 0x8000 else (_c16 << 1) & 0xFFFF
    _CRC8_TBL[_i], _CRC16_TBL[_i] = _c8, _c16


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = int(_CRC8_TBL[c ^ b])
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = int(_CRC16_TBL[((c >> 8) ^ b) & 0xFF]) ^ ((c << 8) & 0xFFFF)
    return c


# (code, bits) for the sample-size field; 0b011 and 0b111 are reserved
_BPS_CODE = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110}
_BPS_FROM_CODE = {v: k for k, v in _BPS_CODE.items()}


class _Reader:
    """MSB-first bit reader with a one-positions index so unary runs
    (rice quotients) jump in O(log n) instead of scanning bit-by-bit."""

    def __init__(self, buf: bytes, start_byte: int = 0):
        self.buf = buf
        self.bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
        self.ones = np.flatnonzero(self.bits)
        self.pos = start_byte * 8
        self.n = len(self.bits)
        # descending powers of two for read_uint dot products
        self._pow = (np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64))

    def read_uint(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > self.n:
            raise ValueError("truncated FLAC stream")
        seg = self.bits[self.pos : self.pos + n].astype(np.uint64)
        self.pos += n
        return int(seg @ self._pow[64 - n :])

    def read_int(self, n: int) -> int:
        v = self.read_uint(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        i = int(np.searchsorted(self.ones, self.pos))
        if i >= len(self.ones):
            raise ValueError("truncated FLAC stream (unary)")
        one_at = int(self.ones[i])
        q = one_at - self.pos
        self.pos = one_at + 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3

    def at_end(self) -> bool:
        # aligned reader with <2 bytes left cannot hold another frame
        return self.n - self.pos < 16


def _read_coded_number(r: _Reader) -> int:
    """FLAC's UTF-8-style frame/sample number (up to 7 bytes / 36 bits)."""
    b0 = r.read_uint(8)
    if b0 < 0x80:
        return b0
    n_cont = 0
    for mask, lead in ((0xE0, 0xC0), (0xF0, 0xE0), (0xF8, 0xF0), (0xFC, 0xF8), (0xFE, 0xFC), (0xFF, 0xFE)):
        n_cont += 1
        if (b0 & mask) == lead:
            val = b0 & (~mask & 0xFF)
            break
    else:
        raise ValueError("invalid coded number lead byte")
    for _ in range(n_cont):
        cb = r.read_uint(8)
        if (cb & 0xC0) != 0x80:
            raise ValueError("invalid coded number continuation")
        val = (val << 6) | (cb & 0x3F)
    return val


def _decode_residual(r: _Reader, block_size: int, pred_order: int) -> np.ndarray:
    method = r.read_uint(2)
    if method > 1:
        raise NotImplementedError(f"reserved residual coding method {method}")
    pbits = 4 + method  # rice (4-bit params) or rice2 (5-bit)
    esc = (1 << pbits) - 1
    porder = r.read_uint(4)
    n_part = 1 << porder
    if block_size % n_part:
        raise ValueError("block size not divisible by rice partition count")
    if (block_size >> porder) < pred_order:
        raise ValueError("rice partition shorter than predictor order")
    out = np.empty(block_size - pred_order, dtype=np.int64)
    w = 0
    for p in range(n_part):
        cnt = (block_size >> porder) - (pred_order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("negative partition length")
        param = r.read_uint(pbits)
        if param == esc:
            raw = r.read_uint(5)
            for i in range(cnt):
                out[w + i] = r.read_int(raw) if raw else 0
        else:
            for i in range(cnt):
                q = r.read_unary()
                u = (q << param) | r.read_uint(param)
                out[w + i] = (u >> 1) ^ -(u & 1)  # un-zigzag
        w += cnt
    return out


def _restore_fixed_loop(order: int, warm: list[int], resid: np.ndarray) -> np.ndarray:
    """Exact fixed-predictor reconstruction: the order-n fixed predictor
    is an n-fold finite difference, undone by n cumulative sums each
    seeded with the head of the warmup's difference pyramid (int64-exact,
    fully vectorized)."""
    wk = np.asarray(warm, dtype=np.int64)
    seeds = []
    for _ in range(order):
        seeds.append(int(wk[0]))
        wk = np.diff(wk)
    x = resid.astype(np.int64)
    for s in reversed(seeds):
        x = np.cumsum(np.concatenate([[s], x]))
    return x


def _decode_subframe(r: _Reader, block_size: int, bps: int) -> np.ndarray:
    if r.read_uint(1):
        raise ValueError("subframe padding bit set")
    stype = r.read_uint(6)
    wasted = 0
    if r.read_uint(1):
        wasted = r.read_unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        x = np.full(block_size, r.read_int(eff), dtype=np.int64)
    elif stype == 1:  # VERBATIM
        x = np.fromiter(
            (r.read_int(eff) for _ in range(block_size)), dtype=np.int64, count=block_size
        )
    elif 8 <= stype <= 12:  # FIXED, order 0-4
        order = stype - 8
        if order > block_size:
            raise ValueError("fixed order exceeds block size")
        warm = [r.read_int(eff) for _ in range(order)]
        resid = _decode_residual(r, block_size, order)
        x = _restore_fixed_loop(order, warm, resid)
    elif stype >= 32:  # LPC, order 1-32
        order = stype - 31
        if order > block_size:
            raise ValueError("LPC order exceeds block size")
        warm = [r.read_int(eff) for _ in range(order)]
        prec = r.read_uint(4)
        if prec == 0b1111:
            raise ValueError("invalid qlp precision")
        prec += 1
        shift = r.read_int(5)
        if shift < 0:
            raise NotImplementedError("negative qlp shift")
        coefs = [r.read_int(prec) for _ in range(order)]
        resid = _decode_residual(r, block_size, order)
        x = np.empty(block_size, dtype=np.int64)
        x[:order] = warm
        hist = list(map(int, warm[::-1]))  # hist[0] = most recent
        xi = x
        for i in range(order, block_size):
            pred = 0
            for c, h in zip(coefs, hist):
                pred += c * h
            cur = int(resid[i - order]) + (pred >> shift)
            xi[i] = cur
            hist = [cur] + hist[:-1]
    else:
        raise NotImplementedError(f"reserved subframe type {stype}")
    if wasted:
        x = x << wasted
    return x


def decode_flac(payload: bytes, verify_md5: bool = True) -> tuple[int, np.ndarray, int]:
    """Decode a FLAC stream to (sample_rate, samples, bits_per_sample).
    Samples are int32, shape (n,) for mono or (n, ch) for multichannel.
    CRC-8/CRC-16 are verified per frame; the STREAMINFO MD5 is verified
    over the full decoded stream when present (all-zero MD5 skips)."""
    if payload[:4] != b"fLaC":
        raise NotImplementedError("not a FLAC stream")
    pos = 4
    sr = nch = bps = None
    total = md5 = None
    last = False
    while not last:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata")
        hdr = payload[pos]
        last, btype = bool(hdr & 0x80), hdr & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if btype == 0:  # STREAMINFO
            if blen != 34 or len(body) != 34:
                raise ValueError("bad STREAMINFO length")
            b = int.from_bytes(body, "big")
            # fields from the top: 16+16+24+24+20+3+5+36+128 bits
            sr = (b >> (128 + 36 + 5 + 3)) & ((1 << 20) - 1)
            nch = ((b >> (128 + 36 + 5)) & 0x7) + 1
            bps = ((b >> (128 + 36)) & 0x1F) + 1
            total = (b >> 128) & ((1 << 36) - 1)
            md5 = body[18:34]
        elif btype == 127:
            raise ValueError("invalid metadata block type 127")
        pos += 4 + blen
    if sr is None:
        raise ValueError("FLAC stream has no STREAMINFO")
    if sr == 0 or not (1 <= nch <= 8) or not (4 <= bps <= 32):
        raise ValueError(f"hostile STREAMINFO (sr={sr}, ch={nch}, bps={bps})")

    r = _Reader(payload, start_byte=pos)
    chans: list[list[np.ndarray]] = [[] for _ in range(nch)]
    got = 0
    # hostile-header defense (same discipline as check_dims in the image
    # codecs): a CONSTANT subframe emits ~5.5k samples/byte at most, so a
    # decode expanding beyond 16384 samples per payload byte is forged
    max_samples = 16384 * len(payload)
    while not r.at_end() and (total == 0 or got < total):
        if got > max_samples:
            raise ValueError("implausible FLAC expansion (forged headers)")
        hstart = r.byte_pos()
        if r.read_uint(14) != _SYNC:
            raise ValueError("lost frame sync")
        r.read_uint(1)  # reserved
        r.read_uint(1)  # blocking strategy (coded number length differs only)
        bs_code = r.read_uint(4)
        sr_code = r.read_uint(4)
        ch_code = r.read_uint(4)
        sz_code = r.read_uint(3)
        r.read_uint(1)  # reserved
        _read_coded_number(r)
        if bs_code == 0:
            raise ValueError("reserved block size code")
        elif bs_code == 1:
            block_size = 192
        elif bs_code <= 5:
            block_size = 576 << (bs_code - 2)
        elif bs_code == 6:
            block_size = r.read_uint(8) + 1
        elif bs_code == 7:
            block_size = r.read_uint(16) + 1
        else:
            block_size = 256 << (bs_code - 8)
        if sr_code == 0:
            pass  # streaminfo rate
        elif sr_code == 0b1100:
            r.read_uint(8)
        elif sr_code in (0b1101, 0b1110):
            r.read_uint(16)
        elif sr_code == 0b1111:
            raise ValueError("invalid sample rate code")
        else:
            raise NotImplementedError("tabulated sample-rate codes unused by encoder")
        fbps = bps if sz_code == 0 else _BPS_FROM_CODE.get(sz_code)
        if fbps is None:
            raise ValueError(f"reserved sample size code {sz_code}")
        crc_calc = _crc8(payload[hstart : r.byte_pos()])
        if r.read_uint(8) != crc_calc:
            raise ValueError("frame header CRC-8 mismatch")

        if ch_code < 8:
            f_nch, mode = ch_code + 1, "indep"
        elif ch_code == 8:
            f_nch, mode = 2, "ls"
        elif ch_code == 9:
            f_nch, mode = 2, "rs"
        elif ch_code == 10:
            f_nch, mode = 2, "ms"
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        if f_nch != nch:
            raise ValueError("frame channel count disagrees with STREAMINFO")

        sub = []
        for c in range(f_nch):
            side_bonus = int(
                (mode == "ls" and c == 1)
                or (mode == "rs" and c == 0)
                or (mode == "ms" and c == 1)
            )
            sub.append(_decode_subframe(r, block_size, fbps + side_bonus))
        r.align()
        crc16_calc = _crc16(payload[hstart : r.byte_pos()])
        if r.read_uint(16) != crc16_calc:
            raise ValueError("frame CRC-16 mismatch")

        if mode == "ls":
            left, side = sub
            sub = [left, left - side]
        elif mode == "rs":
            side, right = sub
            sub = [side + right, right]
        elif mode == "ms":
            mid, side = sub
            t = (mid << 1) | (side & 1)
            sub = [(t + side) >> 1, (t - side) >> 1]
        for c in range(nch):
            chans[c].append(sub[c])
        got += block_size

    if got == 0:
        raise ValueError("FLAC stream has no frames")
    out = np.stack([np.concatenate(c) for c in chans], axis=-1).astype(np.int32)
    if total:
        if got < total:
            raise ValueError("FLAC stream ends before declared total")
        out = out[:total]
    if verify_md5 and md5 is not None and md5 != b"\x00" * 16:
        if bps % 8 == 0:
            raw = _interleaved_le_bytes(out, bps)
            if hashlib.md5(raw).digest() != md5:
                raise ValueError("decoded-stream MD5 mismatch")
    return sr, (out[:, 0] if nch == 1 else out), bps


def _interleaved_le_bytes(samples_2d: np.ndarray, bps: int) -> bytes:
    """Little-endian interleaved sample bytes — the STREAMINFO MD5 input."""
    flat = samples_2d.astype(np.int64).reshape(-1)
    nbytes = bps // 8
    u = (flat & ((1 << bps) - 1)).astype(np.uint64)
    out = np.empty((len(flat), nbytes), dtype=np.uint8)
    for i in range(nbytes):
        out[:, i] = ((u >> np.uint64(8 * i)) & np.uint64(0xFF)).astype(np.uint8)
    return out.tobytes()


# -------------------------------------------------------------- encoder


class _Writer:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, val: int, n: int) -> None:
        if n == 0:
            return
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)


def _write_coded_number(w: _Writer, val: int) -> None:
    if val < 0x80:
        w.write(val, 8)
        return
    for n_cont, lead_bits in ((1, 5), (2, 4), (3, 3), (4, 2), (5, 1), (6, 0)):
        if val < (1 << (6 * n_cont + lead_bits)):
            lead = (0xFF << (lead_bits + 1)) & 0xFF
            w.write(lead | (val >> (6 * n_cont)), 8)
            for k in range(n_cont - 1, -1, -1):
                w.write(0x80 | ((val >> (6 * k)) & 0x3F), 8)
            return
    raise ValueError("coded number too large")


def _zigzag(e: np.ndarray) -> np.ndarray:
    return (e << 1) ^ (e >> 63)


def _rice_cost(u: np.ndarray, param: int) -> int:
    return int(np.sum(u >> param)) + len(u) * (param + 1)


def _best_rice_param(u: np.ndarray) -> tuple[int, int]:
    best_p, best_c = 0, _rice_cost(u, 0)
    for p in range(1, 15):
        c = _rice_cost(u, p)
        if c < best_c:
            best_p, best_c = p, c
        elif c > best_c * 2:
            break
    return best_p, best_c


def _write_residual(w: _Writer, resid: np.ndarray, block_size: int, order: int, porder: int) -> None:
    n_part = 1 << porder
    if block_size % n_part or (block_size >> porder) <= order and porder:
        raise ValueError("partition order incompatible with block size / predictor order")
    w.write(0, 2)  # rice method (4-bit params)
    w.write(porder, 4)
    u_all = _zigzag(resid.astype(np.int64))
    start = 0
    for p in range(n_part):
        cnt = (block_size >> porder) - (order if p == 0 else 0)
        u = u_all[start : start + cnt]
        start += cnt
        param, rice_c = _best_rice_param(u) if len(u) else (0, 0)
        raw_bits = int(max(int(u.max()).bit_length() + 1, 1)) if len(u) and u.max() > 0 else 1
        if len(u) and (5 + raw_bits * len(u)) < rice_c:
            w.write(0xF, 4)
            w.write(raw_bits, 5)
            for v in map(int, (u >> 1) ^ -(u & 1)):  # un-zigzag back to signed
                w.write(v & ((1 << raw_bits) - 1), raw_bits)
        else:
            w.write(param, 4)
            for uv in map(int, u):
                w.write_unary(uv >> param)
                w.write(uv, param)


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    e = x.astype(np.int64)
    for _ in range(order):
        e = np.diff(e)
    return e


def _lpc_analyze(x: np.ndarray, order: int, precision: int = 12) -> tuple[list[int], int] | None:
    xf = x.astype(np.float64)
    n = len(xf)
    if n <= order:
        return None
    r = np.array([np.dot(xf[: n - k], xf[k:]) for k in range(order + 1)])
    if r[0] == 0:
        return None
    # Levinson-Durbin
    a = np.zeros(order + 1)
    a[0], err = 1.0, r[0]
    for i in range(1, order + 1):
        acc = r[i] + np.dot(a[1:i], r[1:i][::-1])
        k = -acc / err
        a[1 : i + 1] = np.concatenate([a[1:i] + k * a[1:i][::-1], [k]])
        err *= 1 - k * k
        if err <= 0:
            return None
    lpc = -a[1 : order + 1]  # prediction coefficients
    cmax = np.max(np.abs(lpc))
    if not np.isfinite(cmax) or cmax == 0:
        return None
    shift = min(14, max(0, precision - 1 - int(np.ceil(np.log2(cmax + 1e-9)))))
    q = np.clip(np.round(lpc * (1 << shift)), -(1 << (precision - 1)), (1 << (precision - 1)) - 1)
    return [int(v) for v in q], shift


def _lpc_residual(x: np.ndarray, coefs: list[int], shift: int) -> np.ndarray:
    order = len(coefs)
    xi = x.astype(np.int64)
    # pred[i] = (sum_j coefs[j] * x[i-1-j]) >> shift — vectorized via
    # shifted views (encode side sees all original samples at once)
    pred = np.zeros(len(xi) - order, dtype=np.int64)
    for j, c in enumerate(coefs):
        pred += c * xi[order - 1 - j : len(xi) - 1 - j]
    return xi[order:] - (pred >> shift)


def _wasted_bits(x: np.ndarray, bps: int) -> int:
    nz = x[x != 0]
    if len(nz) == 0:
        return 0
    w = 0
    v = np.bitwise_or.reduce(nz.astype(np.int64))
    while w < bps - 1 and not (v >> w) & 1:
        w += 1
    return w


def _encode_subframe(
    w: _Writer, x: np.ndarray, bps: int, force: str | None, lpc_order: int, porder: int
) -> None:
    block_size = len(x)
    wasted = 0 if force == "verbatim" else _wasted_bits(x, bps)
    if wasted:
        x = x >> wasted
    eff = bps - wasted

    def header(stype: int) -> None:
        w.write(0, 1)
        w.write(stype, 6)
        if wasted:
            w.write(1, 1)
            w.write_unary(wasted - 1)
        else:
            w.write(0, 1)

    if force != "verbatim" and np.all(x == x[0]):
        header(0)
        w.write(int(x[0]), eff)
        return
    if force == "verbatim":
        header(1)
        for v in map(int, x):
            w.write(v, eff)
        return

    # candidate predictors: fixed 0-4 (bounded by block size), plus LPC
    best = None  # (cost, kind, order, payload...)
    for order in range(0, min(4, block_size - 1) + 1):
        e = _fixed_residual(x, order)
        cost = _best_rice_param(_zigzag(e))[1] + order * eff
        if best is None or cost < best[0]:
            best = (cost, "fixed", order, e, None, None)
    if lpc_order and block_size > lpc_order:
        got = _lpc_analyze(x, lpc_order)
        if got:
            coefs, shift = got
            e = _lpc_residual(x, coefs, shift)
            cost = _best_rice_param(_zigzag(e))[1] + lpc_order * eff + 9 + 12 * lpc_order
            if cost < best[0]:
                best = (cost, "lpc", lpc_order, e, coefs, shift)
    cost, kind, order, e, coefs, shift = best
    if cost >= block_size * eff:  # verbatim is cheaper
        header(1)
        for v in map(int, x):
            w.write(v, eff)
        return
    po = porder
    while po and (block_size % (1 << po) or (block_size >> po) <= order):
        po -= 1
    if kind == "fixed":
        header(8 + order)
        for v in map(int, x[:order]):
            w.write(v, eff)
    else:
        header(32 + order - 1)
        for v in map(int, x[:order]):
            w.write(v, eff)
        w.write(12 - 1, 4)  # precision 12
        w.write(shift, 5)
        for c in coefs:
            w.write(c, 12)
    _write_residual(w, e, block_size, order, po)


def encode_flac(
    samples: np.ndarray,
    sample_rate: int,
    bps: int = 16,
    block_size: int = 4096,
    channel_mode: str = "auto",
    lpc_order: int = 8,
    partition_order: int = 0,
    force: str | None = None,
) -> bytes:
    """Encode int samples ((n,) mono or (n, 2) stereo) as a FLAC stream.
    Lossless for any predictor choice; `channel_mode` in
    {'auto','indep','ls','rs','ms'}, `force` in {None,'verbatim'} pins a
    subframe type for tests."""
    if bps not in _BPS_CODE:
        raise ValueError(f"bps {bps} unsupported (one of {sorted(_BPS_CODE)})")
    x = np.asarray(samples, dtype=np.int64)
    if x.ndim == 1:
        x = x[:, None]
    n, nch = x.shape
    if nch > 2:
        raise NotImplementedError("encoder supports mono/stereo")
    if n == 0:
        raise ValueError("empty sample stream")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if x.min() < lo or x.max() > hi:
        raise ValueError(f"samples exceed {bps}-bit range")

    frames = _Writer()
    min_bs = max_bs = 0
    frame_no = 0
    for start in range(0, n, block_size):
        blk = x[start : start + block_size]
        bs = len(blk)
        min_bs = bs if min_bs == 0 else min(min_bs, bs)
        max_bs = max(max_bs, bs)
        w = _Writer()
        if nch == 1:
            mode, ch_code = "indep", 0
            subs = [(blk[:, 0], bps)]
        else:
            l, r_ = blk[:, 0], blk[:, 1]
            side = l - r_
            cand = {
                "indep": (abs(l).sum() + abs(r_).sum(), 1, [(l, bps), (r_, bps)]),
                "ls": (abs(l).sum() + abs(side).sum(), 8, [(l, bps), (side, bps + 1)]),
                "rs": (abs(side).sum() + abs(r_).sum(), 9, [(side, bps + 1), (r_, bps)]),
                "ms": (
                    abs((l + r_) >> 1).sum() + abs(side).sum(),
                    10,
                    [((l + r_) >> 1, bps), (side, bps + 1)],
                ),
            }
            mode = channel_mode
            if mode == "auto":
                mode = min(cand, key=lambda k: cand[k][0])
            _, ch_code, subs = cand[mode]

        w.write(_SYNC, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocking
        w.write(7, 4)  # 16-bit block size - 1 follows
        w.write(0, 4)  # sample rate from STREAMINFO
        w.write(ch_code, 4)
        w.write(_BPS_CODE[bps], 3)
        w.write(0, 1)
        _write_coded_number(w, frame_no)
        w.write(bs - 1, 16)
        hdr_bytes = bytes(w.out)  # header is byte-aligned here
        w.write(_crc8(hdr_bytes), 8)
        for sx, sbps in subs:
            _encode_subframe(w, sx, sbps, force, lpc_order, partition_order)
        w.align()
        frame_bytes = bytes(w.out)
        frames.out += frame_bytes
        frames.out += struct.pack(">H", _crc16(frame_bytes))
        frame_no += 1

    # spec MD5 is over byte-packed samples; for depths that aren't a
    # whole byte count (12/20) write the all-zero "unknown" marker
    # rather than a digest in a packing we don't replicate
    md5 = (
        hashlib.md5(_interleaved_le_bytes(x.astype(np.int32), bps)).digest()
        if bps % 8 == 0
        else b"\x00" * 16
    )
    si = 0
    si = (si << 16) | min_bs
    si = (si << 16) | max_bs
    si = (si << 24) | 0  # min frame size unknown
    si = (si << 24) | 0
    si = (si << 20) | sample_rate
    si = (si << 3) | (nch - 1)
    si = (si << 5) | (bps - 1)
    si = (si << 36) | n
    streaminfo = si.to_bytes(18, "big") + md5
    return (
        b"fLaC"
        + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
        + bytes(frames.out)
    )
