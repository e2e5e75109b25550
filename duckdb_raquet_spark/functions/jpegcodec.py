"""From-scratch JPEG (ITU T.81) codec: sequential AND progressive DCT.

Decoder: one multi-scan engine over per-component zigzag coefficient
buffers handles baseline SOF0/1 (interleaved or multi-scan) and
progressive SOF2 with spectral selection + successive approximation
(DC/AC first and refinement scans, EOB runs — T.81 §F/G); 8-bit, 1 or
3 components, sampling factors 1-2 (grayscale, 4:4:4, 4:2:0),
canonical Huffman tables from DHT (BITS/HUFFVAL), byte-stuffing,
DRI/RSTn restart intervals, dequantize -> de-zigzag -> exact matrix
IDCT (numpy, vectorized over blocks) -> chroma upsample -> JFIF
YCbCr->RGB. Arithmetic coding, lossless JPEG and 12-bit raise
NotImplementedError.

Encoders: the verification twins — level shift -> FDCT -> quantize
(ramp quantization table emitted in DQT, scaled by ``quality``) ->
zigzag -> run/size symbols entropy-coded with a per-image CANONICAL
single-length Huffman table (valid JPEG: the table ships in DHT, so no
spec-table recall is involved; fixed-length codes trade a few percent
of size for simplicity). Grayscale and 4:4:4 / 4:2:0 color baseline,
plus ``encode_jpeg_progressive`` (SOF2, 4:4:4) emitting the standard
DC-first/DC-refine/AC-band-first/AC-band-refine scan chain — its
output must decode bit-identically to the baseline twin (same
coefficients either way), which is how the progressive decode paths
are verified without a golden library.

Lossy by nature, so tests verify round-trip PSNR, not bit identity —
the engine's COLUMN codecs stay lossless; this codec serves the
multimodal (media payload) layer only.
"""

from __future__ import annotations

import struct

import numpy as np

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

_c = np.ones(8)
_c[0] = 1.0 / np.sqrt(2.0)
_x = np.arange(8)
# orthogonal 8-point DCT-II matrix: IDCT(FDCT(b)) == b to float precision
_M = 0.5 * _c[:, None] * np.cos((2 * _x[None, :] + 1) * _x[:, None] * np.pi / 16)


def _fdct(block: np.ndarray) -> np.ndarray:
    return _M @ block @ _M.T


def _quant_table(quality: int) -> np.ndarray:
    """Textbook ramp table Q[u,v] = 1 + (1+u+v)*scale — any table is
    valid JPEG since DQT ships it; scale maps quality 1..100."""
    scale = max(1, int(round(50.0 / max(1, min(100, quality)) * 4)))
    u, v = np.ogrid[0:8, 0:8]
    return np.clip(1 + (1 + u + v) * scale, 1, 255).astype(np.uint8)


# ------------------------------------------------------------- decoder ----


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def align_restart(self):
        """Consume an RSTn marker (byte-aligned)."""
        self.acc = 0
        self.nbits = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2

    def bit(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed
                else:
                    # marker (EOI / RSTn seen mid-read): feed zeros
                    self.pos -= 1
                    self.acc = 0
                    self.nbits = 8
                    return 0
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _huff_map(bits: list[int], vals: bytes) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman: {(length, code): symbol}."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("corrupt JPEG entropy stream (no Huffman match)")


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _ac_first(r, zz, ac_t, ss, se, al, eobrun):
    """AC coefficients, first scan (Ah == 0) — also the baseline AC
    path (ss=1, se=63, al=0, where EOB is just an EOB-run of 1)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(r, ac_t)
        run, size = rs >> 4, rs & 15
        if size == 0:
            if run == 15:
                k += 16
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += r.bits(run)
            break
        k += run
        if k > se:
            raise ValueError("AC run past band end")
        zz[k] = _extend(r.bits(size), size) << al
        k += 1
    return eobrun


def _ac_refine(r, zz, ac_t, ss, se, al, eobrun):
    """AC successive-approximation refinement (T.81 G.1.2.3): each
    history-nonzero coefficient in the band receives a correction bit;
    run/size symbols place newly-significant +-1<<Al coefficients
    between them, with runs counting only zero-history positions."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(r, ac_t)
            run, size = rs >> 4, rs & 15
            val = 0
            if size == 0:
                if run != 15:
                    eobrun = 1 << run
                    if run:
                        eobrun += r.bits(run)
                    break
                # ZRL: skip 16 zero-history positions below
            else:
                if size != 1:
                    raise ValueError("AC refinement size must be 1")
                val = p1 if r.bit() else -p1
            while k <= se:
                c = int(zz[k])
                if c != 0:
                    if r.bit() and (c & p1) == 0:
                        zz[k] = c + (p1 if c > 0 else -p1)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            c = int(zz[k])
            if c != 0:
                if r.bit() and (c & p1) == 0:
                    zz[k] = c + (p1 if c > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _next_marker(payload: bytes, pos: int) -> int:
    """Byte position of the next real marker at/after pos (skips
    entropy data, stuffed FF00 and RSTn)."""
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        nxt = payload[pos + 1]
        if nxt == 0x00 or nxt == 0xFF or 0xD0 <= nxt <= 0xD7:
            pos += 2 if nxt != 0xFF else 1
            continue
        return pos
    return n


def _decode_scan(
    payload, pos, scan_comp, ss, se, ah, al, comps, coef, huff, restart, dims
):
    """Decode one scan's entropy data into the per-component zigzag
    coefficient buffers; returns the byte position after the scan."""
    w, h, hmax, vmax, mcux, mcuy = dims
    r = _BitReader(payload, pos)
    pred = {cid: 0 for cid, *_ in scan_comp}
    eobrun = 0
    by_cid = {c[0]: c for c in comps}

    def one_block(cid, byy, bxx, dc_t, ac_t):
        nonlocal eobrun
        zz = coef[cid][byy, bxx]
        if ss == 0:
            if ah == 0:
                t = _huff_decode(r, dc_t)
                diff = _extend(r.bits(t), t) if t else 0
                pred[cid] += diff
                zz[0] = pred[cid] << al
            elif r.bit():
                zz[0] = int(zz[0]) | (1 << al)
        if se > 0:
            first_ac = 1 if ss == 0 else ss
            if ah == 0:
                eobrun = _ac_first(r, zz, ac_t, first_ac, se, al, eobrun)
            else:
                eobrun = _ac_refine(r, zz, ac_t, first_ac, se, al, eobrun)

    def tables(tabs_dc, tabs_ac):
        dc_t = huff.get((0, tabs_dc)) if ss == 0 and ah == 0 else None
        ac_t = huff.get((1, tabs_ac)) if se > 0 else None
        return dc_t, ac_t

    count = 0
    if len(scan_comp) > 1:  # interleaved: global MCU grid
        for my in range(mcuy):
            for mx in range(mcux):
                if restart and count and count % restart == 0:
                    r.align_restart()
                    pred = {cid: 0 for cid in pred}
                    eobrun = 0
                for cid, tdc, tac in scan_comp:
                    _, hs, vs, _q = by_cid[cid]
                    dc_t, ac_t = tables(tdc, tac)
                    for by in range(vs):
                        for bx in range(hs):
                            one_block(cid, my * vs + by, mx * hs + bx, dc_t, ac_t)
                count += 1
    else:  # non-interleaved: the component's own block grid
        cid, tdc, tac = scan_comp[0]
        _, hs, vs, _q = by_cid[cid]
        cw = (w * hs + hmax - 1) // hmax
        ch = (h * vs + vmax - 1) // vmax
        nbx, nby = (cw + 7) // 8, (ch + 7) // 8
        dc_t, ac_t = tables(tdc, tac)
        for byy in range(nby):
            for bxx in range(nbx):
                if restart and count and count % restart == 0:
                    r.align_restart()
                    pred = {cid: 0 for cid in pred}
                    eobrun = 0
                one_block(cid, byy, bxx, dc_t, ac_t)
                count += 1
    return _next_marker(payload, r.pos)


def decode_jpeg(payload: bytes) -> tuple[np.ndarray, dict]:
    """JPEG -> (H, W, 3) RGB (or (H, W, 1) grayscale) uint8.

    Handles baseline (SOF0/1, interleaved or multi-scan) AND
    progressive (SOF2) with spectral selection + successive
    approximation, via one multi-scan decoder over per-component
    zigzag coefficient buffers (the reference gets this from libjpeg
    through GDAL; here it is from-scratch per ITU T.81 §F/G)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> map
    comps = None  # list of (cid, hsamp, vsamp, qid)
    w = h = 0
    restart = 0
    coef: dict[int, np.ndarray] = {}
    dims = None
    progressive = False
    n_scans = 0
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker sync")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        # (bounds check FIRST — a payload ending in FF FF must fail as a
        # truncated JPEG, not an IndexError)
        while pos + 2 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG (fill bytes run to EOF)")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        if pos + 4 > len(payload):
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qt[tq] = np.frombuffer(seg, np.uint8, 64, sp + 1).astype(np.int32)
                sp += 65
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 15
                bits = list(seg[sp + 1 : sp + 17])
                n = sum(bits)
                huff[(tc, th)] = _huff_map(bits, seg[sp + 17 : sp + 17 + n])
                sp += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit JPEG")
            progressive = marker == 0xC2
            h, w = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            comps = []
            for i in range(nc):
                cid, samp, q = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, samp >> 4, samp & 15, q))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            dims = (w, h, hmax, vmax, mcux, mcuy)
            for cid, hs, vs, _q in comps:
                coef[cid] = np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int32)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError("lossless/arithmetic JPEG not supported")
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if comps is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_comp = []
            for i in range(ns):
                cid, tabs = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_comp.append((cid, tabs >> 4, tabs & 15))
            ss_, se_, a_ = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            ah_, al_ = a_ >> 4, a_ & 15
            if not progressive:
                ss_, se_, ah_, al_ = 0, 63, 0, 0
            pos = _decode_scan(
                payload,
                pos + 2 + seglen,
                scan_comp,
                ss_,
                se_,
                ah_,
                al_,
                comps,
                coef,
                huff,
                restart,
                dims,
            )
            n_scans += 1
            continue
        pos += 2 + seglen
    if comps is None or n_scans == 0:
        raise ValueError("truncated JPEG (no SOF/SOS)")
    w, h, hmax, vmax, mcux, mcuy = dims
    # dequantize -> de-zigzag -> IDCT every block (vectorized over blocks)
    planes = {}
    for cid, hs, vs, qid in comps:
        q = qt[qid]
        zz = coef[cid].astype(np.float64) * q[None, None, :]
        nby, nbx = zz.shape[:2]
        blocks = np.zeros((nby, nbx, 64), dtype=np.float64)
        blocks[:, :, ZIGZAG] = zz
        blocks = blocks.reshape(nby, nbx, 8, 8)
        px = np.einsum("ij,abjk,lk->abil", _M.T, blocks, _M.T) + 128.0
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        planes[cid] = plane
    # upsample each component to full resolution and crop
    full = []
    for cid, hs, vs, _q in comps:
        p = planes[cid]
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        out = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)[..., None]
        ch = 1
    else:
        y, cb, cr = full
        rch = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        out = np.clip(np.round(np.stack([rch, g, b], axis=-1)), 0, 255).astype(
            np.uint8
        )
        ch = 3
    meta = {
        "width": int(w),
        "height": int(h),
        "channels": ch,
        "format": "jpeg",
        "n_bytes": len(payload),
    }
    return out, meta


# ------------------------------------------------------------- encoder ----


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, n: int):
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:
            self.write(1, 1)  # pad with 1s per spec


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length() if v else 0


def _fixed_huff(symbols: set[int]) -> tuple[list[int], bytes, dict[int, tuple[int, int]]]:
    """Single-length canonical Huffman over the symbols actually used —
    valid JPEG (ships in DHT), avoids the all-ones code by sizing
    2^L >= n+1. Returns (BITS, HUFFVAL, {sym: (code, length)})."""
    vals = sorted(symbols)
    n = len(vals)
    L = max(1, n.bit_length())  # 2^L >= n+1, so the all-ones code is free
    bits = [0] * 16
    bits[L - 1] = n
    codes = {v: (i << 0, L) for i, v in enumerate(vals)}
    return bits, bytes(vals), codes


def _encode_component_blocks(blocks: list[np.ndarray], q: np.ndarray):
    """blocks -> list of (dc_sym, dc_bits, [(ac_sym, ac_bits), ...])."""
    out = []
    pred = 0
    qf = q.astype(np.float64).reshape(8, 8)
    for b in blocks:
        coef = _fdct(b.astype(np.float64) - 128.0)
        # zz[i] = coefficient at zigzag position i = raster position ZIGZAG[i]
        zz = np.round(coef / qf).astype(np.int32).reshape(64)[ZIGZAG]
        dc = int(zz[0])
        diff = dc - pred
        pred = dc
        t = _category(diff)
        dc_bits = (diff if diff >= 0 else diff + (1 << t) - 1, t)
        acs = []
        run = 0
        last_nz = 0
        for k in range(1, 64):
            if zz[k]:
                last_nz = k
        for k in range(1, last_nz + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                if run == 16:
                    acs.append((0xF0, (0, 0)))  # ZRL
                    run = 0
                continue
            s = _category(v)
            acs.append(((run << 4) | s, (v if v >= 0 else v + (1 << s) - 1, s)))
            run = 0
        if last_nz < 63:
            acs.append((0x00, (0, 0)))  # EOB
        out.append((t, dc_bits, acs))
    return out


def encode_jpeg(
    arr: np.ndarray, *, quality: int = 85, subsample: bool = False
) -> bytes:
    """uint8 (H, W) / (H, W, 1) grayscale or (H, W, 3) RGB -> baseline
    JPEG. ``subsample=True`` writes 4:2:0 (Y at 2x2, chroma at 1x1)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[..., 0]
    gray = a.ndim == 2
    h, w = a.shape[:2]
    q = _quant_table(quality)
    if gray:
        planes = [(1, 1, 1, a.astype(np.float64))]
    else:
        r, g, b = (a[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            def down(p):
                hh = (h + 1) // 2 * 2
                ww = (w + 1) // 2 * 2
                pp = np.pad(p, ((0, hh - h), (0, ww - w)), mode="edge")
                return (
                    pp.reshape(hh // 2, 2, ww // 2, 2).mean(axis=(1, 3))
                )

            planes = [(1, 2, 2, y), (2, 1, 1, down(cb)), (3, 1, 1, down(cr))]
        else:
            planes = [(1, 1, 1, y), (2, 1, 1, cb), (3, 1, 1, cr)]
    hmax = max(p[1] for p in planes)
    vmax = max(p[2] for p in planes)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # pad each plane to its MCU grid and slice into per-MCU block lists
    comp_blocks: list[list[np.ndarray]] = []
    for _cid, hs, vs, p in planes:
        ph, pw = mcuy * vs * 8, mcux * hs * 8
        pp = np.pad(
            p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"
        )
        blocks = []
        for my in range(mcuy):
            for mx in range(mcux):
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        blocks.append(pp[y0 : y0 + 8, x0 : x0 + 8])
        comp_blocks.append(blocks)
    encoded = [
        _encode_component_blocks(bl, q) for bl in comp_blocks
    ]
    dc_syms: set[int] = set()
    ac_syms: set[int] = set()
    for enc in encoded:
        for t, _dc, acs in enc:
            dc_syms.add(t)
            for sym, _ in acs:
                ac_syms.add(sym)
    dc_bits_spec, dc_vals, dc_codes = _fixed_huff(dc_syms)
    ac_bits_spec, ac_vals, ac_codes = _fixed_huff(ac_syms)

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes):
        out.extend(bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes(q.reshape(64)[ZIGZAG]))  # DQT is zigzag-ordered
    nc = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for cid, hs, vs, _p in planes:
        sof += bytes([cid, (hs << 4) | vs, 0])
    seg(0xC0, sof)
    seg(0xC4, bytes([0x00]) + bytes(dc_bits_spec) + dc_vals)
    seg(0xC4, bytes([0x10]) + bytes(ac_bits_spec) + ac_vals)
    sos = bytes([nc])
    for cid, *_ in planes:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    bw = _BitWriter()
    # interleave per MCU: each component contributes hs*vs blocks
    idx = [0] * len(planes)
    for _m in range(mcux * mcuy):
        for ci, (_cid, hs, vs, _p) in enumerate(planes):
            for _ in range(hs * vs):
                t, (dv, dn), acs = encoded[ci][idx[ci]]
                idx[ci] += 1
                code, ln = dc_codes[t]
                bw.write(code, ln)
                if dn:
                    bw.write(dv, dn)
                for sym, (av, an) in acs:
                    code, ln = ac_codes[sym]
                    bw.write(code, ln)
                    if an:
                        bw.write(av, an)
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")
    return bytes(out)


# ------------------------------------------------- progressive encoder ----


def _zz_blocks(plane: np.ndarray, q: np.ndarray) -> list[np.ndarray]:
    """Plane (already MCU-padded) -> per-block zigzag coefficient rows."""
    qf = q.astype(np.float64).reshape(8, 8)
    nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
    out = []
    for by in range(nby):
        for bx in range(nbx):
            b = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coef = _fdct(b - 128.0)
            out.append(np.round(coef / qf).astype(np.int32).reshape(64)[ZIGZAG])
    return out


class _ScanTokens:
    """Symbol/bit token buffer for one scan; symbols get a per-scan
    canonical Huffman table at write time."""

    def __init__(self):
        self.tokens: list[tuple] = []  # ('sym', s) | ('bits', val, n)
        self.syms: set[int] = set()

    def sym(self, s: int):
        self.tokens.append(("sym", s))
        self.syms.add(s)

    def bits(self, v: int, n: int):
        if n:
            self.tokens.append(("bits", v, n))

    def write(self, bw: _BitWriter, codes: dict[int, tuple[int, int]]):
        for t in self.tokens:
            if t[0] == "sym":
                code, ln = codes[t[1]]
                bw.write(code, ln)
            else:
                bw.write(t[1], t[2])


def _ac_first_scan(blocks, ss, se, al) -> _ScanTokens:
    tk = _ScanTokens()
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            tk.sym(r << 4)
            tk.bits(eobrun - (1 << r), r)
            eobrun = 0

    for zz in blocks:
        vals = [
            (1 if int(v) > 0 else -1) * (abs(int(v)) >> al)
            for v in zz[ss : se + 1]
        ]
        if not any(vals):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        last_nz = max(i for i, v in enumerate(vals) if v)
        run = 0
        for v in vals[: last_nz + 1]:
            if v == 0:
                run += 1
                continue
            while run > 15:
                tk.sym(0xF0)  # ZRL
                run -= 16
            s = _category(v)
            tk.sym((run << 4) | s)
            tk.bits(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < len(vals) - 1:
            eobrun += 1
    flush_eob()
    return tk


def _ac_refine_scan(blocks, ss, se, al) -> _ScanTokens:
    """T.81 G.1.2.3 encoder side (mirrors the decoder's correction-bit
    interleaving): newly-significant coefficients emit run/1 symbols
    and sign bits; history-nonzero coefficients emit buffered
    correction bits after the next symbol or EOB-run flush."""
    tk = _ScanTokens()
    eobrun = 0
    br: list[int] = []  # current block's pending correction bits
    be: list[int] = []  # correction bits riding with the pending EOB run

    def flush_eob():
        # EOBn symbol + its run bits, then the bits buffered from the
        # blocks folded into the run — the order the decoder's EOB-run
        # tail loop reads them
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            tk.sym(r << 4)
            tk.bits(eobrun - (1 << r), r)
            eobrun = 0
        for b in be:
            tk.bits(b, 1)
        be.clear()

    def flush_br():
        # current block's correction bits go AFTER the symbol just
        # emitted (the decoder reads them while advancing past
        # zero-run/history-nonzero positions)
        for b in br:
            tk.bits(b, 1)
        br.clear()

    for zz in blocks:
        band = [int(v) for v in zz[ss : se + 1]]
        absv = [abs(v) >> al for v in band]
        eob = -1
        for i, a in enumerate(absv):
            if a == 1:
                eob = i
        run = 0
        for i, a in enumerate(absv):
            if a == 0:
                run += 1
                continue
            # any required ZRLs go out at the FIRST nonzero position
            # (history or new), BEFORE buffering its correction bit —
            # libjpeg's ordering; deferring them past a buffered
            # history bit desyncs the decoder's bit interleaving
            while run > 15 and i <= eob:
                flush_eob()
                tk.sym(0xF0)
                run -= 16
                flush_br()
            if a > 1:
                br.append(a & 1)
                continue
            # newly significant at this level
            flush_eob()
            tk.sym((run << 4) | 1)
            tk.bits(1 if band[i] > 0 else 0, 1)
            flush_br()
            run = 0
        if run > 0 or br:
            eobrun += 1
            be.extend(br)
            br.clear()
            if eobrun == 0x7FFF or len(be) > 900:
                flush_eob()
    flush_eob()
    return tk


def encode_jpeg_progressive(
    arr: np.ndarray,
    *,
    quality: int = 85,
    bands: tuple[tuple[int, int], ...] = ((1, 5), (6, 63)),
    al: int = 1,
) -> bytes:
    """uint8 grayscale/RGB -> progressive JPEG (SOF2, 4:4:4).

    Scan script (the standard two-level successive-approximation
    chain): DC first at Al=``al`` interleaved, DC refinement down to 0,
    then per component per spectral band an AC first scan at Al and an
    AC refinement to 0. Exercises every progressive decode path:
    spectral selection, EOB runs, DC/AC refinement."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[..., 0]
    gray = a.ndim == 2
    h, w = a.shape[:2]
    q = _quant_table(quality)
    if gray:
        planes = [(1, a.astype(np.float64))]
    else:
        r, g, b = (a[..., i].astype(np.float64) for i in range(3))
        planes = [
            (1, 0.299 * r + 0.587 * g + 0.114 * b),
            (2, -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0),
            (3, 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0),
        ]
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    comp_zz = []
    for _cid, p in planes:
        pp = np.pad(
            p, ((0, nby * 8 - p.shape[0]), (0, nbx * 8 - p.shape[1])), mode="edge"
        )
        comp_zz.append(_zz_blocks(pp, q))

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes):
        out.extend(bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes(q.reshape(64)[ZIGZAG]))
    nc = len(planes)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for cid, _p in planes:
        sof += bytes([cid, 0x11, 0])
    seg(0xC2, sof)

    def emit_scan(scan_comps, ss, se, ah, al_, tk, tclass):
        if tk is not None and tk.syms:
            bits_spec, vals, codes = _fixed_huff(tk.syms)
            seg(0xC4, bytes([tclass << 4]) + bytes(bits_spec) + vals)
        else:
            codes = {}
        sos = bytes([len(scan_comps)])
        for cid in scan_comps:
            sos += bytes([cid, 0x00])
        sos += bytes([ss, se, (ah << 4) | al_])
        seg(0xDA, sos)
        bw = _BitWriter()
        if tk is not None:
            tk.write(bw, codes)
        return bw

    # --- DC first scan (interleaved, 4:4:4 -> MCU order = block order)
    tk = _ScanTokens()
    preds = [0] * nc
    for bi in range(nbx * nby):
        for ci in range(nc):
            d = int(comp_zz[ci][bi][0]) >> al
            diff = d - preds[ci]
            preds[ci] = d
            t = _category(diff)
            tk.sym(t)
            tk.bits(diff if diff >= 0 else diff + (1 << t) - 1, t)
    bw = emit_scan([cid for cid, _ in planes], 0, 0, 0, al, tk, 0)
    bw.flush()
    out.extend(bw.out)
    # --- DC refinement scans al-1 .. 0 (raw bits, no table)
    for a_ in range(al - 1, -1, -1):
        bw = emit_scan([cid for cid, _ in planes], 0, 0, a_ + 1, a_, None, 0)
        for bi in range(nbx * nby):
            for ci in range(nc):
                bw.write((int(comp_zz[ci][bi][0]) >> a_) & 1, 1)
        bw.flush()
        out.extend(bw.out)
    # --- AC scans: first at Al, then refinements, per component/band
    for ci, (cid, _p) in enumerate(planes):
        for ss, se in bands:
            tk = _ac_first_scan(comp_zz[ci], ss, se, al)
            bw = emit_scan([cid], ss, se, 0, al, tk, 1)
            bw.flush()
            out.extend(bw.out)
    for ci, (cid, _p) in enumerate(planes):
        for ss, se in bands:
            for a_ in range(al - 1, -1, -1):
                tk = _ac_refine_scan(comp_zz[ci], ss, se, a_)
                bw = emit_scan([cid], ss, se, a_ + 1, a_, tk, 1)
                bw.flush()
                out.extend(bw.out)
    out.extend(b"\xff\xd9")
    return bytes(out)
