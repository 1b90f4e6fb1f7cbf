"""BOM detection, auto-decode, and any→any transcoding through the
UTF-32 codepoint pivot (SURVEY.md §2.1 `transcode`)."""

from __future__ import annotations

import numpy as np

from ultraviolet_spark.kernels import encode as _enc
from ultraviolet_spark.kernels.utf8 import (
    utf8_to_codepoints_with_repl,
)
from ultraviolet_spark.kernels.utf16 import utf16_to_codepoints
from ultraviolet_spark.kernels.utf32 import utf32_to_codepoints

_I64 = np.int64

ENCODINGS = ("utf-8", "utf-16le", "utf-16be", "utf-32le", "utf-32be")

# BOM ids (order matters: UTF-32 LE BOM starts with the UTF-16 LE BOM).
BOM_NONE, BOM_UTF8, BOM_16LE, BOM_16BE, BOM_32LE, BOM_32BE = range(6)
BOM_NAMES = np.array(["none", "utf-8", "utf-16le", "utf-16be", "utf-32le", "utf-32be"])
_BOM_LEN = np.array([0, 3, 2, 2, 4, 4], dtype=_I64)


def detect_bom(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row BOM id (BOM_* constants). Vectorized prefix compare."""
    n = len(offsets) - 1
    lengths = np.diff(offsets)
    s = offsets[:-1]

    def byte(k):
        # data[s+k] where in range else 0x100 (never matches)
        out = np.full(n, 0x100, dtype=np.int32)
        ok = lengths > k
        out[ok] = data[s[ok] + k]
        return out

    b0, b1, b2, b3 = byte(0), byte(1), byte(2), byte(3)
    out = np.full(n, BOM_NONE, dtype=np.int8)
    out[(b0 == 0xEF) & (b1 == 0xBB) & (b2 == 0xBF)] = BOM_UTF8
    out[(b0 == 0xFF) & (b1 == 0xFE)] = BOM_16LE
    out[(b0 == 0xFE) & (b1 == 0xFF)] = BOM_16BE
    out[(b0 == 0xFF) & (b1 == 0xFE) & (b2 == 0x00) & (b3 == 0x00)] = BOM_32LE
    out[(b0 == 0x00) & (b1 == 0x00) & (b2 == 0xFE) & (b3 == 0xFF)] = BOM_32BE
    return out


def _decode_fixed(data, offsets, encoding: str):
    """(cp, cp_offsets, n_repl) for one known encoding; BOM is content."""
    if encoding == "utf-8":
        return utf8_to_codepoints_with_repl(data, offsets)
    if encoding == "utf-16le":
        return utf16_to_codepoints(data, offsets, big_endian=False)
    if encoding == "utf-16be":
        return utf16_to_codepoints(data, offsets, big_endian=True)
    if encoding == "utf-32le":
        return utf32_to_codepoints(data, offsets, big_endian=False)
    if encoding == "utf-32be":
        return utf32_to_codepoints(data, offsets, big_endian=True)
    raise ValueError(f"unsupported encoding {encoding!r} (one of {ENCODINGS})")


def decode_auto(data: np.ndarray, offsets: np.ndarray):
    """BOM-sniffing decode: per-row BOM picks the encoding (stripped);
    rows without a BOM decode as UTF-8.  Returns
    (cp, cp_offsets, n_repl, bom_id_per_row)."""
    n = len(offsets) - 1
    bom = detect_bom(data, offsets)
    # Whole-batch fast path: no BOM anywhere (the dominant web case) →
    # decode in place with zero gather/reassembly copies.
    if n and not bom.any():
        cp, cpo, n_repl = _decode_fixed(data, offsets, "utf-8")
        return cp, cpo, n_repl, bom

    # Strip BOM: advance row starts by the BOM length.
    strip = _BOM_LEN[bom]
    enc_of_bom = {
        BOM_NONE: "utf-8", BOM_UTF8: "utf-8",
        BOM_16LE: "utf-16le", BOM_16BE: "utf-16be",
        BOM_32LE: "utf-32le", BOM_32BE: "utf-32be",
    }
    cp_parts: list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = []
    for bid, enc in enc_of_bom.items():
        rows = np.flatnonzero(bom == bid)
        if not len(rows):
            continue
        sub_off = np.zeros(len(rows) + 1, dtype=_I64)
        # stripped row views; gather index = arange + per-byte delta of
        # (src start − dst start) — ONE repeat, not three
        starts = offsets[:-1][rows] + strip[rows]
        lens = offsets[1:][rows] - starts
        np.cumsum(lens, out=sub_off[1:])
        total_sub = int(sub_off[-1])
        if not total_sub:
            sub = np.empty(0, dtype=np.uint8)
        elif total_sub // len(rows) >= 256:
            # KB-sized rows: bounded per-row slice memcpys beat the
            # byte-granular fancy gather ~35× (8-byte indices dominate
            # the traffic; same trick as utf16.py's unit buffer)
            sub = np.empty(total_sub, dtype=np.uint8)
            for j in range(len(rows)):
                d0 = int(sub_off[j])
                s0 = int(starts[j])
                nb = int(lens[j])
                sub[d0:d0 + nb] = data[s0:s0 + nb]
        else:
            idx = (np.arange(total_sub, dtype=_I64)
                   + np.repeat(starts - sub_off[:-1], lens))
            sub = data[idx]
        cp, cpo, nr = _decode_fixed(sub, sub_off, enc)
        cp_parts.append((rows, cp, cpo, nr))

    # Reassemble in original row order.
    row_cp_counts = np.zeros(n, dtype=_I64)
    n_repl = np.zeros(n, dtype=_I64)
    for rows, cp, cpo, nr in cp_parts:
        row_cp_counts[rows] = np.diff(cpo)
        n_repl[rows] = nr
    out_off = np.zeros(n + 1, dtype=_I64)
    np.cumsum(row_cp_counts, out=out_off[1:])
    out_cp = np.empty(int(out_off[-1]), dtype=np.uint32)
    for rows, cp, cpo, nr in cp_parts:
        counts = np.diff(cpo)
        tot = int(counts.sum())
        if not tot:
            continue
        if tot // len(rows) >= 64:
            # per-row slice memcpys (see the gather above; ~10× here —
            # 4-byte payload under 8-byte scatter indices)
            dst0 = out_off[:-1][rows]
            for j in range(len(rows)):
                d0 = int(dst0[j])
                s0 = int(cpo[j])
                c = int(counts[j])
                out_cp[d0:d0 + c] = cp[s0:s0 + c]
        else:
            idx = (np.arange(tot, dtype=_I64)
                   + np.repeat(out_off[:-1][rows] - cpo[:-1], counts))
            out_cp[idx] = cp
    return out_cp, out_off, n_repl, bom


def transcode(data: np.ndarray, offsets: np.ndarray, src: str, dst: str):
    """any→any among ENCODINGS via the codepoint pivot.
    Returns (out_data, out_offsets, n_repl)."""
    if src == "auto":
        cp, cpo, n_repl, _ = decode_auto(data, offsets)
    else:
        cp, cpo, n_repl = _decode_fixed(data, offsets, src)
    if dst == "utf-8":
        out, oo = _enc.codepoints_to_utf8(cp, cpo)
    elif dst == "utf-16le":
        out, oo = _enc.codepoints_to_utf16(cp, cpo, big_endian=False)
    elif dst == "utf-16be":
        out, oo = _enc.codepoints_to_utf16(cp, cpo, big_endian=True)
    elif dst == "utf-32le":
        out, oo = _enc.codepoints_to_utf32(cp, cpo, big_endian=False)
    elif dst == "utf-32be":
        out, oo = _enc.codepoints_to_utf32(cp, cpo, big_endian=True)
    else:
        raise ValueError(f"unsupported encoding {dst!r}")
    return out, oo, n_repl
