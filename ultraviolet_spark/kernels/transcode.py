"""BOM detection, BOM-sniffing decode to UTF-8, and any→any
transcoding through the UTF-32 codepoint pivot (SURVEY.md §2.1
`transcode`)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ultraviolet_spark.kernels import encode as _enc
from ultraviolet_spark.kernels.buffers import (
    binary_to_offsets,
    offsets_to_pyarrow_binary,
)
from ultraviolet_spark.kernels.utf8 import (
    utf8_decode_replace,
    utf8_to_codepoints_with_repl,
)
from ultraviolet_spark.kernels.utf16 import utf16_to_codepoints
from ultraviolet_spark.kernels.utf32 import utf32_to_codepoints

ENCODINGS = ("utf-8", "utf-16le", "utf-16be", "utf-32le", "utf-32be")

# BOM ids (order matters: UTF-32 LE BOM starts with the UTF-16 LE BOM).
BOM_NONE, BOM_UTF8, BOM_16LE, BOM_16BE, BOM_32LE, BOM_32BE = range(6)
BOM_NAMES = np.array(["none", "utf-8", "utf-16le", "utf-16be", "utf-32le", "utf-32be"])
# BOM id → index into ENCODINGS (no BOM decodes as UTF-8)
_ENC_OF_BOM = np.array([0, 0, 1, 2, 3, 4], dtype=np.int8)


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


def _decode_to_utf8(data, offsets, encoding: str):
    """(utf8, utf8_offsets, n_repl) for one known encoding; BOM is content."""
    if encoding == "utf-8":
        return utf8_decode_replace(data, offsets)
    cp, cpo, n_repl = _decode_fixed(data, offsets, encoding)
    return (*_enc.codepoints_to_utf8(cp, cpo), n_repl)


def decode_auto(data: np.ndarray, offsets: np.ndarray):
    """BOM-sniffing decode straight to UTF-8: per-row BOM picks the
    encoding (UTF-8 without one); the BOM is stripped and ill-formed
    input becomes U+FFFD per maximal subpart.  Returns
    (utf8, utf8_offsets, n_repl, bom_id_per_row)."""
    bom = detect_bom(data, offsets)
    if not bom.any():  # the dominant web case: one byte-splice pass
        return (*utf8_decode_replace(data, offsets), bom)

    # one Arrow take per encoding, BOM still attached; one take back
    enc = _ENC_OF_BOM[bom]
    arr = offsets_to_pyarrow_binary(data, offsets)
    rows, parts, repl = [], [], []
    for e, name in enumerate(ENCODINGS):
        r = np.flatnonzero(enc == e)
        if len(r):
            sub, sub_off, _ = binary_to_offsets(arr.take(r))
            u8, u8o, nr = _decode_to_utf8(sub, sub_off, name)
            rows.append(r)
            parts.append(offsets_to_pyarrow_binary(u8, u8o))
            repl.append(nr)
    order = np.concatenate(rows)
    inverse = np.empty_like(order)
    inverse[order] = np.arange(len(order))
    u8, u8o, _ = binary_to_offsets(pa.concat_arrays(parts).take(inverse))
    n_repl = np.concatenate(repl)[inverse]

    # Every BOM decodes to U+FEFF, i.e. EF BB BF at the start of its row.
    has = bom != BOM_NONE
    keep = np.ones(int(u8o[-1]), dtype=bool)
    keep[u8o[:-1][has, None] + np.arange(3)] = False
    out_off = u8o.copy()
    out_off[1:] -= 3 * np.cumsum(has)
    return u8[:len(keep)][keep], out_off, n_repl, bom


def transcode(data: np.ndarray, offsets: np.ndarray, src: str, dst: str):
    """any→any among ENCODINGS (no BOM sniffing: a BOM is content)
    via the codepoint pivot.  Returns (out_data, out_offsets, n_repl)."""
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
