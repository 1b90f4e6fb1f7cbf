"""Property-based conformance vs CPython codecs (SURVEY.md §5.2)."""

from __future__ import annotations

import codecs

import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ultraviolet_spark.kernels.buffers import (
    binary_to_offsets,
    list_from_rows,
    rows_from_list,
)
from ultraviolet_spark.kernels.encode import (
    codepoints_to_utf8,
    codepoints_to_utf16,
    codepoints_to_utf32,
)
from ultraviolet_spark.kernels.transcode import (
    BOM_NAMES,
    decode_auto,
    detect_bom,
    transcode,
)
from ultraviolet_spark.kernels.utf8 import utf8_decode_replace, utf8_to_codepoints
from ultraviolet_spark.kernels.utf16 import utf16_to_codepoints
from ultraviolet_spark.kernels.utf32 import utf32_to_codepoints

byte_rows = st.lists(st.binary(max_size=64), min_size=0, max_size=24)
text_rows = st.lists(st.text(max_size=48), min_size=0, max_size=16)


def _cp_rows(rows_cp, cpo):
    return [rows_cp[cpo[i]: cpo[i + 1]].tolist() for i in range(len(cpo) - 1)]


@settings(max_examples=300, deadline=None)
@given(byte_rows)
def test_utf8_decode_replace_matches_cpython(rows):
    data, offsets = rows_from_list(rows)
    out, oo, _ = utf8_decode_replace(data, offsets)
    got = [r.decode("utf-8") for r in list_from_rows(out, oo)]
    want = [r.decode("utf-8", errors="replace") for r in rows]
    assert got == want


@settings(max_examples=300, deadline=None)
@given(byte_rows)
def test_utf16_decode_matches_cpython(rows):
    data, offsets = rows_from_list(rows)
    for be, codec in ((False, "utf-16-le"), (True, "utf-16-be")):
        cp, cpo, n_repl = utf16_to_codepoints(data, offsets, big_endian=be)
        want = [[ord(c) for c in r.decode(codec, errors="replace")] for r in rows]
        assert _cp_rows(cp, cpo) == want, (codec, rows)


@settings(max_examples=300, deadline=None)
@given(byte_rows)
def test_utf32_decode_matches_cpython(rows):
    data, offsets = rows_from_list(rows)
    for be, codec in ((False, "utf-32-le"), (True, "utf-32-be")):
        cp, cpo, n_repl = utf32_to_codepoints(data, offsets, big_endian=be)
        want = [[ord(c) for c in r.decode(codec, errors="replace")] for r in rows]
        assert _cp_rows(cp, cpo) == want, (codec, rows)


@settings(max_examples=300, deadline=None)
@given(text_rows)
def test_encoders_match_cpython(rows):
    cps = [[ord(c) for c in r] for r in rows]
    flat = np.array([c for row in cps for c in row], dtype=np.uint32)
    offsets = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in cps], out=offsets[1:])
    for fn, kwargs, codec in (
        (codepoints_to_utf8, {}, "utf-8"),
        (codepoints_to_utf16, {"big_endian": False}, "utf-16-le"),
        (codepoints_to_utf16, {"big_endian": True}, "utf-16-be"),
        (codepoints_to_utf32, {"big_endian": False}, "utf-32-le"),
        (codepoints_to_utf32, {"big_endian": True}, "utf-32-be"),
    ):
        out, oo = fn(flat, offsets, **kwargs)
        got = list_from_rows(out, oo)
        want = [r.encode(codec) for r in rows]
        assert got == want, codec


@settings(max_examples=200, deadline=None)
@given(text_rows)
def test_transcode_roundtrip_identity(rows):
    """encode(a) → transcode a→b → transcode b→a == encode(a) for
    well-formed input, for every ordered pair of encodings."""
    encs = ["utf-8", "utf-16le", "utf-16be", "utf-32le", "utf-32be"]
    codecs = {"utf-8": "utf-8", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
              "utf-32le": "utf-32-le", "utf-32be": "utf-32-be"}
    for a in encs:
        raw = [r.encode(codecs[a]) for r in rows]
        data, offsets = rows_from_list(raw)
        for b in encs:
            mid, mo, n_repl = transcode(data, offsets, a, b)
            assert not n_repl.any()
            back, bo, n2 = transcode(mid, mo, b, a)
            assert not n2.any()
            assert list_from_rows(back, bo) == raw, (a, b)


def test_detect_bom_and_auto():
    rows = [
        b"\xef\xbb\xbfplain utf8",
        b"\xff\xfeh\x00i\x00",                      # utf-16le BOM
        b"\xfe\xff\x00h\x00i",                      # utf-16be BOM
        b"\xff\xfe\x00\x00h\x00\x00\x00",           # utf-32le BOM
        b"\x00\x00\xfe\xff\x00\x00\x00h",           # utf-32be BOM
        b"no bom",
        b"",
    ]
    data, offsets = rows_from_list(rows)
    bom = detect_bom(data, offsets)
    assert BOM_NAMES[bom].tolist() == [
        "utf-8", "utf-16le", "utf-16be", "utf-32le", "utf-32be", "none", "none",
    ]
    u8, u8o, n_repl, bom2 = decode_auto(data, offsets)
    assert list_from_rows(u8, u8o) == [
        b"plain utf8", b"hi", b"hi", b"h", b"h", b"no bom", b""]
    assert not n_repl.any()
    assert bom2.tolist() == bom.tolist()


# The reference rule (perfbench's oracle): sniff the BOM, UTF-32LE before
# UTF-16LE since its BOM starts with the UTF-16LE one; no BOM → UTF-8.
_SNIFF = (
    (b"\xff\xfe\x00\x00", "utf-32-le", "utf-32le"),
    (b"\x00\x00\xfe\xff", "utf-32-be", "utf-32be"),
    (b"\xef\xbb\xbf", "utf-8", "utf-8"),
    (b"\xff\xfe", "utf-16-le", "utf-16le"),
    (b"\xfe\xff", "utf-16-be", "utf-16be"),
)
_BOM_CODEC = {b"": "utf-8", **{bom: codec for bom, codec, _ in _SNIFF}}
_REPL_HITS: list[int] = []


def _count_replace(exc):
    _REPL_HITS.append(1)
    return "\ufffd", exc.end


codecs.register_error("uv-count-replace", _count_replace)


def _cpython_decode_auto(raw):
    """(utf-8 bytes, U+FFFD replacements, BOM name) by CPython's codecs."""
    if raw is None:
        return b"", 0, "none"
    body, codec, name = raw, "utf-8", "none"
    for bom, c, n in _SNIFF:
        if raw.startswith(bom):
            body, codec, name = raw[len(bom):], c, n
            break
    _REPL_HITS.clear()
    text = body.decode(codec, errors="uv-count-replace")
    return text.encode("utf-8"), len(_REPL_HITS), name


@st.composite
def _bom_row(draw):
    bom = draw(st.sampled_from(list(_BOM_CODEC)))
    body = draw(st.one_of(
        st.binary(max_size=24),
        st.binary(min_size=256, max_size=1536),
        st.text(max_size=400).map(lambda t: t.encode(_BOM_CODEC[bom])),
    ))
    return bom + body


_ROWS_SMALL = [
    b"\xff\xfe" + ("ab" * 3).encode("utf-16-le"),
    b"plain",
    b"\xfe\xff" + ("xy" * 2).encode("utf-16-be"),
    b"",
]
_ROWS_BIG = [
    b"\xff\xfe" + ("ab" * 900).encode("utf-16-le"),
    b"plain " * 300,
    b"\xfe\xff" + ("xy" * 800).encode("utf-16-be"),
    b"\xff\xfe" + ("m" * 1200).encode("utf-16-le"),
]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.none() | _bom_row(), max_size=12))
@example([None])
@example([b""])
@example([bom for bom in _BOM_CODEC if bom] + [None, b""])   # lone BOMs
@example([b"\xff\xfea\x00b", b"\xfe\xff\x00a\x00", b"a\x00b"])  # odd UTF-16
@example([b"\xef\xbb\xbf\xe4\xb8", b"abc\xf0\x9f\x98", b"\xe4"])  # truncated
@example([b"\xff" * 7, b"\xff\xfe" + b"\xff" * 9, b"\xff" * 300])
@example(_ROWS_SMALL)
@example(_ROWS_BIG)
def test_decode_auto_mixed_boms_match_cpython(rows):
    """Mixed-BOM batches (tiny and KB-sized rows, hostile bytes, nulls)
    decode row for row to CPython's UTF-8 with the same U+FFFD count."""
    data, offsets, _ = binary_to_offsets(pa.array(rows, type=pa.large_binary()))
    u8, u8o, n_repl, bom = decode_auto(data, offsets)
    want = [_cpython_decode_auto(r) for r in rows]
    assert list_from_rows(u8, u8o) == [w[0] for w in want]
    assert n_repl.tolist() == [w[1] for w in want]
    assert BOM_NAMES[bom].tolist() == [w[2] for w in want]
    assert len(u8) == u8o[-1]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.binary(max_size=32), min_size=1, max_size=8))
def test_utf8_to_codepoints_matches_decode(rows):
    data, offsets = rows_from_list(rows)
    cp, cpo = utf8_to_codepoints(data, offsets)
    want = [[ord(c) for c in r.decode("utf-8", errors="replace")] for r in rows]
    assert _cp_rows(cp, cpo) == want


bmp_text_rows = st.lists(
    st.text(st.characters(max_codepoint=0xFFFF,
                          blacklist_categories=("Cs",)), max_size=48),
    min_size=1, max_size=16)


@settings(max_examples=200, deadline=None)
@given(bmp_text_rows)
def test_utf16_bmp_fast_path_equals_general(rows):
    """All-BMP even-length batches ride the u16-view fast path; an
    appended odd-length junk row forces the general (sentinel) path on
    identical content — both must agree with each other and CPython."""
    for be, codec in ((False, "utf-16-le"), (True, "utf-16-be")):
        raw = [r.encode(codec) for r in rows]
        data, offsets = rows_from_list(raw)
        cp_f, cpo_f, nr_f = utf16_to_codepoints(data, offsets, big_endian=be)
        data_g, offsets_g = rows_from_list(raw + [b"\xff"])
        cp_g, cpo_g, nr_g = utf16_to_codepoints(data_g, offsets_g, big_endian=be)
        n = len(rows)
        assert _cp_rows(cp_f, cpo_f) == _cp_rows(cp_g, cpo_g)[:n]
        assert nr_f.tolist() == nr_g[:n].tolist() == [0] * n
        want = [[ord(c) for c in r] for r in rows]
        assert _cp_rows(cp_f, cpo_f) == want


@settings(max_examples=200, deadline=None)
@given(bmp_text_rows)
def test_utf32_fast_path_equals_general(rows):
    for be, codec in ((False, "utf-32-le"), (True, "utf-32-be")):
        raw = [r.encode(codec) for r in rows]
        data, offsets = rows_from_list(raw)
        cp_f, cpo_f, nr_f = utf32_to_codepoints(data, offsets, big_endian=be)
        data_g, offsets_g = rows_from_list(raw + [b"\xff"])
        cp_g, cpo_g, nr_g = utf32_to_codepoints(data_g, offsets_g, big_endian=be)
        n = len(rows)
        assert _cp_rows(cp_f, cpo_f) == _cp_rows(cp_g, cpo_g)[:n]
        assert nr_f.tolist() == nr_g[:n].tolist() == [0] * n
        want = [[ord(c) for c in r] for r in rows]
        assert _cp_rows(cp_f, cpo_f) == want


def test_cjk_dense_decode_throughput_regression():
    """Perf floor for the dense (high non-ASCII) decode path (VERDICT r2
    item 4: target ≥50 MB/s on the 97%-CJK probe; round-3 measured
    ~38-55 MB/s depending on host mode, vs ~29-32 at round-2 end via
    LUT classification + index-gather extraction).  Drift-robust RATIO
    against the pure-ASCII fast path plus a loose absolute floor."""
    import os
    import time

    import numpy as np

    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    from ultraviolet_spark.kernels.utf8 import utf8_to_codepoints

    def mbps(row: bytes, reps: int = 5) -> float:
        rows = [row] * 200
        data = np.frombuffer(b"".join(rows), np.uint8)
        off = np.zeros(201, np.int64)
        off[1:] = np.cumsum([len(r) for r in rows])
        utf8_to_codepoints(data, off)  # warm
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            utf8_to_codepoints(data, off)
            best = min(best, time.perf_counter() - t0)
        return len(data) / 1e6 / best

    cjk = mbps(("中文网页内容，包括各种汉字文本。" * 80).encode())
    cyr = mbps(("русский текст для проверки декодера " * 90).encode())

    # ASCII rides a memcpy-level fast path (GB/s) — not a usable ratio
    # base.  2%-non-ASCII exercises the sparse path; dense CJK should
    # stay within ~3× of it (round-2 end: ~5×).
    sparse2 = mbps(b"mostly ascii text here " * 280 + "é".encode())
    assert cjk >= sparse2 / 3.2, (cjk, sparse2)
    if os.getloadavg()[0] < 4.0:    # absolute floors need a quiet host
        assert cjk >= 20.0, cjk     # loose absolute floor (slow host mode)
        assert cyr >= 18.0, cyr


def test_analyze_dense_chunked_equals_unchunked():
    """The L2-chunked dense analyzer must reproduce the full-buffer
    result byte-for-byte, including multi-byte sequences and ill-formed
    spans straddling chunk boundaries (4-byte halo)."""
    import numpy as np

    import ultraviolet_spark.kernels.utf8 as U

    rng = np.random.default_rng(123)
    pieces = []
    for _ in range(400):
        r = rng.integers(0, 6)
        if r == 0:
            pieces.append(b"ascii ")
        elif r == 1:
            pieces.append("中".encode())
        elif r == 2:
            pieces.append("é".encode())
        elif r == 3:
            pieces.append("𝄞".encode())          # 4-byte
        elif r == 4:
            pieces.append(bytes(rng.integers(0x80, 0x100, 3)))  # ill-formed
        else:
            pieces.append(b"\xe0\xa0")            # truncated 3-byte
    buf = np.frombuffer(b"".join(pieces), dtype=np.uint8)

    full = U._analyze_dense_one(buf)
    old = U._DENSE_CHUNK
    try:
        U._DENSE_CHUNK = 64                       # force many boundaries
        chunked = U._analyze_dense_chunked(buf, None)
    finally:
        U._DENSE_CHUNK = old
    for k in full:
        np.testing.assert_array_equal(full[k], chunked[k], err_msg=k)
