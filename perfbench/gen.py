"""Seeded generator of the benchmark's pages tables.

The benchmark owns its inputs: nothing here imports the package under
test, so a change to the program cannot change what the benchmark feeds
it.  The same (input, seed, GEN_VERSION) always yields the same bytes.

Two input shapes, each with stated properties (``INPUTS``):

* ``small``  — 60,000 pages of about 600 B of html; exactly 3 crawls
  per url; encodings rotate UTF-8, UTF-16LE+BOM, UTF-16BE+BOM; no
  hostile rows.  Per-row framework cost dominates.
* ``large``  — 4,000 pages of about 10 KB of html; 90% BOM-less
  UTF-8, the rest UTF-16LE/BE or UTF-32LE/BE with a BOM; 1% hostile
  rows (null, empty, lone BOM, odd-length UTF-16, truncated or invalid
  UTF-8, all-0xFF); crawls per url Zipf(1.5), capped at 400, so a few
  urls have hundreds of crawls.  Kernel cost dominates.

Every url's crawl timestamps are distinct whole seconds, so window
ordering is total and the window features are deterministic.  Rows
are shuffled before writing, so the url shuffle has real work to do.

The table is written as parquet (url string, warc_ts timestamp UTC,
html binary, lang string) under ``perfbench/.cache/<key>/`` and reused
when the same key is asked for again.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The generator's version is a digest of this file, so any edit to it
# (sizes, mixes, algorithm) keys a fresh cache entry.
with open(__file__, "rb") as _fh:
    GEN_VERSION = hashlib.sha256(_fh.read()).hexdigest()[:12]
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
N_FILES = 8
ROW_GROUP_ROWS = 2048

INPUTS = {
    "small": {
        "pages": 60_000,
        "sentences_per_page": (2, 4),          # about 600 B of html
        "crawls_per_url": "exactly 3",
        "encodings": {"utf-8": 1 / 3, "utf-16le+bom": 1 / 3,
                      "utf-16be+bom": 1 / 3},
        "hostile_share": 0.0,
    },
    "large": {
        "pages": 4_000,
        "sentences_per_page": (80, 120),       # about 10 KB of html
        "crawls_per_url": "zipf(1.5), capped at 400",
        "encodings": {"utf-8": 0.90, "utf-16le+bom": 0.04,
                      "utf-16be+bom": 0.03, "utf-32le+bom": 0.015,
                      "utf-32be+bom": 0.015},
        "hostile_share": 0.01,
    },
}

HOSTILE_KINDS = ("null", "empty", "lone_bom", "odd_utf16",
                 "truncated_utf8", "invalid_utf8", "all_ff")

_BOM = {"utf-8": b"", "utf-16le+bom": b"\xff\xfe", "utf-16be+bom": b"\xfe\xff",
        "utf-32le+bom": b"\xff\xfe\x00\x00", "utf-32be+bom": b"\x00\x00\xfe\xff"}
_CODEC = {"utf-8": "utf-8", "utf-16le+bom": "utf-16-le",
          "utf-16be+bom": "utf-16-be", "utf-32le+bom": "utf-32-le",
          "utf-32be+bom": "utf-32-be"}
_LANGS = np.array(["en", "de", "fr", "ru", "zh", "ja", "es"])

# Alphabets a word is drawn from, with their weights: mostly ASCII, as on
# the web, plus 2-, 3- and 4-byte UTF-8 sequences and html entities.
_ALPHABETS = [
    ("abcdefghijklmnopqrstuvwxyz", 0.80),
    ("àáâäçèéêëìíîïñòóôöùúûüßøå", 0.07),
    ("".join(chr(c) for c in range(0x430, 0x450)), 0.06),
    ("".join(chr(c) for c in range(0x4E00, 0x4E80)), 0.04),
    ("".join(chr(c) for c in range(0x1F600, 0x1F640)), 0.01),
    ("0123456789", 0.02),
]
_ENTITIES = ["&amp;", "&lt;", "&gt;", "&quot;", "&#233;", "&#x263A;", "&nbsp;"]


def _sentence_pool(rng: np.random.Generator, n: int = 4096) -> list[str]:
    weights = np.array([w for _, w in _ALPHABETS])
    n_words = rng.integers(6, 18, n)
    alpha_of = rng.choice(len(_ALPHABETS), int(n_words.sum()),
                          p=weights / weights.sum())
    word_len = rng.integers(2, 9, len(alpha_of))
    letter = rng.random(int(word_len.sum()))
    words, pos = [], 0
    for a, k in zip(alpha_of, word_len):
        alpha = _ALPHABETS[a][0]
        words.append("".join(alpha[int(x * len(alpha))]
                             for x in letter[pos:pos + k]))
        pos += k
    pool, pos = [], 0
    entity = rng.integers(0, len(_ENTITIES), n)
    for i, k in enumerate(n_words):
        ws = words[pos:pos + k]
        pos += k
        if i % 3 == 0:
            ws.insert(k // 2, _ENTITIES[entity[i]])
        pool.append(" ".join(ws) + ".")
    return pool


def _crawl_counts(rng: np.random.Generator, spec: dict) -> np.ndarray:
    n = spec["pages"]
    if spec["crawls_per_url"] == "exactly 3":
        return np.full(n // 3, 3, dtype=np.int64)
    counts = []
    total = 0
    while total < n:
        c = int(min(rng.zipf(1.5), 400))
        c = min(c, n - total)
        counts.append(c)
        total += c
    return np.array(counts, dtype=np.int64)


def _html(pool: list[str], idx: np.ndarray) -> str:
    paras = ["<p>" + " ".join(pool[i] for i in idx[j:j + 3]) + "</p>"
             for j in range(0, len(idx), 3)]
    return ("<html><head><title>" + pool[idx[0]][:24] + "</title>"
            "<style>p{margin:0}</style></head><body>\n<div class=\"c\">"
            + "\n".join(paras)
            + "</div><script>var n = 1 < 2;</script></body></html>")


def _hostile(rng, kind: str, page: str) -> bytes | None:
    if kind == "null":
        return None
    if kind == "empty":
        return b""
    if kind == "lone_bom":
        return [b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff"][int(rng.integers(0, 3))]
    if kind == "odd_utf16":
        return b"\xff\xfe" + page.encode("utf-16-le") + b"A"
    raw = page.encode("utf-8")
    if kind == "truncated_utf8":
        # cut inside the first multi-byte sequence past the middle, if any
        mid = len(raw) // 2
        j = next((i for i in range(mid, len(raw)) if raw[i] >= 0xC0), mid)
        return raw[:j + 1]
    if kind == "invalid_utf8":
        bad = [b"\xc0\xaf", b"\xed\xa0\x80", b"\xff", b"\x80\x80", b"\xf4\x90\x80\x80"]
        out = bytearray(raw)
        for _ in range(int(rng.integers(1, 5))):
            at = int(rng.integers(0, len(out)))
            out[at:at] = bad[int(rng.integers(0, len(bad)))]
        return bytes(out)
    if kind == "all_ff":
        return b"\xff" * int(rng.integers(2, 64))
    raise ValueError(kind)


def generate(input_name: str, seed: int) -> pa.Table:
    """Build the pages table in memory (deterministic in ``seed``)."""
    spec = INPUTS[input_name]
    rng = np.random.default_rng([seed, len(input_name)])
    pool = _sentence_pool(rng)
    counts = _crawl_counts(rng, spec)
    n = int(counts.sum())
    n_urls = len(counts)

    url_of = np.repeat(np.arange(n_urls), counts)
    base = np.datetime64("2024-01-01T00:00:00", "s").astype(np.int64)
    start = base + rng.integers(0, 30 * 86400, n_urls)
    # gaps of about 18 h on average: some crawls fall in the same 24 h
    # session, some open a new one
    gaps = np.maximum(1, rng.exponential(18 * 3600, n)).astype(np.int64)
    first = np.zeros(n, dtype=bool)
    first[np.cumsum(counts) - counts] = True
    gaps[first] = 0
    grp_start = np.repeat(start, counts)
    csum = np.cumsum(gaps)
    csum -= np.repeat(csum[first], counts)
    ts_s = grp_start + csum

    home = rng.integers(0, len(_LANGS), n_urls)
    lang_idx = np.where(rng.random(n) < 0.85, np.repeat(home, counts),
                        rng.integers(0, len(_LANGS), n))

    if input_name == "small":
        encs = np.array(list(spec["encodings"]))[np.arange(n) % 3]
    else:
        names = list(spec["encodings"])
        encs = np.array(names)[rng.choice(len(names), n,
                                          p=list(spec["encodings"].values()))]
    n_hostile = int(round(n * spec["hostile_share"]))
    hostile_rows = rng.choice(n, n_hostile, replace=False) if n_hostile else []
    hostile_kind = {int(r): HOSTILE_KINDS[i % len(HOSTILE_KINDS)]
                    for i, r in enumerate(hostile_rows)}

    lo, hi = spec["sentences_per_page"]
    k = rng.integers(lo, hi + 1, n)
    ends = np.cumsum(k)
    sent = rng.integers(0, len(pool), int(ends[-1])).tolist()
    html: list[bytes | None] = []
    for i in range(n):
        page = _html(pool, sent[ends[i] - k[i]:ends[i]])
        kind = hostile_kind.get(i)
        if kind is not None:
            html.append(_hostile(rng, kind, page))
        else:
            html.append(_BOM[encs[i]] + page.encode(_CODEC[encs[i]]))

    order = rng.permutation(n)
    urls = np.char.add("https://site", (url_of % 997).astype(str))
    urls = np.char.add(np.char.add(urls, ".example/p/"), url_of.astype(str))
    return pa.table({
        "url": pa.array(urls[order].tolist(), type=pa.string()),
        "warc_ts": pa.array(ts_s[order] * 1_000_000,
                            type=pa.timestamp("us", tz="UTC")),
        "html": pa.array([html[i] for i in order], type=pa.binary()),
        "lang": pa.array(_LANGS[lang_idx[order]].tolist(), type=pa.string()),
    })


def describe(tbl: pa.Table) -> dict:
    """Realised properties of a generated table (for the run log)."""
    html = tbl.column("html").to_pylist()
    sizes = np.array([len(h) for h in html if h is not None])
    boms = {"utf-32le": 0, "utf-32be": 0, "utf-16le": 0, "utf-16be": 0,
            "utf-8": 0, "none": 0}
    for h in html:
        if h is None:
            continue
        for name, b in (("utf-32le", b"\xff\xfe\x00\x00"),
                        ("utf-32be", b"\x00\x00\xfe\xff"),
                        ("utf-16le", b"\xff\xfe"), ("utf-16be", b"\xfe\xff"),
                        ("utf-8", b"\xef\xbb\xbf"), ("none", b"")):
            if h.startswith(b):
                boms[name] += 1
                break
    crawls = tbl.group_by("url").aggregate([("url", "count")]).column(1)
    return {"pages": tbl.num_rows, "html_bytes": int(sizes.sum()),
            "mean_page_bytes": round(float(sizes.mean()), 1),
            "null_rows": sum(h is None for h in html), "bom_rows": boms,
            "urls": len(crawls),
            "max_crawls_per_url": int(np.max(crawls.to_numpy()))}


def materialize(input_name: str, seed: int) -> tuple[str, dict, bool]:
    """Return (parquet dir, properties, cache_hit); generates on a miss."""
    key = f"{input_name}-s{seed}-g{GEN_VERSION}"
    path = os.path.join(CACHE_DIR, key)
    meta_path = os.path.join(path, "_properties.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return path, json.load(fh), True
    t0 = time.perf_counter()
    tbl = generate(input_name, seed)
    props = describe(tbl)
    props["generate_s"] = time.perf_counter() - t0
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = -(-tbl.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(tbl.slice(k * per, per),
                       os.path.join(tmp, f"part-{k:03d}.parquet"),
                       row_group_size=ROW_GROUP_ROWS)
    with open(os.path.join(tmp, "_properties.json"), "w") as fh:
        json.dump(props, fh)
    try:
        os.rename(tmp, path)
    except OSError:            # another process finished the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return path, props, False
