"""Independent output oracle for the flagship job.

The expected values are recomputed from the generated pages parquet
alone: CPython's codecs decode each page (BOM sniffed here, U+FFFD
``errors="replace"``), ``kernels.extract_text`` extracts the text, and
pandas recomputes every window feature and the as-of value.  Only the
extraction spec is shared with the program, as the spec it must meet.

``check_extract`` compares the extract stage's ``text`` and
``n_replacements``; ``check_features`` compares the enriched features
row for row, exactly.  Each returns a list of mismatch descriptions
(empty when the output is correct).  ``self_test`` shows the checks
reject deliberately perturbed copies of a correct output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SESSION_GAP_S = 24 * 3600.0
EXTRACT_ROWS = 2000          # rows per extract_text call, as in the engine
SELF_TEST_URLS = 200

# Checked in this order: a UTF-32LE BOM starts with the UTF-16LE one.
_SNIFF = ((b"\xff\xfe\x00\x00", "utf-32-le"), (b"\x00\x00\xfe\xff", "utf-32-be"),
          (b"\xef\xbb\xbf", "utf-8"), (b"\xff\xfe", "utf-16-le"),
          (b"\xfe\xff", "utf-16-be"))


def decode_page(raw: bytes | None) -> str | None:
    if raw is None:
        return None
    for bom, codec in _SNIFF:
        if raw.startswith(bom):
            return raw[len(bom):].decode(codec, errors="replace")
    return raw.decode("utf-8", errors="replace")


def expected_rows(pages_dir: str) -> pd.DataFrame:
    """One row per page: url, warc_ts, lang, null_html, text,
    n_replacements — from the input file, without the program.  The
    generator never writes U+FFFD itself, so every U+FFFD in a decoded
    page is a replacement."""
    from ultraviolet_spark.kernels.extract import extract_text

    tbl = pq.read_table(pages_dir)
    html = tbl.column("html").to_pylist()
    decoded = [decode_page(h) for h in html]
    text: list[str | None] = []
    for lo in range(0, len(decoded), EXTRACT_ROWS):
        part = decoded[lo:lo + EXTRACT_ROWS]
        enc = [b"" if d is None else d.encode("utf-8") for d in part]
        offsets = np.zeros(len(enc) + 1, dtype=np.int64)
        np.cumsum([len(e) for e in enc], out=offsets[1:])
        out, oo = extract_text(np.frombuffer(b"".join(enc), dtype=np.uint8), offsets)
        out_b = out.tobytes()
        text += [None if d is None else out_b[oo[i]:oo[i + 1]].decode("utf-8")
                 for i, d in enumerate(part)]
    return pd.DataFrame({
        "url": tbl.column("url").to_pylist(),
        "warc_ts": tbl.column("warc_ts").to_numpy().astype("datetime64[us]"),
        "lang": tbl.column("lang").to_pylist(),
        "null_html": [h is None for h in html],
        "text": text,
        "n_replacements": [0 if d is None else d.count("\ufffd") for d in decoded],
    })


def _keyed(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df["warc_ts"] = pd.to_datetime(df["warc_ts"]).astype("datetime64[us]")
    return df.sort_values(["url", "warc_ts"], kind="mergesort").reset_index(drop=True)


def _same_keys(exp: pd.DataFrame, got: pd.DataFrame, what: str) -> list[str]:
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, expected one per input row ({len(exp)})"]
    if not (exp["url"].equals(got["url"]) and exp["warc_ts"].equals(got["warc_ts"])):
        return [f"{what}: (url, warc_ts) keys differ from the input's"]
    return []


def _diff(col: str, exp: pd.Series, got: pd.Series, keys: pd.DataFrame) -> list[str]:
    e = exp.astype(object).where(exp.notna(), None)
    g = got.astype(object).where(got.notna(), None)
    bad = np.flatnonzero([a != b for a, b in zip(e, g)])
    if not len(bad):
        return []
    i = bad[0]
    return [f"{col}: {len(bad)} rows differ; first at url={keys['url'][i]} "
            f"ts={keys['warc_ts'][i]}: got {g[i]!r}, expected {e[i]!r}"]


def check_extract(exp: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    """``got``: the extract stage's url, warc_ts, text, n_replacements."""
    exp, got = _keyed(exp), _keyed(got)
    errs = _same_keys(exp, got, "extract")
    if errs:
        return errs
    return (_diff("text", exp["text"], got["text"], exp)
            + _diff("n_replacements", exp["n_replacements"],
                    got["n_replacements"].astype("int64"), exp))


def expected_features(exp: pd.DataFrame, text_len: pd.Series) -> pd.DataFrame:
    """Window features and the as-of value, recomputed in pandas on rows
    sorted by (url, warc_ts).  ``text_len`` is the per-row length the
    oracle derived (null-html rows take the program's own value, 0 or
    NULL, since that convention is not fixed)."""
    f = pd.DataFrame({"url": exp["url"], "warc_ts": exp["warc_ts"],
                      "lang": exp["lang"], "text_len": text_len})
    g = f.groupby("url", sort=False)
    for k in (1, 2):
        f[f"lang_stable_lag{k}"] = (g["lang"].shift(k) == f["lang"])
    ts_us = f["warc_ts"].astype("int64")
    gap = (ts_us - ts_us.groupby(f["url"]).shift(1)) / 1e6
    f["gap_secs"] = gap
    new = (gap.isna() | (gap > SESSION_GAP_S)).astype("int64")
    f["session_id"] = new.groupby(f["url"]).cumsum() - 1
    f["text_len_lag1"] = g["text_len"].shift(1)
    valid = (exp["n_replacements"] == 0) & ~exp["null_html"]
    obs = f["text_len"].where(valid)
    f["text_len_ffill"] = obs.groupby(f["url"]).ffill()
    first = (f["url"] != f["url"].shift(1)).to_numpy()
    f["first_text_len"] = f["text_len"].to_numpy()[np.flatnonzero(first)][
        np.cumsum(first) - 1]
    return f


FEATURE_CHECKS = ["lang", "lang_stable_lag1", "lang_stable_lag2", "gap_secs",
                  "session_id", "text_len_lag1", "text_len_ffill",
                  "first_text_len"]


def check_features(exp: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    """``got``: the collected flagship output (FEATURE_COLS +
    first_text_len)."""
    exp, got = _keyed(exp), _keyed(got)
    errs = _same_keys(exp, got, "features")
    if errs:
        return errs
    cp = [len(t) if t is not None else None for t in exp["text"]]
    null_len = got["text_len"].where(exp["null_html"])
    bad_null = null_len.notna() & (null_len != 0)
    if bad_null.any():
        errs.append(f"text_len: {int(bad_null.sum())} null-html rows are "
                    "neither 0 nor NULL")
    text_len = pd.Series(cp, dtype="float64").where(~exp["null_html"], null_len)
    errs += _diff("text_len", text_len, got["text_len"].astype("float64"), exp)
    # cp_hist holds two partitions of the codepoints: 7 general-category
    # buckets, then 4 plane buckets (ASCII, Latin-1, BMP, astral); each
    # sums to text_len
    hist = np.stack([np.zeros(11, np.int64) if h is None else np.asarray(h)
                     for h in got["cp_hist"]])
    n = got["text_len"].astype("float64").fillna(0)
    errs += _diff("sum(cp_hist categories)", n,
                  pd.Series(hist[:, :7].sum(axis=1), dtype="float64"), exp)
    errs += _diff("sum(cp_hist planes)", n,
                  pd.Series(hist[:, 7:].sum(axis=1), dtype="float64"), exp)
    f = expected_features(exp, text_len)
    for c in FEATURE_CHECKS:
        e, o = f[c], got[c]
        if c not in ("lang", "lang_stable_lag1", "lang_stable_lag2"):
            e, o = e.astype("float64"), o.astype("float64")
        errs += _diff(c, e, o, exp)
    return errs


def leakage_frame(got: pd.DataFrame) -> pd.DataFrame:
    """(warc_ts, feature_ts) per output row with an as-of value, where
    feature_ts is the earliest crawl of the same url whose text_len
    equals the joined value — the earliest the value could have been
    observed.  A feature_ts after warc_ts means the value leaked from
    the future."""
    g = _keyed(got)[["url", "warc_ts", "text_len", "first_text_len"]].astype(
        {"text_len": "float64", "first_text_len": "float64"})
    src = (g.dropna(subset=["text_len"])
            .groupby(["url", "text_len"], sort=False)["warc_ts"].min()
            .rename("feature_ts").reset_index()
            .rename(columns={"text_len": "first_text_len"}))
    m = g.dropna(subset=["first_text_len"]).merge(
        src, on=["url", "first_text_len"], how="left")
    return m[["warc_ts", "feature_ts"]]


def self_test(exp: pd.DataFrame, extract_out: pd.DataFrame,
              features_out: pd.DataFrame) -> list[str]:
    """Perturb copies of a correct output; every perturbation must be
    rejected.  Returns the perturbations that were NOT caught.  Runs on
    the rows of the first SELF_TEST_URLS urls, which keeps it cheap."""
    urls = set(sorted(set(exp["url"]))[:SELF_TEST_URLS])
    exp, extract_out, features_out = (
        d[d["url"].isin(urls)].reset_index(drop=True)
        for d in (exp, extract_out, features_out))
    # perturb rows whose values are not NULL, so every change is real
    lag_row = int(np.flatnonzero(features_out["text_len_lag1"].notna())[-1])
    text_row = int(np.flatnonzero(extract_out["text"].notna())[-1])
    at = np.arange(len(features_out)) == lag_row
    cases = {
        "dropped row": (check_features, features_out.drop(features_out.index[lag_row])),
        "text_len_lag1 + 1": (check_features, features_out.assign(
            text_len_lag1=features_out["text_len_lag1"] + at)),
        "session_id + 1": (check_features, features_out.assign(
            session_id=features_out["session_id"] + at)),
        "one text char": (check_extract, extract_out.assign(text=[
            (t + "x") if i == text_row else t
            for i, t in enumerate(extract_out["text"])])),
    }
    return [name for name, (check, bad) in cases.items() if not check(exp, bad)]
