"""Seeded inputs owned by the benchmark.

Two tables, both pure functions of ``(seed, size)``:

* ``webtext(seed, n)``: Common-Crawl-style pages. Zipf-skewed domains,
  one language per domain (long runs once blocks sort by url hash and
  time), crawl bursts per domain (small timestamp deltas, same-second
  ties), boilerplate-heavy text, binary html with an invalid-UTF-8 tail,
  urls captured more than once, and pinned edge rows.
* ``documents(seed, n)``: a training-corpus table with ~5% near-duplicate
  documents (a short tail edit of an earlier document) and a sprinkle of
  exact copies.

Nothing here imports the package under test, so an edit to the
package's own fixture generators cannot move the benchmark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

YEAR_START = 1704067200  # 2024-01-01 UTC
YEAR_SECONDS = 365 * 86400
LANGS = ["en", "de", "fr", "es", "zh", "ru", "pt", "it", "ja", "nl", "pl", "sv"]
LANG_W = [0.55, 0.10, 0.08, 0.08, 0.06, 0.05, 0.02, 0.02, 0.01, 0.01, 0.01, 0.01]
N_DOMAINS = 400
INVALID_UTF8_TAIL = b"\xff\xfe\xc3\x28\xa0\xa1\xe2\x28\xa1\xf0\x28\x8c\xbc\x80"

WEBTEXT_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
WEBTEXT_COLS = WEBTEXT_SCHEMA.names


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 10, n)
    words = {"".join(rng.choice(letters, int(k))) for k in lens}
    return np.array(sorted(words))


PLAN_SEED = 20240101  # fixes the crawl's domains; rows vary with --seed


def _domain_plan() -> dict:
    """Per-domain constants: language, crawl-burst starts, boilerplate
    and vocabulary. Fixed across seeds, so every seed draws rows from the
    same crawl (the hottest domains keep their language and bursts) and
    only the sampled rows vary; deltas re-crawl the same domains into
    the same key space."""
    rng = np.random.default_rng(PLAN_SEED)
    lang_cdf = np.cumsum(LANG_W)
    langs = np.array(LANGS)[
        np.minimum(np.searchsorted(lang_cdf, rng.random(N_DOMAINS)), len(LANGS) - 1)
    ]
    bursts = rng.integers(0, YEAR_SECONDS - 3 * 86400, (N_DOMAINS, 4))
    vocab = _vocab(rng, 3000)
    boiler = np.array(
        [
            f"welcome to d{d:04d} official page terms privacy contact "
            + " ".join(vocab[rng.integers(0, 200, 12)])
            for d in range(N_DOMAINS)
        ]
    )
    return {"langs": langs, "bursts": bursts, "vocab": vocab, "boiler": boiler}


def webtext(seed: int, n: int, part: int = 0) -> pa.Table:
    """``n`` webtext rows. ``part`` 0 is the base table (with the pinned
    edge rows); part k > 0 is the k-th delta batch of the same seed:
    re-crawls and new pages of the same domains."""
    plan = _domain_plan()
    rng = np.random.default_rng([seed, 1, part])
    vocab = plan["vocab"]
    dom = (rng.zipf(1.2, n) - 1) % N_DOMAINS
    # ~2 captures per page: pages drawn from half as many slots as rows
    page = rng.integers(0, max(2, n // (2 * 40)), n)
    slug = np.array(["news", "blog", "shop", "docs", "wiki"])[page % 5]
    urls = [
        f"https://d{d:04d}.example.com/{s}/p{p}" for d, s, p in zip(dom, slug, page)
    ]
    burst = plan["bursts"][dom, rng.integers(0, 4, n)]
    # bursty: most captures within hours of the burst start
    ts = YEAR_START + burst + rng.exponential(4 * 3600, n).astype(np.int64)
    ts = np.minimum(ts, YEAR_START + YEAR_SECONDS - 1)
    ts_us = ts * 1_000_000
    n_words = np.maximum(5, rng.poisson(70, n))
    word_ids = (rng.zipf(1.3, int(n_words.sum())) - 1) % len(vocab)
    words = vocab[word_ids]
    ends = np.cumsum(n_words)
    starts = ends - n_words
    texts = [
        plan["boiler"][d] + " " + " ".join(words[a:b])
        for d, a, b in zip(dom, starts, ends)
    ]
    htmls = [
        (
            f"<html><head><title>d{d:04d}</title></head><body><p>{t[:600]}</p>"
            "</body></html>"
        ).encode()
        + INVALID_UTF8_TAIL[: 4 + (i % 10)]
        for i, (d, t) in enumerate(zip(dom, texts))
    ]
    langs = plan["langs"][dom].astype(object)
    if part == 0 and n >= 10:
        texts[0] = ""
        texts[1] = "   \t  "
        texts[2] = "x"
        langs[3] = None
        htmls[4] = b""
        texts[5] = "emoji \U0001f389 CJK 中文字 RTL שלום مرحبا"
        urls[6] = f"https://d{dom[6]:04d}.example.com/" + "/".join(["seg"] * 400)
        texts[7] = "\U0001f600\U0001f680\U00010348" * 50
        ts_us[9] = ts_us[8]  # same domain, same second
        urls[9] = urls[8] + "-tie"
        dom[9] = dom[8]
    return pa.table(
        [
            pa.array(urls, pa.string()),
            pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            pa.array(htmls, pa.binary()),
            pa.array(texts, pa.string()),
            pa.array(langs, pa.string()),
        ],
        schema=WEBTEXT_SCHEMA,
    )


DOC_VOCAB_SIZE = 400


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents; ~5% are near-duplicates whose last one or two
    words were replaced (Jaccard over 3-word shingles stays >= ~0.9, far
    from the 0.5 / 0.7 thresholds the corpus pipelines test), and 1 in
    20 of those is an exact copy."""
    vocab = _vocab(np.random.default_rng(PLAN_SEED), DOC_VOCAB_SIZE)
    rng = np.random.default_rng([seed, 2])
    n_base = n - max(1, n // 20)
    ntoks = rng.integers(60, 160, n_base)
    texts = [
        " ".join(vocab[(rng.zipf(1.2, int(k)) - 1) % len(vocab)]) for k in ntoks
    ]
    for p in rng.integers(0, n_base, n - n_base):
        w = texts[p].split(" ")
        if rng.random() < 0.05:
            texts.append(texts[p])
            continue
        k = int(rng.integers(1, 3))
        texts.append(" ".join(w[:-k] + list(vocab[rng.integers(0, len(vocab), k)])))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.145, 0.145])
    sources = [f"src{i % 20}" for i in rng.permutation(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def raw_bytes(tbl: pa.Table) -> int:
    """Raw input size the throughput metrics divide by: value bytes of
    every column (string/binary data plus 8 bytes per fixed-width
    value), independent of the engine's own accounting."""
    total = 0
    for col in tbl.columns:
        if pa.types.is_string(col.type) or pa.types.is_binary(col.type):
            total += pc.sum(pc.binary_length(col)).as_py() or 0
        else:
            total += 8 * len(col)
    return total


def read(path: str) -> pa.Table:
    return pq.read_table(path)


def cached(path: str, make) -> str:
    """Write ``make()`` to ``path`` unless it exists; return ``path``.
    The (seed, size) cache key is in the file name, so the same input is
    reused across runs in one checkout and never generated in a timer."""
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(make(), tmp)
        os.replace(tmp, path)
    return path
