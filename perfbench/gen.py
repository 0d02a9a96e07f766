"""Seeded crawl generator for the staged-KG benchmark.

``make_crawl(workload, seed)`` is a pure function of its arguments. Pages
have the shape of the repository's page fixtures: Zipf-skewed hosts,
gazetteer aliases and quantity patterns planted in filler text, sentence
and paragraph breaks, a share of non-``en`` rows and the edge documents
(empty, punctuation-only, one long paragraph with no sentence marks).
``crawl_bulk`` adds a heavy length tail: one page in a hundred is 2 to 60
times its normal length. The multipliers are fixed quantiles, so only
their positions depend on the seed and the total size stays steady.

The word lists are this file's own copy, so the inputs do not move when
the program's gazetteer changes.

``write_pages(path, pages)`` writes them as multi-file parquet in the
``sources.pages`` shape (doc_id, url, warc_ts, html, lang).
"""

from __future__ import annotations

import bisect
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ALIASES = ("spark", "customer", "vector", "big", "table", "window", "order",
           "sort", "line", "column", "row", "value", "key", "part", "dup",
           "fast key", "slow merge")
UNIGRAMS = tuple(a for a in ALIASES if " " not in a)
FILLER = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
          "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omicron")
UNITS = ("kg", "km", "usd")
LANGS = ("en", "en", "en", "en", "de", "fr")
N_HOSTS = 200
ZIPF_S = 1.1
HTML_PREFIX = "<html><head><meta charset=\"utf-8\"></head><body>"
HTML_SUFFIX = "</body></html>"
EPOCH = 1704067200
N_FILES = 8

# pages per workload, and whether the length tail is on
WORKLOADS = {
    "crawl_bulk": (15_000, True),
    "crawl_delta": (2_000, False),
    "crawl_resume": (15_000, False),
}
TAIL_EVERY = 100
TAIL_MAX = 60


def _sentence(rng: random.Random) -> str:
    words = []
    for _ in range(rng.randint(4, 10)):
        r = rng.random()
        if r < 0.30:
            words.append(rng.choice(ALIASES))
        elif r < 0.34:
            words.append(f"{rng.randint(1, 99)} {rng.choice(UNITS)}")
        elif r < 0.36:
            w = rng.choice(UNIGRAMS)
            words.append(f"{w} {w}")  # adjacent same-type run
        else:
            words.append(rng.choice(FILLER))
    return " ".join(words) + " ."


def _paragraph(rng: random.Random) -> str:
    return "\n".join(_sentence(rng) for _ in range(rng.randint(1, 4)))


def _text(rng: random.Random, n_paragraphs: int) -> str:
    return "\n\n".join(_paragraph(rng) for _ in range(n_paragraphs))


def tail_multipliers(n_tail: int) -> list[int]:
    """Fixed Pareto-like quantiles: a few pages near TAIL_MAX, most
    between 2x and 10x."""
    return [min(TAIL_MAX, max(2, round(2 * ((i + 0.5) / n_tail) ** -0.9)))
            for i in range(n_tail)]


def _host_cdf() -> list[float]:
    w = [1.0 / (k + 1) ** ZIPF_S for k in range(N_HOSTS)]
    total, acc, cdf = sum(w), 0.0, []
    for x in w:
        acc += x / total
        cdf.append(acc)
    return cdf


def make_crawl(workload: str, seed: int) -> list[dict]:
    """Pages as dicts: doc_id, url, warc_ts_epoch, text, lang."""
    n_pages, tail = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    cdf = _host_cdf()
    mult = {}
    if tail:
        n_tail = n_pages // TAIL_EVERY
        slots = rng.sample(range(3, n_pages), n_tail)
        mult = dict(zip(slots, tail_multipliers(n_tail)))
    pages = []
    for i in range(n_pages):
        u = rng.random()
        host = min(bisect.bisect_left(cdf, u), N_HOSTS - 1)
        if i % 1000 == 0:
            text = ""
        elif i % 1000 == 1:
            text = ".. -- ;; !!"
        elif i % 1000 == 2:
            # one long paragraph with no sentence marks: hard cuts
            text = " ".join(rng.choice(FILLER + ("spark", "value"))
                            for _ in range(120))
        else:
            text = _text(rng, rng.randint(1, 5) * mult.get(i, 1))
        pages.append({
            "doc_id": i,
            "url": f"https://host{host}.example.org/p/{seed}/{i}",
            "warc_ts_epoch": EPOCH + i,
            "text": text,
            "lang": rng.choice(LANGS),
        })
    return pages


def pages_table(pages: list[dict]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([p["doc_id"] for p in pages], pa.int64()),
        "url": pa.array([p["url"] for p in pages], pa.string()),
        "warc_ts": pa.array([p["warc_ts_epoch"] * 1_000_000 for p in pages],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([(HTML_PREFIX + p["text"] + HTML_SUFFIX).encode()
                          for p in pages], pa.binary()),
        "lang": pa.array([p["lang"] for p in pages], pa.string()),
    })


def write_pages(path: str, pages: list[dict]) -> None:
    """Write ``pages`` as N_FILES parquet files under ``path``, then a
    ``_DONE`` marker so a cached copy is used only when complete."""
    os.makedirs(path, exist_ok=True)
    table = pages_table(pages)
    n = table.num_rows
    for k in range(N_FILES):
        lo, hi = k * n // N_FILES, (k + 1) * n // N_FILES
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    open(os.path.join(path, "_DONE"), "w").close()


def cached_pages(root: str, workload: str, seed: int) -> tuple[str, list[dict]]:
    """Generate the pages for (workload, seed); write them under
    ``root`` unless a complete copy is already there. The directory name
    carries a hash of this file, so a changed generator never reuses old
    pages."""
    pages = make_crawl(workload, seed)
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(root, f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        write_pages(path, pages)
    return path, pages
