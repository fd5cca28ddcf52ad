"""Seeded input generators for the three workloads.

Every generator takes the workload seed and writes plain parquet files;
the engine under test only ever sees those files. Outputs are cached by
(workload, seed, size) under the benchmark's cache directory, so a
repeated run skips generation, and generation time is reported apart
from set-up time.

Every input is written as ``parts`` equal files (``parts`` = cores), so
the 1-core leg of the weak-scaling measurement can read exactly one
part and keep the same rows per task.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- prose model -----------------------------------------------------------
# A fixed 16-word head (the five stop words the clean gate counts, then
# common function words) and a 14.4k-word syllable tail. The head share
# of a document decides the rank gate (top-16 coverage) and, kept low,
# keeps MinHash collisions between unrelated documents rare.
HEAD = np.array(
    ["the", "a", "of", "and", "to", "in", "is", "that", "it", "was",
     "for", "on", "with", "as", "by", "at"]
)
_HEAD_W = 1.0 / np.arange(1, len(HEAD) + 1)
_HEAD_W /= _HEAD_W.sum()
_SYL = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze", "bo", "da",
        "fe", "gi", "ho", "ju", "ly", "mo", "ne", "pi", "ru", "sa", "te", "wo"]
TAIL = np.array(
    ["".join(p) for n in (2, 3) for p in itertools.product(_SYL, repeat=n)]
)


def prose(rng: np.random.Generator, n_tokens: int, p_head: float) -> list[str]:
    head = rng.random(n_tokens) < p_head
    words = np.where(
        head,
        HEAD[rng.choice(len(HEAD), n_tokens, p=_HEAD_W)],
        TAIL[rng.integers(0, len(TAIL), n_tokens)],
    )
    return words.tolist()


def _mutate(rng: np.random.Generator, words: list[str]) -> list[str]:
    """Near-duplicate: replace ~4% of the tokens (at least two) with
    different tail words."""
    out = list(words)
    k = max(2, len(out) // 25)
    for i in rng.choice(len(out), k, replace=False):
        w = out[i]
        while w == out[i]:
            w = str(TAIL[rng.integers(0, len(TAIL))])
        out[i] = w
    return out


# --- cache -------------------------------------------------------------------
def cached(cache_root: str, key: str, build) -> tuple[str, dict, float]:
    """Return (dir, meta, gen_seconds); build(dir) -> meta runs only on a
    cache miss. A finished entry carries ``meta.json``; a partial one
    (interrupted run) is rebuilt."""
    d = os.path.join(cache_root, key)
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return d, json.load(fh), 0.0
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.perf_counter()
    meta = build(d)
    dt = time.perf_counter() - t0
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return d, meta, dt


# --- extract: web pages --------------------------------------------------------
_PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
     ("text", pa.string()), ("lang", pa.string())]
)


def write_pages(start: int, count: int, path: str) -> None:
    from ocr_application_spark.datagen.webgen import gen_page

    rows = [gen_page(i) for i in range(start, start + count)]
    cols = {c: [r[c] for r in rows] for c in _PAGES_SCHEMA.names}
    pq.write_table(pa.table(cols, schema=_PAGES_SCHEMA), path)


def pages(out_dir: str, seed: int, n: int, parts: int) -> dict:
    """``n`` pages from ``datagen.webgen.gen_page`` over the id window
    ``[seed * 10^7, seed * 10^7 + n)``, in ``parts`` files under
    ``out_dir/pages``, one generating process per file."""
    d = os.path.join(out_dir, "pages")
    os.makedirs(d)
    per = n // parts
    base = seed * 10_000_000
    procs = [
        subprocess.Popen([sys.executable, __file__, "pages", str(base + j * per),
                          str(per), os.path.join(d, f"part-{j:03d}.parquet")])
        for j in range(parts)
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"page generation failed: exit codes {codes}")
    return {"rows": per * parts, "rows_per_part": per, "id_base": base}


# --- curate: a prose corpus ------------------------------------------------------
def corpus(out_dir: str, seed: int, n: int, parts: int) -> dict:
    """``n`` documents (doc_id, text, lang, source, n_chars) under
    ``out_dir/documents.parquet/``: prose with stop words, ~5% exact
    duplicates of earlier docs, ~3% too-short docs (fail the clean
    gate's quality score) and ~4% phrase-repeating docs (fail the
    Gopher repetition gate). Duplicates stay inside their part."""
    rng = np.random.default_rng([seed, 1])
    d = os.path.join(out_dir, "documents.parquet")
    os.makedirs(d)
    per = n // parts
    base = seed * 10_000_000
    for j in range(parts):
        texts: list[str] = []
        for _ in range(per):
            r = rng.random()
            if texts and r < 0.05:
                texts.append(texts[int(rng.integers(0, len(texts)))])
            elif r < 0.08:
                texts.append(" ".join(prose(rng, int(rng.integers(3, 12)), 0.5)))
            elif r < 0.12:
                phrase = ["the"] + prose(rng, 2, 0.0) + ["of"] + prose(rng, 2, 0.0)
                texts.append(" ".join(phrase * int(rng.integers(12, 30))))
            else:
                texts.append(" ".join(
                    prose(rng, int(rng.integers(40, 240)), float(rng.uniform(0.25, 0.75)))
                ))
        ids = np.arange(base + j * per, base + (j + 1) * per, dtype=np.int64)
        pq.write_table(
            pa.table({
                "doc_id": ids,
                "text": texts,
                "lang": ["en"] * per,
                "source": [f"src{int(i) % 8}" for i in ids],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }),
            os.path.join(d, f"part-{j:03d}.parquet"),
        )
    return {"rows": per * parts, "rows_per_part": per}


# --- ingest: crawl increments -----------------------------------------------------
RECRAWL_FRAC = 0.30
NEARDUP_FRAC = 0.10


def increments(out_dir: str, seed: int, n_inc: int, size: int, parts: int) -> dict:
    """``n_inc`` increments of ``size`` docs (doc_id, text) under
    ``out_dir/inc-KK/``. From the second increment on, each carries 30%
    exact recrawls (same text, new doc_id) and 10% near-duplicates of
    earlier increments' original docs; the rest is novel prose.

    Recrawl and near-dup sources come from the same part of earlier
    increments, so every part alone is a self-consistent crawl (the
    1-core leg). The returned ground truth is the fingerprint-ingest
    verdict count per increment and part: recrawls are 'known', all
    else 'novel' (recrawl sources are drawn without replacement and
    only from docs of distinct text, so no 'dup_in_increment')."""
    rng = np.random.default_rng([seed, 2])
    per = size // parts
    base = seed * 10_000_000
    originals: list[list[list[str]]] = [[] for _ in range(parts)]
    truth = []
    for k in range(n_inc):
        d = os.path.join(out_dir, f"inc-{k:02d}")
        os.makedirs(d)
        inc_truth = []
        for j in range(parts):
            pool = originals[j]
            n_re = int(round(RECRAWL_FRAC * per)) if pool else 0
            n_nd = int(round(NEARDUP_FRAC * per)) if pool else 0
            texts: list[str] = []
            new: list[list[str]] = []
            for i in rng.choice(len(pool), min(n_re, len(pool)), replace=False) if n_re else []:
                texts.append(" ".join(pool[int(i)]))
            n_re = len(texts)
            for _ in range(n_nd):
                w = _mutate(rng, pool[int(rng.integers(0, len(pool)))])
                new.append(w)
                texts.append(" ".join(w))
            while len(texts) < per:
                w = prose(rng, int(rng.integers(60, 200)), float(rng.uniform(0.05, 0.15)))
                new.append(w)
                texts.append(" ".join(w))
            pool.extend(new)
            start = base + k * size + j * per
            pq.write_table(
                pa.table({"doc_id": np.arange(start, start + per, dtype=np.int64),
                          "text": texts}),
                os.path.join(d, f"part-{j:03d}.parquet"),
            )
            inc_truth.append({"known": n_re, "novel": per - n_re})
        truth.append(inc_truth)
    return {"rows": n_inc * per * parts, "rows_per_part": per, "truth": truth}


if __name__ == "__main__":
    # one page file: gen.py pages <first id> <count> <path>
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    write_pages(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
