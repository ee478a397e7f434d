"""Seeded, cached benchmark inputs.

Every input set is a directory under ``<work>/cache/<key>`` where the key
names the input kind, the seed, the size and a digest of the generator
sources (``ankiocr_spark/fixtures.py`` and this file). A finished set
carries an ``_OK`` marker holding its key; anything else in the cache is
rebuilt. Only the newest ``CACHE_KEEP`` sets are kept.

Two kinds exist:

- ``pages``: the fixture pages table (``fixtures.gen_rows``) written as
  parquet, with the per-url goldens taken from the SAME ``gen_rows`` pass —
  never from running the kernel.
- ``docs``: a documents table (doc_id, text, lang, source, n_chars) with the
  vocabulary and length distribution of the sf-scale ``documents`` tables,
  plus exact and near copies so the dedup queries find real groups.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: input sets kept: enough for ten seeds of both workloads, so a second
#: pass over the same seeds generates nothing
CACHE_KEEP = 20

#: rows per parquet file of a pages set; Spark sizes its scan splits from
#: the file sizes, so this fixes the task layout feeding the kernel
PAGES_PER_FILE = 4000

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

#: the 30-word vocabulary of the sf documents tables
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
DOC_SOURCES = 20
#: share of docs that copy an earlier doc's text exactly / with one word
#: changed and a "dup" marker appended
EXACT_COPY_FRAC = 0.05
NEAR_COPY_FRAC = 0.05


def _source_digest() -> str:
    h = hashlib.md5()
    for path in (
        os.path.join(ROOT, "ankiocr_spark", "fixtures.py"),
        os.path.abspath(__file__),
    ):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def cached(work: str, kind: str, seed: int, size: int) -> str:
    """Directory of the (kind, seed, size) input set, built on a miss."""
    key = f"{kind}-s{seed}-n{size}-{_source_digest()}"
    cache = os.path.join(work, "cache")
    path = os.path.join(cache, key)
    marker = os.path.join(path, "_OK")
    try:
        with open(marker) as fh:
            if fh.read() == key:
                os.utime(path)
                return path
    except FileNotFoundError:
        pass
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    BUILDERS[kind](tmp, seed, size)
    with open(os.path.join(tmp, "_OK"), "w") as fh:
        fh.write(key)
    os.replace(tmp, path)
    _evict(cache)
    return path


def _evict(cache: str) -> None:
    sets = [
        os.path.join(cache, d) for d in os.listdir(cache)
        if os.path.exists(os.path.join(cache, d, "_OK"))
    ]
    sets.sort(key=os.path.getmtime, reverse=True)
    for stale in sets[CACHE_KEEP:]:
        shutil.rmtree(stale, ignore_errors=True)


def _build_pages(path: str, seed: int, size: int) -> None:
    from ankiocr_spark.fixtures import gen_rows

    pages_dir = os.path.join(path, "pages")
    os.makedirs(pages_dir)
    cols = {name: [] for name in PAGES_SCHEMA.names}
    urls, expected = [], []

    def flush(idx: int) -> None:
        table = pa.table(
            {k: pa.array(v, type=PAGES_SCHEMA.field(k).type) for k, v in cols.items()}
        )
        pq.write_table(table, os.path.join(pages_dir, f"part-{idx:05d}.parquet"))
        for v in cols.values():
            v.clear()

    files = 0
    for row in gen_rows(size, seed=seed):
        for k in cols:
            cols[k].append(row[k])
        urls.append(row["url"])
        expected.append(row["expected_text"])
        if len(cols["url"]) == PAGES_PER_FILE:
            flush(files)
            files += 1
    if cols["url"]:
        flush(files)
    pq.write_table(
        pa.table({"url": urls, "expected_text": pa.array(expected, pa.string())}),
        os.path.join(path, "goldens.parquet"),
    )


def doc_rows(size: int, seed: int):
    """Yield documents rows; deterministic in (size, seed)."""
    rng = random.Random(seed)
    texts: list = []
    for doc_id in range(size):
        r = rng.random()
        if texts and r < EXACT_COPY_FRAC:
            text = rng.choice(texts)
        elif texts and r < EXACT_COPY_FRAC + NEAR_COPY_FRAC:
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
            text = " ".join(words + ["dup"])
        else:
            text = " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 90)))
        texts.append(text)
        yield {
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choice(DOC_LANGS),
            "source": f"src{doc_id % DOC_SOURCES}",
            "n_chars": len(text),
        }


DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])


def _build_docs(path: str, seed: int, size: int) -> None:
    table = pa.Table.from_pylist(list(doc_rows(size, seed)), schema=DOCS_SCHEMA)
    # the datapipe queries read <dir>/documents.parquet, like an sf dir
    pq.write_table(table, os.path.join(path, "documents.parquet"))


BUILDERS = {"pages": _build_pages, "docs": _build_docs}


def read_goldens(pages_set: str) -> dict:
    """url -> expected_text (None for null pages) of a pages set."""
    t = pq.read_table(os.path.join(pages_set, "goldens.parquet"))
    return dict(zip(t.column("url").to_pylist(), t.column("expected_text").to_pylist()))


def read_docs(docs_set: str) -> list:
    return pq.read_table(os.path.join(docs_set, "documents.parquet")).to_pylist()
