"""Seeded benchmark inputs, generated in one process and cached on disk.

Two corpora, each a pure function of (seed, size):

* pages — the web-page fixture of ``ankiocr_spark.fixtures`` (~1% jumbo,
  malformed, null-html and boilerplate-only rows); its goldens come from
  the block spec through ``gen_rows``, never from running the kernel.
* documents — a ``documents`` table with the shape of the repo's sf
  tables (doc_id, text, lang, source, n_chars): 10–100 words drawn from
  the same 30-word vocabulary, the same language mix, and every 20th
  document carrying the ``dup`` marker token.

A cache entry is a directory that holds an ``_OK`` file once complete, so a
run killed mid-write regenerates it. Each kind keeps its CACHE_ENTRIES most
recently used entries, enough for a set of ten seeds; a hit refreshes the
entry's mtime. After a build the page cache is flushed to disk, so that the
writeback does not overlap the set-up timed next.
"""

from __future__ import annotations

import os
import random
import shutil

CACHE_ENTRIES = 12
DOCS_ROW_GROUP = 5000

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DOC_LANGS = ("en", "en", "en", "en", "en", "en", "en", "en",
              "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr",
              "de", "de", "de")


def _cached(cache_dir: str, kind: str, key: str, build) -> str:
    path = os.path.join(cache_dir, kind, key)
    ok = os.path.join(path, "_OK")
    if os.path.exists(ok):
        os.utime(path)
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    open(ok, "w").close()
    os.sync()
    # a 40k-page entry is ~35 MB: keep only the most recently used entries
    parent = os.path.dirname(path)
    entries = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                     key=os.path.getmtime)
    for old in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def pages_corpus(cache_dir: str, seed: int, n: int) -> str:
    """Directory holding ``pages/`` (the job input, written by
    ``fixtures.write_pages_parquet``) and ``goldens.parquet`` (url,
    expected_text, null_html) for ``n`` fixture pages from ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ankiocr_spark.fixtures import gen_rows, write_pages_parquet

    def build(path: str) -> None:
        write_pages_parquet(os.path.join(path, "pages"), n, seed=seed)
        gold = {"url": [], "expected_text": [], "null_html": []}
        for r in gen_rows(n, seed=seed):
            gold["url"].append(r["url"])
            gold["expected_text"].append(r["expected_text"])
            gold["null_html"].append(r["html"] is None)
        pq.write_table(pa.table(gold), os.path.join(path, "goldens.parquet"))

    return _cached(cache_dir, "pages", f"s{seed}-n{n}", build)


def gen_documents(n: int, seed: int) -> dict:
    """Columns of a seeded ``documents`` table of ``n`` rows."""
    rng = random.Random(seed)
    doc_id, text, lang, source = [], [], [], []
    for i in range(n):
        words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 100))]
        if i % 20 == 11:
            words.append("dup")
        doc_id.append(i)
        text.append(" ".join(words))
        lang.append(rng.choice(_DOC_LANGS))
        source.append(f"src{i % 20}")
    return {"doc_id": doc_id, "text": text, "lang": lang, "source": source,
            "n_chars": [len(t) for t in text]}


def documents_corpus(cache_dir: str, seed: int, n: int) -> str:
    """Directory holding ``documents.parquet`` — the ``sf_dir`` layout the
    datapipe queries and their DuckDB oracles read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(path: str) -> None:
        cols = gen_documents(n, seed)
        table = pa.table({
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
        })
        pq.write_table(table, os.path.join(path, "documents.parquet"),
                       row_group_size=DOCS_ROW_GROUP)

    return _cached(cache_dir, "docs", f"s{seed}-n{n}", build)
