"""Seeded input generators for the benchmark workloads.

Every input is written to parquet before any timing starts, and its
digest (sha256 over the parquet bytes) goes into the run record: drift in
a library generator then shows as a changed input, not as a change in
speed. The program under test only ever sees the parquet tables.
"""
from __future__ import annotations

import hashlib
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

# the headline query tables follow the shape of the repository's sf0.1
# test tables: a 30-word vocabulary, five languages, twenty sources
DOC_WORDS = (
    "stream batch table scan filter join merge sort hash key value row "
    "column window group order query data part line customer vector spark "
    "small big fast slow agg the a"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

# few hosts with a skewed share each (12:5:3 of every 20 pages):
# host-derived blocking keys become hot (group size above the 512-record
# salt bucket) at a few thousand rows
CRAWL_HOSTS = ["news.example.org", "blog.sample.net", "docs.corpus.io"]
CRAWL_HOST_SHARES = [12, 5, 3]
MAX_CAPTURES = 12


def digest(paths: list) -> str:
    h = hashlib.sha256()
    for path in sorted(paths):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _write(df: pd.DataFrame, path: str) -> str:
    df.to_parquet(path, index=False)
    return path


def bib_corpus(out_dir: str, n_base: int, seed: int) -> dict:
    """Messy bibliographic records over the dense title pool."""
    from bib_dedupe_spark.sources.synthetic import generate

    records, golden = generate(
        n_base=n_base, seed=seed, messy=True, title_vocab="dense"
    )
    path = _write(pd.DataFrame(records), os.path.join(out_dir, "records.parquet"))
    return {
        "records": path,
        "golden": golden,
        "ids": [r["ID"] for r in records],
        "digest": digest([path]),
    }


def _capture_counts(n_pages: int) -> list:
    """Pareto(1.2) captures per page at evenly spaced quantiles.

    The multiset is the same for every seed, so the row count and the
    size of every host's key group do not change with the seed.
    """
    return [
        min(int((1.0 - (i + 0.5) / n_pages) ** (-1 / 1.2)), MAX_CAPTURES)
        for i in range(n_pages)
    ]


def crawl_pages(n_pages: int, seed: int) -> tuple:
    """Web pages on few hosts, each captured a heavy-tailed number of times.

    Wraps ``synthesize_webpages`` for the page content. Every extra
    capture of a page gets its own url (``?crawl=<j>``), a later
    timestamp and the library's light formatting drift; all captures of
    one page form one golden cluster. Hosts are dealt to pages in a fixed
    pattern over the capture counts, so each host holds the same number
    of rows for every seed; the seed decides the content and the order.
    """
    from bib_dedupe_spark.sources.webpages import synthesize_webpages

    base, _ = synthesize_webpages(n_pages, dup_rate=0.0, seed=seed)
    rng = random.Random(seed ^ 0x5EED)
    counts = _capture_counts(n_pages)
    pattern = [h for h, share in zip(CRAWL_HOSTS, CRAWL_HOST_SHARES) for _ in range(share)]
    rows: list = []
    golden: set = set()
    for i, (page, captures) in enumerate(zip(base, counts)):
        host = pattern[i % len(pattern)]
        url = f"https://{host}/{page['url'].split('/', 3)[3]}"
        urls = [url]
        rows.append(dict(page, url=url))
        for j in range(2, captures + 1):
            cap_url = f"{url}?crawl={j}"
            text = page["text"] if rng.random() < 0.5 else page["text"].capitalize()
            rows.append(
                dict(
                    page,
                    url=cap_url,
                    warc_ts=page["warc_ts"] + timedelta(days=rng.randint(1, 60)),
                    html=page["html"].replace(b"<h1>", b"<h1 class=t>"),
                    text=text,
                )
            )
            urls.append(cap_url)
        for k, a in enumerate(urls):
            for b in urls[k + 1 :]:
                golden.add(frozenset((a, b)))
    rng.shuffle(rows)
    return rows, golden


def _pages_frame(rows: list) -> pd.DataFrame:
    df = pd.DataFrame(rows)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"]).astype("datetime64[us]")
    return df


def web_batches(out_dir: str, n_pages: int, n_batches: int, seed: int) -> dict:
    """The crawl split into ``n_batches + 1`` equal micro-batches.

    Batch 0 starts the corpus; the rest arrive against it. Captures of
    one page land in different batches, so links cross batches.
    """
    rows, golden = crawl_pages(n_pages, seed)
    size = -(-len(rows) // (n_batches + 1))
    paths = []
    for b in range(n_batches + 1):
        chunk = rows[b * size : (b + 1) * size]
        paths.append(_write(_pages_frame(chunk), os.path.join(out_dir, f"batch{b}.parquet")))
    return {
        "batches": paths,
        "golden": golden,
        "ids": [r["url"] for r in rows],
        "digest": digest(paths),
    }


def headline_tables(out_dir: str, n_docs: int, n_vecs: int, n_events: int, seed: int) -> dict:
    """documents / embeddings / events tables read by the headline queries."""
    rng = np.random.default_rng(seed)
    texts: list = []
    for i in range(n_docs):
        roll = rng.random()
        if texts and roll < 0.002:
            texts.append(texts[int(rng.integers(len(texts)))])  # exact copy
        elif texts and roll < 0.05:
            words = texts[int(rng.integers(len(texts)))].split()
            words[int(rng.integers(len(words)))] = "dup"  # near copy
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(DOC_WORDS, n)))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(DOC_LANGS, n_docs, p=DOC_LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    start = datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pd.to_datetime(start) + pd.to_timedelta(secs, unit="s"),
            "user_id": rng.integers(0, 1500, n_events).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(np.minimum(rng.exponential(50.0, n_events), 560.0), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
        }
    )
    events["ts"] = events["ts"].astype("datetime64[us]")
    paths = [
        _write(docs, os.path.join(out_dir, "documents.parquet")),
        _write(emb, os.path.join(out_dir, "embeddings.parquet")),
        _write(events, os.path.join(out_dir, "events.parquet")),
    ]
    return {"dir": out_dir, "docs": docs, "digest": digest(paths)}
