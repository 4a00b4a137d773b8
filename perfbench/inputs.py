"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
always writes the same inputs. The engine only ever sees the parquet
files written here; the generator's own bookkeeping (such as the planted
near-duplicate pairs) goes to the reference computation
(``reference.py``) instead.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGION = "us-east-1"

# ---------------------------------------------------------------------------
# Sizes
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class FrontierSize:
    """``frontier_crawl`` input: a seeded URL frontier."""
    n_urls: int            # distinct canonical URLs
    n_hosts: int           # Zipf-distributed hosts
    zipf_s: float          # host skew exponent
    dup_share: float       # extra rows that repeat a URL verbatim
    variant_share: float   # extra rows with a non-canonical spelling
    oversize_share: float  # URLs listed above the size limit (E2 failures)
    budgets: tuple[int, ...]  # per-host budgets, assigned round-robin
    salt_threshold: int    # frontier rows per host before salting
    rounds: int            # committed rounds per job (after seed)


@dataclass(frozen=True)
class CorpusSize:
    """``curate_dedup`` input: a document corpus with planted near-dups."""
    n_base: int            # base documents
    copies: int            # per-copy word shuffles of the base set
    near_dup_share: float  # planted near-duplicates, share of the copies


@dataclass(frozen=True)
class StoreSize:
    """Fetch probe input: an object store of interleaved documents."""
    n_docs: int            # text documents, listed from the store
    n_buckets: int         # buckets the documents are spread over
    n_media: int           # media objects that link targets may name
    max_links: int         # media spans per document, 0..max_links
    hit_share: float       # share of media links whose target exists


# ---------------------------------------------------------------------------
# frontier_crawl
# ---------------------------------------------------------------------------

#: discovery time of generated row j is EPOCH_S + j seconds
EPOCH_S = 1_577_836_800  # 2020-01-01T00:00:00Z


def _zipf_choice(rng: np.random.Generator, n: int, k: int,
                 s: float) -> np.ndarray:
    weights = 1.0 / np.arange(1, k + 1, dtype=np.float64) ** s
    return rng.choice(k, size=n, p=weights / weights.sum())


def _variant(url: str, how: int) -> str:
    """A non-canonical spelling of ``url`` that ``canonicalize_url`` maps
    back to it: upper-case host, explicit default port, or dot segments."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    if how == 0:
        return f"{scheme}://{host.upper()}/{path}"
    if how == 1:
        return f"{scheme}://{host}:443/{path}"
    head, tail = path.rsplit("/", 1)
    return f"{scheme}://{host}/{head}/./x/../{tail}"


def host_name(h: int) -> str:
    return f"host-{h:04d}.example.com"


def make_frontier(out_dir: str, seed: int, size: FrontierSize,
                  max_size: int) -> dict:
    """Write ``frontier.parquet`` (listing-shaped rows in ten priority
    tiers) and ``budgets.parquet`` (per-host budgets) under ``out_dir``.

    Every distinct URL appears once in canonical form; on top of that a
    ``dup_share`` of extra rows repeats a URL verbatim (rediscovered at
    another priority and time) and a ``variant_share`` spells one
    non-canonically. Returns the input statistics recorded in every
    result."""
    rng = np.random.default_rng([seed, 1])
    n = size.n_urls
    host_of = _zipf_choice(rng, n, size.n_hosts, size.zipf_s)
    prio = rng.integers(0, 10, size=n)
    oversize = rng.random(n) < size.oversize_share
    sizes = np.where(oversize,
                     max_size + 1 + rng.integers(0, 1 << 20, size=n),
                     rng.integers(0, max_size, size=n))
    urls = [f"https://{host_name(h)}/p{p}/{i:07d}.html"
            for i, (h, p) in enumerate(zip(host_of, prio))]
    rows_url, rows_src = list(urls), list(range(n))
    n_dup = int(n * size.dup_share)
    n_var = int(n * size.variant_share)
    for i in rng.integers(0, n, size=n_dup):
        rows_url.append(urls[i])
        rows_src.append(int(i))
    for i, how in zip(rng.integers(0, n, size=n_var),
                      rng.integers(0, 3, size=n_var)):
        rows_url.append(_variant(urls[i], int(how)))
        rows_src.append(int(i))
    order = rng.permutation(len(rows_url))
    src = np.asarray(rows_src)[order]
    # a repeated URL keeps its size (a property of the object) but may be
    # rediscovered at another priority
    prio_rows = np.where(order >= n, rng.integers(0, 10, size=len(src)),
                         prio[src])
    ts = pa.array([(EPOCH_S + j) * 1_000_000 for j in range(len(src))],
                  pa.timestamp("us", tz="UTC"))
    table = pa.table({
        "bucket": [f"site-{host_of[i]:04d}" for i in src],
        "key": [f"p{prio[i]}/{i:07d}.html" for i in src],
        "url": [rows_url[j] for j in order],
        "size": pa.array(sizes[src], pa.int64()),
        "etag": [f"{i:032x}" for i in src],
        "last_modified": ts,
        "storage_class": ["STANDARD"] * len(src),
        "priority": pa.array(prio_rows, pa.int32()),
        "discovery_time": ts,
        "round": pa.array(np.zeros(len(src), np.int32), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "frontier.parquet"))
    budgets = [size.budgets[h % len(size.budgets)]
               for h in range(size.n_hosts)]
    pq.write_table(pa.table({
        "host": [host_name(h) for h in range(size.n_hosts)],
        "budget_per_round": pa.array(budgets, pa.int32()),
    }), os.path.join(out_dir, "budgets.parquet"))
    per_host = np.bincount(host_of, minlength=size.n_hosts)
    return {"frontier_rows": table.num_rows, "distinct_urls": n,
            "duplicate_rows": n_dup, "variant_rows": n_var,
            "hosts": size.n_hosts,
            "hot_hosts": int((per_host > size.salt_threshold).sum()),
            "max_host_urls": int(per_host.max()),
            "oversize_urls": int(oversize.sum())}


# ---------------------------------------------------------------------------
# curate_dedup
# ---------------------------------------------------------------------------

# The corpus is fitted to the sf0.1 ``documents`` test table (5,000 rows),
# measured once: 10-100 whitespace tokens per document, flat over that
# range (mean 54.1); 30 words, each 3.2-3.4% of all tokens, the English
# stopwords "the" and "a" among them; single-space separators; language
# labels en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0% (labels only:
# every document uses the same words); 20 sources of 250 documents; 5.0%
# of documents are another document plus the appended word "dup".
VOCABULARY = ("spark window merge table column vector stream value data "
              "small join filter big group hash customer sort order slow "
              "line part fast row the agg key query a scan batch").split()
TOKENS = (10, 100)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARES = (0.412, 0.151, 0.149, 0.148, 0.140)
SOURCES = 20
NEAR_DUP_WORD = "dup"
#: copy k of base doc i gets doc_id COPY_STEP * k + i
COPY_STEP = 10_000_000


def _base_text(rng: np.random.Generator) -> tuple[str, str]:
    """One base document with the measured token count, vocabulary and
    language-label shares."""
    n = int(rng.integers(TOKENS[0], TOKENS[1] + 1))
    lang = str(rng.choice(LANGS, p=LANG_SHARES))
    return lang, " ".join(rng.choice(VOCABULARY, size=n))


def shuffle_words(text: str, rng: np.random.Generator) -> str:
    """A per-copy word shuffle: the same multiset of words, split on
    whitespace runs after trimming, so token counts are exact."""
    words = re.split(r"\s+", text.strip())
    return " ".join(words[j] for j in rng.permutation(len(words)))


def make_corpus(out_dir: str, seed: int, size: CorpusSize) -> dict:
    """Write ``corpus.parquet`` (doc_id, text, lang, source) and
    ``planted.parquet`` (a, b): the planted near-duplicate pairs."""
    rng = np.random.default_rng([seed, 3])
    base = [_base_text(rng) for _ in range(size.n_base)]
    ids, texts, langs, sources = [], [], [], []
    for k in range(size.copies):
        crng = np.random.default_rng([seed, 4, k])
        for i, (lang, text) in enumerate(base):
            ids.append(COPY_STEP * k + i)
            texts.append(text if k == 0 else shuffle_words(text, crng))
            langs.append(lang)
            sources.append(f"src{i % SOURCES}")
    n_plant = int(len(ids) * size.near_dup_share)
    picks = rng.choice(len(ids), size=n_plant, replace=False)
    planted_a, planted_b = [], []
    next_id = COPY_STEP * size.copies
    for j in picks:
        # one appended word: the 5-shingle sets differ by one element
        ids.append(next_id)
        texts.append(texts[j] + " " + NEAR_DUP_WORD)
        langs.append(langs[j])
        sources.append(sources[j])
        planted_a.append(ids[j])
        planted_b.append(next_id)
        next_id += 1
    os.makedirs(out_dir, exist_ok=True)
    order = rng.permutation(len(ids))
    pq.write_table(pa.table({
        "doc_id": pa.array([ids[j] for j in order], pa.int64()),
        "text": [texts[j] for j in order],
        "lang": [langs[j] for j in order],
        "source": [sources[j] for j in order],
    }), os.path.join(out_dir, "corpus.parquet"))
    pq.write_table(pa.table({"a": pa.array(planted_a, pa.int64()),
                             "b": pa.array(planted_b, pa.int64())}),
                   os.path.join(out_dir, "planted.parquet"))
    return {"corpus_docs": len(ids), "base_docs": size.n_base,
            "copies": size.copies, "planted_near_dups": n_plant}


# ---------------------------------------------------------------------------
# fetch probe: an object store of interleaved text+media documents
# ---------------------------------------------------------------------------

#: crawled link targets live in this bucket, keyed by their URL path
#: (``CrawlDriver`` shapes every extracted link so)
LINKS_BUCKET = "_links"
MEDIA_HOST = "media.example.com"
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def doc_bucket(b: int) -> str:
    return f"site-{b}"


def media_url(j: int, exists: bool) -> str:
    name = f"{j:05d}.png" if exists else f"gone-{j:05d}.png"
    return f"https://{MEDIA_HOST}/media/{name}"


def make_store(out_dir: str, seed: int, size: StoreSize) -> dict:
    """Write an ``FsObjectStore`` under ``out_dir/store`` and its
    ``docs.parquet`` (url, spans) link table.

    The store holds ``n_docs`` UTF-8 text documents over ``n_buckets``
    buckets and ``n_media`` binary PNG objects under ``LINKS_BUCKET``.
    Each document's spans alternate text and media; a ``hit_share`` of the
    media spans name an existing object, the rest a missing one (an E2
    ``NoSuchKeyException`` when crawled)."""
    from fess_ds_s3_spark.functions.urls import object_url_py
    from fess_ds_s3_spark.sources.object_store import FsObjectStore

    rng = np.random.default_rng([seed, 5])
    store = FsObjectStore(os.path.join(out_dir, "store"))
    for j in range(size.n_media):
        blob = PNG_MAGIC + rng.bytes(int(rng.integers(256, 4096)))
        store.put_object(LINKS_BUCKET, f"media/{j:05d}.png", blob,
                         content_type="image/png")
    urls, spans, links = [], [], 0
    for i in range(size.n_docs):
        bucket, key = doc_bucket(i % size.n_buckets), f"docs/{i:05d}.txt"
        n_media = int(rng.integers(0, size.max_links + 1))
        doc_spans, texts = [], []
        for k in range(2 * n_media + 1):
            if k % 2 == 0:
                text = " ".join(rng.choice(VOCABULARY,
                                           size=int(rng.integers(10, 60))))
                texts.append(text)
                doc_spans.append({"kind": "text", "text": text,
                                  "media_ref": None, "offset": k})
            else:
                hit = bool(rng.random() < size.hit_share)
                doc_spans.append({
                    "kind": "media", "text": None, "offset": k,
                    "media_ref": media_url(int(rng.integers(size.n_media)),
                                           hit)})
                links += 1
        store.put_object(bucket, key, "\n".join(texts).encode(),
                         content_type="text/plain")
        urls.append(object_url_py(bucket, key, REGION))
        spans.append(doc_spans)
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    pq.write_table(pa.table({"url": urls,
                             "spans": pa.array(spans, pa.list_(span))}),
                   os.path.join(out_dir, "docs.parquet"))
    return {"store_docs": size.n_docs, "store_media": size.n_media,
            "media_links": links}
