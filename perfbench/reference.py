"""Expected results, computed outside Spark by the repository's references.

- ``frontier_crawl``: the pure-Python crawl oracle
  (``fess_ds_s3_spark.oracle.OracleCrawler.crawl_engine_order``) over the
  generated frontier rows gives the admitted URL set of every round, the
  size-guard failures and the final seen set.
- fetch probe: the store fixture itself — the URL of every listed
  document, every link target its spans name, and the md5 of what
  extraction must store for each fetched object (its UTF-8 text, or ""
  for a binary object under ``ignore_error``).
- ``curate_dedup``: DuckDB runs the repository's own ``corpus_curate``
  oracle SQL over the generated corpus (the curated ids), then an exact
  all-pairs 5-shingle Jaccard join over the curated documents (the
  near-duplicate pairs at the threshold, with their integer
  intersection and union sizes).

Both are deterministic functions of the generated files and are cached
next to them, one JSON file per seed and size.
"""

from __future__ import annotations

import hashlib
import json
import os
from urllib.parse import urlsplit

import pyarrow.parquet as pq

from fess_ds_s3_spark.config import CrawlConfig


def cached(path: str, compute) -> dict:
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    result = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, path)
    return result


def frontier_expected(in_dir: str, cfg: CrawlConfig, rounds: int) -> dict:
    from fess_ds_s3_spark.oracle import OracleCrawler

    table = pq.read_table(os.path.join(in_dir, "frontier.parquet"))
    rows = []
    for r in table.select(["bucket", "key", "url", "size", "priority",
                           "discovery_time"]).to_pylist():
        # the engine's host column: lower(parse_url(url, 'HOST'))
        r["host"] = urlsplit(r["url"]).hostname
        rows.append(r)
    budgets = {r["host"]: r["budget_per_round"] for r in
               pq.read_table(os.path.join(in_dir, "budgets.parquet"))
               .to_pylist()}
    res = OracleCrawler(cfg, None, host_budgets=budgets) \
        .crawl_engine_order(rows, n_rounds=rounds)
    per_round: list[list[str]] = [[] for _ in range(rounds)]
    for rnd, _seq, url in res.admissions:
        per_round[rnd].append(url)
    return {"admitted": [sorted(u) for u in per_round],
            "failed": sorted(u for u, _e in res.failed),
            "seen": sorted(res.seen)}


def _pairs_sql(threshold: float, shingle_n: int) -> str:
    """Exact word-``shingle_n``-gram Jaccard over ``curated`` documents,
    normalized as the engine normalizes (lower, trim spaces, whitespace
    runs to one space, split on a single space)."""
    return rf"""
        WITH docs AS (
          SELECT doc_id,
                 regexp_split_to_array(regexp_replace(lower(trim(text, ' ')),
                     '[ \t\n\x0B\f\r]+', ' ', 'g'), ' ') AS words
          FROM curated),
        sh AS (
          SELECT DISTINCT doc_id, shingle
          FROM docs,
               unnest(list_transform(
                   generate_series(1, greatest(len(words) - {shingle_n - 1},
                                               1)),
                   n -> array_to_string(words[n : n + {shingle_n - 1}], ' ')))
               t(shingle)),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT i.a, i.b, i.inter, sa.n_sh + sb.n_sh - i.inter AS union_
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a
        JOIN sizes sb ON sb.doc_id = i.b
        WHERE round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 6)
              >= {threshold}
        ORDER BY 1, 2"""


def curate_expected(in_dir: str, threshold: float, shingle_n: int) -> dict:
    import duckdb

    from __spark_entry__ import oracle_sql

    con = duckdb.connect()
    try:
        corpus = os.path.join(in_dir, "corpus.parquet")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{corpus}')")
        con.execute("CREATE TABLE kept AS "
                    + oracle_sql()["corpus_curate"])
        curated = sorted(r[0] for r in
                         con.execute("SELECT doc_id FROM kept").fetchall())
        con.execute("CREATE VIEW curated AS SELECT d.doc_id, d.text "
                    "FROM documents d JOIN kept k USING (doc_id)")
        pairs = [list(r) for r in
                 con.execute(_pairs_sql(threshold, shingle_n)).fetchall()]
    finally:
        con.close()
    planted = pq.read_table(os.path.join(in_dir, "planted.parquet"))
    kept = set(curated)
    planted_kept = sorted([a, b] for a, b in zip(planted["a"].to_pylist(),
                                                 planted["b"].to_pylist())
                          if a in kept and b in kept)
    return {"curated": curated, "pairs": pairs, "planted": planted_kept}


def store_expected(in_dir: str, buckets: list[str], region: str) -> dict:
    """Per probe round the admitted URLs, the stored contents' md5 by URL
    and the failed URLs: round 0 fetches every listed document, round 1
    every distinct link target the documents' media spans name."""
    from fess_ds_s3_spark.functions.urls import object_url_py
    from fess_ds_s3_spark.sources.object_store import FsObjectStore

    import inputs

    store = FsObjectStore(os.path.join(in_dir, "store"))

    def stored_md5(bucket: str, key: str) -> str:
        data, _ctype = store.get_object(bucket, key)
        try:
            text = data.decode("utf-8")
        except UnicodeDecodeError:
            text = ""
        return hashlib.md5(text.encode()).hexdigest()

    docs = {}
    for b in buckets:
        entries, _ = store.list_objects(b, max_keys=1 << 30)
        for e in entries:
            docs[object_url_py(b, e["key"], region)] = stored_md5(b, e["key"])
    spans = pq.read_table(os.path.join(in_dir, "docs.parquet"))
    targets = sorted({s["media_ref"] for row in spans["spans"].to_pylist()
                      for s in row if s["kind"] == "media"})
    links = sum(1 for row in spans["spans"].to_pylist()
                for s in row if s["kind"] == "media")
    media, missing = {}, []
    for url in targets:
        key = urlsplit(url).path.lstrip("/")
        if os.path.isfile(os.path.join(store.root, inputs.LINKS_BUCKET,
                                       *key.split("/"))):
            media[url] = stored_md5(inputs.LINKS_BUCKET, key)
        else:
            missing.append(url)
    return {"rounds": [{"stored": docs, "failed": []},
                       {"stored": media, "failed": missing}],
            "links": links}
