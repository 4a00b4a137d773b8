"""The benchmark workloads: inputs, warm-up, one timed job, correctness.

Each workload runs through the engine's public entry points only. A job
is one closed-loop unit of work; the runner times jobs back to back, one
at a time, and checks every job's committed output against the expected
results outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs
import reference
from measure import Stopwatch


@dataclass
class JobResult:
    job_s: float
    #: wall time of every committed unit (crawl rounds; the job itself
    #: for workloads without rounds)
    unit_s: list[float]
    urls: int
    docs: int
    out_dir: str
    details: dict = field(default_factory=dict)


@dataclass
class Op:
    """One checked operation (a crawl round, or a curate job)."""
    name: str
    ok: bool
    message: str = ""


def tally(ops: list[Op]) -> tuple[int, int]:
    """(attempted, failed) over checked operations."""
    return len(ops), sum(1 for op in ops if not op.ok)


def input_dir(work: str, name: str, size, seed: int) -> str:
    """Cache directory of one generated input: keyed by workload, size
    and seed, so a changed size never reuses stale files."""
    digest = zlib.crc32(repr(size).encode()) & 0xFFFF
    return os.path.join(work, "inputs", f"{name}-{digest:04x}-{seed}")


# ---------------------------------------------------------------------------
# frontier_crawl
# ---------------------------------------------------------------------------

FRONTIER_SIZES = {
    "full": inputs.FrontierSize(
        n_urls=12_000, n_hosts=200, zipf_s=1.0, dup_share=0.05,
        variant_share=0.05, oversize_share=0.02,
        budgets=(200, 100, 400, 50), salt_threshold=900, rounds=2),
    "warm": inputs.FrontierSize(
        n_urls=600, n_hosts=20, zipf_s=1.0, dup_share=0.05,
        variant_share=0.05, oversize_share=0.02,
        budgets=(20, 10, 40, 5), salt_threshold=50, rounds=2),
    "smoke": inputs.FrontierSize(
        n_urls=400, n_hosts=16, zipf_s=1.0, dup_share=0.05,
        variant_share=0.05, oversize_share=0.02,
        budgets=(20, 10, 40, 5), salt_threshold=40, rounds=2),
}
MAX_SIZE = 10_000_000


def check_frontier(expected: dict, got: dict) -> list[Op]:
    """One op per round: its admitted URL set (stored + failed) must equal
    the oracle's; the last round also carries the size-guard failures and
    the final seen set."""
    ops = []
    rounds = len(expected["admitted"])
    for r in range(rounds):
        exp = set(expected["admitted"][r])
        have = set(got["admitted"][r]) if r < len(got["admitted"]) else set()
        problems = []
        if have != exp:
            problems.append(f"admitted: {len(have - exp)} unexpected, "
                            f"{len(exp - have)} missing")
        if r == rounds - 1:
            if set(got["failed"]) != set(expected["failed"]):
                problems.append("size-guard failures differ")
            if set(got["seen"]) != set(expected["seen"]):
                problems.append("final seen set differs")
        ops.append(Op(f"round {r}", not problems, "; ".join(problems)))
    return ops


class FrontierCrawl:
    """``frontier_crawl``: a metadata-only ``CrawlDriver`` crawl — seed plus
    ``rounds`` committed rounds over a Zipf-host frontier with duplicates,
    non-canonical variants, a bloom seen-set, per-host budgets and hot
    hosts above ``salt_threshold``."""

    name = "frontier_crawl"
    probe = None

    def __init__(self, work: str, seed: int, scale: str):
        self.work, self.seed, self.scale = work, seed, scale
        self.size = FRONTIER_SIZES[scale]
        self.in_dir = input_dir(work, self.name, self.size, seed)
        self.warm_dir = (input_dir(work, self.name, FRONTIER_SIZES["warm"],
                                   0) if scale == "full" else None)
        self.jobs = 0

    def config(self, size: inputs.FrontierSize):
        from fess_ds_s3_spark.config import CrawlConfig
        return CrawlConfig(region=inputs.REGION, max_size=MAX_SIZE,
                           salt_threshold=size.salt_threshold,
                           salt_buckets=4,
                           bloom_expected=max(2 * size.n_urls, 1_000),
                           seen_partitions=8)

    def generate(self) -> dict:
        stats = reference.cached(
            self.in_dir + ".stats.json",
            lambda: inputs.make_frontier(self.in_dir, self.seed, self.size,
                                         MAX_SIZE))
        if self.warm_dir is not None:
            # the warm-up input is the same for every seed
            reference.cached(
                self.warm_dir + ".stats.json",
                lambda: inputs.make_frontier(self.warm_dir, 0,
                                             FRONTIER_SIZES["warm"],
                                             MAX_SIZE))
        self.expected = reference.cached(
            self.in_dir + ".expected.json",
            lambda: reference.frontier_expected(
                self.in_dir, self.config(self.size), self.size.rounds))
        return {**stats, "rounds": self.size.rounds,
                "expected_admitted_per_round":
                    [len(u) for u in self.expected["admitted"]],
                "expected_seen": len(self.expected["seen"])}

    def load(self, spark) -> None:
        self.spark = spark
        self.frontier = spark.read.parquet(
            os.path.join(self.in_dir, "frontier.parquet"))
        self.budgets = spark.read.parquet(
            os.path.join(self.in_dir, "budgets.parquet"))

    def warm_up(self) -> None:
        """Seed plus two rounds over a small frontier, committed to a
        scratch warehouse and discarded. Both rounds are needed: after
        one, the first timed job still ran 3-5 s slower than the next
        (round 1's seen-set probe and ledger reads were cold)."""
        if self.warm_dir is None:
            return
        size = FRONTIER_SIZES["warm"]
        self._crawl(self.spark.read.parquet(
                        os.path.join(self.warm_dir, "frontier.parquet")),
                    self.spark.read.parquet(
                        os.path.join(self.warm_dir, "budgets.parquet")),
                    self.config(size), size.rounds,
                    os.path.join(self.work, "jobs", "warm"))
        shutil.rmtree(os.path.join(self.work, "jobs", "warm"))

    def _crawl(self, frontier, budgets, cfg, rounds: int,
               warehouse: str) -> JobResult:
        from fess_ds_s3_spark.plans.crawl import CrawlDriver
        shutil.rmtree(warehouse, ignore_errors=True)
        clock = Stopwatch()
        driver = CrawlDriver(self.spark, warehouse, cfg)
        driver.seed(frontier)
        round_s, urls, docs = [], 0, 0
        for r in range(rounds):
            t0 = time.perf_counter()
            summary = driver.run_round(r, host_budgets=budgets)
            round_s.append(time.perf_counter() - t0)
            urls += summary.admitted
            docs += summary.stored
        job_s = clock()
        self.driver = driver
        return JobResult(job_s, round_s, urls, docs, warehouse,
                         {"seed_s": job_s - sum(round_s)})

    def job(self) -> JobResult:
        self.jobs += 1
        return self._crawl(self.frontier, self.budgets,
                           self.config(self.size), self.size.rounds,
                           os.path.join(self.work, "jobs",
                                        f"{self.name}-{self.jobs}"))

    def observe(self, result: JobResult) -> dict:
        """The committed output of a job, read back through the driver's
        ledgered reads (outside the timed region)."""
        from pyspark.sql import functions as F
        driver = self.driver
        admitted: list[list[str]] = [[] for _ in range(self.size.rounds)]
        for table in ("indexed", "failures"):
            pdf = (driver.read_committed(table).select("url", "round")
                   .toPandas())
            for url, rnd in zip(pdf["url"], pdf["round"]):
                if 0 <= rnd < len(admitted):
                    admitted[rnd].append(url)
        failed = (driver.read_committed("failures")
                  .filter(F.col("error_name") == "MaxLengthExceededException")
                  .select("url").toPandas()["url"].tolist())
        seen = (driver.committed_seen().select("canonical_url").toPandas()
                ["canonical_url"].tolist())
        return {"admitted": admitted, "failed": failed, "seen": seen}

    def check(self, result: JobResult) -> list[Op]:
        return check_frontier(self.expected, self.observe(result))

    def cleanup(self, result: JobResult) -> None:
        shutil.rmtree(result.out_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# fetch probe
# ---------------------------------------------------------------------------

STORE_SIZES = {
    "full": inputs.StoreSize(n_docs=120, n_buckets=2, n_media=150,
                             max_links=4, hit_share=0.8),
    "smoke": inputs.StoreSize(n_docs=24, n_buckets=2, n_media=30,
                              max_links=4, hit_share=0.8),
}
#: per-GET latency of the store, a remote object store's round trip
GET_LATENCY_S = 0.003
#: documents, then the link targets their media spans name
PROBE_ROUNDS = 2


def check_store(expected: dict, got: dict) -> list[Op]:
    """One op per probe round: the stored and the failed URLs equal the
    fixture's, and every stored contents' md5 equals the fixture's; round
    0 also carries the extracted link count."""
    ops = []
    for r, exp in enumerate(expected["rounds"]):
        have = got["rounds"][r]
        problems = []
        if set(have["stored"]) != set(exp["stored"]):
            problems.append("stored URLs differ")
        wrong = [u for u, m in have["stored"].items()
                 if exp["stored"].get(u, m) != m]
        if wrong:
            problems.append(f"{len(wrong)} stored contents md5 differ")
        if set(have["failed"]) != set(exp["failed"]):
            problems.append("failed URLs differ")
        if r == 0 and got["links"] != expected["links"]:
            problems.append(f"{got['links']} links extracted, "
                            f"{expected['links']} expected")
        ops.append(Op(f"fetch probe round {r}", not problems,
                      "; ".join(problems)))
    return ops


class FetchProbe:
    """A small fetched pass through the engine's fetch and extraction
    functions (``tracing.isolate_fetch``): the seeded store is listed with
    ``list_objects_df`` and its documents fetched through
    ``fetch_objects`` (``LatencyFsStoreSpec``, a few ms per GET),
    ``route_fetch_miss`` and ``route_extract``; ``extract_links`` turns the
    stored documents' media spans into link targets, which are fetched the
    same way (misses route to the failed status). It stands in for a
    fetched-crawl workload in the traced run of ``curate_dedup`` and in
    the smoke run, where it measures ``sources.object_store`` and
    ``operators.extract``."""

    name = "fetch_probe"

    def __init__(self, work: str, seed: int, scale: str):
        self.seed = seed
        self.size = STORE_SIZES["smoke" if scale == "smoke" else "full"]
        self.in_dir = input_dir(work, self.name, self.size, seed)
        self.buckets = [inputs.doc_bucket(b)
                        for b in range(self.size.n_buckets)]

    def config(self):
        from fess_ds_s3_spark.config import CrawlConfig
        return CrawlConfig(region=inputs.REGION)

    def spec(self):
        from fess_ds_s3_spark.sources.object_store import LatencyFsStoreSpec
        return LatencyFsStoreSpec(os.path.join(self.in_dir, "store"),
                                  GET_LATENCY_S)

    def generate(self) -> dict:
        stats = reference.cached(
            self.in_dir + ".stats.json",
            lambda: inputs.make_store(self.in_dir, self.seed, self.size))
        self.expected = reference.cached(
            self.in_dir + ".expected.json",
            lambda: reference.store_expected(self.in_dir, self.buckets,
                                             inputs.REGION))
        return {**stats, "expected_stored_per_round":
                [len(r["stored"]) for r in self.expected["rounds"]],
                "expected_failed_per_round":
                [len(r["failed"]) for r in self.expected["rounds"]]}

    def load(self, spark) -> None:
        from fess_ds_s3_spark.sources.object_store import list_objects_df
        self.docs = spark.read.parquet(
            os.path.join(self.in_dir, "docs.parquet"))
        self.listing = list_objects_df(spark, self.spec(), self.config(),
                                       buckets=self.buckets)

    def check(self, observed: dict) -> list[Op]:
        return check_store(self.expected, observed)


# ---------------------------------------------------------------------------
# curate_dedup
# ---------------------------------------------------------------------------

CORPUS_SIZES = {
    "full": inputs.CorpusSize(n_base=1_000, copies=5, near_dup_share=0.05),
    "smoke": inputs.CorpusSize(n_base=100, copies=2, near_dup_share=0.05),
}
THRESHOLD = 0.8
SHINGLE_N = 5
# Planted near-duplicates differ by one appended word (Jaccard >= 16/17
# at the 20-token curation floor), where 16 bands of 8 rows miss a pair
# with probability < 3e-7: every kept planted pair must be emitted.


def check_curate(expected: dict, got: dict) -> list[Op]:
    """One op per job: curated ids equal the DuckDB oracle's; every
    emitted pair is an exact pair with the same intersection and union;
    planted near-duplicates are recalled."""
    problems = []
    if set(got["curated"]) != set(expected["curated"]):
        problems.append("curated ids differ")
    exact = {(a, b): (i, u) for a, b, i, u in expected["pairs"]}
    pairs = {(a, b): (i, u) for a, b, i, u in got["pairs"]}
    wrong = [p for p, v in pairs.items() if exact.get(p) != v]
    if wrong:
        problems.append(f"{len(wrong)} pairs not exact at the threshold")
    missed = [p for p in expected["planted"] if tuple(p) not in pairs]
    if missed:
        problems.append(f"{len(missed)} of {len(expected['planted'])} "
                        "planted near-duplicate pairs missed")
    return [Op("curate+dedup job", not problems, "; ".join(problems))]


class CurateDedup:
    """``curate_dedup``: ``plans.curate.curate_corpus`` then
    ``operators.dedup.dedup_minhash_lsh`` over the curated documents."""

    name = "curate_dedup"

    def __init__(self, work: str, seed: int, scale: str):
        self.work, self.seed, self.scale = work, seed, scale
        self.size = CORPUS_SIZES[scale]
        self.in_dir = input_dir(work, self.name, self.size, seed)
        self.probe = FetchProbe(work, seed, scale)
        self.jobs = 0

    def generate(self) -> dict:
        stats = reference.cached(
            self.in_dir + ".stats.json",
            lambda: inputs.make_corpus(self.in_dir, self.seed, self.size))
        self.expected = reference.cached(
            self.in_dir + ".expected.json",
            lambda: reference.curate_expected(self.in_dir, THRESHOLD,
                                              SHINGLE_N))
        return {**stats, "expected_curated": len(self.expected["curated"]),
                "expected_exact_pairs": len(self.expected["pairs"]),
                "expected_planted_kept": len(self.expected["planted"]),
                "fetch_probe": self.probe.generate()}

    def load(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(
            os.path.join(self.in_dir, "corpus.parquet"))
        self.n_docs = pq.ParquetFile(
            os.path.join(self.in_dir, "corpus.parquet")).metadata.num_rows
        self.probe.load(spark)

    def warm_up(self) -> None:
        """Two untimed jobs over the run's own corpus, discarded: a
        smaller corpus costs as much cold, and after one warm-up job the
        next still ran 1-2 s slower than the one after it."""
        if self.scale != "full":
            return
        out = os.path.join(self.work, "jobs", "warm")
        for _ in range(2):
            self._run(self.docs, out, 0)
            shutil.rmtree(out)

    def _run(self, docs, out: str, n_docs: int) -> JobResult:
        from fess_ds_s3_spark.operators.dedup import dedup_minhash_lsh
        from fess_ds_s3_spark.plans.curate import curate_corpus
        shutil.rmtree(out, ignore_errors=True)
        clock = Stopwatch()
        curate_corpus(docs).write.parquet(os.path.join(out, "curated"))
        curate_s = clock()
        survivors = (self.spark.read.parquet(os.path.join(out, "curated"))
                     .select("doc_id")
                     .join(docs.select("doc_id", "text"), "doc_id"))
        (dedup_minhash_lsh(survivors, threshold=THRESHOLD,
                           shingle_n=SHINGLE_N)
         .write.parquet(os.path.join(out, "pairs")))
        job_s = clock()
        return JobResult(job_s, [job_s], n_docs, n_docs, out,
                         {"curate_s": curate_s,
                          "dedup_s": job_s - curate_s})

    def job(self) -> JobResult:
        self.jobs += 1
        return self._run(self.docs,
                         os.path.join(self.work, "jobs",
                                      f"{self.name}-{self.jobs}"),
                         self.n_docs)

    @staticmethod
    def observe(result: JobResult) -> dict:
        curated = pq.read_table(os.path.join(result.out_dir, "curated"),
                                columns=["doc_id"])
        pairs = pq.read_table(os.path.join(result.out_dir, "pairs"),
                              columns=["a", "b", "inter", "union_"])
        return {"curated": curated["doc_id"].to_pylist(),
                "pairs": [tuple(r.values()) for r in pairs.to_pylist()]}

    def check(self, result: JobResult) -> list[Op]:
        return check_curate(self.expected, self.observe(result))

    def cleanup(self, result: JobResult) -> None:
        shutil.rmtree(result.out_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (FrontierCrawl, CurateDedup)}
