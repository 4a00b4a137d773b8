"""Traced run: per-layer metrics for one workload.

Separate from the timed runs. After the same warm-up it runs one
untraced job and then one traced job of the same workload; the
difference of their wall times is the tracing overhead. The traced job
has three parts:

1. **Spans.** Calls into each module's public functions are wrapped from
   outside (``Tracer.patch``) and recorded as spans (name, start, end,
   parent, run id), kept in memory and written out at the end.
2. **Event log.** The Spark job description is set to the innermost
   span id, and the run's event log attaches every stage's task metrics
   to the span that triggered it. Spark runs its jobs lazily, mostly
   inside the snapshot appends, so spans around lazy calls time plan
   building only; the event log and part 3 say where the work went.
3. **Stage isolation.** After the traced job, each round's committed
   inputs are read back and each layer's public function is forced alone
   with the noop sink. A layer's self time is its isolated time minus
   the isolated time of its input. The Python-node SQL metrics are read
   from those executed plans.

The traced run of ``curate_dedup`` also runs the fetch probe
(``workloads.FetchProbe``, checked like a job) and isolates its fetch and
extraction layers. Layers with no work on a workload report 0.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

import eventlog
from measure import med

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder that also tags Spark jobs with the span."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(f"{self.run_id}.{len(self.spans)}", name, parent,
                    self.run_id, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobDescription(span.id)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self.sc.setJobDescription(self._stack[-1].id if self._stack
                                  else None)

    def call(self, name: str, fn, *args, **kwargs):
        span = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(span)

    def patch(self, owner, attr: str, name) -> None:
        """Wrap ``owner.attr`` in a span; ``name`` is a string or a
        function of the call's first argument (e.g. a table's name)."""
        original = owner.__dict__[attr]

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            label = name if isinstance(name, str) else name(args[0])
            return self.call(label, original, *args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def self_time(self, span: Span) -> float:
        return span.duration - sum(s.duration for s in self.spans
                                   if s.parent == span.id)

    def within(self, root: Span) -> set[str]:
        """Ids of ``root`` and all its descendants."""
        ids, grew = {root.id}, True
        while grew:
            grew = False
            for s in self.spans:
                if s.parent in ids and s.id not in ids:
                    ids.add(s.id)
                    grew = True
        return ids


def patch_crawl(tracer: Tracer) -> None:
    from fess_ds_s3_spark.operators import politeness
    from fess_ds_s3_spark.operators import seen as seen_ops
    from fess_ds_s3_spark.plans import crawl
    from fess_ds_s3_spark.plans import round as round_plan
    from fess_ds_s3_spark.sources import snapshots

    driver = crawl.CrawlDriver
    tracer.patch(driver, "seed", "crawl.seed")
    tracer.patch(driver, "run_round", "crawl.run_round")
    for attr in ("last_round", "cycle_start", "committed_seen"):
        tracer.patch(driver, attr, "crawl.state_read")
    for attr in ("run_round", "schedule", "process", "prepare_frontier"):
        tracer.patch(round_plan, attr, f"round.{attr}")
    for attr in ("filter_unseen", "build_bloom", "merge_blooms"):
        tracer.patch(seen_ops, attr, f"seen.{attr}")
    tracer.patch(politeness, "admit_per_host_salted", "politeness.admit")
    table = snapshots.SnapshotTable
    for attr in ("append", "overwrite", "read", "read_deltas"):
        op = "read" if attr.startswith("read") else attr
        tracer.patch(table, attr,
                     lambda t, op=op: f"snapshots.{op}:{t.name}")


def patch_curate(tracer: Tracer) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    from fess_ds_s3_spark.functions import arrow_text
    from fess_ds_s3_spark.operators import dedup
    from fess_ds_s3_spark.plans import curate

    tracer.patch(curate, "curate_corpus", "curate.curate_corpus")
    for attr in ("curate_metrics", "shingle_sets"):
        tracer.patch(arrow_text, attr, f"arrow_text.{attr}")
    for attr in ("dedup_minhash_lsh", "minhash_signatures",
                 "lsh_candidate_pairs"):
        tracer.patch(dedup, attr, f"dedup.{attr}")
    tracer.patch(DataFrameWriter, "parquet", "job.write")


# ---------------------------------------------------------------------------
# stage isolation
# ---------------------------------------------------------------------------

_PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "B": 1,
          "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_total(text: str) -> float:
    """The total of a formatted SQL metric ('total (min, med, max ...)\\n
    9.4 s (2.2 s, ...)' or '1,234')."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def python_node_metrics(spark) -> dict[str, float]:
    """Python-node SQL metrics of the last executed query, summed over
    its nodes (MapInArrow, ArrowEvalPython, FlatMapCoGroupsInPandas...)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    if execs.size() == 0:
        return {}
    eid = execs.apply(execs.size() - 1).executionId()
    values = store.executionMetrics(eid)
    out: dict[str, float] = defaultdict(float)
    nodes = store.planGraph(eid).allNodes().iterator()
    while nodes.hasNext():
        metrics = nodes.next().metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            key = _PY_METRICS.get(m.name())
            value = values.get(m.accumulatorId())
            if key and value.isDefined():
                out[key] += _metric_total(value.get())
    return dict(out)


class Isolator:
    """Forces DataFrames one at a time through the noop sink."""

    def __init__(self, spark, tracer: Tracer):
        self.spark, self.tracer = spark, tracer
        self.python: dict[str, float] = defaultdict(float)

    def force(self, name: str, df, *, python: bool = False, aggs=()
              ) -> tuple[float, int]:
        """(wall time, rows) of one forced DataFrame; the values of the
        extra observed ``aggs`` are left in ``self.last``."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        obs = Observation()
        span = self.tracer.begin(name)
        try:
            (df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs)
             .write.format("noop").mode("overwrite").save())
        finally:
            self.tracer.end(span)
        if python:
            for k, v in python_node_metrics(self.spark).items():
                self.python[k] += v
        self.last = obs.get
        return span.duration, int(self.last["n"])


def isolate_crawl(workload, spark, iso: Isolator) -> dict[str, float]:
    from pyspark.sql import functions as F

    from fess_ds_s3_spark.operators import politeness
    from fess_ds_s3_spark.operators import seen as seen_ops
    from fess_ds_s3_spark.plans import round as round_plan

    driver = workload.driver
    cfg = workload.config(workload.size)
    out: dict[str, float] = defaultdict(float)
    # seed: canonicalization of the raw input (the only Python UDF pass
    # over the whole frontier)
    t_in, _ = iso.force("iso.seed.scan", workload.frontier)
    t_prep, _ = iso.force("iso.seed.prepare",
                          round_plan.prepare_frontier(workload.frontier, cfg),
                          python=True)
    out["urls.canonicalize_s"] = t_prep - t_in
    ledger = sorted(driver.rounds.read().collect(), key=lambda r: r["round"])
    blooms_by_round = {s.metadata.get("round"): s.snapshot_id
                       for s in driver.seen_bloom.snapshots()}
    frontier = driver.frontier.read()
    hot = (frontier.groupBy("host").count()
           .filter(F.col("count") > cfg.salt_threshold).select("host"))
    out["politeness.salted_hosts"] = hot.count()
    positives = probed = confirmed = 0
    cols = [c for c in frontier.columns
            if c in round_plan.SCHEDULE_COLS or c == "round"]
    # no round adds frontier rows (no link extraction), so every round
    # schedules over the same committed frontier
    t_scan, n_front = iso.force("iso.scan", frontier)
    for row in ledger:
        r = row["round"]
        prior = [x["seen_snapshot"] for x in ledger if x["round"] < r]
        seen = (driver.seen.read_deltas(prior) if prior else
                spark.createDataFrame([], "canonical_url string, "
                                          "url_hash long, round int"))
        seen = seen.select("canonical_url")
        blooms = (driver.seen_bloom.read(blooms_by_round[r - 1])
                  if r - 1 in blooms_by_round else None)
        size_bytes = seen_ops.bloom_size_bytes(cfg) if blooms else None
        tag = f"r{r}"
        prepared = round_plan.prepare_frontier(frontier, cfg).select(*cols)
        deduped = round_plan.dedup_in_batch(prepared)
        t_dedup, n_dedup = iso.force(f"iso.dedup.{tag}", deduped)
        unseen = seen_ops.filter_unseen(deduped, seen, blooms, cfg,
                                        bloom_size_bytes=size_bytes)
        t_unseen, n_unseen = iso.force(f"iso.seen.{tag}", unseen)
        admitted = politeness.admit_per_host_salted(
            unseen, cfg, host_budgets=workload.budgets, hot_hosts=hot)
        t_admit, n_admit = iso.force(f"iso.politeness.{tag}", admitted)
        # the admitted batch is round_plan.schedule's output: the same
        # public functions in the same order
        result = round_plan.run_round(
            frontier, cfg, seen_exact=seen, blooms=blooms,
            host_budgets=workload.budgets, bloom_size_bytes=size_bytes)
        t_round, _ = iso.force(f"iso.round.{tag}", result.processed,
                               python=True)
        # the bloom update reads the round's committed seen delta
        delta = driver.seen.read_deltas([row["seen_snapshot"]])
        t_delta, _ = iso.force(f"iso.seen_delta.{tag}", delta)
        bloom = seen_ops.build_bloom(delta, cfg)
        if blooms is not None:
            bloom = seen_ops.merge_blooms(blooms, bloom)
        t_bloom, _ = iso.force(f"iso.bloom.{tag}", bloom, python=True)
        out["round.frontier_rows"] += n_front
        out["round.dedup_rows"] += n_dedup
        out["round.unseen_rows"] += n_unseen
        out["round.admitted_rows"] += n_admit
        out["round.schedule_s"] += t_admit - t_scan
        out["round.process_s"] += t_round - t_admit
        out["seen.probe_s"] += t_unseen - t_dedup
        out["politeness.admit_s"] += t_admit - t_unseen
        out["seen.bloom_update_s"] += t_bloom - t_delta
        out["trace.isolated_round_s"] += t_round + t_bloom - t_delta
        out["seen.exact_rows"] += seen.count()
        if blooms is not None:
            flagged = seen_ops.maybe_seen_auto(deduped, blooms, cfg,
                                               size_bytes=size_bytes)
            exact = seen.distinct().withColumn("_exact", F.lit(True))
            agg = (flagged.join(exact, "canonical_url", "left")
                   .agg(F.count(F.lit(1)),
                        F.sum(F.col("maybe_seen").cast("int")),
                        F.sum((F.col("maybe_seen")
                               & F.col("_exact").isNotNull()).cast("int")))
                   .first())
            probed += agg[0]
            positives += agg[1] or 0
            confirmed += agg[2] or 0
    out["seen.bloom_positive_ratio"] = positives / probed if probed else 0.0
    out["seen.bloom_confirm_ratio"] = (confirmed / positives
                                       if positives else 0.0)
    return out


def isolate_curate(workload, spark, iso: Isolator,
                   curated_dir: str) -> dict[str, float]:
    from fess_ds_s3_spark.functions import arrow_text
    from fess_ds_s3_spark.operators import dedup
    from fess_ds_s3_spark.plans.curate import curate_corpus
    from workloads import SHINGLE_N, THRESHOLD

    docs = workload.docs
    out: dict[str, float] = {}
    t_scan, n_docs = iso.force("iso.scan", docs.select("doc_id", "text"))
    t_cm, _ = iso.force("iso.curate_metrics",
                        arrow_text.curate_metrics(docs))
    t_cur, n_kept = iso.force("iso.curate", curate_corpus(docs), python=True)
    survivors = (spark.read.parquet(curated_dir).select("doc_id")
                 .join(docs.select("doc_id", "text"), "doc_id"))
    t_surv, _ = iso.force("iso.survivors", survivors)
    t_sh, _ = iso.force("iso.shingle_sets",
                        arrow_text.shingle_sets(survivors, n=SHINGLE_N))
    sigs = dedup.minhash_signatures(survivors, shingle_n=SHINGLE_N)
    t_sig, _ = iso.force("iso.signatures", sigs)
    t_cand, n_cand = iso.force("iso.candidates",
                               dedup.lsh_candidate_pairs(sigs))
    t_full, n_pairs = iso.force(
        "iso.dedup", dedup.dedup_minhash_lsh(survivors, threshold=THRESHOLD,
                                             shingle_n=SHINGLE_N),
        python=True)
    out["arrow_text.curate_metrics_s"] = t_cm - t_scan
    out["curate.curate_corpus_s"] = t_cur - t_cm
    out["arrow_text.shingle_sets_s"] = t_sh - t_surv
    out["dedup.signatures_s"] = t_sig - t_sh
    out["dedup.candidates_s"] = t_cand - t_sig
    out["dedup.verify_s"] = t_full - t_cand
    out["dedup.candidate_pairs"] = n_cand
    out["dedup.verified_pairs"] = n_pairs
    out["dedup.verified_per_candidate"] = n_pairs / n_cand if n_cand else 0.0
    out["curate.kept_ratio"] = n_kept / n_docs if n_docs else 0.0
    out["trace.isolated_round_s"] = t_cur + t_full
    return out


def isolate_fetch(probe, spark, iso: Isolator) -> tuple[dict, dict]:
    """The fetch probe, forced stage by stage: the listing; per round its
    rows, then ``fetch_objects``, ``route_fetch_miss`` and
    ``route_extract``; and ``extract_links`` over round 0's stored
    documents, whose link targets are round 1's rows. Returns (per-layer
    metrics, the observed output ``FetchProbe.check`` takes)."""
    from pyspark.sql import functions as F

    from fess_ds_s3_spark.functions.urls import build_object_url
    from fess_ds_s3_spark.operators import extract
    from fess_ds_s3_spark.operators.filters import STATUS_PENDING
    from fess_ds_s3_spark.sources import object_store
    from inputs import LINKS_BUCKET
    from workloads import PROBE_ROUNDS

    cfg, spec = probe.config(), probe.spec()
    out: dict[str, float] = defaultdict(float)
    observed: dict = {"rounds": [], "links": 0}
    out["object_store.list_s"], _ = iso.force(
        "iso.fetch.list", probe.listing, python=True)
    rows = probe.listing.select(
        "bucket", "key", build_object_url("bucket", "key", cfg.region)
        .alias("url"))
    for r in range(PROBE_ROUNDS):
        rows = (rows.withColumn("status", F.lit(STATUS_PENDING))
                .withColumn("error_name", F.lit(None).cast("string")))
        t_rows, n_rows = iso.force(f"iso.fetch.rows.r{r}", rows)
        fetched = object_store.fetch_objects(
            rows, spec, fetch_concurrency=cfg.number_of_threads)
        t_get, _ = iso.force(
            f"iso.fetch.get.r{r}", fetched, python=True, aggs=(
                F.sum(F.col("_fetched").isNull().cast("int")).alias("miss"),
                F.sum(F.col("_fetch_error").isNotNull().cast("int"))
                .alias("err"),
                F.sum(F.length("content")).alias("bytes")))
        got = iso.last
        routed = extract.route_fetch_miss(fetched)
        t_routed, _ = iso.force(f"iso.fetch.route.r{r}", routed)
        extracted = extract.route_extract(routed, cfg)
        t_ext, _ = iso.force(f"iso.extract.r{r}", extracted, python=True)
        result = extracted.select("url", "status",
                                  F.md5("contents").alias("md5")).collect()
        stored = {u: m for u, st, m in result if st == "stored"}
        failed = [u for u, st, _m in result if st == "failed"]
        observed["rounds"].append({"stored": stored, "failed": failed})
        out["object_store.fetch_s"] += t_get - t_rows
        out["object_store.gets"] += n_rows
        out["object_store.get_misses"] += got["miss"] or 0
        out["object_store.get_errors"] += got["err"] or 0
        out["object_store.bytes_fetched"] += got["bytes"] or 0
        out["extract.route_extract_s"] += t_ext - t_routed
        out["extract.stored"] += len(stored)
        out["extract.failed"] += len(failed)
        if r == 0:
            stored_docs = (spark.createDataFrame([(u,) for u in stored],
                                                 "url string")
                           .join(probe.docs, "url")
                           .withColumn("doc_id", F.col("url")))
            t_docs, _ = iso.force("iso.extract.docs", stored_docs)
            links = extract.extract_links(stored_docs)
            t_links, n_links = iso.force("iso.extract.links", links)
            out["extract.extract_links_s"] = t_links - t_docs
            out["extract.links_out"] = observed["links"] = n_links
            # link targets as a crawl shapes them: the URL's path is the
            # key in the links bucket
            rows = links.select(
                F.lit(LINKS_BUCKET).alias("bucket"),
                F.regexp_replace("url", "^https?://[^/]+/", "").alias("key"),
                "url").dropDuplicates(["url"])
    return out, observed


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

SNAPSHOT_TABLES = ("frontier", "seen", "seen_bloom", "indexed", "failures",
                   "stats", "lineage", "rounds")

#: every per-layer metric, with its unit; both workloads report all of
#: them (0 where the workload bypasses the layer)
LAYER_UNITS = {
    "crawl.run_round_s": "s", "crawl.state_reads_s": "s",
    "crawl.spark_jobs_per_round": "count",
    "round.plan_build_s": "s", "round.schedule_s": "s",
    "round.process_s": "s", "round.frontier_rows": "count",
    "round.dedup_rows": "count", "round.unseen_rows": "count",
    "round.admitted_rows": "count",
    "seen.probe_s": "s", "seen.bloom_update_s": "s",
    "seen.exact_rows": "count", "seen.bloom_positive_ratio": "ratio",
    "seen.bloom_confirm_ratio": "ratio",
    "politeness.admit_s": "s", "politeness.salted_hosts": "count",
    "politeness.task_skew": "ratio",
    "snapshots.append_s": "s", "snapshots.overwrite_s": "s",
    **{f"snapshots.append_s.{t}": "s" for t in SNAPSHOT_TABLES
       if t != "seen_bloom"},
    "snapshots.overwrite_s.seen_bloom": "s",
    "snapshots.write_s": "s", "snapshots.read_s": "s",
    "snapshots.files_written": "count", "snapshots.bytes_written": "B",
    "object_store.list_s": "s", "object_store.fetch_s": "s",
    "object_store.gets": "count", "object_store.get_misses": "count",
    "object_store.get_errors": "count", "object_store.bytes_fetched": "B",
    "extract.route_extract_s": "s", "extract.extract_links_s": "s",
    "extract.links_out": "count", "extract.stored": "count",
    "extract.failed": "count",
    "urls.canonicalize_s": "s",
    "arrow_text.curate_metrics_s": "s", "arrow_text.shingle_sets_s": "s",
    "curate.curate_corpus_s": "s",
    "dedup.signatures_s": "s", "dedup.candidates_s": "s",
    "dedup.verify_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verified_per_candidate": "ratio",
    "curate.kept_ratio": "ratio",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_records": "count", "spark.spill_bytes": "B",
    "spark.stages": "count", "spark.tasks": "count", "spark.jobs": "count",
    "python.boot_s": "s", "python.init_s": "s", "python.total_s": "s",
    "python.bytes_sent": "B", "python.bytes_received": "B",
    "trace.job_s": "s", "trace.untraced_job_s": "s",
    "trace.overhead_s": "s", "trace.attributed_s": "s", "trace.gap_s": "s",
    "trace.round_gap_s": "s", "trace.isolated_round_s": "s",
    "trace.isolation_gap_s": "s",
}


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def span_metrics(tracer: Tracer, root: Span, jobs, stages) -> dict:
    """Metrics from the traced job's spans and their event-log stages."""
    out: dict[str, float] = defaultdict(float)
    inside = tracer.within(root)
    spans = [s for s in tracer.spans if s.id in inside]
    by_span = eventlog.fold_by_span(jobs, stages)
    for sid in inside:
        agg = by_span.get(sid, {})
        for k in ("executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_write_bytes", "shuffle_records", "spill_bytes",
                  "stages", "tasks", "jobs"):
            out[f"spark.{k}"] += agg.get(k, 0)
    rounds = [s for s in spans if s.name == "crawl.run_round"]
    for s in rounds:
        out["crawl.run_round_s"] += s.duration
        out["trace.round_gap_s"] += tracer.self_time(s)
        out["crawl.spark_jobs_per_round"] += sum(
            by_span.get(i, {}).get("jobs", 0) for i in tracer.within(s))
    if rounds:
        out["crawl.spark_jobs_per_round"] /= len(rounds)
    write_ids = set()
    for s in spans:
        if s.name == "crawl.state_read":
            out["crawl.state_reads_s"] += s.duration
        elif s.name == "round.run_round":
            out["round.plan_build_s"] += s.duration
        elif s.name.startswith("snapshots."):
            op, table = s.name[len("snapshots."):].split(":", 1)
            if op == "read":
                out["snapshots.read_s"] += s.duration
                continue
            write_ids.add(s.id)
            out[f"snapshots.{op}_s"] += s.duration
            out[f"snapshots.{op}_s.{table}"] += s.duration
    # write stages only: the last stage each snapshot write job ran
    for job in jobs.values():
        if job.span in write_ids:
            ran = [stages[i] for i in job.stage_ids
                   if i in stages and stages[i].tasks]
            if ran:
                out["snapshots.write_s"] += max(
                    ran, key=lambda st: st.stage_id).wall_s
    children = [s for s in spans if s.parent == root.id]
    out["trace.attributed_s"] = sum(s.duration for s in children)
    out["trace.gap_s"] = root.duration - out["trace.attributed_s"]
    return out


def run_traced(workload, spark, setup_s: float, event_log: str):
    """One untraced then one traced job, then stage isolation. Returns
    (per-layer metrics, checked ops, details)."""
    untraced = workload.job()
    ops = workload.check(untraced)
    workload.cleanup(untraced)

    tracer = Tracer(spark, "trace")
    crawl = workload.name == "frontier_crawl"
    (patch_crawl if crawl else patch_curate)(tracer)
    try:
        root = tracer.begin("job")
        try:
            traced = workload.job()
        finally:
            tracer.end(root)
    finally:
        tracer.unpatch()
    ops += workload.check(traced)
    iso = Isolator(spark, tracer)
    if crawl:
        files, size = _dir_usage(traced.out_dir)
        layer = isolate_crawl(workload, spark, iso)
    else:
        files = size = 0
        layer = isolate_curate(workload, spark, iso,
                               os.path.join(traced.out_dir, "curated"))
        fetch, observed = isolate_fetch(workload.probe, spark, iso)
        ops += workload.probe.check(observed)
        layer.update(fetch)
    workload.cleanup(traced)
    # every job has ended: the event log holds all their stages
    jobs, stages = eventlog.read_event_log(eventlog.find_log(event_log))
    out = span_metrics(tracer, root, jobs, stages)
    # admission task skew: the busiest stage of each isolated admission
    skews = []
    for span in tracer.spans:
        if span.name.startswith("iso.politeness."):
            ran = [st for st in stages.values()
                   if st.span == span.id and st.tasks]
            if ran:
                skews.append(max(ran, key=lambda st: st.run_ms).task_skew)
    out.update(layer)
    out.update(iso.python)
    out["politeness.task_skew"] = med(skews)
    out["snapshots.files_written"] = files
    out["snapshots.bytes_written"] = size
    out["trace.job_s"] = traced.job_s
    out["trace.untraced_job_s"] = untraced.job_s
    out["trace.overhead_s"] = traced.job_s - untraced.job_s
    out["trace.isolation_gap_s"] = (
        out.get("crawl.run_round_s", 0.0) if crawl else traced.job_s
    ) - out.get("trace.isolated_round_s", 0.0)
    metrics = {k: {"value": round(float(out.get(k, 0.0)), 6), "unit": u}
               for k, u in LAYER_UNITS.items()}
    spans_path = os.path.join(os.path.dirname(event_log),
                              f"spans-{workload.name}.json")
    by_span = eventlog.fold_by_span(jobs, stages)
    with open(spans_path, "w") as fh:
        json.dump([{**asdict(s), "duration": s.duration,
                    "self": tracer.self_time(s),
                    "spark": by_span.get(s.id, {})} for s in tracer.spans],
                  fh, indent=1)
    details = {"spans_file": spans_path, "setup_s": setup_s,
               "untraced": untraced.details, "traced": traced.details}
    return metrics, ops, details
