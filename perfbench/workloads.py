"""The benchmark workloads. Each returns the operations it attempted, the
ones that failed, and its metrics.

``query_local``  batch-built index, closed-loop BM25 top-10 queries that
                 all score on the driver (under the local byte bound).
``ingest_mixed`` url-ascending micro-batches streamed into an index:
                 segment, a collapsing refresh, delete, then queries over
                 the fresh index version with cold searcher caches.

Timed regions hold only calls into the program's public functions; the
oracle comparison runs after them.
"""

from __future__ import annotations

import contextlib
import math
import os
import time
from dataclasses import dataclass, field

import inputs
import probes
from probes import p50

K = 10
QUERY_DOCS = 1000
INGEST_DOCS = 1000  # half the base batch, half the timed batch
DELETES_PER_BATCH = 4
INGEST_QUERIES = 12
# One committed delta allowed: the refresh after the base is a collapse.
MAX_DELTAS = 1
# Index shape for a corpus of a thousand docs: 8 term buckets and one
# build chunk (chunks bound memory at corpus scales far above these).
N_BUCKETS = 8
BUILD_OPTS = dict(n_buckets=N_BUCKETS, n_seg_chunks=1, n_bucket_chunks=1)
WARM_REQUESTS = 5
MAX_REQUESTS = 10_000


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


@dataclass
class Env:
    """What a workload needs from the runner."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: probes.Tracer
    jobs: probes.SparkJobs | None
    # Process start to a ready session: imports, JVM launch, SparkSession.
    startup_s: float


# ------------------------------------------------------------ oracle gate


def fp6(score: float) -> int:
    return math.floor(score * 1_000_000)


def oracle_topk(oracle, query_text: str, k: int, masked: set[str] = frozenset()):
    """Expected ``[(rank, url, floor(score*1e6))]``: the oracle's exhaustive
    BM25 ranked by the fixed-point key with url tie-break, the order the
    engine's ``fixed_point=True`` contract defines."""
    scored = [
        (fp6(s), oracle.urls[d])
        for d, s in oracle.score_all(query_text).items()
        if oracle.urls[d] not in masked
    ]
    scored.sort(key=lambda r: (-r[0], r[1]))
    return [(i + 1, u, s6) for i, (s6, u) in enumerate(scored[:k])]


def engine_rows(rows) -> list[tuple[int, str, int]]:
    return sorted((int(r["rank"]), r["url"], fp6(float(r["score"]))) for r in rows)


# ------------------------------------------------------------ query layer


class QueryProbe:
    """Per-request query-layer spans and counts in a traced run.

    Both workloads' indexes sit under the driver-local byte bound, so
    ``plans.query`` scores on the driver (its ``_score_local`` runs) and the
    ``operators.wand`` wrapper runs in this process. A request that took the
    distributed path would have shipped the wrapper to the Python workers
    inside the scoring closure, changing the program measured; such a
    traced request raises instead."""

    def __init__(self, env: Env):
        import pyarrow.parquet as pq

        from pageindex_spark.operators import wand
        from pageindex_spark.plans import query as Q

        self.env, self.Q, self.pq, self.wand = env, Q, pq, wand
        self.rows: dict[str, list[float]] = {}
        self.cur: dict[str, float] = {}

    def add(self, key: str, v: float = 1.0) -> None:
        self.cur[key] = self.cur.get(key, 0.0) + v

    def _on_bmw(self, args, kwargs, _out):
        term_runs, query_terms = args[0], args[2]
        self.add("cells", 1)
        self.add(
            "blocks_total",
            sum(term_runs[t].n_blocks for t, _ in query_terms if t in term_runs),
        )

    @contextlib.contextmanager
    def request(self):
        tr = self.env.tracer
        self.cur = {"driver_scored": 0.0, "cells": 0.0, "blocks_total": 0.0}
        blocks0 = self.wand.DECODE_STATS["blocks"]
        with contextlib.ExitStack() as st:
            st.enter_context(
                probes.wrapped(self.pq, "read_table", probes.timed_call(
                    tr, "sources.driver_parquet_read",
                    lambda *_: self.add("parquet_reads"),
                ))
            )
            st.enter_context(
                probes.wrapped(self.Q, "_score_local", probes.timed_call(
                    tr, "plans.query.score_local",
                    lambda *_: self.cur.__setitem__("driver_scored", 1.0),
                ))
            )
            st.enter_context(
                probes.wrapped(self.Q, "bmw_score_cell", probes.timed_call(
                    tr, "operators.wand.bmw_score_cell", self._on_bmw,
                ))
            )
            counts = st.enter_context(self.env.jobs.count("query"))
            yield
        if not self.cur["driver_scored"]:
            raise RuntimeError("a traced request took the distributed query path")
        self.cur["blocks_decoded"] = float(self.wand.DECODE_STATS["blocks"] - blocks0)
        self.cur["spark_jobs"] = counts.jobs
        self.cur["spark_stages"] = counts.stages
        self.cur["spark_tasks"] = counts.tasks
        for key, v in self.cur.items():
            self.rows.setdefault(key, []).append(v)


def run_query(env: Env, index_dir: str, qid: int, text: str, probe: QueryProbe | None):
    """One request: open (or reuse) the searcher, call ``search``, collect.
    Returns (rows, wall seconds)."""
    from pageindex_spark.plans import query as Q

    tr = env.tracer
    t0 = time.perf_counter()
    if probe is None:
        se = Q.get_searcher(env.spark, index_dir)
        rows = se.search([(qid, text)], k=K, mode="bmw", fixed_point=True).collect()
    else:
        with probe.request(), tr.span("request"):
            with tr.span("plans.query.open"):
                se = Q.get_searcher(env.spark, index_dir)
            with tr.span("plans.query.search_call"):
                df = se.search([(qid, text)], k=K, mode="bmw", fixed_point=True)
            with tr.span("plans.query.collect"):
                rows = df.collect()
    return rows, time.perf_counter() - t0


def query_layer_metrics(env: Env, probe: QueryProbe, traced_lat, plain_lat) -> dict:
    """Per-request medians of the query-layer spans and counts, their self
    times, and the tracing overhead (traced minus untraced request p50 in
    the same run)."""
    tr = env.tracer
    selfs = tr.self_times()
    per_req: dict[str, dict[int, float]] = {}
    self_req: dict[str, dict[int, float]] = {}
    for s in tr.spans:
        if s.request is None:
            continue
        per_req.setdefault(s.name, {}).setdefault(s.request, 0.0)
        per_req[s.name][s.request] += s.end - s.start
        self_req.setdefault(s.name, {}).setdefault(s.request, 0.0)
        self_req[s.name][s.request] += selfs[s.span_id]
    reqs = sorted(per_req.get("request", {}))

    def med(name, table=per_req):
        vals = [table.get(name, {}).get(r, 0.0) * 1000.0 for r in reqs]
        return p50(vals)

    wall = per_req.get("request", {})
    share = [
        (per_req.get("plans.query.search_call", {}).get(r, 0.0)
         + per_req.get("plans.query.collect", {}).get(r, 0.0)) / wall[r]
        for r in reqs if wall[r] > 0
    ]
    rows = probe.rows
    blocks_total = sum(rows.get("blocks_total", []))
    m = {
        # The slowest open: a fresh index version's, where the run has one.
        "plans.query.open_ms": max(
            (per_req.get("plans.query.open", {}).get(r, 0.0) * 1000.0 for r in reqs),
            default=0.0,
        ),
        "plans.query.search_call_ms": med("plans.query.search_call"),
        "plans.query.collect_ms": med("plans.query.collect"),
        "plans.query.search_collect_share": p50(share),
        "plans.query.spark_jobs_per_request": p50(rows.get("spark_jobs", [])),
        "plans.query.spark_stages_per_request": p50(rows.get("spark_stages", [])),
        "plans.query.spark_tasks_per_request": p50(rows.get("spark_tasks", [])),
        "plans.query.driver_scored_ratio": (
            sum(rows.get("driver_scored", [])) / len(reqs) if reqs else 0.0
        ),
        "operators.wand.bmw_score_cell_ms": med("operators.wand.bmw_score_cell"),
        "operators.wand.cells_scored_per_request": p50(rows.get("cells", [])),
        "operators.wand.blocks_decoded_per_request": p50(rows.get("blocks_decoded", [])),
        "operators.wand.blocks_decoded_ratio": (
            sum(rows.get("blocks_decoded", [])) / blocks_total if blocks_total else 0.0
        ),
        "sources.driver_parquet_reads_per_request": p50(rows.get("parquet_reads", [])),
        "sources.driver_parquet_read_ms": med("sources.driver_parquet_read"),
        "trace.overhead_ms": (p50(traced_lat) - p50(plain_lat)) * 1000.0,
    }
    for name, key in (
        ("request", "trace.request_self_ms"),
        ("plans.query.search_call", "plans.query.search_call_self_ms"),
        ("plans.query.collect", "plans.query.collect_self_ms"),
        ("plans.query.score_local", "plans.query.score_local_self_ms"),
        ("operators.wand.bmw_score_cell", "operators.wand.bmw_score_cell_self_ms"),
        ("sources.driver_parquet_read", "sources.driver_parquet_read_self_ms"),
    ):
        m[key] = med(name, self_req)
    return m


def query_loop(env: Env, index_dir: str, requests, probe, out: Outcome, seconds=None):
    """Closed loop over ``requests`` (all of them, or until ``seconds``
    pass). A traced run alternates traced and untraced requests, so the
    tracing overhead is measured within one run. Returns the results and
    the latencies: all, traced, untraced."""
    results, lat, traced_lat, plain_lat = [], [], [], []
    t_end = None if seconds is None else time.perf_counter() + seconds
    for i, (qid, text) in enumerate(requests):
        if t_end is not None and time.perf_counter() >= t_end:
            break
        use = probe if i % 2 == 0 else None
        out.attempted += 1
        env.tracer.request = i
        try:
            rows, dt = run_query(env, index_dir, qid, text, use)
        except Exception as e:  # a request that raises counts as failed
            out.failed += 1
            out.detail.setdefault("errors", []).append(repr(e))
            continue
        finally:
            env.tracer.request = None
        lat.append(dt)
        (traced_lat if use is not None else plain_lat).append(dt)
        results.append((text, rows))
    return results, lat, traced_lat, plain_lat


def check_results(out: Outcome, oracle, results, masked=frozenset()) -> None:
    """Every result must equal the oracle's: ``(rank, url)`` exactly and
    ``floor(score*1e6)``. A mismatch counts as a failed operation."""
    expected: dict[str, list] = {}
    for text, rows in results:
        if text not in expected:
            expected[text] = oracle_topk(oracle, text, K, masked)
        if engine_rows(rows) != expected[text]:
            out.failed += 1
            out.detail.setdefault("mismatches", []).append(text)


# ------------------------------------------------------------ helpers


def write_corpus(path: str, urls, texts) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"url": list(urls), "text": list(texts)}), path)


def size_metrics(index_dir: str, text_bytes: int, extra=None) -> dict:
    import pyarrow.parquet as pq

    sizes = probes.index_sizes(index_dir, extra)
    runs, terms, postings = probes.postings_shape(index_dir, pq.read_table)
    committed = sum(sizes.values())
    m = {f"index.{k}_bytes": float(v) for k, v in sizes.items()}
    m["operators.codec.postings_bytes_per_posting"] = sizes["postings"] / postings
    m["operators.compaction.runs_per_term"] = runs / terms
    m["index_bytes_per_text_byte"] = committed / text_bytes
    return m


def counted(env: Env, label: str):
    return env.jobs.count(label) if env.jobs is not None else contextlib.nullcontext(
        probes.JobCount(0, 0, 0)
    )


# ------------------------------------------------------------ query_local


def query_local(env: Env) -> Outcome:
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.build_index import build_index

    out = Outcome()
    setup0 = time.perf_counter()
    docs = inputs.corpus(QUERY_DOCS, env.seed)
    text_bytes = sum(len(t.encode()) for t in docs.text)
    src = os.path.join(env.work, "documents.parquet")
    write_corpus(src, docs.url, docs.text)
    index_dir = os.path.join(env.work, "index")
    layer: dict[str, float] = {}
    build0 = time.perf_counter()
    with contextlib.ExitStack() as st:
        stages = st.enter_context(probes.build_stage_log())
        bjobs = st.enter_context(counted(env, "build"))
        if env.trace:
            # Driver-side pyarrow manifest writes, where the build looks
            # the function up.
            from pageindex_spark.plans import build_index as BI

            st.enter_context(probes.wrapped(
                BI, "append_lineage", probes.timed_call(env.tracer, "plans.lineage.append")
            ))
        build_index(
            env.spark, env.spark.read.parquet(src), index_dir,
            num_partitions=env.spark.sparkContext.defaultParallelism, **BUILD_OPTS,
        )
    build_s = time.perf_counter() - build0
    stream = inputs.request_stream(env.seed, WARM_REQUESTS + MAX_REQUESTS)
    for qid, text in stream[:WARM_REQUESTS]:
        run_query(env, index_dir, qid, text, None)
    setup_s = time.perf_counter() - setup0 + env.startup_s

    probe = QueryProbe(env) if env.trace else None
    results, lat, traced_lat, plain_lat = query_loop(
        env, index_dir, stream[WARM_REQUESTS:], probe, out, seconds=env.seconds
    )

    # Correctness gate, outside the timed region.
    check_results(out, OracleIndex(list(zip(docs.url, docs.text))), results)

    sizes = size_metrics(index_dir, text_bytes)
    out.metrics = {
        "setup_s": setup_s,
        "query_p50_ms": p50(lat) * 1000.0,
        "index_docs_per_s": QUERY_DOCS / build_s,
        "index_bytes_per_text_byte": sizes.pop("index_bytes_per_text_byte"),
    }
    if env.trace:
        layer.update(query_layer_metrics(env, probe, traced_lat, plain_lat))
        layer.update(build_layer(env.tracer, stages, bjobs))
        layer.update(sizes)
    out.detail.update(requests=len(lat), layer=layer)
    return out


def build_layer(tracer: probes.Tracer, stages: dict, jobs) -> dict:
    m = {f"plans.build_index.{s}_s": stages.get(s, 0.0) for s in probes.BUILD_STAGES}
    m["plans.build_index.spark_jobs"] = float(jobs.jobs)
    appends = [s.end - s.start for s in tracer.spans if s.name == "plans.lineage.append"]
    m["plans.lineage.append_calls"] = float(len(appends))
    m["plans.lineage.append_s"] = sum(appends)
    return m


# ------------------------------------------------------------ ingest_mixed


def _delta_count(index_dir: str) -> int:
    from pageindex_spark.sources.tables import read_meta

    return len((read_meta(index_dir).get("streamed") or {}).get("deltas") or [])


def ingest_mixed(env: Env) -> Outcome:
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans import query as Q
    from pageindex_spark.plans.deletes import delete_docs
    from pageindex_spark.streaming.ingest import refresh_streamed_index, segment_batch

    out = Outcome()
    layer: dict[str, float] = {}
    setup0 = time.perf_counter()
    docs = inputs.corpus(INGEST_DOCS, env.seed)
    base, batch = inputs.batch_plan(docs.url, docs.text, 2, DELETES_PER_BATCH, env.seed)
    stream = inputs.request_stream(env.seed, 1 + INGEST_QUERIES)
    segs, state, index_dir = (
        os.path.join(env.work, d) for d in ("segments", "state", "index")
    )
    parts = env.spark.sparkContext.defaultParallelism

    paths = [os.path.join(env.work, f"batch{b}.parquet") for b in (0, 1)]
    for path, rows in zip(paths, (base, batch)):
        write_corpus(path, rows.urls, rows.texts)

    def segment(b: int):
        segment_batch(env.spark.read.parquet(paths[b]), b, segs, state, num_partitions=parts)

    def refresh():
        refresh_streamed_index(
            env.spark, segs, state, index_dir, num_partitions=parts,
            n_buckets=N_BUCKETS, max_deltas=MAX_DELTAS,
        )

    # Setup: the base batch becomes searchable (the first refresh takes the
    # full path) and one query warms the reads.
    segment(0)
    refresh()
    run_query(env, index_dir, *stream[0], None)
    setup_s = time.perf_counter() - setup0 + env.startup_s

    # Timed: the next batch is segmented and refreshed. The delta bound
    # makes that refresh a collapse, which re-folds both batches into one
    # delta. Then a few of the new urls are deleted and queries run over
    # the new version with cold searcher caches and its tombstones.
    before = _delta_count(index_dir)
    out.attempted += 1
    t0 = time.perf_counter()
    with counted(env, "segment_batch"):
        segment(1)
    t1 = time.perf_counter()
    with counted(env, "refresh") as rj:
        refresh()
    t2 = time.perf_counter()
    if _delta_count(index_dir) > before:
        raise RuntimeError("ingest_mixed refresh did not collapse the deltas")
    out.attempted += 1
    with counted(env, "delete") as dj:
        delete_docs(env.spark, index_dir, list(batch.deletes))
    t3 = time.perf_counter()

    probe = QueryProbe(env) if env.trace else None
    results, lat, traced_lat, plain_lat = query_loop(
        env, index_dir, stream[1:], probe, out
    )

    # Correctness gate, outside the timed region. Deletes keep the stats
    # of the version they mask (stats change at the next collapse), so the
    # oracle holds every ingested doc and masks the tombstoned urls.
    ingested = [
        (u, t) for rows in (base, batch) for u, t in zip(rows.urls, rows.texts)
    ]
    check_results(out, OracleIndex(ingested), results, set(batch.deletes))

    text_bytes = sum(len(t.encode()) for t in docs.text)
    sizes = size_metrics(index_dir, text_bytes, extra={"segments": segs})
    out.metrics = {
        "setup_s": setup_s,
        "query_p50_ms": p50(lat) * 1000.0,
        "index_docs_per_s": len(batch.urls) / (t2 - t0),
        "index_bytes_per_text_byte": sizes.pop("index_bytes_per_text_byte"),
    }
    if env.trace:
        layer.update(query_layer_metrics(env, probe, traced_lat, plain_lat))
        layer.update(sizes)
        layer.update({
            "streaming.ingest.segment_batch_s": t1 - t0,
            "streaming.ingest.refresh_collapse_s": t2 - t1,
            "streaming.ingest.spark_jobs_per_refresh": float(rj.jobs),
            "streaming.ingest.committed_deltas": float(_delta_count(index_dir)),
            "plans.deletes.delete_docs_ms": (t3 - t2) * 1000.0,
            "plans.deletes.spark_jobs_per_delete": float(dj.jobs),
        })
    out.detail.update(
        requests=len(lat), searchable_s=t2 - t0, delete_s=t3 - t2, layer=layer,
    )
    return out


WORKLOADS = {"query_local": query_local, "ingest_mixed": ingest_mixed}
