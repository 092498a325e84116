"""The two workloads: ``ingest`` (writes) and ``serve`` (reads: a batch
phase, then an interactive phase).

Each one times only its own calls into the package's public functions,
from one closed-loop client (the next call starts when the last one has
returned). Every served top-k is checked, outside the timing, against
naive BM25 (``queryeng.bm25_topk``) over the same index's
``postings_raw``; a mismatch or a raise fails that operation. The index
a workload reads is always built by the code under test, in the same run.

Both workloads report the same end-to-end metrics, each measured on the
workload's own operations. A traced run also runs a short probe of the
layers its workload does not time, after the timed part, so that every
traced run reports every per-layer metric.

The amount of work is fixed by the workload and ``--seconds`` alone, never
by elapsed time, so every run of a seed serves the same operations.
README.md says why each workload exists and what it bypasses.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import statistics
import time
from collections import Counter
from statistics import median

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from themis_search_engine_spark.indexing import (
    build_and_save_serving,
    compact_serving_index,
    load_serving_index,
    merge_serving_delta,
    serving_bound_scales,
)
from themis_search_engine_spark.indexing.merge import describe_index
from themis_search_engine_spark.queryeng import (
    bm25_topk,
    choose_query_plan,
    qterms_df,
    query_term_map,
    search_serving,
)
from themis_search_engine_spark.queryeng.sharded import (
    collect_idf_map,
    wand_topk_sharded,
)
from themis_search_engine_spark.queryeng.wand import wand_topk_local

from inputs import query_stream, write_corpus

K = 10
# fixed (term, chunk) shuffle width: the index layout depends on neither
# the box nor the seed
PARTITIONS = 8
BASE_DOCS = 2000
DELTA_DOCS = 250
# ingest runs ROUNDS rounds, each of a few deltas (each followed by its
# batch) and then a compaction, so that slow_op_ms is the median of
# ROUNDS compactions of indexes of one shape. A round has one delta per
# ROUND_DELTA_SECONDS of --seconds, at least MIN_ROUND_DELTAS: at 10 s,
# op_p50_ms and batch_qps are medians of 4
ROUNDS = 2
ROUND_DELTA_SECONDS, MIN_ROUND_DELTAS = 5, 2
# set-up (opening an index for serving) is repeated; its median is setup_s
SETUP_REPEATS = 3
INGEST_QUERIES = 64
BATCH_QUERIES = 256
INTERACTIVE_WARMUP = 10
# 20 measured queries per --seconds: at 10 s, 10 samples lie beyond p95
INTERACTIVE_PER_SECOND = 20
# the traced run's probe of the layers its workload does not time:
# interactive queries after ingest, deltas merged and compacted after serve
PROBE_QUERIES, PROBE_DELTAS = 60, 2
# disjoint qid ranges, so one naive check covers every query of a run
BATCH_QID0, INTERACTIVE_QID0 = 0, 1_000_000


def quantile(xs, q):
    """Nearest-rank quantile (no interpolation across the local/sharded
    gap of a mixed latency sample)."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-len(s) * q // 100) - 1))]


class Run:
    """State of one benchmark run: Spark, work dir, tracer and results."""

    def __init__(self, spark, work: str, tracer, seed: int, seconds: int, log):
        self.spark, self.work, self.tracer, self.log = spark, work, tracer, log
        self.seed, self.seconds = seed, seconds
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.record: dict = {"samples": {}, "layout": {}}
        self.attempted = self.failed = 0

    def timed(self, name: str, fn, request=None, *, jobs: bool = False):
        """(result, seconds, span) of one public call. The clock wraps the
        span, so a traced run's timings include the tracing cost."""
        t0 = time.perf_counter()
        with self.tracer.span(name, request, jobs=jobs) as sp:
            out = fn()
        dt = time.perf_counter() - t0
        self.log(f"{name} [{request}] {dt:.3f}s")
        return out, dt, sp

    def untimed(self, name: str, fn):
        """Run ``fn`` outside the measurement, logging its duration."""
        t0 = time.perf_counter()
        out = fn()
        self.log(f"{name} {time.perf_counter() - t0:.3f}s")
        return out

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def samples(self, name: str, xs: list) -> None:
        self.record["samples"][name] = [round(x, 6) for x in xs]


# --- set-up: open an index for serving ---------------------------------------

class Served:
    """What a long-lived serving process hoists at start-up (the
    Search.java loop): index handle, dictionary, pruning bound scales."""

    def __init__(self, spark, path: str):
        self.path = path
        self.comp = f"{path}/postings_comp"
        self.index = load_serving_index(spark, path)
        self.idf = collect_idf_map(self.index.dictionary)
        self.df = dict(self.index.dictionary.select("term", "df").collect())
        self.bound_scales = serving_bound_scales(spark, path)

    def max_df_frac(self, terms) -> float:
        return max((self.df.get(t, 0) for t in terms), default=0) / max(
            self.index.n_docs, 1
        )


def open_for_serving(run: Run, path: str) -> Served:
    times = []
    for i in range(SETUP_REPEATS):
        served, dt, _ = run.timed("setup.open", lambda: Served(run.spark, path), i)
        times.append(dt)
    run.e2e["setup_s"] = median(times)
    run.samples("setup_s", times)
    return served


# --- correctness gate ----------------------------------------------------------

def by_qid(rows) -> dict[int, list[tuple[int, float]]]:
    """(qid, doc_id, score, rank) rows -> qid -> [(doc_id, score)] by rank."""
    out: dict[int, list] = {}
    for q, r, d, s in sorted((int(r[0]), int(r[3]), int(r[1]), float(r[2])) for r in rows):
        out.setdefault(q, []).append((d, s))
    return out


def naive_topk(spark, path: str, queries: dict[int, str], states=None) -> list:
    """Naive BM25 top-k per query over the index's ``postings_raw``.

    ``states`` checks earlier states of a delta-merged index in the same
    collect: one ``(n_docs, avgdl, dictionary_dir)`` per state, whose
    postings are those of doc_id < n_docs (deltas only add larger ids).
    Returns one qid -> [(doc_id, score)] map per state (one for None)."""
    idx = load_serving_index(spark, path)
    states = states or [(idx.max_doc_id + 1, idx.avgdl, f"{path}/dictionary")]
    qt = qterms_df(spark, queries)
    # term_list=[]: no IN-list scan pruning, every posting goes through
    # the join -- the most naive form of the plan
    parts = [
        bm25_topk(
            qt, idx.postings_flat.where(F.col("doc_id") < n_docs),
            spark.read.parquet(dict_dir), idx.doc_stats, avgdl, K,
            term_list=[],
        ).select(F.lit(i).alias("state"), "qid", "doc_id", "score", "rank")
        for i, (n_docs, avgdl, dict_dir) in enumerate(states)
    ]
    rows = functools.reduce(DataFrame.unionAll, parts).collect()
    return [by_qid(r[1:] for r in rows if r[0] == i) for i in range(len(states))]


def same_ranking(got: list, want: list) -> bool:
    """Rank identity on (score desc, doc_id asc): the same doc at every
    rank, scores equal up to float summation order."""
    return len(got) == len(want) and all(
        dg == dw and abs(sg - sw) <= 1e-9 * max(1.0, abs(sw))
        for (dg, sg), (dw, sw) in zip(got, want)
    )


def all_match(got: dict, want: dict, qids) -> bool:
    return all(same_ranking(got.get(q, []), want.get(q, [])) for q in qids)


# --- index layout, from parquet footers -------------------------------------

def comp_layout(spark, path: str) -> dict:
    """Compressed layout of the index at ``path``: counts from its parquet
    footers, and its segment count from ``describe_index``."""
    files = sorted(glob.glob(f"{path}/postings_comp/*.parquet"))
    metas = [pq.ParquetFile(f).metadata for f in files]
    df_chunk = pq.read_table(f"{path}/postings_comp", columns=["df_chunk"])
    gs = pq.read_table(f"{path}/global_stats").to_pylist()[0]
    return {
        "postings": int(pc.sum(df_chunk["df_chunk"]).as_py() or 0),
        "comp_rows": sum(m.num_rows for m in metas),
        "row_groups": sum(m.num_row_groups for m in metas),
        "comp_bytes": sum(os.path.getsize(f) for f in files),
        "chunk_bits": int(gs["chunk_bits"]),
        "n_terms": sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(f"{path}/dictionary/*.parquet")
        ),
        "segments": describe_index(spark, path)["segments"],
    }


class ScanModel:
    """Per-term chunk rows and row-group term ranges of a compressed
    table, read once from its footers and term column: what a query's
    ``term IN vocab`` read touches."""

    def __init__(self, comp: str):
        self.rows = Counter(
            pq.read_table(comp, columns=["term"])["term"].to_pylist()
        )
        self.ranges = []
        for f in sorted(glob.glob(f"{comp}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            col = md.schema.to_arrow_schema().get_field_index("term")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(col).statistics
                # no statistics: the reader cannot prune the row group
                ok = st is not None and st.has_min_max
                self.ranges.append((st.min, st.max) if ok else None)

    def chunk_rows(self, terms) -> int:
        return sum(self.rows.get(t, 0) for t in set(terms))

    def row_groups(self, terms) -> int:
        return sum(
            r is None or any(r[0] <= t <= r[1] for t in terms)
            for r in self.ranges
        )


def job_medians(run: Run, name: str, prefix: str, only=None) -> None:
    """Median Spark jobs and tasks per call of the spans named ``name``
    (restricted to span ids in ``only`` when given)."""
    counts = [
        c for sid, c in run.tracer.job_counts((name,)).items()
        if only is None or sid in only
    ]
    if counts:
        run.layer[f"{prefix}.jobs_per_op"] = median([c[0] for c in counts])
        run.layer[f"{prefix}.tasks_per_op"] = median([c[1] for c in counts])
        run.record["samples"][f"{prefix}.jobs_tasks"] = counts


def build(run: Run, docs_file: str, path: str) -> None:
    """The timed base build: build_docs_per_s, and its phases."""
    t: dict = {}
    _, dt, sp = run.timed(
        "indexing.build_and_save_serving",
        lambda: build_and_save_serving(
            run.spark.read.parquet(docs_file), path, partitions=PARTITIONS,
            max_doc_id_hint=BASE_DOCS, timings=t,
        ),
    )
    run.op(True)
    run.tracer.phases(sp, "build", t)
    run.record["build_timings"] = t
    run.e2e["build_docs_per_s"] = BASE_DOCS / dt
    for key in ("postings_write", "doc_stats", "compress", "dictionary"):
        run.layer[f"build.{key}_s"] = t[key]


def merge_delta(run: Run, path: str, docs_file: str, request) -> tuple[float, dict]:
    t: dict = {}
    _, dt, sp = run.timed(
        "indexing.merge_serving_delta",
        lambda: merge_serving_delta(
            run.spark, path, run.spark.read.parquet(docs_file),
            partitions=PARTITIONS, timings=t,
        ),
        request, jobs=True,
    )
    run.op(True)
    run.tracer.phases(sp, "merge", t)
    return dt, t


def compact(run: Run, path: str, request) -> tuple[float, dict]:
    t: dict = {}
    _, dt, sp = run.timed(
        "indexing.compact_serving_index",
        lambda: compact_serving_index(
            run.spark, path, partitions=PARTITIONS, timings=t,
        ),
        request,
    )
    run.op(True)
    run.tracer.phases(sp, "compact", t)
    return dt, t


def write_layers(run: Run, merges: list[dict], compactions: list[dict]) -> None:
    """Median phase times per merge and per compaction, and the Spark
    jobs and tasks per merge."""
    for key in ("postings_write", "doc_stats", "compress", "finalize"):
        run.layer[f"merge.{key}_s"] = median([p[f"delta_{key}"] for p in merges])
    for key in ("shuffle", "compress", "finalize"):
        run.layer[f"compact.{key}_s"] = median([p[f"compact_{key}"] for p in compactions])
    job_medians(run, "indexing.merge_serving_delta", "spark.merge")


def batch(run: Run, path: str, qmap: dict, request) -> tuple[list, float]:
    """One batch through the ``search_serving`` facade: (rows, seconds)."""
    rows, dt, _ = run.timed(
        "queryeng.search_serving",
        lambda: search_serving(run.spark, path, qmap, K).collect(),
        request, jobs=True,
    )
    return rows, dt


class BatchLayers:
    """Traced run only: a hot ``wand_topk_sharded`` on each measured
    batch (the index's dictionary hoisted, so no pricing), and the chunk
    rows the batch's vocabulary selects."""

    def __init__(self):
        self.hot_s, self.chunk_rows = [], []

    def run_hot(self, run: Run, s: Served, qmap: dict, request) -> list:
        self.chunk_rows.append(
            ScanModel(s.comp).chunk_rows({t for ts in qmap.values() for t in ts})
        )
        rows, dt, _ = run.timed(
            "queryeng.wand_topk_sharded",
            lambda: wand_topk_sharded(
                run.spark, s.comp, qmap, None, s.index.avgdl,
                s.index.max_doc_id, K, chunk_bits=s.index.chunk_bits,
                idf_map=s.idf,
            ).collect(),
            request, jobs=True,
        )
        self.hot_s.append(dt)
        return rows

    def report(self, run: Run, facade_s: list[float]) -> None:
        run.samples("sharded_batch_s", self.hot_s)
        run.layer["sharded.batch_s"] = median(self.hot_s)
        run.layer["planner.pricing_s"] = median(
            [f - h for f, h in zip(facade_s, self.hot_s)]
        )
        run.layer["scan.chunk_rows_per_batch"] = median(self.chunk_rows)
        job_medians(run, "queryeng.search_serving", "spark.batch")


# --- workloads ------------------------------------------------------------------

def ingest(run: Run) -> None:
    spark, tr = run.spark, run.tracer
    per_round = max(MIN_ROUND_DELTAS, run.seconds // ROUND_DELTA_SECONDS)
    n_deltas = ROUNDS * per_round
    parts = {"base": BASE_DOCS}
    parts.update({f"delta{d}": DELTA_DOCS for d in range(1, n_deltas + 1)})
    files = write_corpus(run.seed, parts, run.work)
    queries = query_stream(run.seed, "ingest", 0, INGEST_QUERIES)
    qmap = query_term_map(queries)
    path = f"{run.work}/index"

    build(run, files["base"], path)
    open_for_serving(run, path)
    run.untimed(
        "warm-up batch",
        lambda: search_serving(spark, path, qmap, K).collect(),
    )

    merge_s, batch_s, compact_s, merges, compactions = [], [], [], [], []
    # (rows, index of the fragmented state they must match)
    checks, states = [], []
    layers = BatchLayers() if tr.enabled else None
    d = 0
    for r in range(ROUNDS):
        for _ in range(per_round):
            d += 1
            dt, t = merge_delta(run, path, files[f"delta{d}"], d)
            merge_s.append(dt)
            merges.append(t)
            rows, dt = batch(run, path, qmap, f"fragmented{d}")
            batch_s.append(dt)
            checks.append((rows, d - 1))
            if layers:
                s = run.untimed("open for hot batch", lambda: Served(spark, path))
                checks.append((layers.run_hot(run, s, qmap, f"fragmented{d}"), d - 1))
            # the state this batch saw, for the naive check after the run
            gs = pq.read_table(f"{path}/global_stats").to_pylist()[0]
            shutil.copytree(f"{path}/dictionary", f"{run.work}/dictionary{d}")
            states.append((BASE_DOCS + d * DELTA_DOCS, gs["avgdl"],
                           f"{run.work}/dictionary{d}"))
        if tr.enabled and r == ROUNDS - 1:
            lay = comp_layout(spark, path)
            run.record["layout"]["fragmented"] = lay
            for key, v in lay.items():
                run.layer[f"index.{key}"] = v
        dt, t = compact(run, path, r)
        compact_s.append(dt)
        compactions.append(t)
        # compaction changes no score: the compacted batch must match the
        # last fragmented state
        rows, _ = batch(run, path, qmap, f"compacted{r}")
        checks.append((rows, d - 1))

    run.e2e["op_p50_ms"] = median(merge_s) * 1e3
    run.e2e["slow_op_ms"] = median(compact_s) * 1e3
    run.e2e["batch_qps"] = INGEST_QUERIES / median(batch_s)
    run.samples("merge_s", merge_s)
    run.samples("fragmented_batch_s", batch_s)
    run.samples("compact_s", compact_s)
    run.record["delta_docs"] = DELTA_DOCS

    probe = []
    if tr.enabled:
        write_layers(run, merges, compactions)
        layers.report(run, batch_s)
        s = run.untimed("open for probe", lambda: Served(spark, path))
        probe, _ = interactive_phase(run, s, PROBE_QUERIES)
    probe_queries = {q: text for qs, _ in probe for q, text in qs.items()}
    wants = run.untimed(
        "naive check",
        lambda: naive_topk(spark, path, {**queries, **probe_queries}, states),
    )
    for rows, state in checks:
        run.op(all_match(by_qid(rows), wants[state], queries))
    for qs, rows in probe:
        run.op(all_match(by_qid(rows), wants[-1], qs))

    lay = comp_layout(spark, path)
    run.record["layout"]["compacted"] = lay
    run.e2e["index_bytes_per_posting"] = lay["comp_bytes"] / lay["postings"]


def batch_phase(run: Run, s: Served) -> list:
    """Untimed warm-up batch, then seeded batches through the
    ``search_serving`` facade. Returns (queries, rows) to check."""
    batches = [
        query_stream(run.seed, f"batch.{b}", b * BATCH_QUERIES, BATCH_QUERIES,
                     first_qid=BATCH_QID0 + b * BATCH_QUERIES)
        for b in range(1 + max(3, run.seconds // 3))
    ]
    layers = BatchLayers() if run.tracer.enabled else None
    checks, facade_s = [], []
    for b, qs in enumerate(batches):
        qmap = query_term_map(qs)
        if b == 0:
            rows = run.untimed(
                "warm-up batch",
                lambda: search_serving(run.spark, s.path, qmap, K).collect(),
            )
            checks.append((qs, rows))
            continue
        rows, dt = batch(run, s.path, qmap, f"batch{b}")
        facade_s.append(dt)
        checks.append((qs, rows))
        if layers:
            checks.append((qs, layers.run_hot(run, s, qmap, f"batch{b}")))

    run.e2e["batch_qps"] = BATCH_QUERIES / median(facade_s)
    run.samples("batch_s", facade_s)
    if layers:
        layers.report(run, facade_s)
    return checks


def interactive_phase(run: Run, s: Served, n: int) -> tuple[list, list]:
    """Untimed warm-up queries, then ``n`` seeded queries, one at a time.
    Returns (queries, rows) to check, and the measured latencies in ms."""
    spark, tr = run.spark, run.tracer
    ix = s.index
    warm = query_stream(run.seed, "interactive.warmup", 0, INTERACTIVE_WARMUP,
                        first_qid=INTERACTIVE_QID0)
    stream = query_stream(run.seed, "interactive", INTERACTIVE_WARMUP, n,
                          first_qid=INTERACTIVE_QID0 + INTERACTIVE_WARMUP)
    qmap = query_term_map({**warm, **stream})

    def query(qid: int, terms: list[str]):
        plan = choose_query_plan(
            1, max_df_frac=s.max_df_frac(terms), interactive=True
        )["plan"]
        if plan == "local":
            pdf = wand_topk_local(
                s.comp, {qid: terms}, s.idf, ix.avgdl, K,
                chunk_bits=ix.chunk_bits, bound_scales=s.bound_scales,
            )
            return plan, list(pdf.itertuples(index=False))
        return plan, wand_topk_sharded(
            spark, s.comp, {qid: terms}, None, ix.avgdl, ix.max_doc_id, K,
            chunk_bits=ix.chunk_bits, idf_map=s.idf,
        ).collect()

    texts = {**warm, **stream}
    checks, ms, plan_of, sharded_spans = [], {}, {}, set()
    for qid in [*warm, *stream]:
        terms = qmap.get(qid, [])
        measured = qid in stream
        (plan, rows), dt, sp = run.timed(
            "interactive.query", lambda: query(qid, terms), qid, jobs=measured,
        )
        checks.append(({qid: texts[qid]}, rows))
        if measured:
            ms[qid], plan_of[qid] = dt * 1e3, plan
            if sp is not None and plan == "sharded":
                sharded_spans.add(sp["id"])

    run.samples("interactive_ms", [ms[q] for q in stream])
    local = [ms[q] for q in stream if plan_of[q] == "local"]
    sharded = [ms[q] for q in stream if plan_of[q] == "sharded"]
    run.record["plans"] = {"local": len(local), "sharded": len(sharded)}
    if tr.enabled:
        scan = ScanModel(s.comp)
        terms = [qmap.get(q, []) for q in stream if plan_of[q] == "local"]
        run.layer["local.query_ms"] = quantile(local, 50)
        if sharded:
            run.layer["sharded.single_query_ms"] = quantile(sharded, 50)
        run.layer["planner.share_local"] = len(local) / n
        run.layer["planner.share_sharded"] = len(sharded) / n
        run.layer["scan.row_groups_read_per_query"] = statistics.mean(
            scan.row_groups(t) for t in terms)
        run.layer["scan.row_groups_total"] = len(scan.ranges)
        run.layer["scan.chunk_rows_per_query"] = statistics.mean(
            scan.chunk_rows(t) for t in terms)
        job_medians(run, "interactive.query", "spark.sharded", only=sharded_spans)
    return checks, [ms[q] for q in stream]


def serve(run: Run) -> None:
    parts = {"base": BASE_DOCS}
    if run.tracer.enabled:
        parts.update({f"delta{d}": DELTA_DOCS for d in range(1, PROBE_DELTAS + 1)})
    files = write_corpus(run.seed, parts, run.work)
    path = f"{run.work}/index"
    build(run, files["base"], path)
    s = open_for_serving(run, path)
    checks = batch_phase(run, s)
    more, ms = interactive_phase(run, s, INTERACTIVE_PER_SECOND * run.seconds)
    checks += more
    run.e2e["op_p50_ms"] = quantile(ms, 50)
    run.e2e["slow_op_ms"] = quantile(ms, 95)

    lay = comp_layout(run.spark, path)
    run.record["layout"]["served"] = lay
    run.e2e["index_bytes_per_posting"] = lay["comp_bytes"] / lay["postings"]
    if run.tracer.enabled:
        for key, v in lay.items():
            run.layer[f"index.{key}"] = v
    everything = {q: text for qs, _ in checks for q, text in qs.items()}
    [want] = run.untimed("naive check", lambda: naive_topk(run.spark, path, everything))
    for qs, rows in checks:
        run.op(all_match(by_qid(rows), want, qs))

    if run.tracer.enabled:
        merges = [merge_delta(run, path, files[f"delta{d}"], f"probe{d}")[1]
                  for d in range(1, PROBE_DELTAS + 1)]
        write_layers(run, merges, [compact(run, path, "probe")[1]])


WORKLOADS = {"ingest": ingest, "serve": serve}
