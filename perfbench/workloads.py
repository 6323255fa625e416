"""The benchmark workloads, driven only through the engine's public calls.

Each workload has a set-up (timed into setup_s), then its timed
operations (batch: exactly one; search: a closed loop for the run's
seconds), then an untimed check of every operation's output against an
exact reference computed before the run.
With tracing on, spans around each public call and Spark's own scheduler
counters give the per-layer metrics in LAYERS.
"""

from __future__ import annotations

import contextlib
import http.client
import json
import math
import multiprocessing
import os
import sys
import time
from dataclasses import dataclass, field
from urllib.parse import urlencode

import numpy as np
import pandas as pd

import reference
from accounting import Sample, closed_loop, latency_summary
from inputs import Inputs
from tracing import self_times

K = 20                # hits per /search page (the reference API's default)
CORES = 4             # local[4]: the shape every number here was sized on
CLIENTS = 4           # search_concurrent's closed-loop clients (= nproc)
SCORE_TOL = 1e-9

# every per-layer metric a traced run reports; a layer a workload does not
# exercise reports 0
LAYERS = (
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.executor_cpu_ms_per_op", "spark.shuffle_write_bytes_per_op",
    "spark.gc_ms_per_op", "spark.python_workers_peak",
    "analyzer.tokens_per_s",
    "build.tokens_ms", "build.doc_map_ms", "build.segments_ms",
    "build.terms_ms", "build.postings", "build.segment_bytes",
    "build.index_bytes_per_text_byte",
    "merge.extend_ms",
    "codec.encode_postings_per_s", "codec.decode_postings_per_s",
    "reader.load_ms", "reader.term_stats_ms", "reader.topk_plan_ms",
    "reader.topk_job_ms", "reader.hydrate_ms",
    "wand.kernel_ms",
    "serve.service_ms", "serve.queue_wait_ms", "serve.http_overhead_ms",
    "naive.corpus_build_ms", "naive.score_ms",
    "dedup.exact_ms", "dedup.minhash_lsh_ms", "dedup.simhash_pairs_ms",
    "dedup.ngram_jaccard_ms", "dedup.minhash_lsh_rows",
    "dedup.simhash_pairs_rows", "dedup.ngram_jaccard_rows",
)


@dataclass
class Context:
    spark: object
    inputs: Inputs
    want: dict            # expected outputs, from `expected`
    work_dir: str
    seconds: float
    tracer: object
    rss: object           # RssSampler; stopped when the timed window ends
    setup_s: float = 0.0

    def __post_init__(self):
        self.counters = SparkCounters(self.spark, self.tracer.enabled)


@dataclass
class Outcome:
    samples: list[Sample]
    window_s: float
    failed: int
    # end-to-end numbers named after what the user sees on this workload
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter():10.2f}] {msg}", file=sys.stderr, flush=True)


# -- Spark session ----------------------------------------------------------

def start_session(work_dir: str):
    from wise_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        master=f"local[{CORES}]", app_name="perfbench", shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class SparkCounters:
    """Scheduler counters per operation, read from Spark's status store for
    the job group each traced operation runs under."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled

    @contextlib.contextmanager
    def group(self, name: str):
        if self.enabled:
            self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, name: str) -> list[dict]:
        """The group's jobs: epoch start/end in s and executed stages."""
        def ms(opt):
            return opt.get().getTime() if opt.isDefined() else None

        store = self.sc._jsc.sc().statusStore()
        out = []
        for j in sorted(self.sc.statusTracker().getJobIdsForGroup(name)):
            jd = store.job(j)
            stages = []
            it = jd.stageIds().iterator()
            while it.hasNext():
                sd = store.lastStageAttempt(it.next())
                if str(sd.status()) == "SKIPPED":
                    continue
                submit, first = ms(sd.submissionTime()), ms(sd.firstTaskLaunchedTime())
                stages.append({
                    "tasks": sd.numTasks(),
                    "cpu_ms": sd.executorCpuTime() / 1e6,
                    "gc_ms": sd.jvmGcTime(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "queue_wait_ms": (first - submit) if submit and first else 0,
                })
            out.append({"start": ms(jd.submissionTime()) / 1000.0,
                        "end": ms(jd.completionTime()) / 1000.0,
                        "stages": stages})
        return out


def _counter_layers(per_op_jobs: list[list[dict]]) -> dict[str, float]:
    n = max(1, len(per_op_jobs))
    stages = [s for jobs in per_op_jobs for j in jobs for s in j["stages"]]
    return {
        "spark.jobs_per_op": sum(len(j) for j in per_op_jobs) / n,
        "spark.stages_per_op": len(stages) / n,
        "spark.tasks_per_op": sum(s["tasks"] for s in stages) / n,
        "spark.executor_cpu_ms_per_op": sum(s["cpu_ms"] for s in stages) / n,
        "spark.shuffle_write_bytes_per_op":
            sum(s["shuffle_write_bytes"] for s in stages) / n,
        "spark.gc_ms_per_op": sum(s["gc_ms"] for s in stages) / n,
    }


def _attach_jobs(tracer, request: int, jobs: list[dict]) -> None:
    """Record each Spark job as a span under the innermost span of the
    request that was open when the job was submitted."""
    mine = [s for s in tracer.spans if s["request"] == request]
    for job in jobs:
        start = job["start"] - tracer.epoch_offset
        end = job["end"] - tracer.epoch_offset
        open_at = [s for s in mine if s["start"] <= start <= s["end"]]
        parent = max(open_at, key=lambda s: s["start"]) if open_at else None
        tracer.record("spark.job", start, end,
                      parent=parent["id"] if parent else None, request=request,
                      queue_wait_ms=sum(s["queue_wait_ms"] for s in job["stages"]))


def _mean_span_ms(spans: list[dict], name: str, per: int | None = None) -> float:
    """Total duration of the named spans in ms, divided by `per` (default:
    their count)."""
    d = [s["end"] - s["start"] for s in spans if s["name"] == name]
    return 1000.0 * sum(d) / (per or len(d) or 1)


# -- correctness ------------------------------------------------------------

def _expected_topk(oracle, queries) -> dict[str, list[tuple[int, float]]]:
    return {q: [(int(d), float(s)) for d, s in
                oracle.topk(q, K, mode="any").itertuples(index=False)]
            for q in queries}


def _topk_reference(corpora: list[str], queries: list[str]) -> dict:
    from wise_spark.oracle.bm25_pandas import PandasBM25Oracle

    frame = pd.concat([pd.read_parquet(p) for p in corpora], ignore_index=True)
    return _expected_topk(PandasBM25Oracle(frame), queries)


def _planted_reference(path: str, kind: str, queries: list[str]):
    from wise_spark.oracle.bm25_pandas import PandasBM25Oracle

    planted = pd.read_parquet(path)
    if kind == "scores":
        oracle = PandasBM25Oracle(planted)
        return {(qi, int(d)): float(s) for qi, q in enumerate(queries)
                for d, s in oracle.score_all(q, mode="any").itertuples(index=False)}
    pairs = getattr(reference, f"{kind}_pairs")
    return pairs(planted["doc_id"].tolist(), planted["text"].tolist())


def expected(workload: str, inp: Inputs) -> dict:
    """Every output the workload's operations must produce, from
    `PandasBM25Oracle` and the all-pairs references, computed in forked
    processes. Runs before the Spark session starts (so no thread exists
    and forking is safe), in a child process, so its frames stay out of
    the measured memory."""
    if workload == "search_concurrent":
        return {"topk": _topk_reference([inp.corpus], inp.queries)}
    jobs = {
        "probes_built": (_topk_reference, [inp.corpus], inp.probes),
        "probes_extended": (_topk_reference, [inp.corpus, inp.delta], inp.probes),
        **{kind: (_planted_reference, inp.planted, kind, inp.queries)
           for kind in ("minhash", "simhash", "ngram_jaccard", "scores")},
    }
    pool = multiprocessing.get_context("fork").Pool(CORES)
    try:
        results = pool.starmap(_call, jobs.values())
    finally:
        pool.close()
        pool.join()
    want = dict(zip(jobs, results))
    want["exact"] = {(a, 2) for a, _ in inp.exact_groups}
    return want


def _call(fn, *args):
    return fn(*args)


def _hits_match(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return ([d for d, _ in got] == [d for d, _ in want]
            and all(abs(a - b) <= SCORE_TOL for (_, a), (_, b) in zip(got, want)))


def _dir_parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


# -- in-process layer probes (traced runs only) -------------------------------

def _analyzer_tokens_per_s(texts) -> float:
    from wise_spark.analyzer import tokenize_text

    t0 = time.perf_counter()
    n = sum(len(tokenize_text(t)) for t in texts)
    return n / (time.perf_counter() - t0)


def _segment_rows(index_dir: str, terms: list[str] | None = None) -> pd.DataFrame:
    import pyarrow.dataset as ds

    seg = ds.dataset(os.path.join(index_dir, "segments"), format="parquet",
                     partitioning="hive")
    flt = ds.field("term").isin(terms) if terms is not None else None
    cols = ["term", "shard", "n", "docids", "tfs", "doclens", "blk_last",
            "blk_max", "max_tfc"]
    return seg.to_table(filter=flt, columns=cols).to_pandas()


def _codec_rates(index_dir: str, avgdl: float) -> dict[str, float]:
    """Decode every posting list of the index, then re-encode them all."""
    from wise_spark.index import decode_postings, encode_postings_many

    rows = _segment_rows(index_dir).to_dict("records")
    t0 = time.perf_counter()
    decoded = [decode_postings(r) for r in rows]
    dec_s = time.perf_counter() - t0
    lens = np.array([d[0].size for d in decoded], dtype=np.int64)
    ends = np.cumsum(lens)
    ids, tfs, dls = (np.concatenate([d[i] for d in decoded]) for i in range(3))
    t0 = time.perf_counter()
    encode_postings_many(ids, tfs, dls, ends - lens, ends, avgdl)
    enc_s = time.perf_counter() - t0
    return {"codec.decode_postings_per_s": ids.size / dec_s,
            "codec.encode_postings_per_s": ids.size / enc_s}


def _wand_kernel_ms(index, queries) -> tuple[float, float]:
    """Mean ms per query of score_shard_wand over the query's segment rows,
    and the postings/s of decoding those rows, both in-process."""
    from wise_spark.index import decode_postings
    from wise_spark.index.reader import FtsIndex
    from wise_spark.index.wand import score_shard_wand
    from wise_spark.query.bm25 import idf_scalar

    kernel_s = decode_s = 0.0
    postings = 0
    for q in queries:
        terms = index.query_terms(q)
        dfs = FtsIndex.term_stats(index, terms)
        idfs = {t: idf_scalar(dfs[t], index.meta.n_docs) for t in terms if t in dfs}
        if not idfs:
            continue
        rows = _segment_rows(index.index_dir, list(idfs))
        t0 = time.perf_counter()
        for _, g in rows.groupby("shard", sort=False):
            score_shard_wand(g, idfs, index.meta.avgdl, len(terms), "any", K)
        kernel_s += time.perf_counter() - t0
        records = rows.to_dict("records")
        t0 = time.perf_counter()
        for r in records:
            decode_postings(r)
        decode_s += time.perf_counter() - t0
        postings += int(rows["n"].sum())
    return 1000.0 * kernel_s / len(queries), postings / decode_s if decode_s else 0.0


def _lineage_ms(index_dir: str) -> dict[str, float]:
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(index_dir, "lineage")).to_table().to_pandas()
    seg = t[t["stage"] == "segments"]
    out = {f"build.{st}_ms": float(t.loc[t["stage"] == st, "wall_ms"].sum())
           for st in ("tokens", "doc_map", "segments", "terms")}
    out["build.postings"] = float(seg["rows"].sum())
    out["build.segment_bytes"] = float(seg["bytes"].sum())
    return out


# -- workloads --------------------------------------------------------------

DEDUP_SPANS = (("exact", "dedup.exact"), ("minhash", "dedup.minhash_lsh"),
               ("simhash", "dedup.simhash_pairs"), ("ngram", "dedup.ngram_jaccard"))


def _batch_op(ctx: Context, tag) -> dict:
    """build_index, extend_index, the dedup operators and the naive scorer,
    each over the run's input files."""
    from wise_spark.index import build_index, extend_index
    from wise_spark.pipeline.dedup import (
        exact_duplicates, minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs)
    from wise_spark.query.naive import TokenizedCorpus, score_queries

    spark, inp, tr = ctx.spark, ctx.inputs, ctx.tracer
    out = {"built": os.path.join(ctx.work_dir, f"index-{tag}"),
           "extended": os.path.join(ctx.work_dir, f"extended-{tag}")}
    dedup = {"exact": exact_duplicates, "minhash": minhash_lsh_pairs,
             "simhash": simhash_pairs,
             "ngram": lambda d: ngram_jaccard_pairs(d, max_shingle_df=None)}
    with ctx.counters.group(f"op-{tag}"), tr.span("op", request=tag):
        t0 = time.perf_counter()
        with tr.span("index.build"):
            meta = build_index(spark.read.parquet(inp.corpus), out["built"],
                               url_col="url")
        t1 = time.perf_counter()
        with tr.span("index.merge.extend"):
            extend_index(spark, out["built"], spark.read.parquet(inp.delta),
                         out["extended"], url_col="url")
        t2 = time.perf_counter()
        docs = spark.read.parquet(inp.planted)
        for key, span in DEDUP_SPANS:
            with tr.span(span):
                out[key] = dedup[key](docs).collect()
        with tr.span("naive.corpus_build"):
            corpus = TokenizedCorpus.build(docs, cache=True)
        with tr.span("naive.score"):
            out["scores"] = score_queries(
                corpus, list(enumerate(inp.queries)), mode="any").collect()
        corpus.unpersist()
        t3 = time.perf_counter()
    out.update(avgdl=meta.avgdl, build_s=t1 - t0, extend_s=t2 - t1, corpus_ops_s=t3 - t2)
    return out


def batch(ctx: Context) -> Outcome:
    """The batch jobs as one operation in a fresh session, as a batch run
    pays them: build_index, extend_index with a delta, the dedup operators
    and the naive scorer. Exactly one operation is timed, however long it
    takes: a second one would run on a warm JVM and measure something else."""
    from wise_spark.index import FtsIndex

    spark, inp, tr, want = ctx.spark, ctx.inputs, ctx.tracer, ctx.want
    log("batch: op")
    samples, window = closed_loop(1, lambda _c, i: _batch_op(ctx, i), math.inf, max_ops=1)
    ctx.rss.stop()
    log("batch: check")

    def probes_ok(index_dir: str, expect: dict) -> bool:
        index = FtsIndex.load(spark, index_dir)
        return all(
            _hits_match([(r["doc_id"], r["score"]) for r in
                         index.topk(q, k=K, mode="any").collect()], w)
            for q, w in expect.items())

    def correct(got: dict) -> bool:
        scores = {(r["query_id"], r["doc_id"]): r["score"] for r in got["scores"]}
        ngram = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in got["ngram"]}
        return (
            probes_ok(got["built"], want["probes_built"])
            and probes_ok(got["extended"], want["probes_extended"])
            and {(r["keeper_doc_id"], r["n_docs"]) for r in got["exact"]} == want["exact"]
            and {(r["doc_a"], r["doc_b"]) for r in got["minhash"]} == want["minhash"]
            and {(r["doc_a"], r["doc_b"], r["hamming"]) for r in got["simhash"]}
            == want["simhash"]
            and ngram.keys() == want["ngram_jaccard"].keys()
            and all(abs(ngram[p] - j) <= 1e-6 for p, j in want["ngram_jaccard"].items())
            and scores.keys() == want["scores"].keys()
            and all(abs(scores[p] - s) <= SCORE_TOL for p, s in want["scores"].items())
        )

    (op,) = samples
    out = Outcome(samples, window, int(op.error or not correct(op.result)))
    if op.error:
        return out
    r = op.result
    size_ratio = _dir_parquet_bytes(r["built"]) / inp.corpus_bytes
    out.named = {
        "build_docs_per_s": (inp.n_docs / r["build_s"], "docs/s"),
        "update_s": (r["extend_s"], "s"),
        "index_bytes_per_text_byte": (size_ratio, "ratio"),
        "corpus_ops_s": (r["corpus_ops_s"], "s"),
    }
    if tr.enabled:
        out.layers["build.index_bytes_per_text_byte"] = size_ratio
        out.layers.update(_lineage_ms(r["built"]))
        out.layers["merge.extend_ms"] = _mean_span_ms(tr.spans, "index.merge.extend")
        out.layers["analyzer.tokens_per_s"] = _analyzer_tokens_per_s(
            pd.read_parquet(inp.corpus, columns=["text"])["text"])
        out.layers.update(_codec_rates(r["built"], r["avgdl"]))
        for _, span in DEDUP_SPANS + (("", "naive.corpus_build"), ("", "naive.score")):
            out.layers[f"{span}_ms"] = _mean_span_ms(tr.spans, span)
        for key, span in DEDUP_SPANS[1:]:
            out.layers[f"{span}_rows"] = float(len(r[key]))
        jobs = ctx.counters.jobs(f"op-{op.seq}")
        out.layers.update(_counter_layers([jobs]))
        _attach_jobs(tr, op.seq, jobs)
    return out


def search_concurrent(ctx: Context) -> Outcome:
    """CLIENTS closed-loop HTTP /search clients over a cached index; their
    requests queue for the one Spark scheduler and JVM."""
    from wise_spark.index import FtsIndex, build_index
    from wise_spark.serve import SearchServer, spark_search_fn

    spark, inp, tr = ctx.spark, ctx.inputs, ctx.tracer
    want = ctx.want["topk"]

    # set-up: build the index and load it pinned (the serving cache
    # materializes on the warm-up pass's first request)
    log("search: build_index")
    t_setup = time.perf_counter()
    index_dir = os.path.join(ctx.work_dir, "index")
    build_index(spark.read.parquet(inp.corpus), index_dir, url_col="url")
    t0 = time.perf_counter()
    index = FtsIndex.load(spark, index_dir, cache=True)
    load_ms = 1000.0 * (time.perf_counter() - t0)
    search_fn = spark_search_fn(index)

    served: list[dict] = []
    if tr.enabled:
        # spans around the index calls spark_search_fn makes; instance
        # attributes shadow the methods, so topk's own term_stats call is
        # traced too
        for method, layer in (("term_stats", "reader.term_stats"),
                              ("topk", "reader.topk_plan"),
                              ("hydrate", "reader.hydrate")):
            setattr(index, method, tr.wrap(layer, getattr(index, method)))
        inner, n_served = search_fn, [0]

        def search_fn(q: str, start: int, end: int) -> list[dict]:
            n_served[0] += 1
            group = f"req-{n_served[0]}"
            with ctx.counters.group(group), tr.span("serve.service", q=q,
                                                    group=group) as rec:
                served.append(rec)
                return inner(q, start, end)

    server = SearchServer(search_fn)
    port = server.start()
    conns = [http.client.HTTPConnection("127.0.0.1", port, timeout=120)
             for _ in range(CLIENTS)]

    def get(c: int, q: str) -> list[tuple[int, float]]:
        conns[c].request("GET", "/search?" + urlencode({"q": q, "start": 0, "end": K}))
        resp = conns[c].getresponse()
        body = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status} for {q!r}")
        hits = sorted(json.loads(body)["results"][q], key=lambda h: h["rank"])
        return [(h["doc_id"], h["score"]) for h in hits]

    try:
        # warm-up: one full pass of the pool by all clients at once, the
        # load shape of the window
        log("search: warm-up pass")
        closed_loop(CLIENTS, lambda c, i: get(c, inp.queries[i]), math.inf,
                    max_ops=len(inp.queries))
        ctx.setup_s += time.perf_counter() - t_setup
        served.clear()
        tr.spans.clear()
        log("search: window")

        def op(c: int, i: int):
            q = inp.queries[inp.stream[i % len(inp.stream)]]
            with tr.span("client.request", request=i, q=q):
                return q, get(c, q)

        samples, window = closed_loop(CLIENTS, op, ctx.seconds)
        ctx.rss.stop()
    finally:
        for conn in conns:
            conn.close()
        server.stop()
    log("search: check")
    failed = sum(s.error or not _hits_match(s.result[1], want[s.result[0]])
                 for s in samples)
    out = Outcome(samples, window, failed)
    lat = latency_summary([s.seconds for s in samples])
    out.named = {
        "search_p50_ms": (lat["p50_ms"], "ms"),
        "search_p90_ms": (lat["p90_ms"], "ms"),
        "search_qps": (len(samples) / window, "1/s"),
        "index_bytes_per_text_byte": (_dir_parquet_bytes(index_dir) / inp.corpus_bytes, "ratio"),
    }
    if tr.enabled:
        out.layers.update(_search_layers(ctx, index, served, len(samples), load_ms))
    return out


def _search_layers(ctx, index, served: list[dict], n: int, load_ms: float) -> dict:
    """Per-request layer split of a traced search run."""
    tr = ctx.tracer
    clients = [s for s in tr.spans if s["name"] == "client.request"]
    # link each server-side span to the client request that contains it
    free = sorted(clients, key=lambda s: s["start"])
    overhead, linked = [], []
    for srv in sorted(served, key=lambda s: s["start"]):
        match = next((c for c in free if c["q"] == srv["q"] and
                      c["start"] <= srv["start"] and srv["end"] <= c["end"]), None)
        if match is None:
            continue
        free.remove(match)
        srv["parent"], srv["request"] = match["id"], match["request"]
        overhead.append(match["end"] - match["start"] - (srv["end"] - srv["start"]))
        linked.append((srv, ctx.counters.jobs(srv["group"])))
    by_id = {s["id"]: s for s in tr.spans}
    for s in tr.spans:   # server-side children inherit the linked request
        if s["request"] is None and s["parent"] in by_id:
            chain = s
            while chain["request"] is None and chain["parent"] in by_id:
                chain = by_id[chain["parent"]]
            s["request"] = chain["request"]
    for srv, jobs in linked:
        _attach_jobs(tr, srv["request"], jobs)
    selfs = self_times(tr.spans)
    by_id = {s["id"]: s for s in tr.spans}
    jobs = [s for s in tr.spans if s["name"] == "spark.job"]
    under = lambda name: [j for j in jobs if by_id.get(j["parent"], {}).get("name") == name]
    hydrate_self = sum(selfs[s["id"]] for s in tr.spans if s["name"] == "reader.hydrate")
    layers = {
        "reader.load_ms": load_ms,
        "reader.term_stats_ms": _mean_span_ms(tr.spans, "reader.term_stats", n),
        "reader.topk_plan_ms": 1000.0 * sum(
            selfs[s["id"]] for s in tr.spans if s["name"] == "reader.topk_plan") / n,
        "reader.topk_job_ms": _mean_span_ms(under("reader.hydrate"), "spark.job", n),
        "reader.hydrate_ms": 1000.0 * (hydrate_self + sum(
            j["end"] - j["start"] for j in under("serve.service"))) / n,
        "serve.service_ms": _mean_span_ms(served, "serve.service"),
        "serve.queue_wait_ms": sum(j["queue_wait_ms"] for j in jobs) / n,
        "serve.http_overhead_ms": 1000.0 * float(np.mean(overhead)),
    }
    layers.update(_counter_layers([jobs for _, jobs in linked]))
    kernel_ms, decode_rate = _wand_kernel_ms(index, ctx.inputs.queries)
    layers["wand.kernel_ms"] = kernel_ms
    layers["codec.decode_postings_per_s"] = decode_rate
    return layers


WORKLOADS = {
    "batch": batch,
    "search_concurrent": search_concurrent,
}
