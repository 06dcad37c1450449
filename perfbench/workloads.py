"""The benchmark's workloads: ``build`` and ``serve``.

Each workload sets up, runs a closed loop from one client thread (the
next request is sent when the previous one has returned) until
``seconds`` have passed, then checks every timed result. It returns the
end-to-end metrics, and in a traced run the per-layer metrics too.
"""

from __future__ import annotations

import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators.fsck import fsck_index
from cs_search_engine_architecture_spark.operators.indexer import build_index
from cs_search_engine_architecture_spark.sources.corpus import synth_source_files

import probes
from querygen import CYCLE, MSEARCH_BATCH, QueryGen

FIELDS = ["path", "content"]
ANALYZER = "reference"
TOP_K = 10
BUILD_DOCS = 20_000     # build workload corpus
PROBE_DOCS = 300        # docs the build workload's tokenizer probe reads
SERVE_DOCS = 17_000     # serve index: above the engine's 1M-posting WAND gate
WAND_GATE_POSTINGS = 1_000_000
SCORE_TOL = 1e-4
BASE_ROUTES = ("single_term_blockmax", "wand_or_sharded", "wand_and_sharded", "join")
PHASES = ("tokenize_stage", "global_stats", "term_stats_write",
          "score_encode_write", "doc_lens_write")
INDEX_PARTS = ("blocks", "term_stats", "doc_lens", "meta.json", "manifest.json")


class Ctx:
    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, cores: int):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.timed_overhead_s = 0.0
        self.errors: list[str] = []

    def fail(self, msg: str, ops: int = 1) -> None:
        self.failed += ops
        self.errors.append(msg)


def _bytes_under(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _index_bytes(path: str) -> int:
    """On-disk bytes of the served index, without the ``work/`` staging."""
    return sum(_bytes_under(os.path.join(path, p)) for p in INDEX_PARTS
               if os.path.exists(os.path.join(path, p)))


def _closed_loop(ctx: Ctx, op) -> list[float]:
    """Call ``op(i)`` until ``seconds`` have passed; the next call starts
    only if it is expected to end inside the window (at least one call).
    Returns the wall of each call."""
    walls: list[float] = []
    overhead0 = ctx.tr.overhead_s
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        op(len(walls))
        walls.append(time.perf_counter() - t)
        if time.perf_counter() - t0 + walls[-1] > ctx.seconds:
            ctx.timed_overhead_s = ctx.tr.overhead_s - overhead0
            return walls


def _gen_corpus(ctx: Ctx, n: int):
    corpus = synth_source_files(ctx.spark, n, seed=ctx.seed).persist()
    corpus.count()
    return corpus


def _build(ctx: Ctx, corpus, out: str, n: int) -> dict:
    return build_index(ctx.spark, corpus, out, fields=FIELDS, analyzer=ANALYZER,
                       corpus_path=f"synthetic:{n}:seed={ctx.seed}")


def _collect_docs(corpus, where: str | None = None) -> list[tuple[int, str, str]]:
    df = corpus.where(where) if where else corpus
    pdf = df.select("doc_id", "path", "content").orderBy("doc_id").toPandas()
    return [(int(d), p, c) for d, p, c in pdf.itertuples(index=False, name=None)]


# ------------------------------------------------------------- build


def run_build(ctx: Ctx) -> dict:
    tr = ctx.tr
    # no warm build: a build wall hardly depends on the corpus size, so a
    # warm build would cost about as much as the timed one. The timed
    # build is the first in its session, as in jobs/build_index.py.
    with tr.span("setup") as setup:
        with tr.span("setup.corpus"):
            corpus = _gen_corpus(ctx, BUILD_DOCS)

    metas: list[dict] = []
    out = os.path.join(ctx.work, "idx")

    def one_build(i: int) -> None:
        shutil.rmtree(out, ignore_errors=True)
        with tr.span("build.index", request=i):
            metas.append(_build(ctx, corpus, out, BUILD_DOCS))

    _closed_loop(ctx, one_build)
    walls = [s.wall for s in tr.named("build.index")]
    ctx.attempted = len(walls)

    # correctness: every build indexed every doc, and all builds agree
    if len({m["num_postings"] for m in metas}) != 1:
        ctx.fail(f"num_postings differs across builds: {[m['num_postings'] for m in metas]}")
    for m in metas:
        if m["num_documents"] != BUILD_DOCS:
            ctx.fail(f"num_documents {m['num_documents']} != {BUILD_DOCS}")
    with tr.span("verify"):
        report = fsck_index(ctx.spark, out)
    if not report["ok"]:
        bad = [c for c in report["checks"] if c["status"] == "fail"]
        ctx.fail(f"fsck failed on the built index: {bad}")

    postings = sum(m["num_postings"] for m in metas)
    e2e = {
        "setup_s": setup.wall,
        "op_gmean_s": _gmean(walls),
        "work_per_s": postings / sum(walls),
        "index_bytes_per_posting": _index_bytes(out) / metas[-1]["num_postings"],
    }
    layer = None
    if tr.enabled:
        docs = _collect_docs(corpus, f"doc_id < {PROBE_DOCS}")
        corpus.unpersist()
        layer = _layers(ctx, tr.named("build.index")[-1], metas[-1], out, docs,
                        walls, eng=None)
    return {"e2e": e2e, "layer": layer}


# ------------------------------------------------------------- serve


def _scored(rows) -> list[tuple[int, float]]:
    """(doc_id, score) in the order the rows came, scores cast to the
    float32 the engine stores them in."""
    return [(r["doc_id"], float(np.float32(r["score"]))) for r in rows]


def _ranked(rows) -> list[tuple[int, float]]:
    """msearch rows of one query: the engine does not order them per
    query, so they are ranked by (-score, doc_id) first."""
    return sorted(_scored(rows), key=lambda t: (-t[1], t[0]))


class OracleProcess:
    """``OracleIndex`` over the served corpus in its own process
    (``oracle_worker.py``): it is built, and answers the first cycle's
    queries, during the warm-up, and it is idle (blocked on its pipe)
    while the timed loop runs."""

    def __init__(self, docs):
        worker = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_worker.py")
        self._proc = subprocess.Popen([sys.executable, worker],
                                      stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        try:
            self._send((docs, ANALYZER, TOP_K))
        except BaseException:
            self.close()
            raise

    def _send(self, obj) -> None:
        pickle.dump(obj, self._proc.stdin)
        self._proc.stdin.flush()

    def request(self, queries: list[str]) -> None:
        self._send(queries)

    def answers(self) -> list[list[tuple[int, float]]]:
        return pickle.load(self._proc.stdout)

    def close(self) -> None:
        try:
            self._send(None)
            self._proc.stdin.close()
        except OSError:
            pass  # the worker already exited
        try:
            self._proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()


def _same(got, want) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(gs - ws) <= SCORE_TOL for (_, gs), (_, ws) in zip(got, want)
    )


def _cycle_queries(cycle) -> list[str]:
    singles, batch = cycle
    return [q for _, q in singles] + list(batch.values())


def run_serve(ctx: Ctx) -> dict:
    tr = ctx.tr
    path = os.path.join(ctx.work, "serve_idx")
    with tr.span("setup.corpus"):
        corpus = _gen_corpus(ctx, SERVE_DOCS)
    # not set-up: the benchmark's own inputs (corpus rows, query stream)
    docs = _collect_docs(corpus)
    with tr.span("setup.build"):
        meta = _build(ctx, corpus, path, SERVE_DOCS)
    with tr.span("engine.open"):
        eng = SearchEngine(ctx.spark, path)
    setup_s = sum(tr.named(n)[0].wall for n in ("setup.corpus", "setup.build", "engine.open"))
    corpus.unpersist()
    if meta["num_postings"] < WAND_GATE_POSTINGS:
        raise RuntimeError(
            f"serve index has {meta['num_postings']} postings, under the "
            f"{WAND_GATE_POSTINGS} WAND gate: the routes would not be exercised"
        )
    gen = QueryGen(docs, ctx.seed, stream=1)
    cycles = [gen.cycle()]
    # the oracle builds and answers the first cycle while the warm-up
    # runs, after set-up and before the timed loop
    oracle = OracleProcess(docs)
    try:
        oracle.request(_cycle_queries(cycles[0]))
        # warm-up: one cycle from another stream, so every query shape has
        # run once (plan codegen, Python workers, block cache, the
        # pre-sharded WAND layout) before timing
        warm_singles, warm_batch = QueryGen(docs, ctx.seed, stream=2).cycle()
        with tr.span("warmup"):
            for _, q in warm_singles:
                eng.search(q, TOP_K).collect()
            eng.msearch(warm_batch, TOP_K).collect()
        with tr.span("oracle_wait"):
            want = oracle.answers()
        res = _serve_timed(ctx, eng, gen, cycles)
        with tr.span("verify"):
            extra = [q for c in cycles[1:] for q in _cycle_queries(c)]
            if extra:
                oracle.request(extra)
                want += oracle.answers()
            _verify_serve(ctx, res, want)
    finally:
        oracle.close()
    # routing coverage guard: every base route must have served a query
    routes = {route for _, _, route, _ in res["singles"]}
    missing = [r for r in BASE_ROUTES if r not in routes]
    if missing:
        ctx.errors.append(f"routing coverage: no query took {missing}")

    query_walls = res["query_walls"]
    e2e = {
        "setup_s": setup_s,
        "op_gmean_s": _gmean(query_walls),
        "work_per_s": ctx.attempted / sum(res["cycle_walls"]),
        "index_bytes_per_posting": _index_bytes(path) / meta["num_postings"],
    }
    layer = None
    if tr.enabled:
        layer = _layers(ctx, tr.named("setup.build")[0], meta, path, docs,
                        query_walls, eng=eng,
                        queries=[q for _, q, _, _ in res["singles"]])
    return {"e2e": e2e, "layer": layer, "coverage_ok": not missing}


def _serve_timed(ctx: Ctx, eng, gen: QueryGen, cycles: list) -> dict:
    """The closed loop: each cycle sends its single queries one by one,
    then its msearch batch. ``cycles`` holds the pre-generated first
    cycle and receives the later ones."""
    tr = ctx.tr
    singles: list[tuple[str, str, str | None, list]] = []  # class, q, route, rows
    batches: list[tuple[dict, list]] = []
    query_walls: list[float] = []

    def one_query(rid: int, cls: str, q: str) -> None:
        rows, route = None, None
        with tr.span("serve.query", request=rid) as sp:
            try:
                with tr.span("engine.plan"):
                    df = eng.search(q, TOP_K)
                route = eng.last_strategy
                with tr.span("engine.execute"):
                    rows = df.collect()
            except Exception as exc:  # a failed request counts, the loop goes on
                ctx.fail(f"query {q!r} raised {exc!r}")
        sp.attrs.update({"class": cls, "query": q, "route": route})
        query_walls.append(sp.wall)
        singles.append((cls, q, route, rows))

    def one_batch(rid: int, batch: dict) -> None:
        rows = None
        with tr.span("serve.msearch16", request=rid):
            try:
                with tr.span("msearch.plan"):
                    df = eng.msearch(batch, TOP_K)
                with tr.span("msearch.execute"):
                    rows = df.collect()
            except Exception as exc:
                ctx.fail(f"msearch raised {exc!r}", ops=len(batch))
        batches.append((batch, rows))

    def one_cycle(i: int) -> None:
        if i == len(cycles):
            cycles.append(gen.cycle())
        cyc_singles, batch = cycles[i]
        base = i * (len(CYCLE) + 1)
        for j, (cls, q) in enumerate(cyc_singles):
            one_query(base + j, cls, q)
        one_batch(base + len(CYCLE), batch)

    cycle_walls = _closed_loop(ctx, one_cycle)
    ctx.attempted = len(singles) + MSEARCH_BATCH * len(batches)
    return {"singles": singles, "batches": batches, "query_walls": query_walls,
            "cycle_walls": cycle_walls}


def _verify_serve(ctx: Ctx, res: dict, want: list) -> None:
    """Every timed top-k against the oracle over the same corpus: doc ids
    in order, scores within SCORE_TOL. ``want`` follows cycle order."""
    want = iter(want)
    singles = iter(res["singles"])
    for batch, rows in res["batches"]:
        for _ in range(len(CYCLE)):
            cls, q, route, got = next(singles)
            w = next(want)
            if got is not None and not _same(_scored(got), w):
                ctx.fail(f"{cls} query {q!r} ({route}) differs from the oracle")
        by_q: dict[str, list] = {qid: [] for qid in batch}
        for r in rows or []:
            by_q[r["query_id"]].append(r)
        for qid, q in batch.items():
            w = next(want)
            if rows is not None and not _same(_ranked(by_q[qid]), w):
                ctx.fail(f"msearch query {q!r} differs from the oracle")


# ------------------------------------------------------------ layers


def _gmean(xs) -> float:
    """Geometric mean: each request counts by its ratio, so a mix of fast
    and slow query classes does not make the figure jump between them."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _layers(ctx: Ctx, build_span, meta: dict, index_path: str, docs, op_walls,
            eng, queries=None) -> dict:
    """Per-layer metrics of a traced run."""
    tr = ctx.tr
    out: dict[str, float] = {}

    # indexer: phase walls from the build's meta, stage metrics from its span
    walls = meta["phase_walls"]
    for ph in PHASES:
        out[f"indexer.{ph}_s"] = walls.get(ph, 0.0)
    out["indexer.build_wall_s"] = meta["build_wall_sec"]
    # doc_lens_write overlaps score_encode_write, so the serial phases
    # alone should account for the build wall
    out["indexer.phase_gap_s"] = meta["build_wall_sec"] - sum(
        walls.get(ph, 0.0) for ph in PHASES if ph != "doc_lens_write")
    st = tr.spark_sum([build_span])
    for k in ("shuffle_records_written", "shuffle_write_bytes", "spill_bytes",
              "executor_run_s", "gc_s", "tasks"):
        out[f"indexer.{k}"] = st[k]
    out["indexer.core_utilization"] = st["executor_run_s"] / (build_span.wall * ctx.cores)
    out["indexer.staging_bytes"] = _bytes_under(os.path.join(index_path, "work"))

    # engine and msearch: spans of the timed requests
    qspans = tr.named("serve.query")
    out["engine.plan_s"] = _p50([s.wall for s in tr.named("engine.plan")])
    out["engine.execute_s"] = _p50([s.wall for s in tr.named("engine.execute")])
    out["engine.jobs_per_query"] = (
        tr.spark_sum(qspans)["jobs"] / len(qspans) if qspans else 0.0)
    for route in BASE_ROUTES:
        ws = [s.wall for s in qspans if s.attrs.get("route") == route]
        out[f"engine.strategy.{route}.count"] = len(ws)
        out[f"engine.strategy.{route}.p50_s"] = _p50(ws)
    bspans = tr.named("serve.msearch16")
    out["msearch.plan_s"] = _p50([s.wall for s in tr.named("msearch.plan")])
    out["msearch.execute_s"] = _p50([s.wall for s in tr.named("msearch.execute")])
    out["msearch.batch16_s"] = _p50([s.wall for s in bspans])
    out["msearch.jobs_per_batch"] = (
        tr.spark_sum(bspans)["jobs"] / len(bspans) if bspans else 0.0)

    # session: everything the timed requests ran on the executors
    timed = tr.named("build.index") or (qspans + bspans)
    st = tr.spark_sum(timed)
    for k in ("executor_run_s", "shuffle_read_bytes", "gc_s"):
        out[f"session.{k}"] = st[k] / len(timed)

    # probes of the pure-Python layers, run on the Spark driver
    if eng is None:
        with tr.span("engine.open"):
            eng = SearchEngine(ctx.spark, index_path)
    out["engine.open_s"] = tr.named("engine.open")[-1].wall
    if queries is None:
        g = QueryGen(docs, ctx.seed, stream=1)
        queries = [q for _, q in g.cycle()[0]]
    with tr.span("probe"):
        out["functions.tokenize_tokens_per_s"] = probes.tokenize_tokens_per_s(docs, ctx.seed)
        out["plans.parse_us"] = probes.parse_us(queries)
        out["plans.compile_ms"] = probes.compile_ms(eng, queries)
        out.update(probes.compression_mb_per_s(ctx.seed))
    out["engine.cached_bytes"] = sum(
        r.memSize() for r in ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo())

    out["trace.op_gmean_s"] = _gmean(op_walls)
    # the tracer's own cost inside the timed loop (job groups, status
    # store reads); traced minus untraced op_p50_s is the end-to-end view
    out["trace.overhead_s_per_op"] = ctx.timed_overhead_s / len(op_walls)
    return out


WORKLOADS = {"build": run_build, "serve": run_serve}
