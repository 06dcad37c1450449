"""Layer probes on the Spark driver: the pure-Python layers called directly on
seeded samples, so their numbers carry no Spark scheduling cost."""

from __future__ import annotations

import time

import numpy as np

from cs_search_engine_architecture_spark.functions.tokenizer import tokenize
from cs_search_engine_architecture_spark.operators import compression as C
from cs_search_engine_architecture_spark.plans.query_parser import parse_query

PROBE_S = 0.5  # minimum wall per probe


def _rate(fn) -> tuple[int, float]:
    """Call ``fn`` until PROBE_S has passed; returns (calls, seconds)."""
    fn()  # warm caches (stemmer lru, numpy dispatch)
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= PROBE_S:
            return n, dt


def tokenize_tokens_per_s(docs: list[tuple[int, str, str]], seed: int) -> float:
    rng = np.random.default_rng([seed, 7])
    sample = [docs[i] for i in rng.choice(len(docs), size=min(300, len(docs)), replace=False)]
    ntok = sum(len(tokenize(p)[0]) + len(tokenize(c)[0]) for _, p, c in sample)

    def run():
        for _, path, content in sample:
            tokenize(path)
            tokenize(content)

    n, dt = _rate(run)
    return n * ntok / dt


def parse_us(queries: list[str]) -> float:
    def run():
        for q in queries:
            parse_query(q)

    n, dt = _rate(run)
    return dt / (n * len(queries)) * 1e6


def compile_ms(engine, queries: list[str]) -> float:
    """``QueryCompiler.compile``: builds the frame without running it."""
    asts = [parse_query(q) for q in queries]

    def run():
        for ast in asts:
            engine.compiler.compile(ast)

    n, dt = _rate(run)
    return dt / (n * len(asts)) * 1e3


def compression_mb_per_s(seed: int) -> dict[str, float]:
    """Seeded postings arrays: 64 lists of ascending doc ids with
    geometric gaps, and per-posting position lists."""
    rng = np.random.default_rng([seed, 8])
    lists = [
        np.cumsum(rng.geometric(1 / 40, size=4096)).astype(np.uint64)
        for _ in range(64)
    ]
    deltas = [C.delta_encode(x) for x in lists]
    encoded = [C.varint_encode(d) for d in deltas]
    counts = rng.integers(1, 8, size=1 << 16)
    positions = np.concatenate(
        [np.cumsum(rng.integers(1, 200, size=c)) for c in counts]
    ).astype(np.uint64)
    raw_mb = sum(x.nbytes for x in lists) / 1e6

    n, dt = _rate(lambda: [C.varint_encode(C.delta_encode(x)) for x in lists])
    enc = n * raw_mb / dt
    n, dt = _rate(lambda: [C.varint_decode(b) for b in encoded])
    dec = n * raw_mb / dt
    n, dt = _rate(lambda: C.grouped_delta_encode(positions, counts))
    grp = n * positions.nbytes / 1e6 / dt
    return {
        "compression.varint_encode_mb_per_s": enc,
        "compression.varint_decode_mb_per_s": dec,
        "compression.grouped_delta_encode_mb_per_s": grp,
    }
