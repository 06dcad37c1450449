"""Spark index build vs the pure-Python oracle: stats, df/idf, per-posting
BM25 scores, doc_id order, compression round-trip through the real parquet
index."""

import math

import pytest

from cs_search_engine_architecture_spark.operators import indexer
from cs_search_engine_architecture_spark.operators.decode import term_postings
from cs_search_engine_architecture_spark.oracle.reference import OracleIndex

DOCS = [
    (0, ["alpha beta", "alpha gamma delta phrase near here."]),
    (1, ["beta", "beta beta gamma."]),
    (2, ["", "delta epsilon zeta alpha."]),
    (3, ["gamma delta", "unrelated words entirely."]),
    (4, ["running tests", "the tokenizer runs utf8str 2024 20244 tests."]),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    corpus = spark.createDataFrame(
        [(d, f[0], f[1]) for d, f in DOCS], "doc_id long, title string, body string"
    )
    meta = indexer.build_index(
        spark,
        corpus,
        out,
        fields=["title", "body"],
        block_size=2,  # tiny blocks to exercise multi-block lists
        num_buckets=4,
    )
    oracle = OracleIndex(DOCS)
    return spark, out, meta, oracle


def test_meta_matches_oracle(built):
    _, _, meta, oracle = built
    assert meta["num_documents"] == oracle.num_documents
    assert meta["num_postings"] == oracle.num_postings
    assert meta["avg_field_lengths"] == pytest.approx(oracle.avg_field_lengths)


def test_term_stats_match(built):
    spark, out, meta, oracle = built
    rows = indexer.load_term_stats(spark, out).collect()
    got_df = {r["term"]: r["df"] for r in rows}
    assert got_df == oracle.document_frequencies
    for r in rows:
        assert r["idf"] == pytest.approx(oracle.idf[r["term"]], rel=1e-9)


def test_postings_match_oracle(built):
    spark, out, meta, oracle = built
    blocks = indexer.load_blocks(spark, out)
    for term, plist in oracle.index.items():
        got = term_postings(blocks, term, meta["num_buckets"]).collect()
        got = sorted(((r["doc_id"], r["score"]) for r in got))
        want = [(p.doc_id, p.score) for p in plist]
        assert [d for d, _ in got] == [d for d, _ in want], term
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-5), term


def test_positions_roundtrip(built):
    spark, out, meta, oracle = built
    blocks = indexer.load_blocks(spark, out)
    for term in ["alpha", "beta", "gamma", "delta"]:
        got = {
            r["doc_id"]: list(r["positions"])
            for r in term_postings(
                blocks, term, meta["num_buckets"], with_positions=True
            ).collect()
        }
        want = {p.doc_id: p.positions for p in oracle.index[term]}
        assert got == want, term


def test_block_metadata(built):
    spark, out, meta, oracle = built
    rows = indexer.load_blocks(spark, out).collect()
    by_term: dict[str, list] = {}
    for r in rows:
        assert r["count"] <= 2
        assert r["first_doc"] <= r["last_doc"]
        by_term.setdefault(r["term"], []).append(r)
    for term, blist in by_term.items():
        blist.sort(key=lambda r: r["block_no"])
        # blocks are doc-range disjoint and ordered
        for a, b in zip(blist, blist[1:]):
            assert a["last_doc"] < b["first_doc"]
        want_max = max(p.score for p in oracle.index[term])
        assert max(r["max_score"] for r in blist) == pytest.approx(
            want_max, abs=1e-5
        )


QUIRK_DOCS = [
    # exercises every scan quirk the vectorized batch path must preserve
    (0, ["Mixed123 dropped", "ends with mixed123"]),       # EOT bypass
    (1, ["a" * 51 + " kept", "x " + "b" * 51]),            # len cap + EOT
    (2, ["12345 drop 1234 keep", "trailing 99999"]),       # num cap + EOT
    (3, ["The AND of stopwords", "running runs RUNNER"]),  # stop + stem
    (4, ["", None]),                                       # empty / null
    (5, ["alpha beta alpha", "beta alpha beta gamma"]),    # cross-field tf
    (6, ["word", "word"]),                                 # 1-token fields
]


@pytest.mark.parametrize("analyzer", ["reference", "simple"])
def test_packed_matches_array_path(spark, analyzer):
    """The vectorized packed tokenizer must emit EXACTLY the postings of
    the per-doc scalar path (which shares ``tokenize()`` with the
    oracle/goldens) — same (doc, term) rows, freqs, lens, and positions
    (decoded from the packed varint bytes)."""
    from cs_search_engine_architecture_spark.operators.compression import (
        grouped_delta_decode,
        varint_decode,
    )

    corpus = spark.createDataFrame(
        [(d, f[0], f[1]) for d, f in QUIRK_DOCS],
        "doc_id long, title string, body string",
    )
    arr = {
        (r["doc_id"], r["term"]): (
            list(r["field_freqs"]),
            list(r["field_lens"]),
            list(r["positions"]),
        )
        for r in indexer.tokenize_postings(
            corpus, ["title", "body"], analyzer=analyzer
        ).collect()
    }
    packed = {}
    for r in indexer.tokenize_postings_packed(
        corpus, ["title", "body"], analyzer=analyzer
    ).collect():
        import numpy as np

        pos = grouped_delta_decode(
            varint_decode(r["pos_bin"]), np.array([r["pos_count"]])
        ).astype(int)
        packed[(r["doc_id"], r["term"])] = (
            [r["ff_0"], r["ff_1"]],
            [r["fl_0"], r["fl_1"]],
            list(pos),
        )
    assert arr == packed


# sha256 over the sorted block rows of the seeded corpus below (base
# build + one add_docs delta); any change to the encoded bytes, the
# salting or the shard-split layout moves it
GOLDEN_BLOCKS_SHA256 = (
    "d37bd059270a94efafcc154fb61dd50e94e7cdd3c8bdea9181e4f374125c49ac"
)


def test_block_bytes_golden(spark, tmp_path):
    """Pins the block layout and bytes of a base build and an add_docs
    delta: small blocks, a low ``hot_df`` and a small ``group_span``
    make hot terms split into several doc_group salts, and a small
    ``shard_span`` splits blocks at shard edges, in both tiers."""
    import hashlib

    from cs_search_engine_architecture_spark.sources.corpus import (
        synth_source_files,
    )

    corpus = synth_source_files(spark, 300, seed=11, parallelism=3)
    out = str(tmp_path / "golden")
    indexer.build_index(
        spark, corpus.where("doc_id < 280"), out, fields=["path", "content"],
        block_size=16, num_buckets=4, hot_df=8, group_span=48, shard_span=64,
    )
    indexer.add_docs(spark, out, corpus.where("doc_id >= 280"))
    cols = [c.split()[0] for c in indexer.BLOCKS_SCHEMA.split(", ")]
    cols.append("term_bucket")
    digest = hashlib.sha256()
    for tier in (indexer.load_base_blocks, indexer.load_delta_blocks):
        rows = sorted(
            tuple(r[c] for c in cols) for r in tier(spark, out).collect()
        )
        assert len(rows) > 10
        assert any(r[1] >> 32 for r in rows)  # some hot term is salted
        digest.update(repr(rows).encode())
    assert digest.hexdigest() == GOLDEN_BLOCKS_SHA256


def test_missing_term_empty(built):
    spark, out, meta, _ = built
    blocks = indexer.load_blocks(spark, out)
    assert term_postings(blocks, "zzznotaterm", meta["num_buckets"]).count() == 0
