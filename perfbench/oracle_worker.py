"""Reference-oracle process for the serve workload.

Reads pickled messages on stdin: first ``(docs, analyzer, top_k)``, then
lists of queries, then ``None``. Builds ``OracleIndex`` over ``docs`` and
answers each list with the oracle's top-k per query, pickled on stdout.
"""

from __future__ import annotations

import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs_search_engine_architecture_spark.oracle.reference import OracleIndex  # noqa: E402


def main() -> None:
    inp, out = sys.stdin.buffer, sys.stdout.buffer
    docs, analyzer, top_k = pickle.load(inp)
    oracle = OracleIndex([(d, [p, c]) for d, p, c in docs], analyzer=analyzer)
    while (queries := pickle.load(inp)) is not None:
        pickle.dump([oracle.search(q, top_k) for q in queries], out)
        out.flush()


if __name__ == "__main__":
    main()
