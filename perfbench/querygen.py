"""Seeded query stream for the serve workload.

The query classes and their shares are those of the repository's own
query set, ``QUERIES`` in ``bench.py``: one single term, two ANDs, one OR,
one AND-NOT, one mixed boolean holding a phrase and one phrase per cycle.
The msearch batch has the shape of its ``batch16``. That set is itself an
assumption about traffic, not a measured log; it is used so that the mix
follows a set the repository already states, not one made up here.

The hot words of those queries (``spark``, ``data``, ``index``) are kept:
they are the corpus generator's hot terms, in at least two thirds of the
docs. The words ``bench.py`` takes from its own fixture (``slow``,
``"hash join"``, ``"window order"``) are not in the generated corpus, so
each is replaced by a word of the corpus, drawn with the 1/rank law that
``synth_source_files`` uses to draw the corpus words, over the words
ranked by document frequency. A phrase is two adjacent words of a
sampled doc.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from cs_search_engine_architecture_spark.functions.tokenizer import scan, tokenize
from cs_search_engine_architecture_spark.sources.corpus import HOT_TERMS

# One cycle of single queries: bench.py QUERIES in its order, with the
# route each takes on an index above the engine's 1M-posting WAND gate.
# {w} is a drawn word, {sel} a drawn word under the AND gate below, {p} a
# phrase. q_and is "spark and data" in bench.py; both words are above the
# gate on this corpus, so it would take the join path like q_hot_and and
# no query would reach the conjunction route. Its second word is
# therefore a drawn word under the gate.
CYCLE = [
    ("single", "spark"),                          # single_term_blockmax
    ("and", "spark and {sel}"),                   # wand_and_sharded
    ("or", "spark or data"),                      # wand_or_sharded
    ("and_not", "data and not {w}"),              # join
    ("mixed", "spark and (data or {p}) not {w}"),  # join
    ("phrase", "{p}"),                            # join
    ("hot_and", "index and data"),                # join
]
# bench.py batch16: i even "t[i] or t[i+3]", i odd "t[i] and t[i+3]"
# (mod 16), over its 16 words; its hot words keep their slots, the other
# slots take drawn words.
BATCH16_HOT = {0: "spark", 1: "data", 6: "index"}
MSEARCH_BATCH = 16
# The engine sends a flat AND to WAND when its rarest term is in at most
# max(10,000, postings / 200) docs: 10,000 of the serve index's 17,000
# docs (59%). A {sel} word is in at most this share of the sampled docs,
# which leaves room for the sampling error of a 2,000-doc sample.
SELECTIVE_DF = 0.5


def _analyzes_to_one_term(word: str) -> bool:
    if not (word.isalpha() and len(word) <= 50):
        return False  # runs the scanner drops mid-text
    toks, _ = tokenize(word, is_query=True)
    return len(toks) == 1 and toks[0] not in ("and", "or", "not")


class QueryGen:
    def __init__(self, docs: list[tuple[int, str, str]], seed: int, stream: int):
        self.rng = np.random.default_rng([seed, stream])
        sample_rng = np.random.default_rng([seed, 0])
        pick = sample_rng.choice(len(docs), size=min(2000, len(docs)), replace=False)
        self.docs = [docs[i] for i in sorted(pick)]
        df: Counter = Counter()
        for _, _, content in self.docs:
            df.update({w for w, _ in scan(content)})
        hot = set(HOT_TERMS)
        ranked = [
            (w, n / len(self.docs))
            for w, n in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
            if w not in hot and _analyzes_to_one_term(w)
        ]
        self.words = [w for w, _ in ranked]
        self.selective = [w for w, share in ranked if share <= SELECTIVE_DF]

    def _zipf(self, words: list[str]) -> str:
        p = 1.0 / np.arange(1, len(words) + 1, dtype=np.float64)
        return words[int(self.rng.choice(len(words), p=p / p.sum()))]

    def _phrase(self) -> str:
        """Two adjacent indexable words of a sampled doc."""
        while True:
            _, _, content = self.docs[int(self.rng.integers(len(self.docs)))]
            words = [w for w, _ in scan(content)]
            pairs = [
                (a, b) for a, b in zip(words, words[1:])
                if _analyzes_to_one_term(a) and _analyzes_to_one_term(b)
            ]
            if pairs:
                a, b = pairs[int(self.rng.integers(len(pairs)))]
                return f'"{a} {b}"'

    def _fill(self, template: str) -> str:
        fill = {}
        if "{w}" in template:
            fill["w"] = self._zipf(self.words)
        if "{sel}" in template:
            fill["sel"] = self._zipf(self.selective)
        if "{p}" in template:
            fill["p"] = self._phrase()
        return template.format(**fill)

    def cycle(self) -> tuple[list[tuple[str, str]], dict[str, str]]:
        """One cycle: the single queries as (class, query), then the
        msearch batch (query_id -> query)."""
        singles = [(c, self._fill(t)) for c, t in CYCLE]
        words = [BATCH16_HOT.get(i) or self._zipf(self.words)
                 for i in range(MSEARCH_BATCH)]
        batch = {
            f"b{i:02d}": f"{words[i]} {'and' if i % 2 else 'or'} "
                         f"{words[(i + 3) % MSEARCH_BATCH]}"
            for i in range(MSEARCH_BATCH)
        }
        return singles, batch
