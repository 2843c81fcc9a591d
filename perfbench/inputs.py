"""Deterministic benchmark inputs, all derived from a seed.

Document text mirrors ``seekstorm_spark.sources.webtext.synth_webtext``
doc for doc (same counter-based generator per docid), so held-out docs
for phrases and ingest batches look exactly like the indexed corpus
without starting Spark in the client.
"""

from __future__ import annotations

import numpy as np

VOCAB_SIZE = 10_000
N_FREQUENT = 20  # the index's frequent_terms: ranks 0..19
_NOISE_TOKENS = ["c++", "c#", "don't", "Mixed-Case", "42", "2026", "e-mail"]

_CDF = np.cumsum(
    (w := 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), 1.07))
    / w.sum()
)


def term(rank: int) -> str:
    return f"term{rank:05d}"


FREQUENT_TERMS = [term(i) for i in range(N_FREQUENT)]


def doc_tokens(corpus_seed: int, docid: int) -> list[str]:
    """Tokens of generated doc ``docid`` (synth_webtext's generator)."""
    rng = np.random.default_rng(corpus_seed * 1_000_003 + docid)
    n_tok = int(rng.integers(20, 401))
    picks = np.searchsorted(_CDF, rng.random(n_tok))
    toks = [term(p) for p in picks]
    noise_mask = rng.random(n_tok) < 0.05
    for j in np.flatnonzero(noise_mask):
        r = rng.integers(0, len(_NOISE_TOKENS) + 1)
        toks[j] = (
            toks[j].capitalize()
            if r == len(_NOISE_TOKENS)
            else _NOISE_TOKENS[int(r)]
        )
    return toks


def doc(corpus_seed: int, docid: int) -> dict:
    return {
        "url": f"https://site{docid % 97}.example/p/{docid:010d}",
        "text": " ".join(doc_tokens(corpus_seed, docid)),
    }


class QueryGen:
    """Kernel queries with the benchmark's shape mix; ``stream`` gives
    one seed several independent query sequences.

    Terms are Zipf-sampled from vocabulary ranks 20..9,999 (never a
    frequent term, so never eligible for the result cache); phrases are
    2-3 consecutive plain tokens cut from held-out generated docs."""

    SHAPES = (
        ("one", 0.20),
        ("union", 0.25),
        ("and2", 0.20),
        ("and3", 0.10),
        ("not", 0.10),
        ("phrase", 0.15),
    )

    def __init__(
        self, seed: int, corpus_seed: int, heldout_base: int, stream: int = 0
    ):
        self.rng = np.random.default_rng([seed, 7, stream])
        self.corpus_seed = corpus_seed
        self.next_heldout = heldout_base + seed * 100_000 + stream * 10_000
        ranks = np.arange(N_FREQUENT, VOCAB_SIZE, dtype=np.float64)
        w = 1.0 / np.power(ranks + 1.0, 1.07)
        self._cdf = np.cumsum(w / w.sum())
        self._shape_cdf = np.cumsum([p for _s, p in self.SHAPES])

    def _terms(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            r = N_FREQUENT + int(np.searchsorted(self._cdf, self.rng.random()))
            t = term(min(r, VOCAB_SIZE - 1))
            if t not in out:
                out.append(t)
        return out

    def _phrase(self) -> str:
        n = 2 + int(self.rng.random() < 0.5)
        while True:
            toks = doc_tokens(self.corpus_seed, self.next_heldout)
            self.next_heldout += 1
            plain = [t.startswith("term") and t.islower() for t in toks]
            starts = [
                i for i in range(len(toks) - n + 1) if all(plain[i : i + n])
            ]
            if starts:
                i = starts[int(self.rng.integers(0, len(starts)))]
                return '"' + " ".join(toks[i : i + n]) + '"'

    def query(self) -> tuple[str, str]:
        """(shape, query string) in the engine's query syntax."""
        shape = self.SHAPES[
            int(np.searchsorted(self._shape_cdf, self.rng.random() * 0.9999999))
        ][0]
        if shape == "one":
            q = self._terms(1)[0]
        elif shape == "union":
            q = " ".join(self._terms(2))
        elif shape == "and2":
            q = " ".join("+" + t for t in self._terms(2))
        elif shape == "and3":
            q = " ".join("+" + t for t in self._terms(3))
        elif shape == "not":
            a, b = self._terms(2)
            q = f"{a} -{b}"
        else:
            q = self._phrase()
        return shape, q

    def batch(self, n: int) -> list[str]:
        """``n`` fresh kernel queries with the shape mix in exact
        proportions and terms drawn by stratified sampling of the same
        Zipf law, so every batch carries about the same work."""
        counts = [int(round(n * p)) for _s, p in self.SHAPES]
        counts[0] += n - sum(counts)
        shapes = self.rng.permutation(
            [s for (s, _p), c in zip(self.SHAPES, counts) for _ in range(c)]
        )
        width = {"one": 1, "union": 2, "and2": 2, "and3": 3, "not": 2}
        n_terms = sum(width.get(s, 0) for s in shapes)
        u = self.rng.permutation((np.arange(n_terms) + self.rng.random(n_terms)) / n_terms)
        ranks = N_FREQUENT + np.searchsorted(self._cdf, u)
        pool = [term(min(int(r), VOCAB_SIZE - 1)) for r in ranks]
        out = []
        for s in shapes:
            if s == "phrase":
                out.append(self._phrase())
                continue
            ts = []
            for _ in range(width[s]):
                t = pool.pop()
                while t in ts:  # a query names each term once
                    t = term(N_FREQUENT + (int(t[4:]) + 1 - N_FREQUENT) % (VOCAB_SIZE - N_FREQUENT))
                ts.append(t)
            if s in ("and2", "and3"):
                out.append(" ".join("+" + t for t in ts))
            elif s == "not":
                out.append(f"{ts[0]} -{ts[1]}")
            else:
                out.append(" ".join(ts))
        return out

    def frequent_term(self) -> str:
        return FREQUENT_TERMS[int(self.rng.integers(0, N_FREQUENT))]


def probe_queries(corpus_seed: int) -> list[str]:
    """Fixed probe set whose unpruned in-process results are stored
    with the fixture: one query of each shape, plus phrases cut from
    an indexed doc (a frequent pair → n-gram postings; a rare pair
    and a triple → positions)."""
    toks = doc_tokens(corpus_seed, 777)
    freq = set(FREQUENT_TERMS)

    def window(n: int, want_freq: bool | None) -> str:
        for i in range(len(toks) - n + 1):
            w = toks[i : i + n]
            if not all(t.startswith("term") and t.islower() for t in w):
                continue
            if want_freq is None or all((t in freq) == want_freq for t in w):
                return '"' + " ".join(w) + '"'
        raise ValueError("probe doc has no such window")

    return [
        "term00042",
        "term00137 term00981",
        "+term00031 +term00077",
        "+term00025 +term00060 +term00099",
        "term00033 -term00048",
        window(2, True),
        window(2, False),
        window(3, None),
    ]
