"""Bm25fProximity — the reference's DEFAULT LexicalSimilarity
(index.rs:558-568, add_result.rs:917-941, NGRAM_SEARCH.md "N-grams
and BM25"): phrase units rewritten onto n-gram postings score with
the GRAM's own df/tf instead of decomposing into partial-term df/tf,
so term adjacency is honored in the relevance score. Gated here
against a numpy f32 twin that recomputes gram stats from the raw
corpus, plus the structural invariants: pruned ≡ unpruned, batched ≡
single-query, and bm25f-identity when no gram unit engages."""

from __future__ import annotations

import numpy as np
import pytest

from seekstorm_spark.index.builder import NGRAM_SEP, IndexBuilder
from seekstorm_spark.quantization import _DECODE_NP, encode_lengths
from seekstorm_spark.query.engine import _plan, search, search_many
from seekstorm_spark.scoring import B, K, idf_f32

FREQUENT = ["alpha", "beta", "gamma"]
VOCAB = FREQUENT + [f"w{i:02d}" for i in range(40)]


def _make_docs(n: int = 300, seed: int = 7) -> list[tuple[int, str]]:
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        n_tok = int(rng.integers(8, 60))
        toks = [VOCAB[int(k)] for k in rng.integers(0, len(VOCAB), n_tok)]
        # plant adjacency so every tested gram/phrase has matches
        if i % 5 == 0:
            toks[2:2] = ["alpha", "beta"]
        if i % 7 == 0:
            toks[4:4] = ["alpha", "beta", "gamma"]
        if i % 9 == 0:
            toks[1:1] = ["alpha", "beta", "w00"]
        rows.append((i, " ".join(toks)))
    return rows


@pytest.fixture(scope="module")
def corpus():
    return _make_docs()


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, corpus):
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("prox") / "idx")
    return IndexBuilder(
        spark, path, n_buckets=8, frequent_terms=FREQUENT,
        ngram_patterns=["ff", "fff"],
    ).build(docs, text_col="text", id_col="doc_id")


def _twin(corpus, units, top_k=10):
    """f32 proximity twin: units = [(tuple_of_terms, offset)]; a
    multi-term tuple is a gram (tf = adjacent-run count), a 1-tuple a
    single term. Candidates need every unit position-aligned on a
    shared anchor. Accumulation in sorted posting-term order, exactly
    like the kernel."""
    toks = {d: t.split() for d, t in corpus}
    dls = encode_lengths(
        np.array([len(toks[d]) for d, _ in corpus], dtype=np.int64)
    )
    dlq = _DECODE_NP[dls.astype(np.int64)]
    n = len(corpus)
    avgdl = np.float32(np.float32(int(dlq.sum())) / np.float32(n))

    def occs(doc, terms):
        tt = toks[doc]
        return [
            p
            for p in range(len(tt) - len(terms) + 1)
            if all(tt[p + j] == terms[j] for j in range(len(terms)))
        ]

    unit_stats = {}  # posting-term key -> (df, {doc: tf})
    for terms, _off in units:
        key = NGRAM_SEP.join(terms)
        if key in unit_stats:
            continue
        tf = {d: len(occs(d, terms)) for d, _ in corpus}
        tf = {d: c for d, c in tf.items() if c}
        unit_stats[key] = (len(tf), tf)

    cands = []
    for d, _ in corpus:
        anchors = None
        for terms, off in units:
            ps = {p - off for p in occs(d, terms)}
            anchors = ps if anchors is None else (anchors & ps)
            if not anchors:
                break
        if anchors:
            cands.append(d)

    scored = []
    for d in cands:
        s = np.float32(0.0)
        for key in sorted(unit_stats):
            df, tf = unit_stats[key]
            if d not in tf:
                continue
            tf32 = np.float32(tf[d])
            comp = (
                tf32
                * np.float32(K + 1.0)
                / (
                    tf32
                    + np.float32(K)
                    * (
                        np.float32(1.0)
                        - np.float32(B)
                        + np.float32(B) * np.float32(dlq[d]) / avgdl
                    )
                )
            )
            s = np.float32(s + np.float32(idf_f32(n, df)) * comp)
        scored.append((d, float(s)))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored[:top_k]


def test_proximity_plan_keys_units(spark, store):
    plan = _plan(
        spark, store, '"alpha beta"', "union", similarity="bm25f_proximity"
    )
    assert plan.qtype == "ngram"
    assert list(plan.pos_terms) == [f"alpha{NGRAM_SEP}beta"]
    assert plan.unit_parts == {}


def test_proximity_single_unit_matches_twin(spark, store, corpus):
    got = search(
        spark, store, '"alpha beta"', top_k=10, similarity="bm25f_proximity"
    ).collect()
    want = _twin(corpus, [(("alpha", "beta"), 0)])
    assert [(r["docid"], np.float32(r["score"])) for r in got] == [
        (d, np.float32(s)) for d, s in want
    ]


def test_proximity_trigram_unit_matches_twin(spark, store, corpus):
    plan = _plan(
        spark, store, '"alpha beta gamma"', "union",
        similarity="bm25f_proximity",
    )
    assert plan.qtype == "ngram"
    assert plan.units[0][0].count(NGRAM_SEP) == 2
    got = search(
        spark, store, '"alpha beta gamma"', top_k=10,
        similarity="bm25f_proximity",
    ).collect()
    want = _twin(corpus, [(("alpha", "beta", "gamma"), 0)])
    assert [(r["docid"], np.float32(r["score"])) for r in got] == [
        (d, np.float32(s)) for d, s in want
    ]


def test_proximity_multi_unit_matches_twin(spark, store, corpus):
    # "alpha beta w00": ff gram + a leftover rare term → 2 units,
    # positional alignment across units, per-unit proximity scoring
    plan = _plan(
        spark, store, '"alpha beta w00"', "union",
        similarity="bm25f_proximity",
    )
    assert plan.qtype == "phrase" and len(plan.units) == 2
    assert plan.unit_parts == {}
    got = search(
        spark, store, '"alpha beta w00"', top_k=10,
        similarity="bm25f_proximity",
    ).collect()
    want = _twin(corpus, [(("alpha", "beta"), 0), (("w00",), 2)])
    assert [(r["docid"], np.float32(r["score"])) for r in got] == [
        (d, np.float32(s)) for d, s in want
    ]


def test_proximity_pruned_equals_unpruned(spark, store):
    for q in ('"alpha beta"', '"alpha beta gamma"', '"alpha beta w00"'):
        a = search(
            spark, store, q, top_k=10, similarity="bm25f_proximity"
        ).collect()
        b = search(
            spark, store, q, top_k=10, similarity="bm25f_proximity",
            prune=False,
        ).collect()
        assert [(r["docid"], r["score"]) for r in a] == [
            (r["docid"], r["score"]) for r in b
        ], q


def test_proximity_differs_from_bm25f_on_grams(spark, store):
    # top_k beyond the match count so BOTH runs emit every matching
    # doc: same match set (adjacency is the predicate either way),
    # different scores (gram idf vs partial-term idfs)
    a = search(spark, store, '"alpha beta"', top_k=300).collect()
    b = search(
        spark, store, '"alpha beta"', top_k=300, similarity="bm25f_proximity"
    ).collect()
    assert {r["docid"] for r in a} == {r["docid"] for r in b}
    sa = {r["docid"]: r["score"] for r in a}
    sb = {r["docid"]: r["score"] for r in b}
    assert any(sa[d] != sb[d] for d in sa)


def test_proximity_identity_without_grams(spark, store):
    # no gram unit engages → proximity ≡ bm25f (reference: the
    # SingleTerm scoring path is shared by both similarities)
    for q in ("alpha w01", '"w00 w01"', "+alpha +w02"):
        a = search(spark, store, q, top_k=10).collect()
        b = search(
            spark, store, q, top_k=10, similarity="bm25f_proximity"
        ).collect()
        assert [(r["docid"], r["score"]) for r in a] == [
            (r["docid"], r["score"]) for r in b
        ], q


def test_proximity_batched_identical_to_single(spark, store):
    queries = ['"alpha beta"', '"alpha beta w00"', "w03 w04", '"alpha beta gamma"']
    batched = search_many(
        spark, store, queries, top_k=10, similarity="bm25f_proximity"
    ).collect()
    by_q: dict[int, list] = {}
    for r in batched:
        by_q.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    for i, q in enumerate(queries):
        single = search(
            spark, store, q, top_k=10, similarity="bm25f_proximity"
        ).collect()
        assert by_q.get(i, []) == [
            (r["docid"], r["score"]) for r in single
        ], q


def test_unknown_similarity_raises(spark, store):
    with pytest.raises(ValueError, match="similarity"):
        search(spark, store, "alpha", similarity="bm42")
    with pytest.raises(ValueError, match="similarity"):
        search_many(spark, store, ["alpha"], similarity="bm42")
    with pytest.raises(ValueError, match="similarity"):
        search_many(spark, store, [], similarity="bm42")
