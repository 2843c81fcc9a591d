"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Designed for 100 TB corpora:

* **exact** — hash-groupBy on a content fingerprint; one shuffle,
  map-side combinable.
* **n-gram Jaccard** — shingle → explode → self-join on shingle →
  per-pair intersection counts (candidate generation is inverted-
  index-style, never an O(N²) cross join); |A∪B| via
  inclusion–exclusion so no second pass over pairs.
* **MinHash+LSH** — k hash functions over shingles (seeded md5,
  engine-agnostic), band → bucket → join candidates within buckets
  only.
* **SimHash** — 64-bit weighted-bit fingerprint; near-dups = equal
  fingerprints (or banded prefixes at scale).

Everything shuffles on content-derived keys (shingle/band/bucket), so
skew follows shingle frequency — cap posting-style with a
``max_docs_per_shingle`` guard (frequent shingles carry no dedup
signal, same reasoning as stopword handling in the index).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from seekstorm_spark.functions.textstats import doc_fingerprint


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (normalized) docs:
    (fingerprint, dup_count, min doc id) for groups with >1 member."""
    return (
        df.select(
            F.col(id_col).alias("docid"),
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("docid").alias("keeper_docid"),
        )
        .filter(F.col("dup_count") > 1)
    )


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc via built-in array ops:
    tokens → transform(sequence) → join — no Python in the plan.

    Docs with fewer than ``n`` tokens yield no shingles (guarded:
    ``sequence(0, k-1)`` with k <= 0 would produce a DESCENDING array
    and a crashing ``slice`` start, so the sequence is gated on k > 0).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    k = F.size(toks) - (n - 1)
    idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return (
        df.select(F.col(id_col).alias("docid"), F.explode(sh).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_docs_per_shingle: int = 1000,
) -> DataFrame:
    """(docid_a, docid_b, jaccard) for pairs ≥ threshold.

    Candidate pairs come from co-occurring shingles (inverted-index
    style), intersection size from the pair count, union via
    inclusion–exclusion — the same |A∪B| = |A|+|B|−|A∩B| trick the
    reference uses for union counts (`union.rs:1236-1248`).

    Pair generation is ONE groupBy(shingle) + an in-row pair expansion
    over the sorted posting list (JVM higher-order functions) instead
    of the former self-join on shingle: the same pairs, minus two
    exchanges and a duplicate pass over the shingle table (guide
    §2.4). The skew guard filters shingles on a window count before
    any doc list is collected, so per-row memory is bounded by
    ``max_docs_per_shingle`` docids (``max_docs_per_shingle``² pair
    structs worst case)."""
    sh = shingles(df, id_col, text_col, n).cache()
    sizes = sh.groupBy("docid").agg(F.count("*").alias("n_sh"))
    ds = F.col("ds")
    # all (ds[i], ds[j]) with i < j over the ASCENDING doc list — the
    # exact pair set the old a⋈b self-join produced (docid_a < docid_b)
    pair_structs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(
                    x.alias("docid_a"), y.alias("docid_b")
                ),
            ),
        )
    )
    inter = (
        sh.withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
        # drop shingles too frequent to be discriminative (skew guard)
        # BEFORE collecting their doc lists, so a boilerplate shingle
        # never builds an unbounded array; singleton shingles
        # contribute no pairs. The window's exchange on shingle also
        # serves the groupBy below — still one exchange.
        .filter(
            (F.col("df") <= max_docs_per_shingle) & (F.col("df") >= 2)
        )
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("docid")).alias("ds"))
        .select(F.explode(pair_structs).alias("p"))
        .select("p.docid_a", "p.docid_b")
        .groupBy("docid_a", "docid_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        inter.join(
            sizes.select(
                F.col("docid").alias("docid_a"), F.col("n_sh").alias("n_a")
            ),
            "docid_a",
        )
        .join(
            sizes.select(
                F.col("docid").alias("docid_b"), F.col("n_sh").alias("n_b")
            ),
            "docid_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("docid_a", "docid_b", "jaccard")
    )
    return out


def _md5_u64(data: bytes) -> int:
    """First 8 md5 bytes, big-endian → uint64. Engine-agnostic: DuckDB's
    ('0x' || substr(md5(x),1,16))::UBIGINT computes the same value."""
    return int.from_bytes(hashlib.md5(data).digest()[:8], "big")


# 128 universal-hash coefficients, hoisted to module scope (computed
# once per Python worker, not per document). The scheme is SQL-
# expressible end-to-end (see __spark_entry__.oracle_sql):
#   base = first 8 md5 bytes of the shingle (big-endian u64)
#   x    = base >> 33            (top 31 bits — keeps a*x+b inside
#                                 int64, so DuckDB BIGINT math never
#                                 overflows)
#   h_i  = (a_i*x + b_i) mod 2^61-1,   a_i,b_i < 2^31
#   sig_i = min over the doc's shingles
MINHASH_N = 128
_MH_MOD = np.int64((1 << 61) - 1)
_mh_rng = np.random.default_rng(1234)
MINHASH_A = _mh_rng.integers(1, 2**31, size=MINHASH_N, dtype=np.int64)
MINHASH_B = _mh_rng.integers(0, 2**31, size=MINHASH_N, dtype=np.int64)


def _doc_shingles(text: str, n: int = 3) -> set[str]:
    """Distinct n-token shingles; short docs fall back to the whole
    (lowercased, space-joined) token sequence as a single shingle."""
    toks = (text or "").lower().split()
    if len(toks) >= n:
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)}


def minhash_signatures_np(texts: list[str]) -> np.ndarray:
    """(len(texts), 128) int64 MinHash signatures, batch-vectorized:
    one md5 per unique shingle in the batch, then a single chunked
    (shingles × 128) matrix min-reduced per doc — no per-row Python in
    the permutation math."""
    xs: list[int] = []
    counts = np.empty(len(texts), dtype=np.int64)
    cache: dict[str, int] = {}
    for i, t in enumerate(texts):
        shs = _doc_shingles(t)
        counts[i] = len(shs)
        for s in shs:
            x = cache.get(s)
            if x is None:
                x = _md5_u64(s.encode()) >> 33
                cache[s] = x
            xs.append(x)
    if not xs:
        return np.empty((0, MINHASH_N), dtype=np.int64)
    base = np.asarray(xs, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    sigs = np.empty((len(texts), MINHASH_N), dtype=np.int64)
    # chunk over docs so the (shingles, 128) matrix stays ~200 MB max
    CHUNK_SH = 200_000
    d0 = 0
    while d0 < len(texts):
        d1 = d0
        tot = 0
        while d1 < len(texts) and (tot == 0 or tot + counts[d1] <= CHUNK_SH):
            tot += counts[d1]
            d1 += 1
        lo = starts[d0]
        seg = base[lo : lo + tot]
        vals = (seg[:, None] * MINHASH_A[None, :] + MINHASH_B[None, :]) % _MH_MOD
        sigs[d0:d1] = np.minimum.reduceat(vals, starts[d0:d1] - lo, axis=0)
        d0 = d1
    return sigs


@pandas_udf(ArrayType(LongType()))
def _minhash_udf(texts: pd.Series) -> pd.Series:
    """128-permutation MinHash signature over 3-token shingles."""
    sigs = minhash_signatures_np(texts.tolist())
    return pd.Series(list(sigs))


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """(docid, band, bucket) rows — one per (doc, band). The bucket
    key is the md5 of the band's comma-joined signature values —
    engine-agnostic (the DuckDB oracle computes the identical key)."""
    assert bands * rows_per_band == 128
    sigs = df.select(
        F.col(id_col).alias("docid"), _minhash_udf(F.col(text_col)).alias("sig")
    )
    return sigs.select(
        "docid",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col("sig"), i * rows_per_band + 1, rows_per_band
                            ),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    bands × rows_per_band must equal the signature length (128).
    Docs sharing any band bucket become candidates (probability ≈
    1-(1-j^r)^b). Shuffle key = (band, bucket-hash): bounded skew.
    """
    banded = minhash_band_rows(df, id_col, text_col, bands, rows_per_band)
    a = banded.select(F.col("docid").alias("docid_a"), "band", "bucket")
    b = banded.select(F.col("docid").alias("docid_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("docid_a") < F.col("docid_b"))
        .select("docid_a", "docid_b")
        .distinct()
    )


def write_minhash_store(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 32,
    rows_per_band: int = 4,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's banded bucket rows — the artifact an
    incremental crawl dedupes NEW batches against without ever
    re-shingling the corpus (the log-structured-appends philosophy
    applied to dedup: corpus-side cost is paid once, per-batch cost
    is O(batch)). Partitioned by band so a probe's shuffle key stays
    (band, bucket); ``mode="append"`` folds a batch's rows in after
    it is accepted."""
    rows = minhash_band_rows(df, id_col, text_col, bands, rows_per_band)
    # repartition by the partition column first — avoids the
    # many-dirs-per-task file-create tail (CLAUDE.md sharp edge)
    rows.repartition("band").write.partitionBy("band").mode(mode).parquet(
        path
    )


def probe_minhash_store(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against the stored corpus:
    DataFrame(batch_docid, corpus_docid), distinct. Only the batch is
    shingled/hashed; the corpus side is a plain scan of the store's
    band rows, joined on (band, bucket)."""
    corpus = spark.read.parquet(path)
    probe = minhash_band_rows(batch, id_col, text_col, bands, rows_per_band)
    return (
        probe.select(
            F.col("docid").alias("batch_docid"), "band", "bucket"
        )
        .join(
            corpus.select(
                F.col("docid").alias("corpus_docid"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("batch_docid", "corpus_docid")
        .distinct()
    )


@pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (tf-weighted bits),
    batch-vectorized: one md5 per unique token in the Arrow batch,
    then one (docs × 64) weight matrix via segment reduction."""
    tok_ids: list[int] = []
    doc_of: list[int] = []
    vocab: dict[str, int] = {}
    uniq_tokens: list[str] = []
    for di, t in enumerate(texts):
        for tok in (t or "").lower().split():
            ti = vocab.get(tok)
            if ti is None:
                ti = len(uniq_tokens)
                vocab[tok] = ti
                uniq_tokens.append(tok)
            tok_ids.append(ti)
            doc_of.append(di)
    n_docs = len(texts)
    out = np.zeros(n_docs, dtype=np.int64)
    if uniq_tokens:
        hashes = np.array(
            [_md5_u64(u.encode()) for u in uniq_tokens], dtype=np.uint64
        )
        # ±1 per bit per unique token: (U, 64) int8
        signs = (
            (
                (hashes[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)
            ).astype(np.int8)
            * 2
            - 1
        )
        t_ids = np.asarray(tok_ids, dtype=np.int64)
        d_ids = np.asarray(doc_of, dtype=np.int64)
        weights = np.zeros((n_docs, 64), dtype=np.int64)
        # chunk the occurrence stream so the gathered sign rows stay small
        CH = 1_000_000
        for lo in range(0, len(t_ids), CH):
            np.add.at(
                weights, d_ids[lo : lo + CH], signs[t_ids[lo : lo + CH]]
            )
        powers = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(
            np.uint64
        )
        packed = ((weights > 0).astype(np.uint64) * powers[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        out = packed.view(np.int64)  # two's-complement into BIGINT
        # (token-less docs have all-zero weights → packed 0, as before)
    return pd.Series(out, dtype="int64")


def contamination_pairs(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str | None = None,
    probe_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥1 n-token
    shingle with a probe/benchmark document → DataFrame(docid,
    probe_id, n_common distinct shared shingles).

    The standard pre-training hygiene check (drop or flag training
    docs that leak evaluation data). Inverted-index join, probe side
    BROADCAST — the benchmark set is small by construction, so the
    corpus scan never shuffles and no all-pairs stage exists. Caller
    filters ``docid != probe_id`` when probes are drawn from the
    corpus itself."""
    cs = shingles(corpus, id_col, text_col, n)
    ps = shingles(
        probes, probe_id_col or id_col, probe_text_col or text_col, n
    ).withColumnRenamed("docid", "probe_id")
    return (
        cs.join(F.broadcast(ps), "shingle")
        .groupBy("docid", "probe_id")
        .agg(F.count("*").cast("long").alias("n_common"))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "docid_a",
    b_col: str = "docid_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Duplicate clusters from candidate pairs: ``(docid, component)``
    where ``component`` is the smallest docid reachable through the
    pair graph — the step that turns MinHash-LSH / Jaccard PAIRS into
    keep-one-per-cluster dedup decisions (keep ``docid == component``).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): every round is
    two groupBy+join passes keyed on node id, converging in
    O(log² n) rounds on any graph shape (a plain min-label
    propagation needs O(diameter) rounds — chains of near-dups are
    exactly the pathological case at corpus scale). No driver-side
    graph, no Python in the plan; each round ``localCheckpoint``s the
    edge set to truncate the iterative-join lineage (use a
    distributed checkpoint dir on a real cluster). Convergence is one
    bounded aggregate per round (edge count + xxhash64 XOR checksum).

    Isolated docs never appear in ``pairs`` and so never appear here;
    callers left-join and coalesce to ``docid`` for a full labeling.
    """
    e = (
        pairs.select(
            F.col(a_col).cast("long").alias("x"),
            F.col(b_col).cast("long").alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_rounds):
        # large-star: every neighbor v > u links to u's minimum
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over max→min edges: all of u's smaller neighbors
        # (and u itself) link to u's minimum neighbor
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = tuple(
            e.agg(
                F.count("*"),
                F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)),
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    comp = e.select(F.col("u").alias("docid"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("docid"))
        .distinct()
        .withColumn("component", F.col("docid"))
    )
    return comp.union(roots).distinct()


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", simplified to token n-grams):
    per-doc MERGED token spans ``(docid, span_start, span_end)``
    (0-based, inclusive) covered by some n-token sequence that occurs
    in ≥ ``min_docs`` distinct documents. Downstream cuts those spans
    out of the training text.

    Plan shape: tokenize → posexplode n-grams (same cost class as the
    index tokenize pass) → groupBy(gram) distinct-doc count (partial
    agg) → inverted-index join back → per-doc gaps-and-islands window
    merge. The join key is the gram STRING so the DuckDB oracle is
    collision-free and exact; at 100 TB swap the key for xxhash64(gram)
    to cut shuffle bytes (duplicate detection is tolerant of 2⁻⁶⁴
    collisions). Hot boilerplate grams are the skew case — AQE skew
    join handles the join fan-out; the groupBy side is map-combined.

    Adjacent or overlapping duplicated grams merge into one span
    (``start ≤ prev_end + 1``), so a long copied passage reports as a
    single range.
    """
    from pyspark.sql.window import Window

    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda w: w != "",
    )
    k = F.size(toks) - (n - 1)
    idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = df.select(
        F.col(id_col).alias("docid"),
        F.posexplode(
            F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
            )
        ).alias("pos", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("docid").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select(
        "docid",
        F.col("pos").cast("long").alias("start"),
        (F.col("pos") + (n - 1)).cast("long").alias("end"),
    )
    w_prev = (
        Window.partitionBy("docid")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("docid")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = hits.withColumn(
        "new_island",
        F.when(
            F.col("start") > F.max("end").over(w_prev) + 1, 1
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("new_island").over(w_run))
    return (
        islands.groupBy("docid", "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select("docid", "span_start", "span_end")
    )
