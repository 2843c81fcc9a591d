"""Catalyst-native BM25 scorer straight from a documents DataFrame.

This is the *declarative twin* of the indexed WAND path: same
semantics (tokenize → tf/df/dl → BM25 → query algebra → top-k)
expressed entirely in built-in DataFrame ops so Catalyst handles
predicate pushdown, column pruning, and join strategy. Two uses:

1. the driver's DuckDB-oracle correctness gate (float64 math so the
   SQL oracle computes the identical numbers; the f32
   reference-parity path lives in `query.engine` + `oracle.py`);
2. ad-hoc queries over corpora that haven't been indexed yet.

The only Python in the plan is the vectorized tokenizer UDF and the
256-entry SmallFloat quantization (a broadcast range join against the
quantization table — Catalyst folds it to a BroadcastNestedLoopJoin
over 256 rows).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from seekstorm_spark.quantization import (
    DOCUMENT_LENGTH_COMPRESSION,
    int_to_byte4,
)
from seekstorm_spark.scoring import B, K
from seekstorm_spark.tokenizer import tokenize_line


@pandas_udf(ArrayType(StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized UnicodeAlphanumeric tokenizer (doc mode, no
    stopwords) — reference tokenizer.rs:339-360 semantics."""
    return texts.map(lambda t: tokenize_line(t or ""))


def quantization_table(spark: SparkSession) -> DataFrame:
    """256-row (dl_lo, dl_hi, dl_q) range table; joining
    ``dl_raw BETWEEN dl_lo AND dl_hi`` implements int_to_byte4 →
    byte4_to_int exactly (reference index.rs:4232-4279).

    Built as a ``VALUES`` literal (LocalTableScan): an RDD-backed
    ``createDataFrame`` schedules a ~200 ms job every time the table
    is broadcast, a VALUES relation none (CLAUDE.md sharp edge)."""
    t = DOCUMENT_LENGTH_COMPRESSION
    rows = [
        (t[b], (t[b + 1] - 1) if b < 255 else (1 << 31), t[b]) for b in range(256)
    ]
    vals = ", ".join(f"({lo}L, {hi}L, {q}L)" for lo, hi, q in rows)
    return spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS t(dl_lo, dl_hi, dl_q)"
    )


# ~2 MB of source bytes per tokenize task (~50 ms of regex work):
# below that, extra tasks cost more in dispatch + Python-worker spawn
# than they recover in parallelism
_SPREAD_SPLIT_BYTES = 2 * 1024 * 1024


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism for a Python tokenize pass: a small
    corpus (one parquet file → one scan task) is round-robin
    repartitioned so the pass runs wide; an input that already scans
    wider than the cluster is left alone (no full-corpus shuffle at
    scale — guide §2.5/§6.1). The width is sized to the INPUT (one
    task per ~2 MB, capped at the cluster's parallelism) — a
    kilobyte-scale corpus on a 32-core cluster gets 1 task, not 32
    two-millisecond tasks plus 32 Python worker spawns. Results are
    unaffected: every doc's rows stay within one task."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if cur >= target:
        return df
    try:
        nbytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # unknown sources report conf.defaultSizeInBytes (huge) and
        # fall through to full parallelism, today's behavior
        target = max(1, min(target, -(-nbytes // _SPREAD_SPLIT_BYTES)))
    except Exception:
        pass
    if target <= cur:
        return df
    return df.repartition(target)


def tokens(docs: DataFrame, docid_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(docid, term, pos) exploded token stream; pos is 0-based."""
    return docs.select(
        F.col(docid_col).alias("docid"),
        F.posexplode(tokenize_udf(F.col(text_col))).alias("pos", "term"),
    )


def term_df_agg(
    docs: DataFrame, docid_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, df, cf) — identical to
    ``tokens(docs).groupBy("term").agg(countDistinct(docid), count(*))``
    but MAP-SIDE PRE-AGGREGATED inside the tokenize pass (guide §2.3
    "aggregate before you shuffle"): each task emits one partial row
    per distinct term instead of one exploded row per token, so the
    Arrow boundary and the shuffle carry vocabulary-sized data, not
    corpus-sized. Exact because every doc is tokenized in exactly one
    task: per-task distinct-doc counts sum to the global df, per-task
    occurrence counts to the global cf (all integer arithmetic)."""

    def _agg(batches):
        from collections import Counter

        df_c: Counter = Counter()
        cf_c: Counter = Counter()
        for pdf in batches:
            for text in pdf[text_col].values:
                toks = tokenize_line(text or "")
                cf_c.update(toks)
                df_c.update(frozenset(toks))
        if cf_c:
            terms = list(cf_c.keys())
            yield pd.DataFrame(
                {
                    "term": terms,
                    "df_p": pd.Series(
                        [df_c[t] for t in terms], dtype="int64"
                    ),
                    "cf_p": pd.Series(
                        [cf_c[t] for t in terms], dtype="int64"
                    ),
                }
            )

    partial = _spread(docs.select(text_col)).mapInPandas(
        _agg, schema="term string, df_p long, cf_p long"
    )
    return partial.groupBy("term").agg(
        F.sum("df_p").cast("long").alias("df"),
        F.sum("cf_p").cast("long").alias("cf"),
    )


def doc_lengths(
    docs: DataFrame,
    spark: SparkSession,
    docid_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(docid, dl_raw, dl_q) with SmallFloat-quantized lengths."""
    dl = docs.select(
        F.col(docid_col).alias("docid"),
        F.size(tokenize_udf(F.col(text_col))).cast("long").alias("dl_raw"),
    )
    q = F.broadcast(quantization_table(spark))
    return dl.join(
        q, (dl.dl_raw >= q.dl_lo) & (dl.dl_raw <= q.dl_hi), "left"
    ).select("docid", "dl_raw", "dl_q")


def corpus_stats(tok: DataFrame, dl: DataFrame) -> tuple[DataFrame, Column]:
    """df per term; scalar stats computed by the caller."""
    return tok.groupBy("term").agg(F.countDistinct("docid").alias("df"))


def _stats_one_row(rows: DataFrame, terms: list[str]) -> DataFrame:
    """ONE-row broadcast side-table over the checkpointed term rows:
    corpus stats from the sentinel rows plus each query term's df —
    one global partial+final aggregation (a single 1-row exchange)
    instead of the former groupBy(term) + whole-frame window (two
    exchanges / AQE stages). Same integer aggregates and the same
    long/long division → bit-identical downstream floats."""
    sent = F.col("term") == ""
    aggs = [
        F.count(F.when(sent, F.lit(1))).cast("double").alias("n_docs"),
        (
            F.sum(F.when(sent, F.col("dl_q")))
            / F.count(F.when(sent, F.lit(1)))
        ).alias("avgdl"),
    ]
    for i, t in enumerate(terms):
        aggs.append(
            F.count(F.when(F.col("term") == t, F.lit(1))).alias(f"df_{i}")
        )
    return rows.agg(*aggs)


def _df_case(terms: list[str]):
    """Per-row df from the 1-row stats table: CASE on the term."""
    expr = None
    for i, t in enumerate(terms):
        c = F.when(F.col("term") == t, F.col(f"df_{i}"))
        expr = c if expr is None else expr.when(
            F.col("term") == t, F.col(f"df_{i}")
        )
    return expr


def query_term_rows(
    docs: DataFrame,
    terms: list[str],
    docid_col: str = "doc_id",
    text_col: str = "text",
    with_positions: bool = False,
) -> DataFrame:
    """ONE tokenize pass per query: per doc, a sentinel row
    (term='', tf=0) carrying dl_raw, plus one (term, tf) row per
    matched query term — everything BM25 needs without re-tokenizing
    the corpus for dl, df and tf separately. ``with_positions`` adds
    each matched term's token positions, so phrase adjacency can run
    from the SAME pass (no second corpus tokenize).

    ``dl_q`` (the SmallFloat byte4 round-trip of ``dl_raw``) is
    computed here in Python — integer-exact vs the 256-row range-join
    it replaces — so consumers skip two BroadcastNestedLoopJoins
    (256 predicate evaluations per row each; guide §4.2)."""
    term_set = frozenset(terms)
    decode = DOCUMENT_LENGTH_COMPRESSION

    def _tok(batches):
        from collections import defaultdict

        for pdf in batches:
            out_doc, out_term, out_dl, out_tf = [], [], [], []
            out_dlq: list[int] = []
            out_pos: list[list[int] | None] = []
            for docid, text in zip(pdf[docid_col].values, pdf[text_col].values):
                toks = tokenize_line(text or "")
                did = int(docid)
                n = len(toks)
                dlq = decode[int_to_byte4(n)]
                out_doc.append(did)
                out_term.append("")
                out_dl.append(n)
                out_tf.append(0)
                out_dlq.append(dlq)
                out_pos.append(None)
                hits: dict[str, list[int]] = defaultdict(list)
                for i, t in enumerate(toks):
                    if t in term_set:
                        hits[t].append(i)
                for t, plist in hits.items():
                    out_doc.append(did)
                    out_term.append(t)
                    out_dl.append(n)
                    out_tf.append(len(plist))
                    out_dlq.append(dlq)
                    out_pos.append(plist if with_positions else None)
            frame = {
                "docid": pd.Series(out_doc, dtype="int64"),
                "term": out_term,
                "dl_raw": pd.Series(out_dl, dtype="int64"),
                "tf": pd.Series(out_tf, dtype="int64"),
                "dl_q": pd.Series(out_dlq, dtype="int64"),
            }
            if with_positions:
                frame["positions"] = out_pos
            yield pd.DataFrame(frame)

    schema = "docid long, term string, dl_raw long, tf long, dl_q long"
    if with_positions:
        schema += ", positions array<int>"
    return _spread(docs.select(docid_col, text_col)).mapInPandas(
        _tok, schema=schema
    )


def bm25_scored(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    qtype: str = "union",
    not_terms: list[str] | None = None,
    docid_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-candidate BM25 (float64) → DataFrame(docid, score).

    AND = candidate must contain every query term (inner-join
    semantics via HAVING count); OR = any; NOT terms anti-joined.
    idf/avgdl per reference math (scoring.py), computed in float64 —
    corpus stats arrive as a 1-row cross-joined DataFrame (no per-query
    ``collect``), and the corpus is tokenized exactly ONCE per query:
    the term-row pass is ``localCheckpoint``-materialized (tiny —
    one sentinel row per doc plus matched-term rows), so the stats and
    df broadcast subtrees re-read it instead of re-running the Python
    tokenize (guide §2.4/§5: the heavy pass runs once, the light
    consumers share it).

    ``docid_col`` must hold one distinct value per row: the per-doc
    aggregation counts matched terms with ``count(term)`` where it
    means ``countDistinct(term)``, which is exact only because each
    docid's matched-term rows come from one document. A repeated
    docid would merge two documents' tfs and terms into one candidate.
    """
    not_terms = not_terms or []
    q = [t for t in dict.fromkeys(query_terms)]  # dedup, keep order
    # lazy checkpoint: the first consumer's job materializes the pass
    # (instead of a separate eager job), later subtrees read the cache
    rows = query_term_rows(
        docs, list(q) + list(not_terms), docid_col, text_col
    ).localCheckpoint(eager=False)

    term_rows = rows.filter(F.col("term").isin(q))
    scored = (
        term_rows.crossJoin(F.broadcast(_stats_one_row(rows, q)))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - _df_case(q) + F.lit(0.5))
                / (_df_case(q) + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (
                F.col("tf")
                * F.lit(K + 1.0)
                / (
                    F.col("tf")
                    + F.lit(K)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("dl_q") / F.col("avgdl")
                    )
                )
            ),
        )
    )
    # query_term_rows emits AT MOST ONE row per (docid, term) — the
    # per-doc hits dict collapses positions — so count(term) equals
    # countDistinct(term) while planning as a single partial+final
    # aggregation instead of the two-exchange distinct rewrite
    agg = scored.groupBy("docid").agg(
        F.sum("contrib").alias("score"),
        F.count("term").alias("n_matched"),
    )
    if qtype == "intersection":
        agg = agg.filter(F.col("n_matched") == len(q))
    if not_terms:
        excl = (
            rows.filter(F.col("term").isin(list(not_terms)))
            .select("docid")
            .distinct()
        )
        agg = agg.join(excl, "docid", "left_anti")
    return agg.select("docid", "score")


def bm25f_scored(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    fields: list[tuple[str, float]],
    qtype: str = "union",
    docid_col: str = "doc_id",
    field_filter: list[str] | None = None,
) -> DataFrame:
    """Multi-field BM25F (float64) → DataFrame(docid, score).

    Reference semantics (`add_result.rs:1171-1426`, `index.rs:5332-5407`,
    `commit.rs:318-319`):
    * per-(doc, field) quantized lengths; ONE global avgdl =
      Σ quantized per-field lengths / doc count (not per field);
    * idf per term with df = docs containing the term in ANY field;
    * contribution = boost_f · idf · tf_f(K+1)/(tf_f + K(1−B+B·dl_qf/avgdl)),
      summed over fields, then terms;
    * ``field_filter`` restricts both matching and scoring to the named
      fields (reference search.rs:2483-2495, add_result.rs:3124-3136).
    """
    q = list(dict.fromkeys(query_terms))

    # ONE term-row pass per field (query_term_rows: per-(doc, term)
    # tf + sentinel dl rows, dl_q computed in-pass), checkpointed so
    # the stats / df / tf consumers share it instead of re-tokenizing
    # every field for each subtree (guide §2.4) — the multi-field
    # analog of the single-field twin's structure.
    per_field = [
        query_term_rows(docs, q, docid_col, fname).withColumn(
            "field", F.lit(fname)
        )
        for fname, _boost in fields
    ]
    rows = per_field[0]
    for r in per_field[1:]:
        rows = rows.unionByName(r)
    rows = rows.localCheckpoint(eager=False)
    dl_q = rows.filter(F.col("term") == "").select("docid", "field", "dl_q")

    # corpus stats as a broadcast 1-row crossJoin — no per-query
    # driver collects (same shape as the single-field twin)
    stats = dl_q.agg(
        F.countDistinct("docid").cast("double").alias("n_docs"),
        (F.sum("dl_q") / F.countDistinct("docid")).alias("avgdl"),
    )

    term_rows = rows.filter(F.col("term").isin(q))
    # df over ANY field (matching is field-unrestricted for idf)
    df_tbl = term_rows.groupBy("term").agg(
        F.countDistinct("docid").alias("df")
    )
    scoring_rows = term_rows
    if field_filter:
        scoring_rows = term_rows.filter(
            F.col("field").isin(list(field_filter))
        )
    tf_tbl = scoring_rows.select("docid", "field", "term", "tf")
    boost_map = F.create_map(
        *[x for fname, b in fields for x in (F.lit(fname), F.lit(float(b)))]
    )
    scored = (
        tf_tbl.join(F.broadcast(df_tbl), "term")
        .join(dl_q, ["docid", "field"])
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "contrib",
            boost_map[F.col("field")]
            * F.col("idf")
            * (
                F.col("tf")
                * F.lit(K + 1.0)
                / (
                    F.col("tf")
                    + F.lit(K)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("dl_q") / F.col("avgdl")
                    )
                )
            ),
        )
    )
    agg = scored.groupBy("docid").agg(
        F.sum("contrib").alias("score"),
        F.countDistinct("term").alias("n_matched"),
    )
    if qtype == "intersection":
        agg = agg.filter(F.col("n_matched") == len(q))
    return agg.select("docid", "score")


def bm25f_topk(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    fields: list[tuple[str, float]],
    qtype: str = "union",
    top_k: int = 10,
    docid_col: str = "doc_id",
    field_filter: list[str] | None = None,
) -> DataFrame:
    scored = bm25f_scored(
        spark, docs, query_terms, fields, qtype, docid_col, field_filter
    ).withColumn("score_r", F.round(F.col("score"), 4))
    return (
        scored.orderBy(F.col("score_r").desc(), F.col("docid").asc())
        .limit(top_k)
        .select("docid", F.col("score_r").alias("score"))
    )


def phrase_docids(
    docs: DataFrame,
    phrase_terms: list[str],
    docid_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """docids containing the exact token sequence (position-adjacency
    self-joins — the declarative twin of the positional phrase check
    in `query.engine`, reference add_result.rs:3152-3391)."""
    tok = tokens(docs, docid_col, text_col)
    base = tok.filter(F.col("term") == phrase_terms[0]).select(
        "docid", F.col("pos").alias("anchor")
    )
    for i, t in enumerate(phrase_terms[1:], start=1):
        nxt = tok.filter(F.col("term") == t).select(
            "docid", (F.col("pos") - i).alias("anchor")
        )
        base = base.join(nxt, ["docid", "anchor"])
    return base.select("docid").distinct()


def bm25_phrase_topk(
    spark: SparkSession,
    docs: DataFrame,
    phrase_terms: list[str],
    top_k: int = 10,
    docid_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Phrase top-k: adjacency-filtered candidates scored by the
    phrase's component terms (Bm25f + SingleTerm decomposition,
    reference index.rs:3050-3198).

    ONE corpus tokenize pass: ``query_term_rows`` carries each matched
    term's positions, scoring and the positional adjacency check both
    read it — the adjacency predicate is a JVM-side ``exists`` over
    the per-term position arrays (no second scan, no self-join). The
    pass is ``localCheckpoint``-materialized so the stats/df broadcast
    subtrees share it instead of re-tokenizing (guide §2.4/§5).

    ``docid_col`` must hold one distinct value per row: the per-doc
    aggregation counts matched terms with ``count(term)`` where it
    means ``countDistinct(term)``, which is exact only because each
    docid's matched-term rows come from one document. A repeated
    docid would merge two documents' tfs and terms into one candidate."""
    q = list(dict.fromkeys(phrase_terms))
    rows = query_term_rows(
        docs, q, docid_col, text_col, with_positions=True
    ).localCheckpoint(eager=False)

    term_rows = rows.filter(F.col("term").isin(q))
    # single-row broadcast side-table with per-term df + corpus stats
    # — same construction (and bit-identity argument) as bm25_scored
    scored = (
        term_rows.crossJoin(F.broadcast(_stats_one_row(rows, q)))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - _df_case(q) + F.lit(0.5))
                / (_df_case(q) + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (
                F.col("tf")
                * F.lit(K + 1.0)
                / (
                    F.col("tf")
                    + F.lit(K)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("dl_q") / F.col("avgdl")
                    )
                )
            ),
        )
    )
    # ≤1 row per (docid, term): count ≡ countDistinct, single-pass agg
    agg = scored.groupBy("docid").agg(
        F.sum("contrib").alias("score"),
        F.count("term").alias("nm"),
        F.map_from_entries(
            F.collect_list(F.struct("term", "positions"))
        ).alias("pos"),
    ).filter(F.col("nm") == len(q))

    # positional adjacency: some anchor p in t0's positions has
    # p+i in ti's positions for every later phrase term
    def _adjacent(p):
        cond = None
        for i, t in enumerate(phrase_terms[1:], start=1):
            c = F.array_contains(F.col("pos")[F.lit(t)], p + i)
            cond = c if cond is None else (cond & c)
        return cond if cond is not None else F.lit(True)

    matched = agg.filter(
        F.exists(F.col("pos")[F.lit(phrase_terms[0])], _adjacent)
    )
    return (
        matched.withColumn("score_r", F.round(F.col("score"), 4))
        .orderBy(F.col("score_r").desc(), F.col("docid").asc())
        .limit(top_k)
        .select("docid", F.col("score_r").alias("score"))
    )


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: list[str],
    qtype: str = "union",
    not_terms: list[str] | None = None,
    top_k: int = 10,
    docid_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k with deterministic ordering: rounded score desc, docid asc
    (rounding first so the SQL oracle's f64 ties break identically).
    ``docid_col`` must be unique per row, as for :func:`bm25_scored`."""
    scored = bm25_scored(
        spark, docs, query_terms, qtype, not_terms, docid_col, text_col
    ).withColumn("score_r", F.round(F.col("score"), 4))
    return (
        scored.orderBy(F.col("score_r").desc(), F.col("docid").asc())
        .limit(top_k)
        .select(F.col("docid"), F.col("score_r").alias("score"))
    )
