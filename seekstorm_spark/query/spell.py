"""Spell correction (SymSpell-style) + query autocomplete (QAC).

Engine analogs of the reference's query-rewriting aids
(`/root/reference/seekstorm/src/search.rs:1200-1411` SymSpell compound
correction + completion lookup; dictionaries built at commit,
`commit.rs:414-449`):

* **Spell dictionary** — the published SymSpell scheme (delete-
  neighborhood indexing): every vocabulary term emits its deletion
  variants up to edit distance 2; a query word's own deletions probe
  the table, and surviving candidates are verified with true
  Levenshtein distance and ranked by (distance, -df, term). The
  dictionary build is a distributed explode over term_stats; the
  probe is a driver-side partition-pruned pyarrow read (the same
  pattern as the term-stats probe — bounded by vocabulary/bucket).
* **Completion dictionary** — top-k terms by document frequency per
  prefix (the reference's completion trie flattened to a prefix →
  suggestions table).

Both tables live inside the index directory and derive purely from
term_stats, so they rebuild cheaply after appends.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seekstorm_spark.hashing import bucket_column
from seekstorm_spark.index.store import (
    COMPLETIONS_DDL,
    SPELL_DDL,
    IndexStore,
    read_buckets,
)

SPELL_MAX_EDITS = 2
SPELL_MAX_TERM_LEN = 24  # deletes explode quadratically; cap like SymSpell
SPELL_BUCKETS = 32
QAC_MIN_PREFIX = 1
QAC_MAX_PREFIX = 12
QAC_TOP_K = 8


def _spell_path(store: IndexStore) -> str:
    return os.path.join(store.path, "spell")


def _qac_path(store: IndexStore) -> str:
    return os.path.join(store.path, "completions")


def _deletes(word: str, max_edits: int = SPELL_MAX_EDITS) -> set[str]:
    """All strings reachable from ``word`` by deleting ≤ max_edits
    chars (including the word itself)."""
    out = {word}
    frontier = {word}
    for _ in range(max_edits):
        nxt = set()
        for w in frontier:
            for i in range(len(w)):
                nxt.add(w[: i] + w[i + 1 :])
        nxt -= out
        out |= nxt
        frontier = nxt
    return out


def levenshtein(a: str, b: str) -> int:
    """Plain Levenshtein distance (matches DuckDB ``levenshtein``)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def damerau_levenshtein(a: str, b: str) -> int:
    """Optimal-string-alignment Damerau-Levenshtein: an adjacent
    transposition counts as ONE edit (the reference's SymSpell
    distance; matches DuckDB ``damerau_levenshtein``)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    rows = [list(range(len(b) + 1))]
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cost = min(
                rows[i - 1][j] + 1,
                cur[j - 1] + 1,
                rows[i - 1][j - 1] + (ca != cb),
            )
            if (
                i > 1
                and j > 1
                and ca == b[j - 2]
                and a[i - 2] == cb
            ):
                cost = min(cost, rows[i - 2][j - 2] + 1)
            cur.append(cost)
        rows.append(cur)
    return rows[-1][-1]


def effective_edit_distance(
    word: str,
    max_edits: int = SPELL_MAX_EDITS,
    term_length_threshold: list[int] | None = None,
) -> int:
    """Per-term edit-distance budget from the reference's
    ``term_length_threshold`` (search.rs:112-117): ``None``/empty →
    ``max_edits`` for every length; ``[4]`` → corrections only for
    terms of length ≥ 4; ``[2, 8]`` → ``max_edits`` from length 2,
    ``max_edits + 1`` from length 8 (one extra edit per additional
    threshold crossed). Below the first threshold → 0 (no
    correction)."""
    t = term_length_threshold
    if not t:
        return max_edits
    if len(word) < t[0]:
        return 0
    return max_edits + sum(1 for x in t[1:] if len(word) >= x)


def build_spell_dictionary(
    spark: SparkSession,
    store: IndexStore,
    max_edits: int = SPELL_MAX_EDITS,
    term_length_threshold: list[int] | None = None,
) -> None:
    """Distributed SymSpell dictionary: (dkey, term, df) rows, hash-
    partitioned by dkey bucket so probes prune to a few files. The
    term-stats table is log-structured after appends — sum df per
    term before exploding. ``term_length_threshold`` gates dictionary
    MEMBERSHIP exactly as the reference does at index time
    (index_posting.rs:20-36: terms shorter than the first threshold
    never enter the dictionary); the build's ``max_edits`` is
    recorded in ``_spell_meta.json`` and caps every later probe —
    symmetric-delete lookup is only complete up to the distance the
    dictionary was exploded with."""
    import json
    import tempfile

    min_len = (
        int(term_length_threshold[0]) if term_length_threshold else 0
    )
    ts = (
        store.term_stats(spark)
        .filter((F.col("term") != "") & (~F.col("term").contains("\x1e")))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            terms: list[str] = []
            dfs: list[int] = []
            for term, df_ in zip(pdf["term"].values, pdf["df"].values):
                if len(term) > SPELL_MAX_TERM_LEN or len(term) < min_len:
                    continue
                for k in _deletes(term, max_edits):
                    keys.append(k)
                    terms.append(term)
                    dfs.append(int(df_))
            yield pd.DataFrame(
                {
                    "dkey": keys,
                    "term": terms,
                    "df": pd.Series(dfs, dtype="int64"),
                }
            )

    rows = ts.mapInPandas(_explode, schema="dkey string, term string, df long")
    rows = rows.withColumn("dbucket", bucket_column("dkey", SPELL_BUCKETS))
    (
        rows.repartition(SPELL_BUCKETS, "dbucket")
        .sortWithinPartitions("dkey")
        .write.mode("overwrite")
        .partitionBy("dbucket")
        .parquet(_spell_path(store))
    )
    meta = {
        "max_edits": int(max_edits),
        "term_length_threshold": (
            [int(x) for x in term_length_threshold]
            if term_length_threshold
            else None
        ),
    }
    fd, tmp = tempfile.mkstemp(dir=_spell_path(store), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(_spell_path(store), "_spell_meta.json"))


def _spell_build_meta(store: IndexStore) -> dict:
    import json

    path = os.path.join(_spell_path(store), "_spell_meta.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        # dictionaries built before meta existed: the default depth
        return {"max_edits": SPELL_MAX_EDITS, "term_length_threshold": None}


def spell_correct(
    store: IndexStore,
    word: str,
    max_edits: int = SPELL_MAX_EDITS,
    term_length_threshold: list[int] | None = None,
) -> tuple[str, int, int] | None:
    """Best correction for ``word`` → (term, distance, df), ranked by
    (distance asc, df desc, term asc); None when nothing is within
    the edit budget. Distance is OSA Damerau-Levenshtein (adjacent
    transposition = one edit, matching the reference SymSpell).
    Driver-side pyarrow probe — no Spark job.

    ``term_length_threshold`` applies the reference's per-length
    budget (search.rs:112-117 via :func:`effective_edit_distance`);
    the result is additionally capped at the distance the dictionary
    was BUILT with — symmetric-delete lookup beyond the build depth
    would silently miss candidates."""
    max_edits = effective_edit_distance(
        word, max_edits, term_length_threshold
    )
    max_edits = min(max_edits, int(_spell_build_meta(store)["max_edits"]))
    if max_edits <= 0:
        return None
    tbl = read_buckets(
        _spell_path(store), SPELL_DDL, _deletes(word.lower(), max_edits),
        SPELL_BUCKETS, ["term", "df"], key="dkey", bucket="dbucket",
    )
    best: tuple[int, int, str] | None = None
    seen: set[str] = set()
    for term, df_ in zip(
        tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
    ):
        if term in seen:
            continue
        seen.add(term)
        dist = damerau_levenshtein(word.lower(), term)
        if dist > max_edits:
            continue
        key = (dist, -int(df_), term)
        if best is None or key < best:
            best = key
    if best is None:
        return None
    return best[2], best[0], -best[1]


def build_completion_dictionary(
    spark: SparkSession,
    store: IndexStore,
    top_k: int = QAC_TOP_K,
    docs: DataFrame | None = None,
    text_col: str = "text",
) -> None:
    """Prefix → top-k (term, df) suggestions, df desc / term asc (the
    reference's completion dictionary, commit.rs:417-426).

    With ``docs``, suggestions also include MULTI-GRAMS: adjacent word
    pairs tokenized operator-free (``tokenizer.tokenize_lite`` — the
    reference indexes its QAC dictionary through tokenizer_lite,
    tokenizer.rs:1393-1668), ranked by the number of docs containing
    the adjacency — so the prefix "fast t" completes to "fast table"."""
    from pyspark.sql.window import Window

    ts = (
        store.term_stats(spark)
        .filter((F.col("term") != "") & (~F.col("term").contains("\x1e")))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    if docs is not None:
        tokenizer_name = store.meta.get("tokenizer", "unicode_alphanumeric")

        def _bigrams(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from seekstorm_spark.tokenizer import tokenize_lite

            for pdf in batches:
                out: list[str] = []
                for text in pdf[text_col].values:
                    toks = tokenize_lite(
                        text if isinstance(text, str) else "", tokenizer_name
                    )
                    # distinct per doc → count(*) is a document frequency
                    out.extend(
                        {
                            toks[i] + " " + toks[i + 1]
                            for i in range(len(toks) - 1)
                        }
                    )
                yield pd.DataFrame({"term": out})

        bigrams = (
            docs.select(text_col)
            .mapInPandas(_bigrams, schema="term string")
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("df"))
        )
        ts = ts.unionByName(bigrams)
    prefixes = ts.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(QAC_MIN_PREFIX),
                    F.least(F.length("term"), F.lit(QAC_MAX_PREFIX)),
                ),
                lambda n: F.substring(F.col("term"), 1, n),
            )
        ).alias("prefix"),
        "term",
        "df",
    )
    w = Window.partitionBy("prefix").orderBy(
        F.col("df").desc(), F.col("term").asc()
    )
    top = (
        prefixes.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .withColumn("pbucket", bucket_column("prefix", SPELL_BUCKETS))
    )
    (
        top.repartition(SPELL_BUCKETS, "pbucket")
        .sortWithinPartitions("prefix", "rank")
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(_qac_path(store))
    )


def complete(
    store: IndexStore, prefix: str, k: int = 5
) -> list[tuple[str, int]]:
    """Top-k completions for ``prefix`` → [(term, df)], df desc / term
    asc. Driver-side pyarrow probe — no Spark job."""
    tbl = read_buckets(
        _qac_path(store), COMPLETIONS_DDL, [prefix.lower()], SPELL_BUCKETS,
        ["term", "df", "rank"], key="prefix", bucket="pbucket",
    )
    rows = sorted(
        zip(
            tbl.column("rank").to_pylist(),
            tbl.column("term").to_pylist(),
            tbl.column("df").to_pylist(),
        )
    )
    return [(t, int(d)) for _r, t, d in rows[:k]]


def has_spell(store: IndexStore) -> bool:
    return os.path.exists(_spell_path(store))


def has_completions(store: IndexStore) -> bool:
    return os.path.exists(_qac_path(store))
