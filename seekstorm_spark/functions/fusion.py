"""Hybrid lexical + vector result fusion (Reciprocal Rank Fusion).

Engine analog of the reference's hybrid search
(`/root/reference/seekstorm/src/search.rs:1962-2035`): the lexical
top-k and the vector top-k are fused by RRF with k=0.6 —
``score = Σ 1/(k + rank)`` over the lists a doc appears in, rank
1-based. Expressed as two window-ranked DataFrames + full outer join,
fully Catalyst-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

RRF_K = 0.6  # reference search.rs:1967


def rrf_fuse(
    lexical: DataFrame,
    vector: DataFrame,
    id_col: str = "docid",
    lex_score_col: str = "score",
    vec_score_col: str = "cos_sim",
    top_k: int = 10,
    k: float = RRF_K,
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fuse two ranked result DataFrames by RRF → (*partition_cols,
    docid, rrf_score), the ``top_k`` best per partition.

    Ranks derive from each list's own score ordering (desc, id asc
    tiebreak) within each partition — one query when
    ``partition_cols`` is empty, else one per value, e.g.
    ``("query_id",)`` for a batch; docs missing from a list contribute
    nothing for it.
    """
    parts = list(partition_cols)

    def ranked(df: DataFrame, score_col: str, rank_col: str) -> DataFrame:
        w = Window.partitionBy(*parts).orderBy(
            F.col(score_col).desc(), F.col(id_col).asc()
        )
        return df.select(
            *parts, F.col(id_col).alias("docid"),
            F.row_number().over(w).alias(rank_col),
        )

    fused = (
        ranked(lexical, lex_score_col, "lex_rank")
        .join(
            ranked(vector, vec_score_col, "vec_rank"),
            [*parts, "docid"], "full_outer",
        )
        .select(
            *parts,
            "docid",
            F.round(
                F.coalesce(1.0 / (F.lit(k) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(k) + F.col("vec_rank")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    order = [*parts, F.col("rrf_score").desc(), F.col("docid").asc()]
    if not parts:
        return fused.orderBy(*order).limit(top_k)
    fw = Window.partitionBy(*parts).orderBy(*order[len(parts):])
    return (
        fused.withColumn("rn", F.row_number().over(fw))
        .filter(F.col("rn") <= top_k)
        .drop("rn")
        .orderBy(*order)
    )
