"""Numeric sort-key block skipping (v5 zone bounds): top-k by a
numeric facet maintains a KEY threshold per partition and skips
blocks whose zone min/max cannot beat it — the emit-all path's answer
to giving up the WAND score threshold (round-3 verdict item 9)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from seekstorm_spark.index.builder import IndexBuilder, assign_docids
from seekstorm_spark.query.engine import (
    _effective_stats,
    _make_kernel,
    _plan,
    _posting_rows,
    _resolve_fields,
    search,
)
from seekstorm_spark.sources.webtext import synth_webtext


@pytest.fixture(scope="module")
def priced_store(spark, tmp_path_factory):
    # price == docid and block_size=64 → 8 blocks with disjoint,
    # strictly increasing zone bounds [0..63], [64..127], …
    docs = assign_docids(synth_webtext(spark, 512, seed=41), order_col="url")
    docs = docs.withColumn("price", F.col("docid").cast("double"))
    path = str(tmp_path_factory.mktemp("priced") / "idx")
    store = IndexBuilder(
        spark, path, n_buckets=4, block_size=64, facet_cols=["price"]
    ).build(docs, text_col="text", id_col="docid")
    return store


def _kernel_rows(spark, store, query="term00000"):
    plan = _plan(spark, store, query, "union")
    boosts, allowed = _resolve_fields(store, None, None)
    _n, avgdl = _effective_stats(store, None)
    rows, _n_shards = _posting_rows(
        spark, store, [(0, plan)], allowed, facet_cols=["price"],
        keep_bounds=["price"],
    )
    rows = rows.toPandas()
    assert {"zb_min_price", "zb_max_price"} <= set(rows.columns)
    return plan, avgdl, boosts, rows


def test_kernel_skips_blocks_past_key_threshold(spark, priced_store):
    """Feed the kernel all blocks in zone order: once need_k keys are
    collected, later blocks (zone min > kth key) must be skipped —
    their docids absent from the emitted candidates; without
    sort_prune every match is emitted."""
    store = priced_store
    plan, avgdl, boosts, rows = _kernel_rows(spark, store)
    rows = rows.sort_values(["zb_min_price", "block_id"]).reset_index(
        drop=True
    )
    n_blocks = rows["block_id"].nunique()
    assert n_blocks >= 6

    def run(sort_prune, block_rows=None):
        kernel = _make_kernel(
            [(0, plan)], 5, False, avgdl, boosts, block_size=64,
            emit_all=True, emit_facets=["price"],
            facet_bufs={"fb_price": ("numeric", 0)},
            sort_prune=sort_prune,
        )
        feed = rows if block_rows is None else block_rows
        return pd.concat(list(kernel(iter([feed]))))

    full = run(None)
    pruned = run(("price", "asc", 5))
    # every candidate the pruned run emitted is a real match
    assert set(pruned["docid"]) <= set(full["docid"])
    # the first 5 by key are intact (bit-identical values)
    key = lambda df: df.sort_values(["fb_price", "docid"]).head(5)
    assert key(pruned)[["docid", "score", "fb_price"]].values.tolist() == (
        key(full)[["docid", "score", "fb_price"]].values.tolist()
    )
    # and blocks past the threshold were SKIPPED: the pruned emit
    # covers strictly fewer blocks than the full emit
    blocks_of = lambda df: set((df["docid"] // 64).astype(int))
    assert len(blocks_of(pruned)) < len(blocks_of(full))
    # the top block (price 0..63) always survives
    assert 0 in blocks_of(pruned)

    # desc skips from the other end — blocks must arrive in desc zone
    # order (as search() schedules them for a desc key)
    desc_rows = rows.sort_values(
        ["zb_max_price", "block_id"], ascending=[False, True]
    ).reset_index(drop=True)
    pruned_desc = run(("price", "desc", 5), block_rows=desc_rows)
    kd = pruned_desc.sort_values(
        ["fb_price", "docid"], ascending=[False, True]
    ).head(5)
    kf = full.sort_values(
        ["fb_price", "docid"], ascending=[False, True]
    ).head(5)
    assert kd[["docid", "fb_price"]].values.tolist() == (
        kf[["docid", "fb_price"]].values.tolist()
    )
    assert len(blocks_of(pruned_desc)) < len(blocks_of(full))


def test_sorted_search_identical_to_unpruned(spark, priced_store):
    """search(result_sort=[numeric]) with the block skip on must be
    bit-identical to prune=False (which never skips), asc and desc,
    including past the first block boundary."""
    store = priced_store
    for direction in ("asc", "desc"):
        got = search(
            spark, store, "term00000", top_k=20, default_type="union",
            result_sort=[("price", direction)],
        ).collect()
        want = search(
            spark, store, "term00000", top_k=20, default_type="union",
            result_sort=[("price", direction)], prune=False,
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        assert len(got) == 20
        vals = [r["price"] for r in got]
        assert vals == sorted(vals, reverse=(direction == "desc"))


def test_wand_facet_sort_shape_unchanged(spark, priced_store):
    """String-facet sorts don't engage the skip; secondary score key
    still orders within equal primary keys."""
    store = priced_store
    out = search(
        spark, store, "term00000", top_k=10, default_type="union",
        result_sort=[("price", "asc"), ("score", "desc")],
    ).collect()
    assert [r["price"] for r in out] == sorted(r["price"] for r in out)


@pytest.fixture(scope="module")
def labeled_store(spark, tmp_path_factory):
    """String facet whose dictionary codes are block-disjoint:
    category = f"cat{docid // 64:02d}" (one value per 64-docid block)
    except every 16th doc, which has NO category (nulls-last + skip
    admissibility). Code order == value order by construction."""
    docs = assign_docids(synth_webtext(spark, 512, seed=43), order_col="url")
    docs = docs.withColumn(
        "category",
        F.when(
            F.col("docid") % 16 != 0,
            F.format_string("cat%02d", (F.col("docid") / 64).cast("int")),
        ),
    )
    path = str(tmp_path_factory.mktemp("labeled") / "idx")
    store = IndexBuilder(
        spark, path, n_buckets=4, block_size=64, facet_cols=["category"]
    ).build(docs, text_col="text", id_col="docid")
    return store


def test_string_blocks_carry_code_bounds(spark, labeled_store):
    rows = labeled_store.facet_blocks(spark).toPandas()
    cat = rows[rows["facet"] == "category"].sort_values("block_id")
    # one category per block -> vmin == vmax == the block's code
    assert (cat["vmin"] == cat["vmax"]).all()
    assert cat["vmin"].tolist() == sorted(cat["vmin"].tolist())
    assert not cat["vmin"].isna().any()


def test_string_kernel_skips_blocks(spark, labeled_store):
    """Same skip shape as the numeric test, driven by CODE bounds."""
    store = labeled_store
    plan = _plan(spark, store, "term00000", "union")
    boosts, allowed = _resolve_fields(store, None, None)
    _n, avgdl = _effective_stats(store, None)
    rows, _n_shards = _posting_rows(
        spark, store, [(0, plan)], allowed, facet_cols=["category"],
        keep_bounds=["category"],
    )
    rows = rows.toPandas()
    assert {"zb_min_category", "zb_max_category"} <= set(rows.columns)
    rows = rows.sort_values(["zb_min_category", "block_id"]).reset_index(
        drop=True
    )
    n_values = len(store.meta["facets"]["category"]["values"])

    def run(sort_prune):
        kernel = _make_kernel(
            [(0, plan)], 5, False, avgdl, boosts, block_size=64,
            emit_all=True, emit_facets=["category"],
            facet_bufs={"fb_category": ("string", n_values)},
            sort_prune=sort_prune,
        )
        return pd.concat(list(kernel(iter([rows]))))

    full = run(None)
    pruned = run(("category", "asc", 5))
    assert set(pruned["docid"]) <= set(full["docid"])
    blocks_of = lambda df: set((df["docid"] // 64).astype(int))
    assert len(blocks_of(pruned)) < len(blocks_of(full))
    assert 0 in blocks_of(pruned)
    # top-5 by code identical (missing codes excluded from the heap)
    miss = n_values  # not a real code
    key = lambda df: df[df["fb_category"] < miss].sort_values(
        ["fb_category", "docid"]
    ).head(5)
    assert key(pruned)[["docid", "fb_category"]].values.tolist() == (
        key(full)[["docid", "fb_category"]].values.tolist()
    )


def test_string_sorted_search_identical_to_unpruned(spark, labeled_store):
    """search(result_sort=[string]) with the code-zone skip ≡
    prune=False, asc and desc; missing-category docs sort LAST both
    directions (nulls-last contract)."""
    store = labeled_store
    for direction in ("asc", "desc"):
        got = search(
            spark, store, "term00000", top_k=25, default_type="union",
            result_sort=[("category", direction)],
        ).collect()
        want = search(
            spark, store, "term00000", top_k=25, default_type="union",
            result_sort=[("category", direction)], prune=False,
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        assert len(got) == 25
        vals = [r["category"] for r in got]
        non_null = [v for v in vals if v is not None]
        assert non_null == sorted(non_null, reverse=(direction == "desc"))
        # no None may appear before a non-None (nulls last)
        if None in vals:
            assert vals.index(None) >= len(non_null)
