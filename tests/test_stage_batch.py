"""``stage_batch`` schedules a micro-batch at one task per core and
keeps its staged artifacts unchanged.

* Frozen digests: per-table (row count, sha256 of the sorted rows) of
  the staged postings, term_stats, doc_meta (and facets), plus the
  file count of every ``tbucket=`` dir, for fixed batches. The values
  in ``FROZEN`` were computed with the 16 + 8 + 64 + 64-task staging
  plan this file guards against; the narrower plan must reproduce
  them exactly.
* Task width: no Spark stage a micro-batch launches may be wider than
  ``max(P, spark.sql.shuffle.partitions)`` with
  ``P = min(n_buckets, defaultParallelism)`` — the 64-task writes and
  staged-postings listing of a 64-bucket index are what made a
  1,000-doc ``/docs`` cost seconds (roughly 50 ms per Python task,
  paid one after another on a small host).
* A batch with no postings (every text empty or null) stages, stays
  invisible to queries and commits its documents.
* The same batches passed as driver-resident Arrow tables stage the
  same artifacts in-process with no Spark job, and the DataFrame
  form's errors, raised before anything is staged.
* A realtime query reads only its own buckets of a staged batch, and
  ``assign_docids`` fails instead of repeating docids when its input
  changes between the count job and the numbering job.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from seekstorm_spark.index.builder import IndexBuilder, assign_docids
from seekstorm_spark.query.engine import search
from seekstorm_spark.sources.webtext import synth_webtext
from seekstorm_spark.streaming.incremental import commit_batch, stage_batch

_SORT_KEYS = {
    "postings": ["tbucket", "block_id", "term", "field"],
    "term_stats": ["tbucket", "term"],
    "doc_meta": ["docid", "field"],
    "facets": ["facet", "block_id"],
}


def _table_digest(path: str, table: str) -> tuple[int, str]:
    """(row count, sha256 of the rows sorted by the table's key); every
    column's values are hashed in name order (bytes, ints, None)."""
    import pyarrow.dataset as pads

    if not os.path.exists(path):
        return (0, "")
    df = pads.dataset(path, partitioning="hive").to_table().to_pandas()
    if not len(df):
        return (0, "")
    df = df.sort_values(_SORT_KEYS[table], kind="mergesort").reset_index(
        drop=True
    )
    h = hashlib.sha256()
    for col in sorted(df.columns):
        h.update(repr((col, df[col].tolist())).encode())
    return (len(df), h.hexdigest())


def _files_per_dir(path: str, prefix: str) -> dict[str, int]:
    if not os.path.exists(path):
        return {}
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
        for d in sorted(os.listdir(path))
        if d.startswith(prefix + "=")
    }


def _artifact_summary(root: str) -> dict:
    """Digests of the postings / term_stats / doc_meta / facets tables
    under ``root`` (a staging dir or an index dir), the number of
    ``tbucket=`` dirs, and the set of per-dir file counts."""
    out: dict = {}
    for table in ("postings", "term_stats", "doc_meta", "facets"):
        path = os.path.join(root, table)
        out[table] = _table_digest(path, table)
        if table in ("postings", "term_stats"):
            files = _files_per_dir(path, "tbucket")
            out[table + "_dirs"] = (len(files), sorted(set(files.values())))
    return out


def _staged_summary(sb) -> dict:
    out = _artifact_summary(sb.stage_path)
    out["manifest"] = (sb.batch_n, sb.batch_pos_sum, sb.next_docid)
    return out


def _webtext(spark, n, seed, *cols):
    return synth_webtext(spark, n, seed=seed, partitions=4).select(
        F.substring("url", -10, 10).cast("long").alias("doc_id"), *cols
    )


def _as_frame(df):
    return df


def _as_table(df):
    return df.toArrow()


def _builder_ids_64(spark, root, batch=_as_frame):
    store = IndexBuilder(spark, os.path.join(root, "idx"), n_buckets=64).build(
        _webtext(spark, 400, 71, "text").drop("doc_id"), text_col="text"
    )
    sb = stage_batch(
        spark, store, batch(_webtext(spark, 200, 72, "text").drop("doc_id"))
    )
    return {"staged": _staged_summary(sb)}


def _idcol_interleaved(spark, root, batch=_as_frame):
    docs = _webtext(spark, 500, 73, "text")
    store = IndexBuilder(
        spark, os.path.join(root, "idx"), n_buckets=8, block_size=256
    ).build(docs.filter(F.col("doc_id") < 300), text_col="text", id_col="doc_id")
    sb = stage_batch(
        spark,
        store,
        batch(docs.filter(F.col("doc_id") >= 300).repartition(4, F.rand(7))),
        batch_id=3,
        id_col="doc_id",
    )
    return {"staged": _staged_summary(sb)}


def _fields_facet_syn_stop(spark, root, batch=_as_frame):
    store = IndexBuilder(
        spark,
        os.path.join(root, "idx"),
        n_buckets=16,
        block_size=128,
        fields=["text", "lang"],
        facet_cols=["lang"],
        stop_words=frozenset(["term00003"]),
        synonyms=[
            {"terms": ["term00005", "zsyn"]},
            {"terms": ["term00007", "term00011"], "multiway": False},
        ],
    ).build(_webtext(spark, 300, 74, "text", "lang").drop("doc_id"), text_col="text")
    sb = stage_batch(
        spark, store, batch(_webtext(spark, 260, 75, "text", "lang").drop("doc_id"))
    )
    return {"staged": _staged_summary(sb)}


def _chained_commit(spark, root, batch=_as_frame):
    store = IndexBuilder(
        spark, os.path.join(root, "idx"), n_buckets=8, block_size=256
    ).build(_webtext(spark, 300, 76, "text").drop("doc_id"), text_col="text")
    b1 = stage_batch(
        spark, store, batch(_webtext(spark, 150, 77, "text").drop("doc_id"))
    )
    b2 = stage_batch(
        spark,
        store,
        batch(_webtext(spark, 150, 78, "text").drop("doc_id")),
        min_next_docid=b1.next_docid,
    )
    out = {"staged1": _staged_summary(b1), "staged2": _staged_summary(b2)}
    commit_batch(spark, store, b1)
    commit_batch(spark, store, b2)
    out["committed"] = _artifact_summary(store.path)
    out["committed"]["meta"] = (
        store.meta["n_docs"],
        store.meta["next_docid"],
        store.meta["positions_sum_normalized"],
    )
    return out


CONFIGS = {
    "builder_ids_64": _builder_ids_64,
    "idcol_interleaved": _idcol_interleaved,
    "fields_facet_syn_stop": _fields_facet_syn_stop,
    "chained_commit": _chained_commit,
}

# per config: what the 16 + 8 + 64 + 64-task staging plan produced
FROZEN = {
    "builder_ids_64": {
        "staged": {
            "doc_meta": (200, "b30d0343a2889fa16ac18bb08220b00f4c8c70834e1dfa69076c6c7ff79423bd"),
            "facets": (0, ""),
            "manifest": (200, 39907, 65736),
            "postings": (5227, "c164df2ba9c025913ac34ba152305ae969b15e4a3ff374b662dad8d3b15f8f30"),
            "postings_dirs": (64, [1]),
            "term_stats": (5227, "cfd3e7cc47626d2ee44ba556f1f764f6aef9de31fadc64e7e346173851b6c8c4"),
            "term_stats_dirs": (64, [1]),
        }
    },
    "chained_commit": {
        "committed": {
            "doc_meta": (600, "d4610949baf72a4bf2fe1628a779f6d10e8d9d4409d9020ef82fa0c8ed1f5062"),
            "facets": (0, ""),
            "meta": (600, 918, 121596),
            "postings": (17549, "a9526300975bf6276b73cf01638cfe42efb119e0faeda44f57666481274d6075"),
            "postings_dirs": (8, [3]),
            "term_stats": (15703, "12d0964b6a54864631a9f378f590ce2f6ac42ca7639df5870c4bbb666d487daa"),
            "term_stats_dirs": (8, [3]),
        },
        "staged1": {
            "doc_meta": (150, "c2508bf49a717061afb8e767bfea612bc545266b7d20feb2c359a9c867cd6b26"),
            "facets": (0, ""),
            "manifest": (150, 29601, 662),
            "postings": (4598, "7e311975599eb629fe2e9fe859e6e8c75e3757b335bcab34cb4dd348cce552f4"),
            "postings_dirs": (8, [1]),
            "term_stats": (4598, "68824536cf11f755d86544f0b30932e985e9ca0324aa4b12f38cda64567a6621"),
            "term_stats_dirs": (8, [1]),
        },
        "staged2": {
            "doc_meta": (150, "367fd4b3c7497d3ab1b7e0e4e1f22ea757e094a391d9c8fe6766432a59085f53"),
            "facets": (0, ""),
            "manifest": (150, 32943, 918),
            "postings": (4761, "569cbdf7f44d4ecb8c08025d2878f32c58eb6a6689ce545bb8a604f8ba3cb5f4"),
            "postings_dirs": (8, [1]),
            "term_stats": (4761, "e4c22e989d92b4d389f039b4b5683072ef551b314715c0a939fd74dd5c9b298e"),
            "term_stats_dirs": (8, [1]),
        },
    },
    "fields_facet_syn_stop": {
        "staged": {
            "doc_meta": (520, "246a32769ed612d6110a6c561725ee501c416b5055c8e4b564f8e9de9d1bb5d0"),
            "facets": (3, "e32219d5aaf72410a581d2a08dccfb382bc3085816415d98c86400a4fd93b658"),
            "manifest": (260, 48765, 644),
            "postings": (8540, "13668ea25b7dbe6c4a18939c030f38a2ca470a60c500a008ccb3957fab36e273"),
            "postings_dirs": (16, [1]),
            "term_stats": (5883, "dc28dc4d37aa3b1bf5a7838b85ac7083628968403562eacdc91dc4dcc116f2f2"),
            "term_stats_dirs": (16, [1]),
        }
    },
    "idcol_interleaved": {
        "staged": {
            "doc_meta": (200, "0746845fb94685e0178dca53513fad96bf64b813c324701ba15eafc91ebf7159"),
            "facets": (0, ""),
            "manifest": (200, 40715, 500),
            "postings": (5352, "0654cef414266ea75aaaca4dc66fdcdda0609854e92b12391d69d532e0442b7a"),
            "postings_dirs": (8, [1]),
            "term_stats": (5352, "e315b79a8d4e3ef78dd82d9214eedd21e3840a4f9fec07480eec873268989782"),
            "term_stats_dirs": (8, [1]),
        }
    },
}


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_staged_artifacts_match_frozen(spark, tmp_path, name):
    got = CONFIGS[name](spark, str(tmp_path))
    assert got == FROZEN[name]


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_table_batch_matches_frozen(spark, tmp_path, name):
    """The same batches passed as driver-resident Arrow tables stage
    and commit the same rows and files."""
    got = CONFIGS[name](spark, str(tmp_path), batch=_as_table)
    assert got == FROZEN[name]


def _launched_stage_widths(sc, group: str) -> list[int]:
    """Task counts of the stages that ran in ``group``'s jobs (a stage
    whose shuffle output was reused is listed by its job but runs no
    task)."""
    st = sc.statusTracker()
    widths = []
    for job in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks:
                widths.append(info.numTasks)
    return widths


def test_stage_batch_runs_at_core_width(spark, tmp_path):
    """On a 64-bucket index no stage of a micro-batch may be wider than
    max(P, shuffle partitions): tokenize, splice and both writes run
    in P = min(n_buckets, defaultParallelism) tasks, and the staged
    postings are never listed back (64 leaf dirs would take a 64-task
    listing job)."""
    sc = spark.sparkContext
    store = IndexBuilder(spark, str(tmp_path / "idx"), n_buckets=64).build(
        _webtext(spark, 300, 81, "text").drop("doc_id"), text_col="text"
    )
    batch = _webtext(spark, 200, 82, "text").drop("doc_id")
    width = min(64, sc.defaultParallelism)
    bound = max(width, int(spark.conf.get("spark.sql.shuffle.partitions")))
    group = "test-stage-batch-width"
    sc.setJobGroup(group, group)
    try:
        sb = stage_batch(spark, store, batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    widths = _launched_stage_widths(sc, group)
    assert widths and max(widths) <= bound, sorted(widths)
    assert width in widths
    # still one file per staged bucket dir
    for table in ("postings", "term_stats"):
        files = _files_per_dir(os.path.join(sb.stage_path, table), "tbucket")
        assert len(files) == 64 and set(files.values()) == {1}, table


def test_assign_docids_width_keeps_bucketed_docids(spark):
    """``width`` changes how many tasks hold the docs, never the
    docids: the window ranking equals the n_buckets-partition
    numbering, ties (equal keys) and a null key included, and the
    result is range-partitioned (ascending in each task, disjoint
    across tasks)."""
    docs = synth_webtext(spark, 300, seed=83, partitions=4).select(
        "url", "text"
    ).unionByName(
        spark.createDataFrame(
            [("dup-a", "same text"), ("dup-b", "same text"), ("null", None)],
            "url string, text string",
        )
    )
    plain = assign_docids(docs, order_col="text", n_buckets=16)
    ranged = assign_docids(docs, order_col="text", n_buckets=16, width=3)
    assert dict(plain.select("url", "docid").collect()) == dict(
        ranged.select("url", "docid").collect()
    )
    parts = [p for p in ranged.select("docid").rdd.glom().collect() if p]
    assert len(parts) == 3
    ids = [[r[0] for r in p] for p in parts]
    assert all(p == sorted(p) for p in ids)
    assert all(a[-1] < b[0] for a, b in zip(ids, ids[1:]))
    assert sorted(i for p in ids for i in p) == list(range(303))


def _hit_ids(df):
    return sorted(r["docid"] for r in df.collect())


def test_batch_without_postings_stages_and_commits(spark, tmp_path):
    """Every text empty or null: the batch stages no postings, adds no
    hits to a realtime query, and its commit still counts the docs."""
    _check_batch_without_postings(spark, tmp_path, _as_frame)


def test_table_batch_without_postings_stages_and_commits(spark, tmp_path):
    _check_batch_without_postings(spark, tmp_path, _as_table)


def _check_batch_without_postings(spark, tmp_path, batch):
    store = IndexBuilder(spark, str(tmp_path / "idx"), n_buckets=8).build(
        spark.createDataFrame([("a b",), ("b c",), ("c d",)], "text string"),
        text_col="text",
    )
    before = _hit_ids(search(spark, store, "b c", top_k=10))
    sb = stage_batch(
        spark,
        store,
        batch(spark.createDataFrame([("",), (None,)], "text string")),
    )
    assert sb.batch_n == 2
    assert _hit_ids(search(spark, store, "b c", top_k=10, staged=[sb])) == before
    commit_batch(spark, store, sb)
    assert store.meta["n_docs"] == 5
    assert _hit_ids(search(spark, store, "b c", top_k=10)) == before


def _staged_files(store) -> list[str]:
    root = os.path.join(store.path, "_staging")
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith((".parquet", ".json"))
    )


@pytest.fixture(scope="module")
def faceted_store(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("faceted")
    return IndexBuilder(
        spark, str(root / "idx"), n_buckets=4, facet_cols=["lang"]
    ).build(
        spark.createDataFrame(
            [(0, "a b", "en"), (1, "b c", "de"), (2, "c d", "en")],
            "doc_id long, text string, lang string",
        ),
        text_col="text",
        id_col="doc_id",
    )


_BAD_BATCHES = {
    # (rows, stage_batch keywords, error)
    "docid_column": (
        [(7, "x y", "en")], {}, "already carries a 'docid' column",
    ),
    "repeated_id": (
        [(5, "x y", "en"), (6, "y z", "de"), (6, "z w", "en")],
        {"id_col": "docid"},
        "duplicate docid 6",
    ),
    "facet_value": (
        [(5, "x y", "fr")], {"id_col": "docid"}, r"values \['fr'\] not in",
    ),
}


@pytest.mark.parametrize("form", ["frame", "table"])
@pytest.mark.parametrize("case", sorted(_BAD_BATCHES))
def test_bad_batch_errors_match_and_stage_nothing(
    spark, faceted_store, case, form
):
    """Both input forms reject a bad batch with the same message (the
    Table form as a plain ``ValueError``; Spark wraps the tokenizer's
    in a Python worker error) and leave no staged file behind."""
    rows, kwargs, message = _BAD_BATCHES[case]
    df = spark.createDataFrame(rows, "docid long, text string, lang string")
    batch = df if form == "frame" else df.toArrow()
    error = Exception if form == "frame" else ValueError
    with pytest.raises(error, match=message):
        stage_batch(spark, faceted_store, batch, batch_id=9, **kwargs)
    assert _staged_files(faceted_store) == []


@pytest.mark.parametrize("id_col", [None, "doc_id"])
def test_table_batch_runs_no_python_stage(spark, tmp_path, id_col):
    """A Table batch numbers, tokenizes, splices and writes in the
    driver: no Spark job, with builder ids or caller ids."""
    sc = spark.sparkContext
    docs = _webtext(spark, 300, 84, "text")
    store = IndexBuilder(spark, str(tmp_path / "idx"), n_buckets=64).build(
        docs.filter(F.col("doc_id") < 200), text_col="text", id_col="doc_id"
    )
    batch = docs.filter(F.col("doc_id") >= 200)
    if id_col is None:
        batch = batch.drop("doc_id")
    batch = batch.toArrow()
    group = f"test-table-stage-{id_col}"
    sc.setJobGroup(group, group)
    try:
        sb = stage_batch(spark, store, batch, id_col=id_col)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == [], jobs
    assert sb.batch_n == 100
    for table in ("postings", "term_stats"):
        files = _files_per_dir(os.path.join(sb.stage_path, table), "tbucket")
        assert len(files) == 64 and set(files.values()) == {1}, table


def test_table_docids_follow_the_frame_tie_rule(spark, tmp_path):
    """Builder docids of a Table batch are ranked on the driver; they
    must equal the DataFrame form's window ranking row for row when
    texts repeat (distinct urls), are null, empty or non-ASCII: null
    first, then UTF-8 byte order, equal texts in arrival order. A
    facet whose value differs between equal texts makes a swapped
    docid show in the staged artifacts too."""
    from seekstorm_spark.streaming.incremental import _frame_docs, _table_docs

    texts = [
        "dup text alpha", "dup text alpha", None, "", "dup text alpha",
        "é café", None, "", "中文 文本", "emoji 😀", "ab", "abc", "abcd",
        "Zebra", "zebra", "ü", "中", "é", "", None,
    ] + [f"term{i:05d} term{i % 7:05d}" for i in range(40)]
    tags = [f"t{i % 5}" for i in range(len(texts))]
    schema = "url string, text string, tag string"
    rows = [(f"http://u/{i}", t, g) for i, (t, g) in enumerate(zip(texts, tags))]
    batch = spark.createDataFrame(rows, schema)

    frame_ids = dict(
        _frame_docs(batch, "text", None, 65536, 3).select("url", "docid").collect()
    )
    numbered = _table_docs(batch.toArrow(), "text", None, 65536)
    table_ids = dict(
        zip(numbered["url"].to_pylist(), numbered["docid"].to_pylist())
    )
    assert table_ids == frame_ids
    assert sorted(table_ids.values()) == list(range(65536, 65536 + len(rows)))

    base = spark.createDataFrame(
        [(f"http://b/{i}", f"term{i:05d}", f"t{i % 5}") for i in range(30)],
        schema,
    )
    staged = []
    for form in (_as_frame, _as_table):
        store = IndexBuilder(
            spark, str(tmp_path / form.__name__), n_buckets=8,
            facet_cols=["tag"],
        ).build(base, text_col="text")
        sb = stage_batch(spark, store, form(batch.drop("url")))
        staged.append(_staged_summary(sb))
    assert staged[0] == staged[1]
    assert staged[0]["facets"][0] > 0


def test_staged_query_lists_only_its_buckets(spark, tmp_path):
    """A realtime query reads the staged batch's ``tbucket=`` dirs of
    its own terms only: on a 64-bucket batch (more leaf dirs than
    Spark lists in-process) no stage is wider than the shuffle
    partitions, and the hits equal the committed index's."""
    sc = spark.sparkContext
    store = IndexBuilder(spark, str(tmp_path / "idx"), n_buckets=64).build(
        _webtext(spark, 300, 85, "text").drop("doc_id"), text_col="text"
    )
    sb = stage_batch(spark, store, _webtext(spark, 200, 86, "text").drop("doc_id"))
    query = "term00001 term00004 term00017"
    search(spark, store, query, top_k=10).collect()  # warm the committed reader
    group = "test-staged-query-width"
    sc.setJobGroup(group, group)
    try:
        staged = search(spark, store, query, top_k=10, staged=[sb]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    widths = _launched_stage_widths(sc, group)
    bound = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert widths and max(widths) <= bound, sorted(widths)
    commit_batch(spark, store, sb)
    committed = search(spark, store, query, top_k=10).collect()
    assert [(r["docid"], r["score"]) for r in staged] == [
        (r["docid"], r["score"]) for r in committed
    ]


def test_assign_docids_fails_when_input_changes_between_jobs(spark, tmp_path):
    """A partitioning key that is constant during the count job and
    ``id`` afterwards models a source that changes between the two
    jobs: every row counted in the last of four partitions, then
    spread over all four. The numbering must fail, not hand out the
    same few docids once per partition."""
    from pyspark.sql.types import LongType

    marker = str(tmp_path / "first_stage")

    def key(i):
        from pyspark import TaskContext

        sid = TaskContext.get().stageId()
        try:  # the first stage to get here is the count job's
            fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(sid).encode())
            os.close(fd)
        except FileExistsError:
            pass
        with open(marker) as f:
            first = int(f.read() or sid)
        return 3 if sid == first else int(i)  # pmod(hash(3L), 4) == 3

    udf = F.udf(key, LongType()).asNondeterministic()
    docs = spark.range(16).repartition(4, udf("id"))
    with pytest.raises(Exception, match="more rows than the count job saw"):
        assign_docids(docs, None).select("docid").collect()
