"""Indexed query execution: block-max WAND over the postings table.

Spark-first re-expression of the reference's read path
(`/root/reference/seekstorm/src/search.rs:1154-2131`). A point query
is exactly ONE Spark job:

* query terms → driver-side pyarrow probe of the partitioned
  term-stats table (the reference's in-RAM segment-dictionary probe,
  `search.rs:3066-3303`) — no Spark pre-job; the table is
  log-structured (appends add per-batch partials), so the probe sums
  df per term; phrases rewrite GREEDILY TRIGRAM-FIRST onto pre-joined
  n-gram postings (`NGRAM_SEARCH.md`; reference `tokenizer.rs:898-1387`,
  `index.rs:1833-1872`) — remaining cross-unit adjacency checks run on
  the grams' own positions;
* optional query rewrite: ``rewrite="spell"`` substitutes zero-df
  terms with their SymSpell correction, ``rewrite="suggest"``
  completes the trailing term from the QAC dictionary (reference
  SearchRewrite / SearchSuggest, `search.rs:1200-1411`);
* partition-pruned postings scan — only the query terms' ``tbucket``
  parquet partitions are read, with pushed-down term (and field)
  filters; term idfs ride the kernel closure, not a join;
  ``staged=[StagedBatch…]`` unions an uncommitted micro-batch's
  postings/stats into the same scan — the reference's realtime
  level-0 (`realtime_search.rs:921-2095`): a doc is searchable the
  moment staging finishes, before its commit;
* blocks that cannot contain a top-k doc are skipped via per-block
  score bounds computed at query time from (max_tf, min_dl) and the
  live avgdl (block-max WAND, reference `intersection.rs:2224-2233`,
  `single.rs:372-386`, metadata `compress_postinglist.rs:530-676`) —
  a ``mapInPandas`` kernel with a per-partition threshold heap; facet
  filters (string-dictionary bytes AND numeric-range float64 arrays)
  and geo radius filters apply inside the kernel from per-block facet
  arrays (`search.rs:2543-2726`,
  geo `min_heap.rs` Point comparator); facet COUNTING over all matches
  also runs inside the scan (`add_result.rs:487-646`,
  `search.rs:3598-3764`);
* AND = multi-way sorted intersection over per-term field unions
  (`intersection.rs:112-2022`; numpy ``intersect1d`` replaces the
  hand-rolled SIMD/galloping); OR = k-way union with per-doc BM25F
  score sum (`union.rs:32-1166`, `add_result.rs:1171-1426`);
  NOT = anti-probe (`add_result.rs:3005-3062`); phrase = AND +
  position-offset alignment within a field (`add_result.rs:3152-3391`);
* global top-k = per-partition heaps → ``orderBy(score, docid).limit``
  (the reference's shard-merge, `search.rs:1875-2122`); multi-key
  result sorts switch the kernel to emit-all (`min_heap.rs:56-546`).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from seekstorm_spark.codecs import (
    ROARING_BLOCK_SIZE,
    decode_docids,
    decode_positions,
    decode_tfs,
)
from seekstorm_spark.functions.geo import (
    KM_PER_MILE,
    geo_boxes_for_radius,
    haversine_km,
    morton_decode,
)
from seekstorm_spark.hashing import term_buckets
from seekstorm_spark.index.builder import (
    NGRAM_SEP,
    decode_string_set_block,
    facet_code_dtype,
    facet_kind,
    facet_missing_code,
    facet_values,
)
from seekstorm_spark.index.store import (
    POSTINGS_DDL,
    TERM_STATS_DDL,
    IndexStore,
    read_buckets,
)
from seekstorm_spark.quantization import _DECODE_NP, avgdl_f32
from seekstorm_spark.scoring import B, K, idf_f32
from seekstorm_spark.sqlexpr import double_array
from seekstorm_spark.tokenizer import ParsedQuery, parse_query

RESULT_SCHEMA = "docid long, score float"
COUNT_SCHEMA = "matches long"
FACET_COUNT_SCHEMA = "facet string, code long, matches long"

# per-index probed term stats: {(path, generation): {"df": {term: df},
# "missing": set()}}. The probe reads ONLY the query terms' tbucket
# partition files with pyarrow on the driver — no Spark job, and the
# read is bounded by vocabulary/n_buckets regardless of corpus size
# (the reference's in-RAM segment dictionary probe, search.rs:3066-3303).
_TERM_STATS_CACHE: dict[tuple, dict] = {}
# per-index cached delete sets: {(path, generation): np.ndarray}
_DELETE_CACHE: dict[tuple, np.ndarray] = {}
# per-(session, index generation) cached postings reader DataFrames —
# reusing the DataFrame reuses its resolved file index, saving the
# ~0.4 s directory listing + schema inference EVERY query would
# otherwise pay
_READER_CACHE: dict[tuple, DataFrame] = {}


def _cached_postings(spark: SparkSession, store: IndexStore) -> DataFrame:
    key = (id(spark), store.path, _dir_mtime(store.postings_path))
    df = _READER_CACHE.get(key)
    if df is None:
        df = store.postings(spark)
        _READER_CACHE[key] = df
    return df


def _dir_mtime(path: str) -> float:
    """Index-table generation: max mtime over the directory AND its
    immediate partition subdirs. Appends promote files INTO existing
    ``tbucket=`` subdirs via os.replace, which bumps the subdir mtime
    but not the parent's — keying on the parent alone left long-lived
    serving processes on the pre-append file listing."""
    import os

    try:
        m = os.path.getmtime(path)
        with os.scandir(path) as it:
            for e in it:
                if e.is_dir():
                    m = max(m, e.stat().st_mtime)
        return m
    except OSError:
        return -1.0


def _probe_stats_dir(
    path: str, terms: list[str], n_buckets: int
) -> dict[str, int]:
    """Raw driver-side probe of one (possibly log-structured)
    term-stats directory: term → Σ df across partial rows."""
    tbl = read_buckets(path, TERM_STATS_DDL, terms, n_buckets, ["term", "df"])
    out: dict[str, int] = {}
    for t, v in zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()):
        out[t] = out.get(t, 0) + int(v)
    return out


def _probe_term_stats(
    store: IndexStore, terms: list[str], staged: list | None = None
) -> dict[str, int]:
    """term → df for the terms present in the index (driver-side
    partition-pruned parquet probe; cached per index generation).
    ``staged`` batches' term-stats deltas are probed uncached (tiny)
    and summed in — realtime level-0 stats."""
    if not terms:
        return {}
    key = (store.path, _dir_mtime(store.term_stats_path))
    entry = _TERM_STATS_CACHE.setdefault(key, {"df": {}, "missing": set()})
    need = [t for t in terms if t not in entry["df"] and t not in entry["missing"]]
    if need:
        found = _probe_stats_dir(store.term_stats_path, need, store.n_buckets)
        entry["df"].update(found)
        entry["missing"].update(t for t in need if t not in found)
    out = {t: entry["df"][t] for t in terms if t in entry["df"]}
    for sb in staged or []:
        extra = _probe_stats_dir(sb.term_stats_path, terms, store.n_buckets)
        for t, v in extra.items():
            out[t] = out.get(t, 0) + v
    return out


def invalidate_term_stats_cache(path: str | None = None) -> None:
    if path is None:
        _TERM_STATS_CACHE.clear()
        _DELETE_CACHE.clear()
        _READER_CACHE.clear()
    else:
        for cache in (_TERM_STATS_CACHE, _DELETE_CACHE):
            for k in [k for k in cache if k[0] == path]:
                cache.pop(k, None)
        for k in [k for k in _READER_CACHE if k[1] == path]:
            _READER_CACHE.pop(k, None)


def _effective_stats(store: IndexStore, staged: list | None) -> tuple[int, float]:
    """(n_docs, avgdl) including any staged batches — f32 division per
    reference commit.rs:318-319."""
    if not staged:
        return store.n_docs, store.avgdl
    n = store.n_docs
    ps = int(store.meta.get("positions_sum_normalized", 0))
    for sb in staged:
        n += sb.batch_n
        ps += sb.batch_pos_sum
    return n, avgdl_f32(ps, n)


@dataclass
class QueryPlan:
    qtype: str  # union | intersection | phrase | ngram
    pos_terms: dict[str, float]  # ORIGINAL term -> f32 idf
    not_terms: list[str]
    phrase: list[tuple[str, int]]  # original (term, offset) incl. duplicates
    missing_required: bool
    # phrase→n-gram rewrite (NGRAM_SEARCH.md, tokenizer.rs:673-1387):
    # units = the phrase segmented into posting lookups — gram keys
    # (pre-joined adjacency postings carrying partial-term tfs) and
    # leftover single terms, each with its phrase offset. qtype
    # "ngram" = ONE unit covers the whole phrase (no positional join
    # at all); "phrase" with units aligns the units on the grams' own
    # positions. unit_parts maps gram key → its original terms.
    units: list[tuple[str, int]] | None = None
    unit_parts: dict[str, list[str]] = dc_field(default_factory=dict)

    def required_posting_terms(self) -> list[str]:
        """Posting terms the scan must find in a block for an
        intersection/phrase to match: the units' keys plus any
        positive term not covered by a unit (e.g. required terms
        outside the quoted span)."""
        if self.units is None:
            return sorted(self.pos_terms)
        covered: set[str] = set()
        for u, _off in self.units:
            covered.update(self.unit_parts.get(u, [u]))
        extra = [t for t in self.pos_terms if t not in covered]
        return sorted({u for u, _off in self.units} | set(extra))


def _classify(term: str, frequent: frozenset[str]) -> str:
    return "f" if term in frequent else "r"


def _segment_phrase(
    phrase_terms: list[str],
    frequent: frozenset[str],
    patterns: frozenset[str],
) -> list[tuple[str, int]]:
    """Greedy trigram-first segmentation of a phrase into posting
    units (reference rewrites longest-gram-first, index.rs:1833-1872).
    Returns [(posting term, phrase offset)] — gram keys where an
    enabled pattern matches, single terms elsewhere."""
    units: list[tuple[str, int]] = []
    fr = [_classify(t, frequent) for t in phrase_terms]
    i = 0
    n = len(phrase_terms)
    while i < n:
        if i + 3 <= n and "".join(fr[i : i + 3]) in patterns:
            units.append((NGRAM_SEP.join(phrase_terms[i : i + 3]), i))
            i += 3
        elif i + 2 <= n and "".join(fr[i : i + 2]) in patterns:
            units.append((NGRAM_SEP.join(phrase_terms[i : i + 2]), i))
            i += 2
        else:
            units.append((phrase_terms[i], i))
            i += 1
    return units


def _check_similarity(similarity: str) -> None:
    if similarity not in ("bm25f", "bm25f_proximity"):
        raise ValueError(f"unknown similarity {similarity!r}")


def _check_rewrite(rewrite: str | None) -> None:
    if rewrite not in (None, "spell", "suggest"):
        raise ValueError(f"unknown rewrite {rewrite!r}")


def _plan(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    default_type: str,
    staged: list | None = None,
    rewrite: str | None = None,
    ngram_rewrite: bool = True,
    similarity: str = "bm25f",
    rewrite_options: dict | None = None,
) -> QueryPlan:
    _check_similarity(similarity)
    _check_rewrite(rewrite)
    meta = store.meta
    stop_words = frozenset(meta.get("stop_words") or []) or None
    pq: ParsedQuery = parse_query(
        query,
        default_type,
        meta.get("tokenizer", "unicode_alphanumeric"),
        stop_words,
        meta.get("stemmer"),
    )

    n_docs, _ = _effective_stats(store, staged)

    opts = rewrite_options or {}
    if (
        rewrite == "spell"
        and pq.terms
        # reference QueryRewriting.correct: corrections engage only
        # for query strings of at least this length (search.rs:108)
        and len(query) >= int(opts.get("correct") or 0)
    ):
        # SearchRewrite (reference search.rs:1200-1411): a query term
        # with df 0 is replaced by its best SymSpell correction before
        # planning, so misspellings return the corrected top-k
        from seekstorm_spark.query.spell import has_spell, spell_correct

        if has_spell(store):
            all_t = sorted({t.term for t in pq.terms})
            stats0 = _probe_term_stats(store, all_t, staged)
            subs: dict[str, str] = {}
            for t in all_t:
                if stats0.get(t, 0) == 0:
                    c = spell_correct(
                        store,
                        t,
                        max_edits=int(opts.get("distance", 2)),
                        term_length_threshold=opts.get(
                            "term_length_threshold"
                        ),
                    )
                    if c:
                        subs[t] = c[0]
            for qt in pq.terms:
                qt.term = subs.get(qt.term, qt.term)
    elif (
        rewrite == "suggest"
        and pq.terms
        # reference QueryRewriting.complete: min query-string length
        and len(query) >= int(opts.get("complete") or 0)
    ):
        # SearchSuggest: the trailing term is a prefix — complete it
        # from the QAC dictionary (reference search.rs:1200-1411)
        from seekstorm_spark.query.spell import complete, has_completions

        if has_completions(store):
            sugg = complete(store, pq.terms[-1].term, k=1)
            if sugg:
                pq.terms[-1].term = sugg[0][0]

    pos = sorted({t.term for t in pq.positive_terms})
    nots = sorted({t.term for t in pq.not_terms})
    phrase = [(t.term, t.phrase_index) for t in pq.terms if t.op == "phrase"]
    all_terms = sorted(set(pos) | set(nots))
    if not all_terms:
        return QueryPlan(pq.query_type, {}, [], [], False)

    # phrase → n-gram rewrite: segment the phrase greedily onto the
    # gram patterns this index materialized; a single covering unit
    # needs no positional join at all, multiple units align on the
    # grams' positions instead of every term's
    frequent = frozenset(meta.get("frequent_terms") or [])
    patterns = frozenset(meta.get("ngram_patterns") or [])
    units = None
    unit_parts: dict[str, list[str]] = {}
    if (
        ngram_rewrite
        and pq.query_type == "phrase"
        and patterns
        and len(phrase) >= 2
        and [off for _t, off in phrase] == list(range(len(phrase)))
    ):
        cand_units = _segment_phrase(
            [t for t, _off in phrase], frequent, patterns
        )
        if any(NGRAM_SEP in u for u, _off in cand_units):
            units = cand_units
            unit_parts = {
                u: u.split(NGRAM_SEP)
                for u, _off in units
                if NGRAM_SEP in u
            }

    probe_terms = sorted(set(all_terms) | set(unit_parts))
    df_by_term = _probe_term_stats(store, probe_terms, staged)
    pos_idf = {
        t: float(idf_f32(n_docs, df_by_term[t]))
        for t in pos
        if t in df_by_term
    }
    missing = any(t not in df_by_term for t in pos)
    missing_required = missing and pq.query_type in ("intersection", "phrase")
    if units is not None and not missing:
        # an indexed-pattern gram with both parts present but no
        # posting means the sequence is never adjacent anywhere →
        # the phrase matches nothing
        if any(g not in df_by_term for g in unit_parts):
            return QueryPlan("ngram", {}, nots, phrase, True)
        qtype = "ngram" if len(units) == 1 else "phrase"
        if similarity == "bm25f_proximity" and unit_parts:
            # Bm25fProximity (reference LexicalSimilarity,
            # index.rs:558-568, add_result.rs:917-941,
            # search.rs:3221-3231): each gram unit scores as ONE
            # posting with the GRAM's own df/tf — term adjacency is
            # honored in the relevance score instead of decomposing
            # into partial-term df/tf. Keying pos_terms by the units
            # and emptying unit_parts makes every kernel score the
            # gram row's tf with the gram idf (and bound with the
            # gram max_tf) without any kernel change; the partial-tf
            # columns are simply never read.
            prox_terms = {
                u: float(idf_f32(n_docs, df_by_term[u]))
                for u, _off in units
            }
            return QueryPlan(
                qtype=qtype,
                pos_terms=prox_terms,
                not_terms=[t for t in nots if t in df_by_term],
                phrase=phrase,
                missing_required=False,
                units=units,
                unit_parts={},
            )
        return QueryPlan(
            qtype=qtype,
            pos_terms=pos_idf,
            not_terms=[t for t in nots if t in df_by_term],
            phrase=phrase,
            missing_required=False,
            units=units,
            unit_parts=unit_parts,
        )
    return QueryPlan(
        qtype=pq.query_type,
        pos_terms=pos_idf,
        not_terms=[t for t in nots if t in df_by_term],
        phrase=phrase,
        missing_required=missing_required,
    )


def _resolve_fields(
    store: IndexStore,
    fields: list[tuple[str, float]] | None,
    field_filter: list[str] | None,
) -> tuple[dict[int, float], list[int] | None]:
    """(field id → boost, allowed field ids or None=all).

    ``fields`` sets per-field boosts (reference FieldBoost,
    add_result.rs:1171-1426); ``field_filter`` restricts matching AND
    scoring to the named fields (search.rs:2483-2495) while df/idf
    stay corpus-wide."""
    names = list(store.meta.get("fields") or ["text"])
    boosts = {i: 1.0 for i in range(len(names))}
    if fields:
        for name, b in fields:
            if name not in names:
                raise ValueError(f"unknown field {name!r}; indexed: {names}")
            boosts[names.index(name)] = float(b)
    allowed = None
    if field_filter:
        allowed = sorted(names.index(n) for n in field_filter)
    return boosts, allowed


def _resolve_facets(
    store: IndexStore,
    facet_filters: dict | None,
    result_sort: list[tuple[str, str]] | None,
) -> tuple[dict, list[str], dict[str, list[str] | None], dict[str, str]]:
    """(facet → kernel filter spec, facets the kernel must emit,
    facet dictionaries (None for numeric), facet kinds).

    String facets filter on a byte allow-list against the SORTED value
    dictionary written at build time; numeric facets filter on a
    closed [lo, hi] range over the raw per-block float64 array."""
    specs: dict = store.meta.get("facets") or {}
    kinds = {name: facet_kind(spec) for name, spec in specs.items()}
    dicts = {name: facet_values(spec) for name, spec in specs.items()}
    filters_k: dict = {}
    for fname, values in (facet_filters or {}).items():
        if fname not in specs:
            raise ValueError(f"unknown facet {fname!r}; indexed: {list(specs)}")
        if kinds[fname] in ("point", "morton"):
            raise ValueError(
                f"facet {fname!r} is a Point facet — filter it with "
                "geo_filter={'point': name, 'at': (lat, lon), "
                "'radius_km': r}"
            )
        if kinds[fname] == "numeric":
            lo, hi = values
            filters_k[fname] = ("numeric", float(lo), float(hi))
        else:
            # string / string_set: value list → dictionary-code
            # allow-list in the code dtype of this cardinality
            lookup = {v: i for i, v in enumerate(dicts[fname])}
            allowed = sorted(lookup[v] for v in values if v in lookup)
            filters_k[fname] = (
                kinds[fname],
                np.asarray(allowed, dtype=facet_code_dtype(len(lookup))),
                len(lookup),
            )
    emit = []
    for key, _dir in result_sort or []:
        if key in ("score", "docid") or key == "geo_dist":
            continue
        if key not in specs:
            raise ValueError(f"unknown sort facet {key!r}; indexed: {list(specs)}")
        if kinds[key] == "string_set":
            raise ValueError(
                f"facet {key!r} is multi-valued (string_set) — not a "
                "sort key"
            )
        if kinds[key] in ("point", "morton"):
            raise ValueError(
                f"facet {key!r} is a Point facet — sort on 'geo_dist'"
            )
        emit.append(key)
    return filters_k, emit, dicts, kinds


@dataclass(eq=False)
class GeoRead:
    """A geo request resolved against the index's facet kinds — what
    the kernel decodes and compares for it (:func:`_resolve_geo`)."""

    form: str  # "pair" (lat, lon f64 facets) | "point" | "morton"
    cols: tuple[str, ...]  # facet columns: (lat, lon) or (point,)
    at: tuple[float, float]  # base point (lat, lon)
    km: float | np.ndarray  # filter radius, or ascending bucket bounds
    unit: str  # "km" | "mi": emitted geo_dist / bucket_lo
    bounds: list[float] | None = None  # bucket bounds in ``unit``

    @property
    def label(self) -> str:
        """Facet label of a distance tally: the Point column or
        "lat,lon"."""
        return ",".join(self.cols)


def _resolve_geo(store: IndexStore, spec: dict) -> GeoRead:
    """The one geo resolver: a geo filter (``{"point": col |
    "lat"/"lon": cols, "at": (lat, lon), "radius_km" | "radius_mi":
    r[, "unit"]}``, which a geo_dist sort also reads) or a
    distance-bucket spec (``{"facet": col | "lat"/"lon": cols,
    "base": (lat, lon), "ranges": [...][, "unit"]}``) → its storage
    form, facet columns, base point and km values. Miles convert to
    km here, on the way in; :func:`_geo_dist_out` converts emitted
    distances back.

    Storage forms: separate lat/lon f64 facets ("pair"), ONE
    interleaved [lat, lon] f64 buffer ("point"), or ONE packed u64
    Morton code per doc ("morton" — half the bytes)."""
    specs: dict = store.meta.get("facets") or {}
    kinds = {name: facet_kind(s) for name, s in specs.items()}
    unit = spec.get("unit", "mi" if "radius_mi" in spec else "km")
    if unit not in ("km", "mi"):
        raise ValueError(f"geo unit must be 'km' or 'mi', got {unit!r}")
    bounds = None
    if "ranges" in spec:  # distance buckets
        bounds = [float(b) for b in sorted(spec["ranges"])]
        scale = KM_PER_MILE if unit == "mi" else 1.0
        km = np.asarray([b * scale for b in bounds], dtype=np.float64)
        point, at = spec.get("facet"), spec["base"]
    else:  # radius filter
        if "radius_mi" in spec:
            if "radius_km" in spec:
                raise ValueError("give radius_km OR radius_mi, not both")
            km = float(spec["radius_mi"]) * KM_PER_MILE
        else:
            km = float(spec["radius_km"])
        point, at = spec.get("point"), spec["at"]
    if point is not None:
        form, cols = kinds.get(point), (point,)
        if form not in ("point", "morton"):
            raise ValueError(
                f"{point!r} is not an indexed Point/Morton facet; "
                f"indexed: {list(specs)}"
            )
    else:
        form, cols = "pair", (spec.get("lat"), spec.get("lon"))
        for c in cols:
            if kinds.get(c) != "numeric":
                raise ValueError(
                    f"{c!r} is not an indexed numeric facet; "
                    f"indexed: {list(specs)}"
                )
    return GeoRead(
        form, cols, (float(at[0]), float(at[1])), km, unit, bounds
    )


def _fallback_union_query(query: str) -> str:
    """Strip the required-term operator from every token: the AND→OR
    fallback retry scores the same terms under union semantics
    (reference search.rs:3555-3559). Intersection queries carry no
    quoted phrases (those plan as qtype phrase/ngram and are excluded
    from fallback), so whitespace tokenization is exact here."""
    out = []
    for tok in query.split():
        out.append(tok[1:] if tok.startswith("+") and len(tok) > 1 else tok)
    return " ".join(out)


def _dict_bmp_only(
    store: IndexStore, facet: str, dicts: dict[str, list[str] | None]
) -> bool:
    """True iff every value of ``facet``'s frozen dictionary is in the
    Basic Multilingual Plane. Memoized on the store object (the
    dictionary is frozen for the life of the index — appends reject
    out-of-dictionary values — so the flag never changes)."""
    cache = getattr(store, "_bmp_only_cache", None)
    if cache is None:
        cache = store._bmp_only_cache = {}
    flag = cache.get(facet)
    if flag is None:
        values = dicts.get(facet) or ()
        flag = all(
            (not v) or max(map(ord, v)) <= 0xFFFF for v in values
        )
        cache[facet] = flag
    return flag


def _geo_dist_out(df: DataFrame, geo_by_q: dict[int, GeoRead]) -> DataFrame:
    """Kernel distances are km: the emitted ``geo_dist`` of a query
    whose geo request was in miles rescales on the way out (the
    distance order is unit-invariant, so any sort may come before)."""
    mi = [qi for qi, g in geo_by_q.items() if g.unit == "mi"]
    if not mi:
        return df
    return df.withColumn(
        "geo_dist",
        F.when(
            F.col("query_id").isin(mi),
            F.col("geo_dist") / F.lit(KM_PER_MILE),
        ).otherwise(F.col("geo_dist")),
    )


def _block_bounds(
    geo: GeoRead | None, filters_k: dict
) -> dict[str, list[tuple[float, float]]] | None:
    """Zone intervals for :func:`_join_facet_blocks`' block skip: the
    geo radius' conservative lat/lon boxes (clamped and split at the
    antimeridian, so the skip is lossless) and every numeric range
    filter's [lo, hi]; None when nothing can skip."""
    block_bounds = None
    if geo is not None:
        boxes = geo_boxes_for_radius(geo.at[0], geo.at[1], geo.km)
        # lat intervals, then lon intervals: a Point facet's zone
        # bounds carry latitude min/max, so its one column takes the
        # lat intervals only
        block_bounds = dict(
            zip(
                geo.cols,
                (
                    [(b[0], b[1]) for b in boxes],
                    [(b[2], b[3]) for b in boxes],
                ),
            )
        )
    for name, spec in filters_k.items():
        if spec[0] == "numeric":
            block_bounds = block_bounds or {}
            block_bounds.setdefault(name, []).append(
                (float(spec[1]), float(spec[2]))
            )
    return block_bounds


def _empty_result(
    spark: SparkSession,
    emit_facets: list[str],
    kinds: dict[str, str],
    want_dist: bool,
) -> DataFrame:
    """Empty result with the SAME schema the kernel path produces —
    including requested sort-facet columns (a plain RESULT_SCHEMA here
    broke callers selecting the sort facet on empty-plan queries)."""
    parts = ["docid long"]
    for fc in emit_facets:
        parts.append(f"{fc} " + ("double" if kinds[fc] == "numeric" else "string"))
    if want_dist:
        parts.append("geo_dist double")
    parts.append("score float")
    return spark.createDataFrame([], ", ".join(parts))


def _cached_hit(
    store: IndexStore,
    plan: QueryPlan,
    need_k: int,
    staged: list | None,
    fields: list[tuple[str, float]] | None,
    field_filter: list[str] | None,
    filtered: bool,
) -> list[tuple[int, float]] | None:
    """The frequent-term result cache's top-``need_k`` (docid, score)
    rows for ``plan`` (reference search.rs:3388-3445), or None. It may
    serve a single cacheable term with nothing staged, no fields or
    field filter, and no per-query facet / geo filter or sort
    (``filtered``); an append / delete / compaction disables it until
    rebuilt."""
    from seekstorm_spark.query import result_cache

    if (
        staged
        or fields is not None
        or field_filter is not None
        or filtered
        or not result_cache.cacheable_plan(plan)
    ):
        return None
    return result_cache.cached_single_term(
        store, next(iter(plan.pos_terms)), need_k
    )


def _cached_values(
    spark: SparkSession, rows: list[tuple], with_qid: bool
) -> DataFrame:
    """Cached (docid, score) rows — (query_id, docid, score) when
    ``with_qid`` — as a VALUES literal: a LocalTableScan, whose
    collect() runs driver-side with NO Spark job; repr(float)
    round-trips the f32 score exactly."""
    cols = "query_id, docid, score" if with_qid else "docid, score"
    values = ", ".join(
        "("
        + (f"CAST({int(r[0])} AS INT), " if with_qid else "")
        + f"CAST({int(r[-2])} AS BIGINT), CAST({r[-1]!r} AS FLOAT))"
        for r in rows
    )
    return spark.sql(f"SELECT {cols} FROM (VALUES {values}) AS t({cols})")


def search(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    top_k: int = 10,
    offset: int = 0,
    default_type: str = "union",
    prune: bool = True,
    fields: list[tuple[str, float]] | None = None,
    field_filter: list[str] | None = None,
    facet_filters: dict | None = None,
    result_sort: list[tuple[str, str]] | None = None,
    staged: list | None = None,
    rewrite: str | None = None,
    rewrite_options: dict | None = None,
    geo_filter: dict | None = None,
    ngram_rewrite: bool = True,
    mode: str = "lexical",
    vector: list[float] | None = None,
    ann_index=None,
    vectors: DataFrame | None = None,
    rrf_k: float | None = None,
    similarity: str = "bm25f",
    enable_fallback: bool = False,
) -> DataFrame:
    """Top-k BM25(F) search → DataFrame(docid[, sort facets…], score),
    score f32. ``prune=False`` disables the WAND threshold (used to
    verify pruning is lossless). ``fields`` sets per-field boosts;
    ``field_filter`` restricts match+score fields; ``facet_filters``
    restricts results to docs whose facet value is allowed — string
    facets take a value list, numeric facets a (lo, hi) closed range —
    applied INSIDE the kernel via per-block facet arrays, so top-k
    pruning stays admissible (reference search.rs:2543-2726);
    ``result_sort`` orders by facet/score/docid keys (multi-key sort,
    reference min_heap.rs:56-546) — pruning is disabled then, since a
    non-score primary key invalidates the score threshold; ``staged``
    unions uncommitted micro-batches into the query (realtime level-0,
    reference realtime_search.rs:921-2095); ``rewrite`` applies spell
    correction / QAC completion to the query before planning —
    ``rewrite_options`` carries the reference QueryRewriting knobs
    (search.rs:107-160): ``correct``/``complete`` = min query-string
    length to engage, ``distance`` = base edit budget,
    ``term_length_threshold`` = per-term-length budgets;
    ``geo_filter`` = {"lat": facet, "lon": facet, "at": (lat, lon),
    "radius_km": r} keeps only docs within the haversine radius
    (reference geo Point facets, search.rs:2712-2724) — sort on
    "geo_dist" to order by distance.

    ``mode="hybrid"`` fuses the lexical top-k with a vector top-k by
    Reciprocal Rank Fusion, k=0.6 (the reference's hybrid SearchMode,
    search.rs:73-96,1962-2035) → DataFrame(docid, rrf_score). The
    vector side is ``ann_index.search(...)`` when an :class:`AnnIndex`
    / :class:`IvfIndex` is given (partition-pruned probe), else exact
    cosine top-k over ``vectors`` (vec_id must be the docid space).
    Both branches land in ONE returned DataFrame — a single action.

    ``similarity="bm25f_proximity"`` (the reference's DEFAULT
    LexicalSimilarity, index.rs:558-568): phrase units rewritten onto
    n-gram postings score with the GRAM's df/tf instead of the
    partial terms' — adjacent terms rank by the (rarer) gram idf, so
    proximity is honored in relevance (NGRAM_SEARCH.md "N-grams and
    BM25"). Queries with no gram unit score identically to "bm25f".

    ``enable_fallback=True`` (the reference's default-off
    ``Index.enable_fallback``, search.rs:3555-3559): an intersection
    yielding fewer than ``top_k`` results is retried as a UNION of
    the same terms (AND→OR), filling the page with partial matches.
    Phrase queries and queries with a missing required term are not
    retried (a tokenizer miss breaks the reference's fallback loop,
    search.rs:3290-3294). Costs one bounded count action on the
    strict result when enabled."""
    if mode not in ("lexical", "hybrid"):
        raise ValueError(f"unknown search mode {mode!r}")
    if mode == "hybrid":
        if vector is None:
            raise ValueError("hybrid search requires vector=")
        if result_sort or geo_filter or offset:
            raise ValueError(
                "hybrid search fuses by RRF rank; result_sort / "
                "geo_filter / offset are not supported in this mode"
            )
        from seekstorm_spark.functions.fusion import RRF_K, rrf_fuse

        lex = search(
            spark, store, query, top_k=top_k, default_type=default_type,
            prune=prune, fields=fields, field_filter=field_filter,
            facet_filters=facet_filters, staged=staged, rewrite=rewrite,
            rewrite_options=rewrite_options,
            ngram_rewrite=ngram_rewrite, similarity=similarity,
        )
        if ann_index is not None:
            vec = ann_index.search(spark, [float(x) for x in vector], k=top_k)
        elif vectors is not None:
            from seekstorm_spark.functions.simsearch import cosine_topk

            vec = cosine_topk(vectors, [float(x) for x in vector], k=top_k)
        else:
            raise ValueError("hybrid search requires ann_index= or vectors=")
        return rrf_fuse(
            lex, vec.withColumnRenamed("vec_id", "docid"), id_col="docid",
            top_k=top_k, k=RRF_K if rrf_k is None else float(rrf_k),
        )
    if enable_fallback:
        base_kwargs = dict(
            top_k=top_k, offset=offset, prune=prune, fields=fields,
            field_filter=field_filter, facet_filters=facet_filters,
            result_sort=result_sort, staged=staged, rewrite=rewrite,
            rewrite_options=rewrite_options, geo_filter=geo_filter,
            ngram_rewrite=ngram_rewrite, similarity=similarity,
        )
        strict = search(
            spark, store, query, default_type=default_type, **base_kwargs
        )
        fb_plan = _plan(
            spark, store, query, default_type,
            list(staged) if staged else None, rewrite,
            ngram_rewrite=ngram_rewrite, similarity=similarity,
            rewrite_options=rewrite_options,
        )
        if (
            fb_plan.qtype == "intersection"
            and not fb_plan.missing_required
            and fb_plan.pos_terms
            and len(strict.take(top_k)) < top_k
        ):
            return search(
                spark, store, _fallback_union_query(query),
                default_type="union", **base_kwargs,
            )
        return strict
    staged = list(staged) if staged else None
    geo = _resolve_geo(store, geo_filter) if geo_filter else None
    filters_k, emit_facets, dicts, kinds = _resolve_facets(
        store, facet_filters, result_sort
    )
    want_dist = bool(result_sort) and any(
        key == "geo_dist" for key, _d in result_sort or []
    )
    if want_dist and geo is None:
        raise ValueError("sorting by geo_dist requires geo_filter")
    plan = _plan(
        spark, store, query, default_type, staged, rewrite,
        ngram_rewrite=ngram_rewrite, similarity=similarity,
        rewrite_options=rewrite_options,
    )
    if plan.missing_required or not plan.pos_terms:
        if result_sort:
            return _empty_result(spark, emit_facets, kinds, want_dist)
        return spark.createDataFrame([], RESULT_SCHEMA)

    hit = _cached_hit(
        store, plan, top_k + offset, staged, fields, field_filter,
        filtered=(
            facet_filters is not None
            or result_sort is not None
            or geo_filter is not None
        ),
    )
    if hit is not None:
        rows = hit[offset : offset + top_k]
        if not rows:
            return spark.createDataFrame([], RESULT_SCHEMA)
        return _cached_values(spark, rows, with_qid=False)

    need_k = top_k + offset
    emit_all = bool(result_sort)
    # numeric OR string primary sort key → v5 zone bounds drive a
    # block-level skip (top-k by key keeps a key-threshold in place of
    # the score threshold the emit-all path gives up). String keys
    # skip on dictionary CODES — byte order == value order by the
    # frozen-dictionary invariant, so the code threshold is the value
    # threshold; missing codes (dtype max) never enter the heap, which
    # is exactly the nulls-last contract the final sort applies.
    sort_prune = None
    if (
        emit_all
        and prune
        and not staged  # a staged slice may lack zone bounds
        and result_sort[0][0] in kinds
        and kinds[result_sort[0][0]] in ("numeric", "string")
        and (
            kinds[result_sort[0][0]] == "numeric"
            # string keys: code order == value order holds only while
            # every comparison backend agrees on the order of the
            # VALUES themselves. The dictionary is sorted in Python
            # (code-point order); Spark's final orderBy may compare
            # UTF-16 code units, which diverges from code-point order
            # exactly when supplementary-plane characters are present
            # (they sort before U+E000..U+FFFF in UTF-16). Engage the
            # code-zone skip only for BMP-only dictionaries, where all
            # three orders (code point, UTF-8 byte, UTF-16 unit)
            # coincide; otherwise fall back to the unpruned emit-all
            # path (correct, just slower).
            or _dict_bmp_only(store, result_sort[0][0], dicts)
        )
    ):
        sort_prune = (result_sort[0][0], result_sort[0][1], need_k)
    candidates = _run_kernel(
        spark, store, [(0, plan)], need_k, prune and not emit_all,
        fields=fields, field_filter=field_filter, staged=staged,
        block_bounds=_block_bounds(geo, filters_k),
        facet_filters_by_q={0: filters_k},
        geo_by_q={0: geo} if geo is not None else None,
        dist_sort_by_q={} if want_dist else None,
        emit_all=emit_all,
        emit_facets=emit_facets,
        sort_prune=sort_prune,
    )
    if want_dist:
        candidates = _geo_dist_out(candidates, {0: geo})
    candidates = candidates.drop("query_id")

    if result_sort:
        # decode facet bytes → values (sorted dictionary ⇒ byte order
        # is value order), then multi-key sort
        out_cols = [F.col("docid")]
        for fc in emit_facets:
            if kinds[fc] == "numeric":
                candidates = candidates.withColumn(
                    fc,
                    F.when(
                        F.isnan(F.col(f"fb_{fc}")), F.lit(None).cast("double")
                    ).otherwise(F.col(f"fb_{fc}")),
                )
            else:
                candidates = _decode_string_codes(
                    spark, candidates, {fc: dicts[fc]}, out_col=fc,
                    code_col=f"fb_{fc}", facet_col=None,
                )
            out_cols.append(F.col(fc))
        if want_dist:
            out_cols.append(F.col("geo_dist"))
        out_cols.append(F.col("score"))
        order = []
        for key, direction in result_sort:
            # docs without the key sort LAST either direction, numeric
            # and string keys alike — required for the zone-bound
            # block skip to be admissible (a missing-key doc can never
            # outrank need_k docs with keys), the ordering a user
            # expects from "sort by price", and DuckDB's default
            col = F.col(key)
            order.append(
                col.desc_nulls_last()
                if direction == "desc"
                else col.asc_nulls_last()
            )
        order.append(F.col("docid").asc())
        out = candidates.select(*out_cols).orderBy(*order)
    else:
        out = candidates.orderBy(F.col("score").desc(), F.col("docid").asc())
    if offset:
        out = out.offset(offset)
    return out.limit(top_k)


_DICT_LITERAL_MAX = 4096


def _decode_string_codes(
    spark: SparkSession,
    df: DataFrame,
    vals_by_facet: dict[str, list],
    out_col: str,
    code_col: str = "code",
    facet_col: str | None = "facet",
) -> DataFrame:
    """Decode (facet, code) → dictionary value as new ``out_col``;
    ``facet_col=None`` decodes the one facet of ``vals_by_facet``. A
    code past the dictionary (the missing sentinel) decodes to NULL.

    Small dictionaries decode inline with a literal array (no join, no
    exchange); past ``_DICT_LITERAL_MAX`` total values the mapping is
    a BROADCAST-joined dictionary DataFrame instead — a Catalyst
    literal expression sized by dictionary cardinality would explode
    plan size long before the reference's String32 (2^32) bound."""
    total = sum(len(v) for v in vals_by_facet.values())
    if total <= _DICT_LITERAL_MAX:
        decode = None
        for fc in sorted(vals_by_facet):
            vals = vals_by_facet[fc]
            arr = F.array(*[F.lit(v) for v in vals])
            expr = F.when(
                F.col(code_col) < len(vals),
                F.element_at(arr, F.col(code_col).cast("int") + 1),
            )
            decode = (
                expr
                if decode is None
                else F.when(F.col(facet_col) == fc, expr).otherwise(decode)
            )
        return df.withColumn(out_col, decode)
    dict_df = spark.createDataFrame(
        [
            (fc, i, v)
            for fc, vals in vals_by_facet.items()
            for i, v in enumerate(vals)
        ],
        "__dict_facet string, __dict_code long, __dict_value string",
    )
    on = F.col(code_col).cast("long") == F.col("__dict_code")
    if facet_col is not None:
        on = (F.col(facet_col) == F.col("__dict_facet")) & on
    return (
        df.join(F.broadcast(dict_df), on, "left")
        .drop("__dict_facet", "__dict_code")
        .withColumnRenamed("__dict_value", out_col)
    )


def search_many(
    spark: SparkSession,
    store: IndexStore,
    queries: list[str],
    top_k: int = 10,
    default_type: str = "union",
    prune: bool = True,
    fields: list[tuple[str, float]] | None = None,
    field_filter: list[str] | None = None,
    staged: list | None = None,
    facet_filters: list[dict | None] | None = None,
    geo_filters: list[dict | None] | None = None,
    result_sorts: list[list[tuple[str, str]] | None] | None = None,
    similarity: str = "bm25f",
) -> DataFrame:
    """Execute N queries in ONE Spark action → DataFrame(query_id,
    docid, score); ``query_id`` is the position in ``queries``.

    Throughput-bound serving pays Spark's per-action floor (driver
    scheduling + plan optimization + one exchange per query, ~0.5 s
    on this box) per ``search`` call. Here every query shape —
    union / intersection / NOT / phrase / n-gram — FUSES into one
    pipeline: a single scan over the union of all queries' (tbucket,
    term) postings, one exchange by block_id, and one kernel that
    decodes each posting row once and scores every query against it
    (per-query top-k heaps + block-max thresholds, gram source maps,
    and phrase alignment, so pruning and rewrites stay per query).
    ``staged`` level-0 batches join the same scan. Per-query
    results are bit-identical to :func:`search` — same f32
    accumulation order, same tiebreaks. The reference serves
    concurrent queries the same way — shared index, per-query
    execution state (its multi-threaded QPS bench).

    ``facet_filters`` / ``geo_filters`` are optional per-query lists
    parallel to ``queries`` (None entries = unfiltered): each query's
    facet predicates and haversine radius apply inside the SAME fused
    kernel from the shared per-block facet arrays (one buffer decode
    per block, every query's candidate set filtered against it),
    exactly as ``search(facet_filters=…, geo_filter=…)`` does for one
    query. (Per-query zone-bound block skipping doesn't apply to the
    shared scan.)

    ``result_sorts`` (parallel to ``queries``; None entries keep the
    score order) currently supports ``[("geo_dist", "asc"|"desc")]``
    per query — that query's results order by its haversine distance
    instead of score, bit-identical to ``search(result_sort=…)``, and
    the output gains a ``geo_dist`` column (km, or miles for a query
    whose filter used ``radius_mi``/``unit="mi"``; NaN for
    score-sorted queries). Distance top-k is kept per partition inside
    the fused kernel, so a geo-sorted query rides the same single
    action.

    Queries answerable from the frequent-term result cache (single
    cached term, no per-query filters/sort) are spliced in as
    local-relation branches — their terms never enter the fused scan
    and their rows cost no Spark work, exactly as in ``search``."""
    from functools import reduce

    # reject an unknown field or similarity even when no query
    # reaches the kernel (an empty batch, or none that can match)
    _check_similarity(similarity)
    _resolve_fields(store, fields, field_filter)
    if facet_filters is not None and len(facet_filters) != len(queries):
        raise ValueError("facet_filters must parallel queries")
    if geo_filters is not None and len(geo_filters) != len(queries):
        raise ValueError("geo_filters must parallel queries")
    dist_sort_by_q: dict[int, str] = {}
    if result_sorts is not None:
        if len(result_sorts) != len(queries):
            raise ValueError("result_sorts must parallel queries")
        for i, rs in enumerate(result_sorts):
            if not rs:
                continue
            if len(rs) != 1 or rs[0][0] != "geo_dist" or rs[0][1] not in (
                "asc", "desc",
            ):
                raise ValueError(
                    "batched result_sorts support [('geo_dist', "
                    "'asc'|'desc')] per query"
                )
            if geo_filters is None or not geo_filters[i]:
                raise ValueError(
                    f"query {i}: sorting by geo_dist requires a geo_filter"
                )
            dist_sort_by_q[i] = rs[0][1]
    plans = [
        _plan(spark, store, qstr, default_type, staged, similarity=similarity)
        for qstr in queries
    ]
    filters_by_q = {
        i: _resolve_facets(store, ff, None)[0]
        for i, ff in enumerate(facet_filters or ())
        if ff
    }
    geo_by_q = {
        i: _resolve_geo(store, gf)
        for i, gf in enumerate(geo_filters or ())
        if gf
    }

    cached: list[tuple[int, int, float]] = []
    fused: list[tuple[int, QueryPlan]] = []
    for i, plan in enumerate(plans):
        if plan.missing_required or not plan.pos_terms:
            continue  # no results by construction
        # a cached query's rows become a local-relation branch and its
        # terms stay OUT of the fused scan
        hit = _cached_hit(
            store, plan, top_k, staged, fields, field_filter,
            filtered=(
                i in filters_by_q or i in geo_by_q or i in dist_sort_by_q
            ),
        )
        if hit is None:
            fused.append((i, plan))
        else:
            cached.extend((i, d, sc) for d, sc in hit[:top_k])

    with_dist = result_sorts is not None
    out_schema = "query_id int, " + RESULT_SCHEMA + (
        ", geo_dist double" if with_dist else ""
    )
    out_cols = ["query_id", "docid", "score"] + (
        ["geo_dist"] if with_dist else []
    )
    outs: list[DataFrame] = []
    if fused:
        partials = _run_kernel(
            spark, store, fused, top_k, prune,
            fields=fields, field_filter=field_filter, staged=staged,
            facet_filters_by_q=filters_by_q or None,
            geo_by_q=geo_by_q or None,
            dist_sort_by_q=dist_sort_by_q if with_dist else None,
        )
        score_w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("docid").asc()
        )
        branches = [
            (
                partials.filter(
                    ~F.col("query_id").isin(list(dist_sort_by_q))
                )
                if dist_sort_by_q
                else partials,
                score_w,
            )
        ]
        for direction in sorted(set(dist_sort_by_q.values())):
            qis = [q for q, d in dist_sort_by_q.items() if d == direction]
            dcol = (
                F.col("geo_dist").asc()
                if direction == "asc"
                else F.col("geo_dist").desc()
            )
            branches.append(
                (
                    partials.filter(F.col("query_id").isin(qis)),
                    Window.partitionBy("query_id").orderBy(
                        dcol, F.col("docid").asc()
                    ),
                )
            )
        for part, w in branches:
            outs.append(
                part.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= top_k)
                .select(*out_cols)
            )
    if cached:
        cdf = _cached_values(spark, cached, with_qid=True)
        if with_dist:
            cdf = cdf.withColumn(
                "geo_dist", F.lit(float("nan")).cast("double")
            )
        outs.append(cdf)
    if not outs:
        return spark.createDataFrame([], out_schema)
    result = reduce(lambda a, b: a.unionByName(b), outs)
    return _geo_dist_out(result, geo_by_q) if with_dist else result


def search_many_hybrid(
    spark: SparkSession,
    store: IndexStore,
    queries: list[str],
    vectors: list[list[float]],
    top_k: int = 10,
    default_type: str = "union",
    ann_index=None,
    vectors_df: DataFrame | None = None,
    rrf_k: float | None = None,
    similarity: str = "bm25f",
    staged: list | None = None,
) -> DataFrame:
    """Batched hybrid serving: N (query, vector) pairs in ONE Spark
    action → DataFrame(query_id, docid, rrf_score).

    The lexical side rides the fused :func:`search_many` kernel (one
    scan over the union of all queries' postings); each query's
    vector top-k is a partition-pruned ``ann_index.search`` probe
    (or exact cosine over ``vectors_df``) unioned in as a branch of
    the same plan; RRF (k=0.6, reference search.rs:73-96,1962-2035)
    fuses per query with window ranks partitioned by query_id. Every
    per-query slice is bit-identical to ``search(mode="hybrid")`` —
    same ranks, same round(·, 6), same docid tiebreaks."""
    from functools import reduce

    from seekstorm_spark.functions.fusion import RRF_K, rrf_fuse

    if len(vectors) != len(queries):
        raise ValueError("vectors must parallel queries")
    if ann_index is None and vectors_df is None:
        raise ValueError("hybrid search requires ann_index= or vectors_df=")
    lex = search_many(
        spark, store, queries, top_k=top_k, default_type=default_type,
        similarity=similarity, staged=staged,
    )
    from seekstorm_spark.functions.simsearch import cosine_topk

    branches = []
    for i, v in enumerate(vectors):
        v = [float(x) for x in v]
        probe = (
            ann_index.search(spark, v, k=top_k)
            if ann_index is not None
            else cosine_topk(vectors_df, v, k=top_k)
        )
        branches.append(
            probe.select(
                F.lit(i).alias("query_id"),
                F.col("vec_id").alias("docid"),
                F.col("cos_sim"),
            )
        )
    return rrf_fuse(
        lex, reduce(lambda a, b: a.unionByName(b), branches),
        top_k=top_k, k=RRF_K if rrf_k is None else float(rrf_k),
        partition_cols=("query_id",),
    )


def _count_core(
    spark: SparkSession,
    store: IndexStore,
    items: list[tuple[int, QueryPlan, dict, GeoRead | None]],
    field_filter: list[str] | None,
    staged: list | None,
) -> tuple[dict[int, int], DataFrame | None]:
    """Match counts for [(query_id, plan, facet filter spec, geo
    filter :class:`GeoRead` | None)] → ({query_id: count} answered by a
    df shortcut, the count-mode kernel's (query_id, matches) rows for
    the rest, or None).
    Queries that cannot match are in neither (count 0).

    The stored df of a single positive term (reference
    single.rs:313-323), or of a covering gram, IS the count — zero
    Spark jobs, staged partials included. Not under NOT terms, a
    field_filter (df counts ANY field), deletes or facet/geo filters.
    One query alone in the kernel gets its filters' zone-bound skip."""
    # reject an unknown field even when no query reaches the kernel
    _resolve_fields(store, None, field_filter)
    has_deletes = os.path.exists(store.deletes_path)
    counts: dict[int, int] = {}
    rest: list[tuple[int, QueryPlan, dict, GeoRead | None]] = []
    for qi, plan, filters_k, geo in items:
        if plan.missing_required or not plan.pos_terms:
            continue
        probe = None
        if (
            not plan.not_terms
            and field_filter is None
            and not has_deletes
            and not filters_k
            and geo is None
        ):
            if len(plan.pos_terms) == 1 and plan.qtype not in (
                "phrase", "ngram",
            ):
                probe = next(iter(plan.pos_terms))
            elif plan.qtype == "ngram":
                probe = plan.units[0][0]
        if probe is None:
            rest.append((qi, plan, filters_k, geo))
        else:
            counts[qi] = int(
                _probe_term_stats(store, [probe], staged).get(probe, 0)
            )
    if not rest:
        return counts, None
    block_bounds = None
    if len(rest) == 1:
        _qi, _plan1, filters_k, geo = rest[0]
        block_bounds = _block_bounds(geo, filters_k)
    out = _run_kernel(
        spark, store, [(qi, plan) for qi, plan, _fk, _gf in rest], 0, False,
        field_filter=field_filter, staged=staged, block_bounds=block_bounds,
        count_only=True,
        facet_filters_by_q={qi: fk for qi, _p, fk, _gf in rest if fk} or None,
        geo_by_q={
            qi: g for qi, _p, _fk, g in rest if g is not None
        } or None,
    )
    return counts, out


def count_matches_many(
    spark: SparkSession,
    store: IndexStore,
    queries: list[str],
    default_type: str = "union",
    field_filter: list[str] | None = None,
    staged: list | None = None,
) -> list[int]:
    """Exact match counts for N queries — zero or ONE Spark action.

    Same count core as :func:`count_matches` (:func:`_count_core`):
    df shortcuts answer driver-side, the other queries share one
    fused count-mode scan, summed per ``query_id``; ``staged``
    level-0 batches join both."""
    staged = list(staged) if staged else None
    items = [
        (i, _plan(spark, store, qstr, default_type, staged), {}, None)
        for i, qstr in enumerate(queries)
    ]
    counts, rest = _count_core(spark, store, items, field_filter, staged)
    if rest is not None:
        for r in (
            rest.groupBy("query_id").agg(F.sum("matches").alias("m")).collect()
        ):
            counts[int(r["query_id"])] = int(r["m"] or 0)
    return [counts.get(i, 0) for i in range(len(queries))]


def _facet_tally(
    spark: SparkSession,
    store: IndexStore,
    requests: list[tuple[str, dict]],
    default_type: str,
    staged: list | None,
) -> tuple[DataFrame, list[int]] | None:
    """Facet tallies for [(query, {facet label: (kind, bounds)})] in
    ONE Spark action → ((query_id, facet, code, n) sums, the query_ids
    that reached the kernel), or None when no query can match. The
    matching queries share one fused scan joined with the blocks'
    facet arrays; the count-mode kernel decodes each block's buffer
    once for all of them (``count_facets_by_q``)."""
    staged = list(staged) if staged else None
    plans = [
        _plan(spark, store, qstr, default_type, staged)
        for qstr, _spec in requests
    ]
    count_facets_by_q = {
        i: spec
        for i, ((_q, spec), plan) in enumerate(zip(requests, plans))
        if not plan.missing_required and plan.pos_terms
    }
    if not count_facets_by_q:
        return None
    agg = (
        _run_kernel(
            spark, store, [(i, plans[i]) for i in count_facets_by_q], 0,
            False, staged=staged, count_only=True,
            count_facets_by_q=count_facets_by_q,
        )
        .groupBy("query_id", "facet", "code")
        .agg(F.sum("matches").cast("long").alias("n"))
    )
    return agg, list(count_facets_by_q)


def _bucket_lo(bounds_by_q: dict[int, dict[str, list[float]]]):
    """``bucket_lo`` of a bucket tally row: the lower bound its
    ``code`` indexes, keyed on (query_id, facet) — bound sets may
    differ between queries."""
    decode = F.lit(None).cast("double")
    for qi, by_facet in bounds_by_q.items():
        for fc, bs in by_facet.items():
            decode = F.when(
                (F.col("query_id") == qi) & (F.col("facet") == fc),
                F.element_at(double_array(bs), F.col("code").cast("int") + 1),
            ).otherwise(decode)
    return decode.alias("bucket_lo")


def facet_counts_many(
    spark: SparkSession,
    store: IndexStore,
    requests: list[tuple[str, list[str]]],
    default_type: str = "union",
    staged: list | None = None,
) -> DataFrame:
    """Facet-value counts for N queries in ONE Spark action →
    DataFrame(query_id, facet, value, n).

    ``requests`` is a list of (query, string/string_set facet names);
    ``query_id`` is the position in the list. The tally core
    (:func:`_facet_tally`) finds every query's matching docs in the
    same fused union-of-terms scan :func:`search_many` uses and
    tallies each block's facet buffer, decoded once, against every
    query's candidates — per-query results identical to
    :func:`facet_counts` (the reference counts facets during result
    collection, add_result.rs:487-646; its server amortizes
    concurrent queries against the same in-RAM facet columns the same
    way). Numeric range facets have their own batched twin,
    :func:`facet_range_counts_many`. ``staged`` level-0 batches join
    the same scan."""
    specs: dict = store.meta.get("facets") or {}
    all_facets: set[str] = set()
    for _qstr, fcs in requests:
        for fc in fcs:
            if fc not in specs or facet_values(specs[fc]) is None:
                raise ValueError(f"{fc!r} is not an indexed string facet")
            all_facets.add(fc)
    tally = _facet_tally(
        spark, store,
        [
            (qstr, {fc: (facet_kind(specs[fc]), None) for fc in fcs})
            for qstr, fcs in requests
        ],
        default_type, staged,
    )
    if tally is None:
        return spark.createDataFrame(
            [], "query_id int, facet string, value string, n long"
        )
    decoded = _decode_string_codes(
        spark, tally[0], {fc: facet_values(specs[fc]) for fc in all_facets},
        out_col="value",
    )
    return decoded.select("query_id", "facet", "value", "n")


def facet_range_counts_many(
    spark: SparkSession,
    store: IndexStore,
    requests: list[tuple[str, dict]],
    default_type: str = "union",
    staged: list | None = None,
    cumulative: bool = False,
) -> DataFrame:
    """Numeric range-facet counts for N queries in ONE Spark action →
    DataFrame(query_id, facet, bucket_lo, n[, n_cumulative]).

    ``requests`` is a list of (query, {facet: ascending lower
    bounds}); bucket sets may differ between queries for the same
    facet. Same tally core (:func:`_facet_tally`) as
    :func:`facet_counts_many`, then the bucket decoder
    (:func:`_bucket_lo`); per-query semantics identical to
    :func:`facet_range_counts`; ``staged`` level-0 batches join the
    same scan."""
    specs: dict = store.meta.get("facets") or {}
    for _q, ranges in requests:
        for fc in ranges:
            if fc not in specs or facet_kind(specs[fc]) != "numeric":
                raise ValueError(
                    f"{fc!r} is not an indexed numeric facet"
                )
    bounds = [
        {fc: sorted(float(b) for b in bs) for fc, bs in ranges.items()}
        for _q, ranges in requests
    ]
    specs_by_q = [
        {fc: ("numeric", np.asarray(bs, dtype=np.float64)) for fc, bs in b.items()}
        for b in bounds
    ]
    tally = _facet_tally(
        spark, store, [(q, sp) for (q, _r), sp in zip(requests, specs_by_q)],
        default_type, staged,
    )
    if tally is None:
        return spark.createDataFrame(
            [],
            "query_id int, facet string, bucket_lo double, n long"
            + (", n_cumulative long" if cumulative else ""),
        )
    agg, kept = tally
    out = agg.select(
        "query_id", "facet", _bucket_lo({qi: bounds[qi] for qi in kept}), "n"
    )
    return _cumulative(out) if cumulative else out


def _cumulative(out: DataFrame) -> DataFrame:
    """Bucket counts (query_id, facet, bucket_lo, n) plus the
    CountWithinRange running sum ``n_cumulative`` per (query_id,
    facet) in bucket order (reference search.rs:3598-3764)."""
    w = (
        Window.partitionBy("query_id", "facet")
        .orderBy("bucket_lo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return out.withColumn("n_cumulative", F.sum("n").over(w).cast("long"))


def _scan_terms(plan: QueryPlan) -> set[str]:
    """Posting terms one query's evaluation touches — what
    :func:`_posting_rows` scans for it."""
    return (
        set(plan.required_posting_terms())
        | (set(plan.pos_terms) if plan.units is None else set())
        | set(plan.not_terms)
    )


def _scan_spec(
    idx_plans: list[tuple[int, QueryPlan]]
) -> tuple[list[str], list[str], bool]:
    """(terms, columns, need_pos) of the posting scan for
    ``idx_plans`` — the terms and the columns the kernel reads (gram
    partial tfs/bounds only when a gram term is scanned, positions
    only for a phrase). Shared by the Spark scan
    (:func:`_posting_rows`, which prunes to the terms' ``tbucket``
    partitions) and the driver read (:func:`_posting_table`, through
    ``store.read_buckets``)."""
    terms = sorted({t for _i, p in idx_plans for t in _scan_terms(p)})
    need_pos = any(p.qtype == "phrase" for _i, p in idx_plans)
    cols = [
        "term", "field", "block_id", "max_tf", "min_dl_byte",
        "docids_vb", "tfs_vb", "dls",
    ]
    if any(NGRAM_SEP in t for t in terms):
        cols += [
            "tfs1_vb", "tfs2_vb", "tfs3_vb", "max_tf1", "max_tf2", "max_tf3",
        ]
    if need_pos:
        cols.append("positions_vb")
    return terms, cols, need_pos


def _posting_rows(
    spark: SparkSession,
    store: IndexStore,
    idx_plans: list[tuple[int, QueryPlan]],
    allowed: list[int] | None,
    facet_cols: list[str] | None = None,
    staged: list | None = None,
    block_bounds: dict[str, list[tuple[float, float]]] | None = None,
    keep_bounds: list[str] | None = None,
) -> tuple[DataFrame, int]:
    """The posting rows every :func:`_make_kernel` run reads, for one
    query or a batch (``idx_plans`` = [(query_id, plan)]) →
    (rows, n_shards).

    One scan over the union of the queries' (tbucket, term) postings
    plus any ``staged`` batches' rows in the same buckets, with the
    block-max columns the kernel bounds blocks from, a ``shard``
    column, and the per-block facet arrays of ``facet_cols``
    (:func:`_join_facet_blocks`, which also applies ``block_bounds``
    and keeps ``keep_bounds``' zone bounds). Rows are hash-partitioned
    by block_id — or by (block_id, shard) when the batch is sharded —
    except with one scan term in one effective field and nothing
    staged, where the scan's own partitioning serves."""
    terms, cols, need_pos = _scan_spec(idx_plans)
    buckets = np.unique(term_buckets(terms, store.n_buckets)).tolist()
    postings = _cached_postings(spark, store)
    for sb in staged or []:
        # only the queries' bucket dirs: listing all of a 64-bucket
        # batch (> 32 leaf dirs) is a 64-task Spark job per query. A
        # batch with none of them staged adds no rows; the explicit
        # schema avoids an inference job
        dirs = [
            d
            for d in (
                os.path.join(sb.postings_path, f"tbucket={b}") for b in buckets
            )
            if os.path.isdir(d)
        ]
        if dirs:
            postings = postings.unionByName(
                spark.read.schema(POSTINGS_DDL)
                .option("basePath", sb.postings_path)
                .parquet(*dirs)
            )
    postings = postings.filter(
        F.col("tbucket").isin(buckets) & F.col("term").isin(terms)
    ).select(*cols)
    if need_pos:
        postings = postings.withColumnRenamed("positions_vb", "pos_vb")
    else:
        postings = postings.withColumn("pos_vb", F.lit(None).cast("binary"))
    if allowed is not None:
        # field filter pushes to the scan (reference search.rs:2483-2495)
        postings = postings.filter(
            F.col("field").isin([int(i) for i in allowed])
        )
    # Query sharding: the per-(block, query) kernel work is Python
    # compute, and with few blocks the partition count caps the
    # parallelism (a 4-block index uses 4 of 32 cores for a 100-query
    # batch). Replicate the posting rows across ceil(cores / blocks)
    # shards and give each shard its qid-sliced subset of the batch —
    # every query still sees every block exactly once, so per-query
    # results are bit-identical; when the index has at least as many
    # blocks as cores the shard count is 1 and the plan is unchanged
    # (scale-adaptive, no duplication at scale). Facet/geo-joined
    # batches keep n_shards=1: their facet join reuses the block_id
    # partitioning.
    n_shards = 1
    if not facet_cols and len(idx_plans) > 1:
        par = spark.sparkContext.defaultParallelism
        bsz = int(store.meta.get("block_size", ROARING_BLOCK_SIZE))
        n_blocks_est = max(
            1, -(-int(store.meta.get("n_docs") or 1) // bsz)
        )
        # keep >= ~3 queries per shard: below that the extra task
        # dispatch + row duplication outweigh the parallel kernel
        # work (measured: a 9-query batch is fastest at 2-4 shards,
        # slower at 8)
        n_shards = max(
            1,
            min(len(idx_plans) // 3, -(-par // n_blocks_est)),
        )
    if n_shards > 1:
        rows = postings.withColumn(
            "shard",
            F.explode(F.expr(f"sequence(0, {n_shards - 1})")),
        ).repartition(
            min(
                spark.sparkContext.defaultParallelism,
                n_blocks_est * n_shards,
            ),
            "block_id",
            "shard",
        )
        return rows, n_shards
    rows = postings.withColumn("shard", F.lit(0))
    n_fields = (
        len(allowed)
        if allowed is not None
        else len(store.meta.get("fields") or ["text"])
    )
    if len(terms) > 1 or n_fields > 1 or staged:
        # a block's rows must meet in one partition. One scan term in
        # one field with nothing staged skips the exchange: every doc's
        # posting then sits in exactly one row, so a block may be
        # processed in pieces
        rows = rows.repartition("block_id")
    if facet_cols:
        rows = _join_facet_blocks(
            spark, store, rows, facet_cols, staged,
            block_bounds=block_bounds, keep_bounds=keep_bounds,
        )
    return rows, 1


def _posting_table(store: IndexStore, idx_plans: list[tuple[int, QueryPlan]]):
    """The committed posting rows of ``idx_plans`` read on the driver
    with pyarrow (``store.read_buckets``) — no Spark job: the columns
    and ``term ∈`` filter of :func:`_posting_rows` over only the terms'
    ``tbucket=`` dirs, in
    the kernel's input layout (``pos_vb``, ``shard`` = 0) and sorted
    by (block_id, term, field), the order :func:`_run_kernel` feeds
    each block in. Staged batches, field filters and facet columns are
    the Spark plan's alone."""
    import pyarrow as pa

    terms, cols, need_pos = _scan_spec(idx_plans)
    tbl = read_buckets(
        store.postings_path, POSTINGS_DDL, terms, store.n_buckets, cols
    )
    if need_pos:
        tbl = tbl.rename_columns(
            ["pos_vb" if c == "positions_vb" else c for c in tbl.column_names]
        )
    else:
        tbl = tbl.append_column("pos_vb", pa.nulls(tbl.num_rows, pa.binary()))
    tbl = tbl.append_column(
        "shard", pa.array(np.zeros(tbl.num_rows, dtype=np.int32))
    )
    return tbl.sort_by(
        [("block_id", "ascending"), ("term", "ascending"), ("field", "ascending")]
    )


def _overlay_bufs(buflist, kind: str, n_values: int):
    """Merge a block's facet buffers (one per committed/staged
    slice; non-missing slots disjoint) into one structure."""
    if buflist is None or len(buflist) == 0:
        return None
    if kind == "string_set":
        parts = [decode_string_set_block(b, n_values) for b in buflist]
        if len(parts) == 1:
            return parts[0]
        size = max(len(off) - 1 for off, _c in parts)
        counts = np.zeros(size, dtype=np.int64)
        per_doc: list[np.ndarray | None] = [None] * size
        for off, codes in parts:
            c = np.diff(off.astype(np.int64))
            for i in np.flatnonzero(c):
                per_doc[i] = codes[off[i] : off[i + 1]]
                counts[i] = c[i]
        offsets = np.zeros(size + 1, dtype=np.uint32)
        np.cumsum(counts, out=offsets[1:])
        flat = (
            np.concatenate([p for p in per_doc if p is not None])
            if counts.sum()
            else np.empty(0, dtype=facet_code_dtype(n_values))
        )
        return offsets, flat
    if kind == "string":
        dtype = facet_code_dtype(n_values)
        missing = facet_missing_code(n_values)
    elif kind == "morton":
        dtype = np.uint64  # packed Morton codes, 0 = missing
    else:
        dtype = np.float64
    arrs = [np.frombuffer(b, dtype=dtype) for b in buflist]
    if len(arrs) == 1:
        return arrs[0]
    size = max(len(a) for a in arrs)
    if kind == "string":
        out = np.full(size, missing, dtype=dtype)
        for a in arrs:
            m = a != missing
            out[: len(a)][m] = a[m]
    elif kind == "morton":
        out = np.zeros(size, dtype=np.uint64)
        for a in arrs:
            m = a != 0
            out[: len(a)][m] = a[m]
    else:
        out = np.full(size, np.nan, dtype=np.float64)
        for a in arrs:
            m = ~np.isnan(a)
            out[: len(a)][m] = a[m]
    return out


def _sset_gather(buf, cand: np.ndarray):
    """(owner idx into cand, codes) for the candidates' multi-value
    entries — vectorized CSR gather, no per-doc loop."""
    offsets, codes = buf
    n = len(offsets) - 1
    starts = np.where(cand < n, offsets[np.minimum(cand, n - 1)], 0)
    ends = np.where(cand < n, offsets[np.minimum(cand, n - 1) + 1], 0)
    counts = (ends - starts).astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64), codes[:0]
    owner = np.repeat(np.arange(cand.size), counts)
    seg = np.concatenate(([0], np.cumsum(counts)[:-1]))
    within = np.arange(total) - np.repeat(seg, counts)
    flat = np.repeat(starts.astype(np.int64), counts) + within
    return owner, codes[flat]


def _buf_at(buf, idx: np.ndarray, kind: str, n_values: int):
    """A decoded facet buffer's values at block-local docids ``idx``,
    padded with the missing value (string: the code sentinel, else
    NaN) where the buffer is shorter than the block's docid range;
    None when the block has no buffer."""
    if buf is None:
        return None
    if idx.size and int(idx.max()) >= len(buf):
        if kind == "string":
            pad = np.full(
                int(idx.max()) + 1,
                facet_missing_code(n_values),
                dtype=facet_code_dtype(n_values),
            )
        else:
            pad = np.full(int(idx.max()) + 1, np.nan)
        pad[: len(buf)] = buf
        buf = pad
    return buf[idx]


def _geo_latlon(geo: GeoRead, fbufs: dict, c: np.ndarray):
    """(lat, lon) at block-local docids ``c`` from ``geo``'s storage
    form in a block's decoded buffers ``fbufs``; (None, None) when the
    block carries no buffer."""
    bufs = [fbufs[f"fb_{col}"] for col in geo.cols]
    if geo.form == "pair":
        return tuple(_buf_at(b, c, "numeric", 0) for b in bufs)
    (buf,) = bufs
    if buf is None:
        return None, None
    la = np.full(c.size, np.nan)
    lo = np.full(c.size, np.nan)
    if geo.form == "point":  # interleaved [lat, lon] f64
        ok = c < len(buf) // 2
        la[ok] = buf[2 * c[ok]]
        lo[ok] = buf[2 * c[ok] + 1]
        return la, lo
    # morton: code 0 = missing; distances run on the DECODED
    # (i32×10^7-quantized) coordinates
    codes = np.zeros(c.size, dtype=np.uint64)
    ok = c < len(buf)
    codes[ok] = buf[c[ok]]
    has = codes != 0
    if has.any():
        la[has], lo[has] = morton_decode(codes[has])
    return la, lo


def _tally_block(
    label: str, kind: str, spec, fbufs: dict, n_values: int, cand: np.ndarray
) -> np.ndarray | None:
    """One block's counts of the docs ``cand`` (block-local) for one
    tally, by kind — string / string_set: per dictionary code (missing
    excluded; a string_set doc counts once per distinct value);
    numeric: per bucket of the ascending lower bounds ``spec``; "geo":
    per haversine-distance bucket of the :class:`GeoRead` ``spec``.
    None when the block has no buffer. The count-mode kernel and
    :func:`index_facet_stats` both tally through here."""
    if kind == "geo":
        la, lo = _geo_latlon(spec, fbufs, cand)
        if la is None or lo is None:
            return None
        vals, bounds = haversine_km(la, lo, *spec.at), spec.km
    else:
        buf = fbufs[f"fb_{label}"]
        if buf is None:
            return None
        if kind == "string_set":
            # codes are per-doc DEDUPED at encode
            _owner, codes = _sset_gather(buf, cand)
            return np.bincount(
                codes.astype(np.int64), minlength=n_values
            )[:n_values]
        vals = _buf_at(buf, cand, kind, n_values)
        if kind == "string":
            valid = vals < n_values  # missing sentinel excluded
            return np.bincount(
                vals[valid].astype(np.int64), minlength=n_values
            )[:n_values]
        bounds = spec
    ok = ~np.isnan(vals) & (vals >= bounds[0])
    bins = np.searchsorted(bounds, vals[ok], side="right") - 1
    return np.bincount(bins, minlength=len(bounds) + 1)


def _kernel_args(
    store: IndexStore,
    fields: list[tuple[str, float]] | None = None,
    field_filter: list[str] | None = None,
    staged: list | None = None,
) -> tuple[list[int] | None, dict]:
    """(allowed field ids or None, the index-derived
    :func:`_make_kernel` keywords): ``fields`` / ``field_filter``
    resolve to boosts and allowed fields, avgdl is the index's plus
    any ``staged`` batches', and the block size and delete set come
    from the index. The one source of these for the Spark kernel
    (:func:`_run_kernel`) and the driver-side result-cache rebuild."""
    boosts, allowed = _resolve_fields(store, fields, field_filter)
    _n, avgdl = _effective_stats(store, staged)
    return allowed, {
        "avgdl": avgdl,
        "boosts": boosts,
        "block_size": int(store.meta.get("block_size", ROARING_BLOCK_SIZE)),
        "deletes": _load_delete_set(store),
    }


def _facet_bufs(
    store: IndexStore,
    emit_facets: list[str] | None = None,
    count_facets_by_q: dict[int, dict] | None = None,
    facet_filters_by_q: dict[int, dict] | None = None,
    geo_by_q: dict[int, GeoRead] | None = None,
    **_other_opts,
) -> dict[str, tuple[str, int]]:
    """The facet buffers a kernel run reads, ``{fb_col: (kind,
    n_values)}`` (n_values = dictionary size, 0 without one): the
    facets it emits, counts, filters on, and the columns of its geo
    requests. A buffer's kind is always its facet's own kind.
    :func:`_run_kernel` joins exactly these columns and
    :func:`_make_kernel` decodes exactly these buffers."""
    specs: dict = store.meta.get("facets") or {}
    names = set(emit_facets or ())
    for spec in (count_facets_by_q or {}).values():
        for label, (kind, b) in spec.items():
            names.update(b.cols if kind == "geo" else (label,))
    for spec in (facet_filters_by_q or {}).values():
        names.update(spec)
    for geo in (geo_by_q or {}).values():
        names.update(geo.cols)
    return {
        f"fb_{n}": (
            facet_kind(specs[n]), len(facet_values(specs[n]) or ())
        )
        for n in sorted(names)
    }


def _run_kernel(
    spark: SparkSession,
    store: IndexStore,
    idx_plans: list[tuple[int, QueryPlan]],
    top_k: int,
    prune: bool,
    fields: list[tuple[str, float]] | None = None,
    field_filter: list[str] | None = None,
    staged: list | None = None,
    block_bounds: dict[str, list[tuple[float, float]]] | None = None,
    **opts,
) -> DataFrame:
    """Build the :func:`_posting_rows` of ``idx_plans``, joined with
    the facet buffers :func:`_facet_bufs` resolves from the kernel
    options, sort them within their partitions by (shard, block_id,
    term, field) and run one :func:`_make_kernel` over them → the
    kernel's per-partition output, which always leads with
    ``query_id``. Every query caller runs through here: ``search``,
    ``search_many``, ``match_docids``, :func:`_count_core` and
    :func:`_facet_tally`. ``opts`` pass through to the kernel with
    that buffer map; the index-derived arguments come from
    :func:`_kernel_args`.

    A ``sort_prune`` key keeps its zone bounds and schedules blocks
    by them instead (best key first, unknown bounds first — those can
    never be skipped), so the key threshold tightens as early as
    possible. Pre-v5 facet files carry no bounds; the default order
    applies then."""
    allowed, kargs = _kernel_args(store, fields, field_filter, staged)
    facet_bufs = _facet_bufs(store, **opts)
    sort_prune = opts.get("sort_prune")
    rows, n_shards = _posting_rows(
        spark, store, idx_plans, allowed,
        [col[len("fb_"):] for col in facet_bufs], staged,
        block_bounds=block_bounds,
        keep_bounds=[sort_prune[0]] if sort_prune else None,
    )
    order_cols = ["shard", "block_id", "term", "field"]
    if sort_prune is not None:
        key, direction, _need = sort_prune
        zb_col = f"zb_{'min' if direction == 'asc' else 'max'}_{key}"
        if zb_col in rows.columns:
            order_cols = [
                F.col(zb_col).asc_nulls_first()
                if direction == "asc"
                else F.col(zb_col).desc_nulls_first(),
                "block_id", "term", "field",
            ]
    kernel = _make_kernel(
        idx_plans, top_k, prune, n_shards=n_shards, facet_bufs=facet_bufs,
        **kargs, **opts,
    )
    if opts.get("count_facets_by_q"):
        schema = "query_id int, " + FACET_COUNT_SCHEMA
    elif opts.get("count_only"):
        schema = "query_id int, matches long"
    else:
        schema = "query_id int, " + RESULT_SCHEMA
        if opts.get("dist_sort_by_q") is not None:
            schema += ", geo_dist double"
        for fc in opts.get("emit_facets") or ():
            schema += f", fb_{fc} " + (
                "double" if facet_bufs[f"fb_{fc}"][0] == "numeric" else "long"
            )
    return rows.sortWithinPartitions(*order_cols).mapInPandas(
        kernel, schema=schema
    )


def _make_kernel(
    idx_plans: list[tuple[int, QueryPlan]],
    top_k: int,
    prune: bool,
    avgdl: float,
    boosts: dict[int, float],
    block_size: int = ROARING_BLOCK_SIZE,
    deletes: np.ndarray | None = None,
    count_only: bool = False,
    count_facets_by_q: dict[int, dict] | None = None,
    facet_filters_by_q: dict[int, dict] | None = None,
    geo_by_q: dict[int, GeoRead] | None = None,
    facet_bufs: dict[str, tuple[str, int]] | None = None,
    dist_sort_by_q: dict[int, str] | None = None,
    n_shards: int = 1,
    emit_all: bool = False,
    emit_facets: list[str] | None = None,
    sort_prune: tuple[str, str, int] | None = None,
):
    """The posting-scoring kernel for one or many queries (``idx_plans``
    = [(query_id, plan)]): decode each posting row ONCE, score every
    query against the shared decode with per-query state (top-k heap,
    WAND threshold, candidate algebra, gram source map, phrase
    alignment). Input rows carry ``shard``, ``block_id``, ``term``,
    ``field``, the block-max columns (``max_tf``, ``min_dl_byte``,
    ``max_tf1..3`` for grams) and the encoded postings; each
    (shard, block_id)'s rows must arrive together, and a block may
    carry several rows per (term, field) — staged level-0 slices.

    Output modes:

    * default — per-query top-``top_k`` (query_id, docid, score);
    * ``count_only`` — per-query match tallies (query_id, matches);
      ``count_facets_by_q`` maps query_id → {facet: (kind, bounds)}
      and tallies facet values instead (query_id, facet, code,
      matches) from the blocks' facet arrays (:func:`_tally_block`);
      kind "geo" buckets haversine distances, keyed by
      :attr:`GeoRead.label` with the :class:`GeoRead` as bounds;
    * ``emit_all`` — every candidate with its score, ``fb_<facet>``
      values for ``emit_facets`` and (when ``dist_sort_by_q`` is not
      None) ``geo_dist``: the input of a multi-key result sort.

    ``facet_bufs`` = {fb_col: (kind, n_values)}, the buffers the
    options read (:func:`_facet_bufs`): each block decodes them once,
    and every query's filters (``facet_filters_by_q``; ``geo_by_q`` =
    query_id → :class:`GeoRead` radius filter), tallies and emitted
    values read the same arrays.

    ``dist_sort_by_q`` marks queries whose per-partition top-k is kept
    by haversine distance (asc/desc, docid tiebreak) instead of score
    — score pruning is off for those (a non-score primary key
    invalidates the WAND threshold); when the dict is not None the
    output carries a ``geo_dist`` column (NaN where a query has no geo
    filter). ``sort_prune`` = (facet, "asc"|"desc", need_k) keeps each
    query's best need_k KEY values and skips a block whose zone bound
    (``zb_min_<facet>`` asc / ``zb_max_<facet>`` desc, from
    ``_posting_rows(keep_bounds=…)``) cannot beat the worst kept
    key; missing keys never enter the heap, so the skip is admissible
    only under the nulls-last order ``search`` applies."""
    delete_set = deletes if deletes is not None else np.empty(0, dtype=np.int64)
    has_gram = any(
        NGRAM_SEP in t for _qi, p in idx_plans for t in _scan_terms(p)
    )
    dist_sort = dist_sort_by_q or {}
    emit_dist_col = dist_sort_by_q is not None
    facet_bufs = facet_bufs or {}
    geo_by_q = geo_by_q or {}
    # per query: [(label, kind, bounds, n_values)]
    tallies_by_q = {
        qi: [
            (fc, kind, b, facet_bufs.get(f"fb_{fc}", ("", 0))[1])
            for fc, (kind, b) in spec.items()
        ]
        for qi, spec in (count_facets_by_q or {}).items()
    }
    ffilters_by_q = {
        qi: list(spec.items())
        for qi, spec in (facet_filters_by_q or {}).items()
    }
    emit_cols = [
        (f"fb_{name}", facet_bufs[f"fb_{name}"][0])
        for name in emit_facets or []
    ]
    if sort_prune is not None:
        sp_key, sp_dir, sp_need = sort_prune
        sp_col = f"fb_{sp_key}"
        sp_zb = f"zb_{'min' if sp_dir == 'asc' else 'max'}_{sp_key}"
        # string keys compare dictionary CODES; the missing sentinel
        # (dtype max) stays out of the heap — nulls last
        sp_missing = facet_missing_code(facet_bufs[sp_col][1])

    def _source_map(p: QueryPlan) -> dict[str, tuple[str, int | None]]:
        # scoring sources: each ORIGINAL positive term is scored from
        # exactly one posting term — its own posting, or one gram's
        # partial-tf column (full per-doc tf rides the gram posting,
        # so scores are bit-identical to the single-term path)
        sm: dict[str, tuple[str, int | None]] = {}
        if p.units is not None:
            for u, _off in p.units:
                parts = p.unit_parts.get(u)
                if parts is None:
                    sm.setdefault(u, (u, None))
                else:
                    for k, part in enumerate(parts):
                        sm.setdefault(part, (u, k))
            for t in p.pos_terms:
                sm.setdefault(t, (t, None))
        else:
            sm = {t: (t, None) for t in p.pos_terms}
        return sm

    def _align(p: QueryPlan) -> list[tuple[str, int]]:
        # positional alignment runs over UNITS when the phrase was
        # gram-rewritten (gram postings carry the gram-start
        # positions), else over the raw phrase terms; a single
        # covering unit ("ngram") needs no alignment at all
        if p.qtype == "phrase" and p.units is not None:
            return list(p.units)
        if p.qtype == "phrase":
            return list(p.phrase)
        return []

    qinfo = [
        (
            qi,
            p.qtype,
            dict(p.pos_terms),
            p.required_posting_terms(),
            set(p.not_terms),
            _source_map(p),
            _align(p),
            dict(p.unit_parts or {}),
            sorted(_scan_terms(p) - set(p.not_terms)),
        )
        for qi, p in idx_plans
    ]
    # query → shard assignment (see _posting_rows: each shard's
    # posting-row copies drive only that shard's queries)
    qinfo_by_shard: dict[int, list] = {s: [] for s in range(n_shards)}
    for entry in qinfo:
        qinfo_by_shard[entry[0] % n_shards].append(entry)
    decode_tab = _DECODE_NP.astype(np.float32)
    avgdl32 = np.float32(avgdl)
    # float64 upper-bound factors (format v3+: computed at query time
    # from the current avgdl — comp(max_tf, min_dl) bounds every doc in
    # the block because BM25 tf-saturation is increasing in tf and
    # decreasing in dl, reference compress_postinglist.rs:530-676; per-
    # field rows each add boost·idf·comp_ub, an upper bound of the BM25F
    # sum over fields, add_result.rs:1171-1426)
    dlq_tab = _DECODE_NP.astype(np.float64)

    def term_scores(idf: float, tfs: np.ndarray, dl_bytes: np.ndarray) -> np.ndarray:
        tf32 = tfs.astype(np.float32)
        dlq = decode_tab[dl_bytes.astype(np.int64)]
        comp = tf32 * np.float32(K + 1.0) / (
            tf32
            + np.float32(K)
            * (np.float32(1.0) - np.float32(B) + np.float32(B) * dlq / avgdl32)
        )
        return np.float32(idf) * comp

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best_d = {qi: np.empty(0, dtype=np.int64) for qi, *_ in qinfo}
        best_s = {qi: np.empty(0, dtype=np.float32) for qi, *_ in qinfo}
        best_g = {qi: np.empty(0, dtype=np.float64) for qi, *_ in qinfo}
        # emit-all output parts per query: column → list of arrays
        emitted = {qi: {} for qi, *_ in qinfo}
        key_heap = {qi: np.empty(0, dtype=np.float64) for qi, *_ in qinfo}
        match_counts = dict.fromkeys((qi for qi, *_ in qinfo), 0)
        facet_tallies: dict[int, dict[str, np.ndarray]] = {
            qi: {
                fc: np.zeros(
                    nv
                    if kind in ("string", "string_set")
                    else len(bounds.km if kind == "geo" else bounds) + 1,
                    dtype=np.int64,
                )
                for fc, kind, bounds, nv in tallies
            }
            for qi, tallies in tallies_by_q.items()
        }

        def threshold(qi: int) -> float:
            if not prune or qi in dist_sort or len(best_s[qi]) < top_k:
                return -np.inf
            return float(best_s[qi].min())

        def merge_topk(qi: int, docids: np.ndarray, scores: np.ndarray) -> None:
            # exact prefilter: a candidate scoring below the block's
            # k-th best is outside the block's own top-k, so it cannot
            # enter the merged top-k; ties at the k-th score all stay
            # for the docid tiebreak
            if 0 < top_k < scores.size:
                cut = scores.size - top_k
                keep = scores >= np.partition(scores, cut)[cut]
                docids, scores = docids[keep], scores[keep]
            d = np.concatenate([best_d[qi], docids])
            s = np.concatenate([best_s[qi], scores])
            order = np.lexsort((d, -s.astype(np.float64)))[:top_k]
            best_d[qi], best_s[qi] = d[order], s[order]

        def merge_topk_dist(
            qi: int,
            docids: np.ndarray,
            scores: np.ndarray,
            dists: np.ndarray,
        ) -> None:
            d = np.concatenate([best_d[qi], docids])
            s = np.concatenate([best_s[qi], scores])
            g = np.concatenate([best_g[qi], dists])
            key = g if dist_sort[qi] == "asc" else -g
            order = np.lexsort((d, key))[:top_k]
            best_d[qi], best_s[qi], best_g[qi] = d[order], s[order], g[order]

        def process_block(rows: pd.DataFrame, qlist: list) -> None:
            block_id = int(rows["block_id"].iloc[0])
            base = block_id * block_size
            # one shared facet-buffer decode per block; every query's
            # filters, tallies and emitted values read the same arrays
            fbufs = {
                col: _overlay_bufs(rows[col].iloc[0], kind, nv)
                for col, (kind, nv) in facet_bufs.items()
            }
            # the block's sort-key zone bound (None = unknown: pre-v5
            # facet files, or no slice has a value — never skipped)
            zb = None
            if sort_prune is not None and sp_zb in rows.columns:
                zb = rows[sp_zb].iloc[0]
                if zb is not None and np.isnan(zb):
                    zb = None

            def fbuf_at(col: str, idx: np.ndarray):
                return _buf_at(fbufs[col], idx, *facet_bufs[col])

            # shared per-block bound pieces: one f64 ub per posting row
            # (gram rows also carry per-partial-term ubs: a gram's bound
            # is Σ parts' idf·comp_ub, each part with its own max_tf)
            row_ub: dict[str, list[tuple[int, float, float, list[float] | None]]] = {}
            raw = []
            for _, r in rows.iterrows():
                def comp_ub_of(tf: float) -> float:
                    mdlq = dlq_tab[int(r["min_dl_byte"])]
                    return (tf * (K + 1.0)) / (
                        tf + K * ((1.0 - B) + B * mdlq / float(avgdl))
                    )

                fld = int(r["field"])
                partial_ubs = None
                if has_gram and NGRAM_SEP in r["term"]:
                    n_parts = r["term"].count(NGRAM_SEP) + 1
                    partial_ubs = [
                        comp_ub_of(float(r[f"max_tf{k + 1}"]))
                        for k in range(n_parts)
                    ]
                row_ub.setdefault(r["term"], []).append(
                    (
                        fld,
                        float(boosts.get(fld, 1.0)),
                        comp_ub_of(float(r["max_tf"])),
                        partial_ubs,
                    )
                )
                raw.append(r)

            decoded: dict[str, list[dict]] = {}

            def recs_for(term: str) -> list[dict]:
                # decode lazily and ONCE per row, shared by all queries
                got = decoded.get(term)
                if got is None:
                    got = []
                    for r in raw:
                        if r["term"] != term:
                            continue
                        rec = {
                            "field": int(r["field"]),
                            "boost": float(boosts.get(int(r["field"]), 1.0)),
                            "d": decode_docids(r["docids_vb"]),
                            "tf": decode_tfs(r["tfs_vb"]),
                            "dl": np.frombuffer(r["dls"], dtype=np.uint8),
                            "pos_vb": r["pos_vb"],
                        }
                        if has_gram and NGRAM_SEP in term:
                            n_parts = term.count(NGRAM_SEP) + 1
                            rec["partials"] = [
                                decode_tfs(r[f"tfs{k + 1}_vb"])
                                for k in range(n_parts)
                            ]
                        got.append(rec)
                    decoded[term] = got
                return got

            union_cache: dict[str, np.ndarray] = {}

            def union_docs(term: str) -> np.ndarray:
                got = union_cache.get(term)
                if got is None:
                    ds = [rec["d"] for rec in recs_for(term)]
                    got = ds[0] if len(ds) == 1 else np.unique(np.concatenate(ds))
                    union_cache[term] = got
                return got

            class _LazyRecs(dict):
                """dict view over recs_for for _phrase_filter."""

                def __contains__(self, term):
                    return term in row_ub

                def __getitem__(self, term):
                    return recs_for(term)

            lazy_recs = _LazyRecs()

            present = set(row_ub)
            for (qi, qtype, pos_terms, required_terms, not_set,
                 source_map, align, unit_parts_q, bound_terms) in qlist:
                if zb is not None and key_heap[qi].size >= sp_need:
                    worst = float(key_heap[qi][-1])
                    if (sp_dir == "asc" and float(zb) > worst) or (
                        sp_dir == "desc" and float(zb) < worst
                    ):
                        continue
                if qtype in ("intersection", "phrase", "ngram"):
                    if any(t not in present for t in required_terms):
                        continue
                    q_present = required_terms
                else:
                    q_present = [t for t in required_terms if t in present]
                    if not q_present:
                        continue
                if prune:
                    bound = 0.0
                    for t in bound_terms:
                        if t not in present:
                            continue
                        parts = unit_parts_q.get(t)
                        for _fld, boost, comp_ub, partial_ubs in row_ub[t]:
                            if parts is not None and partial_ubs is not None:
                                g = 0.0
                                for k, part in enumerate(parts):
                                    g += float(
                                        pos_terms.get(part, 0.0)
                                    ) * partial_ubs[k]
                                bound += boost * g
                            elif t in pos_terms:
                                bound += boost * (pos_terms[t] * comp_ub)
                    # skip only on STRICT bound < threshold, with a
                    # small relative margin: the bound is float64 while
                    # scores accumulate in f32 and can round up past it
                    # by a few ulps; equal-bound blocks must run so the
                    # docid-asc tiebreak on exact ties matches the
                    # unpruned path
                    thr = threshold(qi)
                    eps = 1e-6 + 1e-5 * abs(thr) if np.isfinite(thr) else 0.0
                    if bound < thr - eps:
                        continue
                if qtype in ("intersection", "phrase", "ngram"):
                    cand = union_docs(required_terms[0])
                    for t in required_terms[1:]:
                        cand = np.intersect1d(
                            cand, union_docs(t), assume_unique=True
                        )
                        if cand.size == 0:
                            break
                    if cand.size == 0:
                        continue
                else:
                    cand = (
                        union_docs(q_present[0])
                        if len(q_present) == 1
                        else np.unique(
                            np.concatenate([union_docs(t) for t in q_present])
                        )
                    )
                # NOT anti-probe (a match in ANY field excludes)
                for t in not_set:
                    if t in present:
                        cand = cand[
                            ~np.isin(cand, union_docs(t), assume_unique=True)
                        ]
                if cand.size == 0:
                    continue
                # deleted-doc filter (reference add_result.rs:3000-3002)
                if delete_set.size:
                    cand = cand[
                        ~np.isin(base + cand, delete_set, assume_unique=True)
                    ]
                    if cand.size == 0:
                        continue
                # per-query facet filters over the SHARED buffer decode
                # (reference search.rs:2543-2726); filtering candidates
                # keeps the block bound admissible (bound ≥ any
                # subset's max score)
                for fname, fspec in ffilters_by_q.get(qi, ()):
                    if fspec[0] == "string_set":
                        buf = fbufs[f"fb_{fname}"]
                        if buf is None:
                            cand = cand[:0]
                            break
                        owner, codes = _sset_gather(buf, cand)
                        hit = np.isin(codes, fspec[1])
                        keep = np.zeros(cand.size, dtype=bool)
                        keep[owner[hit]] = True
                        cand = cand[keep]
                    else:
                        vals = fbuf_at(f"fb_{fname}", cand)
                        if vals is None:
                            cand = cand[:0]
                        elif fspec[0] == "numeric":
                            cand = cand[
                                (vals >= fspec[1]) & (vals <= fspec[2])
                            ]
                        else:
                            cand = cand[np.isin(vals, fspec[1])]
                    if cand.size == 0:
                        break
                if cand.size == 0:
                    continue
                # per-query haversine radius over the shared buffers
                # (reference geo Point facets, search.rs:2712-2724)
                dists = None
                geo = geo_by_q.get(qi)
                if geo is not None:
                    lat, lon = _geo_latlon(geo, fbufs, cand)
                    if lat is None or lon is None:
                        continue
                    d_km = haversine_km(lat, lon, *geo.at)
                    gkeep = ~np.isnan(d_km) & (d_km <= geo.km)
                    cand = cand[gkeep]
                    dists = d_km[gkeep]
                    if cand.size == 0:
                        continue
                if align and len(align) > 1:
                    keep = _phrase_filter(lazy_recs, cand, align)
                    cand = cand[keep]
                    if dists is not None:
                        dists = dists[keep]
                    if cand.size == 0:
                        continue
                if count_only:
                    match_counts[qi] += int(cand.size)
                    for fc, kind, bounds, nv in tallies_by_q.get(qi, ()):
                        t = _tally_block(fc, kind, bounds, fbufs, nv, cand)
                        if t is not None:
                            facet_tallies[qi][fc] += t
                    continue
                # f32 accumulation in (term asc, field asc) order over
                # ORIGINAL terms — the oracle SQL's order (gram
                # partials score their source terms)
                entries = []
                for orig in pos_terms:
                    pterm, pidx = source_map.get(orig, (orig, None))
                    for rec in recs_for(pterm) if pterm in present else []:
                        tfs = (
                            rec["tf"] if pidx is None
                            else rec["partials"][pidx]
                        )
                        entries.append(
                            (orig, rec["field"], rec["boost"], rec["d"],
                             tfs, rec["dl"])
                        )
                entries.sort(key=lambda e: (e[0], e[1]))
                scores = np.zeros(cand.size, dtype=np.float32)
                for t, _fld, boost, d, tf, dl in entries:
                    idx = np.searchsorted(d, cand)
                    valid = (idx < d.size) & (
                        d[np.minimum(idx, d.size - 1)] == cand
                    )
                    ii = idx[valid]
                    scores[valid] += np.float32(boost) * term_scores(
                        pos_terms[t], tf[ii], dl[ii]
                    )
                if sort_prune is not None:
                    kv = fbuf_at(sp_col, cand)
                    if kv is not None:
                        if kv.dtype.kind in "ui":
                            vals = kv[kv != sp_missing].astype(np.float64)
                        else:
                            vals = kv[~np.isnan(kv)].astype(np.float64)
                        if vals.size:
                            merged = np.concatenate([key_heap[qi], vals])
                            merged.sort()
                            if sp_dir == "desc":
                                merged = merged[::-1]
                            key_heap[qi] = merged[:sp_need]
                if emit_all:
                    em = emitted[qi]
                    em.setdefault("docid", []).append(base + cand)
                    em.setdefault("score", []).append(scores)
                    if emit_dist_col:
                        em.setdefault("geo_dist", []).append(
                            dists
                            if dists is not None
                            else np.full(cand.size, np.nan)
                        )
                    for colname, kind in emit_cols:
                        vals = fbuf_at(colname, cand)
                        if kind == "numeric":
                            if vals is None:
                                vals = np.full(cand.size, np.nan)
                        elif vals is None:
                            vals = np.full(
                                cand.size,
                                facet_missing_code(facet_bufs[colname][1]),
                            )
                        em.setdefault(colname, []).append(vals)
                elif qi in dist_sort:
                    merge_topk_dist(qi, base + cand, scores, dists)
                else:
                    merge_topk(qi, base + cand, scores)

        pending: list[pd.DataFrame] = []
        pending_key = None
        for pdf in batches:
            if pdf.empty:
                continue
            for key2, grp in pdf.groupby(["shard", "block_id"], sort=False):
                if pending_key is not None and key2 != pending_key:
                    process_block(
                        pd.concat(pending),
                        qinfo_by_shard.get(int(pending_key[0]), ()),
                    )
                    pending = []
                pending_key = key2
                pending.append(grp)
        if pending:
            process_block(
                pd.concat(pending),
                qinfo_by_shard.get(int(pending_key[0]), ()),
            )

        if tallies_by_q:
            out_q: list[int] = []
            out_f: list[str] = []
            out_c: list[int] = []
            out_n: list[int] = []
            for qi, tallies in facet_tallies.items():
                for fc, tally in tallies.items():
                    for code in np.flatnonzero(tally):
                        out_q.append(qi)
                        out_f.append(fc)
                        out_c.append(int(code))
                        out_n.append(int(tally[code]))
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int32"),
                    "facet": pd.Series(out_f, dtype="object"),
                    "code": pd.Series(out_c, dtype="int64"),
                    "matches": pd.Series(out_n, dtype="int64"),
                }
            )
            return
        if count_only:
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(
                        list(match_counts.keys()), dtype="int32"
                    ),
                    "matches": pd.Series(
                        list(match_counts.values()), dtype="int64"
                    ),
                }
            )
            return

        dtypes = {"query_id": "int32", "docid": "int64", "score": "float32"}
        if emit_dist_col:
            dtypes["geo_dist"] = "float64"
        for colname, kind in emit_cols:
            dtypes[colname] = "float64" if kind == "numeric" else "int64"
        parts: dict[str, list[np.ndarray]] = {c: [] for c in dtypes}
        for qi, *_ in qinfo:
            if emit_all:
                got = emitted[qi]
            else:
                got = {"docid": [best_d[qi]], "score": [best_s[qi]]}
                if emit_dist_col:
                    got["geo_dist"] = [
                        best_g[qi]
                        if qi in dist_sort
                        else np.full(best_d[qi].size, np.nan)
                    ]
            n = sum(a.size for a in got.get("docid", ()))
            parts["query_id"].append(np.full(n, qi, dtype=np.int32))
            for c in dtypes:
                if c != "query_id":
                    parts[c].extend(got.get(c, ()))
        yield pd.DataFrame(
            {
                c: pd.Series(
                    np.concatenate(p) if p else np.empty(0),
                    dtype=dtypes[c],
                )
                for c, p in parts.items()
            }
        )

    return kernel


def count_matches(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    default_type: str = "union",
    field_filter: list[str] | None = None,
    staged: list | None = None,
    facet_filters: dict | None = None,
    geo_filter: dict | None = None,
) -> int:
    """Exact match count (ResultType::Count, reference search.rs:168-176),
    optionally restricted by the same ``facet_filters`` / ``geo_filter``
    predicates ``search`` takes (the reference counts within filters too).

    A one-query call of the count core :func:`count_matches_many`
    uses (:func:`_count_core`): a single positive term or a covering
    gram without NOT/filters/``field_filter``/deletes answers from
    its stored df (reference single.rs:313-323) — no scan at all,
    staged partials included; anything else runs the count-mode
    kernel with the filters' zone-bound block skip, summed globally.
    """
    staged = list(staged) if staged else None
    geo = _resolve_geo(store, geo_filter) if geo_filter else None
    filters_k = _resolve_facets(store, facet_filters, None)[0]
    plan = _plan(spark, store, query, default_type, staged)
    counts, rest = _count_core(
        spark, store, [(0, plan, filters_k, geo)], field_filter, staged,
    )
    if rest is None:
        return counts.get(0, 0)
    return int(rest.agg(F.sum("matches")).collect()[0][0] or 0)


def facet_counts(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    facets: list[str],
    default_type: str = "union",
    staged: list | None = None,
    prefix: dict[str, str] | None = None,
    length: int | dict[str, int] | None = None,
) -> DataFrame:
    """String-facet value counts over ALL matching docs, computed
    INSIDE the pruned postings scan (the reference counts facets
    during result collection, add_result.rs:487-646) →
    DataFrame(facet, value, n).

    ``prefix`` / ``length`` mirror the reference QueryFacet options
    (search.rs:335-369: "Prefix filter of facet values to return" +
    "maximum number of facet values to return" — a type-ahead aid
    when a facet has too many distinct values): ``prefix`` maps a
    facet to the value prefix it must keep; ``length`` caps each
    facet's returned values to its top-N by (count desc, value asc).
    Both filter what RETURNS — counts per value are unchanged."""
    out = facet_counts_many(
        spark, store, [(query, facets)], default_type, staged
    ).drop("query_id")
    for fc, p in (prefix or {}).items():
        out = out.filter(
            (F.col("facet") != fc) | F.col("value").startswith(p)
        )
    if length is not None:
        caps = (
            {fc: int(length) for fc in facets}
            if isinstance(length, int)
            else {fc: int(n) for fc, n in length.items()}
        )
        w = Window.partitionBy("facet").orderBy(
            F.col("n").desc(), F.col("value").asc()
        )
        ranked = out.withColumn("_rk", F.row_number().over(w))
        cap_expr = None
        for fc, n in caps.items():
            c = (F.col("facet") == fc) & (F.col("_rk") <= n)
            cap_expr = c if cap_expr is None else (cap_expr | c)
        cap_expr = cap_expr | ~F.col("facet").isin(list(caps))
        out = ranked.filter(cap_expr).drop("_rk")
    return out


def facet_range_counts(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    ranges: dict[str, list[float]],
    default_type: str = "union",
    staged: list | None = None,
    cumulative: bool = False,
) -> DataFrame:
    """Numeric range-facet counts over ALL matching docs (reference
    RangeType facets + CountWithinRange cumulative sums,
    search.rs:3598-3764) → DataFrame(facet, bucket_lo, n[,
    n_cumulative]). ``ranges`` maps facet → ascending LOWER bounds;
    the last bucket is open-ended."""
    return facet_range_counts_many(
        spark, store, [(query, ranges)], default_type, staged,
        cumulative=cumulative,
    ).drop("query_id")


def geo_range_counts(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    base: tuple[float, float],
    ranges: list[float],
    facet: str | None = None,
    lat: str | None = None,
    lon: str | None = None,
    unit: str = "km",
    default_type: str = "union",
    staged: list | None = None,
    cumulative: bool = False,
) -> DataFrame:
    """Distance-bucket facet counts from ``base`` over ALL matching
    docs (reference QueryFacet::Point / Ranges::Point with
    DistanceUnit, search.rs:330-420 — "distance between base of type
    Point and facet field of type Point"), computed INSIDE the pruned
    scan like every other facet tally. ``ranges`` = ascending lower
    bucket bounds in ``unit`` ("km" | "mi"); docs nearer than the
    first bound are uncounted, the last bucket is open-ended;
    ``cumulative`` adds the CountWithinRange running sum. The facet is
    a Point/packed-Morton column (``facet=``) or a split lat/lon pair
    (``lat=``/``lon=``); distances use the identical haversine the
    geo filter and geo_dist sort use, so the three agree to the bit.
    → DataFrame(facet, bucket_lo, n[, n_cumulative]); bucket_lo in
    ``unit``."""
    spec = {"base": base, "ranges": ranges, "unit": unit}
    if facet is not None:
        spec["facet"] = facet
    else:
        spec["lat"], spec["lon"] = lat, lon
    out = geo_range_counts_many(
        spark, store, [(query, spec)], default_type, staged
    )
    return (_cumulative(out) if cumulative else out).drop("query_id")


def geo_range_counts_many(
    spark: SparkSession,
    store: IndexStore,
    requests: list[tuple[str, dict]],
    default_type: str = "union",
    staged: list | None = None,
) -> DataFrame:
    """Geo distance-bucket counts for N queries in ONE Spark action
    → DataFrame(query_id, facet, bucket_lo, n). ``requests`` =
    [(query, spec)] with spec = {"base": (lat, lon), "ranges": [...],
    "facet": point_col | ("lat": .., "lon": ..), "unit": "km"|"mi"} —
    per-query bases/buckets/units may differ. Same tally core
    (:func:`_facet_tally`) and bucket decoder as
    :func:`facet_range_counts_many`; per-query ≡
    :func:`geo_range_counts`; ``staged`` level-0 batches join the same
    scan."""
    geos = [_resolve_geo(store, spec) for _q, spec in requests]
    tally = _facet_tally(
        spark, store,
        [(qstr, {g.label: ("geo", g)}) for (qstr, _s), g in zip(requests, geos)],
        default_type, staged,
    )
    if tally is None:
        return spark.createDataFrame(
            [], "query_id int, facet string, bucket_lo double, n long"
        )
    agg, kept = tally
    return agg.select(
        "query_id", "facet",
        _bucket_lo({qi: {geos[qi].label: geos[qi].bounds} for qi in kept}),
        "n",
    )


def index_facet_stats(
    spark: SparkSession,
    store: IndexStore,
    facets: list[str],
) -> DataFrame:
    """Index-level facet value counts over ALL live docs → DataFrame
    (facet, value, n) — the reference's get_index_string_facets
    (index.rs:4407-4458) without any query: one scan of the per-block
    facet arrays (no postings touched), each block's buffers overlay
    + bincount in a bounded task, deletes excluded."""
    specs: dict = store.meta.get("facets") or {}
    for fc in facets:
        vals = facet_values(specs[fc]) if fc in specs else None
        if fc not in specs or vals is None:
            raise ValueError(f"{fc!r} is not an indexed string facet")
    kinds = {fc: facet_kind(specs[fc]) for fc in facets}
    sizes = {fc: len(facet_values(specs[fc])) for fc in facets}
    block_size = int(store.meta.get("block_size", ROARING_BLOCK_SIZE))
    delete_set = _load_delete_set(store)

    rows = (
        store.facet_blocks(spark)
        .filter(F.col("facet").isin(list(facets)))
        .groupBy("facet", "block_id")
        .agg(F.collect_list("fvalues").alias("bufs"))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tallies = {fc: np.zeros(sizes[fc], dtype=np.int64) for fc in facets}
        for pdf in batches:
            for _, r in pdf.iterrows():
                fc = r["facet"]
                kind = kinds[fc]
                buf = _overlay_bufs(r["bufs"], kind, sizes[fc])
                if buf is None:
                    continue
                # every live doc the block's buffer covers
                live = np.arange(
                    len(buf[0]) - 1 if kind == "string_set" else len(buf)
                )
                if delete_set.size:
                    base = int(r["block_id"]) * block_size
                    live = live[
                        ~np.isin(base + live, delete_set, assume_unique=True)
                    ]
                tallies[fc] += _tally_block(
                    fc, kind, None, {f"fb_{fc}": buf}, sizes[fc], live
                )
        out_f, out_c, out_n = [], [], []
        for fc, t in tallies.items():
            for code in np.flatnonzero(t):
                out_f.append(fc)
                out_c.append(int(code))
                out_n.append(int(t[code]))
        yield pd.DataFrame(
            {
                "facet": pd.Series(out_f, dtype="object"),
                "code": pd.Series(out_c, dtype="int64"),
                "matches": pd.Series(out_n, dtype="int64"),
            }
        )

    agg = (
        rows.mapInPandas(kernel, schema=FACET_COUNT_SCHEMA)
        .groupBy("facet", "code")
        .agg(F.sum("matches").cast("long").alias("n"))
    )
    decoded = _decode_string_codes(
        spark, agg, {fc: facet_values(specs[fc]) for fc in set(facets)},
        out_col="value",
    )
    return decoded.select("facet", "value", "n")


def browse(
    spark: SparkSession,
    store: IndexStore,
    top_k: int = 10,
    offset: int = 0,
    descending: bool = True,
) -> DataFrame:
    """Empty-query index browse (reference iterator.rs /
    search.rs:1413-1432): all live docids ordered by docid, paged."""
    dm = store.doc_meta(spark).filter(F.col("field") == 0).select("docid")
    dm = _anti_join_deletes(spark, store, dm)
    order = F.col("docid").desc() if descending else F.col("docid").asc()
    out = dm.orderBy(order)
    if offset:
        out = out.offset(offset)
    return out.limit(top_k)


def iterate_docids(
    spark: SparkSession,
    store: IndexStore,
    document_id: int | None = None,
    skip: int = 0,
    take: int = 10,
    include_deleted: bool = False,
) -> tuple[int, list[int]]:
    """The reference's document iterator (``get_iterator``,
    api_endpoints.rs:1054-1146): sequential access to every live
    docid without running a search.

    * ``document_id=None, take>0`` — skip the FIRST ``skip`` ids,
      take the next ``take``.
    * ``document_id=None, take<0`` — skip the LAST ``skip`` ids,
      take the previous ``|take|``.
    * ``document_id=i, take>0`` — ids strictly AFTER ``i``: skip
      ``skip``, take ``take`` (next page: skip=1, take=+page).
    * ``document_id=i, take<0`` — ids strictly BEFORE ``i``,
      walking backward: skip ``skip``, take ``|take|`` (previous
      page: skip=1, take=-page).

    Returns ``(actually_skipped, docids ascending)`` — fewer ids than
    requested, or ``actually_skipped < skip``, signals the index
    boundary, exactly the reference's end/begin detection contract.
    One bounded job: the scan collects ``skip + |take|`` ids via
    TakeOrdered (no global materialization)."""
    if take == 0:
        return 0, []
    forward = take > 0
    t = abs(int(take))
    dm = store.doc_meta(spark).filter(F.col("field") == 0).select("docid")
    if not include_deleted:
        dm = _anti_join_deletes(spark, store, dm)
    if document_id is not None:
        dm = dm.filter(
            F.col("docid") > int(document_id)
            if forward
            else F.col("docid") < int(document_id)
        )
    order = F.col("docid").asc() if forward else F.col("docid").desc()
    ids = [
        r["docid"] for r in dm.orderBy(order).limit(int(skip) + t).collect()
    ]
    skipped = min(int(skip), len(ids))
    return skipped, sorted(ids[skipped : skipped + t])


def delete_documents(
    spark: SparkSession, store: IndexStore, docids: list[int]
) -> None:
    """Append docids to the delete set (reference delete.bin,
    `index.rs:5081-5200`): postings stay immutable; results filter at
    query time (`add_result.rs:3000-3002`)."""
    import os

    df = spark.createDataFrame([(int(d),) for d in docids], "docid long")
    mode = "append" if os.path.exists(store.deletes_path) else "overwrite"
    df.write.mode(mode).parquet(store.deletes_path)
    invalidate_term_stats_cache(store.path)


def match_docids(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    default_type: str = "union",
    staged: list | None = None,
) -> DataFrame:
    """ALL matching docids as a DataFrame (no top-k, no sort) — the
    distributed primitive behind delete-by-query and bulk exports.
    Runs the kernel in emit-all mode with pruning off."""
    staged = list(staged) if staged else None
    plan = _plan(spark, store, query, default_type, staged)
    if plan.missing_required or not plan.pos_terms:
        return spark.createDataFrame([], "docid long")
    return _run_kernel(
        spark, store, [(0, plan)], 0, False, staged=staged, emit_all=True,
    ).select("docid")


def delete_by_query(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    default_type: str = "union",
) -> None:
    """Delete every doc matching ``query`` (reference
    delete_documents_by_query, api_endpoints.rs): the matching docids
    flow straight into the delete set as a distributed write — no
    driver-side collect."""
    import os

    matches = match_docids(spark, store, query, default_type)
    mode = "append" if os.path.exists(store.deletes_path) else "overwrite"
    matches.write.mode(mode).parquet(store.deletes_path)
    invalidate_term_stats_cache(store.path)


def _load_delete_set(store: IndexStore) -> np.ndarray:
    """Delete set as a sorted array for the kernel (the reference keeps
    an in-RAM AHashSet, `index.rs:1593-1594`). Read driver-side with
    pyarrow (no Spark job) and cached per index generation; shipped to
    executors once per query via the kernel closure — broadcast-sized.
    A corpus with massive deletes should compact instead (see
    index.compaction.compact)."""
    import os

    if not os.path.exists(store.deletes_path):
        return np.empty(0, dtype=np.int64)
    key = (store.path, _dir_mtime(store.deletes_path))
    cached = _DELETE_CACHE.get(key)
    if cached is None:
        import pyarrow.dataset as pads

        tbl = pads.dataset(store.deletes_path).to_table(columns=["docid"])
        cached = np.unique(tbl.column("docid").to_numpy(zero_copy_only=False))
        _DELETE_CACHE[key] = cached.astype(np.int64)
    return _DELETE_CACHE[key]


def _anti_join_deletes(
    spark: SparkSession, store: IndexStore, df: DataFrame
) -> DataFrame:
    import os

    if not os.path.exists(store.deletes_path):
        return df
    dels = spark.read.parquet(store.deletes_path).select("docid")
    return df.join(F.broadcast(dels), "docid", "left_anti")


def _join_facet_blocks(
    spark: SparkSession,
    store: IndexStore,
    rows: DataFrame,
    facet_cols: list[str],
    staged: list | None = None,
    block_bounds: dict[str, list[tuple[float, float]]] | None = None,
    keep_bounds: list[str] | None = None,
) -> DataFrame:
    """Left-join per-block facet arrays onto the posting rows (rows
    already hash-partitioned by block_id keep that partitioning, so
    only the small facet side exchanges). Staged batches' facet blocks
    union in for realtime level-0.

    ``block_bounds`` maps a numeric facet to allowed [lo, hi] value
    intervals: blocks whose stored per-block min/max (format v4 zone
    bounds) provably fall outside EVERY interval are dropped here —
    before any posting decode — mirroring the reference's segment-
    level facet skip. Blocks with unknown bounds (pre-v4 files, or a
    slice union where no slice has values) are kept; correctness
    never depends on the skip.

    ``keep_bounds`` facets additionally RETAIN their per-block zone
    bounds as ``zb_min_<fc>`` / ``zb_max_<fc>`` output columns (the
    kernel's numeric sort-key block skip reads them; null = unknown).
    """
    for fc in facet_cols:
        fb = store.facet_blocks(spark)
        for sb in staged or []:
            if os.path.exists(sb.facets_path):
                fb = fb.unionByName(
                    spark.read.parquet(sb.facets_path),
                    allowMissingColumns=True,
                )
        # a block can carry SEVERAL facet rows (id_col appends /
        # staged batches sharing a block, each covering its own docid
        # slice with missing elsewhere) — collect them into one row so
        # the join never duplicates posting rows; the kernel overlays
        # the buffers (non-missing slots are disjoint by construction)
        fb = fb.filter(F.col("facet") == fc)
        intervals = (block_bounds or {}).get(fc)
        want_bounds = fc in (keep_bounds or ())
        has_bounds = (intervals or want_bounds) and {
            "vmin", "vmax",
        } <= set(fb.columns)
        if has_bounds:
            # NaN bounds mean "this slice has no values" — null them so
            # the min/max over slices ignores them (Spark sorts NaN as
            # the LARGEST double, which would poison max otherwise)
            fb = fb.groupBy("block_id").agg(
                F.collect_list("fvalues").alias(f"fb_{fc}"),
                F.min(
                    F.when(~F.isnan(F.col("vmin")), F.col("vmin"))
                ).alias("_bmin"),
                F.max(
                    F.when(~F.isnan(F.col("vmax")), F.col("vmax"))
                ).alias("_bmax"),
            )
        else:
            fb = fb.groupBy("block_id").agg(
                F.collect_list("fvalues").alias(f"fb_{fc}")
            )
        rows = rows.join(fb, "block_id", "left")
        if has_bounds and intervals:
            overlap = F.lit(False)
            for lo, hi in intervals:
                overlap = overlap | (
                    (F.col("_bmin") <= F.lit(float(hi)))
                    & (F.col("_bmax") >= F.lit(float(lo)))
                )
            rows = rows.filter(F.col("_bmin").isNull() | overlap)
        if has_bounds and want_bounds:
            rows = rows.withColumnRenamed(
                "_bmin", f"zb_min_{fc}"
            ).withColumnRenamed("_bmax", f"zb_max_{fc}")
        elif has_bounds:
            rows = rows.drop("_bmin", "_bmax")
    return rows


def _phrase_filter(
    recs: dict[str, list[dict]],
    cand: np.ndarray,
    phrase: list[tuple[str, int]],
) -> np.ndarray:
    """Boolean mask over cand: doc has the phrase units position-aligned
    (pos_i - offset_i equal across units for some shared anchor,
    reference add_result.rs:3152-3391) — within a single field. Units
    may be gram postings (positions = gram-start) or single terms.

    Fully vectorized: each unit's (doc, field, position) triples become
    packed ``((doc << 4) | field) << 18 | (pos - offset)`` anchor keys;
    the phrase's anchors are the running ``isin`` intersection across
    units — no per-doc loop. Positions are < 2^17 (65,536 cap +
    offsets), docids block-local, field ids < 16.
    """
    SHIFT = np.int64(18)
    FSHIFT = np.int64(4)
    # pos - offset can reach -(MAX_QUERY_TERM_NUMBER-1) = -99; the bias
    # keeps keys non-negative so the doc bits stay intact (pos < 65,536,
    # so biased values stay below 2^18)
    BIAS = np.int64(128)

    def term_keys(term: str, off: int) -> np.ndarray | None:
        if term not in recs:
            return None
        parts = []
        for rec in recs[term]:
            d, tf = rec["d"], rec["tf"]
            pos_flat = decode_positions(rec["pos_vb"], tf)
            docs_rep = np.repeat(d, tf)
            parts.append(
                (
                    (
                        (docs_rep.astype(np.int64) << FSHIFT)
                        | np.int64(rec["field"])
                    )
                    << SHIFT
                )
                | (pos_flat.astype(np.int64) - np.int64(off) + BIAS)
            )
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.concatenate(parts)

    anchors: np.ndarray | None = None
    for term, off in phrase:
        keys = term_keys(term, off)
        if keys is None:
            return np.zeros(cand.size, dtype=bool)
        if anchors is None:
            anchors = keys
        else:
            anchors = anchors[np.isin(anchors, keys)]
        if anchors.size == 0:
            return np.zeros(cand.size, dtype=bool)
    matched_docs = np.unique(anchors >> (SHIFT + FSHIFT))
    return np.isin(cand, matched_docs, assume_unique=True)
