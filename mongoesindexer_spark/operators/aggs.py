"""ES search aggregations: aggs computed over the FULL hit set.

An ES request body can carry ``query`` + ``aggs``; the aggregation runs
over every matching doc (not the top-k page), per shard, and the
coordinating node merges.  ES never launches a cluster job for a hit set
a shard holds; this module picks its locus the same way, by the engine's
one cost model (:meth:`SearchEngine.plan`: Σdf of the query terms vs
``SEGMENT_FANOUT_CUTOFF``), asked in :func:`_driver_hit_ids` and nowhere
else in this module:

- **driver, below the cutoff** — the tombstone-masked hit ids come from
  the decoded posting blocks the serving kernels use, and
  :func:`match_set` hands them on as a local relation (no postings scan,
  no doc_id shuffle).  :func:`search_count` and :func:`search_terms_agg`
  finish on the driver too and return local frames: zero Spark jobs.
- **Spark, above it** — the match set is a distinct-doc_id frame derived
  from the term-filtered postings scan (predicate pushed to parquet), the
  agg a shuffled partial aggregation over it — no driver materialization
  of the hit set, which is what survives a head-term query at 10^12 docs.

Both loci return the same columns, types, order and empty results.

Implemented aggs (the reference's ES usage surface — terms fielddata
aggs and numeric stats are what its keyword/integer mappings serve):

- :func:`search_terms_agg` — ``terms`` agg on a keyword sub-field over
  the hit set (bucket doc counts, count desc / value asc, size-capped).
- :func:`search_stats_agg` — ``stats`` agg (count/min/max/sum/avg) on a
  numeric source column over the hit set.
- :func:`search_cardinality_agg` — ``cardinality`` agg: exact distinct
  count (oracle twin) or HyperLogLog++ ``approx_count_distinct`` (the
  scale path — partial sketches merge map-side, the value space never
  shuffles).
- :func:`search_histogram_agg` / :func:`search_date_histogram_agg` —
  fixed-interval and calendar-interval (date_trunc) histograms.
- :func:`search_top_hits_agg` — ``terms`` + ``top_hits`` sub-agg: a
  rank window inside each bucket partition, no global sort.
- :func:`search_percentiles_agg` — ``percentiles``: exact
  linear-interpolation quantiles (swap in ``F.percentile_approx`` —
  t-digest-style — for hit sets too large for exact ranks).
- :func:`search_sort_by_field` — doc-values ``sort`` instead of _score.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from .topk import (SearchEngine, _check_msm, _query_terms,
                   drop_tombstoned)


def _unpivot(row: DataFrame, buckets: list, names: tuple[str, str],
             *keep: str) -> DataFrame:
    """One-row aggregate → one row per ``(key, column)`` bucket, output
    columns ``names``, through a typed ``stack``: keys travel as
    literals, never as SQL text, so caller-supplied bucket names are
    never parsed."""
    args = [F.lit(len(buckets))]
    for key, col in buckets:
        args += [F.lit(key), col]
    return row.select(*keep, F.stack(*args).alias(*names))


def _check_integral(docs: DataFrame, *cols: str) -> None:
    """The exact-moment aggs cast their sums to BIGINT, which would
    silently truncate a fractional column — refuse anything but an
    integer type."""
    for f in docs.select(*cols).schema.fields:
        if not isinstance(f.dataType, IntegralType):
            raise ValueError(
                f"column {f.name!r} has type "
                f"{f.dataType.simpleString()}; this agg needs an "
                "integer column (its sums are exact BIGINTs)")


def _match_set_df(eng: SearchEngine, terms: list[str], mode: str,
                  min_should_match: int | None) -> DataFrame:
    """Spark locus of :func:`match_set`: one term-pushed postings scan,
    a doc_id aggregation (counts double as the conjunction /
    minimum_should_match filter) and the merge-on-read tombstone
    anti-join."""
    from .build_index import read_flat
    flat = read_flat(eng.cat, eng.spark).filter(F.col("term").isin(terms))
    docs = flat.groupBy("doc_id").agg(F.count("*").alias("n_terms"))
    if mode == "and":
        docs = docs.filter(F.col("n_terms") == len(terms))
    elif min_should_match is not None:
        docs = docs.filter(F.col("n_terms") >= min_should_match)
    docs = docs.select("doc_id")
    docs = drop_tombstoned(docs, eng)
    return docs


def match_set(eng: SearchEngine, query_text: str, mode: str = "or",
              min_should_match: int | None = None) -> DataFrame:
    """Distinct doc_ids matching the analyzed query — the ES hit set as
    a one-column (``doc_id long``) DataFrame.  Below
    ``SEGMENT_FANOUT_CUTOFF`` it is a local relation of the driver hit
    ids (:func:`_driver_hit_ids`), so every consumer joins a small local
    frame; above it, the Spark postings scan + doc_id aggregation."""
    terms = _query_terms(query_text, eng.cfg)
    ids = _driver_hit_ids(eng, terms, mode, min_should_match)
    if ids is not None:
        # from pandas (Arrow), not from Python rows: a row list goes
        # through parallelize and launches a Spark job when collected
        return eng.spark.createDataFrame(pd.DataFrame({"doc_id": ids}),
                                         "doc_id long")
    return _match_set_df(eng, terms, mode, min_should_match)


def search_count(eng: SearchEngine, query_text: str, mode: str = "or",
                 min_should_match: int | None = None) -> DataFrame:
    """ES ``_count``: the hit-set cardinality as a one-row
    ``doc_count`` frame.  Below ``SEGMENT_FANOUT_CUTOFF`` the count is
    taken on the driver from the hit ids and returned as a local
    relation (zero Spark jobs); above it, the Spark match set's
    count."""
    terms = _query_terms(query_text, eng.cfg)
    ids = _driver_hit_ids(eng, terms, mode, min_should_match)
    if ids is not None:
        return eng.spark.createDataFrame(
            pd.DataFrame({"doc_count": [ids.size]}), "doc_count long")
    return _match_set_df(eng, terms, mode, min_should_match) \
        .agg(F.count("*").alias("doc_count"))


def _driver_terms_agg(eng: SearchEngine, ids, sub: str,
                      size: int) -> DataFrame:
    """Driver locus of :func:`search_terms_agg`: point-read the hit
    ids' ``fields`` rows (the reader filter clauses use), count the
    non-null values, ES bucket order, top ``size``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    out = pd.DataFrame({"value": pd.Series([], dtype=object),
                        "doc_count": pd.Series([], dtype="int64")})
    if ids.size:
        tbl = eng._rg_index("fields", "doc_id").read_isin_table(
            ids.tolist(), ["doc_id", sub])
        vc = pc.value_counts(tbl[sub].drop_null())
        if len(vc):
            out = (pa.table({"value": vc.field("values"),
                             "doc_count": vc.field("counts")})
                   .sort_by([("doc_count", "descending"),
                             ("value", "ascending")])
                   .slice(0, size).to_pandas())
    return eng.spark.createDataFrame(out, "value string, doc_count long")


def search_terms_agg(eng: SearchEngine, query_text: str, field: str,
                     size: int = 10, normalized: bool = False,
                     mode: str = "or",
                     min_should_match: int | None = None) -> DataFrame:
    """ES ``terms`` agg on ``<field>_keyword``/``_normalized`` over the
    query's hit set: per-value doc counts, ES bucket order (count desc,
    value asc), top ``size`` buckets, as ``value string, doc_count
    long``.  Below ``SEGMENT_FANOUT_CUTOFF`` the hit ids' ``fields``
    rows are point-read and counted on the driver (a local relation,
    zero Spark jobs); above it, one shuffle for the match set and one
    for the bucket counts — the same two-phase shape ES executes per
    shard + coordinator merge."""
    from .build_index import read_fields
    sub = f"{field}_{'normalized' if normalized else 'keyword'}"
    terms = _query_terms(query_text, eng.cfg)
    ids = _driver_hit_ids(eng, terms, mode, min_should_match)
    if ids is not None:
        return _driver_terms_agg(eng, ids, sub, size)
    fields = read_fields(eng.cat, eng.spark).select("doc_id", sub)
    hits = _match_set_df(eng, terms, mode, min_should_match)
    return (fields.join(hits, "doc_id", "semi")
            .filter(F.col(sub).isNotNull())
            .groupBy(F.col(sub).alias("value"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("value"))
            .limit(size))


def search_terms_metric_agg(eng: SearchEngine, docs: DataFrame,
                            query_text: str, group_field: str,
                            num_col: str,
                            metrics: tuple[str, ...] = ("avg",),
                            size: int = 10, normalized: bool = False,
                            mode: str = "or",
                            min_should_match: int | None = None
                            ) -> DataFrame:
    """ES ``terms`` agg with METRIC SUB-AGGREGATIONS — the single most
    common ES agg composition (``aggs: {terms: {...}, aggs: {m: {avg:
    ...}}}``; the reference's integer mappings exist to serve it,
    configs/cld_doc.config.json:324-331): per keyword bucket over the
    hit set, ``doc_count`` plus the requested metrics of a numeric
    source column, ES bucket order (count desc, value asc), top
    ``size`` buckets.

    ``metrics``: any of ``avg``/``sum``/``min``/``max`` — output
    columns ``<metric>_<num_col>``.  NULL metric values are ignored by
    the metrics but still counted in ``doc_count``, exactly ES (the
    sub-agg reports its own smaller count; here doc_count is the
    bucket's).

    One shuffle derives the hit set, one computes every bucket's
    doc_count AND all metrics together (map-side partial aggregation) —
    adding metrics costs zero extra passes over the same two-phase
    shape ES executes per shard + coordinator merge."""
    from .build_index import read_fields
    allowed = ("avg", "sum", "min", "max")
    bad = [m for m in metrics if m not in allowed]
    if bad or not metrics:
        raise ValueError(f"metrics must be non-empty, each of {allowed}")
    sub = f"{group_field}_{'normalized' if normalized else 'keyword'}"
    fields = read_fields(eng.cat, eng.spark).select("doc_id", sub)
    hits = match_set(eng, query_text, mode, min_should_match)
    scoped = (docs.select("doc_id", num_col)
              .join(hits, "doc_id", "semi")
              .join(fields, "doc_id")
              .filter(F.col(sub).isNotNull()))
    aggs = [F.count("*").alias("doc_count")]
    for m in metrics:
        fn = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}[m]
        aggs.append(fn(num_col).alias(f"{m}_{num_col}"))
    return (scoped.groupBy(F.col(sub).alias("value")).agg(*aggs)
            .orderBy(F.desc("doc_count"), F.asc("value")).limit(size))


def search_range_agg(eng: SearchEngine, docs: DataFrame, query_text: str,
                     num_col: str,
                     ranges: "list[tuple[float | None, float | None]]",
                     mode: str = "or",
                     min_should_match: int | None = None) -> DataFrame:
    """ES ``range`` agg: named bucket ranges over a numeric doc value
    of the hit set — the faceting companion to the histogram, ES bucket
    key format (``*-100.0``, ``100.0-200.0``, ``200.0-*``; ``from``
    inclusive, ``to`` exclusive).  Unlike the histogram, EVERY declared
    bucket is returned (ES range aggs have no min_doc_count) and ranges
    MAY overlap — a doc counts in each range containing it.

    One pass: each range is a conditional sum inside a single global
    aggregate (map-side partials), then the one-row result unpivots to
    (key, doc_count) rows via :func:`_unpivot` — N ranges never cost N
    scans, and nothing hit-set-sized reaches the driver."""
    if not ranges:
        raise ValueError("range agg needs at least one range")
    hits = match_set(eng, query_text, mode, min_should_match)
    scoped = (docs.select("doc_id", num_col).join(hits, "doc_id", "semi")
              .filter(F.col(num_col).isNotNull()))
    aggs, keys = [], []
    for i, (frm, to) in enumerate(ranges):
        cond = F.lit(True)
        if frm is not None:
            cond = cond & (F.col(num_col) >= float(frm))
        if to is not None:
            cond = cond & (F.col(num_col) < float(to))
        # coalesce: an empty hit set must yield 0-count buckets, not NULL
        aggs.append(F.coalesce(F.sum(F.when(cond, 1).otherwise(0)),
                               F.lit(0)).cast("long").alias(f"_b{i}"))
        keys.append(f"{'*' if frm is None else float(frm)}-"
                    f"{'*' if to is None else float(to)}")
    return _unpivot(scoped.agg(*aggs),
                    [(k, F.col(f"_b{i}")) for i, k in enumerate(keys)],
                    ("key", "doc_count"))


def search_extended_stats_agg(eng: SearchEngine, docs: DataFrame,
                              query_text: str, num_col: str,
                              mode: str = "or",
                              min_should_match: int | None = None
                              ) -> DataFrame:
    """ES ``extended_stats`` agg: stats plus sum_of_squares, variance
    (population, ES default) and std_deviation over the hit set.  The
    moments derive from EXACT integer sums (count, sum, sum_sq are
    BIGINT for integer doc values), so an oracle can reproduce the
    derived doubles bit-for-bit — no aggregation-order float drift.
    ``num_col`` must be an integer column (ValueError otherwise)."""
    _check_integral(docs, num_col)
    hits = match_set(eng, query_text, mode, min_should_match)
    scoped = (docs.select("doc_id", num_col).join(hits, "doc_id", "semi")
              .filter(F.col(num_col).isNotNull()))
    c = F.col(num_col)
    base = scoped.agg(
        F.count("*").cast("long").alias("count"),
        F.min(c).cast("long").alias("min"),
        F.max(c).cast("long").alias("max"),
        F.sum(c).cast("long").alias("sum"),
        F.sum(c * c).cast("long").alias("sum_of_squares"))
    avg = F.col("sum") / F.col("count")
    var = F.col("sum_of_squares") / F.col("count") - avg * avg
    return base.select(
        "count", "min", "max", "sum", "sum_of_squares",
        avg.alias("avg"), var.alias("variance"),
        F.sqrt(var).alias("std_deviation"))


def search_rare_terms_agg(eng: SearchEngine, query_text: str,
                          field: str, max_doc_count: int = 1,
                          size: int = 10, normalized: bool = False,
                          mode: str = "or",
                          min_should_match: int | None = None
                          ) -> DataFrame:
    """ES ``rare_terms`` agg: the LONG TAIL of a keyword sub-field —
    buckets whose hit-set doc count is ≤ ``max_doc_count``, ordered
    count ASC then value asc (the inverse of the terms agg, which
    surfaces the head).  Same two-phase shape as terms agg; the
    rarity filter rides the aggregation, so nothing value-space-sized
    reaches the driver (ES implements this with a CuckooFilter sketch;
    the exact aggregation is this engine's oracle-checkable form and
    the distributed cost is one shuffle either way)."""
    from .build_index import read_fields
    if max_doc_count <= 0:
        raise ValueError("max_doc_count must be positive")
    sub = f"{field}_{'normalized' if normalized else 'keyword'}"
    fields = read_fields(eng.cat, eng.spark).select("doc_id", sub)
    hits = match_set(eng, query_text, mode, min_should_match)
    return (fields.join(hits, "doc_id", "semi")
            .filter(F.col(sub).isNotNull())
            .groupBy(F.col(sub).alias("value"))
            .agg(F.count("*").alias("doc_count"))
            .filter(F.col("doc_count") <= max_doc_count)
            .orderBy(F.asc("doc_count"), F.asc("value"))
            .limit(size))


def search_weighted_avg_agg(eng: SearchEngine, docs: DataFrame,
                            query_text: str, value_col: str,
                            weight_col: str, mode: str = "or",
                            min_should_match: int | None = None
                            ) -> DataFrame:
    """ES ``weighted_avg`` agg: Σ(value×weight)/Σ(weight) over the hit
    set.  ES semantics for nulls: rows with a NULL weight are skipped
    entirely; a NULL value with a live weight is skipped too (no
    ``value.missing`` default configured).  The two sums are exact
    BIGINTs for integer columns, so the derived double is
    oracle-reproducible; one scalar aggregate.  Both columns must be
    integers (ValueError otherwise)."""
    _check_integral(docs, value_col, weight_col)
    hits = match_set(eng, query_text, mode, min_should_match)
    scoped = (docs.select("doc_id", value_col, weight_col)
              .join(hits, "doc_id", "semi")
              .filter(F.col(value_col).isNotNull()
                      & F.col(weight_col).isNotNull()))
    v, w = F.col(value_col), F.col(weight_col)
    base = scoped.agg(F.sum(v * w).cast("long").alias("sum_vw"),
                      F.sum(w).cast("long").alias("sum_w"))
    return base.select(
        "sum_vw", "sum_w",
        (F.col("sum_vw") / F.col("sum_w")).alias("weighted_avg"))


def search_multi_terms_agg(eng: SearchEngine, query_text: str,
                           fields: "tuple[str, ...]", size: int = 10,
                           normalized: bool = False, mode: str = "or",
                           min_should_match: int | None = None
                           ) -> DataFrame:
    """ES ``multi_terms`` agg: buckets keyed by the TUPLE of several
    keyword sub-field values over the hit set, doc_count desc then key
    tuple asc — the count-ordered cousin of the composite agg (which
    streams the bucket space in KEY order for paging).  Docs missing
    ANY of the key fields drop, like ES.  One shuffle for the match
    set, one for the tuple counts."""
    from .build_index import read_fields
    if not fields or len(fields) < 2:
        raise ValueError("multi_terms needs at least two key fields "
                         "(use the terms agg for one)")
    subs = [f"{f}_{'normalized' if normalized else 'keyword'}"
            for f in fields]
    src = read_fields(eng.cat, eng.spark).select("doc_id", *subs)
    hits = match_set(eng, query_text, mode, min_should_match)
    scoped = src.join(hits, "doc_id", "semi")
    for s in subs:
        scoped = scoped.filter(F.col(s).isNotNull())
    out = (scoped.groupBy(*[F.col(s).alias(f"key_{i}")
                            for i, s in enumerate(subs)])
           .agg(F.count("*").alias("doc_count")))
    keys = [f"key_{i}" for i in range(len(subs))]
    return out.orderBy(F.desc("doc_count"),
                       *[F.asc(k) for k in keys]).limit(size)


def search_percentile_ranks_agg(eng: SearchEngine, docs: DataFrame,
                                query_text: str, num_col: str,
                                values: "tuple[float, ...]",
                                mode: str = "or",
                                min_should_match: int | None = None
                                ) -> DataFrame:
    """ES ``percentile_ranks`` agg — the inverse of percentiles: for
    each given value, the percentage of the hit set's doc values at or
    below it.  Exact (100 × count(v ≤ x) / count — integer counts, so
    the derived doubles are oracle-reproducible; ES defaults to the
    t-digest estimate, this is its exact form).  One conditional global
    aggregate for every requested value — N values ≠ N passes."""
    if not values:
        raise ValueError("percentile_ranks needs at least one value")
    hits = match_set(eng, query_text, mode, min_should_match)
    scoped = (docs.select("doc_id", num_col).join(hits, "doc_id", "semi")
              .filter(F.col(num_col).isNotNull()))
    c = F.col(num_col)
    aggs = [F.count("*").cast("long").alias("_n")]
    for i, x in enumerate(values):
        aggs.append(F.coalesce(
            F.sum(F.when(c <= float(x), 1).otherwise(0)), F.lit(0))
            .cast("long").alias(f"_le{i}"))
    row = _unpivot(scoped.agg(*aggs),
                   [(float(x), F.col(f"_le{i}"))
                    for i, x in enumerate(values)],
                   ("value", "n_le"), "_n")
    return (row.select("value", "n_le",
                F.when(F.col("_n") > 0,
                       F.col("n_le") * 100.0 / F.col("_n"))
                .otherwise(0.0).alias("rank_pct")))


def search_adjacency_matrix_agg(eng: SearchEngine,
                                filters: dict[str, tuple[str, str]]
                                ) -> DataFrame:
    """ES ``adjacency_matrix`` agg: doc counts for every named filter
    AND every pairwise intersection (bucket key ``a&b``, ES's
    separator) — the co-occurrence matrix dashboards build from named
    segments.  SINGLE segment pass like the filters agg: one postings
    scan over the union of every filter's terms, one per-doc aggregation
    of matched-term counts, then each bucket (single or pair) is a
    conditional sum in one global aggregate — N filters cost one scan,
    not N + N²/2.  Empty buckets are omitted (ES behavior)."""
    if not filters:
        raise ValueError("adjacency_matrix needs at least one filter")
    from .build_index import read_flat
    names = sorted(filters)
    terms_by = {n: _query_terms(filters[n][0], eng.cfg) for n in names}
    union_terms = sorted({t for ts in terms_by.values() for t in ts})
    if not union_terms:
        return eng.spark.createDataFrame(
            [], "bucket string, doc_count long")
    flat = (read_flat(eng.cat, eng.spark)
            .filter(F.col("term").isin(union_terms))
            .select("term", "doc_id"))
    flat = drop_tombstoned(flat, eng)
    counts = [F.sum(F.when(F.col("term").isin(ts), 1).otherwise(0))
              .alias(f"_n{i}") if ts else F.lit(0).alias(f"_n{i}")
              for i, ts in enumerate(terms_by[n] for n in names)]
    perdoc = flat.groupBy("doc_id").agg(*counts)
    match = {}
    for i, n in enumerate(names):
        q, mode = filters[n]
        need = len(terms_by[n]) if mode == "and" else 1
        match[n] = (F.col(f"_n{i}") >= need) if terms_by[n] \
            else F.lit(False)
    buckets = [(n, match[n]) for n in names]
    buckets += [(f"{a}&{b}", match[a] & match[b])
                for ai, a in enumerate(names)
                for b in names[ai + 1:]]
    conds = [F.coalesce(F.sum(F.when(pred, 1).otherwise(0)), F.lit(0))
             .cast("long").alias(f"_b{i}")
             for i, (_, pred) in enumerate(buckets)]
    return (_unpivot(perdoc.agg(*conds),
                     [(nm, F.col(f"_b{i}"))
                      for i, (nm, _) in enumerate(buckets)],
                     ("bucket", "doc_count"))
        .filter(F.col("doc_count") > 0)
        .orderBy("bucket"))


def search_string_stats_agg(eng: SearchEngine, query_text: str,
                            field: str, normalized: bool = False,
                            mode: str = "or",
                            min_should_match: int | None = None
                            ) -> DataFrame:
    """ES ``string_stats`` agg on a keyword sub-field over the hit set:
    count, min/max/avg length, and the Shannon entropy of the
    CHARACTER distribution across all values (the ES definition).  The
    length moments derive from exact integer sums; entropy folds the
    per-character counts in CHARACTER ORDER via an ordered
    ``aggregate`` lambda, so the float sum is order-pinned and
    reproducible (a parallel float reduction would be plan-dependent).
    Char counting explodes values to (char, n) pairs — bounded by the
    alphabet × value lengths of the HIT SET, never corpus-sized on the
    driver (the fold runs over the ≤|alphabet| count rows)."""
    from .build_index import read_fields
    sub = f"{field}_{'normalized' if normalized else 'keyword'}"
    fields = read_fields(eng.cat, eng.spark).select("doc_id", sub)
    hits = match_set(eng, query_text, mode, min_should_match)
    vals = (fields.join(hits, "doc_id", "semi")
            .filter(F.col(sub).isNotNull())
            .select(F.col(sub).alias("v")))
    base = vals.agg(
        F.count("*").cast("long").alias("count"),
        F.min(F.length("v")).cast("long").alias("min_length"),
        F.max(F.length("v")).cast("long").alias("max_length"),
        F.sum(F.length("v")).cast("long").alias("sum_length"))
    chars = (vals.select(F.explode(F.split("v", "")).alias("c"))
             .filter(F.col("c") != "")
             .groupBy("c").agg(F.count("*").cast("long").alias("n")))
    # ordered fold: sort the (char, count) rows, collect into an array,
    # and aggregate() the entropy terms left-to-right — deterministic
    # (total chars rides the same row for the p = n/total terms)
    ent = chars.agg(
        F.array_sort(F.collect_list(F.struct("c", "n"))).alias("cs"),
        F.sum("n").cast("double").alias("tot"))
    entropy = ent.select(
        F.aggregate(
            "cs", F.lit(0.0).cast("double"),
            lambda acc, s: acc
            - (s["n"].cast("double") / F.col("tot"))
            * F.log2(s["n"].cast("double") / F.col("tot"))
        ).alias("entropy"))
    out = base.crossJoin(entropy)
    return out.select(
        "count", "min_length", "max_length", "sum_length",
        (F.col("sum_length") / F.col("count")).alias("avg_length"),
        "entropy")


def search_missing_agg(eng: SearchEngine, query_text: str, field: str,
                       kind: str = "keyword", mode: str = "or",
                       min_should_match: int | None = None) -> DataFrame:
    """ES ``missing`` agg: count of hit docs carrying NO value for the
    sub-field — the bucket complement of the ``exists`` filter
    (``kind``: keyword/normalized/num, as ExistsClause).  A LEFT join
    from the hit set so docs with no ``fields`` row at all count as
    missing too; one scalar aggregate, nothing hit-set-sized reaches
    the driver."""
    from .build_index import read_fields
    if kind not in ("keyword", "normalized", "num"):
        raise ValueError("kind must be keyword/normalized/num")
    sub = f"{field}_{kind}"
    fields = read_fields(eng.cat, eng.spark).select("doc_id", sub)
    hits = match_set(eng, query_text, mode, min_should_match)
    return (hits.join(fields, "doc_id", "left")
            .agg(F.coalesce(
                F.sum(F.when(F.col(sub).isNull(), 1).otherwise(0)),
                F.lit(0)).cast("long").alias("doc_count")))


def search_histogram_agg(eng: SearchEngine, docs: DataFrame,
                         query_text: str, num_col: str, interval: int,
                         mode: str = "or",
                         min_should_match: int | None = None) -> DataFrame:
    """ES ``histogram`` agg (the fixed-interval core of date_histogram —
    dates being epoch millis, a calendar interval is just a different
    bucket function): bucket = floor(value / interval) × interval over
    the hit set, bucket-ascending like ES.  Empty buckets are omitted
    (ES min_doc_count=1 shape)."""
    if interval <= 0:
        raise ValueError("interval must be positive")
    hits = match_set(eng, query_text, mode, min_should_match)
    return (docs.select("doc_id", num_col).join(hits, "doc_id", "semi")
            .filter(F.col(num_col).isNotNull())
            .groupBy((F.floor(F.col(num_col) / interval)
                      * interval).cast("long").alias("bucket"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.asc("bucket")))


def search_sort_by_field(eng: SearchEngine, docs: DataFrame,
                         query_text: str, sort_col: str, k: int,
                         ascending: bool = True, mode: str = "or",
                         min_should_match: int | None = None,
                         search_after: "tuple | None" = None) -> DataFrame:
    """ES ``sort`` by a doc-values field instead of _score: the hit set
    ordered by a source column (missing values last, like ES missing:
    "_last"), doc_id asc tiebreak, top ``k`` — compiles to
    TakeOrderedAndProject, never a global sort materialization.

    ``search_after=(sort_value, doc_id)``: ES deep paging on a
    doc-values sort — the cursor predicate filters BELOW the top-k, so
    page N costs the same as page 1 (the from+size alternative
    re-ranks N×k rows).  The NULL tail stays addressable, matching ES's
    missing-value sentinel: a non-null cursor also admits every NULL
    row (they sort after it under missing:"_last"), and a cursor of
    ``(None, doc_id)`` pages WITHIN the NULL tail by doc_id tiebreak."""
    hits = match_set(eng, query_text, mode, min_should_match)
    scoped = docs.select("doc_id", sort_col).join(hits, "doc_id", "semi")
    if search_after is not None:
        av, ad = search_after
        c, d = F.col(sort_col), F.col("doc_id")
        if av is None:
            # cursor already inside the NULL tail (ES's post-max
            # sentinel): only later NULL rows remain
            pred = c.isNull() & (d > F.lit(int(ad)))
        else:
            pred = ((c > F.lit(av)) if ascending else (c < F.lit(av))) \
                | ((c == F.lit(av)) & (d > F.lit(int(ad)))) \
                | c.isNull()
        scoped = scoped.filter(pred)
    order = [F.asc_nulls_last(sort_col) if ascending
             else F.desc_nulls_last(sort_col), F.asc("doc_id")]
    return scoped.orderBy(*order).limit(k)


def search_cardinality_agg(eng: SearchEngine, query_text: str, field: str,
                           normalized: bool = False, mode: str = "or",
                           min_should_match: int | None = None,
                           exact: bool = True,
                           rsd: float = 0.05) -> DataFrame:
    """ES ``cardinality`` agg on ``<field>_keyword``/``_normalized``
    over the hit set.

    ``exact=True`` is the oracle-checkable distinct count (one extra
    shuffle on the value).  ``exact=False`` is the scale path — Spark's
    HyperLogLog++ ``approx_count_distinct`` (``rsd`` = relative standard
    deviation), the same sketch family ES's cardinality agg runs, with
    partial sketches merged map-side so high-cardinality fields never
    shuffle their value space."""
    from .build_index import read_fields
    sub = f"{field}_{'normalized' if normalized else 'keyword'}"
    fields = read_fields(eng.cat, eng.spark).select("doc_id", sub)
    hits = match_set(eng, query_text, mode, min_should_match)
    vals = fields.join(hits, "doc_id", "semi").filter(F.col(sub).isNotNull())
    agg = (F.count_distinct(F.col(sub)) if exact
           else F.approx_count_distinct(sub, rsd))
    return vals.agg(agg.cast("long").alias("cardinality"))


def search_date_histogram_agg(eng: SearchEngine, docs: DataFrame,
                              query_text: str, ts_col: str,
                              interval: str = "month", mode: str = "or",
                              min_should_match: int | None = None
                              ) -> DataFrame:
    """ES ``date_histogram`` with a CALENDAR interval (month/week/day/
    year — the variable-width buckets :func:`search_histogram_agg`'s
    fixed arithmetic can't express): bucket = date_trunc(interval, ts)
    over the hit set, ascending, empty buckets omitted
    (min_doc_count=1).  The bucket key is formatted ``yyyy-MM-dd`` (ES
    ``key_as_string``) so page-level consumers never touch timezone
    arithmetic."""
    if interval not in ("year", "quarter", "month", "week", "day"):
        raise ValueError(f"unsupported calendar interval {interval!r}")
    hits = match_set(eng, query_text, mode, min_should_match)
    return (docs.select("doc_id", ts_col).join(hits, "doc_id", "semi")
            .filter(F.col(ts_col).isNotNull())
            .groupBy(F.date_format(F.date_trunc(interval, F.col(ts_col)),
                                   "yyyy-MM-dd").alias("bucket"))
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.asc("bucket")))


def search_top_hits_agg(eng: SearchEngine, docs: DataFrame,
                        query_text: str, group_field: str, sort_col: str,
                        hits_per_bucket: int = 3, ascending: bool = False,
                        normalized: bool = False, mode: str = "or",
                        min_should_match: int | None = None) -> DataFrame:
    """ES ``terms`` agg + ``top_hits`` sub-agg: per keyword-bucket, the
    top ``hits_per_bucket`` docs ordered by a doc-values column
    (doc_id-asc tiebreak).  One shuffle partitions the hit set by
    bucket; the per-bucket heads come from a rank window INSIDE each
    partition — no global sort, no driver materialization, the shape ES
    executes per shard before the coordinator merge."""
    from pyspark.sql import Window
    from .build_index import read_fields
    if hits_per_bucket <= 0:
        raise ValueError("hits_per_bucket must be positive")
    sub = f"{group_field}_{'normalized' if normalized else 'keyword'}"
    fields = read_fields(eng.cat, eng.spark).select("doc_id", sub)
    hits = match_set(eng, query_text, mode, min_should_match)
    scoped = (docs.select("doc_id", sort_col).join(hits, "doc_id", "semi")
              .join(fields, "doc_id")
              .filter(F.col(sub).isNotNull()))
    # nulls LAST either way (ES missing: "_last" — Spark's bare asc is
    # NULLS FIRST, which would hand every bucket's head ranks to docs
    # with no value)
    order = [F.asc_nulls_last(sort_col) if ascending
             else F.desc_nulls_last(sort_col), F.asc("doc_id")]
    w = Window.partitionBy(sub).orderBy(*order)
    return (scoped.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= hits_per_bucket)
            .select(F.col(sub).alias("bucket"), "rank", "doc_id", sort_col)
            .orderBy(F.asc("bucket"), F.asc("rank")))


def search_percentiles_agg(eng: SearchEngine, docs: DataFrame,
                           query_text: str, num_col: str,
                           percentiles: tuple[float, ...] = (
                               0.25, 0.5, 0.75, 0.95, 0.99),
                           mode: str = "or",
                           min_should_match: int | None = None
                           ) -> DataFrame:
    """ES ``percentiles`` agg on a numeric source column over the hit
    set — EXACT linear-interpolation quantiles (the oracle-checkable
    definition both Spark ``percentile`` and DuckDB ``quantile_cont``
    implement).  ES defaults to a t-digest sketch; at hit sets too big
    for exact ranks, swap ``F.percentile`` for ``F.percentile_approx``
    (same call shape) — documented rather than defaulted so the gate
    stays hash-exact."""
    for p in percentiles:
        if not 0.0 <= p <= 1.0:
            raise ValueError("percentiles must be in [0, 1]")
    hits = match_set(eng, query_text, mode, min_should_match)
    scoped = docs.select("doc_id", num_col).join(hits, "doc_id", "semi")
    return scoped.agg(*[
        F.percentile(F.col(num_col), F.lit(float(p)))
        .alias(f"p{str(p).replace('.', '_')}")
        for p in percentiles])


def search_filters_agg(eng: SearchEngine,
                       filters: dict[str, tuple[str, str]]) -> DataFrame:
    """ES ``filters`` agg: one named bucket per filter query, each
    bucket's doc_count = that query's hit-set cardinality, bucket name
    ascending.  ``filters``: ``{bucket_name: (query_text, mode)}``.

    SINGLE segment pass, like ES's per-segment evaluation of all filter
    bitsets at once: ONE postings scan pushed to the union of every
    bucket's terms, one doc_id aggregation computing each bucket's
    matched-term count, then each bucket's predicate (``or``: ≥1
    matched, ``and``: all matched) as a conditional sum in one global
    aggregate — N buckets never cost N scans (a 20-filter dashboard
    pays one pass, not 20).  The one-row result unpivots driver-trivially
    via :func:`_unpivot`; buckets whose query analyzes to no live terms
    count 0.
    """
    if not filters:
        raise ValueError("filters agg needs at least one named filter")
    from .build_index import read_flat
    names = sorted(filters)
    terms_by = {n: _query_terms(filters[n][0], eng.cfg) for n in names}
    union_terms = sorted({t for ts in terms_by.values() for t in ts})
    if not union_terms:
        row = eng.spark.range(1)
    else:
        flat = (read_flat(eng.cat, eng.spark)
                .filter(F.col("term").isin(union_terms))
                .select("term", "doc_id"))
        flat = drop_tombstoned(flat, eng)
        counts = [F.sum(F.when(F.col("term").isin(ts), 1).otherwise(0))
                  .alias(f"_n{i}") if ts else F.lit(0).alias(f"_n{i}")
                  for i, ts in enumerate(terms_by[n] for n in names)]
        perdoc = flat.groupBy("doc_id").agg(*counts)
        conds = []
        for i, n in enumerate(names):
            q, mode = filters[n]
            need = len(terms_by[n]) if mode == "and" else 1
            hit = (F.col(f"_n{i}") >= need) if terms_by[n] else F.lit(False)
            conds.append(F.coalesce(F.sum(F.when(hit, 1).otherwise(0)),
                                    F.lit(0)).cast("long").alias(f"_b{i}"))
        row = perdoc.agg(*conds)
    return (_unpivot(row, [(n, F.col(f"_b{i}") if union_terms
                            else F.lit(0).cast("long"))
                           for i, n in enumerate(names)],
                     ("bucket", "doc_count"))
            .orderBy("bucket"))


def _after_predicate(cols, after):
    """Lexicographic (col_0, …, col_n) > (after_0, …, after_n) — the
    composite/search_after cursor, written as the OR-of-ANDs Catalyst
    pushes down (the leading column's range predicate reaches the
    scan)."""
    pred = None
    for i, (c, a) in enumerate(zip(cols, after)):
        leg = c > F.lit(a)
        for pc, pa in zip(cols[:i], after[:i]):
            leg = (pc == F.lit(pa)) & leg
        pred = leg if pred is None else pred | leg
    return pred


def search_composite_agg(eng: SearchEngine, query_text: str,
                         field: "str | tuple[str, ...] | list[str]",
                         size: int = 10,
                         after: "str | tuple | None" = None,
                         normalized: bool = False, mode: str = "or",
                         min_should_match: int | None = None) -> DataFrame:
    """ES ``composite`` agg over one or MORE keyword sub-fields: the
    full bucket space (value tuples) streamed in deterministic
    lexicographic order with ``after``-key paging — the agg ES built
    because ``terms`` (size-capped, re-ranked per page) cannot
    paginate.  Spark shape: one shuffled count per page, the after-key
    predicate pushed below the aggregation (its leading-column range
    leg reaches the scan), sort + limit compiling to
    TakeOrderedAndProject.  Page cost is constant in page count; no
    state carries between pages — exactly why this shape survives a
    10^9-bucket field where a giant terms agg cannot.

    Single ``field`` → column ``bucket``; a list → one output column
    per source field (ES's composite key object), plus ``doc_count``.
    """
    from .build_index import read_fields
    if size <= 0:
        raise ValueError("size must be positive")
    multi = not isinstance(field, str)
    names = list(field) if multi else [field]
    subs = [f"{f}_{'normalized' if normalized else 'keyword'}"
            for f in names]
    fields = read_fields(eng.cat, eng.spark).select("doc_id", *subs)
    hits = match_set(eng, query_text, mode, min_should_match)
    vals = fields.join(hits, "doc_id", "semi")
    for s in subs:
        vals = vals.filter(F.col(s).isNotNull())
    if after is not None:
        ak = tuple(after) if multi else (after,)
        if len(ak) != len(subs):
            raise ValueError("after key arity must match the source "
                             f"fields ({len(subs)})")
        vals = vals.filter(_after_predicate(
            [F.col(s) for s in subs], ak))
    out_cols = ([F.col(s).alias(n) for s, n in zip(subs, names)]
                if multi else [F.col(subs[0]).alias("bucket")])
    keyed = vals.groupBy(*out_cols).agg(F.count("*").alias("doc_count"))
    order = [F.asc(n) for n in (names if multi else ["bucket"])]
    return keyed.orderBy(*order).limit(size)


def _driver_hit_ids(eng: SearchEngine, terms: list[str], mode: str,
                    min_should_match: int | None) -> "object | None":
    """The locus decision of every hit-set agg, asked of
    :meth:`SearchEngine.plan` (the engine's one cost model for what may
    materialize on the driver).  When the plan keeps the query on the
    driver, the hit-set doc_ids computed DRIVER-SIDE from the decoded
    posting blocks — exactly the candidate set the serving kernels
    decode — tombstone-masked, as an int64 array (empty for no live
    terms).  When it fans out, None: the caller takes the Spark
    locus."""
    import numpy as np

    from .topk import _block_arrays, live_mask
    from ..functions.encode import decode_blocks_into
    _check_msm(mode, min_should_match)
    plan = eng.plan(terms)
    if not plan.idf:
        return np.empty(0, dtype=np.int64)
    if plan.fan_out:
        return None
    by_term = eng._term_blocks(list(plan.idf))
    decode_blocks_into([b for bl in by_term.values() for b in bl
                        if "_arrs" not in b])
    per_term = [np.concatenate([_block_arrays(b)[0] for b in bl])
                for bl in by_term.values() if bl]
    if not per_term:
        return np.empty(0, dtype=np.int64)
    ids, counts = np.unique(np.concatenate(per_term), return_counts=True)
    need = len(terms) if mode == "and" else (min_should_match or 1)
    ids = ids[counts >= need]
    if eng.tombstones:
        ids = ids[live_mask(ids, eng)]
    return ids.astype(np.int64)


def search_significant_terms_agg(eng: SearchEngine, query_text: str,
                                 size: int = 10, mode: str = "or",
                                 min_should_match: int | None = None
                                 ) -> DataFrame:
    """ES ``significant_terms`` on the text field: terms over-represented
    in the hit set vs the whole corpus, scored with the public JLH
    formula score = (fg% − bg%) × (fg%/bg%), positive-lift terms only,
    score desc / term asc, top ``size``.

    Foreground df comes from the postings scan semi-joined to the hit
    set; background df is the term_dict — NO second corpus pass, the
    same reuse the index build's stats assembly does.  n_docs / hit
    count are scalar aggregates.

    Plan shape is hit-set-bounded where it can be: when the query's
    candidate postings fit the kernel locus (< SEGMENT_FANOUT_CUTOFF),
    the hit ids are computed driver-side from the already-decoded
    blocks and BROADCAST, so the corpus-sized postings scan is filtered
    map-side (doc_id range pushed to parquet + broadcast hash semi) and
    NEVER shuffles — the shuffled-semi-join alternative re-partitions
    the whole postings table by doc_id per query.  Above the cutoff the
    distributed match_set semi-join shape stays (both sides genuinely
    large; AQE picks the join strategy).  The residual full-scan cost
    of the foreground pass is the term-keyed-layout price ES avoids
    with doc-keyed fielddata; a doc-keyed postings mirror would bound
    it and is a documented design note, not a default, since it doubles
    index storage."""
    from .build_index import read_flat
    if size <= 0:
        raise ValueError("size must be positive")
    terms = _query_terms(query_text, eng.cfg)
    ids = _driver_hit_ids(eng, terms, mode, min_should_match)
    if ids is not None:
        if ids.size == 0:
            return eng.spark.createDataFrame(
                [], "term string, score double, fg_df long, bg_df long")
        hits = eng.spark.createDataFrame(pd.DataFrame({"doc_id": ids}),
                                         "doc_id long")
        nfg = eng.spark.createDataFrame(
            pd.DataFrame({"nfg": [float(ids.size)]}), "nfg double")
        fg = (read_flat(eng.cat, eng.spark).select("term", "doc_id")
              .filter(F.col("doc_id").between(int(ids.min()),
                                              int(ids.max())))
              .join(F.broadcast(hits), "doc_id", "semi")
              .groupBy("term").agg(F.count("*").alias("fg_df")))
    else:
        hits = _match_set_df(eng, terms, mode, min_should_match)
        # the hit count rides the SAME plan as a broadcast one-row
        # frame — no eager driver job, the agg stays one lazy DataFrame
        nfg = hits.agg(F.count("*").cast("double").alias("nfg"))
        fg = (read_flat(eng.cat, eng.spark).select("term", "doc_id")
              .join(hits, "doc_id", "semi")
              .groupBy("term").agg(F.count("*").alias("fg_df")))
    bg = eng.cat.read(eng.spark, "term_dict").select(
        "term", F.col("df").alias("bg_df"))
    fg_pct = F.col("fg_df") / F.col("nfg")
    bg_pct = F.col("bg_df") / F.lit(float(eng.n_docs))
    # no broadcast hint on bg: the term dictionary is corpus-vocabulary-
    # sized (unbounded at 10^12 docs — a forced broadcast would hit
    # Spark's 8 GB limit); AQE broadcasts it when it IS small, and the
    # fg side (hit-set vocabulary) is the naturally bounded one
    return (fg.join(bg, "term")
            .crossJoin(F.broadcast(nfg))
            .withColumn("score", (fg_pct - bg_pct) * (fg_pct / bg_pct))
            .filter(F.col("score") > 0)
            .select("term", "score", "fg_df", "bg_df")
            .orderBy(F.desc("score"), F.asc("term")).limit(size))


def search_stats_agg(eng: SearchEngine, docs: DataFrame, query_text: str,
                     num_col: str, mode: str = "or",
                     min_should_match: int | None = None) -> DataFrame:
    """ES ``stats`` agg on a numeric source column over the hit set.
    ``docs``: the source table carrying (doc_id, ``num_col``) — the
    engine stores no numeric doc values, so like highlighting this is
    the _source-side join, semi-filtered by the match set before the
    single global aggregate."""
    hits = match_set(eng, query_text, mode, min_should_match)
    return (docs.select("doc_id", num_col).join(hits, "doc_id", "semi")
            .agg(F.count("*").alias("count"),
                 F.min(num_col).alias("min"),
                 F.max(num_col).alias("max"),
                 F.sum(num_col).alias("sum"),
                 F.avg(num_col).alias("avg")))
