"""Inverted-index construction as a multi-stage PySpark DataFrame job.

This is the engine's EP1 (SURVEY §3): the reference's cold-start path is
scan → analyze → bulk-index into Elasticsearch (load.service.ts:343-419),
where ES/Lucene internally builds posting lists per shard.  Here the whole
thing is DataFrame jobs:

stage ``flat``    pages → resolve text (pandas UDF html→text when null) →
                  deterministic dense doc_id by url rank →
                  tokenize + per-doc tf count (Arrow-batched mapInPandas;
                  map-side combine: the shuffle carries (term, doc_id, tf)
                  not raw tokens) → ``postings_flat`` + ``doc_stats``.
stage ``stats``   ``term_dict`` (df, cf, idf) + ``global_stats`` (N, avgdl).
stage ``encode``  per flat part file (doc-range disjoint by construction):
                  local (term, doc_id) sort → numpy block encode
                  (delta+varbyte+block-max) → one ``postings_blocks``
                  segment file each, written atomically with a lineage row
                  → resumable at file granularity (north rule: resume from
                  last completed segment; completed partitions are never
                  recomputed).  ZERO shuffle: a term's blocks across
                  segments are doc-disjoint and concatenate into the
                  monotone stream WAND cursors expect.

Skew: the ES analog shards by _id (4 shards, configs/ltd_doc.settings.json:
244-245); a term-hash shuffle would melt on head terms ("the" holds ~N
postings at 10^12 docs).  Here the doc-range FILE is the encode unit — a
head term's postings split across files into bounded runs, block ids stay
globally unique (block_id_base = the file's cumulative row offset), and no
term ever concentrates on one task.  The former design (salted
repartition by (term-bucket, doc-range)) achieved the same bound but paid
a corpus-wide shuffle + Arrow exchange of every posting — measured as the
build's scaling ceiling on multi-executor runs.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analysis import LTD_DOC, AnalyzerConfig, analyze_index, extract_text
from ..functions.encode import BLOCK_SIZE
from ..plans.lineage import Lineage
from ..sources import fsio
from ..sources.catalog import ParquetCatalog

DEFAULT_N_BUCKETS = 32

# On-disk index format version.  Bumped whenever the postings_blocks schema,
# the stage set, or any table layout changes incompatibly:
#   1 — round-1 initial format (no sum_tf in blocks)
#   2 — blocks carry sum_tf (term_dict derived from block metadata)
#   3 — blocks carry dls_vb (per-posting doc lengths; WAND needs no
#       driver-resident doc_stats)
#   4 — encode layout: per-file segments (seg-fNNNNNN) with cumulative-row
#       block-id bases + per-file lineage tags replaced the round-2
#       seg-bXXXXX-sXXXXX bucket/salt scheme (same parquet schema, but a
#       resume across layouts would re-encode under new names while
#       _register_blocks still reads the old partials — double-counted
#       postings); doc_stats parts carry the rank offset in their name
#   5 — value-sorted fields_by_<subcol> point-read sidecars (ES term-query
#       serving path, SearchEngine.keyword_term); a v4 index has the
#       fields table but no sidecars, so serving would KeyError
#   6 — nullable ``pos_vb`` column on postings_flat rows and
#       postings_blocks rows (ES index_options=positions — phrase
#       queries); all-null when the index is built without positions,
#       so every generation writer emits one uniform schema.  The
#       format file also records ``positions`` (whether the streams are
#       real) — IndexBuilder treats a flag mismatch like a version
#       mismatch (wipe + rebuild), and phrase serving fails loudly on a
#       positions=false index.
# IndexBuilder refuses to RESUME across versions (it wipes and rebuilds);
# SearchEngine/IncrementalIndexer fail loudly on mismatch — a silently
# adopted stale index was round 1's single gate-killing bug.
INDEX_FORMAT_VERSION = 6
_FORMAT_FILE = "_FORMAT.json"

# Completion-suggester table: prefixes up to this length are materialized
# as (prefix, term, weight) rows; longer query prefixes fall back to a
# term_dict range scan (terms are overwhelmingly shorter than this).
MAX_PREFIX_LEN = 16


def _read_format_meta(index_dir: str, filesystem=None) -> dict | None:
    import json
    p = os.path.join(index_dir, _FORMAT_FILE)
    if not fsio.exists(p, filesystem):
        return None
    return json.loads(fsio.read_text(p, filesystem))


def read_format_version(index_dir: str, filesystem=None) -> int | None:
    meta = _read_format_meta(index_dir, filesystem)
    return None if meta is None else int(meta.get("format_version", 0))


def read_format_positions(index_dir: str, filesystem=None) -> bool:
    """Whether the index at ``index_dir`` carries real position streams
    (built with ``index_positions=True``)."""
    meta = _read_format_meta(index_dir, filesystem)
    return bool(meta and meta.get("positions", False))


def write_format_version(index_dir: str, filesystem=None,
                         positions: bool = False) -> None:
    import json
    fsio.makedirs(index_dir, filesystem)
    fsio.write_text_atomic(
        json.dumps({"format_version": INDEX_FORMAT_VERSION,
                    "positions": bool(positions)}),
        os.path.join(index_dir, _FORMAT_FILE), filesystem)


def check_format_version(index_dir: str, what: str = "index",
                         filesystem=None) -> None:
    """Raise unless ``index_dir`` holds a current-format index."""
    v = read_format_version(index_dir, filesystem)
    if v != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"{what} at {index_dir!r} has format version {v!r}; this build "
            f"requires {INDEX_FORMAT_VERSION}. Rebuild the index "
            f"(IndexBuilder.build wipes+rebuilds stale formats automatically).")


# ---------------------------------------------------------------------------
# stage "flat" helpers
# ---------------------------------------------------------------------------


def resolve_text(pages: DataFrame) -> DataFrame:
    """text := text if non-null else extract_text(html) — byte-identical
    per url (input_hint invariant), Arrow-vectorized."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _extract(html: pd.Series) -> pd.Series:
        # NaN-safe: an all-null binary column arrives as float NaN, not None
        return html.map(
            lambda h: extract_text(h) if isinstance(h, (str, bytes, bytearray))
            else None)

    return pages.withColumn(
        "text", F.coalesce(F.col("text"), _extract(F.col("html")))
    )


def assign_doc_ids(df: DataFrame, key: str = "url",
                   num_partitions: int | None = None,
                   _persist_handle: list | None = None) -> DataFrame:
    """Deterministic dense doc_id = global rank of ``key`` asc (0-based).

    Scalable pattern (no single-partition window): range-repartition +
    sort-within-partitions materializes a global sort; per-partition counts
    are cumsum'd driver-side into offsets; a mapInPandas pass adds
    offset + local position.  The mapping depends only on the global sort
    order, never on where range boundaries land, so re-runs and different
    parallelism levels produce identical ids.

    The sorted frame MUST be pinned (persisted): the count job and the
    numbering job would otherwise each re-plan the range exchange, whose
    boundary SAMPLING is seeded by the compiled RDD id — two compilations
    can disagree on partition boundaries, silently corrupting the
    offset↦partition mapping.  The IndexBuilder hot path avoids the cache
    cost via a sorted parquet stage artifact instead (see _stage_flat).
    """
    from pyspark import StorageLevel

    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Persist the input first: the range partitioner runs a separate
    # sampling pass over it, which would otherwise recompute the upstream
    # (html→text extraction) a second time.
    src = df.persist(StorageLevel.MEMORY_AND_DISK)
    ranged = src.repartitionByRange(num_partitions, F.col(key)).sortWithinPartitions(key)
    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    if _persist_handle is not None:
        _persist_handle.extend([src, ranged])
    counts = (
        ranged.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid").count().collect()
    )
    by_pid = {r["pid"]: r["count"] for r in counts}
    offsets = {}
    acc = 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    boff = df.sparkSession.sparkContext.broadcast(offsets)

    from pyspark.sql.types import LongType, StructField, StructType
    schema = StructType(list(ranged.schema.fields) + [StructField("doc_id", LongType())])

    def _number(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        pos = boff.value.get(pid, 0)
        for pdf in it:
            pdf = pdf.copy()
            pdf["doc_id"] = np.arange(pos, pos + len(pdf), dtype=np.int64)
            pos += len(pdf)
            yield pdf

    return ranged.mapInPandas(_number, schema=schema)


def tokenize_flat(docs: DataFrame, cfg: AnalyzerConfig = LTD_DOC,
                  positions: bool = False) -> DataFrame:
    """(doc_id, url, text) → postings rows + one doc-marker row per doc,
    in a single Arrow-batched pass.

    Postings rows: (term, doc_id, tf, doc_len, url=NULL) — tf counted
    inside the batch (map-side combine: the shuffle moves one row per
    distinct (term, doc), never one per token).  Marker rows
    (term=NULL, tf=0, doc_len, url) carry the per-doc stats so doc_stats
    needs no extra aggregate/join stage over the corpus.  Read postings
    through :func:`read_flat`, markers through :func:`read_doc_markers`.

    ``positions=True``: postings rows additionally carry ``pos_vb`` —
    the self-contained varbyte(delta) stream of the term's within-doc
    positions (ES ``index_options: positions``); the column is all-null
    otherwise, keeping one uniform flat schema across both modes.
    """
    def _tok(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _tokenize_batch(pdf["doc_id"].values, pdf["url"].values,
                                  pdf["text"].values, cfg,
                                  positions=positions)

    return docs.select("doc_id", "url", "text").mapInPandas(
        _tok, schema=FLAT_DDL
    )


FLAT_DDL = ("term string, doc_id long, tf long, doc_len long, url string, "
            "pos_vb binary")
# the pyarrow twin of FLAT_DDL — kernel-direct flat writers must pin the
# exact column order and types so mixed-generation flat dirs (build /
# delta / compaction writers) stay schema-identical
FLAT_SCHEMA = pa.schema([
    ("term", pa.string()),
    ("doc_id", pa.int64()),
    ("tf", pa.int64()),
    ("doc_len", pa.int64()),
    ("url", pa.string()),
    ("pos_vb", pa.binary()),
])


def _tokenize_batch(doc_id_vals, url_vals, text_vals,
                    cfg: AnalyzerConfig,
                    positions: bool = False) -> pd.DataFrame:
    from collections import Counter

    from ..functions.analysis import analyze_index_pos
    from ..functions.encode import encode_positions_rows

    terms: list[str | None] = []
    doc_ids: list[int] = []
    tfs: list[int] = []
    dls: list[int] = []
    urls: list[str | None] = []
    # per-ROW position run (None for marker rows / positions-off mode);
    # runs are batch-encoded in ONE vectorized varbyte pass below
    pos_runs: list[list[int] | None] = []
    for doc_id, url, text in zip(doc_id_vals, url_vals, text_vals):
        if positions:
            toks, poss = analyze_index_pos(text or "", cfg)
        else:
            toks = analyze_index(text or "", cfg)
        dl = len(toks)
        terms.append(None)
        doc_ids.append(doc_id)
        tfs.append(0)
        dls.append(dl)
        urls.append(url)
        pos_runs.append(None)
        if positions:
            by_term: dict[str, list[int]] = {}
            for t, p in zip(toks, poss):
                r = by_term.get(t)
                if r is None:
                    by_term[t] = [p]
                else:
                    r.append(p)
            for term, run in by_term.items():
                terms.append(term)
                doc_ids.append(doc_id)
                tfs.append(len(run))
                dls.append(dl)
                urls.append(None)
                pos_runs.append(run)
        else:
            for term, tf in Counter(toks).items():
                terms.append(term)
                doc_ids.append(doc_id)
                tfs.append(tf)
                dls.append(dl)
                urls.append(None)
                pos_runs.append(None)
    if positions:
        runs = [r for r in pos_runs if r is not None]
        total = sum(len(r) for r in runs)
        flat = np.fromiter((x for r in runs for x in r),
                           dtype=np.int64, count=total)
        ends = np.cumsum(np.fromiter((len(r) for r in runs),
                                     dtype=np.int64, count=len(runs)))
        enc = iter(encode_positions_rows(flat, ends))
        pos_vb = [next(enc) if r is not None else None for r in pos_runs]
    else:
        pos_vb = pos_runs  # all None
    return pd.DataFrame({
        "term": pd.Series(terms, dtype="object"),
        "doc_id": pd.Series(doc_ids, dtype="int64"),
        "tf": pd.Series(tfs, dtype="int64"),
        "doc_len": pd.Series(dls, dtype="int64"),
        "url": pd.Series(urls, dtype="object"),
        "pos_vb": pd.Series(pos_vb, dtype="object"),
    })


def sorted_doc_files(art_dir: str,
                     filesystem=None) -> list[tuple[str, int]]:
    """(path, rank_offset) per part-file of a range-sorted parquet artifact.

    File-name order == range-partition order == global key order, and each
    footer's row count is exact — so cumulative offsets give every row's
    global rank with zero extra jobs.  Driver-side listing is fine up to
    ~10^5 files; beyond that, distribute the footer reads.  ``filesystem``:
    optional pyarrow FileSystem for S3/HDFS artifacts (sources.fsio).
    """
    from ..sources import fsio

    # sort by the PARSED part index, not the raw name: Spark widens part
    # numbering past %05d at >=100k tasks, and 'part-100000-…' would sort
    # lexicographically between 'part-10000-…' and 'part-10001-…',
    # silently breaking rank offsets exactly at web scale
    files = sorted(
        (os.path.join(art_dir, f)
         for f in fsio.listdir(art_dir, filesystem)
         if f.startswith("part-") and f.endswith(".parquet")),
        key=lambda p: int(os.path.basename(p).split("-")[1]),
    )
    out = []
    acc = 0
    for p in files:
        n = fsio.parquet_file(p, filesystem).metadata.num_rows
        # skip 0-row parts (empty range partitions when n_parts exceeds
        # distinct keys): an empty file would get the SAME rank offset as
        # its successor, and the kernel-direct flat writer names its
        # output part-{offset} — the colliding atomic renames would
        # silently drop one file's postings and lineage metrics
        if n == 0:
            continue
        out.append((p, acc))
        acc += n
    return out


def source_files_presorted(paths: list[str], key: str = "url",
                           filesystem=None) -> list[tuple[str, int]]:
    """(path, rank_offset) per SOURCE parquet file, for corpora already
    laid out in global key order (e.g. an Iceberg/parquet table written
    ``SORTED BY url``) — the opt-out for the ``docs_sorted`` rewrite: at
    100 TB the range-sort stage re-writes the whole corpus once purely for
    determinism + resume, which is wasted I/O when the source already has
    the layout.

    Validates the claim from parquet footer column statistics only (no
    data read): every file's [min(key), max(key)] interval must be
    disjoint from and ordered against the others, and row groups inside
    each file must be key-ordered too.  Statistics may be truncated for
    long string keys — truncation widens the bounds, so a valid layout
    can be (rarely) rejected, never the reverse.  Intra-row-group order
    cannot be proven from footers; the caller asserts it by choosing
    ``pre_sorted`` (the writer's SORTED BY contract).
    """
    from ..sources import fsio

    infos = []
    for p in paths:
        md = fsio.parquet_file(p, filesystem).metadata
        if md.num_rows == 0:
            continue
        col_idx = next((i for i in range(md.num_columns)
                        if md.schema.column(i).name == key), None)
        if col_idx is None:
            raise ValueError(f"pre_sorted: column {key!r} not in {p}")
        lo = hi = None
        prev_max = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            if st is None or not st.has_min_max:
                raise ValueError(
                    f"pre_sorted: {p} lacks {key!r} min/max statistics — "
                    "cannot validate sort layout from footers")
            if prev_max is not None and st.min < prev_max:
                raise ValueError(
                    f"pre_sorted: row groups of {p} are not {key!r}-ordered")
            prev_max = st.max
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        infos.append((p, lo, hi, md.num_rows))
    infos.sort(key=lambda t: (t[1], t[2], t[0]))
    out = []
    acc = 0
    prev_hi = None
    prev_p = None
    for p, lo, hi, n in infos:
        if prev_hi is not None and lo <= prev_hi:
            raise ValueError(
                f"pre_sorted: {key!r} ranges of {prev_p} and {p} overlap "
                f"({lo!r} <= {prev_hi!r}) — source is not globally "
                f"range-partitioned by {key!r}")
        out.append((p, acc))
        acc += n
        prev_hi, prev_p = hi, p
    return out


def rank_and_tokenize_files(spark: SparkSession,
                            files_offsets: list[tuple[str, int]],
                            cfg: AnalyzerConfig = LTD_DOC,
                            doc_stats_dir: str | None = None,
                            lineage_root: str | None = None,
                            filesystem=None,
                            flat_dir: str | None = None,
                            positions: bool = False) -> DataFrame:
    """Fused extraction + doc-id assignment + tokenization over sorted
    part-files.

    The corpus never crosses the JVM↔Python Arrow boundary: each task
    opens its parquet file with pyarrow directly and streams row groups
    in order, extracting (html→text where text is null), numbering rows
    from the file's rank offset, and tokenizing in one pass.  Shipping
    wide text/binary columns into a pandas UDF costs more JVM CPU in
    Arrow serialization than the Python work itself — reading the
    columnar file in the kernel removes that entirely.  Identical output
    to assign_doc_ids ∘ resolve_text ∘ tokenize_flat, with the file as
    the resumable, deterministic unit of work (on a cluster, pass a
    pyarrow filesystem for S3/HDFS paths).

    ``flat_dir=None`` (legacy): postings rows flow back through Arrow
    and the returned DataFrame IS the postings (caller writes it).
    ``flat_dir`` set: each task also WRITES its postings as one
    ``part-{rank_offset}.parquet`` in ``flat_dir`` (atomic tmp+rename,
    same as the encode stage's segments) and the returned DataFrame
    carries one metrics row per file.  The postings then never cross
    into the JVM at all — profiled on the scaling input, the JVM side
    of the write-back path (Arrow deserialization + parquet encoding of
    every posting) cost ~19 core-s at 2 executors but ~46 core-s at 8,
    a non-scaling span of the build's dominant stage; per-file pyarrow
    writes scale with the kernel itself.
    """
    n = max(1, len(files_offsets))
    # exactly one file per task via parallelize slices — deterministic, and
    # unlike repartitionByRange it needs no boundary-sampling job (a whole
    # extra Spark job of pure scheduling latency per build)
    fdf = spark.createDataFrame(
        spark.sparkContext.parallelize(files_offsets, n),
        "path string, rank_offset long")

    def _rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources import fsio
        for pdf in it:
            for path, off in zip(pdf["path"].values, pdf["rank_offset"].values):
                t0 = time.perf_counter()
                pf = fsio.parquet_file(path, filesystem)
                cols = [c for c in ("url", "text", "html")
                        if c in pf.schema_arrow.names]
                pos = int(off)
                ds_ids: list[np.ndarray] = []
                ds_urls: list[np.ndarray] = []
                ds_lens: list[pd.Series] = []
                flat_parts: list[pa.Table] = []
                n_rows = 0
                for batch in pf.iter_batches(columns=cols, batch_size=10_000):
                    b = batch.to_pandas()
                    texts = b["text"].values
                    if "html" in b.columns:
                        htmls = b["html"].values
                        texts = [t if isinstance(t, str) else (
                                     extract_text(h) if isinstance(
                                         h, (str, bytes, bytearray)) else None)
                                 for t, h in zip(texts, htmls)]
                    ids = np.arange(pos, pos + len(b), dtype=np.int64)
                    pos += len(b)
                    out = _tokenize_batch(ids, b["url"].values, texts, cfg,
                                          positions=positions)
                    if doc_stats_dir is not None:
                        m = out["term"].isna()
                        ds_ids.append(out.loc[m, "doc_id"].values)
                        ds_urls.append(out.loc[m, "url"].values)
                        ds_lens.append(out.loc[m, "doc_len"].values)
                    if flat_dir is not None:
                        flat_parts.append(pa.Table.from_pandas(
                            out, schema=FLAT_SCHEMA, preserve_index=False))
                        n_rows += len(out)
                    else:
                        yield out
                if flat_dir is not None:
                    flat_t = (pa.concat_tables(flat_parts) if flat_parts
                              else FLAT_SCHEMA.empty_table())
                    # rank offset in the name: unique, stable across
                    # retries, and parses as the part index for
                    # sorted_doc_files-style listings
                    fsio.write_parquet_atomic(
                        flat_t, os.path.join(
                            flat_dir, f"part-{int(off):012d}.parquet"),
                        filesystem)
                    yield pd.DataFrame({"partition": [f"{int(off):012d}"],
                                        "rows": [n_rows]})
                if doc_stats_dir is not None:
                    # one doc_stats part per input file, written atomically —
                    # avoids a later full re-scan of postings_flat just to
                    # recover the n_docs marker rows
                    t = pa.table({
                        "doc_id": np.concatenate(ds_ids) if ds_ids else
                        np.array([], dtype=np.int64),
                        "url": np.concatenate(ds_urls) if ds_urls else
                        np.array([], dtype=object),
                        "doc_len": np.concatenate(ds_lens) if ds_lens else
                        np.array([], dtype=np.int64),
                    })
                    # dot-prefixed tmp name: Spark and pyarrow dataset
                    # discovery skip hidden files, so a task killed between
                    # write and rename can never leave a readable orphan
                    # that inflates doc_stats after the retry succeeds
                    # the rank offset in the name makes it collision-proof:
                    # pre_sorted sources may hold identical basenames in
                    # different dirs (Hive layout date=*/part-00000.parquet),
                    # and a bare basename would silently overwrite one
                    # file's doc_stats with another's
                    ds_name = f"ds-{int(off):012d}-{os.path.basename(path)}"
                    # doc_id-ordered rows in small row groups: the query
                    # engine point-fetches winner urls with a doc_id isin
                    # filter — one whole-file row group would make every
                    # fetch a full-file decode
                    fsio.write_parquet_atomic(
                        t, os.path.join(doc_stats_dir, ds_name),
                        filesystem, row_group_size=8192)
                    if lineage_root is not None:
                        # per-file (n_docs, sum_dl) metrics: the stats
                        # stage sums these driver-side — no corpus
                        # aggregate job just to recover numbers this
                        # kernel already computed
                        Lineage(lineage_root, filesystem).mark_partition(
                            "flat_files", f"{int(off):012d}",
                            n_docs=int(t.num_rows),
                            sum_dl=int(np.concatenate(ds_lens).sum())
                            if ds_lens else 0,
                            secs=round(time.perf_counter() - t0, 3))

    if flat_dir is not None:
        return fdf.mapInPandas(_rt, schema="partition string, rows long")
    return fdf.mapInPandas(_rt, schema=FLAT_DDL)


def completion_from_term_dict(td: DataFrame, n_parts: int) -> DataFrame:
    """(prefix ≤ MAX_PREFIX_LEN, term, weight=df) rows, prefix-sorted for
    row-group-pruned point reads — shared by the build stage and the
    incremental-sync refresh."""
    # explode_OUTER: plain explode makes Catalyst infer a size(...)>0
    # filter and push the whole prefix-transform into the term_dict
    # scan, evaluating it twice (same pathology fixed in
    # dedup.decontaminate).  Terms are never empty, so outer semantics
    # are identical and no filter is inferred.
    comp = td.select("term", F.col("df").alias("weight")).select(
        F.explode_outer(F.expr(
            f"transform(sequence(1, least(length(term), {MAX_PREFIX_LEN})),"
            " i -> substring(term, 1, i))")).alias("prefix"),
        "term", "weight")
    # HASH exchange on the prefix's first character + in-partition
    # (prefix, weight desc) sort: every prefix's rows land contiguous
    # inside one file, which is all pyarrow row-group-stat pruning needs —
    # repartitionByRange would add a boundary-sampling Spark job per
    # build for no better point-read pruning
    return comp.repartition(max(1, n_parts), F.substring("prefix", 1, 1)) \
        .sortWithinPartitions("prefix", F.desc("weight"), "term")


def write_term_dict(cat: ParquetCatalog, counts: DataFrame, n_docs: int,
                    completion_parts: int | None) -> None:
    """Commit ``counts`` (term, df, cf) plus the BM25 idf over ``n_docs``
    as ``term_dict``, sorted within partitions by term (no exchange), so
    term point reads prune on row-group stats.  With
    ``completion_parts``, ``completion`` is rewritten from the same frame
    in a second thread.  Shared by the build's term_dict stage and both
    incremental-sync loci, so every generation's idf is the same float
    expression.

    Both writes are vocab-derived jobs whose cost is fixed scheduling and
    commit latency at any corpus size, so overlapping them takes one of
    the two off the serial driver span.  The frame is persisted so its
    aggregate runs once; Spark job submission is thread-safe per session.
    A crash between the two commits is safe for both callers: the build
    keeps a lineage marker per table, and sync recovery rolls both
    tables back."""
    import threading
    td = counts.withColumn(
        "idf", F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                     / (F.col("df") + 0.5))).persist()
    comp_err: list[BaseException] = []

    def _completion_write() -> None:
        try:
            cat.overwrite(completion_from_term_dict(td, completion_parts),
                          "completion")
        except BaseException as e:  # surface on the main thread
            comp_err.append(e)

    t = None
    if completion_parts is not None:
        t = threading.Thread(target=_completion_write, daemon=True)
        t.start()
    try:
        cat.overwrite(td.sortWithinPartitions("term"), "term_dict")
    finally:
        if t is not None:
            t.join()
        td.unpersist()
    if comp_err:
        raise comp_err[0]


def read_flat(cat: ParquetCatalog, spark: SparkSession) -> DataFrame:
    """Postings rows of the flat table (markers filtered; pushed to scan)."""
    return (cat.read(spark, "postings_flat")
            .filter(F.col("term").isNotNull())
            .drop("url"))


def read_doc_markers(cat: ParquetCatalog, spark: SparkSession) -> DataFrame:
    return (cat.read(spark, "postings_flat")
            .filter(F.col("term").isNull())
            .select("doc_id", "url", "doc_len"))


def normalize_keywords(values: pd.Series) -> pd.Series:
    """``<col>_normalized`` values from ``<col>_keyword`` values (keyword
    tokenizer → lowercase → asciifolding; None stays None) — the one
    sub-field kernel behind :func:`fields_subfields` and the sync's
    driver locus."""
    from ..functions.analysis import normalize
    return values.map(lambda v: normalize(v) if isinstance(v, str) else None)


def fields_subfields(df: DataFrame, cols: list[str],
                     numeric_cols: list[str] | tuple = ()) -> DataFrame:
    """doc_id + ES-mapping sub-fields for ``cols``: ``<col>_keyword``
    (raw string, exact match) and ``<col>_normalized`` (keyword tokenizer
    → lowercase → asciifolding; ltd_doc.settings.json:278-310), plus
    ``<col>_num`` (long) for ``numeric_cols`` — the integer/date doc
    values behind ES ``range`` filters (the reference mappings declare
    "type": "integer"/"date"; dates are epoch millis here).  Shared by
    the build stage and incremental sync so every generation of the
    ``fields`` table is computed identically."""
    from pyspark.sql.functions import pandas_udf

    _norm = pandas_udf(normalize_keywords, "string")
    base = list(dict.fromkeys(list(cols) + list(numeric_cols)))
    out = df.select("doc_id", *[F.col(c) for c in base])
    for c in cols:
        out = out.withColumn(f"{c}_keyword", F.col(c).cast("string"))
        out = out.withColumn(f"{c}_normalized", _norm(F.col(c).cast("string")))
    for c in numeric_cols:
        out = out.withColumn(f"{c}_num", F.col(c).cast("long"))
    return out.drop(*base)


def read_fields(cat: ParquetCatalog, spark: SparkSession) -> DataFrame:
    """Serve the sub-field table with merge-on-read semantics: incremental
    sync appends delta generations and tombstones retired docs, so raw
    reads of ``fields`` would return deleted docs and the anti-join here
    is required for freshness (physical removal happens at compaction —
    the same contract every postings query path follows)."""
    out = cat.read(spark, "fields")
    if cat.table_exists("tombstones"):
        out = out.join(cat.read(spark, "tombstones").select("doc_id"),
                       "doc_id", "left_anti")
    return out


def sidecar_table(subcol: str) -> str:
    """Catalog table name of one sub-field's value-sorted point-read
    sidecar (``fields_by_<col>_keyword`` / ``fields_by_<col>_normalized``)."""
    return f"fields_by_{subcol}"


def write_keyword_sidecars(cat: ParquetCatalog, fields_df: DataFrame,
                           n_parts: int, append: bool = False) -> None:
    """Value-sorted ``(subcol, doc_id)`` sidecar per keyword sub-field —
    the point-read serving layout behind ``SearchEngine.keyword_term``
    (the ES term-query serving path; the Spark path over ``fields`` stays
    for aggregations/sorts).  Same layout trick as the completion table
    (:func:`completion_from_term_dict`): hash exchange on the value's
    first character + in-partition (value, doc_id) sort ⇒ every value's
    rows land contiguous inside one file, which is all pyarrow
    row-group-stat pruning needs.  ``append=True`` adds one delta
    generation per sidecar (incremental sync: delta doc ranges sit above
    all earlier ids, and _RowGroupIndex prunes per file, so base + delta
    generations serve together without a merge).

    The per-sidecar writes are independent Spark jobs on independent
    catalog tables, so they run CONCURRENTLY (thread-per-sidecar, the
    supported Spark concurrent-job pattern) — sequential writes would
    pay one full job latency per configured sub-field."""
    subs = [c for c in fields_df.columns
            if c != "doc_id" and not c.endswith("_num")]

    def _write(sub: str) -> None:
        side = (fields_df.select(sub, "doc_id")
                .filter(F.col(sub).isNotNull())
                .repartition(max(1, n_parts), F.substring(sub, 1, 1))
                .sortWithinPartitions(sub, "doc_id"))
        if append:
            cat.append(side, sidecar_table(sub))
        else:
            cat.overwrite(side, sidecar_table(sub))

    if len(subs) <= 1:
        for sub in subs:
            _write(sub)
        return
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(min(len(subs), 8)) as pool:
        # list() re-raises the first worker failure
        list(pool.map(_write, subs))


# ---------------------------------------------------------------------------
# stage "encode"
# ---------------------------------------------------------------------------

_BLOCKS_SCHEMA = pa.schema([
    ("term", pa.string()),
    ("block_id", pa.int64()),
    ("first_doc", pa.int64()),
    ("last_doc", pa.int64()),
    ("n", pa.int32()),
    ("docs_vb", pa.binary()),
    ("tfs_vb", pa.binary()),
    ("dls_vb", pa.binary()),
    ("block_max_tfn", pa.float64()),
    ("max_tf", pa.int64()),
    ("min_dl", pa.int64()),
    ("sum_tf", pa.int64()),
    ("pos_vb", pa.binary()),
])
BLOCKS_DDL = ("term string, block_id long, first_doc long, last_doc long, "
              "n int, docs_vb binary, tfs_vb binary, dls_vb binary, "
              "block_max_tfn double, max_tf long, min_dl long, sum_tf long, "
              "pos_vb binary")


def encode_flat_file(path: str, seg_path: str, avgdl: float,
                     block_size: int, block_id_base: int,
                     drop_doc_ids: np.ndarray | None = None,
                     flat_out_path: str | None = None,
                     filesystem=None,
                     kernel_timings: dict | None = None) -> tuple[int, int]:
    """Encode ONE doc-range-disjoint postings_flat part file into ONE
    segment file (hidden-tmp + atomic rename) — the shared task kernel of
    the build's encode stage, delta-segment encoding, and compaction.

    ``drop_doc_ids``: doc ids to remove first (compaction tombstones).
    ``flat_out_path``: also rewrite the surviving flat rows (all columns,
    marker rows included) to this path — compaction's flat rewrite rides
    the same single read.  Returns (postings_rows, blocks) written.

    No shuffle anywhere: the file IS the doc range, so a local
    (term, doc_id) sort yields per-term block runs globally disjoint
    across segments — the monotone streams WAND cursors concatenate.
    """
    import pyarrow.compute as _pc
    import pyarrow.dataset as _pds

    from ..functions.encode import encode_groups_coded
    from ..sources import fsio

    timings: dict[str, float] | None = kernel_timings
    t0 = time.perf_counter()
    ds = fsio.dataset(path, filesystem)
    # positional flat part files (v6 flat always HAS the column; it is
    # all-null when the index was built without positions — O(1) check
    # against the column's null count, never a data pass)
    has_pos = "pos_vb" in ds.schema.names
    cols = ["term", "doc_id", "tf", "doc_len"] + \
        (["pos_vb"] if has_pos else [])
    if drop_doc_ids is None and flat_out_path is None:
        t = ds.to_table(columns=cols,
                        filter=_pds.field("term").is_valid())
    else:
        full = ds.to_table()
        if drop_doc_ids is not None and drop_doc_ids.size:
            keep = ~np.isin(full.column("doc_id").to_numpy(),
                            drop_doc_ids)
            full = full.filter(pa.array(keep))
        if flat_out_path is not None and full.num_rows:
            fsio.write_parquet_atomic(full, flat_out_path, filesystem)
        t = full.filter(
            _pc.is_valid(full.column("term"))
        ).select(cols)
    pos = None
    if has_pos:
        pcol = t.column("pos_vb")
        if pcol.null_count < t.num_rows:
            pos = pcol.to_numpy(zero_copy_only=False)
        t = t.select(["term", "doc_id", "tf", "doc_len"])
    if timings is not None:
        timings["read"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
    # dictionary-encode the term column IN ARROW, sort+encode in integer
    # space (see _encode_file_writer rationale)
    denc = t.column("term").combine_chunks().dictionary_encode()
    g = encode_groups_coded(
        denc.indices.to_numpy(),
        np.asarray(denc.dictionary.to_pylist(), dtype=object),
        t.column("doc_id").to_numpy(), t.column("tf").to_numpy(),
        t.column("doc_len").to_numpy(), avgdl, block_size,
        block_id_base, pos=pos)
    n_blocks = len(g["term"])
    if timings is not None:
        timings["kernel"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
    table = pa.table(
        {k: list(g[k]) if isinstance(g[k], list) else g[k]
         for k in _BLOCKS_SCHEMA.names}, schema=_BLOCKS_SCHEMA
    ) if n_blocks else _BLOCKS_SCHEMA.empty_table()
    # term-sorted rows in small row groups so query-time term-isin
    # filters prune on row-group stats
    fsio.write_parquet_atomic(table, seg_path, filesystem,
                              row_group_size=2048)
    if timings is not None:
        timings["write"] = round(time.perf_counter() - t0, 3)
    return t.num_rows, n_blocks


def _encode_file_writer(seg_dir: str, lineage_root: str, avgdl: float,
                        block_size: int,
                        fail_partitions: frozenset[str],
                        filesystem=None) -> Callable:
    """Build the mapInPandas kernel encoding one postings_flat part file
    into one segment file — NO shuffle: the flat files are doc-range
    disjoint by construction (one per tokenize range partition), so a
    local (term, doc_id) sort inside the file yields per-term block runs
    whose doc ranges are globally disjoint across segments — exactly the
    monotone block streams the WAND cursors concatenate.  Block ids start
    at the file's cumulative row offset (≤1 block per row ⇒ unique).

    Each task reads its file with pyarrow (the corpus never crosses the
    JVM↔Python boundary), writes ONE segment parquet atomically (hidden
    tmp + rename, so task retries can't leave readable partials), writes
    its lineage row, and returns a metrics row.
    """

    def _encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for files_pdf in it:
            for path, off, idx in zip(files_pdf["path"].values,
                                      files_pdf["off"].values,
                                      files_pdf["idx"].values):
                part = f"f{int(idx):06d}"
                if part in fail_partitions:
                    raise RuntimeError(f"injected failure at encode:{part}")
                t0 = time.perf_counter()
                tm: dict = {}
                n_rows, n_blocks = encode_flat_file(
                    path, os.path.join(seg_dir, f"seg-{part}.parquet"),
                    avgdl, block_size, int(off), filesystem=filesystem,
                    kernel_timings=tm)
                Lineage(lineage_root, filesystem).mark_partition(
                    "encode", part, rows=n_rows, blocks=n_blocks,
                    secs=round(time.perf_counter() - t0, 3), **tm,
                )
                yield pd.DataFrame({
                    "partition": [part], "rows": [n_rows],
                    "blocks": [n_blocks],
                })

    return _encode


# ---------------------------------------------------------------------------
# the build job
# ---------------------------------------------------------------------------


class IndexBuilder:
    """Builds (and resumes) one full-text index under ``index_dir``.

    Tables produced (via ParquetCatalog under index_dir):
      doc_stats(doc_id, url, doc_len)  global_stats(n_docs, avgdl)
      term_dict(term, df, cf, idf)     postings_flat(term, doc_id, tf, doc_len)
      postings_blocks(term, block_id, first_doc, last_doc, n, docs_vb,
                      tfs_vb, block_max_tfn)
    """

    def __init__(self, index_dir: str, cfg: AnalyzerConfig = LTD_DOC,
                 n_buckets: int = DEFAULT_N_BUCKETS,
                 block_size: int = BLOCK_SIZE,
                 key_col: str = "url", text_col: str = "text",
                 id_col: str | None = None,
                 keyword_fields: tuple[str, ...] = (),
                 numeric_fields: tuple[str, ...] = (),
                 pre_sorted: bool = False,
                 filesystem=None,
                 catalog=None,
                 index_positions: bool = False):
        """``key_col``: unique string document key (stored as ``url`` in
        doc_stats).  ``id_col``: optional pre-assigned integer doc id — when
        given, the deterministic rank assignment is skipped and the source
        ids are used verbatim (they must be unique).  ``keyword_fields``:
        columns to materialize keyword/normalized sub-fields for (T8).
        ``numeric_fields``: columns to materialize ``<col>_num`` long doc
        values for — ES integer/date mappings; serves ``range`` filter
        context (RangeClause).
        ``pre_sorted``: the source parquet files are already globally
        key-ordered (SORTED BY url layout) — skip the docs_sorted rewrite
        and tokenize the source files directly (footer-validated; see
        :func:`source_files_presorted`).  ``filesystem``: optional pyarrow
        FileSystem for the per-file kernels' reads/writes (S3/HDFS paths;
        sources.fsio seam — pyarrow filesystems pickle into task
        closures); the default catalog and the control-plane files
        (format marker, lineage, snapshot log) go through the SAME
        filesystem, so a remote index root is remote end-to-end.
        ``catalog``: the table-commit seam — default is a
        ``ParquetCatalog(index_dir, filesystem)``; pass an
        ``IcebergCatalog`` (or any object with the same surface) on a
        cluster with a real catalog.  ``index_positions``: also store
        within-doc term positions (ES ``index_options: positions``, the
        Lucene default for text fields) — enables phrase queries
        (SearchEngine.phrase_topk) at the cost of a larger index; the
        flag is part of the on-disk format (a resume under the other
        flag wipes and rebuilds)."""
        self.index_dir = index_dir
        self.cfg = cfg
        self.pre_sorted = pre_sorted
        self.filesystem = filesystem
        if pre_sorted and (key_col, text_col) != ("url", "text"):
            raise ValueError("pre_sorted requires the standard (url, text) "
                             "column names — the file kernel reads them "
                             "straight from the source footers")
        self.n_buckets = n_buckets
        self.block_size = block_size
        self.key_col = key_col
        self.text_col = text_col
        self.id_col = id_col
        self.keyword_fields = tuple(keyword_fields)
        self.numeric_fields = tuple(numeric_fields)
        self.index_positions = bool(index_positions)
        self._injected_catalog = catalog is not None
        self.catalog = catalog if catalog is not None else \
            ParquetCatalog(index_dir, filesystem)
        self.lineage = Lineage(index_dir, filesystem)

    # -- stages --------------------------------------------------------------

    def _stage_flat(self, spark: SparkSession, pages: DataFrame) -> None:
        if self.lineage.stage_complete("flat"):
            return
        # parallelize the expensive html→text extraction immediately — a
        # single large parquet file would otherwise run it on one input
        # split — and prune to the columns the build needs before any
        # shuffle (html is dropped right after extraction).
        parallelism = spark.sparkContext.defaultParallelism
        keep = [self.key_col, self.text_col] + (
            ["html"] if "html" in pages.columns else []) + (
            [self.id_col] if self.id_col and self.id_col not in
            (self.key_col, self.text_col) else [])
        pages = pages.select(*dict.fromkeys(keep))
        if pages.rdd.getNumPartitions() < parallelism:
            # only widen when the source is under-split (one big file);
            # a well-partitioned 100 TB table must NOT be re-shuffled here
            pages = pages.repartition(parallelism)
        pages = pages.withColumn("url", F.col(self.key_col).cast("string")) \
            .withColumn("text", F.col(self.text_col))
        if self.id_col:
            if "html" in pages.columns:
                pages = resolve_text(pages).drop("html")
            docs = pages.withColumn("doc_id", F.col(self.id_col).cast("long"))
            # the encode stage consumes flat part files as doc-range
            # disjoint units (shuffle-free per-file encoding); pre-assigned
            # ids carry no layout guarantee, so range-partition here — the
            # url path gets this for free from the sorted artifact
            flat = tokenize_flat(docs, self.cfg,
                                 positions=self.index_positions) \
                .repartitionByRange(parallelism, "doc_id") \
                .sortWithinPartitions("doc_id")
        else:
            # Substage "sort": ONE pure-JVM job (no Python anywhere in it)
            # writes the range-sorted raw corpus as a parquet stage
            # artifact.  No DataFrame caching: building Spark's columnar
            # cache over a wide text column costs multiples of the work it
            # saves, and the artifact doubles as the resumable checkpoint.
            art_dir = os.path.join(self.index_dir, "docs_sorted")
            if self.pre_sorted:
                # opt-out of the corpus rewrite: the source files ARE the
                # sorted artifact (footer-validated disjoint key ranges)
                src = [f[len("file:"):] if f.startswith("file:") else f
                       for f in pages.inputFiles()]
                files = source_files_presorted(
                    src, key="url", filesystem=self.filesystem)
            elif not self.lineage.stage_complete("extract"):
                cols = ["url", "text"] + (["html"] if "html" in pages.columns
                                          else [])
                # partition count scales with DATA, never with cores: each
                # range partition is one sort+write task and one tokenize
                # unit.  Derive it from input BYTES directly (~32 MB of
                # source per partition) — getNumPartitions() bakes
                # defaultParallelism into Spark's split packing, which
                # would make the job's shape depend on cluster size and
                # skew any N-vs-4N scaling comparison.  Rounded to a
                # multiple of 32 so the task count divides evenly into
                # common core counts: with near-uniform range partitions,
                # e.g. 35 tasks on 8 cores run as 5 waves with the last
                # wave 5/8 idle (~12% lost on the wide leg vs ~3% on the
                # narrow one) — wave quantization masquerading as poor
                # scaling
                src_files = pages.inputFiles()
                if src_files:
                    total = 0
                    for f in src_files:
                        p = f[len("file:"):] if f.startswith("file:") else f
                        try:
                            total += fsio.file_size(p, self.filesystem)
                        except OSError:
                            total = 0
                            break
                    import math
                    raw = int(total // (32 << 20))
                    # both terms are multiples of 32 BEFORE the max: the
                    # byte count rounds to the nearest multiple (stable job
                    # shape vs data size), the cores floor rounds up — the
                    # old max(parallelism, rounded) could return a
                    # cores-dependent non-multiple of 32, defeating the
                    # wave alignment described above
                    n_parts = max(32 * (round(raw / 32) or 1),
                                  32 * math.ceil(parallelism / 32)) \
                        if total else 0
                else:
                    n_parts = 0
                if not n_parts:
                    n_parts = max(parallelism,
                                  pages.rdd.getNumPartitions() * 2)
                ranged = pages.select(*cols) \
                    .repartitionByRange(n_parts, F.col("url")) \
                    .sortWithinPartitions("url")
                ranged.write.mode("overwrite").parquet(art_dir)
                self.lineage.mark_stage("extract")
            # Substage tokenize: per-file kernel fusing extraction +
            # numbering + tokenization; exact rank offsets come from the
            # artifact's parquet footers (no count job, and the two
            # consumers cannot disagree on partition boundaries).  The
            # kernel also writes one doc_stats part per input file.
            ds_dir = os.path.join(self.index_dir, "doc_stats_files")
            flat_dir = os.path.join(self.index_dir, "postings_flat_files")
            # wipe partial output from an interrupted tokenize run: the
            # flat stage resumes at stage granularity, and ds/flat part
            # names carry rank offsets — a partition-count change between
            # runs would otherwise leave stale parts (and stale flat_files
            # lineage metrics) that silently inflate doc_stats/postings
            import shutil
            for d in (ds_dir, flat_dir):
                if self.filesystem is None:
                    shutil.rmtree(d, ignore_errors=True)
                else:
                    try:
                        self.filesystem.delete_dir(d)
                    except FileNotFoundError:
                        pass
                fsio.makedirs(d, self.filesystem)
            self.lineage.reset("flat_files")
            if not self.pre_sorted:
                files = sorted_doc_files(art_dir, self.filesystem)
            metrics = rank_and_tokenize_files(spark, files, self.cfg,
                                              doc_stats_dir=ds_dir,
                                              lineage_root=self.index_dir,
                                              filesystem=self.filesystem,
                                              flat_dir=flat_dir,
                                              positions=self.index_positions)
            metrics.collect()  # execute; parts land via the kernel
            if files:
                self.catalog.register_external(flat_dir, "postings_flat")
                self.catalog.register_external(ds_dir, "doc_stats")
            else:
                self.catalog.overwrite(
                    spark.createDataFrame([], FLAT_DDL), "postings_flat")
                self.catalog.overwrite(
                    spark.createDataFrame([], "doc_id long, url string, doc_len long"),
                    "doc_stats")
            self.lineage.mark_stage("flat")
            # flat_files holds per-file tokenize tags consumed only
            # while "flat" is incomplete — close it too, so a
            # finished build leaves every stage dir _COMPLETE (the
            # invariant vacuum's in-flight-build guard relies on)
            self.lineage.mark_stage("flat_files")
            return
        self.catalog.overwrite(flat, "postings_flat")
        # doc_stats = the marker rows (tiny filtered re-read, no corpus
        # aggregate or join — the tokenize pass already counted doc_len)
        self.catalog.overwrite(read_doc_markers(self.catalog, spark), "doc_stats")
        self.lineage.mark_stage("flat")
        # flat_files holds per-file tokenize tags consumed only
        # while "flat" is incomplete — close it too, so a
        # finished build leaves every stage dir _COMPLETE (the
        # invariant vacuum's in-flight-build guard relies on)
        self.lineage.mark_stage("flat_files")

    def _stage_stats(self, spark: SparkSession) -> None:
        if self.lineage.stage_complete("stats"):
            return
        flat_rows = [r for r in self.lineage.rows()
                     if r["stage"] == "flat_files" and r.get("partition")]
        if flat_rows:
            # the tokenize kernel already counted every file's docs and
            # lengths (flat_files lineage metrics) — summing them here is
            # pure driver arithmetic; a Spark aggregate over doc_stats
            # would be a whole job of scheduling latency to recompute
            # numbers the build already has.  Scale-safe: one tiny JSON
            # row per input file.
            n_docs = sum(int(r["n_docs"]) for r in flat_rows)
            sum_dl = sum(int(r["sum_dl"]) for r in flat_rows)
        else:
            # id_col path: doc_stats came from marker rows, no per-file
            # metrics exist — one aggregate job
            g = self.catalog.read(spark, "doc_stats").agg(
                F.count("*").alias("n_docs"),
                F.sum("doc_len").alias("sum_dl"),
            ).collect()[0]
            n_docs = int(g["n_docs"])
            sum_dl = int(g["sum_dl"] or 0)
        avgdl = (sum_dl / n_docs) if n_docs else 0.0
        # 1-row table: driver-side pyarrow commit, no Spark job
        self.catalog.write_small_arrow(
            pd.DataFrame({"n_docs": pd.Series([n_docs], dtype="int64"),
                          "avgdl": pd.Series([avgdl], dtype="float64"),
                          "sum_dl": pd.Series([sum_dl], dtype="int64")}),
            "global_stats")
        self.lineage.mark_stage("stats", n_docs=int(n_docs))

    def _stage_term_dict(self, spark: SparkSession) -> None:
        """term_dict(df, cf, idf) from postings_blocks METADATA — one row
        per block, not per posting: blocks partition each term's postings,
        so df = Σ n and cf = Σ sum_tf.  This removes the build's second
        full-corpus shuffle (the encode repartition stays the only one)."""
        if self.lineage.stage_complete("term_dict"):
            return
        from ..sources.catalog import read_table_arrow
        n_docs = int(read_table_arrow(
            self.catalog, "global_stats").iloc[0]["n_docs"])
        blocks = self.catalog.read(spark, "postings_blocks")
        if "sum_tf" in blocks.columns:
            src = blocks.groupBy("term").agg(
                F.sum("n").cast("long").alias("df"),
                F.sum("sum_tf").cast("long").alias("cf"))
        else:
            # pre-v2 segments lack sum_tf; fall back to the postings_flat
            # aggregate rather than failing mid-resume (format versioning
            # normally prevents ever reaching this)
            src = read_flat(self.catalog, spark).groupBy("term").agg(
                F.count("*").alias("df"), F.sum("tf").cast("long").alias("cf"))
        comp_parts = None if self.lineage.stage_complete("completion") \
            else max(1, min(self.n_buckets,
                            spark.sparkContext.defaultParallelism))
        write_term_dict(self.catalog, src, n_docs, comp_parts)
        if comp_parts is not None:
            self.lineage.mark_stage("completion")
        self.lineage.mark_stage("term_dict")

    def _stage_completion(self, spark: SparkSession) -> None:
        """Completion-suggester table (T7): ``completion(prefix, term,
        weight)`` — the engine's FST analog.  One row per (prefix≤MAX_PREFIX
        _LEN, term), weight = doc frequency (ES completion weight default);
        range-partitioned and sorted by prefix so a suggest() point-read
        prunes to one row group.  Vocab-sized (≪ corpus), derived from
        term_dict metadata only."""
        if self.lineage.stage_complete("completion"):
            return
        td = self.catalog.read(spark, "term_dict")
        n_parts = max(1, min(self.n_buckets,
                             spark.sparkContext.defaultParallelism))
        self.catalog.overwrite(completion_from_term_dict(td, n_parts),
                               "completion")
        self.lineage.mark_stage("completion")

    def _stage_fields(self, spark: SparkSession, pages: DataFrame) -> None:
        """Multi-field materialization (T8/T5): for each configured column,
        emit the ES-mapping sub-fields — ``<col>_keyword`` (raw value,
        exact match) and ``<col>_normalized`` (keyword tokenizer →
        lowercase → asciifolding; sort/exact keys,
        ltd_doc.settings.json:278-310)."""
        if (not self.keyword_fields and not self.numeric_fields) \
                or self.lineage.stage_complete("fields"):
            return
        cols = [c for c in self.keyword_fields if c in pages.columns]
        ncols = [c for c in self.numeric_fields if c in pages.columns]
        if self.id_col:
            keyed = pages.withColumn("doc_id", F.col(self.id_col).cast("long"))
        else:
            # rank-assigned ids: recover them via the doc_stats url mapping
            ds = self.catalog.read(spark, "doc_stats").select("doc_id", "url")
            keyed = pages.withColumn(
                "url", F.col(self.key_col).cast("string")).join(ds, "url")
        self.catalog.overwrite(fields_subfields(keyed, cols, ncols),
                               "fields")
        # point-read sidecars derive from the just-written table (one
        # cheap parquet re-scan) rather than re-running the normalize
        # kernel once per sidecar; the stage marker covers both writes,
        # so a crash in between re-runs the whole (idempotent) stage
        write_keyword_sidecars(
            self.catalog, self.catalog.read(spark, "fields"),
            max(1, spark.sparkContext.defaultParallelism))
        self.lineage.mark_stage("fields")

    def _stage_encode(self, spark: SparkSession,
                      fail_partitions: frozenset[str] = frozenset()) -> None:
        """Encode postings_flat part files into block segments — ZERO
        shuffle.  The flat files are doc-range disjoint (one per tokenize
        range partition), so each file encodes independently: a term's
        blocks across segments are doc-disjoint and concatenate into the
        monotone per-term stream WAND expects.  Replaces the former
        groupBy(bucket, salt).applyInPandas design, whose corpus-wide
        shuffle + Arrow exchange of every posting was the build's scaling
        ceiling (it also bounded skew — per-file encoding bounds work by
        file size instead, which the byte-driven flat partitioning fixes).
        """
        if self.lineage.stage_complete("encode"):
            return
        from ..sources.catalog import read_table_arrow
        g = read_table_arrow(self.catalog, "global_stats").iloc[0]
        avgdl = float(g["avgdl"] or 0.0) or 1.0

        # order flat part files by doc range and VALIDATE disjointness from
        # footer stats — per-file encoding is only correct over doc-range
        # disjoint units (WAND concatenates a term's blocks across segments
        # as one monotone stream); returns cumulative row offsets, which
        # double as unique block_id bases (≤1 block per row)
        paths = [p for p in self.catalog.data_files("postings_flat")
                 if os.path.basename(p).startswith("part-")]
        files = source_files_presorted(paths, key="doc_id",
                                       filesystem=self.filesystem)

        done = self.lineage.done_partitions("encode")
        todo = [(p, off, i) for i, (p, off) in enumerate(files)
                if f"f{i:06d}" not in done]
        seg_dir = os.path.join(self.index_dir, "segments", "base")
        fsio.makedirs(seg_dir, self.filesystem)
        if todo:
            # one file per task via parallelize slices (no range-sampling
            # job — see rank_and_tokenize_files)
            fdf = spark.createDataFrame(
                spark.sparkContext.parallelize(todo, len(todo)),
                "path string, off long, idx long")
            fn = _encode_file_writer(seg_dir, self.index_dir, avgdl,
                                     self.block_size, fail_partitions,
                                     filesystem=self.filesystem)
            fdf.mapInPandas(
                fn, schema="partition string, rows long, blocks long"
            ).collect()  # execute; rows land in lineage as a side effect
        if not files:
            # empty corpus (encode_flat_file always writes a segment file,
            # so a file-less seg_dir ⇔ an empty work list — no directory
            # listing needed): register_external would adopt a file-less
            # dir and every later read of postings_blocks would die with
            # UNABLE_TO_INFER_SCHEMA — pin the schema with an empty
            # segment instead (compact() does the same for a
            # fully-tombstoned corpus)
            fsio.write_parquet_atomic(
                _BLOCKS_SCHEMA.empty_table(),
                os.path.join(seg_dir, "seg-empty.parquet"),
                self.filesystem)
        self.lineage.mark_stage(
            "encode", n_files=len(files), avgdl=avgdl,
        )

    def _register_blocks(self, spark: SparkSession) -> None:
        # adopt the segment dir in place — no rewrite of the encoded index
        seg_dir = os.path.join(self.index_dir, "segments", "base")
        if not self.catalog.table_exists("postings_blocks"):
            self.catalog.register_external(seg_dir, "postings_blocks")

    # -- entry point -----------------------------------------------------------

    def _ensure_format(self) -> None:
        """Never resume across an index-format change: a lineage dir whose
        artifacts were written by a different format version silently
        poisons every later stage (round 1's gate-killing bug).  On
        mismatch the whole index dir is wiped and rebuilt from scratch."""
        fs = self.filesystem
        v = read_format_version(self.index_dir, fs)
        if v == INDEX_FORMAT_VERSION and \
                read_format_positions(self.index_dir, fs) == \
                self.index_positions:
            return
        lineage_dir = os.path.join(self.index_dir, "_lineage")
        has_state = (
            fsio.is_dir(lineage_dir, fs)
            and bool(fsio.list_subdirs(lineage_dir, fs)
                     or fsio.listdir(lineage_dir, fs))
        ) or bool(self.catalog.list_tables())
        if has_state:
            import sys
            print(f"[mongoesindexer] index at {self.index_dir} has format "
                  f"{v!r} (positions="
                  f"{read_format_positions(self.index_dir, fs)}), need "
                  f"{INDEX_FORMAT_VERSION} (positions="
                  f"{self.index_positions}); wiping for full rebuild",
                  file=sys.stderr)
            if self._injected_catalog:
                # an injected catalog owns its tables (they may live
                # outside index_dir, e.g. Iceberg warehouse): drop them
                # through the seam, then wipe the segment/lineage side
                for t in self.catalog.list_tables():
                    self.catalog.drop_table(t)
            # through the fs seam: a remote-FS build's format wipe must
            # act on the remote index root, not the driver's local disk
            fsio.remove_dir(self.index_dir, fs)
            fsio.makedirs(self.index_dir, fs)
            if not self._injected_catalog:
                self.catalog = ParquetCatalog(self.index_dir, fs)
            self.lineage = Lineage(self.index_dir, fs)
        write_format_version(self.index_dir, fs,
                             positions=self.index_positions)

    def build(self, spark: SparkSession, pages: DataFrame,
              fail_partitions: frozenset[str] = frozenset()) -> dict:
        """Run (or resume) the full build; returns lineage metric summary."""
        self._ensure_format()
        self._stage_flat(spark, pages)
        self._stage_stats(spark)
        self._stage_encode(spark, fail_partitions)
        self._register_blocks(spark)
        self._stage_term_dict(spark)
        self._stage_completion(spark)
        self._stage_fields(spark, pages)
        rows = self.lineage.rows()
        return {
            "stages": sorted({r["stage"] for r in rows}),
            "partitions": sum(1 for r in rows if r.get("partition")),
        }
