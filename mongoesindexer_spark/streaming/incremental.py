"""Incremental index sync — the engine's EP2/EP3 (SURVEY §3).

The reference keeps an index fresh two ways: a Mongo change stream with
persisted resume tokens (insert/update/delete dispatch,
load.service.ts:457-491) and a 1-minute cron poll for new/stale docs
(load.service.ts:501-573).  The Spark-native equivalent consumes a batch
of change rows (op, url, ...page columns) — in production an Iceberg
incremental scan between snapshots or a readStream micro-batch; the
snapshot id is the resume token — and applies it as a delta segment:

* delete / update → the old doc_id goes into the ``tombstones`` table
  (query paths anti-join it; physical removal happens at compaction);
* insert / update → new rows are tokenized and appended to
  ``postings_flat`` + ``doc_stats`` under fresh doc_ids (> all existing,
  so delta posting blocks stay doc-range-disjoint from base blocks and
  WAND cursors concatenate segments without a merge);
* ``global_stats`` and ``term_dict`` are recomputed by *exact delta
  arithmetic* (integer N/sum_dl adjustments; df/cf corrections from the
  dead docs' own postings) — never a full corpus pass, and the result is
  bit-identical to a full rebuild's stats.

Update = delete + insert, the same contract as the reference's indexOne
upsert-by-_id (load.service.ts:274-309).

Locus.  The reference syncs in small batches: its cron poll takes 20 new
and 50 stale docs per tick and its change stream indexes one event at a
time, and ES applies such a batch as a small in-memory segment flush, not
as a cluster job.  So a batch of at most ``LOCAL_APPLY_MAX_ROWS`` rows
(after the per-url collapse) is applied on the driver with the build's
own kernels (extract, tokenize, encode, sub-fields) and driver-side
pyarrow commits; a larger batch (a backfill) runs as Spark jobs.  Both
loci make the same commits in the same order and share the vocab-sized
``term_dict`` / ``completion`` rewrite, which is the only Spark work left
on the driver locus.

At-least-once safety: applying the same batch twice is detected via the
``sync_log`` table (batch_id) — the analog of the reference's
resume_tokens index (load.service.ts:55-69).
"""

from __future__ import annotations

from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analysis import LTD_DOC, AnalyzerConfig
from ..operators.build_index import (IndexBuilder, assign_doc_ids,
                                     check_format_version, resolve_text,
                                     tokenize_flat, write_term_dict)
from ..sources.catalog import read_table_arrow

# Change batches of at most this many rows (after the per-url collapse)
# are applied on the driver; larger ones by Spark jobs.  Measured on a
# 4-vCPU host with ~0.8 kB pages (tests' tiny fixture): the driver locus
# costs 0.2-0.3 ms per row (extract + tokenize + encode + commits), the
# Spark locus ~7-8 s of job latency for 45 to 4,000 rows alike.  Memory
# bound: the collected rows (html + text) and their postings sit in
# driver memory at once, about 1,024 x the page size (~100 MB at 100 kB
# pages).
LOCAL_APPLY_MAX_ROWS = 1024

# the page columns every change row carries (besides op)
PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")
_DOC_STATS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("url", pa.string()),
                               ("doc_len", pa.int64())])

# Fields the reference always treats as its own bookkeeping writebacks
# (array-utils.ts:7: lastESIndexedAt / lastESIndexResponse).  Engine analog:
# the lineage columns a writeback table would carry.
INDEXING_FIELDS = ("last_indexed_at", "last_index_response")


def filter_self_updates(updates: DataFrame, exclude_fields=(),
                        changed_col: str = "changed_fields") -> DataFrame:
    """Drop update events caused by the indexer's own writebacks (ST5/P7,
    load.service.ts:468-473): an *update* whose changed fields are all in
    {indexing bookkeeping fields} ∪ cfg.exclude_fields is skipped; inserts
    and deletes always pass.  No-op when the batch has no changed_col."""
    if changed_col not in updates.columns:
        return updates
    from ..operators.lookup import changed_fields_subset
    excluded = list(INDEXING_FIELDS) + list(exclude_fields)
    own = changed_fields_subset(updates, changed_col, excluded) & \
        (F.col("op") == "update")
    return updates.filter(~F.coalesce(own, F.lit(False)))


def poll_updates(source: DataFrame, indexed: DataFrame, *,
                 key: str = "url", update_field: str = "warc_ts",
                 skip_after_seconds: int = 86_400,
                 now: Column | None = None,
                 new_limit: int = 20, updated_limit: int = 50) -> DataFrame:
    """One tick of the reference's cron poll (EP3, load.service.ts:501-573),
    config-driven: cfg.update_field is the staleness column and
    cfg.skip_after_seconds the freshness window (extract.service.ts:233-243).

    * new docs — source rows with no row in ``indexed`` (the analog of
      "lastESIndexedAt missing", :509-511), ordered by key, first
      ``new_limit`` (reference: 20/tick);
    * stale docs — ``update_field >= last_indexed_at`` (:545-549), but
      skipped while ``last_indexed_at >= NOW - skip_after_seconds``
      (recently indexed; extract.service.ts:233-243), ordered by key,
      first ``updated_limit`` (reference: 50/tick).

    ``indexed`` carries (key, last_indexed_at) — the engine-side writeback
    table (the reference writes lastESIndexedAt into the source collection;
    keeping it separate is what makes ST5 loops structurally impossible).
    Returns an updates batch (op ∪ source columns) for
    :meth:`IncrementalIndexer.apply_updates`.  The sort+limit compiles to
    TakeOrderedAndProject — no global sort at any corpus size.
    """
    now = F.current_timestamp() if now is None else now
    idx = indexed.select(F.col(key), F.col("last_indexed_at"))
    new = (source.join(idx, key, "left_anti")
           .orderBy(key).limit(new_limit)
           .withColumn("op", F.lit("insert")))
    cutoff = now - F.make_interval(secs=F.lit(float(skip_after_seconds)))
    stale = (source.join(idx, key, "inner")
             .filter((F.col(update_field) >= F.col("last_indexed_at"))
                     & (F.col("last_indexed_at") < cutoff))
             .drop("last_indexed_at")
             .orderBy(key).limit(updated_limit)
             .withColumn("op", F.lit("update")))
    cols = ["op"] + source.columns
    return new.select(*cols).unionByName(stale.select(*cols))


def writeback_indexed(spark: SparkSession, indexed_path: str,
                      keys: list[str], key: str = "url",
                      now=None) -> int:
    """Upsert (key, last_indexed_at=now) rows into the poll writeback table
    after a batch was applied — the reference's lastESIndexedAt writeback
    (load.service.ts: indexOne sets lastESIndexedAt after each index).
    Without it every poll tick re-selects the same first ``new_limit`` docs
    and the cron loop never advances through the backlog.

    The keys of one tick are bounded (new_limit + updated_limit), so they
    arrive as a driver list; the rewrite is read-old → anti-join → union →
    write-tmp → atomic-ish swap (the table is poll bookkeeping, not index
    data — crash between remove and rename only re-indexes a tick's docs).
    """
    import os
    import shutil
    import uuid as _uuid

    if not keys:
        return 0
    now = now if now is not None else F.current_timestamp()
    fresh = (spark.createDataFrame([(k,) for k in keys], f"{key} string")
             .withColumn("last_indexed_at", now))
    if os.path.isdir(indexed_path) or os.path.isfile(indexed_path):
        old = spark.read.parquet(indexed_path)
        kdf = F.broadcast(fresh.select(key))
        merged = old.join(kdf, key, "left_anti") \
            .select(key, "last_indexed_at").unionByName(fresh)
    else:
        merged = fresh
    tmp = indexed_path.rstrip("/") + f".tmp-{_uuid.uuid4().hex}"
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(indexed_path):
        shutil.rmtree(indexed_path)
    elif os.path.exists(indexed_path):
        # single-file parquet table (the read branch supports it): rename
        # onto a leftover file would raise ENOTDIR
        os.remove(indexed_path)
    os.rename(tmp, indexed_path)
    return len(keys)


class IncrementalIndexer:
    def __init__(self, index_dir: str, cfg: AnalyzerConfig = LTD_DOC,
                 block_size: int | None = None,
                 exclude_fields: tuple[str, ...] = (),
                 filesystem=None, catalog=None):
        """``catalog``: the table-commit seam (default
        ``ParquetCatalog(index_dir, filesystem)`` via IndexBuilder)."""
        self.index_dir = index_dir
        self.cfg = cfg
        self.exclude_fields = tuple(exclude_fields)
        self.filesystem = filesystem
        # positions mode is a property of the on-disk index, not of this
        # object's construction: delta flat rows must carry the same
        # schema content (real pos_vb streams vs all-null) the base
        # generation does, or phrase queries over synced docs would
        # silently miss
        from ..operators.build_index import read_format_positions
        self.positions = read_format_positions(index_dir, filesystem)
        self.builder = IndexBuilder(index_dir, cfg=cfg, filesystem=filesystem,
                                    catalog=catalog,
                                    index_positions=self.positions)
        self.cat = self.builder.catalog

    # every table a sync batch may touch, in no particular order — the
    # journal snapshots all of them so recovery is total
    _SYNC_TABLES = ("postings_flat", "postings_blocks", "doc_stats",
                    "tombstones", "term_dict", "completion", "global_stats",
                    "fields", "sync_log")

    def _sync_tables(self) -> tuple[str, ...]:
        """The static set plus the dynamically-named point-read sidecars
        (``fields_by_<subcol>``) this index carries — the sidecar delta
        append is a batch commit like any other, so recovery must roll it
        back too or a replayed batch would double-serve its docs."""
        return self._SYNC_TABLES + tuple(
            t for t in self.cat.list_tables() if t.startswith("fields_by_"))

    def _journal_path(self) -> str:
        import os
        return os.path.join(self.index_dir, "_sync_journal.json")

    def recover(self, spark: SparkSession) -> dict | None:
        """Roll back a sync batch that crashed mid-commit.

        ``apply_updates`` mutates up to nine tables; the catalog commits
        each atomically but there is no cross-table transaction, so a
        crash between commits leaves the index with (say) delta postings
        registered but no doc_stats/sync_log — and a naive replay would
        reuse the same doc_ids (base_id derives from max(doc_stats)) and
        double-register every posting.  Fix: before its first write,
        apply_updates journals the pre-batch snapshot id of every table;
        this routine rolls each table back to that id and clears the
        journal.  Called automatically at the top of apply_updates, so a
        replayed batch always starts from the clean pre-crash state.
        Returns the recovered journal dict, or None if no crash happened.
        Orphaned snapshot/segment dirs from the failed attempt stay on
        disk (unreachable from any log) until vacuumed."""
        import json as _json

        from ..sources import fsio
        p = self._journal_path()
        if not fsio.exists(p, self.filesystem):
            return None
        j = _json.loads(fsio.read_text(p, self.filesystem))
        # a crash can also land AFTER every commit (sync_log included) but
        # BEFORE the journal removal — that batch is fully applied, and
        # rolling it back would LOSE it if the caller never re-sends it
        # (e.g. a poll loop moving on to the next batch).  sync_log is the
        # witness: committed batch_id present ⇒ just retire the journal.
        bid = j.get("batch_id")
        if bid and bid in self._logged_batches():
            fsio.remove_file(p, self.filesystem)
            return None
        for t, sid in j["pre"].items():
            self.cat.rollback(t, int(sid))
        fsio.remove_file(p, self.filesystem)
        return j

    def _logged_batches(self) -> set:
        """batch_ids in ``sync_log`` (a driver-side read, no Spark job)."""
        if not self.cat.table_exists("sync_log"):
            return set()
        return set(read_table_arrow(self.cat, "sync_log")["batch_id"])

    def apply_updates(self, spark: SparkSession, updates: DataFrame,
                      batch_id: str | None = None) -> dict:
        """Apply one change batch. ``updates`` columns: op (insert/update/
        delete), url, warc_ts, html, text, lang [, changed_fields].

        Locus: after the shared prep (format check, recovery, self-update
        filter, op check, per-url collapse, duplicate-batch check) the
        batch is collected with ``limit(LOCAL_APPLY_MAX_ROWS + 1)``.  A
        batch of at most ``LOCAL_APPLY_MAX_ROWS`` rows is applied on the
        driver (:meth:`_apply_on_driver`); a larger one by Spark jobs
        (:meth:`_apply_on_spark`).  Both use the build's kernels and make
        the same table commits in the same order, journal first and
        ``sync_log`` last; only the vocab-sized ``term_dict`` and
        ``completion`` rewrites run as Spark jobs on both."""
        # syncing a stale-format index would append mixed-schema blocks;
        # fail loudly instead (rebuild via IndexBuilder.build)
        check_format_version(self.index_dir, "incremental-sync target",
                             filesystem=self.filesystem)
        # heal a previous batch that crashed between table commits BEFORE
        # reading any stats (see recover()) — replay must not observe
        # partial state
        self.recover(spark)
        # ST5: drop our own writeback events before they can re-index
        updates = filter_self_updates(updates, self.exclude_fields)
        if "changed_fields" in updates.columns:
            updates = updates.drop("changed_fields")
        # an unrecognized op would fall through the insert/update filter
        # below yet still retire the url via dead_urls — i.e. silently
        # DELETE the document.  Fail loudly instead (one limit-1 job over
        # the batch, not the corpus).
        bad = updates.filter(
            ~F.col("op").isin("insert", "update", "delete")) \
            .select("op").limit(1).collect()
        if bad:
            raise ValueError(
                f"unknown change op {bad[0]['op']!r}: expected one of "
                f"insert/update/delete (an upsert is op='update')")
        # within-batch upsert collapse: one micro-batch can carry several
        # events for the same url (stream_sync coalesces up to 8 files per
        # trigger).  The reference applies change events in stream order;
        # a batch loses that order, so the page's own version stamp
        # decides: per url keep the event with the greatest warc_ts, ties
        # broken delete > update > insert (a delete of a version never
        # loses to an equal-version write).  Without this, two events for
        # one url would BOTH insert under fresh doc_ids — `dead` below is
        # computed against the PRE-batch doc_stats, so neither retires the
        # other and queries return the document twice.
        from pyspark.sql import Window
        op_rank = F.when(F.col("op") == "delete", 3) \
            .when(F.col("op") == "update", 2).otherwise(1)
        # a delete usually carries NO page payload and hence no version
        # stamp — a null-warc_ts delete must win the batch outright, or
        # the nulls-last ordering below would silently drop it and leave
        # the supposedly-deleted doc live
        unversioned_delete = (F.col("op") == "delete") & \
            F.col("warc_ts").isNull()
        w = Window.partitionBy("url").orderBy(
            unversioned_delete.desc(),
            F.col("warc_ts").desc_nulls_last(), op_rank.desc(),
            F.md5(F.coalesce(F.col("text"), F.lit(""))))
        updates = updates.withColumn("_rn", F.row_number().over(w)) \
            .filter(F.col("_rn") == 1).drop("_rn")
        if batch_id and batch_id in self._logged_batches():
            return {"applied": False, "reason": "duplicate batch"}
        # the one locus choice: a bounded collect (a small batch's whole
        # payload; a larger one is only probed here and re-read by Spark)
        head = updates.limit(LOCAL_APPLY_MAX_ROWS + 1).toArrow()
        on_driver = head.num_rows <= LOCAL_APPLY_MAX_ROWS

        # intent journal: pre-batch snapshot ids of every table this batch
        # may commit to — one atomic control-plane write.  sync_log lands
        # LAST below, so the journal existing without the matching
        # sync_log row is exactly the signature recover() reverses.
        import json as _json

        import pandas as pd

        from ..sources import fsio
        fsio.write_text_atomic(
            _json.dumps({"batch_id": batch_id,
                         "pre": {t: self.cat.current_snapshot(t)
                                 for t in self._sync_tables()}}),
            self._journal_path(), self.filesystem)

        g = read_table_arrow(self.cat, "global_stats").iloc[0]
        n_docs = int(g["n_docs"])
        sum_dl = int(g["sum_dl"]) if pd.notna(g["sum_dl"]) else 0
        if on_driver:
            d = self._apply_on_driver(spark, head, n_docs, sum_dl)
        else:
            d = self._apply_on_spark(spark, updates, n_docs, sum_dl)
        n_docs2 = n_docs - d.n_dead + d.n_new
        sum_dl2 = sum_dl - d.dl_dead + d.dl_new
        # term_dict exact delta update: the old dictionary plus the
        # batch's df/cf deltas, summed per term; terms whose df falls to 0
        # leave the dictionary
        td = self.cat.read(spark, "term_dict").select("term", "df", "cf")
        counts = (
            td.unionByName(d.deltas.select(
                "term", F.col("d_df").alias("df"), F.col("d_cf").alias("cf")))
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .filter(F.col("df") > 0)
        )
        # completion derives from term_dict and is refreshed with it
        # (vocab-sized — cheap next to the sync itself)
        write_term_dict(self.cat, counts, n_docs2,
                        spark.sparkContext.defaultParallelism
                        if self.cat.table_exists("completion") else None)
        self.cat.write_small_arrow(
            pd.DataFrame({
                "n_docs": pd.Series([n_docs2], dtype="int64"),
                "avgdl": pd.Series([sum_dl2 / max(1, n_docs2)],
                                   dtype="float64"),
                "sum_dl": pd.Series([sum_dl2], dtype="int64")}),
            "global_stats")
        if batch_id:
            self.cat.append(
                pd.DataFrame({"batch_id": pd.Series([batch_id],
                                                    dtype="object")}),
                "sync_log")
        # all commits landed (sync_log included) — retire the intent journal
        fsio.remove_file(self._journal_path(), self.filesystem)
        for h in d.release:
            h.unpersist()
        return {"applied": True, "inserted": d.n_new,
                "tombstoned": d.n_dead, "n_docs": n_docs2}

    def _apply_on_spark(self, spark: SparkSession, updates: DataFrame,
                        n_docs: int, sum_dl: int) -> "_Delta":
        """The Spark locus: a batch above ``LOCAL_APPLY_MAX_ROWS`` (a
        backfill) never reaches the driver; only scalar aggregates do."""
        stats = self.cat.read(spark, "doc_stats")

        # upsert semantics (reference indexOne indexes by _id — an ES upsert,
        # load.service.ts:274-309): ANY incoming url retires an existing doc
        # of the same url, including op=insert — otherwise an insert event
        # for an already-indexed url (e.g. a poll tick racing a writeback)
        # would duplicate the document.  Genuinely-new urls miss the join.
        dead_urls = updates.select("url").distinct()
        # old doc ids being retired.  No broadcast hint on either dead-side
        # join: a backfill-sized batch can carry millions of urls / retire
        # millions of docs, and a forced broadcast would collect all of
        # them to the driver — AQE picks broadcast automatically when the
        # set is genuinely small
        if self.cat.table_exists("tombstones"):
            live = stats.join(
                self.cat.read(spark, "tombstones"), "doc_id", "left_anti")
        else:
            live = stats
        # dead doc ids/lens stay DISTRIBUTED: a backfill-sized batch can
        # retire millions of docs, so only scalar aggregates reach the
        # driver (ids go straight into the tombstones table)
        dead = live.join(dead_urls, "url", "inner") \
            .select("doc_id", "doc_len").persist()
        dg = dead.agg(F.count("*").alias("n"),
                      F.coalesce(F.sum("doc_len"), F.lit(0)).alias("dl")).collect()[0]
        n_dead, dl_dead = int(dg["n"]), int(dg["dl"])

        # --- new docs: insert + update payloads, fresh ids above max ------
        # keep EVERY payload column, not just the page shape: the fields
        # refresh below recovers keyword/numeric sub-field base columns
        # (e.g. an integer range-filter field) from the update rows
        extra = [c for c in updates.columns if c not in PAGE_COLS + ("op",)]
        new_pages = updates.filter(F.col("op").isin("insert", "update")) \
            .select(*PAGE_COLS, *extra)
        max_id = stats.agg(F.max("doc_id")).collect()[0][0]
        base_id = int(max_id if max_id is not None else -1) + 1
        # deterministic dense numbering above base_id via the same
        # rank-offset pattern as the full build — no single-partition
        # window, so a backfill-sized change batch parallelizes
        persist_handle: list = []
        numbered = assign_doc_ids(resolve_text(new_pages), key="url",
                                  _persist_handle=persist_handle)
        new_docs = numbered.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(base_id)).cast("long"))
        delta_all = tokenize_flat(new_docs, self.cfg,
                                  positions=self.positions)
        # cache: used for postings append, doc_stats, stats deltas, encode
        delta_all = delta_all.persist()
        delta_all.count()
        for h in persist_handle:
            h.unpersist()
        delta_flat = delta_all.filter(F.col("term").isNotNull()).drop("url")

        new_doc_stats = delta_all.filter(F.col("term").isNull()) \
            .select("doc_id", "url", "doc_len")
        ng = new_doc_stats.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("doc_len"), F.lit(0)).alias("dl")).collect()[0]
        n_new, dl_new = int(ng["n"]), int(ng["dl"])

        # df/cf deltas: the new postings add, the dead docs' own postings
        # subtract
        deltas = delta_flat.groupBy("term").agg(
            F.count("*").alias("d_df"), F.sum("tf").alias("d_cf"))
        if n_dead:
            from ..operators.build_index import read_flat
            deltas = deltas.unionByName(
                read_flat(self.cat, spark)
                .join(dead.select("doc_id"), "doc_id", "inner")
                .groupBy("term")
                .agg((-F.count("*")).alias("d_df"),
                     (-F.sum("tf")).alias("d_cf")))

        # --- append flat rows, then encode the delta segment from the
        # written part files (new doc range ⇒ blocks disjoint from base).
        # Delta flat parts are url-range partitions of a doc range above
        # all earlier ids, hence doc-range disjoint — the per-file encode
        # needs NO shuffle at any batch size, where the former
        # groupBy(hash(term)) put a backfill batch's head terms each on a
        # single task (the skew the build's encode stage exists to avoid)
        avgdl2 = (sum_dl - dl_dead + dl_new) / max(1, n_docs - n_dead + n_new)
        snap = self.cat.append(delta_all, "postings_flat")
        self._encode_delta(
            spark, self.cat.snapshot_dir("postings_flat", snap), avgdl2)
        self.cat.append(new_doc_stats, "doc_stats")
        if self.cat.table_exists("fields"):
            # keep the keyword/normalized sub-field table (T8) fresh: new
            # docs get rows computed by the SAME kernel the build stage
            # uses; retired docs are masked by read_fields' tombstone
            # anti-join until compaction drops them physically.  Base
            # columns are recovered from the existing schema — a sub-field
            # column the sync payload lacks stays null for delta docs.
            from ..operators.build_index import (fields_subfields,
                                                 write_keyword_sidecars)
            f_cols, n_cols = _subfield_bases(
                self.cat.read(spark, "fields").columns)
            src = new_pages
            for c in f_cols:
                if c not in src.columns:
                    src = src.withColumn(c, F.lit(None).cast("string"))
            for c in n_cols:
                if c not in src.columns:
                    src = src.withColumn(c, F.lit(None).cast("long"))
            base = sorted(set(f_cols) | set(n_cols))
            keyed = new_doc_stats.select("doc_id", "url") \
                .join(src.select("url", *base), "url")
            fdf = fields_subfields(keyed, f_cols, n_cols)
            self.cat.append(fdf, "fields")
            # keep the point-read sidecars fresh too: one value-sorted
            # delta generation each (delta doc ranges sit above all
            # earlier ids; _RowGroupIndex prunes per file, so base +
            # delta files serve together with no merge)
            write_keyword_sidecars(self.cat, fdf, 1, append=True)
        if n_dead:
            self.cat.append(dead.select("doc_id"), "tombstones")
        return _Delta(n_dead, dl_dead, n_new, dl_new, deltas,
                      (delta_all, dead))

    def _apply_on_driver(self, spark: SparkSession, batch, n_docs: int,
                         sum_dl: int) -> "_Delta":
        """The driver locus: the collected batch (a ``pyarrow.Table``) is
        applied with the build's kernels — ``extract_text``,
        ``_tokenize_batch``, ``encode_flat_file`` and
        ``normalize_keywords`` — and committed with driver-side pyarrow
        writes.  Index reads are footer-pruned point reads: dead docs by
        url from ``doc_stats``, their postings by doc_id from
        ``postings_flat``; the max doc_id comes from footer stats.  Doc
        ids and rows equal the Spark locus's: ids are max doc_id + 1 +
        the url rank within the batch, as ``assign_doc_ids`` numbers
        them."""
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..functions.analysis import extract_text
        from ..operators.build_index import FLAT_SCHEMA, _tokenize_batch
        from ..operators.topk import _RowGroupIndex

        cat, fs = self.cat, self.filesystem

        def point_read(table: str, key: str, values, columns):
            idx = _RowGroupIndex(cat.data_files(table), key, fs)
            try:
                return idx.read_isin_table(values, columns)
            finally:
                idx.close()

        # --- dead docs: live doc_stats rows of any incoming url (upsert
        # semantics, as on the Spark locus)
        dead = point_read("doc_stats", "url",
                          batch.column("url").to_pylist(),
                          ["doc_id", "doc_len"])
        dead_ids = dead.column("doc_id").to_numpy()
        if cat.table_exists("tombstones") and dead_ids.size:
            tomb = read_table_arrow(cat, "tombstones")["doc_id"]
            keep = ~np.isin(dead_ids, tomb.to_numpy(dtype=np.int64))
            dead_ids = dead_ids[keep]
            dead = dead.filter(pa.array(keep))
        n_dead = int(dead_ids.size)
        dl_dead = int(pc.sum(dead.column("doc_len")).as_py() or 0)

        # --- new docs: fresh ids in url order above the max doc_id
        new = batch.filter(pc.is_in(batch.column("op"),
                                    pa.array(["insert", "update"])))
        new = new.sort_by("url")
        max_id = _column_max(cat, "doc_stats", "doc_id", fs)
        base_id = int(max_id if max_id is not None else -1) + 1
        doc_ids = np.arange(base_id, base_id + new.num_rows, dtype=np.int64)
        urls = new.column("url").to_pylist()
        texts = [t if t is not None else
                 extract_text(h) if isinstance(h, (str, bytes, bytearray))
                 else None
                 for t, h in zip(new.column("text").to_pylist(),
                                 new.column("html").to_pylist())]
        flat = _tokenize_batch(doc_ids, urls, texts, self.cfg,
                               positions=self.positions)
        is_post = flat["term"].notna().to_numpy()
        markers = flat.loc[~is_post, ["doc_id", "url", "doc_len"]]
        n_new, dl_new = len(markers), int(markers["doc_len"].sum())

        # --- df/cf deltas: the batch's postings add, the dead docs' own
        # postings (a doc_id point read of postings_flat) subtract
        parts = [flat.loc[is_post].groupby("term", sort=False)["tf"]
                 .agg(d_df="size", d_cf="sum")]
        if n_dead:
            gone = point_read("postings_flat", "doc_id", dead_ids.tolist(),
                              ["term", "tf"]).to_pandas()
            gone = gone[gone["term"].notna()].groupby("term", sort=False)
            parts.append(-gone["tf"].agg(d_df="size", d_cf="sum"))
        deltas = pd.concat(parts).reset_index()

        # --- commits, in the Spark locus's order
        if n_new:
            snap = cat.append(
                pa.Table.from_pandas(flat, schema=FLAT_SCHEMA,
                                     preserve_index=False),
                "postings_flat")
            avgdl2 = (sum_dl - dl_dead + dl_new) / \
                max(1, n_docs - n_dead + n_new)
            self._encode_delta(spark, cat.snapshot_dir("postings_flat", snap),
                               avgdl2, on_driver=True)
            cat.append(
                pa.Table.from_pandas(markers, schema=_DOC_STATS_SCHEMA,
                                     preserve_index=False),
                "doc_stats")
            if cat.table_exists("fields"):
                self._append_fields_on_driver(spark, new, doc_ids)
        if n_dead:
            cat.append(
                pa.table({"doc_id": pa.array(dead_ids, pa.int64())}),
                "tombstones")
        return _Delta(n_dead, dl_dead, n_new, dl_new,
                      spark.createDataFrame(
                          deltas, "term string, d_df long, d_cf long"), ())

    def _append_fields_on_driver(self, spark: SparkSession, new,
                                 doc_ids) -> None:
        """Append the new docs' ``fields`` rows and one value-sorted
        generation of each ``fields_by_*`` sidecar, as
        :func:`fields_subfields` and :func:`write_keyword_sidecars` would.
        The base columns are cast by Spark over a local relation (no job),
        so the cast semantics are Spark's on both loci."""
        import pandas as pd

        from ..operators.build_index import normalize_keywords, sidecar_table
        from ..sources import fsio

        cat = self.cat
        with fsio.parquet_file(cat.data_files("fields")[0],
                               self.filesystem) as f:
            fschema = f.schema_arrow
        f_cols, n_cols = _subfield_bases(fschema.names)
        keyed = new.select([c for c in sorted(set(f_cols) | set(n_cols))
                            if c in new.column_names]) \
            .append_column("doc_id", pa.array(doc_ids, pa.int64()))

        def base(c: str, typ: str):
            col = F.col(c) if c in keyed.column_names else F.lit(None)
            return col.cast(typ)

        out = [f"{c}_keyword" for c in f_cols] + [f"{c}_num" for c in n_cols]
        rows = spark.createDataFrame(keyed).select(
            "doc_id",
            *[base(c, "string").alias(f"{c}_keyword") for c in f_cols],
            *[base(c, "long").alias(f"{c}_num") for c in n_cols]).collect()
        vals = {n: [r[n] for r in rows] for n in ["doc_id", *out]}
        for c in f_cols:
            vals[f"{c}_normalized"] = normalize_keywords(
                pd.Series(vals[f"{c}_keyword"], dtype=object)).tolist()
        fields = pa.table({n: pa.array(vals[n], fschema.field(n).type)
                           for n in fschema.names})
        cat.append(fields, "fields")
        for sub in fschema.names:
            if sub == "doc_id" or sub.endswith("_num"):
                continue
            side = fields.select([sub, "doc_id"]).drop_null() \
                .sort_by([(sub, "ascending"), ("doc_id", "ascending")])
            cat.append(side, sidecar_table(sub))

    def _encode_delta(self, spark: SparkSession, delta_dir: str,
                      avgdl: float, on_driver: bool = False) -> None:
        """Encode the just-appended delta flat part files as new block
        segment files with ``encode_flat_file`` — one Spark task per file,
        no shuffle (files are doc-range disjoint; see apply_updates), or
        in the driver process for ``on_driver``.  Block ids continue above
        every existing block id (from footer stats) so (term, block_id)
        order remains the doc order across generations."""
        import os
        import uuid as _uuid

        import pandas as pd

        from ..operators.build_index import (encode_flat_file,
                                             source_files_presorted)
        from ..sources import fsio

        bs = self.builder.block_size
        fs = self.filesystem
        paths = [os.path.join(delta_dir, f)
                 for f in fsio.listdir(delta_dir, fs)
                 if f.startswith("part-") and f.endswith(".parquet")]
        files = source_files_presorted(paths, key="doc_id", filesystem=fs)
        if not files:
            return
        block_base = int(_column_max(self.cat, "postings_blocks",
                                     "block_id", fs) or 0) + 1
        gen = _uuid.uuid4().hex[:8]
        seg_dir = os.path.join(self.index_dir, "segments", f"delta-{gen}")
        fsio.makedirs(seg_dir, fs)
        todo = [(p, block_base + off, i) for i, (p, off) in enumerate(files)]

        def _seg_path(idx) -> str:
            return os.path.join(seg_dir, f"seg-d{int(idx):06d}.parquet")

        if on_driver:
            for path, base, idx in todo:
                encode_flat_file(path, _seg_path(idx), avgdl, bs, base,
                                 filesystem=fs)
        else:
            def _enc(it):
                for pdf in it:
                    for path, base, idx in zip(pdf["path"].values,
                                               pdf["base"].values,
                                               pdf["idx"].values):
                        n_rows, n_blocks = encode_flat_file(
                            path, _seg_path(idx), avgdl, bs, int(base),
                            filesystem=fs)
                        yield pd.DataFrame({"partition": [int(idx)],
                                            "rows": [n_rows],
                                            "blocks": [n_blocks]})

            fdf = spark.createDataFrame(
                spark.sparkContext.parallelize(todo, len(todo)),
                "path string, base long, idx long")
            fdf.mapInPandas(
                _enc, schema="partition long, rows long, blocks long"
            ).collect()
        self.cat.register_external(seg_dir, "postings_blocks", op="append")


class _Delta(NamedTuple):
    """What a locus hands back to :meth:`IncrementalIndexer.apply_updates`
    for the shared term_dict / global_stats / sync_log commits."""
    n_dead: int
    dl_dead: int
    n_new: int
    dl_new: int
    deltas: DataFrame        # (term, d_df, d_cf)
    release: tuple           # frames to unpersist after the last commit


def _subfield_bases(columns) -> tuple[list[str], list[str]]:
    """(keyword bases, numeric bases) of a ``fields`` table's columns."""
    return (sorted(c[:-len("_keyword")] for c in columns
                   if c.endswith("_keyword")),
            sorted(c[:-len("_num")] for c in columns if c.endswith("_num")))


def _column_max(cat, table: str, col: str, filesystem=None):
    """Max of ``col`` over a table's live files, from parquet footer
    stats (a row group without stats is read) — no Spark job."""
    import pyarrow.compute as pc

    from ..sources import fsio
    best = None
    for path in cat.data_files(table):
        f = fsio.parquet_file(path, filesystem)
        try:
            md = f.metadata
            ci = f.schema_arrow.get_field_index(col)
            for rg in range(md.num_row_groups):
                if not md.row_group(rg).num_rows:
                    continue
                st = md.row_group(rg).column(ci).statistics
                v = st.max if st is not None and st.has_min_max else \
                    pc.max(f.read_row_group(rg, columns=[col])
                           .column(col)).as_py()
                if v is not None and (best is None or v > best):
                    best = v
        finally:
            f.close()
    return best
