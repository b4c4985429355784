"""IndexWriter analog: incremental adds, buffered-style deletes, updates.

Semantics source (behavior only):
  IndexWriter.addDocuments   solr-8.4.0/.../index/IndexWriter.java:1234,1276
      -> new docs always land in NEW segments (a DWPT never reopens a flushed
         segment); here: one new wave of segment partitions + snapshot commit.
  IndexWriter.deleteDocuments(Term/Query)  IndexWriter.java:1538,1564
      -> per-segment deleted-doc sets (.liv analog, blog/Lucene/索引文件/liv),
         applied at read time; df/ttf/norm stats stay un-adjusted until merge
         (exactly Lucene's behavior — deleted docs still count in docFreq).
  IndexWriter.updateDocument  IndexWriter.java:1603
      -> atomic delete-by-key + add, published in ONE snapshot commit.

Layout: index_dir/deletes/gen=<snapshot>/segment_id=K/*.parquet with a single
`docid` column. Readers union all generations and keep only live segments;
merge drops deleted docs and compacts docids, after which the old segments'
delete files simply fall out of the live set (IndexFileDeleter analog).

Scale shape: delete resolution is a semi-join of the keys against the docs
table (partition-pruned by live (wave, segment)); the per-segment delete sets
are bounded by deletesPctAllowed (33%) because maybe_merge reclaims them —
same invariant that keeps Lucene's .liv files small.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.tokenizer import Analyzer, STANDARD
from .builder import index_wave
from .catalog import IndexCatalog, WriteLock, append_lineage
from . import schema as S

__all__ = ["IndexWriter", "load_deletes", "deletes_df", "dv_updates_df"]


def dv_updates_df(spark: SparkSession, index_dir: str,
                  live_segment_ids: set[int],
                  gens: list[int] | None = None) -> DataFrame | None:
    """(segment_id, docid, field, value) of the committed in-place DocValues
    updates, collapsed newest-generation-wins per (segment, doc, field) —
    the read side of IndexWriter.updateNumericDocValue's docValuesGen files
    (SegmentCommitInfo.java docValuesGen; each update gen is a .dvd sidecar
    the reader overlays on the segment's base values).

    Generation dirs are read by direct path (only committed gens exist in the
    plan) and liveness is a broadcast semi-join against the segment-id list —
    metadata-scale driver data, never a per-segment literal expression.
    Crash-retried updates may duplicate rows WITHIN a gen; the retry carries
    the same batch, and max(struct(gen, value)) picks deterministically."""
    if gens is None:
        gens = IndexCatalog(index_dir).dv_gens()
    ddir = os.path.join(index_dir, "dv_updates")
    paths = [os.path.join(ddir, f"gen={int(g)}") for g in (gens or [])]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return None
    live = spark.createDataFrame(
        [(int(s),) for s in sorted(live_segment_ids)], "segment_id int")
    src = spark.read.option("basePath", ddir).parquet(*paths)
    if "value_str" not in src.columns:  # pre-binary-channel gens
        src = src.withColumn("value_str", F.lit(None).cast("string"))
    return (src
            .join(F.broadcast(live), "segment_id", "left_semi")
            .groupBy("segment_id", "docid", "field")
            .agg(F.max(F.struct(
                F.col("gen").cast("long").alias("gen"),
                F.col("value").alias("value"),
                F.col("value_str").alias("value_str"))).alias("m"))
            .select("segment_id", "docid", "field",
                    F.col("m.value").alias("value"),
                    F.col("m.value_str").alias("value_str")))


def deletes_df(spark: SparkSession, index_dir: str,
               live_segment_ids: set[int],
               gens: list[int] | None = None,
               kind: str = "deletes") -> DataFrame | None:
    """(segment_id, docid) union over the snapshot's visible delete
    generations, live segs only. Files written by an in-flight (or crashed,
    or rolled-back) operation stay invisible because their gen is not listed
    in the committed snapshot. kind='soft_deletes' reads the soft-delete
    marker sets (the softDeletesField DocValues analog)."""
    ddir = os.path.join(index_dir, kind)
    if not os.path.isdir(ddir):
        return None
    if gens is None:
        cat = IndexCatalog(index_dir)
        gens = (cat.soft_delete_gens() if kind == "soft_deletes"
                else cat.delete_gens())
    if not gens:
        return None
    # committed gens read by direct path; liveness via a broadcast semi-join
    # against the segment-id list (metadata-scale), never an O(#segments)
    # literal expression in the plan — same shape as dv_updates_df
    paths = [os.path.join(ddir, f"gen={int(g)}") for g in gens]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return None
    live = spark.createDataFrame(
        [(int(s),) for s in sorted(live_segment_ids)], "segment_id int")
    return (spark.read.option("basePath", ddir).parquet(*paths)
            .join(F.broadcast(live), "segment_id", "left_semi")
            .select("segment_id", "docid").distinct())


def load_deletes(spark: SparkSession, index_dir: str,
                 live_segment_ids: set[int],
                 gens: list[int] | None = None,
                 kind: str = "deletes") -> dict[int, np.ndarray]:
    """Collect per-segment sorted deleted-docid arrays (the .liv bitsets;
    kind='soft_deletes' for the soft-deleted marker sets).

    TEST/INSPECTION UTILITY ONLY — nothing on the search or merge path calls
    this anymore: kernel and merge tasks read their OWN segment's delete
    files via livedocs.read_segment_deletes (the per-segment .liv analog),
    so no full delete set is ever materialized on the driver."""
    df = deletes_df(spark, index_dir, live_segment_ids, gens=gens, kind=kind)
    if df is None:
        return {}
    pdf = df.toPandas()
    out: dict[int, np.ndarray] = {}
    for sid, g in pdf.groupby("segment_id"):
        out[int(sid)] = np.sort(g["docid"].values.astype(np.int64))
    return out


class IndexWriter:
    """Mutating operations over an existing (or empty) index directory."""

    def __init__(self, spark: SparkSession, index_dir: str, *,
                 analyzer: Analyzer = STANDARD, docs_per_segment: int = 4096,
                 term_shards: int = 32, store_positions: bool = True,
                 int_keys: bool = False, acquire_lock: bool = True):
        self.spark = spark
        self.index_dir = index_dir
        self.cat = IndexCatalog(index_dir)
        # IndexWriter.java obtains write.lock in its constructor; a second
        # concurrent writer raises LockObtainFailedException. Released by
        # close() / `with` exit / garbage collection.
        self._lock = WriteLock(index_dir).acquire() if acquire_lock else None
        self.analyzer = analyzer
        self.docs_per_segment = docs_per_segment
        self.term_shards = term_shards
        self.store_positions = store_positions
        self.store_offsets = False
        self.omit_freqs = False
        self.omit_norms = False
        self.int_keys = int_keys
        # Codec.forName: new waves honor the codec recorded at build time
        from .builder import load_index_codec
        self.codec = load_index_codec(index_dir)
        # IndexOptions/omitNorms recorded at build time win (FieldInfo.java:150
        # update-and-check: a field's index options never change mid-index)
        io_path = os.path.join(self.cat.catalog_dir, "indexoptions.json")
        if os.path.exists(io_path):
            import json
            with open(io_path) as fh:
                rec = json.load(fh)
            self.store_positions = rec["index_options"] in ("positions",
                                                             "offsets")
            self.store_offsets = rec["index_options"] == "offsets"
            self.omit_freqs = rec["index_options"] == "docs"
            self.omit_norms = bool(rec["omit_norms"])

    # --- lifecycle ------------------------------------------------------------
    def close(self) -> None:
        """Release write.lock (IndexWriter.close; idempotent)."""
        if self._lock is not None:
            self._lock.release()

    def __enter__(self) -> "IndexWriter":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # --- adds ---------------------------------------------------------------
    def add_documents(self, df: DataFrame, key_col: str,
                      text_col: str,
                      commit_extra: dict | None = None) -> list[int]:
        """Index df into a fresh wave of NEW segments; atomic snapshot commit.

        Returns the new segment ids. Mirrors the DWPT rule that concurrent /
        subsequent addDocument batches produce distinct segments.
        commit_extra is forwarded into the snapshot commit (e.g. a streaming
        batch_id, recorded atomically with the publish — exactly-once)."""
        t0 = time.time()
        live = self.cat.live_segments()
        next_seg = max((s["segment_id"] for s in live), default=-1) + 1
        next_wave = max((s["wave"] for s in live), default=-1) + 1
        total = df.count()
        if total == 0:
            return []
        n_new = max(1, math.ceil(total / self.docs_per_segment))
        key_s = F.col(key_col).cast("string")
        src = df.select(
            key_s.alias("key"), F.col(text_col).alias("text"),
            (F.lit(next_seg)
             + F.pmod(F.xxhash64(key_s), F.lit(n_new))).cast("int")
            .alias("segment_id"),
        )
        segs = index_wave(
            self.spark, src, self.index_dir, next_wave,
            analyzer=self.analyzer, store_positions=self.store_positions,
            int_keys=self.int_keys, term_shards=self.term_shards,
            docs_per_segment=self.docs_per_segment, codec=self.codec,
            omit_freqs=self.omit_freqs, omit_norms=self.omit_norms,
                store_offsets=self.store_offsets)
        wall_ms = int((time.time() - t0) * 1000)
        append_lineage(self.index_dir, [
            ("add_wave", s["segment_id"], self.cat.head() + 1, s["doc_count"],
             wall_ms, "done") for s in segs])
        self.cat.commit(live + segs, operation="append", extra=commit_extra)
        return [s["segment_id"] for s in segs]

    def add_indexes(self, *source_dirs: str) -> list[int]:
        """IndexWriter.addIndexes(Directory...) analog
        (IndexWriter.java addIndexes(Directory...) — a FILE-LEVEL segment
        import: source segments are copied in, renumbered, and published in
        one commit; no re-indexing, no re-encoding).

        Each source's live segments' docs/postings (and tvd sidecar)
        partitions are copied under a fresh wave of this index with remapped
        segment ids, then one atomic snapshot commit publishes them. At
        production scale the copy is an object-store/manifest copy — the same
        cost Lucene pays copying segment files into the target Directory.

        Requirements enforced (as Lucene enforces codec/sort compatibility):
        the source must use the SAME codec, the SAME field configuration
        (fieldinfos), the SAME index options (indexoptions: a field's
        IndexOptions never change mid-index, FieldInfo.java:150), and have
        NO pending deletes (run
        force_merge/expungeDeletes on the source first — Lucene's
        addIndexes(CodecReader...) path does the equivalent reclaim)."""
        import json as _json
        import shutil

        from .builder import load_index_codec

        t0 = time.time()
        live = self.cat.live_segments()
        next_seg = max((s["segment_id"] for s in live), default=-1) + 1
        next_wave = max((s["wave"] for s in live), default=-1) + 1

        def _catalog_json(d, name):
            fp = os.path.join(d, "_catalog", name)
            return _json.load(open(fp)) if os.path.exists(fp) else None

        my_fi = _catalog_json(self.index_dir, "fieldinfos.json")
        my_io = _catalog_json(self.index_dir, "indexoptions.json")
        imported: list[dict] = []
        for sdir in source_dirs:
            scat = IndexCatalog(sdir)
            if scat.head() < 0:
                raise ValueError(f"no committed snapshot under {sdir}")
            if load_index_codec(sdir).name != self.codec.name:
                raise ValueError(
                    f"codec mismatch: {sdir} uses "
                    f"{load_index_codec(sdir).name!r}, this index "
                    f"{self.codec.name!r}")
            if _catalog_json(sdir, "fieldinfos.json") != my_fi:
                raise ValueError(f"field configuration mismatch with {sdir}")
            if _catalog_json(sdir, "indexoptions.json") != my_io:
                raise ValueError(f"index options mismatch with {sdir}")
            if scat.delete_gens() or scat.soft_delete_gens():
                raise ValueError(
                    f"{sdir} has pending deletes; force_merge/expungeDeletes "
                    "it first, then add_indexes")
            for s in sorted(scat.live_segments(),
                            key=lambda x: x["segment_id"]):
                new_id = next_seg
                next_seg += 1
                roots = ["docs", "postings"]
                if os.path.isdir(os.path.join(sdir, "tvd")):
                    roots.append("tvd")
                for root in roots:
                    src_part = os.path.join(
                        sdir, root, f"wave={s['wave']}",
                        f"segment_id={s['segment_id']}")
                    if not os.path.isdir(src_part):
                        continue
                    dst_part = os.path.join(
                        self.index_dir, root, f"wave={next_wave}",
                        f"segment_id={new_id}")
                    shutil.copytree(src_part, dst_part)
                ns = dict(s)
                ns["segment_id"] = new_id
                ns["wave"] = next_wave
                ns["imported_from"] = os.path.abspath(sdir)
                imported.append(ns)
        if not imported:
            return []
        wall_ms = int((time.time() - t0) * 1000)
        append_lineage(self.index_dir, [
            ("add_indexes", s["segment_id"], self.cat.head() + 1,
             s["doc_count"], wall_ms, "done") for s in imported])
        self.cat.commit(live + imported, operation="add_indexes")
        return [s["segment_id"] for s in imported]

    # --- parallel fields (ParallelLeafReader demo) ---------------------------
    def _parallel_dir(self, name: str) -> str:
        return os.path.join(self.index_dir, "parallel", name)

    def _write_parallel(self, name: str, df: DataFrame, key_col: str,
                        value_col: str, segments: list[dict]) -> int:
        """Derive (segment_id, docid, value) rows for the given segments by a
        distributed key join and write them as per-segment sidecar partitions
        under parallel/<name>/ — the demo's "private directory next to the
        main index" per parallel segment."""
        from .catalog import read_live_partitions
        if not segments:
            return 0
        docs = read_live_partitions(self.spark, self.index_dir, "docs",
                                    segments)
        if docs is None:
            return 0
        vals = df.select(F.col(key_col).cast("string").alias("key"),
                         F.col(value_col).alias("value"))
        rows = (docs.select("segment_id", "docid", "key")
                .join(vals, "key")
                .select(F.col("segment_id").cast("int"),
                        F.col("docid").cast("int"), "value"))
        (rows.repartition(F.col("segment_id"))
         .sortWithinPartitions("segment_id", "docid")
         .write.mode("append").partitionBy("segment_id")
         .parquet(self._parallel_dir(name)))
        return len(segments)

    def add_parallel_field(self, name: str, df: DataFrame, key_col: str,
                           value_col: str) -> int:
        """ParallelLeafReader analog (core test/demo
        TestDemoParallelLeafReader.java): attach a NEW per-doc field to an
        existing index without reindexing — values are derived post-hoc (the
        demo parses them out of stored fields on reopen) and written as a
        per-segment parallel sidecar addressed by (segment_id, docid), which
        readers join leaf-aligned like ParallelLeafReader zips two leaves.
        Returns the number of segments the field was derived for."""
        return self._write_parallel(name, df, key_col, value_col,
                                    self.cat.live_segments())

    def parallel_field_missing(self, name: str) -> list[dict]:
        """Live segments with NO parallel rows for `name` — segments created
        by flushes/merges since the field was last derived (the demo rebuilds
        parallel indices for exactly these on NRT reopen)."""
        base = self._parallel_dir(name)
        return [s for s in self.cat.live_segments()
                if not os.path.isdir(
                    os.path.join(base, f"segment_id={s['segment_id']}"))]

    def refresh_parallel_field(self, name: str, df: DataFrame, key_col: str,
                               value_col: str) -> int:
        """Incremental per-new-segment rebuild (the demo's reopen hook):
        derive rows ONLY for live segments missing the field. Idempotent —
        a no-op when every live segment already has its sidecar."""
        return self._write_parallel(name, df, key_col, value_col,
                                    self.parallel_field_missing(name))

    # --- deletes ------------------------------------------------------------
    def _live_docs(self) -> DataFrame:
        from .catalog import read_live_partitions
        df = read_live_partitions(self.spark, self.index_dir, "docs",
                                  self.cat.live_segments())
        if df is None:
            raise ValueError(f"no committed docs under {self.index_dir}")
        return df

    def _resolve_batch_targets(self, df: DataFrame, key_col: str) -> DataFrame:
        """(segment_id, docid) of every live doc whose key appears in the
        update batch — resolved as a DISTRIBUTED left-semi join against the
        batch's key set, never a driver-collected key list (a bulk update of
        a Common-Crawl partition carries 10^7–10^9 keys; collecting them and
        building an `isin` literal would materialize all of them on the
        driver and hand Catalyst a plan-breaking expression). Mirror of the
        deleteDocuments(Query) path, which already resolves via matches_df;
        Lucene analog: delete-by-term buffering in IndexWriter.java:1603."""
        batch_keys = df.select(
            F.col(key_col).cast("string").alias("key")).distinct()
        return (self._live_docs()
                .join(batch_keys, "key", "left_semi")
                .select("segment_id", "docid"))

    def delete_documents_by_keys(self, keys) -> int:
        """deleteDocuments(Term...) analog: delete every doc whose key is in
        `keys`. Returns the number of newly-deleted docs."""
        docs = self._live_docs()
        targets = docs.where(
            F.col("key").isin([str(k) for k in keys])
        ).select("segment_id", "docid")
        return self._apply_deletes(targets)

    def delete_documents(self, query) -> int:
        """deleteDocuments(Query) analog: resolve the match set through the
        searcher (deletes-aware, so re-deleting is a no-op) and mark it."""
        from ..search.searcher import IndexSearcher
        s = IndexSearcher(self.spark, self.index_dir)
        return self._apply_deletes(s.matches_df(query))

    def _write_delete_files(self, targets: DataFrame,
                            kind: str = "deletes") -> tuple[dict[int, int], int]:
        """Write the next delete generation (gen = HEAD+1, invisible until a
        commit lists it in delete_gens / soft_delete_gens). Returns
        (per-segment new-delete counts, gen). A crashed attempt may leave
        duplicate rows in the gen dir; readers dedup via distinct and counts
        are recomputed against committed state, so the retry converges."""
        live = self.cat.live_segments()
        live_ids = {s["segment_id"] for s in live}
        # dedup against BOTH marker kinds: a hard-deleted doc is never
        # soft-marked again and vice versa
        new = targets.select(
            F.col("segment_id").cast("int"), F.col("docid").cast("int"))
        for k in ("deletes", "soft_deletes"):
            existing = deletes_df(self.spark, self.index_dir, live_ids, kind=k)
            if existing is not None:
                new = new.exceptAll(existing.select(
                    F.col("segment_id").cast("int"),
                    F.col("docid").cast("int")))
        new = new.persist()
        per_seg = {int(r["segment_id"]): int(r["cnt"])
                   for r in new.groupBy("segment_id")
                   .agg(F.count("*").alias("cnt")).collect()}
        gen = self.cat.head() + 1
        if per_seg:
            (new.write.mode("append").partitionBy("segment_id")
             .parquet(os.path.join(self.index_dir, kind, f"gen={gen}")))
            append_lineage(self.index_dir, [
                ("delete" if kind == "deletes" else "soft_delete",
                 sid, gen, cnt, 0, "done")
                for sid, cnt in sorted(per_seg.items())])
        new.unpersist()
        return per_seg, gen

    @staticmethod
    def _bump_del_counts(live: list[dict], per_seg: dict[int, int],
                         key: str = "del_count") -> list[dict]:
        updated = []
        for s in live:
            s = dict(s)
            if s["segment_id"] in per_seg:
                s[key] = s.get(key, 0) + per_seg[s["segment_id"]]
            updated.append(s)
        return updated

    def _apply_deletes(self, targets: DataFrame, soft: bool = False) -> int:
        live = self.cat.live_segments()
        kind = "soft_deletes" if soft else "deletes"
        per_seg, gen = self._write_delete_files(targets, kind=kind)
        if not per_seg:
            return 0
        if soft:
            extra = {"soft_delete_gens": self.cat.soft_delete_gens() + [gen]}
            key = "soft_del_count"
        else:
            extra = {"delete_gens": self.cat.delete_gens() + [gen]}
            key = "del_count"
        self.cat.commit(
            self._bump_del_counts(live, per_seg, key),
            operation="soft_delete" if soft else "delete", extra=extra)
        return sum(per_seg.values())

    # --- soft deletes (softDeletesField analog) -----------------------------
    def soft_delete_documents_by_keys(self, keys) -> int:
        """Soft-delete by key: docs leave the DEFAULT reader's view but stay
        readable via IndexSearcher(include_soft_deleted=True) and survive
        merges (SoftDeletesRetentionMergePolicy with a keep-all retention
        query — SoftDeletesDirectoryReaderWrapper.java semantics)."""
        docs = self._live_docs()
        targets = docs.where(
            F.col("key").isin([str(k) for k in keys])
        ).select("segment_id", "docid")
        return self._apply_deletes(targets, soft=True)

    def soft_update_documents(self, df: DataFrame, key_col: str,
                              text_col: str) -> list[int]:
        """softUpdateDocument analog (IndexWriter.java:1633): soft-delete the
        old versions and add the new ones in ONE atomic snapshot commit; the
        old versions remain readable through the soft-deletes-inclusive
        reader (the demo's SoftDeletesTest1 history behavior)."""
        t0 = time.time()
        live = self.cat.live_segments()
        targets = self._resolve_batch_targets(df, key_col)
        per_seg, gen = self._write_delete_files(targets, kind="soft_deletes")

        next_seg = max((s["segment_id"] for s in live), default=-1) + 1
        next_wave = max((s["wave"] for s in live), default=-1) + 1
        total = df.count()
        segs: list[dict] = []
        if total:
            n_new = max(1, math.ceil(total / self.docs_per_segment))
            key_s = F.col(key_col).cast("string")
            src = df.select(
                key_s.alias("key"), F.col(text_col).alias("text"),
                (F.lit(next_seg)
                 + F.pmod(F.xxhash64(key_s), F.lit(n_new))).cast("int")
                .alias("segment_id"),
            )
            segs = index_wave(
                self.spark, src, self.index_dir, next_wave,
                analyzer=self.analyzer, store_positions=self.store_positions,
                int_keys=self.int_keys, term_shards=self.term_shards,
                docs_per_segment=self.docs_per_segment,
                codec=self.codec,
                omit_freqs=self.omit_freqs, omit_norms=self.omit_norms,
                store_offsets=self.store_offsets)
            wall_ms = int((time.time() - t0) * 1000)
            append_lineage(self.index_dir, [
                ("soft_update_wave", s["segment_id"], self.cat.head() + 1,
                 s["doc_count"], wall_ms, "done") for s in segs])
        extra = ({"soft_delete_gens": self.cat.soft_delete_gens() + [gen]}
                 if per_seg else None)
        self.cat.commit(
            self._bump_del_counts(live, per_seg, "soft_del_count") + segs,
            operation="soft_update", extra=extra)
        return [s["segment_id"] for s in segs]

    # --- in-place DocValues updates (docValuesGen analog) ---------------------
    def _write_dv_files(self, targets: DataFrame) -> int:
        """Write the next dv-update generation (invisible until the commit
        lists it in dv_gens). targets: (segment_id, docid, field, value) with
        value either a long (numeric DV) or already split into the sidecar's
        two channels (value long / value_str string — the BinaryDocValues
        BytesRef payload rides value_str)."""
        if "value_str" not in targets.columns:
            targets = targets.withColumn(
                "value_str", F.lit(None).cast("string"))
        targets = targets.select(
            F.col("segment_id").cast("int"), F.col("docid").cast("int"),
            F.col("field").cast("string"),
            F.col("value").cast("long"),
            F.col("value_str").cast("string")).persist()
        per_seg = {int(r["segment_id"]): int(r["cnt"])
                   for r in targets.groupBy("segment_id")
                   .agg(F.count("*").alias("cnt")).collect()}
        gen = self.cat.head() + 1
        n = sum(per_seg.values())
        if n:
            (targets.write.mode("append").partitionBy("segment_id")
             .parquet(os.path.join(self.index_dir, "dv_updates",
                                   f"gen={gen}")))
            append_lineage(self.index_dir, [
                ("dv_update", sid, gen, cnt, 0, "done")
                for sid, cnt in sorted(per_seg.items())])
            self.cat.commit(
                self.cat.live_segments(), operation="dv_update",
                extra={"dv_gens": self.cat.dv_gens() + [gen]})
        targets.unpersist()
        return n

    def update_numeric_docvalues(self, df: DataFrame, key_col: str,
                                 field: str, value_col: str) -> int:
        """Bulk IndexWriter.updateNumericDocValue analog (IndexWriter.java
        updateNumericDocValue; demo LuceneDemo/.../query/UpdateDocValuesTest
        .java): refresh a per-doc numeric signal (popularity, quality, ...)
        IN PLACE — no delete, no reindex, postings and norms untouched.

        df carries (key, new value); every LIVE doc with that key gets the
        value. Targets resolve via a distributed join of the live docs
        against the batch (a Common-Crawl-partition refresh is 10^7+ keys —
        nothing is collected to the driver); the values land in a dv-update
        GENERATION sidecar (dv_updates/gen=G/segment_id=K) that readers
        overlay newest-gen-wins and merges fold into the merged segment.
        Returns the number of doc-values written."""
        batch = (df.select(F.col(key_col).cast("string").alias("key"),
                           F.col(value_col).cast("long").alias("value"))
                 .groupBy("key").agg(F.max("value").alias("value")))
        targets = (self._live_docs().select("segment_id", "docid", "key")
                   .join(batch, "key")
                   .select("segment_id", "docid",
                           F.lit(field).alias("field"), "value"))
        return self._write_dv_files(targets)

    def update_binary_docvalues(self, df: DataFrame, key_col: str,
                                field: str, value_col: str) -> int:
        """Bulk IndexWriter.updateBinaryDocValue analog (demos
        BinaryDocValuesTest / UpdateDocValuesTest families): refresh a per-doc
        OPAQUE payload (Lucene's BytesRef; here a string/UTF-8 column) in
        place — same dv-generation sidecar as the numeric path, payload
        riding the value_str channel. No delete, no reindex."""
        batch = (df.select(F.col(key_col).cast("string").alias("key"),
                           F.col(value_col).cast("string").alias("value_str"))
                 .groupBy("key").agg(F.max("value_str").alias("value_str")))
        targets = (self._live_docs().select("segment_id", "docid", "key")
                   .join(batch, "key")
                   .select("segment_id", "docid",
                           F.lit(field).alias("field"),
                           F.lit(None).cast("long").alias("value"),
                           "value_str"))
        return self._write_dv_files(targets)

    def update_numeric_docvalue(self, query, field: str, value: int) -> int:
        """updateNumericDocValue(Term, field, value) analog: every live doc
        matching `query` gets docvalue field = value (the demo's
        update-popularity-without-reindex shape)."""
        from ..search.searcher import IndexSearcher
        s = IndexSearcher(self.spark, self.index_dir)
        targets = s.matches_df(query).select(
            "segment_id", "docid", F.lit(field).alias("field"),
            F.lit(int(value)).alias("value"))
        return self._write_dv_files(targets)

    # --- updates ------------------------------------------------------------
    def update_documents(self, df: DataFrame, key_col: str,
                         text_col: str) -> list[int]:
        """updateDocument analog: atomic delete-by-key + add. The delete
        generation and the new wave are both written invisibly (gen > HEAD,
        uncommitted segments), then ONE snapshot commit publishes them
        together — a reader sees the old doc or the new doc, never neither
        (IndexWriter.java:1603 atomicity)."""
        t0 = time.time()
        live = self.cat.live_segments()
        targets = self._resolve_batch_targets(df, key_col)
        per_seg, gen = self._write_delete_files(targets)

        next_seg = max((s["segment_id"] for s in live), default=-1) + 1
        next_wave = max((s["wave"] for s in live), default=-1) + 1
        total = df.count()
        segs: list[dict] = []
        if total:
            n_new = max(1, math.ceil(total / self.docs_per_segment))
            key_s = F.col(key_col).cast("string")
            src = df.select(
                key_s.alias("key"), F.col(text_col).alias("text"),
                (F.lit(next_seg)
                 + F.pmod(F.xxhash64(key_s), F.lit(n_new))).cast("int")
                .alias("segment_id"),
            )
            segs = index_wave(
                self.spark, src, self.index_dir, next_wave,
                analyzer=self.analyzer, store_positions=self.store_positions,
                int_keys=self.int_keys, term_shards=self.term_shards,
                docs_per_segment=self.docs_per_segment,
                codec=self.codec,
                omit_freqs=self.omit_freqs, omit_norms=self.omit_norms,
                store_offsets=self.store_offsets)
            wall_ms = int((time.time() - t0) * 1000)
            append_lineage(self.index_dir, [
                ("update_wave", s["segment_id"], self.cat.head() + 1,
                 s["doc_count"], wall_ms, "done") for s in segs])
        extra = ({"delete_gens": self.cat.delete_gens() + [gen]}
                 if per_seg else None)
        self.cat.commit(self._bump_del_counts(live, per_seg) + segs,
                        operation="update", extra=extra)
        return [s["segment_id"] for s in segs]

    # --- forced merges ------------------------------------------------------
    def force_merge(self, max_segments: int = 1,
                    retention_query=None) -> list[list[int]]:
        """IndexWriter.forceMerge(maxNumSegments): merge down to at most
        max_segments live segments, expunging deletes.

        ``retention_query`` is the SoftDeletesRetentionMergePolicy retention
        query (SoftDeletesRetentionMergePolicy.java; demo softDeletes/
        HistoryRetention.java sets a creation-date range so merges keep 24h of
        update history): soft-deleted docs matching it survive the merge
        still soft-marked, the rest are expunged like hard deletes. It is
        re-resolved against a fresh soft-deletes-inclusive reader before
        every merge round, the Supplier<Query> contract."""
        from .merge import force_merge
        soft_retention = None
        if retention_query is not None:
            def soft_retention():
                from ..search.searcher import IndexSearcher
                s = IndexSearcher(self.spark, self.index_dir,
                                  include_soft_deleted=True)
                return s.matches_df(retention_query)
        return force_merge(self.spark, self.index_dir, max_segments,
                           term_shards=self.term_shards,
                           soft_retention=soft_retention)
