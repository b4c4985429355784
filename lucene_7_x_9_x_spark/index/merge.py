"""Log-structured tiered segment merging.

Two parts:
  1. find_merges(): a deterministic pure-Python port of TieredMergePolicy's
     NATURAL merge selection (solr-8.4.0/.../index/TieredMergePolicy.java:
     :99-106 defaults [maxMergeAtOnce=10, maxMergedSegment=5GB, floor=2MB,
     segsPerTier=10, deletesPctAllowed=33], :380-470 findMerges budget math,
     :470-560 doFindMerges candidate windows, :610-651 score =
     skew * totAfterMergeBytes^0.05 * nonDelRatio^2, lower is better).
     Pure logic over the segments-metadata table — no Spark needed to decide.
  2. execute_merge(): the SegmentMerger analog (SegmentMerger.java:100-176) as a
     Spark job — read the N input segments, re-base docids by cumulative offsets
     in segment order (DocIDMerger.java:34,93,139), merge each term's posting
     lists (offset-shifted sub-lists concatenate in segment order, so the merged
     list is already docid-sorted — no re-sort shuffle), re-encode blocks, write
     one new segment and commit a snapshot that atomically swaps the segment set
     (IndexFileDeleter analog: old files simply leave the live set).
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.codecs import decode_blocks, encode_posting_list, split_positions
from .catalog import IndexCatalog, append_lineage
from . import schema as S

# serializes the head-dependent commit section of concurrent merges in this
# process (IndexWriter.commitMerge's synchronized block); cross-process
# exclusion remains the writer's write.lock
_COMMIT_LOCK = threading.Lock()


@dataclass(frozen=True)
class TieredMergeConfig:
    max_merge_at_once: int = 10
    max_merged_segment_bytes: int = 5 * 1024 * 1024 * 1024
    floor_segment_bytes: int = 2 * 1024 * 1024
    segs_per_tier: float = 10.0
    deletes_pct_allowed: float = 33.0


def _floor_size(b: int, cfg: TieredMergeConfig) -> int:
    return max(cfg.floor_segment_bytes, b)


def _live_size(seg: dict) -> int:
    """Size with deletes discounted (TieredMergePolicy size(info) semantics)."""
    max_doc = max(1, seg.get("max_doc", 1))
    del_count = seg.get("del_count", 0)
    return int(seg["size_bytes"] * (1.0 - del_count / max_doc))


def find_merges(segments: list[dict], cfg: TieredMergeConfig = TieredMergeConfig(),
                merging: frozenset = frozenset()) -> list[list[int]]:
    """Select merges; returns lists of segment_ids (each list = one OneMerge).

    Faithful port of findMerges/doFindMerges/score for the no-deletes NATURAL
    case (del_count defaults 0; the dels branches are kept for parity).
    """
    infos = [dict(s, live_bytes=_live_size(s)) for s in segments]
    # sort by live size descending (sortByName tie-break -> segment_id)
    infos.sort(key=lambda s: (-s["live_bytes"], s["segment_id"]))

    tot_index_bytes = 0
    min_segment_bytes = float("inf")
    total_del_docs = 0
    total_max_doc = 0
    merging_bytes = 0
    eligible = []
    for s in infos:
        if s["segment_id"] in merging:
            merging_bytes += s["live_bytes"]
            total_max_doc += s.get("max_doc", 0) - s.get("del_count", 0)
            continue
        total_del_docs += s.get("del_count", 0)
        total_max_doc += s.get("max_doc", 0)
        eligible.append(s)
        min_segment_bytes = min(min_segment_bytes, s["live_bytes"])
        tot_index_bytes += s["live_bytes"]
    if not eligible:
        return []
    total_max_doc = max(1, total_max_doc)
    total_del_pct = 100.0 * total_del_docs / total_max_doc
    allowed_del_count = int(cfg.deletes_pct_allowed * total_max_doc / 100)

    # grace out too-large segments (TieredMergePolicy.java:408-419)
    kept = []
    for s in eligible:
        seg_del_pct = 100.0 * s.get("del_count", 0) / max(1, s.get("max_doc", 1))
        if (s["live_bytes"] > cfg.max_merged_segment_bytes / 2
                and (total_del_pct <= cfg.deletes_pct_allowed
                     or seg_del_pct <= cfg.deletes_pct_allowed)):
            tot_index_bytes -= s["live_bytes"]
            allowed_del_count -= s.get("del_count", 0)
            continue
        kept.append(s)
    eligible = kept
    allowed_del_count = max(0, allowed_del_count)

    merge_factor = int(min(cfg.max_merge_at_once, cfg.segs_per_tier))
    # allowed segment budget (TieredMergePolicy.java:420-438)
    level_size = max(int(min_segment_bytes), cfg.floor_segment_bytes)
    bytes_left = tot_index_bytes
    allowed_seg_count = 0.0
    while True:
        seg_count_level = bytes_left / level_size
        if (seg_count_level < cfg.segs_per_tier
                or level_size == cfg.max_merged_segment_bytes):
            allowed_seg_count += math.ceil(seg_count_level)
            break
        allowed_seg_count += cfg.segs_per_tier
        bytes_left -= int(cfg.segs_per_tier * level_size)
        level_size = min(cfg.max_merged_segment_bytes, level_size * merge_factor)
    allowed_seg_count = max(allowed_seg_count, cfg.segs_per_tier)

    # doFindMerges (TieredMergePolicy.java:470-560)
    spec: list[list[int]] = []
    to_be_merged: set = set()
    have_one_large = False
    max_merge_is_running = merging_bytes >= cfg.max_merged_segment_bytes
    sorted_eligible = list(eligible)
    while True:
        sorted_eligible = [s for s in sorted_eligible
                           if s["segment_id"] not in to_be_merged]
        if not sorted_eligible:
            return spec
        remaining_del = sum(s.get("del_count", 0) for s in sorted_eligible)
        if (len(sorted_eligible) <= allowed_seg_count
                and remaining_del <= allowed_del_count):
            return spec

        best = None
        best_score = None
        best_too_large = False
        for start in range(len(sorted_eligible)):
            tot_after = 0
            candidate = []
            hit_too_large = False
            bytes_this = 0
            idx = start
            while (idx < len(sorted_eligible) and len(candidate) < merge_factor
                   and bytes_this < cfg.max_merged_segment_bytes):
                s = sorted_eligible[idx]
                seg_bytes = s["live_bytes"]
                if tot_after + seg_bytes > cfg.max_merged_segment_bytes:
                    hit_too_large = True
                    if not candidate:
                        candidate.append(s)
                        bytes_this += seg_bytes
                    idx += 1
                    continue  # keep packing smaller segments
                candidate.append(s)
                bytes_this += seg_bytes
                tot_after += seg_bytes
                idx += 1
            if len(candidate) == 1 and candidate[0].get("del_count", 0) == 0:
                continue
            if (best_score is not None and not hit_too_large
                    and len(candidate) < merge_factor):
                break  # tail: only smaller merges remain
            score = _score(candidate, hit_too_large, merge_factor, cfg)
            if ((best_score is None or score < best_score)
                    and (not hit_too_large or not max_merge_is_running)):
                best = candidate
                best_score = score
                best_too_large = hit_too_large
        if best is None:
            return spec
        if not have_one_large or not best_too_large:
            have_one_large |= best_too_large
            spec.append([s["segment_id"] for s in best])
        to_be_merged.update(s["segment_id"] for s in best)


def _score(candidate, hit_too_large: bool, merge_factor: int,
           cfg: TieredMergeConfig) -> float:
    """TieredMergePolicy.score (TieredMergePolicy.java:610-651)."""
    tot_after = sum(s["live_bytes"] for s in candidate)
    tot_after_floored = sum(_floor_size(s["live_bytes"], cfg) for s in candidate)
    tot_before = sum(s["size_bytes"] for s in candidate)
    if hit_too_large:
        skew = 1.0 / merge_factor
    else:
        skew = _floor_size(candidate[0]["live_bytes"], cfg) / tot_after_floored
    merge_score = skew
    merge_score *= tot_after ** 0.05
    non_del_ratio = tot_after / max(1, tot_before)
    merge_score *= non_del_ratio ** 2
    return merge_score


# ---------------------------------------------------------------------------
# merge execution (SegmentMerger analog)
# ---------------------------------------------------------------------------

def offsets_channels(postings) -> tuple[list[int], list[int]]:
    """(segment ids with the offsets channel, segment ids without it) among
    the segments of `postings`.

    Probes each segment's first block, among terms with positions (the
    channel rides on them). A pre-offsets postings schema has no channel
    anywhere."""
    if postings is None:
        return [], []
    elem = postings.schema["blocks"].dataType.elementType
    if "off_bytes" not in elem.names:
        return [], []
    first = F.col("blocks")[0]
    has_off = F.coalesce(F.length(first["off_bytes"]) > 0, F.lit(False))
    rows = (postings.where(F.length(first["pos_bytes"]) > 0)
            .select("segment_id", has_off.alias("off")).distinct().collect())
    return (sorted({int(r["segment_id"]) for r in rows if r["off"]}),
            sorted({int(r["segment_id"]) for r in rows if not r["off"]}))


def _refuse_mixed_offsets(postings) -> None:
    """Raise when the merge inputs disagree on the offsets channel.

    decode_blocks zero-fills the offsets of an input that lacks the channel,
    and the merged blocks would then carry those zeros as real offsets — an
    index's options never change mid-index (FieldInfo update-and-check), so
    such inputs are refused before anything is written."""
    with_off, without = offsets_channels(postings)
    if with_off and without:
        raise ValueError(
            f"cannot merge segments {with_off} (offsets channel) with "
            f"segments {without} (no offsets channel): their offsets would "
            "be zero-filled; rebuild one side with the same index_options")


def execute_merge(spark: SparkSession, index_dir: str, segment_ids: list[int],
                  term_shards: int = 32,
                  soft_retention: "DataFrame | None" = None,
                  _reserved: "tuple[int, int] | None" = None) -> int:
    """Merge the given segments into one new segment; returns new segment_id.

    Deleted docs are dropped and surviving docids compacted exactly as
    DocIDMerger re-bases (DocIDMerger.java:34,93,139): within each input
    segment the new docid is old - |deleted below old|, plus the cumulative
    surviving-doc offset of the preceding segments (segment order).

    ``soft_retention`` is the SoftDeletesRetentionMergePolicy retention query
    resolved to its (segment_id, docid) match set (SoftDeletesRetentionMerge
    Policy.java:100-141 wraps the retention query in a scorer over each merging
    reader; demo softDeletes/HistoryRetention.java keeps the last 24h of
    history). Soft-deleted docs IN the set survive the merge still soft-marked;
    soft-deleted docs OUTSIDE it are dropped like hard deletes. None keeps
    every soft-deleted doc (the keep-all default of the plain soft-deletes
    path). Live docs are never affected."""
    t0 = time.time()
    cat = IndexCatalog(index_dir)
    from .builder import load_index_codec
    codec = load_index_codec(index_dir)  # Codec.forName for the merged output
    # index-sorted merges re-sort by the sort field (MultiSorter.java /
    # SortingCodecReader: Lucene merge-sorts sorted segments' doc streams)
    import json as _json
    is_path = os.path.join(index_dir, "_catalog", "indexsort.json")
    index_sort = None
    if os.path.exists(is_path):
        with open(is_path) as fh:
            _rec = _json.load(fh)
        index_sort = (_rec["col"], _rec["ascending"])
    live = {s["segment_id"]: s for s in cat.live_segments()}
    assert all(sid in live for sid in segment_ids)
    # Participants merge in SegmentInfos order (their `ord`, defaulting to
    # segment_id for pre-ord snapshots) — DocIDMerger consumes readers in the
    # order IndexWriter hands them, which is segment order, so the merged
    # docid re-base must follow ord, not numeric segment_id.
    parts = sorted((live[sid] for sid in segment_ids),
                   key=lambda s: (s.get("ord", s["segment_id"]),
                                  s["segment_id"]))
    # _reserved: (new_id, new_wave) pre-allocated by a concurrent scheduler
    # (ConcurrentMergeScheduler analog in maybe_merge) so merges of DISJOINT
    # segment groups can run in parallel without id collisions
    new_id, new_wave = _reserved or (
        max(live) + 1, max(s["wave"] for s in live.values()) + 1)
    from .catalog import read_live_partitions
    postings = read_live_partitions(spark, index_dir, "postings", parts)
    _refuse_mixed_offsets(postings)

    # Deleted docids are read task-locally per segment (.liv analog,
    # livedocs.read_segment_deletes): the remap closure ships only
    # (index_dir, gens, offsets) — never the docid arrays. The driver needs
    # only per-segment COUNTS for the re-base offsets, resolved as a
    # distributed distinct-count (<= |merge| rows collected).
    from .livedocs import read_segment_deletes
    from .writer import deletes_df
    del_gens = tuple(cat.delete_gens())
    del_segs = frozenset(s["segment_id"] for s in parts
                         if s.get("del_count", 0) > 0)

    # Retention drops: soft-deleted docs the retention query does NOT match
    # become hard deletes of THIS merge. They are staged distributed as a
    # per-segment parquet sidecar under merge_retention_drops/gen=<new_id>
    # (read task-locally exactly like a .liv gen, never collected), and the
    # staging dir is removed after the merge commit.
    drop_segs = frozenset()
    drop_df = None
    if soft_retention is not None and cat.soft_delete_gens():
        soft_src = deletes_df(spark, index_dir, set(segment_ids),
                              kind="soft_deletes")
        if soft_src is not None:
            drop_df = (soft_src.select("segment_id", "docid").distinct()
                       .join(soft_retention.select("segment_id", "docid"),
                             ["segment_id", "docid"], "left_anti"))

    del_counts: dict[int, int] = {}
    all_dels = None  # (segment_id, docid) of every doc this merge drops
    if del_segs or drop_df is not None:
        ddf = (deletes_df(spark, index_dir, set(segment_ids), gens=del_gens)
               if del_segs else None)
        if drop_df is not None:
            drop_counts = {int(r["segment_id"]): int(r["cnt"]) for r in
                           drop_df.groupBy("segment_id")
                           .agg(F.count("*").alias("cnt")).collect()}
            drop_segs = frozenset(drop_counts)
            if drop_segs:
                (drop_df.repartition(1).write.mode("overwrite")
                 .partitionBy("segment_id")
                 .parquet(os.path.join(index_dir, "merge_retention_drops",
                                       f"gen={new_id}")))
                ddf = (ddf.select("segment_id", "docid").union(drop_df)
                       .distinct() if ddf is not None else drop_df)
        if ddf is not None:
            all_dels = ddf.select("segment_id", "docid").distinct()
            del_counts = {int(r["segment_id"]): int(r["cnt"]) for r in
                          all_dels.groupBy("segment_id")
                          .agg(F.count("*").alias("cnt")).collect()}

    # surviving-doc re-base offsets, in segment order (DocIDMerger.java:34,93)
    offsets = {}
    off = 0
    for s in parts:
        offsets[s["segment_id"]] = off
        off += s["max_doc"] - del_counts.get(s["segment_id"], 0)

    def _deleted(seg_id: int, _cache: dict = {}):
        """Per-task lazy .liv read of one segment (cached per closure copy):
        committed hard-delete gens plus this merge's staged retention drops."""
        if seg_id not in _cache:
            arrs = []
            if seg_id in del_segs:
                a = read_segment_deletes(index_dir, seg_id, del_gens)
                if a is not None:
                    arrs.append(a)
            if seg_id in drop_segs:
                a = read_segment_deletes(index_dir, seg_id, (new_id,),
                                         kind="merge_retention_drops")
                if a is not None:
                    arrs.append(a)
            _cache[seg_id] = (np.unique(np.concatenate(arrs))
                              if arrs else None)
        return _cache[seg_id]

    def remap(seg_id: int, docids: np.ndarray):
        """(surviving mask, new docids) for one input segment's docid array."""
        dels = _deleted(seg_id)
        if dels is None or dels.size == 0:
            return np.ones(docids.size, dtype=bool), docids + offsets[seg_id]
        keep = ~np.isin(docids, dels)
        kept = docids[keep]
        return keep, kept - np.searchsorted(dels, kept) + offsets[seg_id]

    docs = read_live_partitions(spark, index_dir, "docs", parts)

    # ---- index-sorted merge: docid remap = rank in the merged sort order ---
    # Lucene's MultiSorter builds a per-reader old->new docid map by merge-
    # sorting the (already sorted) input segments on the sort field. Here the
    # map is computed DISTRIBUTED (a two-pass range-partitioned rank — per-
    # partition counts, <= shuffle-partitions rows, are the only driver
    # collect) and staged as a per-segment parquet sidecar
    # (merge_sortmap/gen=<new_id>/segment_id=K) that every remap task reads
    # TASK-LOCALLY for its own segment, exactly like the .liv gens.
    if index_sort is not None:
        from pyspark.sql.window import Window
        asc = bool(index_sort[1])
        surv = docs.select("segment_id", "docid", "sort_value")
        if all_dels is not None:
            surv = surv.join(all_dels, ["segment_id", "docid"], "left_anti")
        ord_cols = [F.col("sort_value").asc() if asc
                    else F.col("sort_value").desc(),
                    F.col("segment_id").asc(), F.col("docid").asc()]
        npart = max(1, int(spark.conf.get("spark.sql.shuffle.partitions",
                                          "32")))
        # persist: repartitionByRange samples range bounds; the count job and
        # the sortmap write must see ONE consistent partitioning
        ranked = (surv.repartitionByRange(npart, *ord_cols)
                  .withColumn("pid", F.spark_partition_id())
                  .persist())
        pid_counts = {int(r["pid"]): int(r["cnt"]) for r in
                      ranked.groupBy("pid")
                      .agg(F.count("*").alias("cnt")).collect()}
        offs, acc = [], 0
        for pid in sorted(pid_counts):
            offs.append((pid, acc))
            acc += pid_counts[pid]
        offs_df = spark.createDataFrame(offs or [(0, 0)], "pid int, off long")
        w_pid = Window.partitionBy("pid").orderBy(*ord_cols)
        sortmap = (ranked
                   .withColumn("rn", F.row_number().over(w_pid) - 1)
                   .join(F.broadcast(offs_df), "pid")
                   .select("segment_id", "docid",
                           (F.col("off") + F.col("rn")).cast("long")
                           .alias("new_docid")))
        (sortmap.repartition(F.col("segment_id"))
         .sortWithinPartitions("segment_id", "docid")
         .write.mode("overwrite").partitionBy("segment_id")
         .parquet(os.path.join(index_dir, "merge_sortmap",
                               f"gen={new_id}")))
        ranked.unpersist()

        from .livedocs import read_segment_docid_map

        def remap(seg_id: int, docids: np.ndarray,  # noqa: F811
                  _cache: dict = {}):
            """Sorted-index remap: per-task read of this segment's sortmap
            (survivors only, so deletes fall out via map membership)."""
            if seg_id not in _cache:
                _cache[seg_id] = read_segment_docid_map(
                    index_dir, seg_id, new_id, kind="merge_sortmap")
            m = _cache[seg_id]
            if m is None:
                return np.zeros(docids.size, dtype=bool), docids[:0]
            old, new = m
            idx = np.searchsorted(old, docids)
            idxc = np.minimum(idx, old.size - 1)
            keep = old[idxc] == docids
            return keep, new[idxc[keep]]

    def remap_docs(batches):
        for pdf in batches:
            out = []
            for sid, g in pdf.groupby("segment_id"):
                keep, new_docids = remap(int(sid), g["docid"].values.astype(np.int64))
                g = g.loc[keep].copy()
                g["docid"] = new_docids.astype(np.int32)
                out.append(g)
            yield pd.concat(out) if out else pdf.iloc[0:0]

    # multi-field indexes carry per-field lengths through the merge so the
    # merged segment's per-field stats are RECOMPUTED over survivors (merge
    # purges deletes, so stats must shrink accordingly — Lucene recomputes
    # FieldInfos/Norms stats in SegmentMerger the same way)
    import json as _json
    fi_path = os.path.join(index_dir, "_catalog", "fieldinfos.json")
    fields = None
    if os.path.exists(fi_path):
        with open(fi_path) as fh:
            fields = _json.load(fh).get("fields")
    doc_cols = ["segment_id", "docid", "key", "doclen", "norm_byte"]
    if fields:
        doc_cols.append("field_lens")
    if index_sort is not None:
        doc_cols.append("sort_value")
    merged_docs = (
        docs.select(*doc_cols)
        .mapInPandas(remap_docs, docs.select(*doc_cols).schema)
        .withColumn("segment_id", F.lit(new_id))
        .persist()
    )
    agg_exprs = [
        F.sum(F.when(F.col("doclen") > 0, 1).otherwise(0)).alias("doc_count"),
        F.sum("doclen").alias("sum_ttf"),
        F.count("*").alias("max_doc"),
    ]
    for f in (fields or []):
        fl = F.col("field_lens").getItem(f)
        agg_exprs.append(
            F.sum(F.when(fl > 0, 1).otherwise(0)).alias(f"dc_{f}"))
        agg_exprs.append(F.sum(fl).alias(f"st_{f}"))
    stats = merged_docs.agg(*agg_exprs).collect()[0]
    (
        # write straight into this merge's own leaf partition dir (its
        # (wave, segment_id) is unique): concurrent merges appending to the
        # SHARED docs/ root would race on the output committer's _temporary
        # staging — one job's commit deletes the other's attempt files.
        # Partition values come from the directory name, exactly as the
        # builder's partitionBy layout.
        merged_docs.drop("segment_id")
        .repartition(1)
        # sorted indexes keep docid-sorted files for the early-termination
        # prefix read's row-group pruning; plain merges skip the local sort
        .transform(lambda d: d.sortWithinPartitions("docid")
                   if index_sort is not None else d)
        .write.mode("append")
        .parquet(os.path.join(index_dir, "docs", f"wave={new_wave}",
                              f"segment_id={new_id}"))
    )
    merged_docs.unpersist()

    # participant position in SegmentInfos order (== re-base offset order);
    # after earlier merges ord order can differ from numeric segment_id order
    part_pos = {s["segment_id"]: i for i, s in enumerate(parts)}

    def merge_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        pdf = pdf.assign(_pos=pdf["segment_id"].map(part_pos))
        for term, g in pdf.groupby("term", sort=False):
            g = g.sort_values("_pos")  # segment order == docid order
            ds, fs, ns, ps, pays = [], [], [], [], []
            osts, olns = [], []
            has_pos = True
            has_pay = False
            has_off = False
            for r in g.itertuples():
                blocks = [b if isinstance(b, dict) else b.asDict()
                          for b in r.blocks]
                if blocks and blocks[0].get("pos_bytes"):
                    # payloads and offsets ride the positions channel through
                    # the merge (SegmentMerger carries .pay alongside .pos);
                    # absent channels decode as zeros so mixed inputs stay
                    # aligned
                    d, f, n, flat, fpay, fos, foe = decode_blocks(
                        blocks, want_positions=True, want_payloads=True,
                        want_offsets=True)
                    plists = split_positions(flat, f)
                    paylists = split_positions(fpay, f)
                    ostlists = split_positions(fos, f)
                    olnlists = split_positions(foe - fos, f)
                    if blocks[0].get("pay_bytes"):
                        has_pay = True
                    if blocks[0].get("off_bytes"):
                        has_off = True
                else:
                    d, f, n = decode_blocks(blocks)
                    plists = paylists = ostlists = olnlists = None
                    has_pos = False
                keep, new_d = remap(int(r.segment_id), d)
                if new_d.size == 0:
                    continue
                ds.append(new_d)
                fs.append(f[keep])
                ns.append(n[keep])
                if plists is not None:
                    ps.extend(p for p, k in zip(plists, keep) if k)
                    pays.extend(p for p, k in zip(paylists, keep) if k)
                    osts.extend(p for p, k in zip(ostlists, keep) if k)
                    olns.extend(p for p, k in zip(olnlists, keep) if k)
            if not ds:
                continue
            docids = np.concatenate(ds)
            freqs = np.concatenate(fs)
            norms = np.concatenate(ns)
            if index_sort is not None:
                # sorted-merge docids interleave across input segments: one
                # argsort restores the ascending order block encoding needs
                order = np.argsort(docids, kind="stable")
                docids, freqs, norms = (docids[order], freqs[order],
                                        norms[order])
                if has_pos:
                    ps = [ps[i] for i in order]
                    pays = [pays[i] for i in order] if pays else pays
                    osts = [osts[i] for i in order] if osts else osts
                    olns = [olns[i] for i in order] if olns else olns
            positions = ps if has_pos else None
            blocks = encode_posting_list(
                docids, freqs, norms, positions, codec=codec,
                payloads=pays if (has_pos and has_pay) else None,
                offsets=(osts, olns) if (has_pos and has_off) else None)
            rows.append({
                "segment_id": new_id, "term": term,
                "df": int(docids.size), "ttf": int(freqs.sum()),
                "blocks": blocks,
            })
        return pd.DataFrame(rows,
                            columns=["segment_id", "term", "df", "ttf", "blocks"])

    (
        postings.withColumn(
            "shard", F.pmod(F.xxhash64("term"), F.lit(term_shards)).cast("int"))
        .groupBy("shard")
        .applyInPandas(lambda pdf: merge_shard(pdf), S.POSTINGS_SCHEMA)
        .sortWithinPartitions("term")  # row-group term stats for pushdown
        .drop("segment_id")  # leaf-dir write: see the docs write above
        .write.mode("append")
        .parquet(os.path.join(index_dir, "postings", f"wave={new_wave}",
                              f"segment_id={new_id}"))
    )

    from .builder import _dir_size as _hdfs_dir_size

    new_seg = {
        "segment_id": new_id,
        "wave": new_wave,
        # The merged segment REPLACES its participants at the first
        # participant's position in segment order (IndexWriter.commitMerge ->
        # SegmentInfos.applyMergeChanges puts newSegment at the lowest
        # participant index), so equal-score tie order and searchAfter
        # cursors keep Lucene's semantics across merges.
        "ord": min(s.get("ord", s["segment_id"]) for s in parts),
        "doc_count": int(stats["doc_count"]),
        "sum_ttf": int(stats["sum_ttf"]),
        "max_doc": int(stats["max_doc"]),
        "size_bytes": _hdfs_dir_size(os.path.join(
            index_dir, "postings", f"wave={new_wave}", f"segment_id={new_id}"),
            spark),
        "merged_from": sorted(segment_ids),
    }
    if fields:
        new_seg["field_stats"] = {
            f: {"doc_count": int(stats[f"dc_{f}"] or 0),
                "sum_ttf": int(stats[f"st_{f}"] or 0)}
            for f in fields
        }
    # soft-deletes retention (SoftDeletesRetentionMergePolicy with a
    # keep-all retention query): soft-deleted docs SURVIVE the merge — they
    # were never hard-deleted, so their postings/docs rows are in the new
    # segment — and their markers are re-based onto the new docids so the
    # default reader keeps hiding them while history readers keep seeing
    # them. The re-base runs distributed (mapInPandas over the marker rows,
    # remap's task-local .liv reads); the driver sees only the count.
    soft_df = deletes_df(spark, index_dir, set(segment_ids),
                         kind="soft_deletes")
    extra = None
    soft_total = 0
    if soft_df is not None:
        def remap_soft(batches):
            for pdf in batches:
                for sid, g in pdf.groupby("segment_id"):
                    _, new_ids = remap(
                        int(sid), np.sort(g["docid"].values.astype(np.int64)))
                    yield pd.DataFrame({
                        "segment_id": np.full(new_ids.size, new_id,
                                              dtype=np.int32),
                        "docid": new_ids.astype(np.int32)})

        remapped = soft_df.mapInPandas(
            remap_soft, "segment_id int, docid int").persist()
        soft_total = remapped.count()
        if soft_total:
            new_seg["soft_del_count"] = int(soft_total)
        else:
            remapped.unpersist()
            remapped = None
    else:
        remapped = None
    # in-place DocValues updates survive the merge re-based onto the new
    # docids, exactly like Lucene's SegmentMerger folding docValuesGen files
    # into the merged segment's .dvd: collapse newest-gen-wins upstream
    # (dv_updates_df), drop updates of deleted docs, re-address to the new
    # segment, publish as one new gen in the SAME merge commit. Old segments'
    # dv rows fall out of the live set with the segments themselves.
    from .writer import dv_updates_df
    dv_src = (dv_updates_df(spark, index_dir, set(segment_ids),
                            gens=cat.dv_gens())
              if cat.dv_gens() else None)
    if dv_src is not None:
        def remap_dv(batches):
            for pdf in batches:
                for sid, g in pdf.groupby("segment_id"):
                    keep, new_ids = remap(
                        int(sid), g["docid"].values.astype(np.int64))
                    g = g.loc[keep]
                    yield pd.DataFrame({
                        "segment_id": np.full(new_ids.size, new_id,
                                              dtype=np.int32),
                        "docid": new_ids.astype(np.int32),
                        "field": g["field"].values,
                        "value": g["value"].values,
                        "value_str": g["value_str"].values})

        dv_remapped = dv_src.mapInPandas(
            remap_dv,
            "segment_id int, docid int, field string, value long, "
            "value_str string").persist()
        if not dv_remapped.count():
            dv_remapped.unpersist()
            dv_remapped = None
    else:
        dv_remapped = None

    # ---- commit critical section -------------------------------------------
    # All head-dependent work (gen numbering, the remaining-segment set, the
    # snapshot commit) re-reads the catalog UNDER a lock so merges of
    # disjoint groups can run concurrently (ConcurrentMergeScheduler analog):
    # a merge that committed in between shrinks the live set we subtract
    # from, and gens never collide. The heavy Spark jobs above all ran
    # outside the lock — only marker-file writes and the JSON commit are
    # serialized (the same serialization Lucene's commitMerge synchronized
    # block provides, IndexWriter.java commitMerge).
    wall_ms = int((time.time() - t0) * 1000)
    with _COMMIT_LOCK:
        cat2 = IndexCatalog(index_dir)
        gen = cat2.head() + 1
        if remapped is not None:
            (remapped.repartition(1).write.mode("append")
             .partitionBy("segment_id")
             .parquet(os.path.join(index_dir, "soft_deletes", f"gen={gen}")))
            extra = {"soft_delete_gens": cat2.soft_delete_gens() + [gen]}
            remapped.unpersist()
        if dv_remapped is not None:
            (dv_remapped.repartition(1).write.mode("append")
             .partitionBy("segment_id")
             .parquet(os.path.join(index_dir, "dv_updates", f"gen={gen}")))
            extra = dict(extra or {})
            extra["dv_gens"] = cat2.dv_gens() + [gen]
            dv_remapped.unpersist()
        remaining = [s for s in cat2.live_segments()
                     if s["segment_id"] not in set(segment_ids)]
        append_lineage(index_dir, [
            ("merge", new_id, gen, new_seg["doc_count"], wall_ms, "done")])
        cat2.commit(remaining + [new_seg], operation="merge", extra=extra)
    if drop_segs:
        # the staged retention drops only ever addressed the now-dead input
        # segments; remove the sidecar so nothing orphans on disk
        import shutil
        stage = os.path.join(index_dir, "merge_retention_drops")
        shutil.rmtree(os.path.join(stage, f"gen={new_id}"),
                      ignore_errors=True)
        try:
            os.rmdir(stage)  # drop the parent too once no gen remains
        except OSError:
            pass
    if index_sort is not None:
        # the sortmap addressed only the now-dead input segments
        import shutil
        stage = os.path.join(index_dir, "merge_sortmap")
        shutil.rmtree(os.path.join(stage, f"gen={new_id}"),
                      ignore_errors=True)
        try:
            os.rmdir(stage)
        except OSError:
            pass
    return new_id


def maybe_merge(spark: SparkSession, index_dir: str,
                cfg: TieredMergeConfig = TieredMergeConfig(),
                max_rounds: int = 10,
                max_concurrent_merges: int = 1) -> list[list[int]]:
    """Driver loop: findMerges -> execute until the policy is satisfied
    (IndexWriter.maybeMerge analog).

    max_concurrent_merges > 1 is the ConcurrentMergeScheduler analog
    (ConcurrentMergeScheduler.java maxMergeCount/maxThreadCount): a round's
    merges cover DISJOINT segment groups (findMerges' to_be_merged set), so
    they run as concurrent Spark jobs from a thread pool — each with a
    pre-reserved (segment_id, wave) so ids never collide — and only the
    head-dependent commit section serializes (_COMMIT_LOCK). The result set
    is identical to sequential execution; only wall-clock changes, exactly
    Lucene's merge-thread trade."""
    executed = []
    for _ in range(max_rounds):
        cat = IndexCatalog(index_dir)
        live = cat.live_segments()
        merges = find_merges(live, cfg)
        if not merges:
            break
        if max_concurrent_merges > 1 and len(merges) > 1:
            from concurrent.futures import ThreadPoolExecutor
            base_id = max(s["segment_id"] for s in live) + 1
            base_wave = max(s["wave"] for s in live) + 1
            with ThreadPoolExecutor(max_concurrent_merges) as pool:
                futs = [
                    pool.submit(execute_merge, spark, index_dir, seg_ids,
                                _reserved=(base_id + i, base_wave + i))
                    for i, seg_ids in enumerate(merges)]
                for f in futs:
                    f.result()  # surface the first failure
            executed.extend(merges)
        else:
            for seg_ids in merges:
                execute_merge(spark, index_dir, seg_ids)
                executed.append(seg_ids)
    return executed


def force_merge(spark: SparkSession, index_dir: str, max_segments: int = 1,
                max_merge_at_once_explicit: int = 30,
                term_shards: int = 32,
                soft_retention: "DataFrame | None" = None) -> list[list[int]]:
    """IndexWriter.forceMerge analog (TieredMergePolicy.findForcedMerges):
    merge until at most ``max_segments`` live segments remain, cascading in
    waves of ``maxMergeAtOnceExplicit`` (TieredMergePolicy.java default 30),
    smallest segments first so the largest data is rewritten fewest times.
    Like Lucene, a segment carrying deletes is rewritten even when the
    segment-count target is already met (forceMerge expunges deletes)."""
    executed: list[list[int]] = []
    while True:
        cat = IndexCatalog(index_dir)
        live = sorted(cat.live_segments(),
                      key=lambda s: (_live_size(s), s["segment_id"]))
        n = len(live)
        if n > max_segments:
            take = min(max_merge_at_once_explicit, n - max_segments + 1)
            if take < 2:
                break
            ids = [s["segment_id"] for s in live[:take]]
        else:
            with_dels = [s["segment_id"] for s in live
                         if s.get("del_count", 0) > 0]
            if not with_dels:
                break
            ids = with_dels[:max_merge_at_once_explicit]
        # Lucene's retention query is a Supplier<Query> re-resolved for every
        # merge (SoftDeletesRetentionMergePolicy.java:54); a callable is
        # re-invoked per round so cascaded merges see fresh segment ids
        ret = soft_retention() if callable(soft_retention) else soft_retention
        execute_merge(spark, index_dir, ids, term_shards=term_shards,
                      soft_retention=ret)
        executed.append(ids)
    return executed
