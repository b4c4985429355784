"""CheckIndex analog: full structural verification of the index tables.

Mirrors o.a.l/index/CheckIndex.java:86,642-656,861 — walk every posting list and
cross-check statistics. Distributed: postings invariants run inside applyInPandas
per (segment, shard of terms); docs/stats invariants are SQL aggregations.
Returns a list of violation strings (empty == healthy index).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import smallfloat
from ..functions.codecs import decode_blocks, BLOCK_SIZE
from .catalog import IndexCatalog
from .merge import offsets_channels

_VIOL = T.StructType([T.StructField("violation", T.StringType(), False)])


def _check_postings_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    out = []
    for r in pdf.itertuples():
        blocks = [b if isinstance(b, dict) else b.asDict() for b in r.blocks]
        d, f, nb = decode_blocks(blocks)
        tag = f"seg={r.segment_id} term={r.term}"
        if d.size != r.df:
            out.append(f"{tag}: df={r.df} != decoded len {d.size}")
        if int(f.sum()) != r.ttf:
            out.append(f"{tag}: ttf={r.ttf} != sum freqs {int(f.sum())}")
        if d.size > 1 and not (np.diff(d) > 0).all():
            out.append(f"{tag}: docids not strictly increasing")
        if (f < 1).any():
            out.append(f"{tag}: freq < 1")
        off = 0
        for i, b in enumerate(blocks):
            cnt = int(b["count"])
            if cnt > BLOCK_SIZE:
                out.append(f"{tag}: block {i} count {cnt} > {BLOCK_SIZE}")
            dd, ff, nn = d[off:off + cnt], f[off:off + cnt], nb[off:off + cnt]
            if int(b["first_doc"]) != dd[0] or int(b["last_doc"]) != dd[-1]:
                out.append(f"{tag}: block {i} first/last mismatch")
            if int(b["max_freq"]) != int(ff.max()):
                out.append(f"{tag}: block {i} max_freq mismatch")
            if int(b["min_norm"]) != int(nn.min()):
                out.append(f"{tag}: block {i} min_norm mismatch")
            off += cnt
        # offsets channel (CheckIndex.java:642-656 checkFields' offset
        # assertions: startOffset monotone per doc, endOffset >= startOffset)
        if blocks and blocks[0].get("off_bytes") and blocks[0].get(
                "pos_bytes"):
            if not all(b.get("off_bytes") for b in blocks):
                out.append(f"{tag}: offsets channel missing in some blocks")
            else:
                _, ff2, _, _, ost, oen = decode_blocks(
                    blocks, want_positions=True, want_offsets=True)
                if (oen < ost).any():
                    out.append(f"{tag}: end offset < start offset")
                if ff2.size:
                    bounds = np.cumsum(ff2)[:-1]
                    dst = np.diff(ost)
                    # starts must not decrease within a doc run
                    inner = np.ones(dst.size, dtype=bool)
                    if bounds.size:
                        inner[bounds - 1] = False
                    if (dst[inner] < 0).any():
                        out.append(f"{tag}: start offsets decrease "
                                   "within a doc")
    return pd.DataFrame({"violation": out})


def check_index(spark: SparkSession, index_dir: str) -> list:
    cat = IndexCatalog(index_dir)
    segs = cat.live_segments()
    violations = []
    if not segs:
        return ["no committed snapshot"]
    from .catalog import read_live_partitions
    postings = read_live_partitions(spark, index_dir, "postings", segs)
    docs = read_live_partitions(spark, index_dir, "docs", segs)

    v = (
        postings.withColumn("shard", F.pmod(F.xxhash64("term"), F.lit(16)))
        .groupBy("segment_id", "shard")
        .applyInPandas(_check_postings_pdf, _VIOL)
        .collect()
    )
    violations += [r["violation"] for r in v]

    # one offsets channel per index (FieldInfo update-and-check): segments
    # that disagree read back zero-filled offsets, and a merge refuses them
    with_off, without = offsets_channels(postings)
    if with_off and without:
        violations.append(
            f"mixed offsets channel: segments {with_off} have it, "
            f"segments {without} do not")

    # docids dense 0..n-1 per segment, in key order
    dense = (
        docs.groupBy("segment_id")
        .agg(F.count("*").alias("n"), F.min("docid").alias("mn"),
             F.max("docid").alias("mx"),
             F.count_distinct("docid").alias("nd"))
        .collect()
    )
    seg_by_id = {s["segment_id"]: s for s in segs}
    for r in dense:
        if not (r["mn"] == 0 and r["mx"] == r["n"] - 1 and r["nd"] == r["n"]):
            violations.append(f"seg={r['segment_id']}: docids not dense")
        meta = seg_by_id.get(r["segment_id"])
        if meta and meta["max_doc"] != r["n"]:
            violations.append(f"seg={r['segment_id']}: max_doc mismatch")

    # every live segment must have its docs and postings partitions on disk
    # (CheckIndex opens every segment's files; a missing file IS the
    # corruption the demo UnGracefulIndexFilesTest provokes)
    seen_docs = {int(r["segment_id"]) for r in dense}
    for s in segs:
        if s["segment_id"] not in seen_docs:
            violations.append(f"seg={s['segment_id']}: docs partition missing")
        pdir = os.path.join(index_dir, "postings", f"wave={s['wave']}",
                            f"segment_id={s['segment_id']}")
        if s["doc_count"] > 0 and not os.path.isdir(pdir):
            violations.append(
                f"seg={s['segment_id']}: postings partition missing")

    # norm quantization: norm_byte == intToByte4(doclen)
    # (BM25Similarity.java:128-139), evaluated DISTRIBUTED via a 256-row
    # broadcast join on the decode table: intToByte4 is monotone round-down,
    # so byte b is correct iff byte4ToInt(b) <= doclen < byte4ToInt(b+1).
    # (CheckIndex.java:642-656 cross-checks without materializing either; the
    # round-3 full docs.toPandas() was the one driver-side collect left in
    # this tool.) Whole-stage codegen, zero Python on the hot path.
    tbl = smallfloat.BYTE4_DECODE_TABLE
    decode_rows = [(b, int(tbl[b]), int(tbl[b + 1]) if b < 255 else None)
                   for b in range(256)]
    decode_df = spark.createDataFrame(decode_rows, "nb int, lo bigint, hi bigint")
    bad_norms = (
        docs.select(F.col("doclen").cast("bigint").alias("doclen"),
                    F.col("norm_byte").cast("int").alias("nbyte"))
        .join(F.broadcast(decode_df), F.col("nbyte") == F.col("nb"), "left")
        .where(F.col("lo").isNull()
               | (F.col("doclen") < F.col("lo"))
               | (F.col("hi").isNotNull() & (F.col("doclen") >= F.col("hi"))))
        .count()
    )
    if bad_norms:
        violations.append(
            f"norm_byte != intToByte4(doclen) for {bad_norms} docs")

    # term-vector sidecar (CheckIndex.testTermVectors role): when tvd exists,
    # every live doc has exactly ONE vector row and no row is orphaned —
    # distributed anti-join counts, nothing collected but the two scalars
    tvd_dir = os.path.join(index_dir, "tvd")
    tvd = (read_live_partitions(spark, index_dir, "tvd", segs)
           if os.path.isdir(tvd_dir) else None)
    if tvd is not None:
        keys = ["segment_id", "docid"]
        missing = docs.select(keys).join(tvd.select(keys), keys,
                                         "left_anti").count()
        orphans = tvd.select(keys).join(docs.select(keys), keys,
                                        "left_anti").count()
        dupes = tvd.count() - tvd.select(keys).distinct().count()
        if missing or orphans or dupes:
            violations.append(
                f"term vectors: {missing} docs missing a vector, "
                f"{orphans} orphan vectors, {dupes} duplicate rows")

    # index sort (ValidateIndexSort.java / CheckIndex.testSort role): when
    # the index declares a sort, every segment's docid order must follow the
    # sort field (key as tiebreak, so equal values are only non-violations).
    # Distributed lag window — the driver sees one count.
    is_path = os.path.join(index_dir, "_catalog", "indexsort.json")
    if os.path.exists(is_path):
        import json
        from pyspark.sql.window import Window
        with open(is_path) as fh:
            rec = json.load(fh)
        w = Window.partitionBy("segment_id").orderBy("docid")
        viol = (F.col("sort_value") < F.col("_prev")) if rec["ascending"] \
            else (F.col("sort_value") > F.col("_prev"))
        n_bad = (docs.select("segment_id", "docid", "sort_value")
                 .withColumn("_prev", F.lag("sort_value").over(w))
                 .where(F.col("_prev").isNotNull() & viol)
                 .count())
        if n_bad:
            violations.append(
                f"index sort on {rec['col']!r} violated at {n_bad} docids")

    # stats: doc_count/sum_ttf in the snapshot match the docs table
    agg = (
        docs.groupBy("segment_id")
        .agg(F.sum(F.when(F.col("doclen") > 0, 1).otherwise(0)).alias("dc"),
             F.sum("doclen").alias("ttf"))
        .collect()
    )
    for r in agg:
        meta = seg_by_id.get(r["segment_id"])
        if meta and (meta["doc_count"] != r["dc"] or meta["sum_ttf"] != r["ttf"]):
            violations.append(f"seg={r['segment_id']}: snapshot stats mismatch")
    return violations


def exorcise(spark: SparkSession, index_dir: str) -> list[int]:
    """CheckIndex -exorcise analog (CheckIndex.java:86 doc — "write a new
    segments file, removing reference to problematic segments"; the recovery
    the demo UnGracefulIndexFilesTest provokes): run the full check, drop
    every segment a violation attributes to from the catalog in one commit,
    and return the dropped segment ids. Violations not attributable to a
    segment (index-level checks) are left for the operator. Like Lucene,
    this LOSES the dropped segments' documents — it is a last-resort repair.
    """
    import re

    viols = check_index(spark, index_dir)
    bad = sorted({int(m.group(1)) for v in viols
                  for m in [re.match(r"seg=(\d+)", v)] if m})
    if not bad:
        return []
    cat = IndexCatalog(index_dir)
    remaining = [s for s in cat.live_segments()
                 if s["segment_id"] not in set(bad)]
    cat.commit(remaining, operation="exorcise",
               extra={"exorcised": bad})
    return bad
