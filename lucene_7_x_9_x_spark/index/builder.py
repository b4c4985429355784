"""Index build: corpus DataFrame -> segment-structured inverted index.

Spark-first retrace of Lucene's write path (SURVEY §3.1):
  IndexWriter.addDocument -> DWPT -> DefaultIndexingChain.invert -> TermsHashPerField
  -> FreqProxTermsWriter.flush (sort) -> Lucene84PostingsWriter (128-doc blocks)
becomes
  corpus -> deterministic segment assignment -> tokenizer pandas UDF -> explode
  -> shuffle on (segment, term-shard[, docid-range salt])  [THE postings sort]
  -> applyInPandas block encode -> parquet partitions + snapshot commit.

Scale notes (10^12 docs design point):
  * Segments bound every downstream group: a (segment, term) posting list never
    exceeds docs_per_segment entries, so stopword skew ("the" in every doc) is
    capped per group; the term-shard key spreads terms evenly across reducers,
    and the optional docid-range salt splits a single huge in-segment list into
    range-ordered sub-lists that concatenate without re-sorting (north_rule skew
    clause; Lucene needs none of this because a DWPT is single-threaded —
    DocumentsWriterPerThread.java:49).
  * Builds proceed in waves of segments (= Lucene's flush producing a segment
    batch, FlushByRamOrCountsPolicy / IndexWriterConfig.java:103's RAM budget
    mapped to a rows-per-segment budget); each wave ends in an atomic snapshot
    commit -> kill-resume restarts at wave granularity and never re-reads the
    raw corpus thanks to a one-pass staging write partitioned by wave.
  * All hot loops are numpy inside Arrow UDFs; no per-row Python (input_hint).
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..analysis.tokenizer import Analyzer, STANDARD
from ..fields import FIELD_SEP
from ..functions import smallfloat
from ..functions.codecs import (
    Codec, DEFAULT_CODEC, encode_posting_list, get_codec)
from .catalog import IndexCatalog, append_lineage
from . import schema as S

__all__ = ["build_index", "IndexCatalog"]


def _infostream(wave: int, phase: str, t0: float) -> float:
    """IndexWriterConfig.setInfoStream analog (IndexWriter.java infoStream
    "IW: ..." messages): per-phase wall timings for the write path, printed
    only when SPARK_GRAFT_INFOSTREAM is set. The serial/parallel split of
    these phases is what the N->4N scaling protocol measures, so the
    breakdown is the tuning feedback loop."""
    now = time.time()
    if os.environ.get("SPARK_GRAFT_INFOSTREAM"):
        print(f"IW: wave={wave} {phase}: {now - t0:.2f}s", flush=True)
    return now


def _tokenize_udf(analyzer: Analyzer):
    out_type = T.StructType(
        [
            T.StructField("tv", S.TERMVEC_STRUCT, False),
            T.StructField("doclen", T.IntegerType(), False),
        ]
    )

    @F.pandas_udf(out_type)
    def tok(texts: pd.Series) -> pd.DataFrame:
        tvs = []
        lens = []
        for text in texts:
            items, doclen = analyzer.term_freqs(text)
            tvs.append(items)
            lens.append(doclen)
        return pd.DataFrame({"tv": tvs, "doclen": lens})

    return tok


def _tokenize_pay_udf(analyzer):
    """Payload-channel tokenizer (PayloadAnalyzer): tv structs carry a
    payloads array aligned with positions — the PayloadAttribute riding the
    token stream into the .pay postings channel."""
    out_type = T.StructType(
        [
            T.StructField("tv", S.TERMVEC_PAY_STRUCT, False),
            T.StructField("doclen", T.IntegerType(), False),
        ]
    )

    @F.pandas_udf(out_type)
    def tok(texts: pd.Series) -> pd.DataFrame:
        tvs = []
        lens = []
        for text in texts:
            items, doclen = analyzer.term_freqs_payloads(text)
            tvs.append(items)
            lens.append(doclen)
        return pd.DataFrame({"tv": tvs, "doclen": lens})

    return tok


def _tokenize_off_udf(analyzer: Analyzer):
    """Offsets-channel tokenizer (IndexOptions ...AND_OFFSETS rung): tv
    structs carry per-position character (start, len) arrays aligned with
    positions — the OffsetAttribute riding the token stream into the
    postings' offsets channel (offsets live in the .pay file,
    Lucene84PostingsFormat.java:99-103; demo StartsTest.java)."""
    out_type = T.StructType(
        [
            T.StructField("tv", S.TERMVEC_OFF_STRUCT, False),
            T.StructField("doclen", T.IntegerType(), False),
        ]
    )

    @F.pandas_udf(out_type)
    def tok(texts: pd.Series) -> pd.DataFrame:
        tvs = []
        lens = []
        for text in texts:
            items, doclen = analyzer.term_freqs_offsets(text)
            tvs.append(items)
            lens.append(doclen)
        return pd.DataFrame({"tv": tvs, "doclen": lens})

    return tok


def _routed_tokenize_udf(by_lang: dict, default: Analyzer):
    """Per-row analyzer routing (PerFieldAnalyzerWrapper-style, keyed on the
    corpus `lang` column instead of the field name): each row tokenizes with
    by_lang[lang], falling back to `default`. Same vectorized batch shape as
    the single-analyzer UDF — the dispatch is a dict lookup per row."""
    out_type = T.StructType(
        [
            T.StructField("tv", S.TERMVEC_STRUCT, False),
            T.StructField("doclen", T.IntegerType(), False),
        ]
    )

    @F.pandas_udf(out_type)
    def tok(texts: pd.Series, langs: pd.Series) -> pd.DataFrame:
        tvs = []
        lens = []
        get = by_lang.get
        for text, lang in zip(texts, langs):
            items, doclen = get(lang, default).term_freqs(text)
            tvs.append(items)
            lens.append(doclen)
        return pd.DataFrame({"tv": tvs, "doclen": lens})

    return tok


@F.pandas_udf(T.IntegerType())
def _norm_byte_udf(doclen: pd.Series) -> pd.Series:
    return pd.Series(
        smallfloat.int_to_byte4(doclen.values.astype(np.int64)).astype(np.int32)
    )


def _encode_partition(pdf: pd.DataFrame, store_positions: bool,
                      codec: Codec = DEFAULT_CODEC,
                      omit_freqs: bool = False) -> pd.DataFrame:
    """Encode every (term) posting list in one (segment, shard[, salt]) group.

    One pandas call covers many terms, grouped by a single lexsort over
    (term_code, docid) instead of pandas groupby — per-group DataFrame
    materialization costs ~100us/term, which dominates when a segment has 10^5
    distinct terms (this loop IS the postings sort of FreqProxTermsWriter)."""
    seg = int(pdf["segment_id"].iloc[0])
    term_codes, uniq_terms = pd.factorize(pdf["term"].values, sort=False)
    docids = pdf["docid"].values.astype(np.int64)
    freqs = pdf["freq"].values.astype(np.int64)
    if omit_freqs:
        # IndexOptions.DOCS (FieldType.setIndexOptions; demo IndexOptionTest
        # .java): term frequency is not indexed — every stored freq is 1 and
        # totalTermFreq == docFreq. The all-1s freq block is the cheapest the
        # codec encodes (Lucene's ForDeltaUtil.java:57-70 all-equal escape).
        freqs = np.ones_like(freqs)
    norms = pdf["norm_byte"].values.astype(np.uint8)
    pos_col = pdf["positions"].values if store_positions else None
    pay_col = (pdf["payloads"].values
               if ("payloads" in pdf.columns and store_positions) else None)
    off_cols = (
        (pdf["starts"].values, pdf["lens"].values)
        if ("starts" in pdf.columns and store_positions) else None)
    order = np.lexsort((docids, term_codes))
    tc = term_codes[order]
    bounds = np.flatnonzero(np.diff(tc)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [tc.size]])

    # Re-order ALL position (and payload) values into (term, docid) order with
    # ONE vectorized gather over the partition, instead of a per-doc listcomp
    # + concatenate inside every term's encode call (the listcomp was ~40% of
    # encode wall on position-heavy shards). freq == #positions per posting,
    # so the flat layout splits exactly by freqs.
    flat_pos_sorted = flat_pay_sorted = pos_bounds = None
    flat_ost_sorted = flat_oln_sorted = None
    if pos_col is not None:
        parts = (list(pos_col) if len(pos_col)
                 and isinstance(pos_col[0], np.ndarray)
                 else [np.asarray(p, dtype=np.int64) for p in pos_col])
        flat_all = (np.concatenate(parts).astype(np.int64, copy=False)
                    if parts else np.zeros(0, dtype=np.int64))
        row_starts = np.concatenate([[0], np.cumsum(freqs)[:-1]])
        lens_sorted = freqs[order]
        starts_sorted = row_starts[order]
        out_starts = np.concatenate([[0], np.cumsum(lens_sorted)[:-1]])
        total_p = int(lens_sorted.sum())
        gidx = (np.repeat(starts_sorted - out_starts, lens_sorted)
                + np.arange(total_p))
        flat_pos_sorted = flat_all[gidx]
        pos_bounds = np.concatenate([[0], np.cumsum(lens_sorted)])
        if pay_col is not None:
            pay_parts = (list(pay_col) if len(pay_col)
                         and isinstance(pay_col[0], np.ndarray)
                         else [np.asarray(p, dtype=np.int64) for p in pay_col])
            flat_pay_all = (np.concatenate(pay_parts)
                            .astype(np.int64, copy=False)
                            if pay_parts else np.zeros(0, dtype=np.int64))
            flat_pay_sorted = flat_pay_all[gidx]
        if off_cols is not None:
            # starts/lens are 1:1 with positions, so the same gather
            # permutation re-orders them into (term, docid) order
            def _flat_col(col):
                parts_ = (list(col) if len(col)
                          and isinstance(col[0], np.ndarray)
                          else [np.asarray(p, dtype=np.int64) for p in col])
                return (np.concatenate(parts_).astype(np.int64, copy=False)
                        if parts_ else np.zeros(0, dtype=np.int64))
            flat_ost_sorted = _flat_col(off_cols[0])[gidx]
            flat_oln_sorted = _flat_col(off_cols[1])[gidx]

    rows = []
    for s, e in zip(starts.tolist(), ends.tolist()):
        idx = order[s:e]
        d = docids[idx]
        f = freqs[idx]
        nb = norms[idx]
        positions = None
        if flat_pos_sorted is not None:
            positions = flat_pos_sorted[pos_bounds[s]:pos_bounds[e]]
        payloads = None
        if flat_pay_sorted is not None:
            payloads = flat_pay_sorted[pos_bounds[s]:pos_bounds[e]]
        offsets = None
        if flat_ost_sorted is not None:
            offsets = (flat_ost_sorted[pos_bounds[s]:pos_bounds[e]],
                       flat_oln_sorted[pos_bounds[s]:pos_bounds[e]])
        blocks = encode_posting_list(d, f, nb, positions, codec=codec,
                                     payloads=payloads, offsets=offsets)
        rows.append(
            {
                "segment_id": seg,
                "term": uniq_terms[tc[s]],
                "df": int(d.size),
                "ttf": int(f.sum()),
                "blocks": blocks,
            }
        )
    return pd.DataFrame(rows, columns=["segment_id", "term", "df", "ttf", "blocks"])


def _merge_salted(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fold per-salt sub-lists of one (segment, shard) group into final rows.

    Salt buckets are docid ranges, so sub-lists concatenate in block order with
    no re-sort (block encoding is associative over docid ranges — SURVEY §7
    hard-part #5)."""
    rows = []
    seg = int(pdf["segment_id"].iloc[0])
    for term, g in pdf.groupby("term", sort=False):
        g = g.sort_values("salt")
        blocks = [b for bl in g["blocks"] for b in bl]
        rows.append(
            {
                "segment_id": seg,
                "term": term,
                "df": int(g["df"].sum()),
                "ttf": int(g["ttf"].sum()),
                "blocks": blocks,
            }
        )
    return pd.DataFrame(rows, columns=["segment_id", "term", "df", "ttf", "blocks"])


def load_index_codec(index_dir: str) -> Codec:
    """Resolve the codec recorded at build time (Codec.forName semantics:
    custom codecs must be registered before opening the index). Pre-SPI
    indexes carry no recording and resolve to the default."""
    path = os.path.join(index_dir, "_catalog", "codec.json")
    if not os.path.exists(path):
        return DEFAULT_CODEC
    import json
    with open(path) as fh:
        return get_codec(json.load(fh)["name"])


def _dir_size(path: str, spark: SparkSession | None = None) -> int:
    """Recursive byte size of a directory via the Hadoop FileSystem API, so
    the segment catalog works on object stores (s3a://, hdfs://) as well as
    local disk; falls back to os.walk when no active session is available."""
    if spark is not None:
        try:
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(hpath):
                return 0
            return int(fs.getContentSummary(hpath).getLength())
        except Exception:  # pragma: no cover - py4j unavailable/odd scheme
            pass
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def index_wave(
    spark: SparkSession,
    src: DataFrame,
    index_dir: str,
    wave: int,
    *,
    analyzer: Analyzer = STANDARD,
    store_positions: bool = True,
    int_keys: bool = False,
    term_shards: int = 32,
    salt_bucket_docs: int | None = None,
    docs_per_segment: int = 4096,
    fields: list[str] | None = None,
    codec: "Codec | str" = DEFAULT_CODEC,
    analyzer_by_lang: dict | None = None,
    store_term_vectors: bool = False,
    omit_freqs: bool = False,
    omit_norms: bool = False,
    index_sort: tuple[str, bool] | None = None,
    store_offsets: bool = False,
) -> list[dict]:
    """Index one wave: src(key, text, segment_id) -> docs+postings partitions.

    ``index_sort=(col, ascending)``: IndexWriterConfig.setIndexSort analog
    (demos IndexSortTest.java / SegmentInnerSort.java / ValidateIndexSort.java)
    — docids within each segment are assigned in the order of the ``sortv``
    column src carries (ascending or descending, key as the deterministic
    tiebreak), and the docs table stores it as ``sort_value``. Sorted-by-that-
    field queries can then early-terminate: per segment the first k live
    docids ARE the segment's top-k (TopFieldCollector canEarlyTerminate;
    demos TestEarlyTerminal.java, NumericDocValuesTopNOptimization.java).

    ``omit_freqs``: IndexOptions.DOCS — freq is not indexed (stored as 1,
    ttf==df, scoring sees tf=1). ``omit_norms``: FieldType.setOmitNorms(true)
    (StringField.java:46-47 default) — every norm byte is 1, so BM25's decoded
    length is the constant 1 for every doc, exactly LeafSimScorer's
    getNormValue()==1L when the field has no norms.

    ``store_term_vectors``: also persist each doc's (term, freq, positions)
    vector to a tvd/ sidecar keyed by (segment_id, docid) — the .tvd/.tvx
    analog of FieldType.setStoreTermVectors(true) (TermVectorsWriter). Opt-in
    because it re-writes the tokenized corpus (same trade as Lucene's term
    vectors, which typically dwarf the postings). Single-field mode only.

    ``analyzer_by_lang``: per-row analyzer routing — src must carry a ``lang``
    column; each row tokenizes with analyzer_by_lang[lang] falling back to
    ``analyzer`` (single-field mode only).

    ``fields``: multi-field mode — src carries one text column per field named
    ``f_<field>``; every term is stored '<field>\\x1fterm'-encoded with that
    FIELD's norm byte (per-field .nvd analog), and the returned segment stats
    include per-field (doc_count, sum_ttf) — the FieldInfos/CollectionStatistics
    role (BM25Similarity.java:74-90 scores with field statistics).

    Shared by the batch builder, the incremental writer, and the streaming
    sink. Returns the new segments' stats dicts (uncommitted — the caller owns
    the snapshot commit). Cleans any partial output of this wave first, so a
    crashed attempt is safely retried (parquet dirs are only visible to readers
    after the snapshot commit anyway).

    The encoded postings are re-clustered by segment before the partitioned
    write — one file per segment instead of tasks x segments. Measured at
    600k docs / local[32] (interleaved A/B, quiet host): the build itself is
    ~45% FASTER coalesced (46.8/37.5s -> 26.8/21.6s) because the task-count x
    segment-count file explosion (2,976 files for 147 segments) pays a
    driver-serial commit rename loop that dwarfs the one extra fully-parallel
    shuffle of the compressed index; query latency drops ~50% on the same
    index (term-pruned scan floor 1.0s -> 0.48s: parquet footer reads +
    listing scale with file count). On object stores at 1000-executor scale
    both effects are larger (per-file serial renames + LIST calls)."""
    if analyzer_by_lang and fields:
        raise ValueError("analyzer_by_lang supports single-field mode only")
    from ..analysis.tokenizer import PayloadAnalyzer
    has_payloads = isinstance(analyzer, PayloadAnalyzer)
    if has_payloads and (fields or analyzer_by_lang or store_term_vectors):
        raise ValueError("PayloadAnalyzer supports plain single-field mode "
                         "only (no per-lang routing / term vectors)")
    if has_payloads and not store_positions:
        raise ValueError("payloads require store_positions=True "
                         "(.pay rides the .pos channel)")
    if store_offsets:
        if fields or analyzer_by_lang or has_payloads:
            raise ValueError("offsets support plain single-field mode only "
                             "(no per-lang routing / payloads / multi-field)")
        if not store_positions:
            raise ValueError("offsets require store_positions=True "
                             "(the ...AND_OFFSETS rung implies positions)")
    tok_udf = (_routed_tokenize_udf(analyzer_by_lang, analyzer)
               if analyzer_by_lang
               else (_tokenize_pay_udf(analyzer) if has_payloads
                     else (_tokenize_off_udf(analyzer) if store_offsets
                           else _tokenize_udf(analyzer))))
    if store_term_vectors and fields:
        raise ValueError("store_term_vectors supports single-field mode only")
    for root in ("docs", "postings", "tvd"):
        wdir = os.path.join(index_dir, root, f"wave={wave}")
        if os.path.exists(wdir):
            shutil.rmtree(wdir)

    # Tokenize once, at full input parallelism (input partitions >> segments
    # per wave) -- the Python-heavy analyzer stage is core-bound, not
    # segment-bound. tvh (a JVM-side deterministic hash of the term vector)
    # tiebreaks duplicate keys identically everywhere docids are derived.
    sort_cols = ["sortv"] if index_sort else []
    if fields:
        t = src
        for f in fields:
            t = t.withColumn(f"_t_{f}", tok_udf(F.col(f"f_{f}")))
        tokenized = t.select(
            "segment_id", "key", *sort_cols,
            *[F.col(f"_t_{f}.tv").alias(f"tv_{f}") for f in fields],
            *[F.col(f"_t_{f}.doclen").alias(f"dl_{f}") for f in fields],
        )
        total_len = F.col(f"dl_{fields[0]}")
        for f in fields[1:]:
            total_len = total_len + F.col(f"dl_{f}")
        tokenized = (
            tokenized.withColumn("doclen", total_len)
            .withColumn("tvh", F.hash(*[F.col(f"tv_{f}") for f in fields]))
        )
    else:
        tokenized = (
            src.withColumn("_t", tok_udf(F.col("text"), F.col("lang"))
                           if analyzer_by_lang else tok_udf(F.col("text")))
            .select(
                "segment_id", "key", *sort_cols,
                F.col("_t.tv").alias("tv"),
                F.col("_t.doclen").alias("doclen"),
            )
            .withColumn("tvh", F.hash("tv"))
        )
    # ONE shuffle of the term vectors (hash by segment), cached. Docid
    # assignment is then a per-segment WINDOW over the already-partitioned
    # cache: Catalyst adds only a local sort (ClusteredDistribution satisfied
    # -- verified no extra Exchange in the plan), so there is no docid join,
    # no driver-built broadcast hash relation, and no Arrow round-trip of the
    # term vectors. (Round-1 used a light window + broadcast docid map; the
    # broadcast's HashedRelation build is driver-SERIAL and grows with wave
    # size, which capped measured N->4N efficiency once the tokenizer got
    # fast.) Duplicate keys are harmless here: every row keeps ITS OWN term
    # vector, and the (key, doclen, tvh) sort makes docids deterministic.
    part = tokenized.repartition("segment_id").persist()

    order_key = F.col("key").cast("long") if int_keys else F.col("key")
    # index sort: the sort field leads the per-segment docid window (key/
    # doclen/tvh stay as the deterministic tiebreak) — docid order within a
    # segment then IS the sort order (MultiSorter.java at flush time)
    sort_first = ([F.col("sortv").asc() if index_sort[1]
                   else F.col("sortv").desc()] if index_sort else [])
    w_seg = Window.partitionBy("segment_id").orderBy(
        *sort_first, order_key, F.col("doclen"), F.col("tvh"))
    w_peers = (Window.partitionBy("segment_id").orderBy(order_key)
               .rangeBetween(Window.currentRow, Window.currentRow))

    # docs pass projects the term vectors OUT before the window, so its sort
    # moves only (key, doclen, tvh) rows; key_dups (docs sharing this key in
    # the segment) rides the same sort as a peers-frame count
    dl_cols = [f"dl_{f}" for f in (fields or [])]
    def _norm_of(col):
        return (F.lit(1).cast("int") if omit_norms
                else _norm_byte_udf(col))

    docs = (
        part.select("segment_id", "key", "doclen", "tvh", *dl_cols,
                    *sort_cols)
        .withColumn("docid", (F.row_number().over(w_seg) - 1).cast("int"))
        .withColumn("key_dups", F.count("*").over(w_peers).cast("int"))
        .withColumn("norm_byte", _norm_of(F.col("doclen")))
    )
    sort_out = ([F.col("sortv").alias("sort_value")] if index_sort else [])
    if fields:
        # per-field lengths ride the docs table (FieldInfos + per-field norms
        # source for stats); the scalar doclen stays the cross-field total
        docs = docs.withColumn(
            "field_lens",
            F.map_from_arrays(
                F.array(*[F.lit(f) for f in fields]),
                F.array(*[F.col(f"dl_{f}") for f in fields])))
        docs = docs.select("segment_id", "docid", "key", "doclen",
                           "norm_byte", "key_dups", "field_lens", *sort_out)
    else:
        docs = docs.select("segment_id", "docid", "key", "doclen",
                           "norm_byte", "key_dups", *sort_out)
    # cluster by segment before the partitioned write: one file per
    # segment instead of (tasks x segments) — the commit protocol's
    # driver-side rename loop is serial, so file count is a direct
    # Amdahl term (and a small-file problem on object stores).
    _t = time.time()
    docs_out = docs.repartition(F.col("segment_id"))
    if index_sort:
        # SORTED indexes additionally write docid-sorted files so the
        # early-termination prefix read's pushed `docid < k` predicate
        # prunes at row-group level. Sorted-only: measured on the 600k-doc
        # scaling corpus, this extra local sort after the exchange costs
        # ~90 s at local[8] (it defeats the planner's reuse of the cached
        # tokenize stage), which halved N->4N efficiency when applied to
        # every build — plain indexes don't need file-order guarantees.
        docs_out = docs_out.sortWithinPartitions("segment_id", "docid")
    (
        docs_out
        .withColumn("wave", F.lit(wave))
        .write.mode("append")
        .partitionBy("wave", "segment_id")
        .parquet(os.path.join(index_dir, "docs"))
    )
    _t = _infostream(wave, "docs write (tokenize+shuffle+window+commit)", _t)

    if store_term_vectors:
        # second window pass over the cached segment partitioning, this time
        # carrying the vectors: docids are deterministic functions of
        # (key, doclen, tvh), so the sidecar rows land on the SAME docids as
        # the docs pass without any join (TermVectorsWriter parity: one .tvd
        # row per doc, addressed by docid)
        (
            part.select("segment_id", "key", "doclen", "tvh", "tv",
                        *sort_cols)
            .withColumn("docid", (F.row_number().over(w_seg) - 1).cast("int"))
            .select("segment_id", "docid", "tv")
            .repartition(F.col("segment_id"))
            .withColumn("wave", F.lit(wave))
            .write.mode("append")
            .partitionBy("wave", "segment_id")
            .parquet(os.path.join(index_dir, "tvd"))
        )
    # re-read the committed wave subdir: clean barrier (no recompute) and a
    # compact columnar source for the stats aggregation
    docs_wave = spark.read.parquet(
        os.path.join(index_dir, "docs", f"wave={wave}"))

    # postings pass: the SAME deterministic window over the full cached rows
    # (term vectors ride a local sort, never an exchange or a join)
    keyed = (
        part.withColumn("docid", (F.row_number().over(w_seg) - 1).cast("int"))
        .where(F.col("doclen") > 0)
    )
    if fields:
        # one exploded frame per field, field-prefixed terms carrying THAT
        # field's norm byte; the union shares the single downstream shuffle
        per_field = []
        for f in fields:
            per_field.append(
                keyed.where(F.col(f"dl_{f}") > 0)
                .select(
                    "segment_id", "docid",
                    _norm_of(F.col(f"dl_{f}")).alias("norm_byte"),
                    F.explode(F.col(f"tv_{f}")).alias("p"),
                )
                .select(
                    "segment_id", "docid", "norm_byte",
                    F.concat(F.lit(f + FIELD_SEP),
                             F.col("p.term")).alias("term"),
                    F.col("p.freq").alias("freq"),
                    F.col("p.positions").alias("positions"),
                )
            )
        exploded = per_field[0]
        for e in per_field[1:]:
            exploded = exploded.unionByName(e)
    else:
        pay_cols = ([F.col("p.payloads").alias("payloads")]
                    if has_payloads else [])
        if store_offsets:
            pay_cols += [F.col("p.starts").alias("starts"),
                         F.col("p.lens").alias("lens")]
        exploded = (
            keyed.withColumn("norm_byte", _norm_of(F.col("doclen")))
            .select(
                "segment_id", "docid", "norm_byte",
                F.explode("tv").alias("p"),
            )
            .select(
                "segment_id", "docid", "norm_byte",
                F.col("p.term").alias("term"),
                F.col("p.freq").alias("freq"),
                F.col("p.positions").alias("positions"),
                *pay_cols,
            )
        )
    exploded = exploded.withColumn(
        "shard", F.pmod(F.xxhash64(F.col("term")), F.lit(term_shards)).cast("int")
    )

    codec = get_codec(codec)

    def _enc(pdf: pd.DataFrame) -> pd.DataFrame:
        return _encode_partition(pdf, store_positions, codec, omit_freqs)

    if salt_bucket_docs and salt_bucket_docs < docs_per_segment:
        # a new StructType: StructType.add appends to (and returns) self,
        # which would leak the helper columns into the shared module schema
        salted_schema = T.StructType(S.POSTINGS_SCHEMA.fields + [
            T.StructField("shard", T.IntegerType(), False),
            T.StructField("salt", T.IntegerType(), False)])

        def _enc_salted(pdf: pd.DataFrame) -> pd.DataFrame:
            out = _encode_partition(pdf, store_positions, codec, omit_freqs)
            out["shard"] = int(pdf["shard"].iloc[0])
            out["salt"] = int(pdf["salt"].iloc[0])
            return out

        salted = (
            exploded.withColumn(
                "salt", (F.col("docid") / salt_bucket_docs).cast("int")
            )
            .groupBy("segment_id", "shard", "salt")
            .applyInPandas(_enc_salted, salted_schema)
        )
        postings = salted.groupBy("segment_id", "shard").applyInPandas(
            _merge_salted, S.POSTINGS_SCHEMA
        )
    else:
        postings = exploded.groupBy("segment_id", "shard").applyInPandas(
            _enc, S.POSTINGS_SCHEMA
        )

    (
        # one file per segment (see the docstring), then a (segment, term)
        # sort within tasks: tight parquet row-group min/max on term so
        # query-time In(term,...) pushdown skips row groups (the term-dict
        # "which block" role of the FST, SURVEY §1.1)
        postings.repartition(F.col("segment_id"))
        .sortWithinPartitions("segment_id", "term")
        .withColumn("wave", F.lit(wave))
        .write.mode("append")
        .partitionBy("wave", "segment_id")
        .parquet(os.path.join(index_dir, "postings"))
    )
    _t = _infostream(wave, "postings write (explode+shuffle+encode+commit)", _t)

    agg_exprs = [
        F.sum(F.when(F.col("doclen") > 0, 1).otherwise(0)).alias("doc_count"),
        F.sum("doclen").alias("sum_ttf"),
        (F.max("docid") + 1).alias("max_doc"),
    ]
    for f in (fields or []):
        fl = F.col("field_lens").getItem(f)
        agg_exprs.append(
            F.sum(F.when(fl > 0, 1).otherwise(0)).alias(f"dc_{f}"))
        agg_exprs.append(F.sum(fl).alias(f"st_{f}"))
    stats = docs_wave.groupBy("segment_id").agg(*agg_exprs).collect()
    part.unpersist()
    _t = _infostream(wave, "segment stats agg", _t)

    segs = []
    for r in stats:
        seg_stat = {
            "segment_id": int(r["segment_id"]),
            "wave": wave,
            "doc_count": int(r["doc_count"]),
            "sum_ttf": int(r["sum_ttf"]),
            "max_doc": int(r["max_doc"]),
            "size_bytes": 0,
            "merged_from": [],
        }
        if fields:
            seg_stat["field_stats"] = {
                f: {"doc_count": int(r[f"dc_{f}"] or 0),
                    "sum_ttf": int(r[f"st_{f}"] or 0)}
                for f in fields
            }
        segs.append(seg_stat)
    for s in segs:
        s["size_bytes"] = _dir_size(
            os.path.join(index_dir, "postings", f"wave={wave}",
                         f"segment_id={s['segment_id']}"),
            spark,
        )
    _infostream(wave, "segment size accounting", _t)
    return segs


def build_index(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    text_col: str | None,
    index_dir: str,
    *,
    docs_per_segment: int = 4096,
    segments_per_wave: int = 64,
    analyzer: Analyzer = STANDARD,
    store_positions: bool = True,
    int_keys: bool = False,
    term_shards: int = 32,
    salt_bucket_docs: int | None = None,
    resume: bool = False,
    field_cols: dict[str, str] | None = None,
    default_field: str | None = None,
    codec: "Codec | str" = DEFAULT_CODEC,
    analyzer_by_lang: dict | None = None,
    lang_col: str = "lang",
    store_term_vectors: bool = False,
    index_options: str | None = None,
    omit_norms: bool = False,
    index_sort: tuple[str, bool] | None = None,
    _crash_point: tuple | None = None,  # (wave, "after_docs"|"after_commit") — test hook
) -> IndexCatalog:
    """Build (or resume building) the inverted index for df[key_col, text_col].

    int_keys=True: keys are non-negative integers; segment = key // docs_per_segment,
    so (segment_id, docid) order == key order — used when results must be
    reproducible by an external SQL oracle. Otherwise segments are assigned by
    xxhash64(key) (deterministic, partition-independent), mirroring Lucene's
    arbitrary-but-fixed arrival order.

    field_cols={"title": "title_col", "body": "text_col"} builds a MULTI-FIELD
    index (per-field postings, norms, and BM25 stats — Document.java:42-44 /
    FieldInfo.java semantics); text_col is ignored then, and unqualified query
    terms resolve to ``default_field`` (first field if None). Field names must
    not contain the '\\x1f' separator.

    analyzer_by_lang={"zh": CJK, ...} routes each row's analysis by its
    ``lang_col`` value (CJKAnalyzer-per-language, the smartcn/kuromoji-module
    role at the routing level); unmatched langs use ``analyzer``.

    index_options: "docs" | "freqs" | "positions" — the FieldType
    .setIndexOptions ladder (o.a.l/index/IndexOptions.java; demo
    IndexOptionTest.java). "docs" stores neither freqs nor positions (tf
    scored as 1, ttf==df); "freqs" stores freqs only; "positions" (default)
    stores both. Recorded in the catalog so readers refuse positional queries
    on a positions-less index the way Lucene throws IllegalStateException.
    omit_norms: FieldType.setOmitNorms(true) / StringField.java:46-47 — no
    length normalization (every norm byte 1 => decoded length 1).

    index_sort=("col", ascending): IndexWriterConfig.setIndexSort analog —
    docids within each segment follow df["col"]'s order (demo
    IndexSortTest.java / SegmentInnerSort.java); sorted-by-that-field queries
    early-terminate per segment (demo TestEarlyTerminal.java). Immutable per
    index (Lucene rejects sort changes across sessions); recorded in
    _catalog/indexsort.json, an existing recording wins on resume.
    """
    if index_options is None:
        index_options = "positions" if store_positions else "freqs"
    if index_options not in ("docs", "freqs", "positions", "offsets"):
        raise ValueError(f"index_options must be docs|freqs|positions|"
                         f"offsets, got {index_options!r}")
    # "offsets" = DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS (the 4th rung of
    # o.a.l.index.IndexOptions; demo StartsTest.java)
    store_positions = index_options in ("positions", "offsets")
    store_offsets = index_options == "offsets"
    omit_freqs = index_options == "docs"
    cat = IndexCatalog(index_dir)
    if not resume and cat.head() >= 0:
        raise ValueError(f"index already exists at {index_dir}; pass resume=True")
    fields = None
    if field_cols:
        fields = list(field_cols)
        if any(FIELD_SEP in f for f in fields):
            raise ValueError("field names must not contain \\x1f")
        default_field = default_field or fields[0]
        if default_field not in fields:
            raise ValueError(f"default_field {default_field!r} not in fields")
        # FieldInfos analog: immutable per-index field registry, written once
        # (readers need it to qualify unqualified query terms)
        fi_path = os.path.join(cat.catalog_dir, "fieldinfos.json")
        if not os.path.exists(fi_path):
            import json
            tmp = fi_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"fields": fields, "default_field": default_field},
                          fh)
            os.rename(tmp, fi_path)

    # Codec SPI: the catalog records the codec name once at build time
    # (SegmentInfo-records-the-codec contract); resumes and later writers/
    # mergers resolve it by name, Codec.forName-style. An existing recording
    # wins over the argument so a resume can't mix encoders mid-index.
    codec = get_codec(codec)
    codec_path = os.path.join(cat.catalog_dir, "codec.json")
    if os.path.exists(codec_path):
        codec = load_index_codec(index_dir)
    else:
        import json
        tmp = codec_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"name": codec.name}, fh)
        os.rename(tmp, codec_path)

    # IndexOptions/omitNorms are immutable per index (FieldInfo.java:150
    # update-and-check): recorded once, an existing recording wins on resume.
    io_path = os.path.join(cat.catalog_dir, "indexoptions.json")
    if os.path.exists(io_path):
        import json
        with open(io_path) as fh:
            rec = json.load(fh)
        index_options = rec["index_options"]
        omit_norms = rec["omit_norms"]
        store_positions = index_options in ("positions", "offsets")
        store_offsets = index_options == "offsets"
        omit_freqs = index_options == "docs"
    elif index_options != "positions" or omit_norms:
        import json
        tmp = io_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"index_options": index_options,
                       "omit_norms": omit_norms}, fh)
        os.rename(tmp, io_path)

    # Index sort is immutable per index (IndexWriterConfig.setIndexSort —
    # Lucene refuses to open an index with a different sort): recorded once,
    # an existing recording wins on resume.
    is_path = os.path.join(cat.catalog_dir, "indexsort.json")
    if os.path.exists(is_path):
        import json
        with open(is_path) as fh:
            rec = json.load(fh)
        index_sort = (rec["col"], rec["ascending"])
    elif index_sort is not None:
        import json
        col, asc = index_sort
        index_sort = (str(col), bool(asc))
        tmp = is_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"col": index_sort[0], "ascending": index_sort[1]}, fh)
        os.rename(tmp, is_path)

    key_s = F.col(key_col).cast("string")
    if fields:
        text_sel = [F.col(field_cols[f]).alias(f"f_{f}") for f in fields]
        text_names = [f"f_{f}" for f in fields]
    else:
        text_sel = [F.col(text_col).alias("text")]
        text_names = ["text"]
    if analyzer_by_lang:
        if fields:
            raise ValueError("analyzer_by_lang supports single-field mode only")
        text_sel.append(F.col(lang_col).alias("lang"))
        text_names.append("lang")
    if index_sort is not None:
        text_sel.append(F.col(index_sort[0]).alias("sortv"))
        text_names.append("sortv")
    if int_keys:
        seg_expr = (F.col(key_col).cast("long") / docs_per_segment).cast("int")
        n_segments = (
            df.agg(F.max(F.col(key_col).cast("long"))).first()[0] // docs_per_segment
            + 1
        )
    else:
        total = df.count()
        n_segments = max(1, math.ceil(total / docs_per_segment))
        seg_expr = F.pmod(F.xxhash64(key_s), F.lit(n_segments)).cast("int")
    n_segments = int(n_segments)
    n_waves = math.ceil(n_segments / segments_per_wave)

    done_segs = {s["segment_id"] for s in cat.live_segments()}
    done_waves = {s["wave"] for s in cat.live_segments()}

    # ---- stage 0: one-pass staging write, partitioned by wave (skipped when the
    # whole build is a single wave — then we stream straight from the source). ----
    staging = os.path.join(index_dir, "_staging")
    use_staging = n_waves > 1
    if use_staging and not os.path.exists(os.path.join(staging, "_SUCCESS")):
        if os.path.exists(staging):
            shutil.rmtree(staging)
        (
            df.select(
                key_s.alias("key"),
                *text_sel,
                seg_expr.alias("segment_id"),
            )
            .withColumn("wave", (F.col("segment_id") / segments_per_wave).cast("int"))
            .write.partitionBy("wave")
            .parquet(staging)
        )

    all_segments = list(cat.live_segments())

    for wave in range(n_waves):
        if wave in done_waves:
            continue
        t0 = time.time()
        if use_staging:
            src = spark.read.parquet(staging).where(F.col("wave") == wave)
            src = src.select("key", *text_names, "segment_id")
        else:
            src = df.select(key_s.alias("key"), *text_sel,
                            seg_expr.alias("segment_id"))

        if _crash_point == (wave, "after_docs"):
            # preserve the injected-crash point of the pre-refactor layout:
            # docs written, postings not, no commit
            index_wave(spark, src, index_dir, wave, analyzer=analyzer,
                       store_positions=store_positions, int_keys=int_keys,
                       term_shards=term_shards,
                       salt_bucket_docs=salt_bucket_docs,
                       docs_per_segment=docs_per_segment, fields=fields,
                       codec=codec, analyzer_by_lang=analyzer_by_lang,
                       store_term_vectors=store_term_vectors,
                       omit_freqs=omit_freqs, omit_norms=omit_norms,
                       index_sort=index_sort, store_offsets=store_offsets)
            shutil.rmtree(os.path.join(index_dir, "postings", f"wave={wave}"),
                          ignore_errors=True)
            raise RuntimeError("injected crash: after_docs")

        new_segs = [
            s for s in index_wave(
                spark, src, index_dir, wave, analyzer=analyzer,
                store_positions=store_positions, int_keys=int_keys,
                term_shards=term_shards, salt_bucket_docs=salt_bucket_docs,
                docs_per_segment=docs_per_segment, fields=fields,
                codec=codec, analyzer_by_lang=analyzer_by_lang,
                store_term_vectors=store_term_vectors,
                omit_freqs=omit_freqs, omit_norms=omit_norms,
                index_sort=index_sort, store_offsets=store_offsets)
            if s["segment_id"] not in done_segs
        ]
        wall_ms = int((time.time() - t0) * 1000)

        append_lineage(index_dir, [
            ("build_wave", s["segment_id"], cat.head() + 1, s["doc_count"],
             wall_ms, "done")
            for s in new_segs
        ])

        all_segments.extend(new_segs)
        cat.commit(all_segments, operation="append")
        done_waves.add(wave)
        if _crash_point == (wave, "after_commit"):
            raise RuntimeError("injected crash: after_commit")

    return cat
