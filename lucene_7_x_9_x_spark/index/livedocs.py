"""Task-local per-segment reads: live docs (.liv), full-field norms (.nvd),
and the postings and docs rows a search task needs.

Lucene ships each segment's deleted-doc bitset (.liv) and per-field norms
(.nvd) WITH the segment; a reader working on segment K touches only segment
K's files (blog/Lucene/索引文件/liv). The round-3 design instead collected
every segment's delete set to the driver and closure-broadcast the map — a
driver-side materialization that does not survive the 10^12-doc design point
(33% of 10^12 docs is a TB-scale driver object).

This module is the scale-safe analog: a tiny picklable ``DeleteSpec`` (a few
ints per segment) rides the task closure, and each per-segment kernel task
reads ITS OWN segment's delete files directly via pyarrow — no SparkSession,
no driver round-trip, per-task I/O bounded by that segment's delete volume.
``pyarrow.dataset`` resolves local paths and object-store URIs alike, so the
same code path works under spark-submit on a real cluster.

The same helper, ``_dataset_table`` with a pushed filter, serves the search
path (``search/searcher.py``): each per-segment task reads the query's
postings rows from its own ``postings/wave=W/segment_id=S`` directory and, after
its top-k, the keys of at most k docids from its own docs directory.

Everything here must stay importable executor-side: numpy + pyarrow only,
no pyspark imports.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

__all__ = ["read_segment_deletes", "read_segment_docid_map",
           "load_segment_field_norms", "DeleteSpec"]


def _dataset_table(path: str, columns: list[str], filter=None):
    """Read a parquet directory into an Arrow table, None if absent.

    pyarrow.dataset handles both plain paths and fs URIs; FileNotFoundError
    is the "this segment has no file in this generation" case (a delete gen
    only contains partitions for segments it actually touched). ``filter``
    is a pyarrow compute expression pushed into the scan (row-group
    statistics prune what they can; the rest is filtered row by row)."""
    import pyarrow.dataset as pads

    try:
        dset = pads.dataset(path, format="parquet")
        return dset.to_table(columns=columns, filter=filter)
    except FileNotFoundError:
        return None


def read_segment_deletes(index_dir: str, segment_id: int, gens,
                         kind: str = "deletes") -> np.ndarray | None:
    """One segment's deleted docids across the committed delete generations.

    The per-segment .liv read: called INSIDE the kernel task for the task's
    own segment only. Crash-retried delete attempts may leave duplicate rows
    in a gen dir; np.unique dedups (and sorts, which the kernel's masking
    relies on)."""
    parts = []
    for g in gens:
        path = os.path.join(index_dir, kind, f"gen={int(g)}",
                            f"segment_id={int(segment_id)}")
        t = _dataset_table(path, ["docid"])
        if t is None:
            continue
        arr = t.column("docid").to_numpy(zero_copy_only=False)
        if arr.size:
            parts.append(arr.astype(np.int64))
    if not parts:
        return None
    return np.unique(np.concatenate(parts))


def read_segment_docid_map(index_dir: str, segment_id: int, gen: int,
                           kind: str = "merge_sortmap"
                           ) -> tuple[np.ndarray, np.ndarray] | None:
    """One segment's (old docid -> new docid) map from a staged merge sidecar
    (sorted-index merges; MultiSorter.java's per-reader DocMap role). Returned
    sorted by old docid so lookups are one searchsorted. Task-local like
    ``read_segment_deletes`` — a remap task reads only ITS segment's rows."""
    path = os.path.join(index_dir, kind, f"gen={int(gen)}",
                        f"segment_id={int(segment_id)}")
    t = _dataset_table(path, ["docid", "new_docid"])
    if t is None:
        return None
    old = t.column("docid").to_numpy(zero_copy_only=False).astype(np.int64)
    new = t.column("new_docid").to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.argsort(old)
    return old[order], new[order]


def load_segment_field_norms(index_dir: str, wave: int, segment_id: int,
                             fld: str, max_doc: int,
                             multi_field: bool) -> np.ndarray | None:
    """Complete per-doc norm bytes of one field of one segment (.nvd analog).

    Postings-painted norms only cover docs that contain a decoded term; a
    FieldMaskingSpanQuery needs the MASKED field's norm for every matched doc
    (FieldMaskingSpanQuery.java:66-72 resolves norms via the masked field's
    NumericDocValues). The docs table carries doclen/norm_byte (single field)
    and field_lens (multi-field), so the full array is one bounded per-segment
    parquet read — exactly the file Lucene's reader maps per segment."""
    from ..functions.smallfloat import int_to_byte4

    path = os.path.join(index_dir, "docs", f"wave={int(wave)}",
                        f"segment_id={int(segment_id)}")
    dense = np.zeros(int(max_doc), dtype=np.uint8)
    if multi_field and fld:
        t = _dataset_table(path, ["docid", "field_lens"])
        if t is None:
            return None
        d = t.column("docid").to_numpy(zero_copy_only=False).astype(np.int64)
        # pyarrow map columns materialize as list-of-(key, value) pairs
        maps = t.column("field_lens").to_pylist()

        def _get(m):
            if not m:
                return 0
            if isinstance(m, dict):
                return int(m.get(fld) or 0)
            return next((int(v or 0) for k, v in m if k == fld), 0)

        lens = np.fromiter((_get(m) for m in maps),
                           dtype=np.int64, count=len(maps))
        nz = lens > 0
        dense[d[nz]] = int_to_byte4(lens[nz])
        return dense
    t = _dataset_table(path, ["docid", "norm_byte"])
    if t is None:
        return None
    d = t.column("docid").to_numpy(zero_copy_only=False).astype(np.int64)
    nb = t.column("norm_byte").to_numpy(zero_copy_only=False)
    dense[d] = nb.astype(np.uint8)
    return dense


@dataclass(frozen=True)
class DeleteSpec:
    """Picklable per-segment delete-resolution recipe for kernel tasks.

    Holds only the committed generation lists plus which segments carry any
    deletes (from the snapshot's del_count/soft_del_count bookkeeping) — a
    few ints per segment, safe in a task closure at any index size. The
    actual docid arrays are read task-locally by deleted_for()."""

    index_dir: str
    delete_gens: tuple = ()
    soft_delete_gens: tuple = ()
    hard_segs: frozenset = field(default_factory=frozenset)
    soft_segs: frozenset = field(default_factory=frozenset)
    include_soft: bool = False  # True: soft-deleted docs stay visible

    @classmethod
    def from_snapshot(cls, index_dir: str, snapshot: dict,
                      include_soft: bool = False) -> "DeleteSpec | None":
        segs = snapshot.get("segments", [])
        spec = cls(
            index_dir=index_dir,
            delete_gens=tuple(snapshot.get("delete_gens", []) or []),
            soft_delete_gens=tuple(snapshot.get("soft_delete_gens", []) or []),
            hard_segs=frozenset(s["segment_id"] for s in segs
                                if s.get("del_count", 0) > 0),
            soft_segs=frozenset(s["segment_id"] for s in segs
                                if s.get("soft_del_count", 0) > 0),
            include_soft=include_soft,
        )
        return spec if spec.any else None

    @property
    def any(self) -> bool:
        return bool(self.hard_segs
                    or (not self.include_soft and self.soft_segs))

    def deleted_for(self, segment_id: int) -> np.ndarray | None:
        """Sorted unique deleted docids this reader must hide for a segment
        (hard deletes, plus soft deletes unless include_soft). Executor-safe;
        returns None for segments with nothing to hide without touching the
        filesystem (the common case skips all I/O)."""
        segment_id = int(segment_id)
        arrs = []
        if segment_id in self.hard_segs:
            a = read_segment_deletes(self.index_dir, segment_id,
                                     self.delete_gens, "deletes")
            if a is not None:
                arrs.append(a)
        if not self.include_soft and segment_id in self.soft_segs:
            a = read_segment_deletes(self.index_dir, segment_id,
                                     self.soft_delete_gens, "soft_deletes")
            if a is not None:
                arrs.append(a)
        if not arrs:
            return None
        if len(arrs) == 1:
            return arrs[0]
        return np.unique(np.concatenate(arrs))
