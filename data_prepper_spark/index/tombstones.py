"""Document delete/upsert for the compressed index — tombstone ranges.

The reference's bulk path supports index/create/update/upsert/DELETE
(reference: data-prepper-plugins/opensearch/.../OpenSearchSink.java:347-431);
its backend implements delete the Lucene way: a liveDocs bitmap hides
documents immediately, segments drop them physically at merge time, and
relevance stats (df, avgdl, n_docs) stay stale until that merge. This
module reproduces exactly that contract:

- delete_docs / delete_conversations append [start, end) doc_id RANGES
  to ``<index>/tombstones`` (a conversation is one contiguous range
  under the arithmetic doc_id packing — no per-doc id materialization);
- a tombstone carries ``upto_seg`` = the newest segment id at delete
  time, and applies ONLY to segments <= upto_seg (Lucene's per-segment
  liveDocs): an upsert tombstones the old conversation and appends the
  replacement as a NEW segment with the same doc_ids, which the
  tombstone must not touch;
- every query kernel drops tombstoned docs at block-decode time
  (results never contain them), while idf/avgdl keep full-corpus values
  until compaction — Lucene-identical semantics;
- compact_index consumes the tombstones: postings are physically
  removed, the dictionary is rebuilt, and (n_docs, avgdl) are corrected
  by the EXACT deleted (doc, dl) deltas observed during the merge, so a
  post-compaction query is rank-identical to a fresh build over the
  reduced corpus (tests assert this).

Ranges are tiny (one row per deleted conversation/doc interval), so the
query driver loads them once and ships three sorted arrays in the
kernel closure — no join, no broadcast variable bookkeeping.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from data_prepper_spark.index import layout

# Every query kernel ships the tombstone arrays in its task closure
# (3 int64 per range). Ranges are one-per-delete-interval, so the set
# only grows adversarially under many-point-delete workloads. Past this
# threshold the budget is ENFORCED, not advised: the writer first
# coalesces the store to its minimal range form (adjacent runs merge,
# ranges subsumed by wider-scoped ones drop), and if the minimal form
# still exceeds the budget it triggers compact_index — which physically
# removes the tombstoned postings and clears the set — or, with
# auto_compact=False, refuses the write with the same instruction. A
# query task closure therefore NEVER holds more than this many ranges.
COMPACT_THRESHOLD_RANGES = 100_000  # ~2.4 MB of closure arrays


class TombstoneOverflowError(RuntimeError):
    """Raised when a delete would push the tombstone set past
    COMPACT_THRESHOLD_RANGES even in minimal (coalesced) form and the
    caller disabled auto-compaction."""


def _tomb_path(index_dir: str) -> str:
    """Current readable/appendable tombstone dir. Appends land in the
    live version; a coalesce publishes a new version behind the pointer
    (layout.py protocol), so readers never see a partial rewrite."""
    return layout.resolve(index_dir, "tombstones")


def _minimize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Minimal equivalent range set. Per upto_seg group (descending):
    merge overlapping/adjacent [start,end) runs, then drop any merged
    range fully covered by the union of strictly-wider scopes (a range
    visible to segments <= u is implied by a covering range visible to
    segments <= u' > u). Partial overlaps are kept whole — keeping a
    range is always safe, it only re-hides already-hidden docs."""

    def merge(s: np.ndarray, e: np.ndarray):
        order = np.argsort(s, kind="stable")
        s, e = s[order], e[order]
        ks, ke = [s[0]], [e[0]]
        for a, b in zip(s[1:], e[1:]):
            if a <= ke[-1]:
                ke[-1] = max(ke[-1], b)
            else:
                ks.append(a)
                ke.append(b)
        return np.array(ks, np.int64), np.array(ke, np.int64)

    out_s, out_e, out_u = [], [], []
    cov_s = np.empty(0, np.int64)
    cov_e = np.empty(0, np.int64)
    for u in sorted(pdf["upto_seg"].unique(), reverse=True):
        g = pdf[pdf["upto_seg"] == u]
        s, e = merge(g["start"].to_numpy(np.int64), g["end"].to_numpy(np.int64))
        if len(cov_s):
            # covered iff some coverage range [cs, ce) ⊇ [s, e)
            idx = np.searchsorted(cov_s, s, side="right") - 1
            ok = idx >= 0
            covered = np.zeros(len(s), dtype=bool)
            covered[ok] = e[ok] <= cov_e[idx[ok]]
            s, e = s[~covered], e[~covered]
        if len(s):
            out_s.append(s)
            out_e.append(e)
            out_u.append(np.full(len(s), u, np.int64))
            cov_s, cov_e = merge(
                np.concatenate([cov_s, s]), np.concatenate([cov_e, e])
            )
    if not out_s:
        return pd.DataFrame(
            {c: np.empty(0, np.int64) for c in ("start", "end", "upto_seg")}
        )
    return pd.DataFrame(
        {
            "start": np.concatenate(out_s),
            "end": np.concatenate(out_e),
            "upto_seg": np.concatenate(out_u),
        }
    )


def coalesce_tombstones(spark, index_dir: str) -> int:
    """Rewrite the tombstone store in minimal form (crash-safe: new
    versioned dir, pointer flip — layout.py). Returns the new count."""
    path = _tomb_path(index_dir)
    if "://" not in index_dir and not os.path.exists(path):
        return 0
    pdf = _minimize(spark.read.parquet(path).toPandas())
    layout.publish_dir(
        index_dir,
        "tombstones",
        lambda p: spark.createDataFrame(pdf).coalesce(1)
        .write.mode("overwrite").parquet(p),
    )
    return len(pdf)


def _enforce_budget(
    spark, index_dir: str, n_ranges: int, auto_compact: bool
) -> None:
    """The compact-after-N policy, enforced at write time (see module
    constant). Cheap in the common case: n_ranges comes from parquet
    footer metadata and the threshold is rarely crossed."""
    if n_ranges <= COMPACT_THRESHOLD_RANGES:
        return
    if coalesce_tombstones(spark, index_dir) <= COMPACT_THRESHOLD_RANGES:
        return
    if auto_compact:
        from data_prepper_spark.index.build import compact_index

        compact_index(spark, index_dir)  # consumes + clears the set
    else:
        raise TombstoneOverflowError(
            f"tombstone set at {index_dir!r} exceeds "
            f"{COMPACT_THRESHOLD_RANGES} ranges even after coalescing "
            "— run compact_index (CLI `compact`) to consume it, or "
            "call with auto_compact=True"
        )


def _current_seg(index_dir: str) -> int:
    from data_prepper_spark.index.reader import load_stats

    try:
        return int(load_stats(index_dir).get("snapshot_id", 0))
    except FileNotFoundError:
        return 0


def write_tombstones(
    spark, index_dir: str, ranges: list[tuple[int, int]],
    upto_seg: int | None = None, auto_compact: bool = True,
) -> None:
    """Append [start, end) doc_id ranges applying to segments
    <= upto_seg (default: the index's current newest segment). Enforces
    the range budget: coalesce, then auto-compact (or refuse when
    auto_compact=False) past COMPACT_THRESHOLD_RANGES."""
    if not ranges:
        return
    if upto_seg is None:
        upto_seg = _current_seg(index_dir)
    pdf = pd.DataFrame(
        {
            "start": np.array([r[0] for r in ranges], dtype=np.int64),
            "end": np.array([r[1] for r in ranges], dtype=np.int64),
            "upto_seg": np.full(len(ranges), upto_seg, dtype=np.int64),
        }
    )
    path = _tomb_path(index_dir)
    spark.createDataFrame(pdf).write.mode("append").parquet(path)
    # cheap: parquet row count comes from footer metadata only
    _enforce_budget(
        spark, index_dir, spark.read.parquet(path).count(), auto_compact
    )


def delete_docs(
    spark, index_dir: str, doc_ids: list[int], upto_seg: int | None = None,
    auto_compact: bool = True,
) -> None:
    """Point deletes: each doc_id becomes a [d, d+1) range."""
    write_tombstones(
        spark, index_dir, [(int(d), int(d) + 1) for d in doc_ids], upto_seg,
        auto_compact=auto_compact,
    )


def delete_conversations(
    spark, index_dir: str, conv_serials: list[int],
    stride: int | None = None, upto_seg: int | None = None,
    auto_compact: bool = True,
) -> None:
    """Delete whole conversations (the reference's purge-by-routing-id
    case): one range per conversation under the arithmetic packing."""
    from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

    s = stride or DOC_ID_STRIDE
    write_tombstones(
        spark, index_dir,
        [(int(c) * s, (int(c) + 1) * s) for c in conv_serials], upto_seg,
        auto_compact=auto_compact,
    )


class Tombstones:
    """Immutable tombstone set; per-segment resolved (and merged) range
    views are memoized — kernels call for_seg once per (term, seg)
    cursor family."""

    def __init__(self, starts: np.ndarray, ends: np.ndarray, uptos: np.ndarray):
        order = np.argsort(starts, kind="stable")
        self.starts, self.ends, self.uptos = (
            starts[order], ends[order], uptos[order]
        )
        self._per_seg: dict[int, tuple | None] = {}

    def for_seg(self, seg: int):
        """-> (starts, ends) merged ranges applying to segment `seg`,
        or None when no tombstone touches it."""
        got = self._per_seg.get(seg, "?")
        if got != "?":
            return got
        sel = self.uptos >= seg
        if not sel.any():
            self._per_seg[seg] = None
            return None
        s, e = self.starts[sel], self.ends[sel]
        ks, ke = [s[0]], [e[0]]
        for a, b in zip(s[1:], e[1:]):
            if a <= ke[-1]:
                ke[-1] = max(ke[-1], b)
            else:
                ks.append(a)
                ke.append(b)
        out = (np.array(ks, dtype=np.int64), np.array(ke, dtype=np.int64))
        self._per_seg[seg] = out
        return out


def load_tombstones(spark, index_dir: str) -> Tombstones | None:
    """-> Tombstones or None. The set is driver-small by construction
    (one row per delete-call interval), so it is read on the driver
    (layout.read_table): no Spark job."""
    path = _tomb_path(index_dir)
    if not layout.exists(path):
        return None
    t = layout.read_table(path, ["start", "end", "upto_seg"])
    if not t.num_rows:
        return None
    return Tombstones(*(t.column(c).to_numpy().astype(np.int64)
                        for c in ("start", "end", "upto_seg")))


def deleted_mask(docs: np.ndarray, ranges) -> np.ndarray:
    """Boolean mask: True where docs fall inside a (merged, sorted)
    (starts, ends) range pair. Vectorized: one searchsorted."""
    starts, ends = ranges
    idx = np.searchsorted(starts, docs, side="right") - 1
    valid = idx >= 0
    out = np.zeros(len(docs), dtype=bool)
    out[valid] = docs[valid] < ends[idx[valid]]
    return out


def deleted_mask_per_seg(
    docs: np.ndarray, segs: np.ndarray, tomb: "Tombstones"
) -> np.ndarray:
    """liveDocs mask over postings drawn from MULTIPLE segments: True
    where the posting's doc is tombstoned in ITS OWN segment (an
    upserted doc is dead in the old segment, live in the new one)."""
    out = np.zeros(len(docs), dtype=bool)
    for s in np.unique(segs):
        rng = tomb.for_seg(int(s))
        if rng is None:
            continue
        sel = segs == s
        out[sel] = deleted_mask(docs[sel], rng)
    return out


def clear_tombstones(index_dir: str) -> None:
    """Called by compact_index after tombstoned postings are physically
    removed. Clears every version of the store plus the pointer."""
    import glob
    import shutil

    for p in glob.glob(os.path.join(index_dir, "tombstones__v*")):
        shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(os.path.join(index_dir, "tombstones"), ignore_errors=True)
    try:
        os.remove(os.path.join(index_dir, "tombstones.ptr"))
    except FileNotFoundError:
        pass
