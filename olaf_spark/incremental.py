"""Incremental index append: delta indexes, merged-on-read query, compaction.

Reference analogue: Olaf's `store` appends fingerprints to the LIVE LMDB
B+tree — readers see each committed txn (`src/olaf_db.c:309-311,499-514`),
so the index grows without a rebuild. A sorted-run store can't append
in place at Spark scale; the scale-correct re-expression is the segment
model (same move Olaf itself makes with cache/store_cached, README.md:260-272):

  append_index(new_docs)  -> builds a self-contained DELTA index under
                             <base>/deltas/delta_NNNN (snapshot-style commit:
                             the delta directory appears atomically-enough via
                             its stats.json written last by build_index)
  IndexGroup              -> main + deltas queried together, merged on read:
                             per query term, posting rows from every part are
                             decoded and scored with GROUP-GLOBAL stats
                             (N = sum n_docs, avgdl = sum total_tokens / N,
                             df = sum per-part df) — so results are
                             rank- AND score-identical to a clean rebuild
                             over the union corpus (tests/test_incremental.py)
  compact_index           -> one Spark job per tb range folds main + deltas
                             into a single new index with the build merge's
                             mapInArrow kernel (indexer.make_postings_kernel:
                             a per-term doc sort over the batch, block-max
                             metadata recomputed with group stats);
                             tombstoned postings are physically dropped. The
                             doc-range shuffle key (first_doc_col) is a JVM
                             expression, so the range sampling and map
                             stages run no Python

Scoring semantics under deletes match the base engine (wand.py): tombstones
filter postings out of results but df/N/avgdl stay as stored at append time —
deleting a doc never rescales other docs' scores. Compaction preserves that:
it carries the group's stored stats forward, so post-compaction ranks equal
pre-compaction ranks exactly.

Precondition: doc_ids are globally unique across main + deltas (they are by
construction when doc_id = xxhash64(url) and urls are unique). Appending an
existing doc_id is the one thing this module does not merge (Olaf re-store
overwrites metadata; here you delete + append instead).
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olaf_spark.codec import decode_ids_blocked, varbyte_decode
from olaf_spark.config import EngineConfig
from olaf_spark.indexer import (
    POSTINGS_SCHEMA,
    Index,
    build_index,
    make_postings_kernel,
    read_packed,
    shard_from_id_col,
    term_id_py,
    tombstone_keep_mask,
)
from olaf_spark.scorer import idf as idf_fn
from olaf_spark.tokenize import tokenize_py
from olaf_spark.wand import RawTermPostings, TermPostings, blockmax_topk, vectorized_topk

_DELTAS = "deltas"


def _delta_dirs(base_dir: str) -> list[str]:
    root = os.path.join(base_dir, _DELTAS)
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if os.path.exists(os.path.join(root, d, "stats.json"))
    ]


def append_index(
    spark: SparkSession,
    new_docs: DataFrame,
    base_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
    delta_name: str | None = None,
    with_positions: bool = False,
    with_bigrams: bool = False,
) -> Index:
    """Append new documents to an existing index as a delta segment-index.

    The delta is built with the BASE index's config — the config-freeze
    invariant (olaf_config.h:46-50) spans the whole group.

    with_bigrams=True requires the BASE to carry a bigram side index: the
    delta INHERITS the base's head set (the same pairs are indexed over
    the delta's docs), so pair authoritativeness stays uniform across the
    group — olaf_spark/bigram.py's core invariant.

    Commit protocol (Olaf analogue: LMDB's writer mutex + txn commit,
    olaf_db.c:28-37): the delta directory is CLAIMED atomically via
    metafs.claim_dir before any data lands, so two concurrent appends can never
    race onto the same delta_NNNN number; the delta only becomes visible
    to readers when stats.json lands last (_delta_dirs filters on it).

    delta_name pins the directory name — a Structured Streaming foreachBatch
    sink passes delta_epoch_{epoch_id} so an at-least-once replayed batch
    finds the committed delta and returns it instead of appending a
    duplicate (idempotent under restart). A named delta assumes ONE writer
    per name at a time (Structured Streaming serializes epochs, which is
    what makes the crashed-epoch RESUME below safe); the claim is still
    atomic (metafs contract) so a mis-deployed second concurrent writer surfaces as
    a resumed build over committed lineage, never two builds interleaving
    uncoordinated into a half-claimed directory.
    """
    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    base = Index.load(base_dir)
    root = os.path.join(base_dir, _DELTAS)
    mfs.ensure_dir(root)
    if delta_name is not None:
        delta_dir = os.path.join(root, delta_name)
        # atomic claim, same as the numbered path
        if not mfs.claim_dir(delta_dir):
            if os.path.exists(os.path.join(delta_dir, "stats.json")):
                # committed replay: near-no-op — but honor with_positions,
                # which an earlier run may not have requested (a committed
                # delta without positional rows makes phrase_topk refuse for
                # the WHOLE group; 'committed + with_positions=True implies
                # positions exist' must hold on every return path)
                committed = Index.load(delta_dir)
                if with_positions and not os.path.exists(
                    os.path.join(delta_dir, "positions_meta.json")
                ):
                    from olaf_spark.phrase import build_positions

                    build_positions(
                        spark, new_docs, delta_dir, base.cfg,
                        text_col=text_col, id_col=id_col, n_buckets=n_buckets,
                    )
                if with_bigrams and not os.path.exists(
                    os.path.join(delta_dir, "bigram_meta.json")
                ):
                    _append_bigrams(
                        spark, new_docs, base_dir, delta_dir, base.cfg,
                        text_col, id_col, n_buckets,
                    )
                return committed
            # uncommitted claim = crashed prior epoch -> resume from lineage
    else:
        n = len(os.listdir(root))  # count ALL entries incl. in-flight claims
        while True:
            delta_dir = os.path.join(root, f"delta_{n:04d}")
            if mfs.claim_dir(delta_dir):  # atomic claim (metafs contract)
                break
            n += 1
    # positions (if requested) land BEFORE build_index so stats.json — the
    # delta's commit marker — implies the positional rows exist too (a
    # replayed committed delta must never be missing its positions)
    if with_positions:
        from olaf_spark.phrase import build_positions

        # empty-input guard hoisted above build_positions: its min/max
        # doc_id collect would die with a bare TypeError on an empty batch,
        # leaving the claimed delta dir with partial positions state —
        # surface the same clear refusal build_index gives instead
        if new_docs.limit(1).count() == 0:
            raise ValueError(
                f"refusing to append an empty batch to {base_dir}: "
                "new_docs has no rows (n_docs=0)"
            )
        build_positions(
            spark, new_docs, delta_dir, base.cfg,
            text_col=text_col, id_col=id_col, n_buckets=n_buckets,
        )
    if with_bigrams:
        # no empty-batch pre-guard here (unlike positions): build_bigrams
        # counts rows in its own bounds agg and refuses with a clean
        # message, so a second limit(1).count() job per append would be
        # pure overhead
        _append_bigrams(
            spark, new_docs, base_dir, delta_dir, base.cfg,
            text_col, id_col, n_buckets,
        )
    # resume=True: never rmtree the claimed dir (re-creating it would open a
    # window where a concurrent append re-claims the same name); a replayed
    # half-built epoch delta resumes from its lineage instead.
    return build_index(
        spark, new_docs, delta_dir, base.cfg,
        text_col=text_col, id_col=id_col, n_buckets=n_buckets, resume=True,
    )


def _append_bigrams(
    spark, new_docs, base_dir, delta_dir, cfg, text_col, id_col, n_buckets
) -> None:
    """Build the delta's bigram rows under the BASE's inherited head set —
    refuses when the base has no bigram index (there is no head set to
    inherit; building one from the delta's own dfs would break the
    uniform-authoritativeness invariant)."""
    from olaf_spark.bigram import _read_meta, bigrams_usable, build_bigrams, load_heads

    if not bigrams_usable(base_dir):
        raise ValueError(
            f"with_bigrams=True but {base_dir} has no bigram side index — "
            "run build_bigrams on the base first (the delta inherits its "
            "head set)"
        )
    base_meta = _read_meta(base_dir)
    build_bigrams(
        spark, new_docs, delta_dir, cfg,
        text_col=text_col, id_col=id_col, n_buckets=n_buckets,
        min_df=base_meta["min_df"], heads=load_heads(base_dir),
    )


class IndexGroup:
    """main index + its deltas, queried as one logical index."""

    def __init__(self, parts: list[Index]):
        assert parts, "empty index group"
        self.parts = parts
        self.cfg = parts[0].cfg
        for p in parts[1:]:
            self.cfg.check_compatible(p.cfg)
        self.n_docs = sum(p.n_docs for p in parts)
        total_tokens = sum(p.stats["total_tokens"] for p in parts)
        # exact int/int division — identical float to a clean rebuild's avgdl
        self.avgdl = total_tokens / self.n_docs if self.n_docs else 0.0

    @classmethod
    def load(cls, base_dir: str, query_cfg: EngineConfig | None = None) -> "IndexGroup":
        parts = [Index.load(base_dir, query_cfg)]
        parts += [Index.load(d) for d in _delta_dirs(base_dir)]
        return cls(parts)

    def tombstones(self) -> set[int]:
        out: set[int] = set()
        for p in self.parts:
            out |= p.tombstones()
        return out

    def tombstones_arr(self) -> np.ndarray | None:
        """Sorted union of every part's cached tombstone array (the scale
        filter path — see Index.tombstones_arr); None when no deletes."""
        arrs = [a for a in (p.tombstones_arr() for p in self.parts) if a is not None]
        if not arrs:
            return None
        if len(arrs) == 1:
            return arrs[0]
        out = arrs[0]
        for a in arrs[1:]:
            out = np.union1d(out, a)
        return out

    def delete_docs(self, doc_ids: list[int]) -> None:
        # a doc lives in exactly one part but WHICH is not tracked; the
        # group tombstones on the main part and applies the union at read
        self.parts[0].delete_docs(doc_ids)

    def undelete_docs(self, doc_ids: list[int]) -> None:
        """Remove the ids from EVERY part's tombstones (the read path takes
        the union, so an id left on any part keeps the doc dead — the
        asymmetric main-part-only undelete could never clear a tombstone
        recorded on a delta)."""
        ids = {int(d) for d in doc_ids}
        for p in self.parts:
            if p.tombstones() & ids:
                p.undelete_docs(doc_ids)

    def term_dfs(self, term_ids: list[int]) -> dict[int, int]:
        """Group-global df per term: the per-(term, part) df recorded once
        per part (every chunk row of a term repeats its part's full df),
        summed across parts. Header-only reads (term_id, df), fetched
        concurrently per part — THE single source of group df semantics,
        shared by driver serving (_fetch_rows derives the same sums from
        its full-row fetch) and the distributed batch path."""
        import pyarrow.compute as pc
        from concurrent.futures import ThreadPoolExecutor

        qids = sorted(set(int(t) for t in term_ids))
        tbs = sorted({i % self.cfg.n_segments for i in qids})
        flt = pc.field("tb").isin(tbs) & pc.field("term_id").isin(qids)

        def one(p: Index) -> dict[int, int]:
            tbl = p.dataset().to_table(filter=flt, columns=["term_id", "df"])
            part_df: dict[int, int] = {}
            for tid, df in zip(tbl["term_id"].to_pylist(), tbl["df"].to_pylist()):
                part_df[tid] = int(df)  # dict assignment dedupes chunk rows
            return part_df

        with ThreadPoolExecutor(max_workers=min(8, len(self.parts))) as ex:
            per_part = list(ex.map(one, self.parts))
        out: dict[int, int] = {}
        for part_df in per_part:
            for tid, df in part_df.items():
                out[tid] = out.get(tid, 0) + df
        return out

    def _fetch_rows(self, query_text: str):
        """Posting rows for the query terms from EVERY part, plus per-(term,
        part) df. Returns (rows [(term, part_idx, row)], df_total {term: df}).
        """
        import pyarrow.compute as pc

        cfg = self.cfg
        qterms = sorted(set(tokenize_py(query_text, cfg)))
        if not qterms:
            return [], {}
        id_to_term: dict[int, str] = {}
        for t in qterms:
            id_to_term.setdefault(term_id_py(t), t)
        qids = sorted(id_to_term)
        tbs = sorted({i % cfg.n_segments for i in qids})
        flt = pc.field("tb").isin(tbs) & pc.field("term_id").isin(qids)
        # parts are independent parquet reads and pyarrow releases the GIL —
        # fetch them concurrently so group latency tracks the SLOWEST part,
        # not the sum (a steady append stream accumulates many deltas)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(self.parts))) as ex:
            tables = list(
                ex.map(lambda p: p.dataset().to_table(filter=flt), self.parts)
            )
        rows: list[tuple[str, int, dict]] = []
        part_df: dict[tuple[str, int], int] = {}
        for pi, tbl in enumerate(tables):
            for r in tbl.to_pylist():
                term = id_to_term[r["term_id"]]
                rows.append((term, pi, r))
                # every row of a term within one part carries that part's
                # full df — record it once per (term, part)
                part_df[(term, pi)] = int(r["df"])
        df_total: dict[str, int] = {}
        for (term, _), v in part_df.items():
            df_total[term] = df_total.get(term, 0) + v
        return rows, df_total

    def load_term_postings(self, query_text: str) -> list[TermPostings]:
        """Merged-on-read decode: per term, concatenate every part's postings
        and score with group-global (N, avgdl, df).

        Mirrors wand.load_term_postings but with cross-part stats — the
        exactness referent for the group's blockmax path (the default
        serving path, load_term_postings_raw).
        """
        rows_all, df_total = self._fetch_rows(query_text)
        per_term: dict[str, list[dict]] = {}
        for term, _pi, r in rows_all:
            per_term.setdefault(term, []).append(r)
        cfg = self.cfg

        ts_arr = self.tombstones_arr()
        out: list[TermPostings] = []
        for term in sorted(per_term):
            rows = per_term[term]
            w = idf_fn(self.n_docs, df_total[term])
            ids_l, tfs_l, dls_l = [], [], []
            for r in rows:
                ids = decode_ids_blocked(bytes(r["doc_ids_bin"]), cfg.block_size)
                ids_l.append(ids.astype(np.int64))
                tfs_l.append(varbyte_decode(bytes(r["tfs_bin"])))
                dls_l.append(varbyte_decode(bytes(r["doc_lens_bin"])))
            ids = np.concatenate(ids_l)
            tfs_f = np.concatenate(tfs_l).astype(np.float64)
            dls_f = np.concatenate(dls_l).astype(np.float64)
            if ts_arr is not None:
                keep = tombstone_keep_mask(ids, ts_arr)
                ids, tfs_f, dls_f = ids[keep], tfs_f[keep], dls_f[keep]
            scores = w * (
                tfs_f * (cfg.k1 + 1.0)
                / (tfs_f + cfg.k1 * (1.0 - cfg.b + cfg.b * dls_f / self.avgdl))
            )
            out.append(
                TermPostings(
                    term=term, idf=w, doc_ids=ids, scores=scores,
                    block_lasts=np.empty(0, dtype=np.int64),
                    block_maxes=np.empty(0, dtype=np.float64),
                    max_score=float(scores.max()) if scores.size else 0.0,
                )
            )
        return out

    def load_term_postings_raw(self, query_text: str) -> list[RawTermPostings]:
        """UNDECODED posting rows with group-valid block-max bounds — the
        delta-phase scale path. Between appends and compaction, stored
        block_maxes were computed with PART-local stats (w_p = idf over the
        part's N/df, A_p = the part's avgdl); the group scores with
        w_g / A_g. Rescaling is cheap math, no rebuild:

          contribution = idf * f(tf, dl; avgdl)   is linear in idf, and
          f(tf, dl; A_g) <= f(tf, dl; A_p) * max(1, A_g / A_p)
            (f = tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl): the ratio
             (C + r_p*dl)/(C + r_g*dl) is monotone in dl, bounded by
             r_p/r_g = A_g/A_p; <= 1 when A_g <= A_p)

        so  stored_max * (w_g / w_p) * max(1, A_g / A_p)  is a valid upper
        bound on any group-stat contribution in the block, and the lazy
        block-max scorer (wand.blockmax_topk) prunes the live group exactly
        like a compacted index. idf is strictly positive (ln(1 + x), x > 0),
        so the quotient is always defined. Exact scores are still computed
        from raw tf/dl with group stats at decode time — bounds only steer
        the pruning, never the score. Olaf analogue: live appends share the
        sorted B+tree read path with queries (src/olaf_db.c:309-311).
        """
        rows_all, df_total = self._fetch_rows(query_text)
        out: list[RawTermPostings] = []
        for term, pi, r in sorted(rows_all, key=lambda x: (x[0], x[1], x[2]["chunk"])):
            part = self.parts[pi]
            w_g = idf_fn(self.n_docs, df_total[term])
            w_p = idf_fn(part.n_docs, int(r["df"]))
            scale = (w_g / w_p) * max(1.0, self.avgdl / part.avgdl)
            out.append(
                RawTermPostings(
                    term=term,
                    idf=w_g,
                    id_buf=bytes(r["doc_ids_bin"]),
                    tf_buf=bytes(r["tfs_bin"]),
                    dl_buf=bytes(r["doc_lens_bin"]),
                    id_offs=np.asarray(r["id_offs"], dtype=np.int64),
                    tf_offs=np.asarray(r["tf_offs"], dtype=np.int64),
                    dl_offs=np.asarray(r["dl_offs"], dtype=np.int64),
                    block_lasts=np.asarray(r["block_lasts"], dtype=np.int64),
                    block_maxes=np.asarray(r["block_maxes"], dtype=np.float64) * scale,
                )
            )
        return out

    def topk(
        self,
        query_text: str,
        k: int = 10,
        method: str = "blockmax",
        min_score: float | None = None,
        _prune_stats: dict | None = None,
    ) -> list[tuple[int, float]]:
        """Group top-k, rank- AND score-identical to a clean rebuild.

        method="blockmax" (default): idf-rescaled block-max pruning + lazy
        decode — only blocks that can beat theta are ever decoded, so the
        delta-phase read path keeps its pruning exactly when the index is
        biggest. method="vectorized": full decode, the exactness referent.
        """
        if method not in ("blockmax", "vectorized"):
            raise ValueError(
                f"IndexGroup.topk method must be 'blockmax' or 'vectorized', "
                f"got {method!r} (wand/exhaustive are single-index referent "
                "scorers — compact first)"
            )
        if min_score is None:
            min_score = self.cfg.min_score
        if method == "blockmax":
            return blockmax_topk(
                self.load_term_postings_raw(query_text),
                k, self.cfg, self.avgdl, self.tombstones_arr(), min_score,
                stats_out=_prune_stats,
            )
        hits = vectorized_topk(self.load_term_postings(query_text), k)
        if min_score > 0.0:
            hits = [(d, s) for d, s in hits if s >= min_score]
        return hits


def first_doc_col(bin_col: str = "doc_ids_bin"):
    """Absolute first doc_id of a packed posting row, as a JVM expression:
    the first LEB128 value of the doc-id buffer (delta encoding keeps it
    absolute), folded over at most its leading 10 bytes — the compaction
    shuffle's doc-range key, O(rows) not O(postings), with no Python
    worker in the sampling or map stage. The uint64 wraps to int64 the way
    the stored ids do; any deterministic total order works for SPLITTING a
    term's rows (chunks need not be globally doc-ordered)."""
    byte = f"CAST(conv(hex(substring({bin_col}, i, 1)), 16, 10) AS BIGINT)"
    return F.expr(
        f"CASE WHEN length({bin_col}) = 0 THEN 0L ELSE aggregate("
        f"sequence(1, least(length({bin_col}), 10)), "
        "named_struct('v', 0L, 'more', true), "
        "(acc, i) -> named_struct("
        f"'v', IF(acc.more, acc.v | shiftleft({byte} & 127L, 7 * (i - 1)), acc.v), "
        f"'more', acc.more AND ({byte} & 128L) != 0L), "
        "acc -> acc.v) END"
    )


def _positions_fold_done(out_dir: str) -> bool:
    """Resume check: the positional fold committed (lineage row + meta)."""
    import pyarrow.dataset as ds

    lin_dir = os.path.join(out_dir, "lineage")
    if not os.path.isdir(lin_dir) or not os.path.exists(
        os.path.join(out_dir, "positions_meta.json")
    ):
        return False
    dataset = ds.dataset(lin_dir, format="parquet")
    if not dataset.schema.names:
        return False
    tbl = dataset.to_table(columns=["stage", "status"])
    return any(
        s == "compact_positions" and st == "done"
        for s, st in zip(tbl["stage"].to_pylist(), tbl["status"].to_pylist())
    )


def _bigram_fold_done(out_dir: str) -> bool:
    """Resume check: the bigram fold committed (lineage row + meta)."""
    import pyarrow.dataset as ds

    lin_dir = os.path.join(out_dir, "lineage")
    if not os.path.isdir(lin_dir) or not os.path.exists(
        os.path.join(out_dir, "bigram_meta.json")
    ):
        return False
    dataset = ds.dataset(lin_dir, format="parquet")
    if not dataset.schema.names:
        return False
    tbl = dataset.to_table(columns=["stage", "status"])
    return any(
        s == "compact_bigrams" and st == "done"
        for s, st in zip(tbl["stage"].to_pylist(), tbl["status"].to_pylist())
    )


def _completed_compact_groups(out_dir: str) -> set[int]:
    """Driver-side lineage read: which tb-range groups already committed."""
    import pyarrow.dataset as ds

    lin_dir = os.path.join(out_dir, "lineage")
    if not os.path.isdir(lin_dir):
        return set()
    dataset = ds.dataset(lin_dir, format="parquet")
    if not dataset.schema.names:
        return set()
    tbl = dataset.to_table(columns=["stage", "status", "partition_id"])
    return {
        int(p)
        for s, st, p in zip(
            tbl["stage"].to_pylist(),
            tbl["status"].to_pylist(),
            tbl["partition_id"].to_pylist(),
        )
        if s == "compact_group" and st == "done"
    }


def compact_index(
    spark: SparkSession,
    base_dir: str,
    out_dir: str,
    n_merge_tasks: int | None = None,
    n_groups: int = 4,
    _after_group=None,
) -> Index:
    """Fold main + deltas (+ tombstones) into one fresh single index.

    Distributed pass per tb-range group: union every part's postings,
    shuffle by term shard, k-way merge per term, recompute block-max
    metadata under group stats. After compaction the WAND serving path is
    valid again for the whole corpus. The group's scoring statistics are
    carried forward verbatim, so ranks and scores are unchanged by
    compaction.

    RESUMABLE (north_rule; reference analogue: the restartable two-phase
    bulk load, src/olaf_fp_db_writer_cache.c:92-114): the tb domain splits
    into n_groups contiguous ranges; each range compacts as its own job
    into a staging dir, its tb partitions are promoted into postings/ by
    atomic rename, and a `compact_group` lineage row commits it. A killed
    compaction re-run with the same out_dir skips committed ranges and
    redoes only the interrupted one (its partial tb dirs are discarded
    first — they were never committed). The tombstone set is SNAPSHOTTED at
    first start (_staging/tombstones_snapshot.json), so a resume drops
    exactly the postings the original run would have; deletes landing on
    the base mid-compaction must be re-applied to the compacted index (the
    same snapshot semantics the single-pass version had). The index is only
    loadable once stats.json lands at the very end — the overall commit
    marker.

    Doc-range parallel like the build merge (indexer.py stage 2): the
    shuffle range-partitions on (tb, term_id, first_doc) — first_doc being
    each packed row's first doc_id — so a 10^12-scale head term's rows can
    split across tasks instead of one task decoding the term's full posting
    set. Group df rides a per-part pre-agg join (df_full), making scores
    independent of task boundaries (exact per group: a term lives in
    exactly one tb, so per-group pre-aggs see every row of their terms).
    """
    import json
    import shutil
    import time

    import pyarrow.dataset as pads

    from olaf_spark.indexer import _write_lineage

    group = IndexGroup.load(base_dir)
    cfg = group.cfg
    t0 = time.time()
    n_groups = max(1, min(n_groups, cfg.n_segments))
    if os.path.exists(os.path.join(out_dir, "stats.json")):
        # a COMPLETED compaction is immutable (the v1 -> v2 directory
        # pattern): re-running into it would skip every committed range and
        # stamp fresh stats over stale postings — refuse instead
        raise ValueError(
            f"{out_dir} already holds a completed compacted index; compact "
            "into a fresh out_dir (deltas appended since then are not "
            "foldable into a committed compaction)"
        )
    from olaf_spark.metafs import get_metafs

    mfs = get_metafs()
    mfs.ensure_dir(out_dir)
    cfg.save(out_dir)
    post_dir = os.path.join(out_dir, "postings")
    lin_dir = os.path.join(out_dir, "lineage")
    staging_root = os.path.join(out_dir, "_staging")
    mfs.ensure_dir(post_dir)
    mfs.ensure_dir(staging_root)

    # manifest: first run pins (tombstone snapshot, n_groups, n_parts);
    # a resume must match it — lineage rows identify done work by group
    # index, which only means anything under the SAME range partitioning
    # and input part set
    snap_path = os.path.join(staging_root, "compact_manifest.json")
    # source identity: committed tb-ranges only mean anything for the SAME
    # input — base path AND per-part doc counts (a different group with the
    # same part count must not be silently mixed into a half-done output)
    source = dict(
        base_dir=os.path.abspath(base_dir),
        part_n_docs=[p.n_docs for p in group.parts],
    )
    if os.path.exists(snap_path):
        with open(snap_path) as f:
            manifest = json.load(f)
        if (
            manifest["n_groups"] != n_groups
            or manifest.get("source") != source
        ):
            raise ValueError(
                f"interrupted compaction at {out_dir} ran with n_groups="
                f"{manifest['n_groups']} over {manifest.get('source')}; this "
                f"run requests n_groups={n_groups} over {source} — resume "
                "with the original settings and source index, or remove the "
                "out_dir to restart"
            )
        tombstones = set(manifest["tombstones"])
    else:
        tombstones = group.tombstones()
        manifest = dict(
            tombstones=sorted(tombstones),
            n_groups=n_groups,
            source=source,
        )
        mfs.publish_json(snap_path, manifest)

    dfs = [p.postings(spark) for p in group.parts]
    all_rows = dfs[0].withColumn("part", F.lit(0))
    for pi, d in enumerate(dfs[1:], start=1):
        all_rows = all_rows.unionByName(d.withColumn("part", F.lit(pi)))
    all_rows = all_rows.withColumn(
        "tb", shard_from_id_col(F.col("term_id"), cfg.n_segments)
    )
    compact_fn = make_postings_kernel(
        group.n_docs, group.avgdl, cfg, tombstones, compact=True
    )
    if n_merge_tasks is None:
        from olaf_spark.indexer import dir_bytes, merge_task_count

        n_merge_tasks = merge_task_count(
            spark,
            dir_bytes(*(os.path.join(p.index_dir, "postings") for p in group.parts)),
        )

    done = _completed_compact_groups(out_dir)
    for g in range(n_groups):
        if g in done:
            continue
        g_t0 = time.time()
        tb_lo = g * cfg.n_segments // n_groups
        tb_hi = (g + 1) * cfg.n_segments // n_groups  # exclusive
        g_rows = all_rows.where((F.col("tb") >= tb_lo) & (F.col("tb") < tb_hi))
        # group df = sum over parts of the per-part df (every chunk row of a
        # term within one part repeats that part's full df -> min() picks it
        # once per part). Broadcast when small, shuffle-join at 10^9 terms.
        df_tbl = (
            g_rows.groupBy("term_id", "part")
            .agg(F.min("df").alias("part_df"))
            .groupBy("term_id")
            .agg(F.sum("part_df").alias("df_full"))
        )
        merged = (
            g_rows.drop("tb").join(df_tbl, "term_id")
            .withColumn("tb", shard_from_id_col(F.col("term_id"), cfg.n_segments))
            .withColumn("first_doc", first_doc_col())
            .repartitionByRange(n_merge_tasks, "tb", "term_id", "first_doc")
            .sortWithinPartitions("term_id", "first_doc")
            .mapInArrow(compact_fn, POSTINGS_SCHEMA)
            .withColumn("tb", shard_from_id_col(F.col("term_id"), cfg.n_segments))
        )
        stage_dir = os.path.join(staging_root, f"group_{g:04d}")
        merged.write.mode("overwrite").partitionBy("tb").parquet(stage_dir)

        # promote: discard partial tb dirs from a crashed prior attempt of
        # THIS group (never committed), then atomic-rename the staged ones
        out_rows = out_bytes = 0
        for name in sorted(os.listdir(stage_dir)):
            if not name.startswith("tb="):
                continue
            src = os.path.join(stage_dir, name)
            dst = os.path.join(post_dir, name)
            if os.path.exists(dst):
                mfs.remove_dir(dst)  # crashed prior attempt, never committed
            out_rows += pads.dataset(src, format="parquet").count_rows()
            out_bytes += sum(
                os.path.getsize(os.path.join(dp, fn))
                for dp, _dirs, fns in os.walk(src)
                for fn in fns
            )
            mfs.promote_dir(src, dst)
        _write_lineage(
            [
                dict(
                    stage="compact_group", partition_id=g,
                    input_rows=-1, output_rows=out_rows,
                    wall_s=time.time() - g_t0,
                    rows_per_s=(out_rows / (time.time() - g_t0) if time.time() > g_t0 else 0.0),
                    bytes_out=out_bytes, status="done", ts=time.time(),
                )
            ],
            lin_dir,
        )
        mfs.remove_dir(stage_dir, ignore_errors=True)
        if _after_group is not None:
            _after_group(g)
    mfs.remove_dir(staging_root, ignore_errors=True)

    # carry the positional side index through compaction (Olaf analogue:
    # t1 timestamps ride every posting through store/merge automatically,
    # src/olaf_fp_db_writer.c:54-59): positional rows are doc-disjoint
    # across parts, so the fold is a doc-level header merge with VERBATIM
    # position-byte copies — phrase serving resumes the moment stats.json
    # lands, with no manual positions rebuild and no dark window. Runs
    # before stats.json so the overall commit marker covers it; a resume
    # that died mid-fold simply re-runs the fold (mode=overwrite).
    # positions_usable (not bare existence): a v2-format part must degrade
    # to the skip branch below — raising inside compact_positions AFTER the
    # postings groups committed but BEFORE stats.json would leave the
    # compaction permanently un-completable (every resume re-raises)
    from olaf_spark.phrase import positions_usable

    pos_have = [positions_usable(p.index_dir) for p in group.parts]
    pos_exist = [
        os.path.exists(os.path.join(p.index_dir, "positions_meta.json"))
        for p in group.parts
    ]
    if all(pos_have):
        # resume: a committed fold (lineage row + meta) is not redone
        if not _positions_fold_done(out_dir):
            from olaf_spark.phrase import compact_positions

            p_t0 = time.time()
            compact_positions(
                spark, [p.index_dir for p in group.parts], out_dir,
                tombstones, cfg, n_merge_tasks=n_merge_tasks,
            )
            _write_lineage(
                [
                    dict(
                        stage="compact_positions", partition_id=-1,
                        input_rows=-1, output_rows=-1,
                        wall_s=time.time() - p_t0, rows_per_s=0.0,
                        bytes_out=-1, status="done", ts=time.time(),
                    )
                ],
                lin_dir,
            )
    elif any(pos_exist):
        # SOME parts have a positions_meta.json but not all are usable
        # (a positionless delta, a stale pre-v3 layout, or a corrupt meta)
        # — phrase serving was already refusing on this group; skip the
        # fold and SAY so (keyed on existence, not usability: an all-stale
        # group must not be silently indistinguishable from
        # 'positions were never built')
        print(
            f"compact_index: {sum(pos_have)}/{len(pos_have)} parts carry "
            "positional rows in the current layout — positions NOT folded "
            "(phrase queries were already refusing on this group); run "
            f"build_positions on {out_dir} to restore phrase serving"
        )

    # bigram fold: same contract as the positions fold (run before
    # stats.json so the commit marker covers it; degrade, never raise,
    # when the group can't fold — serving already falls back to the
    # positional path for such groups). group_heads() is the gate: all
    # parts usable AND one shared head set (the append path inherits it,
    # so any group built through the public API passes).
    from olaf_spark.bigram import bigrams_usable, compact_bigrams, group_heads

    bg_part_dirs = [p.index_dir for p in group.parts]
    bg_exist = [
        os.path.exists(os.path.join(d, "bigram_meta.json")) for d in bg_part_dirs
    ]
    if group_heads(bg_part_dirs) is not None:
        if not _bigram_fold_done(out_dir):
            b_t0 = time.time()
            compact_bigrams(
                spark, bg_part_dirs, out_dir, tombstones, cfg,
                n_merge_tasks=n_merge_tasks,
            )
            _write_lineage(
                [
                    dict(
                        stage="compact_bigrams", partition_id=-1,
                        input_rows=-1, output_rows=-1,
                        wall_s=time.time() - b_t0, rows_per_s=0.0,
                        bytes_out=-1, status="done", ts=time.time(),
                    )
                ],
                lin_dir,
            )
    elif any(bg_exist):
        n_ok = sum(bigrams_usable(d) for d in bg_part_dirs)
        print(
            f"compact_index: {n_ok}/{len(bg_exist)} parts carry a usable "
            "bigram side index (or head sets differ) — bigrams NOT folded "
            "(phrase serving falls back to the positional path); run "
            f"build_bigrams on {out_dir} to restore the pair fast path"
        )

    # chunk ordinals are task-local (a split term emits chunk 0 in several
    # tasks), so count terms/postings via a distinct-term agg, not chunk==0
    pp = read_packed(spark, post_dir)
    per_term = pp.groupBy("term_id").agg(F.min("df").alias("df"))
    trow = per_term.agg(
        F.count(F.lit(1)).alias("n_terms"), F.sum("df").alias("n_postings")
    ).collect()[0]
    brow = pp.agg(
        F.sum(
            F.length("doc_ids_bin") + F.length("tfs_bin") + F.length("doc_lens_bin")
        ).alias("bytes")
    ).collect()[0]
    post_stats = {
        "n_terms": trow["n_terms"],
        "n_postings": trow["n_postings"],
        "bytes": brow["bytes"],
    }
    wall = time.time() - t0
    _write_lineage(
        [
            dict(
                stage="compact", partition_id=-1,
                input_rows=sum(p.stats["n_postings"] for p in group.parts),
                output_rows=int(post_stats["n_terms"]),
                wall_s=wall,
                rows_per_s=(int(post_stats["n_postings"] or 0) / wall if wall > 0 else 0.0),
                bytes_out=int(post_stats["bytes"] or 0), status="done", ts=time.time(),
            )
        ],
        os.path.join(out_dir, "lineage"),
    )
    stats = dict(
        format_version=Index.FORMAT_VERSION,
        n_docs=group.n_docs,
        avgdl=group.avgdl,
        total_tokens=sum(p.stats["total_tokens"] for p in group.parts),
        n_terms=int(post_stats["n_terms"]),
        n_postings=int(post_stats["n_postings"] or 0),
        packed_bytes=int(post_stats["bytes"] or 0),
        n_buckets=max(p.stats.get("n_buckets", 1) for p in group.parts),
        bucket_width=0,  # compacted postings are term-merged; buckets retired
        compacted_from=len(group.parts),
        build_wall_s=round(time.time() - t0, 3),
    )
    # stats.json is the compaction's COMMIT MARKER (readers and the
    # re-run refusal above both gate on it) — atomic publish
    mfs.publish_json(os.path.join(out_dir, "stats.json"), stats)
    return Index(out_dir, cfg, stats)
