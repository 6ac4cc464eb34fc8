"""Edge cases of the Arrow posting kernels: the postings pack/merge/
compaction kernel (indexer.make_postings_kernel) and the positional
pack/fold (phrase._make_pack_positions / _make_fold_positions).

Every posting table is checked against the pure-Python OracleIndex, and
every chunk's block metadata against codec.block_maxes recomputed on that
chunk alone — block maxima must stay exact however the kernels slice terms
into batches, tasks and chunks.
"""

from __future__ import annotations

import glob
import json
import os
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pytest

from olaf_spark.bigram import build_bigrams
from olaf_spark.codec import (
    block_maxes,
    decode_block,
    decode_ids_blocked,
    delta_decode,
    varbyte_decode,
)
from olaf_spark.config import EngineConfig
from olaf_spark.incremental import IndexGroup, append_index, compact_index
from olaf_spark.indexer import Index, build_index, make_postings_kernel, term_id_py
from olaf_spark.oracle import OracleIndex
from olaf_spark.phrase import _make_fold_positions, build_positions
from olaf_spark.scorer import idf
from olaf_spark.synth import gen_pages
from olaf_spark.tokenize import tokenize_py

# block_size 128 and a 256-posting row cap: every term in more than 256
# docs splits into block-aligned chunks
CFG = EngineConfig(max_row_postings=256)
N_DOCS = 400
SPLIT = 300     # docs [0, 300) main, [300, 400) delta


@pytest.fixture(scope="module")
def corpus(spark):
    pages = gen_pages(spark, N_DOCS, seed=5).select("doc_id", "text").cache()
    rows = sorted((r["doc_id"], r["text"]) for r in pages.collect())
    return pages, rows


@pytest.fixture(scope="module")
def main_index(spark, corpus, tmp_path_factory):
    """Main index with positions and bigrams over the whole corpus."""
    pages, rows = corpus
    d = str(tmp_path_factory.mktemp("kern") / "ix")
    index = build_index(spark, pages, d, CFG, n_buckets=4)
    build_positions(spark, pages, d, CFG, n_buckets=4)
    build_bigrams(spark, pages, d, CFG, n_buckets=4)
    return index


def _table(path: str) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def _expected(rows, dead=frozenset()):
    """Oracle postings keyed by term_id: ({term_id: {doc: (tf, dl)}},
    {term_id: df}); df counts dead docs too (stored stats never shrink)."""
    oracle = OracleIndex.build(rows, CFG)
    want, dfs = {}, {}
    for term, plist in oracle.postings.items():
        tid = term_id_py(term)
        dfs[tid] = len(plist)
        live = {d: (tf, oracle.doc_len[d]) for d, tf in plist if d not in dead}
        if live:
            want[tid] = live
    return want, dfs


def check_postings(rows, n_docs: int, avgdl: float, want, dfs) -> dict[int, int]:
    """Assert posting rows equal the oracle and carry exact per-chunk block
    metadata and seek tables; returns rows per term."""
    bs = CFG.block_size
    cap = max(bs, (CFG.max_row_postings // bs) * bs)
    got: dict[int, dict] = {}
    n_rows: dict[int, int] = {}
    for r in rows:
        ids = decode_ids_blocked(r["doc_ids_bin"], bs).astype(np.int64)
        tfs = varbyte_decode(r["tfs_bin"])
        dls = varbyte_decode(r["doc_lens_bin"])
        assert 0 < ids.size <= cap and ids.size == tfs.size == dls.size
        assert np.all(np.diff(ids) > 0)
        assert r["df"] == dfs[r["term_id"]]
        lasts, bm = block_maxes(
            ids.astype(np.uint64), tfs.astype(np.float64), dls.astype(np.float64),
            idf(n_docs, r["df"]), CFG.k1, CFG.b, avgdl, bs,
        )
        assert r["block_lasts"] == lasts.tolist()
        assert r["block_maxes"] == bm.tolist()   # exact, not approximate
        for buf, offs, full, delta in (
            (r["doc_ids_bin"], r["id_offs"], ids.astype(np.uint64), True),
            (r["tfs_bin"], r["tf_offs"], tfs, False),
            (r["doc_lens_bin"], r["dl_offs"], dls, False),
        ):
            assert len(offs) == lasts.size
            for j in range(len(offs)):
                blk = decode_block(buf, np.asarray(offs), j, delta)
                assert np.array_equal(blk, full[j * bs:(j + 1) * bs])
        per = got.setdefault(r["term_id"], {})
        for d, tf, dl in zip(ids.tolist(), tfs.tolist(), dls.tolist()):
            assert d not in per, "posting in two chunks"
            per[d] = (tf, dl)
        n_rows[r["term_id"]] = n_rows.get(r["term_id"], 0) + 1
    assert got == want
    return n_rows


def _positions_expected(rows, dead=frozenset()):
    out = {}
    for d, text in rows:
        if d in dead:
            continue
        for p, t in enumerate(tokenize_py(text, CFG)):
            out.setdefault((term_id_py(t), d), []).append(p)
    return out


def check_positions(rows, want) -> None:
    got = {}
    for r in rows:
        ids = delta_decode(varbyte_decode(r["doc_ids_bin"])).astype(np.int64)
        cnts = varbyte_decode(r["pos_counts_bin"])
        offs = list(r["pos_offs"]) + [len(r["pos_bin"])]
        assert r["n_docs"] == ids.size == cnts.size == len(r["pos_offs"])
        for i, d in enumerate(ids.tolist()):
            pos = np.cumsum(varbyte_decode(r["pos_bin"][offs[i]:offs[i + 1]]))
            assert pos.size == cnts[i]
            assert (r["term_id"], d) not in got
            got[(r["term_id"], d)] = pos.tolist()
    assert got == want


def test_long_term_splits_into_block_aligned_chunks(corpus, main_index):
    """A term in more docs than max_row_postings spans several rows, each
    at most the block-aligned cap, with block metadata local to the row."""
    _, rows = corpus
    want, dfs = _expected(rows)
    assert max(dfs.values()) > 256   # the corpus has terms past the row cap
    ix = main_index
    n_rows = check_postings(
        _table(os.path.join(ix.index_dir, "postings")).to_pylist(),
        ix.n_docs, ix.avgdl, want, dfs,
    )
    assert max(n_rows.values()) >= 2


def test_kernels_carry_terms_across_arrow_batches(spark, corpus, tmp_path):
    """64-row Arrow batches: every head term spans many batches in the
    pack, the merge and both compaction folds (postings and positions),
    so the term-group carry must reassemble each term exactly. Doc 97's
    needle term has its only posting tombstoned, so its compaction slice
    is empty and the term must vanish from the compacted tables."""
    from pyspark.sql import functions as F

    pages, rows = corpus
    base = str(tmp_path / "base")
    dead = {97, 98, 305}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        build_index(spark, pages.where(F.col("doc_id") < SPLIT), base, CFG, n_buckets=4)
        build_positions(spark, pages.where(F.col("doc_id") < SPLIT), base, CFG, n_buckets=4)
        append_index(
            spark, pages.where(F.col("doc_id") >= SPLIT), base, n_buckets=4,
            with_positions=True,
        )
        IndexGroup.load(base).delete_docs(sorted(dead))
        out = str(tmp_path / "compacted")
        compact_index(spark, base, out)
    finally:
        spark.conf.set(key, old)

    main = Index.load(base)
    check_postings(
        _table(os.path.join(base, "postings")).to_pylist(),
        main.n_docs, main.avgdl, *_expected(rows[:SPLIT]),
    )
    comp = Index.load(out)
    want, dfs = _expected(rows, dead)
    assert term_id_py("needle97") in dfs and term_id_py("needle97") not in want
    check_postings(
        _table(os.path.join(out, "postings")).to_pylist(),
        comp.n_docs, comp.avgdl, want, dfs,
    )
    check_positions(
        _table(os.path.join(out, "positions")).to_pylist(),
        _positions_expected(rows, dead),
    )


def _merge_input(index: Index) -> pa.Table:
    """The merge's input rows for an index: segment runs sorted by (term,
    bucket) with the pre-aggregated df_full column."""
    seg = _table(os.path.join(index.index_dir, "segments"))
    seg = seg.sort_by([("term_id", "ascending"), ("bucket", "ascending")])
    dfs = seg.group_by("term_id").aggregate([("n_docs", "sum")])
    idx = pc.index_in(seg["term_id"], value_set=dfs["term_id"])
    return seg.append_column("df_full", pc.take(dfs["n_docs_sum"], idx))


def test_merge_term_split_across_tasks(corpus, main_index):
    """A term whose runs land in two merge tasks: each task emits its own
    doc-disjoint rows (chunk ordinals restart at 0), and together they
    equal the oracle with exact block maxima from the global df."""
    _, rows = corpus
    ix = main_index
    seg = _merge_input(ix)
    terms = seg["term_id"].to_numpy()
    uniq, first, n_runs = np.unique(terms, return_index=True, return_counts=True)
    df = seg["df_full"].to_numpy()[first]
    # a term with 3+ bucket runs that fits one row: one chunk per task
    multi = uniq[(n_runs >= 3) & (df <= CFG.max_row_postings)][0]
    cut = int(first[uniq == multi][0]) + 1   # its first run | the rest
    kernel = make_postings_kernel(ix.n_docs, ix.avgdl, CFG)
    out = []
    for task in (seg.slice(0, cut), seg.slice(cut)):
        out += [b for b in kernel(iter(task.to_batches(max_chunksize=50)))]
    got = pa.Table.from_batches(out).to_pylist()
    split_rows = [r for r in got if r["term_id"] == multi]
    assert len(split_rows) == 2 and {r["chunk"] for r in split_rows} == {0}
    check_postings(got, ix.n_docs, ix.avgdl, *_expected(rows))


def test_compaction_slice_all_tombstoned(corpus, main_index):
    """A compaction slice whose postings are all tombstoned emits no row,
    in the postings fold and in the positional fold; in a mixed slice the
    dead term vanishes and the others lose only their dead postings."""
    _, rows = corpus
    ix = main_index
    post = _table(os.path.join(ix.index_dir, "postings"))
    post = post.append_column("df_full", post["df"]).sort_by("term_id")
    pos = _table(os.path.join(ix.index_dir, "positions")).sort_by("term_id")
    needle = term_id_py("needle194")
    dead = {194}

    def only(tbl, tid):
        return tbl.filter(pc.equal(tbl["term_id"], tid))

    postings_fold = make_postings_kernel(ix.n_docs, ix.avgdl, CFG, dead, compact=True)
    assert list(postings_fold(iter(only(post, needle).to_batches()))) == []
    with open(os.path.join(ix.index_dir, "positions_meta.json")) as f:
        pm = json.load(f)
    bts = SimpleNamespace(value=np.asarray(sorted(dead), dtype=np.int64))
    pos_fold = _make_fold_positions(pm["lo"], pm["width"], pm["n_buckets"], bts)
    assert list(pos_fold(iter(only(pos, needle).to_batches()))) == []

    got = pa.Table.from_batches(
        list(postings_fold(iter(post.to_batches(max_chunksize=100))))
    ).to_pylist()
    want, dfs = _expected(rows, dead)
    assert needle not in want
    check_postings(got, ix.n_docs, ix.avgdl, want, dfs)
    got_pos = pa.Table.from_batches(
        list(pos_fold(iter(pos.to_batches(max_chunksize=100))))
    ).to_pylist()
    check_positions(got_pos, _positions_expected(rows, dead))


def test_written_files_are_term_sorted(main_index):
    """cluster_for_write sorts each write task on (partition, term_id):
    every segments, positions and bigrams file holds a non-decreasing
    term_id column, so row-group term_id stats stay tight."""
    import pyarrow.parquet as pq

    n = 0
    for sub in ("segments", "positions", "bigrams"):
        for f in glob.glob(os.path.join(main_index.index_dir, sub, "*=*", "*.parquet")):
            t = pq.read_table(f, columns=["term_id"])["term_id"].to_numpy()
            assert np.all(np.diff(t) >= 0), f
            n += 1
    assert n >= 3
