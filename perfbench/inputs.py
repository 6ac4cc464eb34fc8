"""Seeded inputs: corpus, embeddings and query pools.

Everything a run hands the engine comes from here and from ``--seed`` alone:

* corpus     ``olaf_spark.synth.gen_pages(spark, n_docs, seed)`` -- Zipf
             (s=1.07) over 50k terms ``w<rank>``, lognormal doc lengths, a
             planted ``needle<doc_id>`` term at the end of every 97th doc --
             written to parquet (doc_id, text). The last DELTA_SHARE of the
             ids is the delta batch.
* embeddings seeded numpy blobs (N_BLOBS directions plus noise), written with
             pyarrow, and a batch of query vectors drawn near the blobs.
* queries    a pool of a few hundred distinct queries per family, drawn from
             the generated corpus text (verbatim slices, adjacent head
             pairs) and from the vocabulary ranks.

The repository's sf* documents are not used: their 31-term vocabulary puts
30 of the terms in 76-78% of the docs, so block-max pruning, term-frequency
skew and per-term pack/merge cost cannot show on them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from olaf_spark.synth import NEEDLE_EVERY, gen_pages
from olaf_spark.tokenize import tokenize_py

DELTA_SHARE = 0.10
DELETE_SHARE = 0.01
HEAD_RANK = 50        # w1..w50: every query term in the head family
TORSO_RANK = 2_000    # w51..w2000: torso; above: tail
N_BLOBS = 32
# min_score of the thresholded families: each keeps about half of a query's
# top 10 (measured with the oracle at seeds 1-3: 4.8-6.5 of 10 on the zipf
# mix queries, 4.9-6.2 of 10 on three-head-term queries), so the skip path
# both prunes and answers
THRESHOLD = 5.0
HEAD_THRESHOLD = 4.2

# (family, share of the pool) per workload; shares sum to 1 per kind. The
# shares are chosen, not taken from traffic: the repository has no query log.
# On zipf each family drives one serving path and none holds half a pool, so
# no one path sets the pooled p50; head keeps to the longest lists on
# purpose. run.py reports each family's p50, so a change to one family shows
# even where the pooled percentiles hide it.
#   head         2-4 head terms: the longest posting lists, the most decoding
#   mix          one head, one torso, one tail term: the usual shape of a
#                query over a Zipf vocabulary, so the largest zipf share
#   needle       a term in one doc plus a head term: a short-list lookup
#   oov          terms in no doc: the fixed cost of an empty answer
#   thresholded  min_score > 0: the skip path (see THRESHOLD); on head, of
#                three head terms
#   slice        a verbatim 2-4-token doc span: a phrase that matches
#   head_pair    two adjacent head terms seen in the corpus: the bigram path
#   head_run     three of w1..w10: the longest candidate lists
#   absent       a needle followed by a term: candidates, never a match
BM25_MIX = {
    "zipf": [("head", 0.2), ("mix", 0.35), ("needle", 0.15), ("oov", 0.1), ("thresholded", 0.2)],
    "head": [("head", 0.8), ("thresholded_head", 0.2)],
}
PHRASE_MIX = {
    "zipf": [("slice", 0.6), ("head_pair", 0.25), ("absent", 0.15)],
    "head": [("head_pair", 0.7), ("head_run", 0.3)],
}


def write_corpus(spark, n_docs: int, seed: int, path: str) -> None:
    gen_pages(spark, n_docs, seed).select("doc_id", "text").write.mode(
        "overwrite"
    ).parquet(path)


def read_corpus(path: str) -> list[tuple[int, str]]:
    """[(doc_id, text)] in doc_id order, read driver-side with pyarrow."""
    tbl = pq.read_table(path, columns=["doc_id", "text"])
    rows = zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
    return sorted(rows)


def split_ids(n_docs: int) -> int:
    """First doc_id of the delta batch."""
    return n_docs - int(round(n_docs * DELTA_SHARE))


def deleted_ids(n_docs: int, seed: int) -> list[int]:
    rng = np.random.default_rng([seed, 1])
    n = max(1, int(round(n_docs * DELETE_SHARE)))
    return sorted(int(d) for d in rng.choice(n_docs, size=n, replace=False))


def make_embeddings(n_vec: int, dim: int, n_queries: int, seed: int):
    """(vectors float64 [n_vec, dim], queries float64 [n_queries, dim])."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.standard_normal((N_BLOBS, dim)) * 4.0
    vecs = centers[rng.integers(N_BLOBS, size=n_vec)] + 0.5 * rng.standard_normal((n_vec, dim))
    qs = centers[rng.integers(N_BLOBS, size=n_queries)] + 0.5 * rng.standard_normal((n_queries, dim))
    return vecs, qs


def write_embeddings(vecs: np.ndarray, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    flat = pa.array(vecs.reshape(-1), pa.float64())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float64()))
    tbl = pa.table({"vec_id": pa.array(np.arange(len(vecs)), pa.int64()), "embedding": emb})
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


def _rank_term(rng, lo: int, hi: int) -> str:
    return f"w{int(rng.integers(lo, hi + 1))}"


def _is_head(tok: str) -> bool:
    return tok.startswith("w") and tok[1:].isdigit() and int(tok[1:]) <= HEAD_RANK


def _bm25_query(family: str, rng, n_docs: int) -> tuple[str, float]:
    """(query text, min_score)"""
    if family == "head":
        return " ".join(_rank_term(rng, 1, HEAD_RANK) for _ in range(int(rng.integers(2, 5)))), 0.0
    if family == "thresholded_head":
        return " ".join(_rank_term(rng, 1, HEAD_RANK) for _ in range(3)), HEAD_THRESHOLD
    if family in ("mix", "thresholded"):
        q = " ".join([
            _rank_term(rng, 1, HEAD_RANK),
            _rank_term(rng, HEAD_RANK + 1, TORSO_RANK),
            _rank_term(rng, TORSO_RANK + 1, 50_000),
        ])
        return q, (THRESHOLD if family == "thresholded" else 0.0)
    if family == "needle":
        d = int(rng.integers(0, (n_docs - 1) // NEEDLE_EVERY + 1)) * NEEDLE_EVERY
        return f"needle{d} {_rank_term(rng, 1, HEAD_RANK)}", 0.0
    if family == "oov":
        return f"zzqx{int(rng.integers(1_000_000))} zzqy{int(rng.integers(1_000_000))}", 0.0
    raise ValueError(family)


def _phrase(family: str, rng, docs_toks: list[list[str]], head_pairs: list[str]) -> str:
    if family == "slice":
        toks = docs_toks[int(rng.integers(len(docs_toks)))]
        n = int(rng.integers(2, 5))
        i = int(rng.integers(0, max(1, len(toks) - n)))
        return " ".join(toks[i:i + n])
    if family == "head_pair":
        return head_pairs[int(rng.integers(len(head_pairs)))]
    if family == "head_run":
        return " ".join(_rank_term(rng, 1, 10) for _ in range(3))
    if family == "absent":
        # a needle is always a doc's LAST token, so nothing ever follows it
        d = int(rng.integers(0, len(docs_toks) // NEEDLE_EVERY + 1)) * NEEDLE_EVERY
        return f"needle{d} {_rank_term(rng, 1, HEAD_RANK)}"
    raise ValueError(family)


def _pool(mix, make, n: int, rng) -> list:
    """n distinct items drawn family by family in the mix's shares."""
    out, seen = [], set()
    for family, share in mix:
        want, tries = max(1, int(round(n * share))), 0
        got = 0
        while got < want and tries < want * 50:
            tries += 1
            item = make(family, rng)
            key = item[0] if isinstance(item, tuple) else item
            if key in seen:
                continue
            seen.add(key)
            out.append((family, item))
            got += 1
    return out


def query_pools(workload: str, seed: int, corpus: list[tuple[int, str]], n_bm25: int, n_phrase: int):
    """(bm25 pool [(family, (text, min_score))], phrase pool [(family, text)])"""
    rng = np.random.default_rng([seed, 3])
    docs_toks = [tokenize_py(t) for _, t in corpus]
    head_pairs = sorted({
        f"{a} {b}"
        for toks in docs_toks[:400]
        for a, b in zip(toks, toks[1:])
        if _is_head(a) and _is_head(b)
    })
    n_docs = len(corpus)
    bm25 = _pool(BM25_MIX[workload], lambda f, r: _bm25_query(f, r, n_docs), n_bm25, rng)
    phrases = _pool(PHRASE_MIX[workload], lambda f, r: _phrase(f, r, docs_toks, head_pairs), n_phrase, rng)
    return bm25, phrases
