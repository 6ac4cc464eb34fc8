"""Expected answers and the comparisons that count a wrong answer as failed.

Expected answers are computed once per distinct query, after the timed part:

* BM25 (single index, group, batch): ``olaf_spark.oracle.OracleIndex`` over
  main + delta, tombstoned ids dropped from its ranking (they still count in
  N and avgdl, as in the engine's merge-on-read deletes). Scores compare with
  rel_tol=1e-12.
* phrases: a pure-Python exact-sequence scan of ``tokenize_py`` tokens,
  ranked (phrase_tf desc, doc_id asc), tombstoned docs dropped.
* ANN: recall@10 of the IVF answers against numpy brute-force cosine.
"""

from __future__ import annotations

import math

import numpy as np

from olaf_spark.oracle import OracleIndex
from olaf_spark.tokenize import tokenize_py

REL_TOL = 1e-12


def same_ranking(got, want) -> bool:
    """(doc_id, score) lists equal in ids and order, scores within REL_TOL."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if int(gd) != int(wd) or not math.isclose(gs, ws, rel_tol=REL_TOL, abs_tol=1e-15):
            return False
    return True


class Expected:
    """Memoized expected answers over one corpus and tombstone set."""

    def __init__(self, corpus: list[tuple[int, str]], tombstones, k: int):
        self.k = k
        self.dead = set(int(d) for d in tombstones)
        self.corpus = corpus
        self.oracle = OracleIndex.build(corpus)
        self._pos: dict[str, dict[int, set[int]]] | None = None
        self._bm25: dict[tuple[str, float], list] = {}
        self._phrase: dict[str, list] = {}

    def bm25(self, text: str, min_score: float = 0.0) -> list[tuple[int, float]]:
        key = (text, min_score)
        if key not in self._bm25:
            ranked = sorted(
                ((d, s) for d, s in self.oracle.score_all(text).items() if d not in self.dead),
                key=lambda x: (-x[1], x[0]),
            )
            self._bm25[key] = [(d, s) for d, s in ranked[: self.k] if s >= min_score]
        return self._bm25[key]

    def positions(self) -> dict[str, dict[int, set[int]]]:
        """term -> {doc_id: token positions}, live docs only (built on first use)."""
        if self._pos is None:
            self._pos = {}
            for d, text in self.corpus:
                if d not in self.dead:
                    for i, t in enumerate(tokenize_py(text)):
                        self._pos.setdefault(t, {}).setdefault(d, set()).add(i)
        return self._pos

    def phrase(self, text: str) -> list[tuple[int, int]]:
        """Exact token-sequence occurrences per live doc (overlaps count)."""
        if text not in self._phrase:
            q = tokenize_py(text)
            maps = [self.positions().get(t, {}) for t in q]
            docs = set(maps[0]).intersection(*maps[1:]) if q else set()
            tfs = {}
            for d in docs:
                c = sum(1 for p in maps[0][d] if all(p + i in m[d] for i, m in enumerate(maps[1:], 1)))
                if c:
                    tfs[d] = c
            ranked = sorted(tfs.items(), key=lambda x: (-x[1], x[0]))
            self._phrase[text] = ranked[: self.k]
        return self._phrase[text]


def brute_force_topk(vecs: np.ndarray, qs: np.ndarray, k: int) -> list[list[int]]:
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    qn = qs / np.linalg.norm(qs, axis=1, keepdims=True)
    sims = qn @ vn.T
    return [list(np.argsort(-row, kind="stable")[:k]) for row in sims]


def recall_at_k(got: dict[int, list[int]], want: list[list[int]]) -> float:
    hits = sum(len(set(got.get(qi, ())) & set(w)) for qi, w in enumerate(want))
    return hits / sum(len(w) for w in want)


def _by_query(rows, id_key: str, val_key: str | None) -> dict[int, list]:
    """{query_id: [(doc, value) ...] in rank order} from batch result rows."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r[id_key], r[val_key] if val_key else None)
        )
    return {q: [(d, v) for _r, d, v in sorted(lst)] for q, lst in got.items()}


def check_run(run, group_exp: Expected, single_exp: Expected) -> dict[str, int]:
    """Count wrong answers of one run by kind; never raises on a mismatch."""
    from olaf_spark.phrase import phrase_topk

    bad: dict[str, int] = {}

    def count(kind: str, ok: bool) -> None:
        bad[kind] = bad.get(kind, 0) + (not ok)

    for kind, q, ans in run.answers:
        if isinstance(ans, Exception):
            count(kind, False)
        elif kind == "phrase":
            count(kind, [(int(d), int(t)) for d, t in ans] == group_exp.phrase(q))
        else:
            count(kind, same_ranking(ans, (single_exp if kind == "single" else group_exp).bm25(*q)))

    # batch rows against the same expected answers as driver-side serving: a
    # row that passes equals the (passing) group serving answer for its query
    got = _by_query(run.batch_rows, "doc_id", "score")
    for qid, text in run.batch_queries:
        count("batch", same_ranking(got.get(qid, []), group_exp.bm25(text)))

    if run.trace:
        from olaf_spark.indexer import Index
        from olaf_spark.wand import query_index

        # the compacted index answers as the group does
        compacted = Index.load(run.compacted)
        for _f, q in run.bm25_pool:
            ans = query_index(None, compacted, q[0], group_exp.k, min_score=q[1])
            want = run.group.topk(q[0], group_exp.k, min_score=q[1])
            count("compact", same_ranking(ans, want) and same_ranking(ans, group_exp.bm25(*q)))
        pgot = _by_query(run.phrase_rows, "doc_id", "phrase_tf")
        for qid, text in run.batch_phrases:
            want = phrase_topk(run.base, text, group_exp.k)
            count("phrase_batch", [(int(d), int(t)) for d, t in pgot.get(qid, [])]
                  == [(int(d), int(t)) for d, t in want] == group_exp.phrase(text))
        agot = {q: [d for d, _v in lst] for q, lst in _by_query(run.ann_rows, "vec_id", None).items()}
        run.recall = recall_at_k(agot, brute_force_topk(run.vecs, run.qvecs, group_exp.k))
        count("ann", run.recall >= run.ann_recall_floor)
    return bad
