"""Self-tests of the benchmark's own checker and input generator.

    python3 perfbench/selftest.py

* the checker counts a deliberately corrupted answer as a failed operation,
  for every answer kind, without aborting;
* the generator gives byte-identical inputs for the same seed and different
  inputs for another seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402

K = 10
CORPUS = [
    (0, "w1 w2 w3 w1 w2 needle0"),
    (1, "w2 w1 w2 w5"),
    (2, "w1 w2 w1 w2 w1 w2"),
    (3, "w7 w8 w9"),
    (4, "w1 w9 w2"),
]


class _Group:
    """Group serving stand-in that answers from the oracle."""

    def __init__(self, exp):
        self.exp = exp

    def topk(self, text, k, min_score=0.0):
        return self.exp.bm25(text, min_score)


def _fake_run(exp, corrupt: str | None):
    bm25 = [("w1 w2", 0.0), ("w9", 0.0), ("w1 w5", 0.5)]
    phrases = ["w1 w2", "w2 w1", "w8 w9"]
    answers = [(kind, q, list(exp.bm25(*q))) for q in bm25 for kind in ("single", "group")]
    answers += [("phrase", p, list(exp.phrase(p))) for p in phrases]
    batch_q = [(i, t) for i, (t, _ms) in enumerate(bm25[:2])]
    rows = [
        {"query_id": qid, "rank": r + 1, "doc_id": d, "score": s}
        for qid, t in batch_q for r, (d, s) in enumerate(exp.bm25(t))
    ]
    if corrupt == "score":
        kind, q, ans = answers[0]
        answers[0] = (kind, q, [(ans[0][0], ans[0][1] * (1 + 1e-9))] + ans[1:])
    elif corrupt == "order":
        kind, q, ans = answers[1]
        answers[1] = (kind, q, ans[::-1])
    elif corrupt == "phrase":
        kind, q, ans = answers[-3]
        answers[-3] = (kind, q, [(d, t + 1) for d, t in ans])
    elif corrupt == "error":
        answers[2] = (answers[2][0], answers[2][1], RuntimeError("boom"))
    elif corrupt == "batch":
        rows[0] = dict(rows[0], doc_id=rows[0]["doc_id"] + 1)
    return SimpleNamespace(
        answers=answers, batch_rows=rows, batch_queries=batch_q, trace=False,
        group=_Group(exp),
    )


def test_checker_counts_corrupted_answers():
    exp = checks.Expected(CORPUS, tombstones={4}, k=K)
    assert sum(checks.check_run(_fake_run(exp, None), exp, exp).values()) == 0
    for corrupt in ("score", "order", "phrase", "error", "batch"):
        bad = checks.check_run(_fake_run(exp, corrupt), exp, exp)
        assert sum(bad.values()) == 1, (corrupt, bad)


def test_phrase_oracle_counts_overlaps_and_drops_tombstones():
    exp = checks.Expected(CORPUS, tombstones={1}, k=K)
    assert exp.phrase("w1 w2") == [(2, 3), (0, 2)]
    assert exp.phrase("w2 w1") == [(2, 2)]     # doc 1 is tombstoned
    assert exp.phrase("needle0 w1") == []


def _digest(spark, seed: int, d: str) -> str:
    inputs.write_corpus(spark, 300, seed, os.path.join(d, "corpus"))
    corpus = inputs.read_corpus(os.path.join(d, "corpus"))
    vecs, qvecs = inputs.make_embeddings(500, 8, 4, seed)
    inputs.write_embeddings(vecs, os.path.join(d, "emb"))
    pools = inputs.query_pools("zipf", seed, corpus, 40, 20)
    h = hashlib.sha256()
    h.update(json.dumps([corpus, pools, inputs.deleted_ids(300, seed)]).encode())
    h.update(qvecs.tobytes())
    with open(os.path.join(d, "emb", "part-0.parquet"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def test_generator_is_seeded(spark):
    tmp = tempfile.mkdtemp(dir=os.path.join(os.path.dirname(HERE), ".bench_work"))
    try:
        a = _digest(spark, 7, os.path.join(tmp, "a"))
        b = _digest(spark, 7, os.path.join(tmp, "b"))
        c = _digest(spark, 8, os.path.join(tmp, "c"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert a == b, "same seed, different inputs"
    assert a != c, "different seeds, same inputs"


def main() -> int:
    test_checker_counts_corrupted_answers()
    test_phrase_oracle_counts_overlaps_and_drops_tombstones()
    from olaf_spark.session import get_spark
    from procs import stop_spark

    os.makedirs(os.path.join(os.path.dirname(HERE), ".bench_work"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([os.path.dirname(HERE), HERE])
    spark = get_spark(2, app_name="perfbench-selftest", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})
    try:
        test_generator_is_seeded(spark)
    finally:
        stop_spark(spark)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
