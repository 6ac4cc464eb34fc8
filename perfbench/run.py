"""The engine benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload zipf --seed 1 --seconds 4 --trace 0

A run is one process on ``get_spark(nproc)`` with no extra client threads.
It does, in order:

  set-up  generate the inputs from --seed (corpus parquet, embeddings,
          query pools) SETUP_REPS times; setup_s is the median.
  ingest  build_index, build_positions and build_bigrams on the main 90%,
          append_index of the delta with positions and bigrams, delete_docs
          of a seeded 1%.
  serve   closed loop, one client: WARMUP_OPS operations, then TIMED_PASSES
          passes (and on until --seconds have passed) over a seeded shuffle
          of wand.query_index (default method) on the main index,
          IndexGroup.topk (blockmax) on main + delta + tombstones, and
          phrase_topk on the group. A query's latency is the least of its
          timed executions; p50 and p90 are over the distinct queries.
  batch   between the serve passes: a warm-up call, then
          batch_query_index_group at 32 and at 1024 queries; each call is
          planned, then executed by collect().
  check   expected answers, once per distinct query, after all timing.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}. With --trace 0 it holds the end-to-end metrics. With --trace 1 the
same run is traced (spans around every call, Spark's event log on) and also
runs compact_index, build_ivf_index, batch_phrase_topk and
ann_ivf_batch_topk; the line holds the per-layer metrics. The line before
it holds the run's details.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

# Every engine call costs seconds of fixed Spark job overhead at any corpus
# size; these sizes keep one run near a minute on a 4-core machine.
N_DOCS = 2000          # 1800 main + 200 delta
N_VEC, DIM = 20_000, 32
N_ANN = 64             # queries in the ANN batch
N_BM25, N_PHRASE = 100, 100   # distinct queries per pool: p90 has 10 beyond it
K = 10
NPROBE, N_CENTROIDS = 4, 16
ANN_RECALL_FLOOR = 0.9
SETUP_REPS = 3
# after WARMUP_OPS operations, every serve query runs at least TIMED_PASSES
# times (in each mode of a traced run); its latency is the least of these
# executions. A whole warm-up pass measured no slower than a timed one, so a
# short warm-up suffices.
TIMED_PASSES = 3
WARMUP_OPS = 30
WORKLOADS = ("zipf", "head")

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)
E2E = {m["name"]: m for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m for m in SPEC["per_layer"]}
SERVE_E2E = [m for m in E2E if m.startswith(("serve_", "group_serve_", "phrase_"))]


def _percentile(vals, q):
    import numpy as np

    return float(np.percentile(np.asarray(vals), q))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _d, fs in os.walk(path) for f in fs)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share the host gave other guests."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def _calibration_ms() -> float:
    """Least of three timings of a fixed pure-Python loop: the machine's speed
    at this moment, for telling a slower host from a slower program."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    def __init__(self, args, work: str):
        from spans import Tracer

        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.walls: dict[str, tuple[float, float]] = {}   # call -> epoch interval
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed}
        self.attempted = 0
        self.bad: dict[str, int] = {}
        self.answers: list[tuple] = []   # (kind, query, answer) of every timed op
        self.ann_recall_floor = ANN_RECALL_FLOOR
        self.spark = None

    # ------------------------------------------------------------------ spark
    def start_spark(self):
        from olaf_spark.session import get_spark

        conf = {
            "spark.driver.memory": "4g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",   # the zstd default needs a missing module
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
            })
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = get_spark(self.nproc, app_name="perfbench", shuffle_partitions=self.nproc,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.detail["nproc"] = self.nproc
        self.detail["spark_conf"] = dict(
            kv for kv in self.spark.sparkContext.getConf().getAll()
            if kv[0].startswith("spark.sql.") or kv[0] in ("spark.master", "spark.driver.memory")
        )

    def stop_spark(self):
        from procs import stop_spark

        left = stop_spark(self.spark)
        if left:
            raise RuntimeError(f"processes {left} did not end")

    def spark_call(self, key: str, fn, job_label: str | None = None):
        """Run fn as one labelled call; returns (result, wall seconds)."""
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobDescription(job_label or key)
        with self.tracer.span(key):
            a, t0 = time.time(), time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            self.walls[key] = (a, time.time())
        if self.trace:
            sc.setJobDescription(None)
        return out, dt

    # ----------------------------------------------------------------- set-up
    def setup(self):
        import inputs

        times, digests = [], set()
        for rep in range(SETUP_REPS):
            d = os.path.join(self.work, f"inputs{rep}")
            t0 = time.perf_counter()
            inputs.write_corpus(self.spark, N_DOCS, self.args.seed, os.path.join(d, "corpus"))
            corpus = inputs.read_corpus(os.path.join(d, "corpus"))
            vecs, qvecs = inputs.make_embeddings(N_VEC, DIM, N_ANN, self.args.seed)
            inputs.write_embeddings(vecs, os.path.join(d, "embeddings"))
            bm25, phrases = inputs.query_pools(self.args.workload, self.args.seed, corpus, N_BM25, N_PHRASE)
            times.append(time.perf_counter() - t0)
            digests.add(hash((tuple(corpus), tuple(bm25), tuple(phrases), vecs.tobytes())))
        self.bad["setup"] = int(len(digests) != 1)   # same seed, same inputs
        self.attempted += 1
        self.e2e["setup_s"] = statistics.median(times)
        self.detail["setup_reps_s"] = times
        self.inputs_dir = d
        self.corpus, self.vecs, self.qvecs = corpus, vecs, qvecs
        self.bm25_pool, self.phrase_pool = bm25, phrases
        self.split = inputs.split_ids(N_DOCS)
        self.deleted = inputs.deleted_ids(N_DOCS, self.args.seed)
        self.detail["text_bytes"] = sum(len(t.encode("utf-8")) for _, t in corpus)

    # ----------------------------------------------------------------- ingest
    def ingest(self):
        from olaf_spark.bigram import build_bigrams
        from olaf_spark.config import EngineConfig
        from olaf_spark.incremental import IndexGroup, append_index
        from olaf_spark.indexer import build_index
        from olaf_spark.phrase import build_positions

        spark, cfg, nb = self.spark, EngineConfig(), self.nproc
        docs = spark.read.parquet(os.path.join(self.inputs_dir, "corpus"))
        main = docs.where(f"doc_id < {self.split}")
        delta = docs.where(f"doc_id >= {self.split}")
        self.base = os.path.join(self.work, "index")

        _, t_ix = self.spark_call("build_index", lambda: build_index(spark, main, self.base, cfg, n_buckets=nb))
        if self.trace:
            self.layers["indexer.files_written"] = sum(len(fs) for _p, _d, fs in os.walk(self.base))
        _, t_pos = self.spark_call("build_positions", lambda: build_positions(spark, main, self.base, cfg, n_buckets=nb))
        _, t_bg = self.spark_call("build_bigrams", lambda: build_bigrams(spark, main, self.base, cfg, n_buckets=nb))
        _, t_app = self.spark_call("append_index", lambda: append_index(
            spark, delta, self.base, n_buckets=nb, with_positions=True, with_bigrams=True))
        with self.tracer.span("delete_docs"):
            IndexGroup.load(self.base).delete_docs(self.deleted)
        self.attempted += 5
        self.e2e["build_s"] = t_ix + t_pos + t_bg
        self.e2e["append_s"] = t_app

    # ------------------------------------------------------------------ serve
    def serve(self, between: list):
        """The serve passes; the callables in between run one after each pass."""
        import numpy as np

        import hooks
        from olaf_spark.incremental import IndexGroup
        from olaf_spark.indexer import Index
        from olaf_spark.phrase import phrase_topk
        from olaf_spark.wand import query_index

        spark, tr, base = self.spark, self.tracer, self.base
        self.single = Index.load(base)     # the main index on its own
        self.group = IndexGroup.load(base)

        def op_single(q):
            return query_index(spark, self.single, q[0], K, min_score=q[1])

        def op_group(q):
            return self.group.topk(q[0], K, min_score=q[1])

        def op_phrase(text):
            if not tr.enabled:
                return phrase_topk(base, text, K)
            st: dict = {}
            with tr.span("phrase.topk") as rec:
                out = phrase_topk(base, text, K, _stats=st)
                rec.update(st)
            return out

        pools = {"single": self.bm25_pool, "group": self.bm25_pool, "phrase": self.phrase_pool}
        fns = {"single": op_single, "group": op_group, "phrase": op_phrase}
        # A warm-up, then passes over a seeded permutation of the pools,
        # alternately reversed and forward, with the batch calls between
        # them, so a query's executions lie far apart in time. A query's
        # latency is the least of its timed executions, so a disturbed
        # stretch of the shared machine does not set the figure. A
        # traced run alternates untraced and traced passes, so the tracing
        # overhead is measured on the same queries in the same process.
        rng = np.random.default_rng([self.args.seed, 4])
        seq = [(kind, qi) for kind, pool in pools.items() for qi in range(len(pool))]
        seq = [seq[j] for j in rng.permutation(len(seq))]
        modes = (False, True) if self.trace else (False,)
        best: dict[tuple[bool, str, int], float] = {}
        deadline = time.perf_counter() + self.args.seconds
        n = passes = 0
        pass_s = []
        while passes <= TIMED_PASSES * len(modes) or time.perf_counter() < deadline:
            timed = passes - 1   # -1: the warm-up
            traced = timed >= 0 and modes[timed % len(modes)]
            tr.enabled = traced
            patched = hooks.install(tr) if traced else []
            t_pass = time.perf_counter()
            order = seq[:WARMUP_OPS] if timed < 0 else seq if (timed // len(modes)) % 2 else seq[::-1]
            for kind, qi in order:
                q = pools[kind][qi][1]
                with tr.span("serve." + kind, op_id=n):
                    t0 = time.perf_counter()
                    try:
                        ans = fns[kind](q)
                    except Exception as e:  # noqa: BLE001 -- a failed op counts; the loop goes on
                        ans = e
                    dt = (time.perf_counter() - t0) * 1000.0
                if timed >= 0:
                    key = (traced, kind, qi)
                    best[key] = min(dt, best.get(key, dt))
                self.answers.append((kind, q, ans))
                n += 1
            pass_s.append(time.perf_counter() - t_pass)
            hooks.remove(patched)
            tr.enabled = self.trace
            passes += 1
            if between:
                between.pop(0)()
        for step in between:
            step()
        self.attempted += n

        def percentiles(traced: bool) -> dict[str, float]:
            out = {}
            for kind, name in (("single", "serve"), ("group", "group_serve"), ("phrase", "phrase")):
                lat = [v for (t, k, _q), v in best.items() if t == traced and k == kind]
                out[f"{name}_p50_ms"] = _percentile(lat, 50)
                out[f"{name}_p90_ms"] = _percentile(lat, 90)
            return out

        if self.trace:   # the traced figures stand as the run's; untraced ones are the reference
            self.untraced_serve = percentiles(False)
            self.e2e.update(percentiles(True))
        else:
            self.e2e.update(percentiles(False))
        # p50 per query family (untraced), so a change to one family's cost
        # shows even where the pooled percentiles hide it
        fam: dict[str, list[float]] = {}
        for (traced, kind, qi), v in best.items():
            if not traced:
                fam.setdefault(f"{kind}.{pools[kind][qi][0]}", []).append(v)
        self.detail["family_p50_ms"] = {f: _percentile(v, 50) for f, v in sorted(fam.items())}
        self.detail["serve_ops"] = n
        self.detail["serve_pass_s"] = pass_s
        self.detail["serve_queries"] = {k: len(p) for k, p in pools.items()}

    # ------------------------------------------------------------------ batch
    def run_batch(self, name: str, plan):
        """Plan (the call returns a lazy DataFrame), then execute by collect()."""
        df, t_plan = self.spark_call(name + ".plan", plan, job_label=name)
        rows, t_exec = self.spark_call(name + ".exec", df.collect, job_label=name)
        return rows, t_plan + t_exec

    def batch(self) -> list:
        """The batch calls, as steps for serve() to run between its passes."""
        from olaf_spark.batch import batch_query_index_group

        plain = [q for _f, (q, ms) in self.bm25_pool if ms == 0.0]
        self.batch_queries = [(i, plain[i % len(plain)]) for i in range(1024)]

        def bm25(qs):
            return lambda: batch_query_index_group(self.spark, self.group, qs, k=K)

        def warmup():   # compiles the plan shape both sizes share
            self.run_batch("warmup.batch", bm25(self.batch_queries[:32]))

        def batch32():
            self.e2e["batch32_s"] = self.run_batch("batch32", bm25(self.batch_queries[:32]))[1]

        def batch1024():
            self.batch_rows, t = self.run_batch("batch1024", bm25(self.batch_queries))
            self.e2e["batch_qps"] = len(self.batch_queries) / t
            self.attempted += len(self.batch_queries)

        return [warmup, batch32, batch1024]

    # --------------------------------------------- traced run: the heavy calls
    def traced_extras(self):
        from olaf_spark.incremental import compact_index
        from olaf_spark.ops.similarity import ann_ivf_batch_topk, build_ivf_index
        from olaf_spark.phrase import batch_phrase_topk

        spark = self.spark
        self.compacted = os.path.join(self.work, "compacted")
        self.ivf = os.path.join(self.work, "ivf")
        self.spark_call("compact_index", lambda: compact_index(spark, self.base, self.compacted, n_groups=1))
        nbytes = _dir_bytes(self.compacted)
        self.layers["compact.bytes_written"] = nbytes
        self.layers["compact.bytes_per_text_byte"] = nbytes / self.detail["text_bytes"]

        emb = spark.read.parquet(os.path.join(self.inputs_dir, "embeddings"))
        self.spark_call("build_ivf_index", lambda: build_ivf_index(
            spark, emb, self.ivf, n_centroids=N_CENTROIDS, sample_size=5000, seed=self.args.seed))

        self.batch_phrases = [(i, self.phrase_pool[i % len(self.phrase_pool)][1]) for i in range(64)]
        self.run_batch("warmup.phrase_batch",
                       lambda: batch_phrase_topk(spark, self.base, self.batch_phrases[:16], k=K))
        self.phrase_rows, t_pb = self.run_batch(
            "phrase_batch", lambda: batch_phrase_topk(spark, self.base, self.batch_phrases, k=K))
        ann_q = [(i, [float(x) for x in v]) for i, v in enumerate(self.qvecs)]
        self.run_batch("warmup.ann", lambda: ann_ivf_batch_topk(spark, self.ivf, ann_q[:8], k=K, nprobe=NPROBE))
        self.ann_rows, t_ann = self.run_batch(
            "ann_batch", lambda: ann_ivf_batch_topk(spark, self.ivf, ann_q, k=K, nprobe=NPROBE))
        self.layers["phrase_batch.qps"] = len(self.batch_phrases) / t_pb
        self.layers["ann.qps"] = len(ann_q) / t_ann
        self.attempted += 2 + len(self.batch_phrases) + len(self.bm25_pool) + 1

    # ------------------------------------------------------------------ check
    def check(self):
        from checks import Expected, check_run

        main_docs = [(d, t) for d, t in self.corpus if d < self.split]
        dead = self.group.tombstones()
        self.bad.update(check_run(
            self,
            group_exp=Expected(self.corpus, dead, K),
            single_exp=Expected(main_docs, dead, K),
        ))
        if self.trace:
            self.layers["ann.recall_at_10"] = self.recall
        self.detail["failed_by_kind"] = self.bad

    # ------------------------------------------------------------------ main
    def run(self) -> None:
        phases = self.detail["phase_s"] = {}

        def phase(name, fn):
            t0 = time.perf_counter()
            fn()
            phases[name] = time.perf_counter() - t0

        ticks0 = _cpu_ticks()
        calib = [_calibration_ms()]
        try:
            phase("start_spark", self.start_spark)
            jvm_pid = self.spark.sparkContext._gateway.proc.pid
            phase("setup", self.setup)
            phase("ingest", self.ingest)
            phase("serve_batch", lambda: self.serve(self.batch()))
            if self.trace:
                phase("traced_extras", self.traced_extras)
            self.detail["peak_rss_mb"] = (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0 + _peak_rss_mb(jvm_pid)
            )
        finally:
            phase("stop_spark", self.stop_spark)
        phase("check", self.check)
        self.detail["loadavg"] = os.getloadavg()
        self.detail["calibration_ms"] = calib + [_calibration_ms()]   # before, after
        steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
        self.detail["cpu_steal_pct"] = 100.0 * steal / total if total else 0.0
        if self.trace:
            self.trace_metrics()

    def trace_metrics(self):
        import layers

        self.layers.update(layers.spark_layers(os.path.join(self.work, "eventlog"), self.walls))
        self.layers.update(layers.serve_layers(self.tracer, len(self.group.parts)))
        self.layers.update(layers.coverage(self.tracer))
        self.layers["process.peak_rss_mb"] = self.detail["peak_rss_mb"]
        # serve: traced passes against the untraced passes of this run. The
        # event log is on for the whole session, so the other metrics compare
        # with untraced runs of the same seed and source, when there are any.
        ref = history_medians(self.args.workload, self.args.seed)
        self.detail["overhead_reference_runs"] = ref.pop("_runs", 0)
        ref.update(self.untraced_serve)
        overhead = {}
        for m, v in self.e2e.items():
            if m in ref:
                worse = ref[m] / v if E2E[m]["better"] == "higher" else v / ref[m]
                overhead[m] = 100.0 * (worse - 1.0)
        self.detail["tracing_overhead_pct"] = overhead
        for m in SERVE_E2E:
            self.layers[f"tracing.overhead_pct.{m}"] = overhead[m]
        self.tracer.dump(os.path.join(ROOT, ".bench_work", f"spans-{self.args.workload}-{self.args.seed}.jsonl"))


def source_digest() -> str:
    """Digest of the engine and benchmark sources: runs of one commit share it."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "olaf_spark"), HERE):
        for dp, dirs, files in os.walk(top):
            dirs.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                with open(os.path.join(dp, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()


def _history_path(workload: str) -> str:
    return os.path.join(ROOT, ".bench_work", "history", workload + ".jsonl")


def record_history(workload: str, seed: int, e2e: dict) -> None:
    os.makedirs(os.path.dirname(_history_path(workload)), exist_ok=True)
    with open(_history_path(workload), "a", encoding="utf-8") as f:
        f.write(json.dumps({"seed": seed, "source": source_digest(), "e2e": e2e}) + "\n")


def history_medians(workload: str, seed: int) -> dict:
    """Median of every end-to-end metric over this checkout's untraced runs
    of the same seed and the same sources ({} when there are none)."""
    key = {"seed": seed, "source": source_digest()}
    try:
        with open(_history_path(workload), encoding="utf-8") as f:
            runs = [r["e2e"] for r in map(json.loads, filter(str.strip, f))
                    if {k: r.get(k) for k in key} == key]
    except FileNotFoundError:
        runs = []
    if not runs:
        return {}
    out = {m: statistics.median(r[m] for r in runs) for m in E2E}
    out["_runs"] = len(runs)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an error, so Spark and its processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    from olaf_spark import session  # noqa: F401 -- fail fast outside the repository

    work = os.path.join(ROOT, ".bench_work", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import olaf_spark and these modules; Spark's scratch
    # files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    try:
        run = Run(args, work)
        run.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(run.bad.values())
    if args.trace:
        metrics = {k: {"value": run.layers[k], "unit": m["unit"]} for k, m in PER_LAYER.items()}
    else:
        record_history(args.workload, args.seed, run.e2e)
        metrics = {k: {"value": run.e2e[k], "unit": m["unit"]} for k, m in E2E.items()}
    print(json.dumps({"detail": run.detail, "e2e": run.e2e}, default=float))
    print(json.dumps({
        "correct": failed == 0, "attempted": run.attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
