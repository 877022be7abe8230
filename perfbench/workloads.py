"""The workloads.  Each is a single closed-loop client in this process:
it issues its next request only after the previous one returned.

A workload class supplies ``generate`` (inputs from the seed), ``warm``
(the warm-up part of set-up), ``loop`` (the timed requests), ``check``
(outputs against ground truth, after the loop), ``report`` (end-to-end
and named metrics) and ``layers`` (per-layer metrics from the spans).
``run.py`` drives them the same way for every workload.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import checks
import gen
from spans import Tracer, documents_scans


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest whole percentile with at least ten samples beyond it,
    as (value, percentile); (None, None) with fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return None, None
    p = int(100 * (n - 10) / n)
    return float(np.percentile(values, p)), p


class Op:
    """One client request: kind, latency and whether its output checked."""

    __slots__ = ("kind", "seconds", "ok", "detail")

    def __init__(self, kind: str, seconds: float, ok: bool = True, detail=None):
        self.kind, self.seconds, self.ok, self.detail = kind, seconds, ok, detail


# ---------------------------------------------------------------------------
# corpus_pipeline
# ---------------------------------------------------------------------------

JOB_STAGES = checks.ANALYSIS_STAGES
CURATION_STAGES = (
    "gate", "dedup", "decontaminate_exact", "decontaminate", "mix", "pack", "shards",
)


class CorpusPipeline:
    """One request curates the corpus (``run_training_pipeline``) and then
    runs the analysis job (``run_analysis_job``) over the curated docs."""

    split_table = "documents.parquet"
    docs = 4_000
    warm_docs = 500

    def __init__(self, seed: int, work: str, root: str):
        self.seed, self.work, self.root = seed, work, root
        self.in_dir = os.path.join(work, "in")
        self.warm_dir = os.path.join(work, "warm_in")
        self.jobs_root = os.path.join(work, "jobs")

    def generate(self, files: int) -> dict:
        self.truth = gen.curation_corpus(self.seed, self.docs, self.in_dir, files)
        gen.curation_corpus(self.seed + 1_000_003, self.warm_docs, self.warm_dir, files)
        t = self.truth
        return {k: t[k] for k in ("docs", "files", "gate_pass_share", "near_dup_share", "leak_share")}

    def warm(self, spark) -> None:
        from sentiment_analysis_vector_search_spark import jobs, training_pipeline

        out = os.path.join(self.work, "warm_out")
        training_pipeline.run_training_pipeline(spark, self.warm_dir, out)
        jobs.run_analysis_job(spark, os.path.join(out, "mix"), self.jobs_root, "warm")

    def loop(self, spark, seconds: float, tracer: Tracer, tag: str) -> list[Op]:
        from sentiment_analysis_vector_search_spark import jobs, registry
        from sentiment_analysis_vector_search_spark import training_pipeline as tp

        # Stage spans.  A curation stage ends where the pipeline marks it
        # done in its manifest; an analysis stage starts when the job looks
        # up the stage's registered operator and ends when the next starts.
        mark = tp._mark
        originals = {s: registry.QUERIES[s] for s in JOB_STAGES}
        cur: list = []

        def traced_mark(out_root, manifest, stage, entry):
            mark(out_root, manifest, stage, entry)
            tracer.close(cur.pop(), f"training_pipeline.{stage}")
            cur.append(tracer.open("training_pipeline.next"))

        def traced_stage(stage, fn):
            def run(spark_, sf_dir):
                if cur:
                    tracer.close(cur.pop())
                cur.append(tracer.open(f"jobs.{stage}"))
                return fn(spark_, sf_dir)
            return run

        if tracer.enabled:
            tp._mark = traced_mark
            for s, fn in originals.items():
                registry.QUERIES[s] = traced_stage(s, fn)
        ops = []
        t_end = time.perf_counter() + seconds
        try:
            while not ops or time.perf_counter() < t_end:
                name = f"{tag}{len(ops)}"
                out_root = os.path.join(self.work, f"out_{name}")
                t0 = time.perf_counter()
                t1 = None
                try:
                    with tracer.span("training_pipeline.run_training_pipeline"):
                        cur.append(tracer.open("training_pipeline.next"))
                        try:
                            tp.run_training_pipeline(spark, self.in_dir, out_root)
                        finally:
                            tracer.close(cur.pop(), "training_pipeline.data_card")
                    t1 = time.perf_counter()
                    with tracer.span("jobs.run_analysis_job", plans=True):
                        try:
                            jobs.run_analysis_job(
                                spark, os.path.join(out_root, "mix"), self.jobs_root, name
                            )
                        finally:
                            if cur:
                                tracer.close(cur.pop())
                    ok = True
                except Exception as e:  # noqa: BLE001 — a failed request is counted
                    ok = False
                    print(f"request {name} failed: {type(e).__name__}: {e}"[:500])
                t2 = time.perf_counter()
                ops.append(Op("corpus", t2 - t0, ok, (name, out_root, (t1 or t2) - t0, t2 - (t1 or t2))))
        finally:
            tp._mark = mark
            registry.QUERIES.update(originals)
        return ops

    def check(self, ops: list[Op]) -> None:
        want = checks.expected_curation(self.truth)
        canon = checks.canonical_rows_fn(self.root)
        for op in ops:
            if not op.ok:
                continue
            name, out_root = op.detail[:2]
            problems = checks.check_curation(out_root, want)
            if not problems:
                oracle = checks.oracle_rows(os.path.join(out_root, "mix"), canon)
                problems = checks.check_analysis_job(
                    os.path.join(self.jobs_root, name), oracle, canon
                )
            if problems:
                op.ok = False
                print(f"request {name}: " + "; ".join(problems[:5]))

    def report(self, ops: list[Op]) -> dict:
        lat = [o.seconds for o in ops]
        cur_s = [o.detail[2] for o in ops]
        job_s = [o.detail[3] for o in ops]
        curated = len(checks.expected_curation(self.truth)["mix"])
        return {
            "e2e": {"rows_per_s": self.docs * len(ops) / sum(lat),
                    "p50_ms": 1e3 * statistics.median(lat)},
            "named": {
                "curation_docs_per_s": (self.docs * len(ops) / sum(cur_s), "docs/s"),
                "analysis_docs_per_s": (curated * len(ops) / sum(job_s), "docs/s"),
                "curated_docs": (curated, "docs"),
            },
        }

    def layers(self, tracer: Tracer, out: dict, spark, ops: list[Op]) -> None:
        jspans = tracer.named("jobs.run_analysis_job")
        if not jspans:
            return
        cores = len(os.sched_getaffinity(0))
        med = statistics.median
        out["catalog.documents_scans"] = med(
            [documents_scans(s.counters["plans"]) for s in jspans]
        )
        out["catalog.scan_tasks"] = med([s.counters["scan_tasks"] for s in jspans])
        for stage in JOB_STAGES:
            ss = tracer.named(f"jobs.{stage}")
            out[f"jobs.{stage}.wall_s"] = med([s.wall for s in ss])
            out[f"jobs.{stage}.cpu_s"] = med([s.counters["cpu_s"] for s in ss])
        out["jobs.spark_jobs"] = med([s.counters["spark_jobs"] for s in jspans])
        out["jobs.cpu_util"] = sum(s.counters["cpu_s"] for s in jspans) / (
            cores * sum(s.wall for s in jspans)
        )
        for stage in CURATION_STAGES:
            ss = tracer.named(f"training_pipeline.{stage}")
            out[f"training_pipeline.{stage}.wall_s"] = med([s.wall for s in ss])
            out[f"training_pipeline.{stage}.shuffle_write_bytes"] = med(
                [s.counters["shuffle_write_bytes"] for s in ss]
            )
        # verified pairs / LSH candidate pairs over the dedup stage's input,
        # counted after the timed loop
        from pyspark.sql import functions as F

        from sentiment_analysis_vector_search_spark.operators import dedup

        gate_dir = os.path.join(ops[-1].detail[1], "gate")
        pairs = dedup.dedup_minhash_lsh(spark, gate_dir).localCheckpoint(eager=True)
        cand = pairs.count()
        ver = pairs.where(F.col("jaccard") >= dedup._JACCARD_T).count()
        out["dedup.candidate_precision"] = ver / cand if cand else 0.0


# ---------------------------------------------------------------------------
# vector_search
# ---------------------------------------------------------------------------


class VectorSearch:
    """A serving process: set-up builds both indexes over the base corpora
    and warms the query and ingest paths; the timed loop then serves."""

    split_table = "embeddings.parquet"
    vecs = 5_000
    docs = 5_000
    n_ops = 400
    ingest_every = 3
    ingest_rows = 200

    def __init__(self, seed: int, work: str, root: str):
        self.seed, self.work, self.root = seed, work, root
        self.in_dir = os.path.join(work, "in")
        self.w = os.path.join(work, "serve")
        self.ivf, self.txt = os.path.join(self.w, "ivf"), os.path.join(self.w, "txt")
        self.op_index = -1  # position in the client's operation script
        self.applied = 0  # ingest batches in the indexes

    def generate(self, files: int) -> dict:
        self.inp = gen.vector_inputs(
            self.seed, self.vecs, self.docs, self.in_dir, files,
            self.n_ops, self.ingest_every, self.ingest_rows,
        )
        return {"vecs": self.vecs, "docs": self.docs, "files": files,
                "ingest_every": self.ingest_every, "ingest_rows": self.ingest_rows}

    def warm(self, spark) -> None:
        from sentiment_analysis_vector_search_spark.operators import similarity, text_index

        t0 = time.perf_counter()
        similarity.build_ivf_index(spark, self.in_dir, self.ivf)
        text_index.build_text_index(
            spark, spark.read.parquet(os.path.join(self.in_dir, "documents.parquet")), self.txt
        )
        self.build_s = time.perf_counter() - t0
        self._knn(spark, self.inp["pool_q"][0], -1)
        self._bm25(spark, self.inp["pool_w"][0])
        # ingest batch 0 warms the drains; the loop ingests from batch 1
        self._land(0)
        self._drain(spark, Tracer("", False))
        self.applied = 1

    def _knn(self, spark, q, qid: int, tracer: Tracer | None = None):
        from sentiment_analysis_vector_search_spark.operators import similarity

        tracer = tracer or Tracer("", False)
        sp = tracer.open("similarity.ann_ivf_index_query")
        qdf = spark.createDataFrame(
            [(10**12 + qid, [float(x) for x in q])], "query_id bigint, qv array<double>"
        )
        df = similarity.ann_ivf_index_query(spark, self.ivf, qdf)
        tracer.close(sp)
        sp = tracer.open("similarity.collect")
        rows = [(r.vec_id, r.cosine, r.rk) for r in df.collect()]
        tracer.close(sp)
        if sp is not None:
            sp.counters["rows"] = len(rows)
        return rows

    def _bm25(self, spark, words, tracer: Tracer | None = None):
        from sentiment_analysis_vector_search_spark.operators import text_index

        tracer = tracer or Tracer("", False)
        sp = tracer.open("text_index.text_index_query")
        df = text_index.text_index_query(spark, self.txt, tuple(words))
        tracer.close(sp)
        sp = tracer.open("text_index.collect")
        rows = [(r.doc_id, r.score, r.rk) for r in df.collect()]
        tracer.close(sp)
        if sp is not None:
            sp.counters["rows"] = len(rows)
        return rows

    def _land(self, b: int) -> None:
        """A producer lands ingest batch ``b`` in both stream sources."""
        gen.write_ingest_batch(
            gen.vector_batch(self.inp, b),
            os.path.join(self.w, "vsrc"), os.path.join(self.w, "dsrc"), b,
        )

    def _drain(self, spark, tracer: Tracer) -> tuple[float, float]:
        from sentiment_analysis_vector_search_spark.streaming import file_sink

        with tracer.span("file_sink.stream_ivf_ingest"):
            t0 = time.perf_counter()
            file_sink.stream_ivf_ingest(
                spark, os.path.join(self.w, "vsrc"), self.ivf, os.path.join(self.w, "ck_ivf")
            )
            t1 = time.perf_counter()
        with tracer.span("file_sink.stream_text_index_maintenance"):
            file_sink.stream_text_index_maintenance(
                spark, os.path.join(self.w, "dsrc"), self.txt, os.path.join(self.w, "ck_txt")
            )
            t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def loop(self, spark, seconds: float, tracer: Tracer, tag: str) -> list[Op]:
        inp = self.inp
        ops = []
        t_end = time.perf_counter() + seconds
        # run for ``seconds``, and at least until each kind has one sample
        while time.perf_counter() < t_end or {o.kind for o in ops} != {"knn", "bm25", "ingest"}:
            self.op_index += 1
            i = self.op_index
            kind, arg = inp["ops"][i]
            if kind == "ingest":
                self._land(self.applied)
            t0 = time.perf_counter()
            try:
                if kind == "knn":
                    rows = self._knn(spark, inp["pool_q"][arg], i, tracer)
                elif kind == "bm25":
                    rows = self._bm25(spark, inp["pool_w"][arg], tracer)
                else:
                    rows = self._drain(spark, tracer)
                    self.applied += 1
                ok = True
            except Exception as e:  # noqa: BLE001 — a failed request is counted
                ok, rows = False, None
                print(f"{kind} op {i} failed: {type(e).__name__}: {e}"[:500])
            ops.append(Op(kind, time.perf_counter() - t0, ok, (arg, self.applied, rows)))
        return ops

    def check(self, ops: list[Op]) -> None:
        inp = self.inp
        truth = checks.VectorTruth(
            inp["base_vecs"], inp["base_texts"],
            [gen.vector_batch(inp, b) for b in range(self.applied)],
        )
        self.recalls = []
        for op in ops:
            if op.kind not in ("knn", "bm25") or not op.ok:
                continue
            arg, applied, rows = op.detail
            truth.advance(applied)
            if op.kind == "knn":
                ids, cos = truth.knn(inp["pool_q"][arg])
                problems = checks.check_knn(rows, ids, cos)
                self.recalls.append(checks.recall(rows, ids))
            else:
                problems = checks.check_bm25(rows, truth.bm25(tuple(inp["pool_w"][arg])))
            if problems:
                op.ok = False
                print(f"{op.kind} ({arg}, after {applied} ingests): " + "; ".join(problems[:3]))
        n = self.applied * self.ingest_rows
        problems = checks.check_indexes(self.ivf, self.txt, self.vecs + n, self.docs + n)
        if problems:
            print("indexes: " + "; ".join(problems))
            for op in ops:
                if op.kind == "ingest":
                    op.ok = False

    def report(self, ops: list[Op]) -> dict:
        knn = [o.seconds for o in ops if o.kind == "knn"]
        bm = [o.seconds for o in ops if o.kind == "bm25"]
        ing = [o for o in ops if o.kind == "ingest"]
        # rows landed per ingest (vectors + docs) over the median ingest time
        ing_rate = 2 * self.ingest_rows / statistics.median([o.seconds for o in ing]) if ing else 0.0
        queries = knn + bm
        named = {
            "index_build_s": (self.build_s, "s"),
            "knn_p50_ms": (1e3 * statistics.median(knn), "ms") if knn else None,
            "bm25_p50_ms": (1e3 * statistics.median(bm), "ms") if bm else None,
            "ingest_rows_per_s": (ing_rate, "rows/s") if ing else None,
            "knn_recall_at_10": (statistics.mean(self.recalls), "ratio") if self.recalls else None,
        }
        for name, xs in (("knn", knn), ("bm25", bm)):
            v, p = tail(xs)
            named[f"{name}_tail_ms"] = (1e3 * v, f"ms@p{p}") if v is not None else None
        keys = [(o.kind, o.detail[0]) for o in ops if o.kind in ("knn", "bm25")]
        named["repeat_query_share"] = (1 - len(set(keys)) / max(1, len(keys)), "ratio")
        return {
            "e2e": {"rows_per_s": ing_rate,
                    "p50_ms": 1e3 * statistics.median(queries) if queries else 0.0},
            "named": named,
        }

    def layers(self, tracer: Tracer, out: dict, spark, ops: list[Op]) -> None:
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        for prefix, cons, col in (
            ("similarity.knn", "similarity.ann_ivf_index_query", "similarity.collect"),
            ("text_index.bm25", "text_index.text_index_query", "text_index.collect"),
        ):
            c, k = tracer.named(cons), tracer.named(col)
            out[f"{prefix}_construct_ms"] = 1e3 * med([s.wall for s in c])
            out[f"{prefix}_collect_ms"] = 1e3 * med([s.wall for s in k])
            out[f"{prefix}_spark_jobs"] = med(
                [a.counters["spark_jobs"] + b.counters["spark_jobs"] for a, b in zip(c, k)]
            )
            # rows the query's scans read per returned row
            out[f"{prefix}_candidates_per_result"] = med(
                [(a.counters["input_records"] + b.counters["input_records"]) / max(1, b.counters["rows"])
                 for a, b in zip(c, k)]
            )
        out["file_sink.ivf_drain_s"] = med([s.wall for s in tracer.named("file_sink.stream_ivf_ingest")])
        out["file_sink.text_drain_s"] = med(
            [s.wall for s in tracer.named("file_sink.stream_text_index_maintenance")]
        )


WORKLOADS = {"corpus_pipeline": CorpusPipeline, "vector_search": VectorSearch}
