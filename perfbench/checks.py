"""Output checks.  Each returns a list of problems; empty means correct.

The checks read only committed files (parquet artifacts, manifests) and
the generator's ground truth, never the program's in-memory state, and
run after the timed loop.
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import re

import numpy as np
import pyarrow.dataset as ds

from gen import EVAL_DOCS, STOPWORDS, md5_int31

ANALYSIS_STAGES = (
    "sent_classify", "sent_distribution", "sent_trends", "sent_trend_risk",
    "summarize_prompts", "recommendation_prompts", "top_words", "run_metrics",
)


def read_dir(path: str):
    """A Spark-written (possibly hive-partitioned) parquet dir as pandas."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


# ---------------------------------------------------------------------------
# corpus_pipeline: the analysis job
# ---------------------------------------------------------------------------


def canonical_rows_fn(root: str):
    """``scripts/driver_sim.canonical_rows``: the exact-comparison rule the
    oracle parity suite uses (columns sorted, cells canonicalized, rows
    sorted)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_driver_sim", os.path.join(root, "scripts", "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canonical_rows


def oracle_rows(sf_dir: str, canonical_rows) -> dict[str, list[tuple]]:
    """Canonical rows of every analysis stage's DuckDB oracle."""
    import duckdb

    from sentiment_analysis_vector_search_spark import registry

    registry.load_all_modules()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    out = {s: canonical_rows(con.sql(registry.ORACLES[s]).df()) for s in ANALYSIS_STAGES}
    con.close()
    return out


def check_analysis_job(job_dir: str, want: dict, canonical_rows) -> list[str]:
    problems = []
    mpath = os.path.join(job_dir, "manifest.json")
    if not os.path.exists(mpath):
        return [f"{job_dir}: no manifest"]
    with open(mpath) as f:
        man = json.load(f)
    if man.get("status") != "succeeded":
        problems.append(f"{job_dir}: status {man.get('status')!r}")
    for stage in ANALYSIS_STAGES:
        got = canonical_rows(read_dir(os.path.join(job_dir, stage)))
        if man.get("stages", {}).get(stage) != len(got):
            problems.append(f"{stage}: manifest count {man['stages'].get(stage)} != {len(got)} rows")
        if got != want[stage]:
            problems.append(f"{stage}: artifact differs from the oracle")
    return problems


# ---------------------------------------------------------------------------
# corpus_pipeline: the curation pipeline
# ---------------------------------------------------------------------------


def expected_curation(truth: dict) -> dict[str, set[int]]:
    """Surviving doc ids after each doc-level stage, from the planted
    ground truth alone (mix replays the md5 sampling coin)."""
    ids = set(range(truth["docs"]))
    gate = ids - set(truth["gate_fail"])
    drop = {m for c in truth["dup_clusters"] for m in c[1:]}
    dedup = gate - drop
    exact = dedup - set(truth["exact_leaks"])
    decon = exact - set(truth["ngram_leaks"]) - set(range(EVAL_DOCS))
    # domain_mix_plan: per-source rates from the current counts
    src = truth["sources"]
    n = {}
    for i in decon:
        n[src[i]] = n.get(src[i], 0) + 1
    tot = sum(n.values())
    w = {s: 1 + md5_int31(s) % 10 for s in n}
    wsum = sum(w.values())
    cur = {s: n[s] / tot for s in n}
    tgt = {s: w[s] / wsum for s in n}
    c = min(cur[s] / tgt[s] for s in n)
    rate = {s: round(min(1.0, c * tgt[s] / cur[s]), 6) for s in n}
    mix = {i for i in decon if md5_int31(str(i)) / ((1 << 31) - 1) < rate[src[i]]}
    return {"gate": gate, "dedup": dedup, "decontaminate_exact": exact,
            "decontaminate": decon, "mix": mix}


def check_curation(out_root: str, want: dict[str, set[int]]) -> list[str]:
    problems = []
    mpath = os.path.join(out_root, "manifest.json")
    if not os.path.exists(mpath):
        return [f"{out_root}: no manifest"]
    with open(mpath) as f:
        man = json.load(f)
    for stage, ids in want.items():
        entry = man.get(stage, {})
        if not entry.get("done"):
            problems.append(f"{stage}: not done")
            continue
        got = set(read_dir(os.path.join(out_root, stage, "documents.parquet"))["doc_id"].tolist())
        if entry.get("rows_out") != len(ids):
            problems.append(f"{stage}: manifest rows_out {entry.get('rows_out')} != planted {len(ids)}")
        if got != ids:
            problems.append(
                f"{stage}: {len(got - ids)} unexpected and {len(ids - got)} missing doc ids"
            )
    shards = read_dir(os.path.join(out_root, "shards", "documents.parquet"))
    if set(shards["doc_id"].tolist()) != want["mix"] or len(shards) != len(want["mix"]):
        problems.append("shards: doc ids differ from the mix stage")
    if man.get("shards", {}).get("rows_out") != len(want["mix"]):
        problems.append("shards: manifest rows_out differs from the mix stage")
    packed = read_dir(os.path.join(out_root, "pack", "sequences.parquet"))
    if int(packed["n_docs"].sum()) != len(want["mix"]):
        problems.append("pack: packed doc count differs from the mix stage")
    if man.get("pack", {}).get("rows_out") != len(packed):
        problems.append("pack: manifest rows_out differs from the artifact")
    return problems


# ---------------------------------------------------------------------------
# vector_search
# ---------------------------------------------------------------------------


class VectorTruth:
    """Exact answers for the corpus as it stands after ``b`` ingests."""

    def __init__(self, base_vecs, base_texts, batches):
        self.vecs = [np.asarray(base_vecs, np.float64)]
        self.ids = [np.arange(len(base_vecs))]
        self.tf: list[dict[str, int]] = [_tf(t) for t in base_texts]
        self.doc_ids = list(range(len(base_texts)))
        self.batches = batches
        self.applied = 0

    def advance(self, b: int) -> None:
        while self.applied < b:
            bt = self.batches[self.applied]
            self.vecs.append(np.asarray(bt["vecs"], np.float64))
            self.ids.append(np.asarray(bt["vec_ids"]))
            self.tf.extend(_tf(t) for t in bt["texts"])
            self.doc_ids.extend(bt["doc_ids"])
            self.applied += 1

    def knn(self, q: np.ndarray, k: int = 10):
        m = np.concatenate(self.vecs)
        ids = np.concatenate(self.ids)
        cos = (m @ q) / (np.sqrt(np.einsum("ij,ij->i", m, m)) * math.sqrt(q @ q))
        order = np.lexsort((ids, -np.round(cos, 6)))[:k]
        return ids[order], dict(zip(ids.tolist(), cos.tolist()))

    def bm25(self, words: tuple[str, ...]) -> dict[int, float]:
        n = len(self.tf)
        dls = [sum(t.values()) for t in self.tf]
        avgdl = sum(dls) / n
        df = {w: sum(1 for t in self.tf if w in t) for w in words}
        scores: dict[int, float] = {}
        for i, t in enumerate(self.tf):
            s = 0.0
            hit = False
            for w in words:
                tf = t.get(w)
                if tf:
                    hit = True
                    idf = math.log((2 * n + 2) / (2 * df[w] + 1))
                    s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dls[i] / avgdl))
            if hit:
                scores[self.doc_ids[i]] = s
        return scores


def _tf(text: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for w in re.split(r"\s+", text.lower()):
        if w and w not in STOPWORDS:
            out[w] = out.get(w, 0) + 1
    return out


def check_knn(rows: list[tuple], exact_ids, cos: dict[int, float], k: int = 10) -> list[str]:
    """rows: (vec_id, cosine, rk) as returned.  The ANN answer may miss
    true neighbours (that is recall, measured separately) but every
    returned row must be a real vector with its true cosine, ranked."""
    problems = []
    if len(rows) != k:
        problems.append(f"knn: {len(rows)} rows, want {k}")
    rows = sorted(rows, key=lambda r: r[2])
    if [r[2] for r in rows] != list(range(1, len(rows) + 1)):
        problems.append("knn: ranks are not 1..k")
    for a, b in zip(rows, rows[1:]):
        if (a[1], -a[0]) < (b[1], -b[0]):
            problems.append("knn: rows not ordered by cosine desc, vec_id asc")
            break
    for vid, c, _ in rows:
        if vid not in cos:
            problems.append(f"knn: vec_id {vid} not in the corpus")
        elif abs(round(cos[vid], 6) - c) > 1.5e-6:
            problems.append(f"knn: vec_id {vid} cosine {c} != {cos[vid]:.6f}")
    return problems


def recall(rows: list[tuple], exact_ids) -> float:
    return len({r[0] for r in rows} & set(int(i) for i in exact_ids)) / len(exact_ids)


def check_bm25(rows: list[tuple], scores: dict[int, float], k: int = 10) -> list[str]:
    """rows: (doc_id, score, rk).  Top-k by an independent recompute, with
    scores compared to 1e-8 (the program sums decimal(30,10) terms and
    uses its own ln; ties at the k-th score may go either way)."""
    problems = []
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if len(rows) != len(want):
        return [f"bm25: {len(rows)} rows, want {len(want)}"]
    if not want:
        return problems
    kth = want[-1][1]
    tol = 1e-8
    got = {r[0] for r in rows}
    for did, s, _ in rows:
        if did not in scores:
            problems.append(f"bm25: doc {did} has no query word")
        elif abs(scores[did] - s) > tol:
            problems.append(f"bm25: doc {did} score {s} != {scores[did]}")
        elif scores[did] < kth - tol:
            problems.append(f"bm25: doc {did} is below the k-th score")
    for did, s in want:
        if s > kth + tol and did not in got:
            problems.append(f"bm25: doc {did} (score {s}) missing")
    ranks = sorted(rows, key=lambda r: r[2])
    if [r[2] for r in ranks] != list(range(1, len(rows) + 1)):
        problems.append("bm25: ranks are not 1..k")
    return problems


def check_indexes(ivf_dir: str, txt_dir: str, n_vecs: int, n_docs: int) -> list[str]:
    problems = []
    ids = ds.dataset(
        os.path.join(ivf_dir, "assignments"), format="parquet", partitioning="hive"
    ).to_table(columns=["vec_id"]).column("vec_id").to_numpy()
    if len(ids) != n_vecs or len(np.unique(ids)) != n_vecs:
        problems.append(f"ivf: {len(ids)} rows / {len(np.unique(ids))} ids, want {n_vecs}")
    with open(os.path.join(txt_dir, "manifest.json")) as f:
        man = json.load(f)
    if man.get("n_docs") != n_docs:
        problems.append(f"text index: manifest n_docs {man.get('n_docs')} != {n_docs}")
    return problems
