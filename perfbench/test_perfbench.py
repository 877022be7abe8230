"""Tests of the benchmark itself: generator determinism, and every output
check firing on a deliberately corrupted output.  No Spark session is
started; run from the repository root with

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "make",
    [
        lambda seed, d: gen.curation_corpus(seed, 400, d, 3),
        lambda seed, d: {
            k: v for k, v in gen.vector_inputs(seed, 200, 200, d, 3, 40, 8, 10).items()
            if k in ("ops", "pool_w", "base_texts")
        },
    ],
    ids=["corpus", "vector"],
)
def test_generator_is_deterministic(tmp_path, make):
    a = make(7, str(tmp_path / "a"))
    b = make(7, str(tmp_path / "b"))
    c = make(8, str(tmp_path / "c"))
    assert gen.file_digest(str(tmp_path / "a")) == gen.file_digest(str(tmp_path / "b"))
    assert json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)
    assert gen.file_digest(str(tmp_path / "a")) != gen.file_digest(str(tmp_path / "c"))


def test_ingest_batches_are_deterministic(tmp_path):
    for d in ("a", "b"):
        inp = gen.vector_inputs(3, 100, 100, str(tmp_path / d / "in"), 2, 20, 4, 5)
        gen.write_ingest_batch(gen.vector_batch(inp, 1), str(tmp_path / d / "v"), str(tmp_path / d / "t"), 1)
    assert gen.file_digest(str(tmp_path / "a")) == gen.file_digest(str(tmp_path / "b"))


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    df.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def test_analysis_check_fires_on_corrupted_artifact(tmp_path):
    import duckdb

    from sentiment_analysis_vector_search_spark import registry

    sf = str(tmp_path / "in")
    gen.curation_corpus(5, 300, sf, 2)
    canon = checks.canonical_rows_fn(ROOT)
    want = checks.oracle_rows(sf, canon)
    # a job dir holding exactly the oracle's answers passes
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')")
    job = str(tmp_path / "job")
    counts = {}
    frames = {}
    for s in checks.ANALYSIS_STAGES:
        frames[s] = con.sql(registry.ORACLES[s]).df()
        _write(frames[s], os.path.join(job, s))
        counts[s] = len(frames[s])
    with open(os.path.join(job, "manifest.json"), "w") as f:
        json.dump({"status": "succeeded", "stages": counts}, f)
    assert checks.check_analysis_job(job, want, canon) == []
    # one flipped label
    bad = frames["sent_classify"].copy()
    bad.loc[0, "sentiment"] = "NEGATIVE" if bad.loc[0, "sentiment"] != "NEGATIVE" else "POSITIVE"
    _write(bad, os.path.join(job, "sent_classify"))
    assert any("sent_classify" in p for p in checks.check_analysis_job(job, want, canon))
    # a manifest count that disagrees with the artifact
    _write(frames["sent_classify"], os.path.join(job, "sent_classify"))
    counts["top_words"] += 1
    with open(os.path.join(job, "manifest.json"), "w") as f:
        json.dump({"status": "succeeded", "stages": counts}, f)
    assert any("top_words" in p for p in checks.check_analysis_job(job, want, canon))


def _fake_curation(out: str, want: dict, docs: int) -> None:
    man = {}
    for stage, ids in want.items():
        _write(pd.DataFrame({"doc_id": sorted(ids)}), os.path.join(out, stage, "documents.parquet"))
        man[stage] = {"done": True, "rows_out": len(ids)}
    mix = sorted(want["mix"])
    _write(pd.DataFrame({"doc_id": mix, "shard": [i % 4 for i in range(len(mix))]}),
           os.path.join(out, "shards", "documents.parquet"))
    _write(pd.DataFrame({"n_docs": [len(mix)]}), os.path.join(out, "pack", "sequences.parquet"))
    man["shards"] = {"done": True, "rows_out": len(mix)}
    man["pack"] = {"done": True, "rows_out": 1}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f)


def test_curation_check_fires_on_corrupted_output(tmp_path):
    truth = gen.curation_corpus(3, 600, str(tmp_path / "in"), 2)
    want = checks.expected_curation(truth)
    assert truth["dup_clusters"] and truth["exact_leaks"] and truth["ngram_leaks"]
    out = str(tmp_path / "ok")
    _fake_curation(out, want, truth["docs"])
    assert checks.check_curation(out, want) == []
    # a planted near-duplicate that survived dedup
    leaked = dict(want)
    leaked["dedup"] = want["dedup"] | {truth["dup_clusters"][0][1]}
    out = str(tmp_path / "bad")
    _fake_curation(out, leaked, truth["docs"])
    problems = checks.check_curation(out, want)
    assert any(p.startswith("dedup") for p in problems)


def _vector_truth():
    rng = np.random.default_rng(0)
    base = rng.normal(size=(300, gen.DIM))
    texts = [" ".join(rng.choice(["ka", "lo", "mi", "ne", "the", "pu"], 12)) for _ in range(300)]
    return checks.VectorTruth(base, texts, []), rng


def test_knn_check_fires_on_corrupted_result():
    truth, rng = _vector_truth()
    q = rng.normal(size=gen.DIM)
    ids, cos = truth.knn(q)
    rows = [(int(i), round(cos[int(i)], 6), r + 1) for r, i in enumerate(ids)]
    assert checks.check_knn(rows, ids, cos) == []
    assert checks.recall(rows, ids) == 1.0
    wrong_cos = [rows[0][:1] + (rows[0][1] + 0.01, 1)] + rows[1:]
    assert checks.check_knn(wrong_cos, ids, cos)
    swapped = [(rows[1][0], rows[1][1], 1), (rows[0][0], rows[0][1], 2)] + rows[2:]
    assert checks.check_knn(swapped, ids, cos)
    assert checks.check_knn(rows[:-1], ids, cos)
    ghost = rows[:-1] + [(10**9, rows[-1][1], 10)]
    assert checks.check_knn(ghost, ids, cos)


def test_bm25_check_fires_on_corrupted_result():
    truth, _ = _vector_truth()
    scores = truth.bm25(("ka", "mi"))
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = [(d, s, r + 1) for r, (d, s) in enumerate(top)]
    assert checks.check_bm25(rows, scores) == []
    assert checks.check_bm25([(rows[0][0], rows[0][1] * 1.001, 1)] + rows[1:], scores)
    worst = min(scores, key=scores.get)
    assert checks.check_bm25(rows[1:] + [(worst, scores[worst], 10)], scores)


def test_index_check_fires_on_wrong_counts(tmp_path):
    ivf, txt = str(tmp_path / "ivf"), str(tmp_path / "txt")
    _write(pd.DataFrame({"vec_id": list(range(50))}), os.path.join(ivf, "assignments", "cell=1"))
    os.makedirs(txt)
    with open(os.path.join(txt, "manifest.json"), "w") as f:
        json.dump({"n_docs": 40}, f)
    assert checks.check_indexes(ivf, txt, 50, 40) == []
    assert checks.check_indexes(ivf, txt, 51, 40)
    assert checks.check_indexes(ivf, txt, 50, 41)
