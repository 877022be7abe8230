"""Streaming file sink: exactly-once semantics under re-drain."""

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_vector_search_spark.streaming.file_sink import (
    read_file_sink,
    stream_ingest_documents,
)


def test_stream_ingest_exactly_once(spark, sf_dir, tmp_path):
    out = str(tmp_path / "ingested")
    ckpt = str(tmp_path / "ckpt")

    stream_ingest_documents(spark, sf_dir, out, ckpt)
    got = read_file_sink(spark, out)

    # gated content matches the batch quality gate
    from sentiment_analysis_vector_search_spark.operators.pipeline_ops import (
        gate_columns,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = docs.select("doc_id", gate_columns()["keep"].alias("keep")).where(
        F.col("keep")
    )
    n_want = want.count()
    assert got.count() == n_want
    assert got.select("doc_id").distinct().count() == n_want

    # partitioned by lang (hive layout, prunable)
    import os

    assert any(d.startswith("lang=") for d in os.listdir(out))

    # EXACTLY-ONCE: a second drain over the same (fully consumed) source
    # with the same checkpoint must append NOTHING — the offset log knows
    # the source is exhausted.
    stream_ingest_documents(spark, sf_dir, out, ckpt)
    again = read_file_sink(spark, out)
    assert again.count() == n_want
    assert again.select("doc_id").distinct().count() == n_want


def test_stream_rollup_maintenance_incremental(spark, sf_dir, tmp_path):
    """Rollup maintenance: initial drain builds the summary; a replayed
    drain with nothing new changes nothing; a new source file merges
    only its days. The rollup must always equal the batch aggregate over
    everything ingested so far."""
    import glob
    import os
    import shutil

    from sentiment_analysis_vector_search_spark.catalog import normalize_event_ts
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_rollup_maintenance,
    )

    src_dir = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "rckpt")
    os.makedirs(src_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")

    def agg_of(paths):
        out = {}
        for p in paths:
            df = normalize_event_ts(spark.read.parquet(p))
            for r in (
                df.groupBy(
                    F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(30,10)"))
                    .cast("double")
                    .alias("v"),
                )
                .collect()
            ):
                k = (r.day, r.event_type)
                n0, v0 = out.get(k, (0, 0.0))
                out[k] = (n0 + r.n, v0 + float(r.v))
        return out

    def rollup_state():
        return {
            (str(r.day), r.event_type): (r.n_events, float(r.value_d))
            for r in spark.read.parquet(rollup).collect()
        }

    def assert_matches(paths):
        got, want = rollup_state(), agg_of(paths)
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0], k
            assert abs(got[k][1] - want[k][1]) < 1e-6, k

    # 1. initial build
    stream_rollup_maintenance(spark, src_dir, rollup, ckpt)
    assert_matches([f"{src_dir}/events.parquet"])

    # 2. replay with no new data: unchanged
    before = rollup_state()
    stream_rollup_maintenance(spark, src_dir, rollup, ckpt)
    assert rollup_state() == before

    # 3. incremental: a NEW file lands (shifted ids, doubled values);
    # the next drain merges only its days. Built from the RAW read so
    # the new file keeps the seed's ts encoding — the stream reads every
    # file with the schema probed from the seed (ts encodings have
    # changed between rounds; a normalized-ts file would diverge).
    base = spark.read.parquet(f"{src_dir}/events.parquet")
    extra = base.limit(500).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "ts",
        "user_id",
        "event_type",
        (F.col("value") * 2).alias("value"),
        "props",
    )
    tmp_extra = str(tmp_path / "extra")
    extra.coalesce(1).write.parquet(tmp_extra)
    part = glob.glob(f"{tmp_extra}/part-*.parquet")[0]
    os.replace(part, f"{src_dir}/events_2.parquet")

    stream_rollup_maintenance(spark, src_dir, rollup, ckpt)
    assert_matches([f"{src_dir}/events.parquet", f"{src_dir}/events_2.parquet"])


@pytest.mark.parametrize("drain_each_file", [True, False], ids=["drain_each", "one_drain"])
def test_stream_ingest_dedup_gates_against_history(
    spark, sf_dir, tmp_path, drain_each_file
):
    """Two document files drained in order: the second batch's docs that
    near-duplicate the already-ingested corpus are dropped; survivors
    join the index; re-drain is a no-op. Landing both files before a
    single drain must give the same result: each file is its own
    micro-batch, so the second is still gated against the first."""
    import os
    import shutil

    import __spark_entry__ as entrymod
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_ingest_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half1 = docs.where(F.col("doc_id") < 250)
    half2 = docs.where(F.col("doc_id") >= 250)

    src_dir = str(tmp_path / "doc_src")
    os.makedirs(src_dir)

    def land(df, name):
        stage = str(tmp_path / f"_{name}")
        df.coalesce(1).write.parquet(stage)
        part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
        shutil.copy(os.path.join(stage, part), os.path.join(src_dir, name))

    out = str(tmp_path / "clean_corpus")
    idx = str(tmp_path / "hist_idx")
    ckpt = str(tmp_path / "ingest_ckpt")

    land(half1, "documents_a.parquet")
    if drain_each_file:
        stream_ingest_dedup(spark, src_dir, idx, out, ckpt)
    land(half2, "documents_b.parquet")
    stream_ingest_dedup(spark, src_dir, idx, out, ckpt)

    got_ids = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}

    # expectations from the BATCH operators (ground truth on the union):
    # within-batch exact dedup keeps min doc_id per text hash ...
    exact = entrymod.queries()["dedup_exact"](spark, sf_dir).collect()
    kept_exact = set()
    by_hash: dict = {}
    for r in exact:
        half = r.doc_id < 250
        key = (r.text_hash, half)
        if key not in by_hash or r.doc_id < by_hash[key]:
            by_hash[key] = r.doc_id
    kept_exact = set(by_hash.values())
    # ... then batch-2 docs near-duplicating ANY half-1 doc are gated
    # (exact dups of a kept half-1 doc share its shingles, so pairs
    # against dropped docs gate identically)
    pairs = entrymod.queries()["dedup_minhash_lsh"](spark, sf_dir).collect()
    gated_b2 = set()
    for r in pairs:
        if r.jaccard < 0.5:
            continue
        lo, hi = r.doc_a, r.doc_b
        if lo < 250 <= hi:
            gated_b2.add(hi)
    want = {d for d in kept_exact if not (d >= 250 and d in gated_b2)}
    assert got_ids == want
    assert gated_b2 & kept_exact, "fixture must actually gate something"

    # idempotent re-drain: no new files, no index growth
    n_sh = spark.read.parquet(f"{idx}/shingles").count()
    stream_ingest_dedup(spark, src_dir, idx, out, ckpt)
    assert {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()} == want
    assert spark.read.parquet(f"{idx}/shingles").count() == n_sh


def test_stream_stats_maintenance_matches_batch_analyze(spark, sf_dir, tmp_path):
    """Streamed incremental stats must equal a one-shot batch
    partition_stats over the same corpus (counts/min/max exactly, ndv
    within sketch error), and a re-drain must be a no-op (the additive
    fold is guarded by recorded batch ids)."""
    import json
    import os
    import shutil

    from sentiment_analysis_vector_search_spark.stats import (
        kmv_ndv,
        load_table_stats,
        partition_stats,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_stats_maintenance,
    )

    # seed a source dir with the documents table split into two files so
    # maxFilesPerTrigger=1 produces multiple batches
    src_dir = str(tmp_path / "src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    os.makedirs(src_dir)
    # single parquet FILES (the corpus layout the glob source tracks)
    docs.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/documents_a.parquet", index=False
    )
    docs.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/documents_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    stream_stats_maintenance(spark, src_dir, stats_dir, ckpt, kmv_k=256)

    got = load_table_stats(stats_dir, "documents")
    want = partition_stats(docs, k=256)
    assert got.keys() == want.keys()
    for c in want:
        assert got[c]["n_rows"] == want[c]["n_rows"], c
        assert got[c]["n_nulls"] == want[c]["n_nulls"], c
        assert got[c]["min_value"] == want[c]["min_value"], c
        assert got[c]["max_value"] == want[c]["max_value"], c
    nd_got, nd_want = got["doc_id"]["approx_ndv"], want["doc_id"]["approx_ndv"]
    assert abs(nd_got - nd_want) / max(nd_want, 1) < 0.15

    # re-drain with the same checkpoint: no double-count
    stream_stats_maintenance(spark, src_dir, stats_dir, ckpt, kmv_k=256)
    again = load_table_stats(stats_dir, "documents")
    assert again["doc_id"]["n_rows"] == want["doc_id"]["n_rows"]

    # the applied-batch record lives INSIDE the atomically-replaced stats
    # JSON (r8 advice: fold + record are one os.replace, no crash window)
    with open(os.path.join(stats_dir, "documents.json")) as f:
        raw = json.load(f)
    # bounded record (r12): one integer, two files -> max id >= 1
    assert set(raw["__meta__"]) == {"max_applied"}
    recorded = [0, raw["__meta__"]["max_applied"]]
    assert recorded[1] >= 1
    # crash-replay of an ALREADY-RECORDED batch id: the fold is a no-op
    # even without the stream's own guard (the record IS the guard)
    from sentiment_analysis_vector_search_spark.stats import incremental_analyze

    incremental_analyze(
        spark, stats_dir, "documents", docs.limit(50), k=256, batch_id=recorded[0]
    )
    replayed = load_table_stats(stats_dir, "documents")
    assert replayed["doc_id"]["n_rows"] == want["doc_id"]["n_rows"]
    shutil.rmtree(stats_dir)  # and a fresh stats dir rebuilds from zero
    ckpt2 = str(tmp_path / "ckpt2")
    stream_stats_maintenance(spark, src_dir, stats_dir, ckpt2, kmv_k=256)
    rebuilt = load_table_stats(stats_dir, "documents")
    assert rebuilt["doc_id"]["n_rows"] == want["doc_id"]["n_rows"]


def test_stream_emb_dedup_ingest_gates_against_history(spark, tmp_path):
    """Embedding ingest gate: batch A seeds the index; batch B's exact
    dups of A drop, B's internal dup keeps only the min vec_id, fresh
    vectors survive; survivors carry no near-dup pair; re-drain no-op."""
    import os

    import numpy as np
    import pandas as pd

    from sentiment_analysis_vector_search_spark.operators.dedup import (
        emb_candidate_pairs,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_emb_dedup_ingest,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 64))
    fresh = rng.normal(size=(10, 64))

    src = str(tmp_path / "src")
    os.makedirs(src)
    pd.DataFrame(
        {"vec_id": range(60), "embedding": [list(map(float, v)) for v in base]}
    ).to_parquet(f"{src}/embeddings_a.parquet", index=False)
    # batch B: dups of A's first 8 (ids 1001..1008), an internal dup pair
    # (2000, 2001 identical), and 10 fresh vectors (3000..)
    b_ids = list(range(1001, 1009)) + [2000, 2001] + list(range(3000, 3010))
    b_vecs = (
        [list(map(float, base[i])) for i in range(8)]
        + [list(map(float, fresh[0]))] * 2
        + [list(map(float, v)) for v in fresh]
    )
    pd.DataFrame({"vec_id": b_ids, "embedding": b_vecs}).to_parquet(
        f"{src}/embeddings_b.parquet", index=False
    )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_emb_dedup_ingest(spark, src, idx, out, ckpt)

    got_ids = {r.vec_id for r in spark.read.parquet(out).collect()}
    # all of A survives; B's A-dups (1001-1008) drop; internal pair keeps
    # 2000 only — BUT 2000 duplicates fresh[0] which is also vec 3000:
    # batch order within B resolves via min vec_id → 2000 survives and
    # 3000 drops; 3001.. survive.
    want = set(range(60)) | {2000} | set(range(3001, 3010))
    assert got_ids == want
    # no near-dup pair among survivors
    survivors = spark.read.parquet(out).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assert emb_candidate_pairs(survivors).count() == 0
    # exactly-once: re-drain appends nothing
    stream_emb_dedup_ingest(spark, src, idx, out, ckpt)
    assert {r.vec_id for r in spark.read.parquet(out).collect()} == want


def test_stream_hot_keys_maintenance(spark, sf_dir, tmp_path):
    """Streamed MG hot-key sketch: the planted heavy value must survive
    with an in-bound count, n_rows must be exact, re-drain must be a
    no-op, and a crash-replayed batch id must not re-fold (the record
    rides inside the sketch JSON's single atomic write)."""
    import json
    import os

    from sentiment_analysis_vector_search_spark.stats import (
        incremental_heavy_hitters,
        load_heavy_hitters,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_hot_keys_maintenance,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    # plant a heavy sentinel source on ~40% of rows, then split into two
    # files so maxFilesPerTrigger=1 yields multiple batches
    planted = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 5 < 2, F.lit("hot-src")).otherwise(
            F.col("source")
        ),
    )
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    planted.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/documents_a.parquet", index=False
    )
    planted.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/documents_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    stream_hot_keys_maintenance(spark, src_dir, stats_dir, ckpt, k=16)

    summary, n_rows = load_heavy_hitters(stats_dir, "documents", "source")
    assert n_rows == n_docs
    true_hot = planted.where(F.col("source") == "hot-src").count()
    # MG guarantee over the union of folded batches: count > N/k survives,
    # reported count is a lower bound within N/k of truth
    assert "hot-src" in summary
    assert true_hot - n_docs / 16 <= summary["hot-src"] <= true_hot

    # re-drain: checkpoint makes it a no-op
    stream_hot_keys_maintenance(spark, src_dir, stats_dir, ckpt, k=16)
    again, n2 = load_heavy_hitters(stats_dir, "documents", "source")
    assert n2 == n_docs and again == summary

    # crash-replay of a RECORDED batch id: the fold is a no-op even
    # without the stream's own guard (the record IS the guard)
    path = os.path.join(stats_dir, "documents__hh_source.json")
    with open(path) as f:
        meta = json.load(f)["__meta__"]
    assert set(meta) == {"max_applied"} and meta["max_applied"] >= 1
    recorded = [0, meta["max_applied"]]
    incremental_heavy_hitters(
        stats_dir, "documents", "source", planted, k=16, batch_id=recorded[0]
    )
    after, n3 = load_heavy_hitters(stats_dir, "documents", "source")
    assert n3 == n_docs and after == summary


def test_stream_cdc_apply_matches_sequential_batch(spark, sf_dir, tmp_path):
    """Streamed CDC apply must equal applying the same change files
    sequentially with batch apply_cdc, and a re-drain must be a no-op
    (apply_cdc is idempotent per identical batch — the replay-safety
    leg that needs no commit record)."""
    import os

    from sentiment_analysis_vector_search_spark.sinks import apply_cdc
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_cdc_apply,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200).cache()
    streamed_dir = str(tmp_path / "streamed")
    batch_dir = str(tmp_path / "batch")
    for d in (streamed_dir, batch_dir):
        docs.repartition("lang").write.partitionBy("lang").parquet(d)

    # two CDC files: updates + deletes, then inserts + a later re-update
    some = docs.limit(20).collect()
    c1 = spark.createDataFrame(
        [
            {**r.asDict(), "text": r.text + " v2", "_op": "U", "_seq": 1}
            for r in some[:10]
        ]
        + [{**r.asDict(), "_op": "D", "_seq": 2} for r in some[10:15]]
    )
    c2 = spark.createDataFrame(
        [
            {
                "doc_id": 10_000_000 + i,
                "text": f"new doc {i}",
                "lang": "en",
                "source": "cdc",
                "n_chars": 9,
                "_op": "I",
                "_seq": 3,
            }
            for i in range(5)
        ]
        + [
            {**some[0].asDict(), "text": some[0].text + " v3", "_op": "U", "_seq": 4}
        ]
    )
    cols = ["doc_id", "text", "lang", "source", "n_chars", "_op", "_seq"]
    cdc_dir = str(tmp_path / "cdc")
    os.makedirs(cdc_dir)
    c1.select(cols).toPandas().to_parquet(f"{cdc_dir}/cdc_001.parquet", index=False)
    c2.select(cols).toPandas().to_parquet(f"{cdc_dir}/cdc_002.parquet", index=False)

    ckpt = str(tmp_path / "ckpt")
    stream_cdc_apply(spark, cdc_dir, streamed_dir, ckpt)
    apply_cdc(spark, batch_dir, c1.select(cols), ["doc_id"], "lang")
    apply_cdc(spark, batch_dir, c2.select(cols), ["doc_id"], "lang")

    def snap(d):
        return sorted(
            (r.doc_id, r.text, r.lang, r.source, r.n_chars)
            for r in spark.read.parquet(d).collect()
        )

    want = snap(batch_dir)
    assert snap(streamed_dir) == want
    # deletes really gone, inserts really in, last-wins re-update applied
    ids = {t[0] for t in want}
    assert not {r.doc_id for r in some[10:15]} & ids
    assert {10_000_000 + i for i in range(5)} <= ids
    text0 = {t[0]: t[1] for t in want}[some[0].doc_id]
    assert text0.endswith(" v3")

    # re-drain: checkpoint makes it a no-op
    stream_cdc_apply(spark, cdc_dir, streamed_dir, ckpt)
    assert snap(streamed_dir) == want


def test_stream_sample_maintenance_equals_one_shot(spark, sf_dir, tmp_path):
    """Streamed bottom-k-hash sample must be BYTE-IDENTICAL to a
    one-shot bottom-k over the full corpus (the min-union mergeability
    claim), quantiles must serve from it, and re-drain + recorded-batch
    replay must be no-ops."""
    import json
    import os

    import numpy as np

    from sentiment_analysis_vector_search_spark.stats import (
        column_bottom_k_sample,
        incremental_sample,
        sample_quantile,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_sample_maintenance,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    docs.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/documents_a.parquet", index=False
    )
    docs.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/documents_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    stream_sample_maintenance(spark, src_dir, stats_dir, ckpt, k=64)

    path = os.path.join(stats_dir, "documents__smp_n_chars.json")
    with open(path) as f:
        raw = json.load(f)
    want = column_bottom_k_sample(docs, "doc_id", "n_chars", k=64)
    assert raw["rows"] == want  # streamed == one-shot, byte-identical

    # quantile serving from the persisted sample tracks the exact value
    vals = [r.n_chars for r in docs.select("n_chars").collect()]
    p50 = sample_quantile(raw["rows"], 0.5)
    exact = float(np.percentile(vals, 50, method="linear"))
    spread = max(vals) - min(vals) or 1
    assert abs(p50 - exact) <= 0.35 * spread

    # re-drain: no-op; recorded-batch replay: no-op
    stream_sample_maintenance(spark, src_dir, stats_dir, ckpt, k=64)
    with open(path) as f:
        again = json.load(f)
    assert again["rows"] == want
    # bounded record (r12 fleet-wide conversion): one integer
    assert set(again["__meta__"]) == {"max_applied"}
    assert again["__meta__"]["max_applied"] >= 1
    incremental_sample(
        stats_dir, "documents", "doc_id", "n_chars", docs, k=64,
        batch_id=0,
    )
    with open(path) as f:
        assert json.load(f)["rows"] == want


def test_stream_checksum_maintenance_equals_one_shot(spark, sf_dir, tmp_path):
    """Streamed per-batch checksum folds must equal the one-shot graded
    checksum over everything ingested (additive digest + row count), a
    re-drain must be a no-op, and a fresh-checkpoint replay must be
    skipped by the recorded batch ids."""
    import json
    import os

    from sentiment_analysis_vector_search_spark.operators.dq import (
        dq_table_checksum,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_checksum_maintenance,
    )

    src_dir = str(tmp_path / "src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    os.makedirs(src_dir)
    docs.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/documents_a.parquet", index=False
    )
    docs.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/documents_b.parquet", index=False
    )
    man_dir = str(tmp_path / "man")
    ckpt = str(tmp_path / "ckpt")
    stream_checksum_maintenance(spark, src_dir, man_dir, ckpt)

    with open(os.path.join(man_dir, "documents__checksum.json")) as f:
        man = json.load(f)
    want = dq_table_checksum(spark, sf_dir).collect()[0]
    assert man["n_rows"] == want["n_rows"]
    assert man["checksum"] == want["checksum"]
    # bounded record (r11 advice): one integer, not a growing id list
    assert man["__meta__"] == {"max_applied": 1}

    # re-drain: no new files -> manifest byte-identical
    stream_checksum_maintenance(spark, src_dir, man_dir, ckpt)
    with open(os.path.join(man_dir, "documents__checksum.json")) as f:
        assert json.load(f) == man

    # fresh checkpoint: same files re-deliver as the same batch ids —
    # the record inside the manifest must skip the double-fold
    stream_checksum_maintenance(spark, src_dir, man_dir, str(tmp_path / "ck2"))
    with open(os.path.join(man_dir, "documents__checksum.json")) as f:
        again = json.load(f)
    assert again["n_rows"] == want["n_rows"]
    assert again["checksum"] == want["checksum"]


def test_stream_histogram_maintenance_equals_one_shot(spark, sf_dir, tmp_path):
    """Streamed per-batch histogram folds equal a one-shot fixed-width
    histogram over everything ingested; re-drain and fresh-checkpoint
    replay are no-ops; the served quantile matches the graded
    q_value_hist_quantiles estimator arithmetic and tracks the exact
    percentile within one bin width."""
    import json
    import os

    import numpy as np

    from sentiment_analysis_vector_search_spark.catalog import read_events_raw
    from sentiment_analysis_vector_search_spark.stats import (
        column_fixed_histogram,
        hist_quantile,
        load_histogram,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_histogram_maintenance,
    )

    ev = read_events_raw(spark, sf_dir)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    ev.where(F.col("event_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/events.parquet", index=False
    )
    ev.where(F.col("event_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/events_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    stream_histogram_maintenance(spark, src_dir, stats_dir, ckpt)

    art = load_histogram(stats_dir, "events", "value")
    want = column_fixed_histogram(ev, "value")
    assert art["counts"] == want  # streamed == one-shot
    assert art["n_rows"] == sum(want.values())
    assert art["__meta__"] == {"max_applied": 1}

    # re-drain + fresh-checkpoint replay: byte-identical artifact
    path = os.path.join(stats_dir, "events__hist_value.json")
    with open(path) as f:
        before = f.read()
    stream_histogram_maintenance(spark, src_dir, stats_dir, ckpt)
    stream_histogram_maintenance(spark, src_dir, stats_dir, str(tmp_path / "c2"))
    with open(path) as f:
        assert f.read() == before

    # served quantile: same arithmetic as the graded estimator, within
    # one bin width of the exact percentile
    vals = [r["value"] for r in ev.select("value").collect()]
    for q in (0.5, 0.9, 0.99):
        est = hist_quantile(art["counts"], art["width"], q)
        exact = float(np.percentile(vals, q * 100, method="linear"))
        assert abs(est - exact) <= art["width"], (q, est, exact)

    # knob mismatch fails fast (provenance discipline)
    import pytest

    from sentiment_analysis_vector_search_spark.stats import (
        incremental_histogram,
    )

    with pytest.raises(ValueError, match="knob mismatch"):
        incremental_histogram(stats_dir, "events", "value", ev, width=5.0)


def test_stream_grouped_histogram_maintenance_and_data_card_serving(
    spark, sf_dir, tmp_path
):
    """The grouped artifact's maintenance leg (r13): streamed per-batch
    grouped folds equal the one-shot grouped histogram; replay no-ops;
    and corpus_data_card's serving mode reads its p50/p90 from the
    maintained artifact within one bin width of the exact graded values."""
    import os

    from sentiment_analysis_vector_search_spark.catalog import table
    from sentiment_analysis_vector_search_spark.operators.curation_ext import (
        corpus_data_card,
    )
    from sentiment_analysis_vector_search_spark.stats import (
        column_fixed_histogram_grouped,
        hist_knobs_for,
        incremental_histogram_grouped,
        load_histogram_grouped,
        table_stats,
    )

    # maintenance leg over the events stream source (the shared harness)
    from sentiment_analysis_vector_search_spark.catalog import read_events_raw
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_histogram_maintenance,
    )

    ev = read_events_raw(spark, sf_dir)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    ev.where(F.col("event_id") % 2 == 0).toPandas().to_parquet(
        f"{src_dir}/events.parquet", index=False
    )
    ev.where(F.col("event_id") % 2 == 1).toPandas().to_parquet(
        f"{src_dir}/events_b.parquet", index=False
    )
    stats_dir = str(tmp_path / "stats")
    stream_histogram_maintenance(
        spark, src_dir, stats_dir, str(tmp_path / "ckpt"),
        group_col="event_type",
    )
    art = load_histogram_grouped(stats_dir, "events", "event_type", "value")
    want = column_fixed_histogram_grouped(ev, "event_type", "value")
    assert art["counts"] == want
    assert art["__meta__"] == {"max_applied": 1}
    # replay via a fresh checkpoint: byte-identical
    path = os.path.join(stats_dir, "events__ghist_event_type_value.json")
    with open(path) as f:
        before = f.read()
    stream_histogram_maintenance(
        spark, src_dir, stats_dir, str(tmp_path / "c2"),
        group_col="event_type",
    )
    with open(path) as f:
        assert f.read() == before

    # data-card serving mode: maintain documents (source, n_chars) with
    # DERIVED knobs, then compare served vs the exact graded card
    docs = table(spark, sf_dir, "documents")
    knobs = hist_knobs_for(table_stats(spark, sf_dir, "documents"), "n_chars")
    dstats = str(tmp_path / "dstats")
    incremental_histogram_grouped(
        dstats, "documents", "source", "n_chars", docs,
        width=knobs["width"], bins=knobs["bins"], offset=knobs["offset"],
        batch_id=0,
    )
    import numpy as np

    exact = {r["source"]: r for r in corpus_data_card(spark, sf_dir).collect()}
    served = {
        r["source"]: r
        for r in corpus_data_card(spark, sf_dir, stats_dir=dstats).collect()
    }
    assert set(served) == set(exact)
    pdf = docs.select("source", "n_chars").toPandas()
    for srcn, r in served.items():
        e = exact[srcn]
        # same card everywhere except the served quantiles
        assert r["n_docs"] == e["n_docs"] and r["top_lang"] == e["top_lang"]
        assert r["lang_entropy"] == e["lang_entropy"]
        # "within one bin width" holds against the estimator's own rank
        # convention (ceil(q*n), numpy inverted_cdf); the card's type-7
        # interpolation may sit anywhere between adjacent order
        # statistics, which no histogram bound can cover
        vals = pdf[pdf["source"] == srcn]["n_chars"]
        for q, cname in ((0.5, "p50_chars"), (0.9, "p90_chars")):
            want = float(np.percentile(vals, q * 100, method="inverted_cdf"))
            assert abs(r[cname] - want) <= knobs["width"], (srcn, q)


def test_stream_ivf_ingest_survives_torn_batch_record(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash while batch 1's record is being written must not wedge the
    stream: the record is replaced atomically, so the next drain reads
    the previous record, replays batch 1, and the index still equals a
    full rebuild (no lost and no duplicated vectors)."""
    import json
    import os
    import shutil

    from pyspark.errors import StreamingQueryException

    from sentiment_analysis_vector_search_spark.operators.similarity import (
        build_ivf_index,
    )
    from sentiment_analysis_vector_search_spark.streaming.file_sink import (
        stream_ivf_ingest,
    )

    full_dir = str(tmp_path / "ivf_full")
    build_ivf_index(spark, sf_dir, full_dir)
    stream_idx = str(tmp_path / "ivf_stream")
    shutil.copytree(f"{full_dir}/codebook", f"{stream_idx}/codebook")

    src_dir = str(tmp_path / "emb_src")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "ivf_ckpt")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def land(pred, name):
        stage = str(tmp_path / f"_{name}")
        emb.where(pred).coalesce(1).write.parquet(stage)
        part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
        shutil.copy(os.path.join(stage, part), os.path.join(src_dir, name))

    land(F.col("vec_id") % 2 == 0, "embeddings_a.parquet")
    stream_ivf_ingest(spark, src_dir, stream_idx, ckpt)  # batch 0

    real_dump = json.dump
    record_writes = []

    def torn_dump(obj, fp, *args, **kwargs):
        if "_ivf_commits.json" in str(getattr(fp, "name", "")):
            record_writes.append(obj)  # batch 1's record: tear it
            fp.write(json.dumps(obj)[:3])
            fp.flush()
            raise OSError("injected crash mid-record")
        return real_dump(obj, fp, *args, **kwargs)

    land(F.col("vec_id") % 2 == 1, "embeddings_b.parquet")
    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(StreamingQueryException):
        stream_ivf_ingest(spark, src_dir, stream_idx, ckpt)  # dies in batch 1
    monkeypatch.setattr(json, "dump", real_dump)
    assert len(record_writes) == 1

    stream_ivf_ingest(spark, src_dir, stream_idx, ckpt)  # replays batch 1

    def rows(d):
        return sorted(
            (r.vec_id, r.cell)
            for r in spark.read.parquet(f"{d}/assignments").collect()
        )

    assert rows(stream_idx) == rows(full_dir)


def _package_asts():
    import ast
    import pathlib

    import sentiment_analysis_vector_search_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    return {
        str(p.relative_to(root)): ast.parse(p.read_text())
        for p in sorted(root.rglob("*.py"))
    }


def _walk_scoped(tree):
    """Yield (node, enclosing function names, enclosing plain-call names)."""
    import ast

    def walk(node, funcs, calls):
        yield node, funcs, calls
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            funcs = funcs + (node.name,)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            calls = calls + (node.func.id,)
        for child in ast.iter_child_nodes(node):
            yield from walk(child, funcs, calls)

    yield from walk(tree, (), ())


def test_streaming_queries_share_one_drain_skeleton():
    """Structural guard: every streaming query in the package is built by
    ``_file_stream`` and started by ``_drain``, and the ``*_commits.json``
    batch records are touched only by the record helpers. A new drain that
    hand-rolls readStream / writeStream…start / awaitTermination, or opens
    a commits file itself, fails here."""
    import ast

    # attribute or string literal -> where it may appear: inside the body
    # of a function ("def") or inside the arguments of a call ("call")
    allowed = {
        "readStream": ("def", "_file_stream"),
        "maxFilesPerTrigger": ("def", "_file_stream"),
        "awaitTermination": ("def", "_drain"),
        "checkpointLocation": ("def", "_drain"),
        "writeStream": ("call", "_drain"),
    }
    record_helpers = {"_batch_applied", "_record_batch"}
    bad = []
    for name, tree in _package_asts().items():
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(
                n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        for node, funcs, calls in _walk_scoped(tree):
            where = f"{name}:{getattr(node, 'lineno', '?')}"
            key = None
            if isinstance(node, ast.Attribute):
                key = node.attr
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
            ):
                key = node.value
                if "_commits.json" in key and funcs[-1:] != ("_commits_path",):
                    bad.append(f"{where}: commits path built outside _commits_path")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "_commits_path"
                and not record_helpers & set(funcs)
            ):
                bad.append(f"{where}: commits file used outside the record helpers")
            if key in allowed:
                kind, owner = allowed[key]
                if owner not in (funcs if kind == "def" else calls):
                    bad.append(f"{where}: {key} outside {kind} {owner}")
    assert not bad, "\n".join(bad)
