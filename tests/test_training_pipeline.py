from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sentiment_analysis_vector_search_spark.training_pipeline import (
    STAGES,
    run_training_pipeline,
)


def test_pipeline_end_to_end_and_resume(spark, sf_dir, tmp_path):
    out = str(tmp_path / "pipe")
    man = run_training_pipeline(spark, sf_dir, out)

    # every stage completed and recorded
    assert set(man) == set(STAGES)
    assert all(man[s]["done"] for s in STAGES)

    # the funnel only narrows: each filtering stage's output feeds the
    # next stage's input, and counts are non-increasing
    n_raw = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert man["gate"]["rows_in"] == n_raw
    assert 0 < man["gate"]["rows_out"] <= n_raw
    assert man["dedup"]["rows_in"] == man["gate"]["rows_out"]
    assert man["dedup"]["rows_out"] <= man["dedup"]["rows_in"]
    # exact pass precedes the n-gram pass (r8 verdict #5); eval docs stay
    # through it (they seed BOTH probe sets) and retire at the n-gram stage
    assert man["decontaminate_exact"]["rows_in"] == man["dedup"]["rows_out"]
    assert (
        man["decontaminate_exact"]["rows_out"]
        <= man["decontaminate_exact"]["rows_in"]
    )
    assert man["decontaminate"]["rows_in"] == man["decontaminate_exact"]["rows_out"]
    # decontamination also retires the held-out eval docs from training
    assert man["decontaminate"]["rows_out"] < man["decontaminate"]["rows_in"]
    assert man["mix"]["rows_in"] == man["decontaminate"]["rows_out"]
    assert 0 < man["mix"]["rows_out"] <= man["mix"]["rows_in"]
    assert man["shards"]["rows_out"] == man["mix"]["rows_out"]

    # terminal artifacts: shard-partitioned docs + packing table
    sharded = spark.read.parquet(os.path.join(out, "shards", "documents.parquet"))
    assert sharded.count() == man["mix"]["rows_out"]
    assert sharded.select("shard").distinct().count() > 1
    packed = spark.read.parquet(os.path.join(out, "pack", "sequences.parquet"))
    assert packed.count() == man["pack"]["rows_out"] > 0
    assert all(man[s]["seconds"] > 0 for s in STAGES)

    # the shipped-corpus data card covers exactly the mix stage's sources
    card = spark.read.parquet(os.path.join(out, "data_card.parquet"))
    mix_docs = spark.read.parquet(os.path.join(out, "mix", "documents.parquet"))
    assert card.agg(F.sum("n_docs")).collect()[0][0] == mix_docs.count()

    # survivors of dedup contain no near-dup pair: re-running the dedup
    # operator over the mix output (a valid sf_dir) finds no duplicates
    from sentiment_analysis_vector_search_spark.operators.dedup import (
        dedup_keep_canonical,
    )

    redup = dedup_keep_canonical(spark, os.path.join(out, "mix"))
    assert redup.where(F.col("is_duplicate")).count() == 0

    # resume: a second run skips every stage (manifest identical and no
    # stage parquet rewritten — mtimes unchanged)
    mtimes = {
        s: os.path.getmtime(os.path.join(out, s)) for s in STAGES
    }
    man2 = run_training_pipeline(spark, sf_dir, out)
    assert man2 == man
    for s in STAGES:
        assert os.path.getmtime(os.path.join(out, s)) == mtimes[s]


def test_pipeline_resumes_after_partial_run(spark, sf_dir, tmp_path):
    out = str(tmp_path / "pipe")
    man = run_training_pipeline(spark, sf_dir, out)

    # simulate a crash after stage 3: drop the mix/pack/shards marks
    j = json.load(open(os.path.join(out, "manifest.json")))
    for s in ("mix", "pack", "shards"):
        del j[s]
    json.dump(j, open(os.path.join(out, "manifest.json"), "w"))

    gate_mtime = os.path.getmtime(os.path.join(out, "gate"))
    man2 = run_training_pipeline(spark, sf_dir, out)
    # earlier stages untouched, later stages redone to the same counts
    assert os.path.getmtime(os.path.join(out, "gate")) == gate_mtime
    assert man2["mix"]["rows_out"] == man["mix"]["rows_out"]
    assert man2["shards"]["rows_out"] == man["shards"]["rows_out"]


def test_manifest_counts_are_the_written_rows(spark, sf_dir, tmp_path):
    """Every count in the manifest equals a re-read of the committed
    output: rows_out of each stage's own write (the shard-partitioned
    layout included), rows_in of the output the stage read. A run resumed
    after a crash records the same counts, taking rows_in of its first
    redone stage from the manifest an earlier run wrote."""
    out = str(tmp_path / "pipe")

    def written(stage: str) -> int:
        name = "sequences.parquet" if stage == "pack" else "documents.parquet"
        return spark.read.parquet(os.path.join(out, stage, name)).count()

    read_from = {
        "dedup": "gate",
        "decontaminate_exact": "dedup",
        "decontaminate": "decontaminate_exact",
        "mix": "decontaminate",
        "shards": "mix",
    }
    n_raw = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    def counts(man: dict) -> dict:
        return {s: (man[s].get("rows_in"), man[s]["rows_out"]) for s in STAGES}

    man = run_training_pipeline(spark, sf_dir, out)
    want = {
        s: (written(read_from[s]) if s in read_from else None, written(s))
        for s in STAGES
    }
    want["gate"] = (n_raw, written("gate"))
    assert counts(man) == want

    # crash after dedup: the later stages are redone by a fresh run
    j = json.load(open(os.path.join(out, "manifest.json")))
    for s in STAGES[2:]:
        del j[s]
    json.dump(j, open(os.path.join(out, "manifest.json"), "w"))
    man2 = run_training_pipeline(spark, sf_dir, out)
    assert counts(man2) == want
