"""Streaming file sink: checkpointed, exactly-once parquet ingest.

The stream_ops drains target a memory sink because their contract is
"final state ≡ batch oracle"; a production ingest instead appends to a
partitioned parquet table with a CHECKPOINT so restarts neither lose nor
duplicate data. Structured Streaming's file sink gives exactly-once by
pairing the source's offset log with the sink's file-commit log
(_spark_metadata): a micro-batch is either fully committed to both or
replayed idempotently.

``stream_ingest_documents`` is the reference pipeline's ingest stage
(download → cache dir → process) re-expressed as continuous ingestion:
documents arrive on a stream, pass the same quality-gate Columns the
batch and streaming gates use, and land partitioned by language. Run it
with ``availableNow`` for a bounded catch-up drain (the testing/backfill
trigger) or a processing-time trigger for continuous tailing — the
checkpoint makes repeated invocations resume, which the pytest pins by
draining twice and asserting zero duplicate rows.

At 100 TB scale notes: the sink commits per micro-batch, so file count =
batches × partitions — pair with sinks.compact_dir on a schedule; the
checkpoint dir lives on durable shared storage; partitionBy(lang) keeps
reads prunable. Readers must go through ``read_file_sink`` (or any
_spark_metadata-aware reader) so half-written files from a crashed batch
are invisible.

Drain skeleton. Every ``stream_*`` function below has the same shape. A
file source (``stream_ops._file_stream``: a glob over one directory,
optionally one file per micro-batch) feeds a per-batch fold through
``foreachBatch``, and ``stream_ops._drain`` runs the query as one
``availableNow`` drain checkpointed at ``checkpoint_dir``. The source's
offset log makes a repeated call resume after the last committed batch,
so each drain picks up only newly landed files. Only the fold differs
from function to function.

Batch-record protocol. A micro-batch that was in flight when a drain
died is re-delivered byte-identical by the next drain, so a fold whose
effect is not idempotent keeps a record of the batch ids it applied.
File-source batch ids are monotone, so the record is one bounded
integer, ``{"max_applied": N}``: a batch is applied iff its id <= N, and
a legacy list record reads as its max. A fold keeps the record in one of
three places:

- a ``_<tag>_commits.json`` file in the checkpoint dir. ``_batch_applied``
  reads it; ``_record_batch`` writes it to a temp file and ``os.replace``s
  it in, so a crash mid-write leaves the previous record, never torn
  JSON. The effect lands first and the record after it, so a crash
  between the two replays the batch. The vector-index loops close that
  window by appending through ``_idempotent_append_dir``: a replay
  rewrites the same file names instead of adding new ones.
- inside the maintained artifact (stats sketches, the text-index
  manifest, SCD2 buckets). Effect and record then commit in one
  ``os.replace``, so there is no window at all.
- nowhere, when the effect is idempotent per batch (CDC apply).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .stream_ops import _DOC_SCHEMA, _drain, _file_stream


def _read_max_applied(path: str) -> int:
    """Highest batch id the record at ``path`` holds (-1 if none). Reads
    the bounded ``{"max_applied": N}`` form; legacy list records read as
    their max."""
    if not os.path.exists(path):
        return -1
    with open(path) as fh:
        rec = json.load(fh)
    if isinstance(rec, list):
        return max(rec, default=-1)
    return int(rec["max_applied"])


def _commits_path(checkpoint_dir: str, tag: str) -> str:
    return os.path.join(checkpoint_dir, f"_{tag}_commits.json")


def _batch_applied(checkpoint_dir: str, tag: str, batch_id: int) -> bool:
    """True when the ``tag`` drain already recorded ``batch_id`` (a replay)."""
    return batch_id <= _read_max_applied(_commits_path(checkpoint_dir, tag))


def _record_batch(checkpoint_dir: str, tag: str, batch_id: int) -> None:
    """Record ``batch_id`` as applied: temp write, then atomic replace."""
    path = _commits_path(checkpoint_dir, tag)
    tmp = f"{path}.__tmp__"
    with open(tmp, "w") as fh:
        json.dump({"max_applied": max(_read_max_applied(path), batch_id)}, fh)
    os.replace(tmp, path)


def stream_ingest_documents(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the documents stream into a lang-partitioned parquet table
    with exactly-once checkpointing (availableNow trigger)."""
    from ..operators.pipeline_ops import gate_columns

    src = _file_stream(spark, sf_dir, "documents.parquet", _DOC_SCHEMA, False)
    gated = src.select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        gate_columns()["keep"].alias("keep"),
    ).where(F.col("keep"))
    _drain(
        spark,
        gated.drop("keep")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .partitionBy("lang")
        .outputMode("append"),
        checkpoint_dir,
    )


def read_file_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a streaming file-sink table through its _spark_metadata commit
    log (the default for spark.read.parquet on such a dir), so only files
    from fully committed micro-batches are visible."""
    return spark.read.parquet(out_dir)


def stream_rollup_maintenance(
    spark: SparkSession,
    sf_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuously-maintained daily rollup: streaming events →
    ``foreachBatch`` MERGE into a day-partitioned summary table.

    The incremental-materialized-view loop a 100 TB pipeline runs: each
    micro-batch re-aggregates ONLY the days it touches (batch agg →
    merge_upsert rewrites just those partitions), so maintenance cost
    follows the batch's day-spread, not table size.

    Exactly-once: the merge is additive (prior state + batch), so a
    replayed batch would double-count; the commits-file record skips it.
    The aggregate state is sum/count-combinable so prior+batch
    recombines exactly (decimal value sums).
    """
    from ..catalog import normalize_event_ts, read_events_raw
    from ..sinks import merge_upsert

    raw = read_events_raw(spark, sf_dir)
    # growing-source glob: a continuous ingest lands NEW files
    # (events_<ts>.parquet) next to the seed — the FileStreamSource
    # tracks processed files, so each drain picks up only the additions.
    ev = normalize_event_ts(
        _file_stream(spark, sf_dir, "events*.parquet", raw.schema, False)
    )

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _batch_applied(checkpoint_dir, "rollup", batch_id):
            return  # replayed batch: already merged, skip (idempotence)
        day_agg = (
            batch_df.groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                F.col("event_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(30,10)")).alias("value_d"),
            )
        )
        if not os.path.isdir(rollup_dir) or not any(
            d.startswith("day=") for d in os.listdir(rollup_dir)
        ):
            (
                day_agg.repartition(F.col("day"))
                .write.mode("overwrite")
                .partitionBy("day")
                .parquet(rollup_dir)
            )
        else:
            # combine with existing state for the affected days only
            # (day reads back DATE-inferred from the hive path → cast to
            # the batch's string form before the union)
            days = [r.day for r in day_agg.select("day").distinct().collect()]
            prior = (
                spark.read.parquet(rollup_dir)
                .withColumn("day", F.col("day").cast("string"))
                .where(F.col("day").isin(days))
            )
            combined = (
                prior.unionByName(day_agg)
                .groupBy("day", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("value_d").alias("value_d"),
                )
            )
            merge_upsert(
                spark,
                rollup_dir,
                combined,
                keys=["day", "event_type"],
                partition_col="day",
            )
        _record_batch(checkpoint_dir, "rollup", batch_id)

    _drain(spark, ev.writeStream.foreachBatch(upsert_batch), checkpoint_dir)


def _idempotent_append_dir(stage_dir: str, target_dir: str, batch_id: int) -> None:
    """Promote a STAGED parquet write into ``target_dir`` with
    batch-stamped deterministic file names (atomic ``os.replace`` each).

    This is what upgrades the ingest loops' recorded-batch-id guard from
    at-least-once to exactly-once (r5 advice): a crash can no longer leave
    half-appended data that a replay would duplicate, because a replay
    re-stages the SAME batch (frozen codebook + pinned stream shuffle
    partitions → deterministic file count and contents) and re-replaces
    the SAME destination names. Hive-partition subdirs (cell=N/...) are
    preserved; only after every rename succeeds does the caller record
    the batch id.

    Callers stage UNDER THE INDEX ROOT (``_stage_*`` dirs — the leading
    underscore keeps them invisible to Spark readers) so the renames are
    same-filesystem by construction: staging under the checkpoint dir
    broke in the common production layout of local checkpoint +
    shared-storage index, where every ``os.replace`` raises EXDEV
    (r6 advice). A copy+fsync+replace fallback still guards the
    unexpected cross-device case.
    """

    def _promote(src: str, dst: str) -> None:
        try:
            os.replace(src, dst)
        except OSError as e:
            import errno

            if e.errno != errno.EXDEV:
                raise
            # Cross-filesystem: copy to a temp name on the DESTINATION
            # fs, fsync, then the final replace is same-fs and atomic.
            tmp = f"{dst}.__tmp__"
            shutil.copyfile(src, tmp)
            with open(tmp, "rb") as f:
                os.fsync(f.fileno())
            os.replace(tmp, dst)
            os.unlink(src)

    for root, _dirs, files in os.walk(stage_dir):
        parts = sorted(f for f in files if f.endswith(".parquet"))
        if not parts:
            continue
        rel = os.path.relpath(root, stage_dir)
        dest = target_dir if rel == "." else os.path.join(target_dir, rel)
        os.makedirs(dest, exist_ok=True)
        for i, fn in enumerate(parts):
            _promote(
                os.path.join(root, fn),
                os.path.join(dest, f"batch{batch_id}_part{i:05d}.parquet"),
            )


def _stream_vector_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    add: Callable[..., object],
    tag: str,
    target: str,
) -> None:
    """The loop shared by the IVF / PQ / IVFPQ ingests: each micro-batch
    of embeddings is staged by ``add`` (an ``*_index_add`` taking
    ``stage_dir``) under ``_stage_<tag>_<batch>``, promoted into
    ``index_dir/target`` by batch-stamped renames, then recorded under
    ``tag`` — exactly-once even across a crash mid-append."""
    src = _file_stream(
        spark,
        src_dir,
        "embeddings*.parquet",
        spark.read.parquet(src_dir).schema,
        False,
    )

    def add_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _batch_applied(checkpoint_dir, tag, batch_id):
            return  # replayed batch is already in the index
        stage = os.path.join(index_dir, f"_stage_{tag}_{batch_id}")
        add(
            spark,
            index_dir,
            batch_df.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            ),
            stage_dir=stage,
        )
        _idempotent_append_dir(stage, os.path.join(index_dir, target), batch_id)
        _record_batch(checkpoint_dir, tag, batch_id)
        shutil.rmtree(stage, ignore_errors=True)

    _drain(spark, src.writeStream.foreachBatch(add_batch), checkpoint_dir)


def stream_ivf_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuously-maintained vector index: streaming embeddings →
    ``foreachBatch`` → ``ivf_index_add`` against the frozen codebook.

    The serving-side complement of the batch index: the reference rebuilds
    its embedding matrix whenever reviews change (Context_analyzer fits in
    one process); at scale a vector store instead ingests embedding
    batches as they arrive, and because the codebook is frozen each
    batch's cell assignments are reproducible — the streamed index stays
    IDENTICAL to a full rebuild (pinned by pytest), while maintenance
    cost tracks the batch, not the corpus. Bootstrap the codebook first
    (``build_ivf_index`` over the seed corpus, or copy one in); re-train
    it only when drift warrants — the classic IVF operating procedure.

    Exactly-once: ``ivf_index_add`` APPENDS into cell partitions, so the
    commits-file record skips replayed batches, and the staged
    batch-stamped-rename append closes the crash window between the
    append and the record.
    """
    from ..operators.similarity import ivf_index_add

    _stream_vector_ingest(
        spark, src_dir, index_dir, checkpoint_dir,
        ivf_index_add, "ivf", "assignments",
    )


def stream_pq_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuously-maintained COMPRESSED vector index: streaming
    embedding batches → ``foreachBatch`` → ``pq_index_add`` against the
    frozen per-subspace codebooks.

    The PQ twin of ``stream_ivf_ingest``: the store being maintained here
    is the codes table (no raw vectors — the 8-64 bytes/vector
    representation that keeps a 10^9-vector index in executor memory),
    so ingest cost is one broadcast-codebook encode pass per batch.
    Frozen codebooks make each batch's codes reproducible → the streamed
    index stays IDENTICAL to a full rebuild (pinned by pytest).
    Exactly-once as ``stream_ivf_ingest`` (pytest-pinned replay test).
    """
    from ..operators.similarity2 import pq_index_add

    _stream_vector_ingest(
        spark, src_dir, index_dir, checkpoint_dir, pq_index_add, "pq", "codes"
    )


def stream_ivfpq_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuously-maintained IVFADC index: streaming embedding batches
    → ``foreachBatch`` → ``ivfpq_index_add`` against BOTH frozen
    codebooks (coarse cells + PQ subspaces).

    The composed twin of ``stream_ivf_ingest``/``stream_pq_ingest``: the
    maintained store is the cell-partitioned CODES table, so each batch
    pays one broadcast assign + one broadcast encode and the serving
    reader keeps its static cell pruning. Frozen codebooks make every
    batch reproducible → the streamed index stays IDENTICAL to a full
    rebuild (pinned by pytest). Exactly-once as ``stream_ivf_ingest``."""
    from ..operators.ivfpq import ivfpq_index_add

    _stream_vector_ingest(
        spark, src_dir, index_dir, checkpoint_dir,
        ivfpq_index_add, "ivfpq", "codes",
    )


def stream_ingest_dedup(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    jaccard_t: float | None = None,
) -> None:
    """Continuous ingest with near-dup gating against corpus history:
    each micro-batch of documents is checked against the persisted
    MinHash/LSH index (``dedup_index_check`` — O(batch + collisions),
    never a corpus rescan), survivors land in the parquet table AND
    join the index, so later batches are checked against them too.

    This is the full production shape of LLM-corpus ingest: the batch
    dedup operators answer "clean this corpus once"; this loop keeps a
    growing corpus clean forever, with per-batch cost independent of
    corpus size. Within-batch duplicates are resolved first (exact
    min-doc_id per content hash), then history decides.

    Exactly-once: the commits-file record keeps a replayed batch from
    re-appending survivors or re-inserting signatures.
    """
    from ..functions.hashing import md5_long
    from ..operators.dedup_index import (
        build_dedup_index,
        dedup_index_add,
        dedup_index_check,
    )

    if jaccard_t is None:
        from ..operators.dedup import _JACCARD_T as jaccard_t

    # one source file per batch: near-dups that land in different files
    # before one drain are still gated against each other via the index
    src = _file_stream(spark, src_dir, "documents*.parquet", _DOC_SCHEMA, True)

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _batch_applied(checkpoint_dir, "ingest", batch_id):
            return
        # within-batch exact dedup: keep min doc_id per content hash
        h = batch_df.withColumn("_h", md5_long(F.col("text")))
        keep_ids = h.groupBy("_h").agg(F.min("doc_id").alias("doc_id"))
        batch = h.join(keep_ids, ["_h", "doc_id"], "left_semi").drop("_h")
        batch = batch.localCheckpoint(eager=True)  # feeds check, gate, add
        # history gate: anything near-duplicating the indexed corpus drops
        if os.path.isdir(f"{index_dir}/bands"):
            hits = (
                dedup_index_check(spark, batch, index_dir)
                .where(F.col("jaccard") >= jaccard_t)
                .select(F.col("new_doc_id").alias("doc_id"))
                .distinct()
            )
            survivors = batch.join(hits, "doc_id", "left_anti")
        else:
            survivors = batch
        survivors = survivors.localCheckpoint(eager=True)
        survivors.write.mode("append").parquet(out_dir)
        if os.path.isdir(f"{index_dir}/bands"):
            dedup_index_add(spark, survivors, index_dir)
        else:
            build_dedup_index(spark, survivors, index_dir)
        _record_batch(checkpoint_dir, "ingest", batch_id)

    _drain(spark, src.writeStream.foreachBatch(gate_batch), checkpoint_dir)


def stream_stats_maintenance(
    spark: SparkSession,
    sf_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    table_name: str = "documents",
    kmv_k: int = 256,
) -> None:
    """Continuously-maintained table statistics: streaming documents →
    ``foreachBatch`` → ``stats.incremental_analyze`` (r8). Each
    micro-batch scans ONLY its own rows and folds counts/min-max/KMV
    sketches into the persisted JSON the broadcast / join-strategy
    gates read (``load_table_stats`` surface) — the ANALYZE never
    re-reads the table, which is the whole scalable-maintenance story.

    Exactly-once: the stats merge is ADDITIVE (counts sum, sketches
    union), so the applied-batch record rides inside the stats JSON
    itself (``incremental_analyze(batch_id=...)``) — fold and record are
    one os.replace, and the replay check reads the same file it would
    update."""
    from ..stats import incremental_analyze

    src = _file_stream(spark, sf_dir, f"{table_name}*.parquet", _DOC_SCHEMA, True)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        incremental_analyze(
            spark, stats_dir, table_name, batch_df, k=kmv_k, batch_id=batch_id
        )

    _drain(spark, src.writeStream.foreachBatch(fold_batch), checkpoint_dir)


def stream_emb_dedup_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cosine_t: float | None = None,
) -> None:
    """Continuous EMBEDDING ingest with near-dup gating against corpus
    history — the sign-LSH counterpart of ``stream_ingest_dedup``: each
    micro-batch of vectors is checked against the persisted embedding
    index (``emb_index_check`` — O(batch + collisions)), survivors land
    in the parquet table AND join the index. Within-batch dups are
    resolved first (min vec_id per batch-internal near-dup pair via the
    batch candidate generator), then history decides. Exactly-once via
    the commits-file record, as ``stream_ingest_dedup``."""
    from ..operators.dedup import _EMB_T, emb_candidate_pairs
    from ..operators.emb_index import (
        build_emb_index,
        emb_index_add,
        emb_index_check,
    )

    if cosine_t is None:
        cosine_t = _EMB_T
    elif cosine_t < _EMB_T:
        # the candidate generators (emb_candidate_pairs / emb_index_check)
        # already filter at the module threshold BEFORE this loop's
        # re-filter, so a looser value would silently behave as _EMB_T —
        # refuse a parameter the pipeline cannot honor (r8 advice, low)
        raise ValueError(
            f"cosine_t={cosine_t} is below the candidate generators' "
            f"threshold {_EMB_T}; pairs under {_EMB_T} are never generated, "
            "so the looser gate would silently not apply — lower "
            "dedup._EMB_T (rebuild the index) to loosen the pipeline"
        )

    src = _file_stream(
        spark,
        src_dir,
        "embeddings*.parquet",
        "vec_id bigint, embedding array<double>",
        False,
    )

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _batch_applied(checkpoint_dir, "emb_ingest", batch_id):
            return
        batch = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ).localCheckpoint(eager=True)
        # within-batch near-dup: keep the min vec_id of each pair
        within = (
            emb_candidate_pairs(batch)
            .where(F.col("cosine") >= cosine_t)
            .select(F.col("vec_b").alias("vec_id"))
            .distinct()
        )
        batch = batch.join(within, "vec_id", "left_anti")
        if os.path.isdir(f"{index_dir}/bands"):
            hits = (
                emb_index_check(spark, batch, index_dir)
                .where(F.col("cosine") >= cosine_t)
                .select(F.col("new_vec_id").alias("vec_id"))
                .distinct()
            )
            survivors = batch.join(hits, "vec_id", "left_anti")
        else:
            survivors = batch
        survivors = survivors.localCheckpoint(eager=True)
        survivors.select(
            "vec_id", F.col("v").alias("embedding")
        ).write.mode("append").parquet(out_dir)
        if os.path.isdir(f"{index_dir}/bands"):
            emb_index_add(spark, survivors, index_dir)
        else:
            build_emb_index(spark, survivors, index_dir)
        _record_batch(checkpoint_dir, "emb_ingest", batch_id)

    _drain(spark, src.writeStream.foreachBatch(gate_batch), checkpoint_dir)


def stream_bloom_maintenance(
    spark: SparkSession,
    src_dir: str,
    table_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    glob: str = "*.parquet",
) -> None:
    """Continuous ingest with Bloom-index maintenance: each micro-batch
    appends its rows to ``table_dir`` and folds ONLY the newly appended
    data files into the per-file Bloom skipping index (bloom.py) — point
    lookups stay file-pruned as the table grows, and maintenance cost is
    O(batch), never a table rescan.

    Exactly-once: the batch is recorded right after the table append,
    BEFORE the index fold (replayed batches would otherwise append
    duplicate files). ``bloom_index_add`` itself is idempotent by
    construction — it indexes the file-listing DIFF, so a crash between
    the record and the add is healed by the next batch's add."""
    from ..bloom import bloom_index_add, build_bloom_index

    src = _file_stream(spark, src_dir, glob, _DOC_SCHEMA, True)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _batch_applied(checkpoint_dir, "bloom", batch_id):
            return  # replayed batch: files already appended + indexed
        batch_df.write.mode("append").parquet(table_dir)
        _record_batch(checkpoint_dir, "bloom", batch_id)
        if not os.path.exists(os.path.join(index_dir, "manifest.json")):
            build_bloom_index(spark, table_dir, key_col, index_dir)
        else:
            bloom_index_add(spark, table_dir, index_dir)

    _drain(spark, src.writeStream.foreachBatch(fold_batch), checkpoint_dir)


def stream_text_index_maintenance(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    glob: str = "*.parquet",
) -> None:
    """Continuously-maintained BM25 serving index: each micro-batch of
    documents appends its postings and bumps the manifest counters
    (operators/text_index.text_index_add) — O(batch) upkeep, and because
    a posting's state (tf, dl) depends only on its own document, queries
    after any number of batches are byte-identical to a full rebuild.

    Exactly-once, with NO crash window: the batch's postings land via
    stage -> batch-stamped atomic renames (``_idempotent_append_dir``),
    and the counter bump + applied-batch record travel in ONE manifest
    os.replace, so a crash can never re-add a batch's tf/df/N."""
    from ..operators.text_index import _read_manifest, _write_manifest, text_index_add

    src = _file_stream(spark, src_dir, glob, _DOC_SCHEMA, True)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not os.path.exists(os.path.join(index_dir, "manifest.json")):
            # bootstrap an EMPTY manifest (no data side effects), so every
            # batch — including the first — takes the staged-commit path
            os.makedirs(index_dir, exist_ok=True)
            _write_manifest(index_dir, 0, 0, max_applied=-1)
        man = _read_manifest(index_dir)
        if batch_id <= man.get("max_applied", -1):
            return  # replayed batch: postings + counters already committed
        stage = os.path.join(index_dir, f"_stage_text_{batch_id}")
        dn, ds = text_index_add(spark, batch_df, index_dir, stage_dir=stage)
        _idempotent_append_dir(stage, os.path.join(index_dir, "postings"), batch_id)
        _write_manifest(
            index_dir,
            man["n_docs"] + dn,
            man["sum_dl"] + ds,
            max_applied=batch_id,
        )
        shutil.rmtree(stage, ignore_errors=True)

    _drain(spark, src.writeStream.foreachBatch(fold_batch), checkpoint_dir)


def stream_hot_keys_maintenance(
    spark: SparkSession,
    sf_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    table_name: str = "documents",
    col: str = "source",
    k: int = 64,
) -> None:
    """Continuously-maintained hot-key (Misra-Gries) skew signal:
    streaming files → ``foreachBatch`` → ``stats.incremental_heavy_hitters``.
    Each micro-batch is scanned once, shuffle-free (per-partition MG
    summaries, bounded driver metadata), and folded into the persisted
    sketch that feeds ``choose_join_strategy(hot_rows=...)`` — so the
    salted-join trigger stays current as the corpus grows, without ever
    re-reading the table (the same scalable-maintenance story as
    ``stream_stats_maintenance``).

    Exactly-once: MG counts are additive, so the applied-batch record
    rides inside the sketch JSON's single os.replace."""
    from ..stats import incremental_heavy_hitters

    src = _file_stream(spark, sf_dir, f"{table_name}*.parquet", _DOC_SCHEMA, True)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        incremental_heavy_hitters(
            stats_dir, table_name, col, batch_df, k=k, batch_id=batch_id
        )

    _drain(spark, src.writeStream.foreachBatch(fold_batch), checkpoint_dir)


def stream_cdc_apply(
    spark: SparkSession,
    cdc_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("doc_id",),
    partition_col: str = "lang",
) -> None:
    """Continuous change-data-capture apply: a stream of change records
    (``_op`` in I/U/D plus a ``_seq`` log position) lands against a
    hive-partitioned table via ``sinks.apply_cdc`` — each micro-batch
    rewrites ONLY the partitions its changes touch, so apply cost
    follows the batch's partition spread, not table size (the
    merge_upsert maintenance story, extended to deletes).

    Exactly-once WITHOUT a record: ``apply_cdc`` is idempotent per
    identical batch — last-wins keyed on ``_seq``, upserts replace the
    same rows, deletes of absent keys are no-ops — so a re-delivered
    batch converges to the same table state."""
    from ..sinks import apply_cdc

    # probe under the SAME glob the stream reads (r9 advice): a stray
    # non-CDC parquet in the directory must not poison the inferred
    # schema, and an empty-but-existing dir should fail on the glob
    # ("no files matched"), not on a misleading inference error.
    probe = (
        spark.read.option("pathGlobFilter", "cdc_*.parquet").parquet(cdc_dir)
    )
    src = _file_stream(spark, cdc_dir, "cdc_*.parquet", probe.schema, True)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_cdc(
            spark, table_dir, batch_df, keys=list(keys),
            partition_col=partition_col,
        )

    _drain(spark, src.writeStream.foreachBatch(apply_batch), checkpoint_dir)


def stream_sample_maintenance(
    spark: SparkSession,
    sf_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    table_name: str = "documents",
    key_col: str = "doc_id",
    val_col: str = "n_chars",
    k: int = 256,
) -> None:
    """Continuously-maintained deterministic row sample: streaming files
    → ``foreachBatch`` → ``stats.incremental_sample``. The stored
    bottom-k-hash sample is byte-identical to a one-shot bottom-k over
    everything ingested so far (min-union mergeability), so quantile
    estimates (``stats.sample_quantile``) serve from k rows of driver
    metadata without ever rescanning the table — the maintenance leg of
    the ``q_value_quantile_sketch`` device. Per batch: ONE TakeOrdered
    job over the batch's rows.

    Replay-safe twice over (idempotent min-union + the applied-batch
    record inside the artifact's single atomic write; SCALING rule 21)."""
    from ..stats import incremental_sample

    src = _file_stream(spark, sf_dir, f"{table_name}*.parquet", _DOC_SCHEMA, True)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        incremental_sample(
            stats_dir, table_name, key_col, val_col, batch_df,
            k=k, batch_id=batch_id,
        )

    _drain(spark, src.writeStream.foreachBatch(fold_batch), checkpoint_dir)


def stream_cms_maintenance(
    spark: SparkSession,
    sf_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    table_name: str = "documents",
    col: str = "source",
    d: int = 4,
    w: int = 512,
) -> None:
    """Continuously-maintained Count-Min frequency sketch: streaming
    files → ``foreachBatch`` → ``stats.incremental_cms``. Each
    micro-batch is scanned once (map-side-combinable d x w counter
    build, <= 2,048 rows to the driver) and folded into the persisted
    sketch serving point-frequency upper bounds without re-reading the
    table — the fourth member of the maintained-sketch family next to
    incremental_analyze (KMV), incremental_heavy_hitters (MG) and
    incremental_sample (bottom-k).

    Exactly-once: CMS counters are additive, so the applied-batch
    record rides inside the sketch JSON's single os.replace."""
    from ..stats import incremental_cms

    src = _file_stream(spark, sf_dir, f"{table_name}*.parquet", _DOC_SCHEMA, True)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        incremental_cms(
            stats_dir, table_name, col, batch_df, d=d, w=w, batch_id=batch_id
        )

    _drain(spark, src.writeStream.foreachBatch(fold_batch), checkpoint_dir)


def stream_histogram_maintenance(
    spark: SparkSession,
    sf_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    col: str = "value",
    width: float | None = None,
    bins: int | None = None,
    offset: float = 0.0,
    group_col: str | None = None,
) -> None:
    """Continuously-maintained fixed-width histogram of ``events.col``:
    streaming files → ``foreachBatch`` → ``stats.incremental_histogram``
    — the maintenance leg of q_value_hist_quantiles' mergeable quantile
    summary (r12). Each micro-batch is scanned once (one partial-agg
    pass, <= bins rows to the driver) and its counts ADD into the
    persisted artifact, so interpolated quantiles are always current
    from B integers of driver metadata without rescanning the table —
    the sixth maintained artifact next to KMV / MG / bottom-k / CMS /
    checksum.

    Exactly-once: counts are additive, so the ``max_applied`` record
    rides inside the artifact JSON's single os.replace (SCALING rule 35).

    ``offset`` shifts the support (stats-derived knobs, r12 verdict #4);
    ``group_col`` maintains the GROUPED artifact instead (r13 — per-group
    counts at (group, bin) grain, same protocol, same additivity)."""
    from .. import stats as st
    from ..catalog import read_events_raw

    w = st.HIST_WIDTH if width is None else width
    b = st.HIST_BINS if bins is None else bins
    raw = read_events_raw(spark, sf_dir)
    src = _file_stream(spark, sf_dir, "events*.parquet", raw.schema, True)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if group_col is None:
            st.incremental_histogram(
                stats_dir, "events", col, batch_df, width=w, bins=b,
                batch_id=batch_id, offset=offset,
            )
        else:
            st.incremental_histogram_grouped(
                stats_dir, "events", group_col, col, batch_df, width=w,
                bins=b, batch_id=batch_id, offset=offset,
            )

    _drain(spark, src.writeStream.foreachBatch(fold_batch), checkpoint_dir)


def stream_checksum_maintenance(
    spark: SparkSession,
    sf_dir: str,
    manifest_dir: str,
    checkpoint_dir: str,
    table_name: str = "documents",
) -> None:
    """Continuously-maintained table checksum: streaming files →
    ``foreachBatch`` → ``operators.dq.incremental_checksum``. Each
    micro-batch is scanned once (one partial-agg digest pass, two
    scalars to the driver) and folded into the persisted manifest, so
    the migration-validation digest of everything ingested is always
    current WITHOUT re-reading the table — the fifth maintained
    artifact next to KMV / MG / bottom-k / CMS, closing the r10 verdict
    #6 loop (shard checksums fold incrementally like the other
    maintained artifacts).

    Exactly-once: the digest and row count are additive, so the
    applied-batch record rides inside the manifest JSON's single
    os.replace."""
    from ..operators.dq import incremental_checksum

    src = _file_stream(spark, sf_dir, f"{table_name}*.parquet", _DOC_SCHEMA, True)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Empty micro-batches fold to (0, 0) safely since checksum_agg
        # coalesces its modular sum, but skipping them entirely matches
        # the other maintenance streams and saves a no-op Spark job per
        # zero-row shard (r11 advice, medium).
        if batch_df.isEmpty():
            return
        incremental_checksum(
            manifest_dir, table_name, batch_df, batch_id=batch_id
        )

    _drain(spark, src.writeStream.foreachBatch(fold_batch), checkpoint_dir)


def check_scd_meta(scd_dir: str, n_buckets: int) -> None:
    """Pin the SCD2 dimension's bucket count to its on-disk layout.

    ``bucket = pmod(user_id, n_buckets)`` decides which directory holds
    a user's history; an apply run with a different ``n_buckets`` than
    the build would look for open rows in the wrong directories and
    silently duplicate history (r10 advice, low). First writer records
    the dimension (atomic os.replace of ``_scd_meta.json`` — the
    underscore name is invisible to parquet readers); every later
    writer fails fast on a mismatch. A pre-existing dimension with no
    meta (built before this check) adopts the caller's value."""
    meta_path = os.path.join(scd_dir.rstrip("/"), "_scd_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if int(meta["n_buckets"]) != int(n_buckets):
            raise ValueError(
                f"SCD2 dimension at {scd_dir} was built with "
                f"n_buckets={meta['n_buckets']}; refusing to apply with "
                f"n_buckets={n_buckets} — rerun with the build value or "
                "rebuild the dimension"
            )
        return
    os.makedirs(scd_dir.rstrip("/"), exist_ok=True)
    tmp = meta_path + ".__tmp__"
    with open(tmp, "w") as fh:
        json.dump({"n_buckets": int(n_buckets)}, fh)
    os.replace(tmp, meta_path)


def stream_scd2_maintenance(
    spark: SparkSession,
    src_dir: str,
    scd_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
) -> None:
    """Continuously-maintained SCD type-2 dimension: event batch files →
    ``foreachBatch`` → merge into the persisted validity-interval table
    (``operators.scd.scd2_from_events`` semantics, incrementally).

    Per batch: the batch's own SCD2 runs are computed with the same
    chunk-split machinery as the graded query (batch volume is bounded
    by maxFilesPerTrigger=1), then merged against ONLY the affected
    ``bucket = pmod(user_id, n_buckets)`` partitions of the dimension:
    a user's open row extends through the batch's first run when the
    state continues, closes at its valid_from when it changes, and new
    runs append — apply cost follows the batch's bucket spread, not
    dimension size (the apply_cdc story pointed at interval merges).

    ORDER CONTRACT: batches must arrive in per-user event-time order
    (an append-only, in-order change log — the standard CDC-feed
    assumption). Out-of-order arrivals need a rebuild from the log
    (the batch query), exactly like any SCD2 warehouse load.

    Exactly-once, per bucket: the merge is NOT idempotent (re-extending
    an open row against an already-applied batch would mis-close it), so
    each rewritten bucket directory carries an ``_applied.json`` record
    INSIDE the same directory swap, and a re-delivered batch applies
    only the buckets whose swap had not landed. The swap itself is two
    renames, so it is made crash-recoverable (r10 advice, medium): the
    displaced directory gets the DETERMINISTIC name ``bucket=N__old``
    and ``_recover_swaps`` runs before every batch — a bucket=N__old
    with no bucket=N means the crash hit between the renames (restore
    it); with both present the second rename landed (drop the
    leftover). A ``_scd_meta.json`` at the table root records n_buckets
    at first write; a later apply with a different --buckets fails fast
    instead of silently merging against a mismatched pmod layout (r10
    advice, low)."""
    import uuid as _uuid

    from pyspark.sql import Window as W

    from ..catalog import normalize_event_ts
    from ..operators.scd import scd2_from_events

    probe = spark.read.option("pathGlobFilter", "events*.parquet").parquet(
        src_dir
    )
    src = _file_stream(spark, src_dir, "events*.parquet", probe.schema, True)

    base = scd_dir.rstrip("/")
    cols = ["user_id", "state", "valid_from", "valid_to", "is_current"]
    check_scd_meta(base, n_buckets)

    def _bucket_max(bdir: str) -> int:
        return _read_max_applied(os.path.join(bdir, "_applied.json"))

    def _recover_swaps() -> None:
        """Repair any bucket directory swap a crash left half-done."""
        if not os.path.isdir(base):
            return
        for name in os.listdir(base):
            if not name.endswith("__old"):
                continue
            old_dir = os.path.join(base, name)
            dst = os.path.join(base, name[: -len("__old")])
            if os.path.isdir(dst):
                shutil.rmtree(old_dir)  # second rename landed; drop leftover
            else:
                os.rename(old_dir, dst)  # crash between renames; restore

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _recover_swaps()
        ev = normalize_event_ts(batch_df)
        if ev.isEmpty():
            return
        runs = scd2_from_events(ev).withColumn(
            "bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int")
        )
        affected = sorted(
            int(r[0]) for r in runs.select("bucket").distinct().collect()
        )
        todo = [
            b
            for b in affected
            if batch_id > _bucket_max(os.path.join(base, f"bucket={b}"))
        ]
        if not todo:
            return  # full replay: every bucket already recorded this batch
        runs = runs.where(F.col("bucket").isin(todo)).localCheckpoint(
            eager=True
        )

        have = [
            b for b in todo if os.path.isdir(os.path.join(base, f"bucket={b}"))
        ]
        if have:
            cur = (
                spark.read.parquet(
                    *[os.path.join(base, f"bucket={b}") for b in have]
                )
                .withColumn(
                    "bucket",
                    F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int"),
                )
            )
        else:
            cur = runs.where(F.lit(False))  # empty, same schema
        open_rows = cur.where(F.col("is_current") == 1)
        closed_rows = cur.where(F.col("is_current") == 0)

        wf = W.partitionBy("user_id").orderBy("valid_from")
        ranked = runs.withColumn("rn", F.row_number().over(wf))
        first = ranked.where(F.col("rn") == 1).select(
            F.col("user_id"),
            F.col("state").alias("state_f"),
            F.col("valid_from").alias("from_f"),
            F.col("valid_to").alias("to_f"),
            F.col("is_current").alias("cur_f"),
            F.col("bucket").alias("bucket_f"),
        )
        rest = ranked.where(F.col("rn") > 1).select("bucket", *cols)

        j = open_rows.alias("o").join(
            first.alias("f"), F.col("o.user_id") == F.col("f.user_id"), "full"
        )
        both = j.where(
            F.col("o.user_id").isNotNull() & F.col("f.user_id").isNotNull()
        )
        # continuation: open row absorbs the first run's span
        extended = both.where(F.col("o.state") == F.col("f.state_f")).select(
            F.col("f.bucket_f").alias("bucket"),
            F.col("o.user_id").alias("user_id"),
            F.col("o.state").alias("state"),
            F.col("o.valid_from").alias("valid_from"),
            F.col("f.to_f").alias("valid_to"),
            F.col("f.cur_f").alias("is_current"),
        )
        # state change: open row closes at the first run's start; the
        # first run enters as its own row
        closed_now = both.where(F.col("o.state") != F.col("f.state_f")).select(
            F.col("f.bucket_f").alias("bucket"),
            F.col("o.user_id").alias("user_id"),
            F.col("o.state").alias("state"),
            F.col("o.valid_from").alias("valid_from"),
            F.col("f.from_f").alias("valid_to"),
            F.lit(0).alias("is_current"),
        )
        first_kept = both.where(F.col("o.state") != F.col("f.state_f")).select(
            F.col("f.bucket_f").alias("bucket"),
            F.col("f.user_id").alias("user_id"),
            F.col("f.state_f").alias("state"),
            F.col("f.from_f").alias("valid_from"),
            F.col("f.to_f").alias("valid_to"),
            F.col("f.cur_f").alias("is_current"),
        )
        untouched_open = j.where(F.col("f.user_id").isNull()).select(
            F.col("o.bucket").alias("bucket"),
            F.col("o.user_id").alias("user_id"),
            F.col("o.state").alias("state"),
            F.col("o.valid_from").alias("valid_from"),
            F.col("o.valid_to").alias("valid_to"),
            F.col("o.is_current").alias("is_current"),
        )
        new_users_first = j.where(F.col("o.user_id").isNull()).select(
            F.col("f.bucket_f").alias("bucket"),
            F.col("f.user_id").alias("user_id"),
            F.col("f.state_f").alias("state"),
            F.col("f.from_f").alias("valid_from"),
            F.col("f.to_f").alias("valid_to"),
            F.col("f.cur_f").alias("is_current"),
        )
        merged = (
            closed_rows.select("bucket", *cols)
            .unionByName(extended)
            .unionByName(closed_now)
            .unionByName(first_kept)
            .unionByName(untouched_open)
            .unionByName(new_users_first)
            .unionByName(rest)
        )

        token = _uuid.uuid4().hex[:8]
        tmp = f"{base}__scd_{token}"
        (
            merged.repartition(F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(tmp)
        )
        os.makedirs(base, exist_ok=True)
        for b in todo:
            sub = f"bucket={b}"
            new_dir = os.path.join(tmp, sub)
            dst = os.path.join(base, sub)
            if not os.path.isdir(new_dir):
                # a bucket whose only rows were open rows untouched by
                # this batch cannot occur (todo buckets all carry runs),
                # but guard anyway
                os.makedirs(new_dir, exist_ok=True)
            # the batch-id record rides INSIDE the directory swap
            prior = _bucket_max(dst) if os.path.isdir(dst) else -1
            with open(os.path.join(new_dir, "_applied.json"), "w") as fh:
                json.dump({"max_applied": max(prior, batch_id)}, fh)
            # Deterministic old-dir name so a crash between the two
            # renames is repairable by _recover_swaps on the next batch.
            old_dir = f"{dst}__old"
            had_old = os.path.isdir(dst)
            if had_old:
                os.rename(dst, old_dir)
            try:
                os.rename(new_dir, dst)
            except OSError:
                if had_old:
                    os.rename(old_dir, dst)
                raise
            if had_old:
                shutil.rmtree(old_dir)
        shutil.rmtree(tmp, ignore_errors=True)

    _recover_swaps()  # stream start: heal even if no batch fires
    _drain(spark, src.writeStream.foreachBatch(apply_batch), checkpoint_dir)
