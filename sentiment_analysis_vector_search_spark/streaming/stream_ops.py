"""Structured Streaming operators.

``stream_windowed_counts`` runs the events table through a real
readStream → withWatermark → tumbling-window aggregate → memory sink
pipeline (trigger=availableNow), then returns the materialized result.
Because availableNow drains the full input, the final state must equal the
batch plan — which is exactly what the DuckDB oracle checks (date_trunc
hour ≡ 1-hour tumbling window). This is the streaming/batch-consistency
guarantee Structured Streaming is built on.

At cluster scale the same pipeline points at a file/Kafka source with a
real trigger; the watermark bounds state for late data.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.stable import sql_dsum
from ..registry import register

# State-store partition count for these drain-style streaming checks.
# A streaming query's state partitioning is fixed at first start from
# spark.sql.shuffle.partitions; a vanilla session's 200 means 200 state
# commits per micro-batch — pure overhead at test scale. On a real cluster
# size this to key cardinality / executor count via the env knob.
# Lowered 8 → 4 in r6: each HDFS-backed state commit is a handful of
# fsynced files PER partition PER store (a stream-stream join keeps four
# stores), and the r5 bench showed the per-partition commit fan-out, not
# compute, dominating drain cost at test scale (8→4 ≈ −0.5 s on
# stream_interval_join).
_STATE_PARTITIONS = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "4")

_NO_DATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"

# Session-scoped checkpoint root (r5 verdict #3: stop paying per-drain
# checkpoint setup in scattered temp dirs). Prefer a RAM-backed tmpfs —
# an availableNow drain's checkpoint is ephemeral by construction (the
# query is never resumed; the subdir is deleted right after the drain),
# so durability buys nothing here and the fsync traffic of the HDFS-backed
# state store is the measured cost (−0.3-0.4 s per stateful drain). A
# production deployment points checkpointLocation at durable shared
# storage instead — that is a deploy knob, not this helper's contract.
_CK_ROOTS: "WeakKeyDictionary[SparkSession, str]" = WeakKeyDictionary()


# Minimum free bytes before /dev/shm is trusted as the checkpoint root:
# container defaults (64 MB shm) can fill mid-drain and fail the query
# with an opaque checkpoint IO error (r6 advice). A stream-stream join
# keeps 4 stores x state partitions of commit files; 256 MB is orders of
# magnitude above a drain's worst case while still rejecting tiny shm.
_SHM_MIN_FREE = 256 * 1024 * 1024


def _session_ck_root(spark: SparkSession) -> str:
    root = _CK_ROOTS.get(spark)
    if root is None or not os.path.isdir(root):
        base = None
        forced = os.environ.get("SPARK_GRAFT_STREAM_CK_DIR")
        if forced:  # explicit override wins (e.g. force disk-backed)
            os.makedirs(forced, exist_ok=True)
            base = forced
        elif os.access("/dev/shm", os.W_OK):
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE:
                base = "/dev/shm"
        root = tempfile.mkdtemp(prefix="sg_stream_ck_", dir=base)
        _CK_ROOTS[spark] = root
    return root


@contextmanager
def _stream_confs(spark: SparkSession, state_partitions: str | None = None):
    """Pin drain-scoped streaming confs while a query starts; restore after.

    - shuffle partitions → _STATE_PARTITIONS (state partitioning is fixed
      at first start).
    - no-data micro-batches OFF: availableNow otherwise appends one final
      empty batch purely to advance the watermark and re-commit every
      state partition (~0.9 s on the stream-stream join). Safe for every
      drain in this module BY CONSTRUCTION: the complete/update-mode aggs
      re-emit per batch and the inner interval join emits eagerly — no
      operator here holds rows that only a final watermark tick would
      release. An append-mode AGGREGATION drain would need that tick;
      don't add one to this helper without flipping this conf back on.
    """
    olds = {}
    for conf, new in (
        ("spark.sql.shuffle.partitions", state_partitions or _STATE_PARTITIONS),
        (_NO_DATA_CONF, "false"),
    ):
        try:
            olds[conf] = spark.conf.get(conf)
        except Exception:  # noqa: BLE001
            olds[conf] = None
        spark.conf.set(conf, new)
    try:
        yield
    finally:
        for conf, old in olds.items():
            if old is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, old)


def _drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    checkpoint_dir: str,
    state_partitions: str | None = None,
) -> None:
    """Run ``writer`` (a configured DataStreamWriter) as one availableNow
    drain checkpointed at ``checkpoint_dir``, and wait for it to finish.

    Every streaming query in the package starts here, under
    ``_stream_confs``. Re-running a drain with the same checkpoint resumes
    after the last committed micro-batch.
    """
    with _stream_confs(spark, state_partitions):
        q = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def _file_stream(
    spark: SparkSession,
    src_dir: str,
    glob: str,
    schema: StructType | str,
    one_file_per_batch: bool,
) -> DataFrame:
    """Streaming parquet source over the files in ``src_dir`` matching
    ``glob``. The source tracks the files it has processed, so a later
    drain picks up only newly landed ones. ``one_file_per_batch`` makes
    each file its own micro-batch (``maxFilesPerTrigger`` is a SOURCE
    option; on the writer Spark ignores it)."""
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", "1")
    return reader.parquet(src_dir)


def _drain_to_memory(
    spark: SparkSession,
    df: DataFrame,
    prefix: str,
    mode: str,
    state_partitions: str | None = None,
) -> DataFrame:
    """availableNow drain to a memory sink, returning the result DETACHED
    from the sink: the drained rows are checkpointed and the temp view is
    dropped immediately. Without the drop, every invocation leaves its full
    result set pinned in the session catalog — repeated calls (driver rows
    pass + hash pass, bench warmup + reps) accumulate into real memory
    pressure (measured: stream_interval_join 2.5s → 6.4s over a bench run).
    The checkpoint lives under the session-scoped RAM-backed root (see
    _session_ck_root) and is deleted as soon as the drain finishes.
    """
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ck = os.path.join(_session_ck_root(spark), sink)
    _drain(
        spark,
        df.writeStream.format("memory").queryName(sink).outputMode(mode),
        ck,
        state_partitions,
    )
    out = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    shutil.rmtree(ck, ignore_errors=True)
    return out


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events source with ts normalized to TIMESTAMP.

    FileStreamSource needs an explicit schema; take it from a batch probe
    of the same file (footer-only, nothing is scanned) so the stream reads
    whatever timestamp encoding this round's parquet actually has — the
    driver has shipped both TIMESTAMP(NANOS) (bigint via nanosAsLong) and
    TIMESTAMP(MICROS) (timestamp_ntz) — then canonicalize ts exactly like
    the batch catalog does. A hard-coded schema silently corrupts ts when
    the encoding changes (micros read as nanos → 1970 timestamps).
    """
    from ..catalog import normalize_event_ts, read_events_raw

    raw = read_events_raw(spark, sf_dir)
    return normalize_event_ts(
        _file_stream(spark, sf_dir, "events.parquet", raw.schema, False)
    )

_STREAM_ORACLE = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       {sql_dsum('value', 'total_value')}
FROM events
GROUP BY 1, 2
"""


@register("stream_windowed_counts", oracle=_STREAM_ORACLE)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _drain_to_memory(spark, agg, "stream_counts", "complete")


# ---------------------------------------------------------------------------
# stream_sessionize — native session windows (30-min gap) over the event
# stream. session_window merges events whose gap is strictly < 30 min, so
# the batch oracle marks a new session at gap >= 30 min; with availableNow
# draining the whole input the final state equals the batch computation.
# At scale: state is per (user_id, open-session) and the watermark evicts
# closed sessions — bounded memory under unbounded input.
# ---------------------------------------------------------------------------

_SESSION_GAP_MIN = 30

_SESSIONIZE_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= {_SESSION_GAP_MIN * 60} * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
"""


@register("stream_sessionize", oracle=_SESSIONIZE_ORACLE)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "30 minutes")
        .groupBy(
            "user_id",
            F.session_window("ts", f"{_SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    return _drain_to_memory(spark, agg, "stream_sessions", "complete")


# ---------------------------------------------------------------------------
# stream_stateful_user_stats — applyInPandasWithState: an arbitrary
# user-defined per-key stateful operator (the escape hatch when built-in
# windows/session_window can't express the semantics). Here the custom
# state is a running (count, exact-decimal sum) per user; the decimal
# accumulation reproduces functions/stable.py's order-independent sum, so
# the drained stream hash-matches a plain batch GROUP BY in the oracle.
# At scale: state lives in the state store partitioned by user_id; an
# eviction policy would use GroupStateTimeout instead of NoTimeout.
# ---------------------------------------------------------------------------

_USTATS_ORACLE = f"""
SELECT user_id, count(*) AS n_events, {sql_dsum('value', 'total_value')}
FROM events
GROUP BY user_id
"""


_VU_SCALE = 10**10  # decimal(…,10) fixed-point: 1 unit = 1e-10


def _user_stats_fn(key, pdf_iter, state):
    """Accumulate (n, exact fixed-point total) for one user across batches.

    The per-value decimal quantization happens JVM-SIDE before the Python
    stage (cast to decimal(20,10) — Spark's BigDecimal.valueOf shortest-
    repr HALF_UP, exactly stable.dsum's addend cast — scaled to integer
    1e-10 units). State math is then a vectorized int64 sum per batch
    instead of a per-row Python Decimal loop (r4's 2.8s was ~100k Decimal
    constructions per drain); one exact Decimal division per emitted row
    converts units back to the correctly-rounded double, so the output
    still hash-matches the batch sql_dsum oracle bit-for-bit.
    """
    from decimal import Decimal

    if state.exists:
        n, units = state.get
    else:
        n, units = 0, 0
    for pdf in pdf_iter:
        n += len(pdf)
        units += int(pdf["vu"].sum())
    state.update((n, units))
    import pandas as pd

    total = float(Decimal(units) / Decimal(_VU_SCALE))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


@register("stream_stateful_user_stats", oracle=_USTATS_ORACLE)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_stream(spark, sf_dir)
    # typed decimal(11,0) multiplier: decimal(20,10) x bigint would trigger
    # allowPrecisionLoss scale reduction (silently truncating units);
    # (20,10) x (11,0) -> (32,10), exact, then an exact bigint cast.
    vu = (
        F.col("value").cast("decimal(20,10)")
        * F.lit(_VU_SCALE).cast("decimal(11,0)")
    ).cast("bigint")
    ev = src.select("user_id", "ts", vu.alias("vu"))
    out = ev.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, units bigint",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    # update-mode sink may hold one row per (user, micro-batch): keep the
    # final state per user (max n_events is monotone in batches).
    # Wider state partitioning than the drain default: this stage runs
    # PYTHON workers (applyInPandasWithState), so partitions = concurrent
    # interpreters; the commit fan-out that argues for few partitions on
    # JVM-stateful drains is dwarfed here by Python-side parallelism.
    snap = _drain_to_memory(
        spark, out, "stream_ustats", "update", state_partitions="16"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snap.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


# ---------------------------------------------------------------------------
# stream_dedup_exact — streaming deduplication: dropDuplicates on the
# content hash inside Structured Streaming (state = seen-hash set; with a
# watermark the state is evictable). Draining with availableNow, the
# per-lang distinct counts must equal batch COUNT(DISTINCT hash) — the
# dedup key includes lang so the surviving row per group is deterministic.
# ---------------------------------------------------------------------------

_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

_SDEDUP_ORACLE = """
SELECT lang, count(distinct md5(text)) AS n_unique
FROM documents
GROUP BY lang
"""


@register("stream_dedup_exact", oracle=_SDEDUP_ORACLE)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _file_stream(spark, sf_dir, "documents.parquet", _DOC_SCHEMA, False)
    deduped = src.select("lang", F.md5("text").alias("text_hash")).dropDuplicates(
        ["lang", "text_hash"]
    )
    agg = deduped.groupBy("lang").agg(F.count(F.lit(1)).alias("n_unique"))
    return _drain_to_memory(spark, agg, "stream_dedup", "complete")


# ---------------------------------------------------------------------------
# stream_interval_join — stream-stream join: each purchase joined to the
# same user's clicks from the preceding hour. Both sides are watermarked
# so the state store can evict rows outside the interval; the equi-key
# (user_id) plus the time-range condition is exactly the shape Structured
# Streaming's symmetric hash join handles. Drained with availableNow, the
# result must equal the batch interval join the oracle runs.
# ---------------------------------------------------------------------------

_SJOIN_ORACLE = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       cast(epoch_us(p.ts) - epoch_us(c.ts) as bigint) AS gap_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
"""


@register("stream_interval_join", oracle=_SJOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE streaming source, self-joined (r6): two _event_stream calls
    # register two FileStreamSources that each probe the footer, list the
    # dir, and track offsets — pure duplication for a same-table interval
    # join. Structured Streaming supports stream self-joins; both sides
    # below share this single source.
    ev = _event_stream(spark, sf_dir)

    def side(kind: str, alias: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    purchases = side("purchase", "p")
    clicks = side("click", "c")
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("interval 1 hour"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        F.col("p_id").alias("purchase_id"),
        F.col("c_id").alias("click_id"),
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).cast("bigint").alias("gap_us"),
    )
    return _drain_to_memory(spark, joined, "stream_sjoin", "append")


# ---------------------------------------------------------------------------
# stream_quality_gate — quality gating at INGEST time: the C4-style gates
# applied inside Structured Streaming with per-(lang, keep) counts drained
# to the sink. The gate expressions are the exact Column objects the batch
# operator uses (pipeline_ops.gate_columns) — stateless projections are
# streaming-safe by construction, so the drained counts must equal the
# batch GROUP BY the oracle runs. At scale this is the shape of a gating
# stage in a continuously-ingesting corpus pipeline: no state beyond the
# aggregate, arbitrarily parallel.
# ---------------------------------------------------------------------------

# Gate thresholds inlined, NOT imported from operators.pipeline_ops at
# decoration time — that import would register pipeline_ops' queries
# mid-stream_ops and scramble the driver grading-window rotation. A pytest
# (test_sentiment/test_pipeline) asserts these literals equal the batch
# constants so the two texts cannot drift silently. The tokenization
# mirrors the batch _GATE_ORACLE exactly: split keeps empty tokens
# (S.tokens semantics), stopword hits over the same lowered split.
_SGATE_MIN_WORDS = 5
_SGATE_MIN_STOP_HITS = 1
_SGATE_MAX_WORD_CHARS = 25


def _sgate_oracle() -> str:
    from ..functions import sentiment as S

    stop_sql = ", ".join(f"'{w}'" for w in S.STOPWORDS)
    return f"""
WITH feat AS (
  SELECT lang,
         len(string_split_regex(lower(text), '\\s+')) AS n_words,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x in ({stop_sql}))) AS stop_hits,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> length(x) > {_SGATE_MAX_WORD_CHARS})) > 0 AS has_long_word
  FROM documents
)
SELECT lang,
       (n_words >= {_SGATE_MIN_WORDS} AND stop_hits >= {_SGATE_MIN_STOP_HITS}
        AND NOT has_long_word) AS keep,
       count(*) AS n_docs
FROM feat GROUP BY 1, 2
"""


@register("stream_quality_gate", oracle=_sgate_oracle())
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipeline_ops import gate_columns

    src = _file_stream(spark, sf_dir, "documents.parquet", _DOC_SCHEMA, False)
    gated = src.select("lang", gate_columns()["keep"].alias("keep"))
    agg = gated.groupBy("lang", "keep").agg(F.count(F.lit(1)).alias("n_docs"))
    return _drain_to_memory(spark, agg, "stream_qgate", "complete")
