"""Table catalog: load the synthetic parquet tables for a scale-factor dir.

At cluster scale these would be partitioned/bucketed external tables; the
loaders keep the access path identical (``spark.read.parquet``) so Catalyst
gets column pruning + predicate pushdown into the scan for free.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables: always broadcast in joins against facts.
BROADCAST_DIMS = {"region", "nation", "supplier", "part", "customer"}


def read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as the scan surfaces it, ts un-normalized.

    The driver's generated events table has shipped with two different
    parquet timestamp encodings across rounds — TIMESTAMP(NANOS), which
    vanilla Spark only reads via the nanosAsLong legacy conf (as a bigint),
    and TIMESTAMP(MICROS, isAdjustedToUTC=false), which reads natively as
    TIMESTAMP_NTZ. Set the legacy conf defensively (harmless for micros
    files; runtime-settable, so it works on ANY caller-provided session)
    and let normalize_event_ts canonicalize whatever comes back.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 — conf may be removed in future Spark
        pass
    # LOUD SESSION-STATE CONTRACT: this engine computes event time in UTC,
    # and pins the session timezone here — the single entry point every
    # events consumer (batch table(), streaming _event_stream) goes
    # through — rather than as a hidden branch-dependent side effect
    # inside normalize_event_ts (r4 advice). The NTZ→TIMESTAMP cast below
    # reinterprets wall-clock in the session timezone, so without the pin
    # a caller-provided non-UTC session would silently shift every event.
    # Callers that need another zone should convert on the OUTPUT with
    # from_utc_timestamp, not reconfigure the engine.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Canonicalize events.ts to a session-tz TIMESTAMP column.

    bigint        → nanos since epoch (nanosAsLong read): integer-DIV to
                    micros, then timestamp_micros (full precision kept).
    timestamp_ntz → native micros read: cast to TIMESTAMP. Value-preserving
                    because read_events_raw pinned the session timezone to
                    UTC (see the contract note there); this function itself
                    no longer mutates session state. Downstream operators
                    need LTZ for unix_micros()/epoch arithmetic.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Per-session table memo (r6): `spark.read.parquet` re-lists the directory
# and re-reads footers on EVERY call — a fixed ~50-100 ms tax per table per
# query invocation that the r5 cross-round bench surfaced as a uniform
# +0.3-0.5 s floor on trivial queries. The memoized DataFrame is a lazy,
# immutable logical plan over a static testdata dir, so reuse is
# value-identical; the session key is weak so a stopped session's entries
# drop. (At cluster scale the equivalent is a real metastore table —
# resolved once, not per query.) STATIC-DIRECTORY ASSUMPTION: a session
# that rewrites/appends an sf_dir must call catalog.refresh(spark, sf_dir)
# to drop the captured file listing — see refresh() below.
_TABLE_MEMO: "WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    WeakKeyDictionary()
)


def refresh(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Invalidate the table memo (r6 advice): the memoized DataFrames
    capture the parquet file listing (InMemoryFileIndex) at first read,
    so a session that REGENERATES or APPENDS to an sf_dir (data-prep then
    query in one session) must call this — or pass the specific dir — to
    drop the stale listings. Tests that write their own table files into
    a tmp sf_dir are the in-repo callers."""
    per = _TABLE_MEMO.get(spark)
    if per:
        if sf_dir is None:
            per.clear()
        else:
            for key in [k for k in per if k[0] == sf_dir]:
                del per[key]
    # Stale-stats coupling (r7 advice, low): the stats memo is keyed by the
    # same (sf_dir, table) identity; a rewritten dir invalidates BOTH the
    # captured file listing and any per-table statistics the broadcast /
    # join-strategy gates consume.
    from . import stats as _stats

    _stats.refresh(sf_dir)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Re-apply the UTC session pin on every access (not only on memo
        # miss) so the memo does not weaken read_events_raw's documented
        # session-state contract.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        per = _TABLE_MEMO.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable: skip memoization
        per = {}
    key = (sf_dir, name)
    df = per.get(key)
    if df is None:
        if name == "events":
            df = normalize_event_ts(read_events_raw(spark, sf_dir))
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        per[key] = df
    return df


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread expression-heavy per-row compute across cores.

    Projections run inside the scan stage, so a scan with few input splits
    (the test parquet is one row group per file → ONE task) serializes all
    per-row compute onto one core until the first exchange. When per-row
    work dominates scan cost — signature hashing, per-token loops — a
    round-robin repartition first is a net win: it moves kilobytes-to-
    megabytes once to unlock full parallelism.

    Conditional on the scan's actual split count, so it is a NO-OP on real
    cluster layouts where the file source already yields >= cores splits —
    there an extra shuffle of the full input would be the bug, not the fix.
    """
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(cores // 2, 2):
        return df
    return df.repartition(cores)


def corpus_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Lineage cut for a CORPUS-GRAIN intermediate (shingle sets, minhash/
    simhash signature relations — anything whose row count scales with the
    corpus, unlike the bounded dimension-grain cuts).

    Default: ``localCheckpoint`` — blocks live executor-local and
    NON-REPLICATED, the cheapest cut in a single JVM and fine for bounded
    relations. At 100 TB the trade matters (r13 verdict #7): losing an
    executor fails the job instead of recomputing lineage, and for a
    corpus-grain relation that is a real reliability exposure. Setting
    ``SPARK_GRAFT_RELIABLE_CK_DIR=<hdfs-or-s3-path>`` routes these cuts
    through a RELIABLE ``checkpoint`` into that directory instead: the
    write crosses the network once, but blocks survive executor loss.
    Default behavior (unset) is byte-identical to before — the flag is a
    deployment posture knob, not a semantics change.
    """
    import os

    ckdir = os.environ.get("SPARK_GRAFT_RELIABLE_CK_DIR")
    if ckdir:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so ``spark.sql`` plans over them."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
