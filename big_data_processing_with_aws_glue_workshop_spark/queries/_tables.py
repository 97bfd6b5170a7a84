"""Parquet table access for the driver's testdata star schema."""

from __future__ import annotations

from collections import OrderedDict
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

# Session confs every registered query depends on. The grading harness (and
# any user) may hand us a vanilla Spark 4 session — ANSI on, nanos rejected —
# so we pin these at runtime rather than relying on our own session factory
# (session.py). All three are runtime-settable on a stock session.
_SESSION_CONFS = (
    # events.parquet carries TIMESTAMP(NANOS); read as int64 and convert below
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # multi-format date fallbacks and hash-mixing arithmetic are written to be
    # ANSI-safe, but pin ANSI off as belt-and-braces for legacy cast semantics
    ("spark.sql.ansi.enabled", "false"),
    # deterministic timestamp rendering for the value-hash comparison
    ("spark.sql.session.timeZone", "UTC"),
)


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Pin the confs this package's queries assume, on any session.

    Idempotent and cheap; called by :func:`load` and by the query-registry
    wrapper so every driver-facing entry point is self-sufficient.
    """
    for key, value in _SESSION_CONFS:
        try:
            spark.conf.set(key, value)
        except Exception:
            # conf locked (e.g. static conf on some builds) — queries are
            # written to survive ANSI-on; nanos reads will surface their own
            # actionable error if this one is truly immutable.
            pass
    return spark


def ntz_to_utc_instant(col: F.Column) -> F.Column:
    """TIMESTAMP_NTZ wall time -> TIMESTAMP instant, treating the wall time
    as UTC **independent of the session timezone**.

    A plain ``.cast("timestamp")`` interprets the naive wall time in the
    SESSION timezone (and so does ``to_utc_timestamp`` — its NTZ input is
    session-cast first), so on a session whose timezone conf is locked to
    non-UTC (``ensure_session_confs`` deliberately swallows conf-set
    failures) every event instant would silently shift. This arithmetic
    path has no timezone input at all: days-since-epoch and time-of-day are
    extracted from the wall clock and recombined as epoch micros. The
    int-typed products are widened to long BEFORE multiplying — second-of-
    day micros (up to 86.4e9) overflows int32, and with ANSI off the wrap
    is silent.
    """
    # extract(SECOND) yields decimal(8,6) seconds INCLUDING the micro fraction
    return F.timestamp_micros(
        F.unix_date(F.to_date(col)).cast("long") * F.lit(86_400_000_000)
        + (F.hour(col) * 3600 + F.minute(col) * 60).cast("long") * F.lit(1_000_000)
        + (F.extract(F.lit("SECOND"), col) * F.lit(1_000_000)).cast("long")
    )


# Session-keyed PLAN-METADATA memos (r17 optimization round, guide §1/§6).
# NOT result caching: every action still computes from the parquet bytes.
#
# - _SCHEMA_MEMO: the inferred parquet schema per (applicationId, sf_dir,
#   table). ``spark.read.parquet`` re-reads footers to infer the schema on
#   EVERY call (~100 ms of driver latency measured at sf0.1);
#   ``spark.read.schema(s).parquet`` skips that (~19 ms). The memoized
#   schema IS the inference result from this same session and path, so the
#   analyzed plan is identical — the same class of metadata reuse as
#   Spark's own FileStatusCache / parquet footer cache. Keyed by
#   applicationId so a fresh session re-infers from the files.
# - _NPARTS_MEMO: parallelize_scan's scan-split count per (applicationId,
#   sf_dir, table, defaultParallelism). The ``df.rdd.getNumPartitions()``
#   probe converts the plan to an RDD (~80-140 ms of driver work) and its
#   answer is a pure function of (file set, maxPartitionBytes, codec) —
#   constant for an immutable table within one session. Composed frames
#   are keyed on their analyzed plan's semanticHash, read through the
#   private py4j handle ``df._jdf`` (classic PySpark only; a Spark Connect
#   frame has no ``_jdf``, and no ``df.rdd`` to probe either). A long-lived
#   process builds new plans and sessions without end, so the memo is an
#   LRU of _NPARTS_MEMO_MAX entries; an evicted key only re-runs its probe.
#
# Assumption (holds for the driver contract): testdata tables are immutable
# for the lifetime of a session. Tools that rewrite tables in place must use
# a new session (they do — each CLI/probe run builds its own).
_SCHEMA_MEMO: dict = {}
_NPARTS_MEMO: OrderedDict = OrderedDict()
_NPARTS_MEMO_MAX = 512


def _memo_nparts(key: tuple, probe: Callable[[], int]) -> int:
    """``probe()``'s answer for ``key`` from the LRU split-count memo."""
    if key in _NPARTS_MEMO:
        _NPARTS_MEMO.move_to_end(key)
        return _NPARTS_MEMO[key]
    nparts = _NPARTS_MEMO[key] = probe()
    if len(_NPARTS_MEMO) > _NPARTS_MEMO_MAX:
        _NPARTS_MEMO.popitem(last=False)
    return nparts


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan; Catalyst pushes filters/projections into this source.

    The events.ts parquet column is physical TIMESTAMP(NANOS) and arrives
    in one of two shapes depending on the Spark build:

    - pre-4.1 under ``spark.sql.legacy.parquet.nanosAsLong``: int64 nanos,
      converted here by integer floor-division by 1000 — the same
      truncation DuckDB applies reading nanos into its micros TIMESTAMP;
    - Spark 4.1+: native TIMESTAMP_NTZ (micros truncation; the legacy conf
      is ignored), converted via session-TZ-independent wall-clock
      arithmetic (:func:`ntz_to_utc_instant`).

    Both paths produce identical instants; the streaming reader
    (streaming/windows.py::read_events_stream) mirrors this branch and is
    parity-pinned by tests/test_streaming.py::test_batch_stream_reader_parity.
    """
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _SCHEMA_MEMO[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer DIV, not float '/': nanos ~1.7e18 exceed double's 53-bit
            # exact-integer range, so float division would corrupt low micros
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", ntz_to_utc_instant(F.col("ts")))
    # tag for parallelize_scan's split-count memo; a DataFrame is a plain
    # Python object, so the attribute rides only THIS handle (any transform
    # between load() and parallelize_scan() drops it -> probe runs live)
    df._sg_scan_key = key
    return df


def parallelize_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Give a poorly-split source scan full parallelism before per-row-heavy
    compute (shingling, hashing, vector math, media packing/decoding).

    A source that yields fewer splits than the cluster has cores — one row
    group per file (this driver's testdata), unsplittable codecs, a handful
    of huge files — leaves every expensive narrow stage running on a
    fraction of the machine until the first shuffle. Policy: if the scan
    arrives with fewer partitions than ``defaultParallelism``, redistribute
    ONCE right after it; well-split sources (the 100 TB case, thousands of
    row groups) hit the fast path and are untouched.

    Always hash-partitions on ``key_cols`` (callers pass the downstream
    grouping key, usually the row id): when a later groupBy uses the same
    key, the exchange MOVES here instead of being added — hash distribution
    on the key satisfies the aggregation's clustering requirement — and a
    keyed exchange avoids round-robin's defensive full-row sort
    (spark.sql.execution.sortBeforeRepartition) on wide binary columns.

    Only safe for order-insensitive computations (per-row projections,
    min/max/integer aggregates, exact rerank folds): floating-point SUM/AVG
    reductions change addition order under a different partitioning, so
    oracle-hash-matched FP aggregations must NOT go through this helper.

    CONTRACT: call this on a frame JUST AFTER its source scan (before any
    join/aggregate/exchange). The partition probe below converts the plan to
    an RDD and measures the WHOLE upstream plan's partitioning, not the leaf
    scan's — cheap and accurate right after a load(), but both misleading
    and non-free if applied downstream of exchanges. Every call site in this
    package wraps load(...) directly.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    scan_key = getattr(df, "_sg_scan_key", None)
    if scan_key is not None:
        # fresh load() handle: the split count is a constant of the
        # (immutable) file set and session confs — probe once per table
        # per session instead of paying the plan->RDD conversion
        # (~80-140 ms driver latency) on every query build
        memo_key = scan_key + (target,)
    else:
        # non-load frame (cached filter, semi-join input, ...): the probe's
        # answer is a pure function of the LOGICAL plan within one session
        # (immutable tables, fixed confs), so key the memo on the analyzed
        # plan's semantic hash — ~1 ms vs the 1.5-5 s plan->RDD conversion
        # the probe costs on a composed plan (measured r18: the pipeline's
        # verify-side shingle probe alone was 1.5 s of driver time PER
        # invocation). A 32-bit hash collision can only mis-answer the
        # repartition DECISION (performance, never results).
        memo_key = (
            spark.sparkContext.applicationId,
            "__semhash__",
            df._jdf.queryExecution().analyzed().semanticHash(),
            target,
        )
    nparts = _memo_nparts(memo_key, lambda: df.rdd.getNumPartitions())
    if nparts >= target:
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols])
