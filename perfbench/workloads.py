"""The benchmark workloads (see WORKLOADS.md).

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. A workload builds its inputs from the
seed, finishes its set-up, then runs whole passes until the measuring time
has elapsed. Every output is checked; a wrong result counts as a failed
operation.

The benchmark drives the engine only through its public functions, the
same ones the CLI subcommands and the query registry call.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from big_data_processing_with_aws_glue_workshop_spark import util
from big_data_processing_with_aws_glue_workshop_spark.operators.dq import sampled_profile, consolidated_validation
from big_data_processing_with_aws_glue_workshop_spark.operators.joins import anti_join_orphans
from big_data_processing_with_aws_glue_workshop_spark.functions.text import snake_case_columns
from big_data_processing_with_aws_glue_workshop_spark.plans import analytics
from big_data_processing_with_aws_glue_workshop_spark.plans.incremental import (
    incremental_dedup_refresh, incremental_refresh, read_deduped, read_refreshed,
)
from big_data_processing_with_aws_glue_workshop_spark.plans.rues import (
    RuesConfig, apply_rules, bronze_year_partition, build_dim_empresa,
    build_fact_renovacion, rn001_standardize_dates, rn003_normalize_states,
    silver_rules, silver_validation_rules, silver_year_partition,
)
from big_data_processing_with_aws_glue_workshop_spark.queries import (
    ORACLES, QUERIES, athena, events, media, relational, textops, vectors,
)
from big_data_processing_with_aws_glue_workshop_spark.queries._tables import TABLES
from big_data_processing_with_aws_glue_workshop_spark.sources.bookmarks import JobBookmark
from big_data_processing_with_aws_glue_workshop_spark.sources.readers import read_csv_robust, read_parquet_lake
from big_data_processing_with_aws_glue_workshop_spark.sources.writers import (
    write_csv_single, write_parquet, write_parquet_partitioned,
)

from . import checks, rues, tables, waves
from .cpu import CpuClock

SETUP_REPEATS = 3  # input generation runs this often; set-up reports the median

# The query subset: one query per operator family of the six query
# modules, with the graph, window, range-join, dedup, ANN and media kernels
# in. A pass over all 100 registered queries of these modules takes 58 s
# warm at 4 cores, more than one run of the benchmark can spend. The
# short relational reads come first, the CPU- and shuffle-heavy training
# data operators last.
SQL_ANALYTICS = (
    "pricing_summary", "customer_balance_ntiles", "revenue_by_supplier_nation",
    "multiformat_date_parsing", "copurchase_triangle_census", "session_windows",
    "range_join_interval_counts", "athena_q2_avg_age_by_activity",
    "shared_substring_pairs", "ivf_ann_topk", "media_pixel_stats",
)
QUERY_SF = 0.002  # lineitem 12,000 rows; documents and embeddings 500 rows

MEDALLION_COMPANIES = 4_000
MEDALLION_NUM_FILES = 4  # the bronze/silver --num-files argument: one file per core
RUES_CONFIG = RuesConfig(reference_year=rues.REFERENCE_YEAR, today=rues.TODAY)
ANALYTICS_YEAR = rues.REFERENCE_YEAR
ERROR_LOG_NAME = "errors_20250630_000000.csv"

REFRESH_BASE_COMPANIES = 1_000
REFRESH_WAVE_ROWS = 400
REFRESH_BASE_DOCS = 1_000
REFRESH_WAVE_DOCS = 200

LAYER_OF_QUERY = {
    name: f"queries.{mod.__name__.rsplit('.', 1)[-1]}"
    for mod in (relational, events, athena, textops, vectors, media)
    for name in mod.QUERIES
}


class Context:
    """Run state shared by a workload: the session, the tracer, the
    measured operations and the correctness tally."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.ops: list[tuple[int, str, float, float]] = []  # pass, name, wall s, CPU s
        self.passes: list[tuple[int, bool, float]] = []  # pass, traced, wall s
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.wave_input_bytes: dict[int, int] = {}
        self.cpu = CpuClock()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    @contextmanager
    def op(self, k: int, name: str):
        """One measured operation; an exception counts as a failed one."""
        c0 = self.cpu.read()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield
        except Exception as exc:  # a failing operation must not end the run
            self.check(False, f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            raise _OpFailed() from exc
        finally:
            wall = time.perf_counter() - t0
            self.ops.append((k, name, wall, self.cpu.read() - c0))

    def run_pass(self, k: int, one_pass, traced: bool = False) -> None:
        self.tracer.enabled = traced
        self.tracer.pass_id = k
        t0 = time.perf_counter()
        with self.tracer.span(f"pass{k}"):
            one_pass(k)
        self.tracer.enabled = False
        self.passes.append((k, traced, time.perf_counter() - t0))

    def warm_and_measure(self, one_pass) -> None:
        """A warm pass (part of set-up), then whole passes until
        ``seconds`` have elapsed (at least one). In a traced run every
        measured pass is traced."""
        self.run_pass(0, one_pass)
        # the warm pass's operations, without the checks between them
        self.setup["warm_pass_s"] = sum(dt for _, _, dt, _ in self.ops)
        self.ops.clear()
        self.passes.clear()
        start = time.perf_counter()
        k = 1
        while k == 1 or time.perf_counter() - start < self.seconds:
            self.run_pass(k, one_pass, traced=self.trace)
            k += 1


class _OpFailed(Exception):
    """Raised out of :meth:`Context.op` after the failure was counted."""


def _timed_median(fn, *args) -> tuple[float, object]:
    """Run ``fn`` SETUP_REPEATS times; (median seconds, last result)."""
    secs, result = [], None
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        result = fn(*args)
        secs.append(time.perf_counter() - t0)
    return statistics.median(secs), result


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# sql_analytics
# ---------------------------------------------------------------------------


def _release(spark) -> None:
    util.maybe_release_tracked_caches()
    spark.catalog.clearCache()


def run_queries(ctx: Context, names: tuple[str, ...]) -> None:
    spark, tr = ctx.spark, ctx.tracer
    tables_dir = os.path.join(ctx.work, "tables")
    ctx.setup["input_s"], _ = _timed_median(tables.write_tables, tables_dir, ctx.seed, QUERY_SF)

    con = checks.oracle_conn(tables_dir, TABLES)
    try:
        oracle = {n: con.execute(ORACLES[n]).df() for n in names if n in ORACLES}
    finally:
        con.close()

    # Every execution fetches the full result and is checked against the
    # DuckDB twin; the approximate queries without a twin must reproduce
    # the row count of their first execution.
    first_rows: dict[str, int] = {}

    def one_pass(k: int) -> None:
        for n in names:
            _release(spark)
            layer = LAYER_OF_QUERY[n]
            try:
                with ctx.op(k, n):
                    with tr.span(n, layer, "build"):
                        df = QUERIES[n](spark, tables_dir)
                    with tr.span(n, layer, "exec"):
                        pdf = df.toPandas()
            except _OpFailed:
                continue
            if n in oracle:
                reason = checks.mismatch(pdf, oracle[n])
            else:
                want = first_rows.setdefault(n, len(pdf))
                reason = None if len(pdf) == want else f"{len(pdf)} rows, first run {want}"
            ctx.check(reason is None, f"{n}: {reason}")

    ctx.warm_and_measure(one_pass)


# ---------------------------------------------------------------------------
# rues_medallion
# ---------------------------------------------------------------------------


def run_medallion(ctx: Context) -> None:
    inputs_dir = os.path.join(ctx.work, "rues_input")

    def inputs():
        return rues.write_inputs(inputs_dir, ctx.seed, MEDALLION_COMPANIES), Refresh(ctx)

    ctx.setup["input_s"], (inp, refresh) = _timed_median(inputs)
    t0 = time.perf_counter()
    refresh.build_standing_state()
    ctx.setup["standing_state_s"] = time.perf_counter() - t0
    csv_bytes = os.path.getsize(inp["raw_csv"])
    ratios: list[float] = []

    def one_pass(k: int) -> None:
        out = os.path.join(ctx.work, f"medallion_{k}")
        try:
            _medallion_pass(ctx, inp, out, k)
            ratios.append(sum(du(os.path.join(out, d)) for d in ("bronze", "silver", "gold")) / csv_bytes)
            refresh.rues_wave(k)
            refresh.docs_wave(k)
        except _OpFailed:
            pass
        finally:
            shutil.rmtree(out, ignore_errors=True)

    ctx.warm_and_measure(one_pass)
    refresh.check_corpus()
    ctx.extra.update(refresh.state_metrics())
    if ratios:
        ctx.extra["stored_bytes_per_input_byte"] = statistics.median(ratios)


def _medallion_pass(ctx: Context, inp: dict, out: str, k: int) -> None:
    spark, tr, exp = ctx.spark, ctx.tracer, inp["expected"]
    bronze_dir, silver_dir, gold_dir = (os.path.join(out, d) for d in ("bronze", "silver", "gold"))

    with ctx.op(k, "bronze"):
        with tr.span("read_csv_robust", "sources.readers", "build"):
            raw = read_csv_robust(spark, inp["raw_csv"])
        with tr.span("snake_case_columns", "functions.text", "build"):
            df = snake_case_columns(raw)
        with tr.span("sampled_profile", "operators.dq", "build"):
            sampled_profile(df, fraction=0.01, seed=42)
        with tr.span("bronze_year_partition", "plans.rues", "build"):
            bronze = bronze_year_partition(df)
        with tr.span("write_parquet_partitioned", "sources.writers", "exec"):
            write_parquet_partitioned(bronze, bronze_dir, "year_partition", MEDALLION_NUM_FILES)

    with ctx.op(k, "silver"):
        with tr.span("read_parquet_lake", "sources.readers", "build"):
            df = read_parquet_lake(spark, bronze_dir, drop_partition_cols=["year_partition"])
        with tr.span("read_csv_robust", "sources.readers", "build"):
            cat_ident = read_csv_robust(spark, os.path.join(inp["catalogs"], "catalogo_clases_identificaciones.csv"))
            cat_ciiu = read_csv_robust(spark, os.path.join(inp["catalogs"], "catalogo_codigos_ciuu.csv"))
        with tr.span("apply_rules", "plans.rues", "build"):
            silver = apply_rules(df, silver_rules(cat_ident, cat_ciiu, RUES_CONFIG))
        silver.cache()
        try:
            with tr.span("consolidated_validation", "operators.dq", "build"):
                counts, error_df = consolidated_validation(silver, silver_validation_rules())
            with tr.span("error_log.count", "operators.dq", "exec"):
                n_errors = error_df.count()
            if n_errors > 0:
                with tr.span("write_csv_single", "sources.writers", "exec"):
                    write_csv_single(error_df, os.path.join(out, "error_logs", ERROR_LOG_NAME))
            with tr.span("silver_year_partition", "plans.rues", "build"):
                partitioned = silver_year_partition(silver)
            with tr.span("write_parquet_partitioned", "sources.writers", "exec"):
                write_parquet_partitioned(partitioned, silver_dir, "year_partition", MEDALLION_NUM_FILES)
        finally:
            silver.unpersist()
    ctx.check(counts == exp["violations"], f"silver violations {counts} != {exp['violations']}")

    with ctx.op(k, "gold"):
        with tr.span("read_parquet_lake", "sources.readers", "build"):
            silver = read_parquet_lake(spark, silver_dir, drop_partition_cols=["year_partition"])
        with tr.span("build_star_schema", "plans.rues", "build"):
            dim = build_dim_empresa(silver).cache()
            fact = build_fact_renovacion(silver, RUES_CONFIG).cache()
        try:
            with tr.span("anti_join_orphans", "operators.joins", "build"):
                orphans_df = anti_join_orphans(fact, dim, "matricula")
            with tr.span("orphans.count", "operators.joins", "exec"):
                orphans = orphans_df.count()
            with tr.span("write_parquet", "sources.writers", "exec"):
                write_parquet(dim, os.path.join(gold_dir, "dim_empresa"), num_files=20)
            with tr.span("write_parquet_partitioned", "sources.writers", "exec"):
                write_parquet_partitioned(fact, os.path.join(gold_dir, "fact_renovacion"), "estado_matricula", 30)
            with tr.span("star_schema.count", "plans.rues", "exec"):
                dim_rows, fact_rows = dim.count(), fact.count()
        finally:
            dim.unpersist()
            fact.unpersist()
    got = (dim_rows, fact_rows, orphans)
    want = (exp["dim_rows"], exp["fact_rows"], exp["orphan_matriculas"])
    ctx.check(got == want, f"gold dim/fact/orphans {got} != {want}")
    _check_golden(ctx, gold_dir, exp["golden"])

    for q in ("q1", "q2", "q3", "q4"):
        with ctx.op(k, q):
            with tr.span("read_parquet_lake", "sources.readers", "build"):
                dim = read_parquet_lake(spark, os.path.join(gold_dir, "dim_empresa"))
                fact = read_parquet_lake(spark, os.path.join(gold_dir, "fact_renovacion"))
            with tr.span("register_gold_views", "plans.analytics", "build"):
                analytics.register_gold_views(spark, dim, fact)
            with tr.span(q, "plans.analytics", "build"):
                df = _ANALYTICS[q](spark)
            with tr.span(q, "plans.analytics", "exec"):
                result = df.count() if q == "q4" else [tuple(r) for r in df.collect()]
        want = exp["q4_rows"] if q == "q4" else [tuple(r) for r in exp[q]]
        if q == "q1":
            result = sorted(result)
        ctx.check(result == want, f"analytics {q}: {result} != {want}")


_ANALYTICS = {
    "q1": analytics.q1_active_by_society_type,
    "q2": analytics.q2_avg_age_by_activity,
    "q3": analytics.q3_renewal_rate_by_chamber,
    "q4": lambda spark: analytics.q4_ml_renewal_dataset(spark, current_year=ANALYTICS_YEAR, sample_limit=500_000, seed=42),
}


def _check_golden(ctx: Context, gold_dir: str, want: dict) -> None:
    spark = ctx.spark
    d = spark.read.parquet(os.path.join(gold_dir, "dim_empresa")).filter(f"matricula = '{rues.GOLDEN}'").collect()
    f = spark.read.parquet(os.path.join(gold_dir, "fact_renovacion")).filter(f"matricula = '{rues.GOLDEN}'").collect()
    got = None
    if len(d) == 1 and len(f) == 1:
        got = {
            "codigo_identificacion": d[0]["codigo_identificacion"],
            "tipo_persona": d[0]["tipo_persona"],
            "antiguedad_empresa": d[0]["antiguedad_empresa"],
            "estado_matricula": f[0]["estado_matricula"],
            "fecha_matricula": str(f[0]["fecha_matricula"]),
            "fecha_renovacion": str(f[0]["fecha_renovacion"]),
            "fecha_actualizacion": str(d[0]["fecha_actualizacion"]),
        }
    ctx.check(got == want, f"golden record {got} != {want}")


# ---------------------------------------------------------------------------
# incremental_refresh
# ---------------------------------------------------------------------------


def _rues_delta_transform(df):
    return rn003_normalize_states(rn001_standardize_dates(df))


class Refresh:
    """The two stateful refresh families on standing state: RUES delta
    waves upserted keep-latest through ``incremental_refresh`` with a
    ``JobBookmark``, and document waves through
    ``incremental_dedup_refresh`` at its default ``snapshot_compact_at``.
    Constructing it lands wave 0 of both (the standing inputs)."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.landing = {f: os.path.join(ctx.work, "landing", f) for f in ("rues", "docs")}
        self.state = os.path.join(ctx.work, "state")
        self.targets = {f: os.path.join(self.state, f) for f in ("rues", "docs")}
        self.patterns = {f: os.path.join(self.landing[f], "*.parquet") for f in ("rues", "docs")}
        for d in (*self.landing.values(), self.state):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        self.bookmarks = {
            f: JobBookmark(os.path.join(self.state, "bookmarks.json"), job_name=f) for f in ("rues", "docs")
        }
        self.rues_waves = waves.RuesWaves(ctx.seed, REFRESH_BASE_COMPANIES, REFRESH_WAVE_ROWS)
        self.doc_waves = waves.DocWaves(ctx.seed, REFRESH_BASE_DOCS, REFRESH_WAVE_DOCS)
        self.rues_waves.land(0, self.landing["rues"])
        self.doc_waves.land(0, self.landing["docs"])
        self.unique_docs = REFRESH_BASE_DOCS
        self.wave_no = {"rues": 0, "docs": 0}

    def _upsert(self) -> int:
        return incremental_refresh(
            self.ctx.spark, self.bookmarks["rues"], self.patterns["rues"], _rues_delta_transform,
            self.targets["rues"], keys=["matricula", "nit"], order_col="fecha_actualizacion",
        )

    def _dedup(self) -> dict:
        return incremental_dedup_refresh(
            self.ctx.spark, self.bookmarks["docs"], self.patterns["docs"], self.targets["docs"]
        )

    def build_standing_state(self) -> None:
        self._upsert()
        self._dedup()

    def _landed(self, k: int, path: str) -> None:
        self.ctx.wave_input_bytes[k] = self.ctx.wave_input_bytes.get(k, 0) + os.path.getsize(path)

    def rues_wave(self, k: int) -> None:
        ctx = self.ctx
        self.wave_no["rues"] += 1
        self._landed(k, self.rues_waves.land(self.wave_no["rues"], self.landing["rues"]))
        with ctx.op(k, "rues_wave"):
            with ctx.tracer.span("incremental_refresh", "plans.incremental", "exec"):
                n_files = self._upsert()
        row = read_refreshed(ctx.spark, self.targets["rues"]).selectExpr(
            "count(*)", "sum(datediff(fecha_actualizacion, date'1970-01-01'))"
        ).collect()[0]
        got = (n_files, row[0], row[1])
        want = (1, *self.rues_waves.expected())
        ctx.check(got == want, f"rues wave {self.wave_no['rues']}: files/keys/day-sum {got} != {want}")

    def docs_wave(self, k: int) -> None:
        ctx = self.ctx
        self.wave_no["docs"] += 1
        path, n_docs, n_dup = self.doc_waves.land(self.wave_no["docs"], self.landing["docs"])
        self._landed(k, path)
        with ctx.op(k, "docs_wave"):
            with ctx.tracer.span("incremental_dedup_refresh", "plans.incremental", "exec"):
                stats = self._dedup()
        self.unique_docs += n_docs - n_dup
        got = (stats["new_files"], stats["accepted"], stats["dropped_within"], stats["dropped_vs_corpus"])
        want = (1, n_docs - n_dup, 0, n_dup)
        ctx.check(got == want, f"docs wave {self.wave_no['docs']}: files/accepted/within/vs-corpus {got} != {want}")

    def check_corpus(self) -> None:
        corpus = read_deduped(self.ctx.spark, self.targets["docs"]).count()
        self.ctx.check(corpus == self.unique_docs, f"corpus {corpus} docs, expected {self.unique_docs} unique")

    def state_metrics(self) -> dict:
        """Bytes under the state dirs, and their ratio to the bytes the
        live pointers reference."""
        live = du(os.path.join(self.targets["rues"], _pointer(self.targets["rues"])["version"]))
        corpus = _pointer(self.targets["docs"])
        live += sum(du(os.path.join(self.targets["docs"], d)) for d in corpus["deltas"] + corpus["digest_deltas"])
        state_bytes = du(self.state)
        return {"state_bytes": state_bytes, "state_amplification": state_bytes / live}


def _pointer(target_dir: str) -> dict:
    with open(os.path.join(target_dir, "current.json"), encoding="utf-8") as f:
        return json.load(f)


WORKLOADS = {
    "sql_analytics": lambda ctx: run_queries(ctx, SQL_ANALYTICS),
    "rues_medallion": run_medallion,
}
