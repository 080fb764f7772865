"""The workloads. Each is one client in a closed loop: the next
operation starts when the previous one has returned its result.

- ``star_refresh``: the reference pipeline. Backfill the model over the
  history, then replication cycles: land a 10-minute window with a
  20-minute lookback, MERGE it into the fact store through one
  availableNow trigger, rewrite the touched star partitions, rebuild the
  monitoring views and run the sanity checks. Write-heavy, and O(store)
  per cycle.
- ``dashboard_reads``: short registry reads over the events table and
  the document corpus, each query repeated, in seeded order. Bound by
  per-job and per-stage driver cost; nothing is written.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone

import duckdb
import numpy as np
import pyarrow as pa

from . import inputs
from .trace import BUILDER_LAYERS, Tracer

# star_refresh: about 3.5k deliveries a day over 30 days; the cycles
# replay the start of the last day after a 29-day history.
STAR_EVENTS, STAR_DAYS, STAR_USERS = 100_000, 30, 2_000
HISTORY_DAYS = 29
CYCLE_MIN, LOOKBACK_MIN = 10, 20
# A correction arrives at most this long after the event it replaces
# (inputs.oltp_events), so a cycle's rows can only move facts out of
# the days covering [window_start - this, window_end).
CORRECTION_MAX_MIN = 30
# A warm cycle takes about 5 s at local[4] (README), so the timed phase
# (backfill + cycles) takes about 30 s. An odd count makes the median
# cycle one measured cycle.
STAR_CYCLES = 5
# Row-level views are counted, not shipped to Python; the rollups are
# collected as a dashboard would.
MONITORING_ROW_VIEWS = ("scheduler_executions_results_vw", "scheduler_executions_errors_vw")

DASHBOARD_EVENTS = 100_000  # the events table of the engine's sf0.1 test data
# Short reads a dashboard issues: a monitoring view, a star dimension,
# an event rollup, and one read per curation module over the document
# corpus (BM25 top-k, kNN label vote, SimHash near-duplicates, quality
# scores).
DASHBOARD_QUERIES = (
    "mon_last_status", "dim_user", "events_hourly",
    "bm25_topk", "knn_label_vote", "simhash_dup_pairs", "docs_quality",
)
CORPUS_DOCS, CORPUS_VECS = 500, 500
# After the cold first pass, a pass over the queries takes about 6 s at
# local[2] (README), so the timed phase takes about 30 s.
DASHBOARD_REPS = 5


class Run:
    """State of one benchmark run: the session, the optional tracer, the
    per-op latencies and the failures found by the checks."""

    def __init__(self, spark, tracer: Tracer | None = None):
        self.spark, self.tracer = spark, tracer
        self.latencies: list[float] = []
        self.failures: list[str] = []

    @contextmanager
    def step(self, name: str, layer: str = ""):
        if self.tracer is None:
            yield None
            return
        with self.tracer.span(name, layer) as rec:
            yield rec
        self.tracer.note_cached_bytes(self.spark)


def result_hash(pdf) -> str:
    from tests.helpers import normalize

    return hashlib.sha256(repr(normalize(pdf)).encode()).hexdigest()


# ---------------------------------------------------------------- star_refresh


class StarRefresh:
    name = "star_refresh"

    @staticmethod
    def spark_cores(nproc: int) -> int:
        """Data-bound: every core runs tasks."""
        return nproc

    def __init__(self, seed: int, scratch: str):
        self.dir = scratch
        self.events = inputs.oltp_events(seed, STAR_EVENTS, STAR_DAYS, STAR_USERS)
        inputs.write_tables({"events": self.events}, f"{scratch}/oltp")
        self.live = f"{scratch}/live"
        # The history arrives as one bulk replication, landed by the
        # generator; the cycles replicate through the engine.
        inputs.write_landing(self.events, f"{self.live}/landing", HISTORY_DAYS)
        t0 = datetime.fromtimestamp(inputs.EPOCH_2024_US / 1e6, timezone.utc).replace(tzinfo=None)
        self.t_hist = t0 + timedelta(days=HISTORY_DAYS)
        # Window ends of the warm-up cycle and the timed cycles.
        self.windows = [self.t_hist + timedelta(minutes=CYCLE_MIN * i)
                        for i in range(1, STAR_CYCLES + 2)]

    def _trigger(self, spark) -> None:
        """One availableNow trigger of the fact sink over the landing zone."""
        from healthcare_oltp_to_olap_gcp_spark.streaming import pipeline

        stream = spark.readStream.schema(pipeline.EVENTS_SCHEMA).parquet(f"{self.live}/landing")
        q = pipeline.incremental_fact_sink(stream, f"{self.live}/store")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"fact sink failed: {q.exception()}")

    def _cycle(self, run: Run, window_end: datetime) -> tuple[int, int, int]:
        from pyspark.sql import functions as F

        from healthcare_oltp_to_olap_gcp_spark.plans import monitoring, star
        from healthcare_oltp_to_olap_gcp_spark.sources import replicate
        from healthcare_oltp_to_olap_gcp_spark.streaming import pipeline

        spark = run.spark
        with run.step("replicate_window", "sources.replicate"):
            replicate.replicate_window(self.oltp, f"{self.live}/landing", window_end, LOOKBACK_MIN)
        with run.step("incremental_fact_sink", "streaming.pipeline"):
            self._trigger(spark)
            fact = pipeline.read_fact_store(spark, f"{self.live}/store")
        lo = window_end - timedelta(minutes=LOOKBACK_MIN + CORRECTION_MAX_MIN)
        touched = sorted({lo.date().isoformat(), (window_end - timedelta(microseconds=1)).date().isoformat()})
        star_path = f"{self.live}/model/fact_events_star"
        with run.step("write_star_incremental", "plans.star"):
            delta = star.fact_events_star(fact.filter(F.to_date("ts").isin(touched)))
            star.write_star_incremental(delta, star_path)
        with run.step("monitoring_views", "plans.monitoring"):
            for view, build in monitoring.VIEW_BUILDERS.items():
                df = build(fact)
                df.count() if view in MONITORING_ROW_VIEWS else df.collect()
        with run.step("sanity_checks", "plans.star"):
            missing = star.sanity_missing_dims(fact).collect()[0][0]
            counts = star.sanity_row_counts(fact, spark.read.parquet(star_path)).collect()[0]
        return missing, counts["fact_rows"], counts["star_rows"]

    def setup(self, spark) -> None:
        """Merge the landed history into the store, the pipeline's
        starting state, then run the backfill and one cycle untimed, so
        that every plan of the timed phase has run once. The timed
        backfill overwrites the model; the first timed cycle rewrites
        the day partition the untimed cycle touched from the store."""
        from pyspark.sql import functions as F

        from healthcare_oltp_to_olap_gcp_spark.plans.refresh import refresh_model

        self.oltp = spark.read.parquet(f"{self.dir}/oltp/events.parquet")
        self.history = self.oltp.filter(F.col("ts") < F.lit(self.t_hist.isoformat(sep=" ")).cast("timestamp"))
        self._trigger(spark)
        refresh_model(spark, self.history, f"{self.live}/model")
        self._cycle(Run(spark), self.windows[0])

    def run(self, run: Run) -> dict:
        """The backfill over the history, then the cycles; every cycle is
        one op."""
        from healthcare_oltp_to_olap_gcp_spark.plans.refresh import refresh_model

        t = time.perf_counter()
        with run.step("refresh_model", "plans.refresh"):
            refresh_model(run.spark, self.history, f"{self.live}/model")
        backfill = time.perf_counter() - t
        self.cycle_checks = []
        for end in self.windows[1:]:
            c = time.perf_counter()
            try:
                self.cycle_checks.append(self._cycle(run, end))
            except Exception as ex:  # the pipeline state is unknown after a failed cycle
                run.failures.append(f"cycle at {end}: {type(ex).__name__}: {str(ex)[:200]}")
                run.latencies.append(time.perf_counter() - c)
                break
            run.latencies.append(time.perf_counter() - c)
        return {"wall_s": time.perf_counter() - t,
                "mix_p50_s": backfill + STAR_CYCLES * statistics.median(run.latencies)}

    def check(self, run: Run) -> None:
        for i, (missing, fact_rows, star_rows) in enumerate(self.cycle_checks):
            if missing != 0 or fact_rows != star_rows:
                run.failures.append(f"cycle {i}: missing={missing} fact={fact_rows} star={star_rows}")
        live = self.live
        store_v = max(int(d.split("=", 1)[1]) for d in os.listdir(f"{live}/store") if d.startswith("v="))
        cols = "event_id, ts, user_id, event_type, value, props"
        con = duckdb.connect()
        con.sql(f"CREATE VIEW landed AS SELECT {cols} FROM read_parquet('{live}/landing/**/*.parquet', hive_partitioning=true)")
        con.sql(f"CREATE VIEW store AS SELECT {cols} FROM read_parquet('{live}/store/v={store_v}/*.parquet')")
        want = ("SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (PARTITION BY event_id "
                "ORDER BY ts DESC, value ASC NULLS FIRST, props ASC NULLS FIRST) rn FROM landed) WHERE rn = 1")
        diff = con.sql(f"SELECT count(*) FROM (({want}) EXCEPT ALL (SELECT * FROM store)) "
                       f"UNION ALL SELECT count(*) FROM ((SELECT * FROM store) EXCEPT ALL ({want}))").fetchall()
        n_store = con.sql("SELECT count(*) FROM store").fetchone()[0]
        t_end = self.windows[-1]
        ts = self.events.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
        end_us = int(t_end.replace(tzinfo=timezone.utc).timestamp() * 1e6)
        ids = self.events.column("event_id").to_numpy()
        distinct = len(np.unique(ids[ts < end_us]))
        if diff[0][0] or diff[1][0] or n_store != distinct:
            run.failures.append(f"store != dedup(landing): diff={diff} store={n_store} distinct={distinct}")
        # Events the timed cycles were the first to land.
        first_us = int(self.windows[0].replace(tzinfo=timezone.utc).timestamp() * 1e6)
        self.new_distinct = len(np.setdiff1d(ids[(ts >= first_us) & (ts < end_us)], ids[ts < first_us]))

    def ratios(self, layers: dict) -> dict:
        """Work ratios of the traced cycles; needs ``check`` to have run."""
        landed = layers["sources.replicate"]["output_records"]
        return {
            "sources.factstore.rewrite_ratio": layers["sources.factstore"]["output_records"] / max(landed, 1),
            "sources.replicate.overlap_ratio": landed / max(self.new_distinct, 1),
        }


# ------------------------------------------------------------ dashboard_reads


class DashboardReads:
    """A seeded sequence of registry queries; every result is collected
    and checked against its DuckDB oracle."""

    name = "dashboard_reads"

    @staticmethod
    def spark_cores(nproc: int) -> int:
        """Driver-bound: at local[2] the queries ran as fast as at
        local[4], and their times spread less from run to run, with two
        cores left to the driver, the JIT and GC threads and the Python
        workers (README)."""
        return max(1, nproc // 2)

    def __init__(self, seed: int, scratch: str):
        self.data = f"{scratch}/data"
        events = inputs.oltp_events(seed, DASHBOARD_EVENTS, 30, 1_500, redeliver_frac=0.0)
        # The engine's test tables store naive timestamps (UTC wall time).
        events = events.set_column(1, "ts", events.column("ts").cast(pa.timestamp("us")))
        inputs.write_tables(
            {"events": events, **inputs.corpus_tables(seed, CORPUS_DOCS, CORPUS_VECS)}, self.data
        )
        # Every query the same number of times, so seeds change the order
        # and the spacing of repeats but not the mix.
        rng = np.random.default_rng(seed)
        self.sequence = list(rng.permutation(np.repeat(DASHBOARD_QUERIES, DASHBOARD_REPS)))
        self.expected = self._oracle_hashes()

    def _oracle_hashes(self) -> dict[str, str]:
        from healthcare_oltp_to_olap_gcp_spark.oracles import ORACLE_SQL

        con = duckdb.connect()
        for f in os.listdir(self.data):
            con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{self.data}/{f}'")
        return {q: result_hash(con.sql(ORACLE_SQL[q]).df()) for q in DASHBOARD_QUERIES}

    def _query(self, run: Run, name: str):
        from healthcare_oltp_to_olap_gcp_spark.api import QUERIES

        with run.step(name) as rec:
            pdf = QUERIES[name](run.spark, self.data).toPandas()
        if rec is not None:
            # The query's layer is that of the first builder it calls.
            first = next((s for s in run.tracer.spans[rec["id"] + 1:]
                          if s["parent"] == rec["id"] and s["layer"] in BUILDER_LAYERS), None)
            rec["layer"] = first["layer"] if first else ""
        return pdf

    def setup(self, spark) -> None:
        """Run every query once: the first pass takes about three times
        as long as a warm one, from JIT and code generation. The next
        pass is still about 25% slow, and the JIT keeps speeding queries
        up over dozens of calls; the per-query medians of the timed
        phase absorb that."""
        warm = Run(spark)
        for q in DASHBOARD_QUERIES:
            self._query(warm, q)

    def run(self, run: Run) -> dict:
        self.results = []
        t = time.perf_counter()
        for q in self.sequence:
            c = time.perf_counter()
            try:
                pdf = self._query(run, q)
            except Exception as ex:  # a failed op counts as failed; the loop goes on
                run.failures.append(f"{q}: {type(ex).__name__}: {str(ex)[:200]}")
                pdf = None
            run.latencies.append(time.perf_counter() - c)
            self.results.append((q, pdf))
        by_query: dict[str, list[float]] = {}
        for q, lat in zip(self.sequence, run.latencies):
            by_query.setdefault(q, []).append(lat)
        return {"wall_s": time.perf_counter() - t,
                "mix_p50_s": DASHBOARD_REPS * sum(statistics.median(v) for v in by_query.values())}

    def check(self, run: Run) -> None:
        for q, pdf in self.results:
            if pdf is not None and result_hash(pdf) != self.expected[q]:
                run.failures.append(f"{q}: result differs from the oracle")


WORKLOADS = {w.name: w for w in (StarRefresh, DashboardReads)}
