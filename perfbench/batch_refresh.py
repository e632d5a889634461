"""batch_refresh: the scheduled ETL job followed by the dashboards.

Set-up merges a seeded raw base through ``pipeline.run_incremental_pipeline``,
builds the dashboard view and starts ``serving.start_sql_endpoint``. Each
cycle then

1. lands one seeded raw increment (mostly updates, some new keys, some
   invalid rows) in the raw directory,
2. runs ``run_incremental_pipeline`` over it,
3. applies ``store.changes(v, v + 1)`` to the dashboard view with
   ``ivm.maintain`` (row count and sodium sum per 100-kcal band),
4. answers the view over JDBC, which ends the refresh,

and one dashboard client, on one JDBC connection, loads the dashboard page
DASH_ROUNDS times: the reference's four charts, one statement after another
(a closed loop). ETL writes and dashboard reads share the run, so a merge
change that slows reads shows.
"""

from __future__ import annotations

import os
import socket
import time

from pyspark.sql import functions as F

import gen
from common import log, median, store_writes
from hybrid_nutrition_data_pipeline_batch_streaming_spark.functions.enrichment import (
    with_llm_columns,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.operators import ivm
from hybrid_nutrition_data_pipeline_batch_streaming_spark.pipeline import (
    run_incremental_pipeline,
)
from hybrid_nutrition_data_pipeline_batch_streaming_spark.serving import start_sql_endpoint
from hybrid_nutrition_data_pipeline_batch_streaming_spark.session import checkpoint_truncate
from hybrid_nutrition_data_pipeline_batch_streaming_spark.streaming.upsert_sink import (
    ParquetUpsertStore,
)

#: Raw base: every key once plus repeats; increments are 10% of the base.
BASE_KEYS = 14_400
BASE_ROWS = 20_000
INC_ROWS = 2_000
#: Untimed cycles after set-up, and the fewest timed cycles a run makes.
WARMUP_CYCLES = 2
MIN_CYCLES = 3
#: Dashboard page loads (every chart once) after each refresh.
DASH_ROUNDS = 2

FACT = "global_temp.items_enriched"
VIEW = "global_temp.dash_view"
CHARTS = {
    "macros": (
        "SELECT item_name, ROUND(100 * protein_g / serving_size_g, 2) AS protein_100g,"
        " ROUND(100 * fat_total_g / serving_size_g, 2) AS fat_100g,"
        " ROUND(100 * carbohydrates_total_g / serving_size_g, 2) AS carbs_100g"
        f" FROM {FACT} WHERE serving_size_g > 0"
        " ORDER BY calories DESC, item_name LIMIT 25"
    ),
    "sodium_topn": (
        f"SELECT item_name, sodium_mg FROM {FACT}"
        " ORDER BY sodium_mg DESC, item_name LIMIT 20"
    ),
    "wordcloud": (
        "SELECT word, COUNT(*) AS n FROM (SELECT explode(split(lower("
        f"openai_best_pairings), '[^a-z]+')) AS word FROM {FACT})"
        " WHERE length(word) > 2 GROUP BY word ORDER BY n DESC, word LIMIT 30"
    ),
    "view": f"SELECT g, cnt, total FROM {VIEW} ORDER BY g",
}


def band(c):
    """The dashboard view's group: 100-kcal calorie bands."""
    return F.floor(c("calories") / 100).cast("int")


def _norm(rows) -> list[tuple]:
    """JDBC answers arrive as strings; compare them as numbers where they
    are numbers."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            try:
                vals.append(float(v))
            except (TypeError, ValueError):
                vals.append(v if v is None else str(v))
        out.append(tuple(vals))
    return out


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class DashboardClient:
    """One BI client: one JDBC connection through the bundled Hive driver,
    one statement at a time, next statement when the previous answered."""

    def __init__(self, spark, port: int, tracer):
        self.tracer = tracer
        jvm = spark._jvm
        jvm.java.lang.Class.forName("org.apache.hive.jdbc.HiveDriver")
        self.conn = jvm.java.sql.DriverManager.getConnection(
            f"jdbc:hive2://127.0.0.1:{port}/default", "", ""
        )
        self.samples: dict[str, list[float]] = {k: [] for k in CHARTS}
        self.errors = 0

    def query(self, sql: str) -> list[tuple]:
        stmt = self.conn.createStatement()
        try:
            rs = stmt.executeQuery(sql)
            n = rs.getMetaData().getColumnCount()
            rows = []
            while rs.next():
                rows.append(tuple(rs.getString(i + 1) for i in range(n)))
            return rows
        finally:
            stmt.close()

    def load_page(self) -> None:
        """Load the dashboard page: every chart, one after another."""
        for chart, sql in CHARTS.items():
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"serving.{chart}"):
                    self.query(sql)
            except Exception as ex:  # a failed statement counts, the loop goes on
                log(f"dashboard {chart} failed: {ex}")
                self.errors += 1
                continue
            self.samples[chart].append(time.perf_counter() - t0)

    def close(self) -> None:
        self.conn.close()


class BatchRefresh:
    """The batch workload: prepare, setup, warmup, window, check, close."""

    def __init__(self, work: str, seed: int, seconds: int, tracer):
        self.work, self.seed, self.seconds, self.tracer = work, seed, seconds, tracer
        self.client = self.server = None

    def prepare(self) -> None:
        """Generate the base; the engine sees it when set-up lands it."""
        self.feed = gen.RawFeed(self.seed, BASE_KEYS, BASE_ROWS, INC_ROWS)
        self.base_file = os.path.join(self.work, "base.parquet")
        gen.write_parquet(self.feed.base(), self.base_file)
        self.increments = 0

    def _land(self, src: str) -> None:
        os.link(src, os.path.join(self.raw, f"part-{self.landed:05d}.parquet"))
        self.landed += 1

    def setup(self, spark) -> None:
        self.spark = spark
        tr = self.tracer
        self.raw = os.path.join(self.work, "raw")
        self.out = os.path.join(self.work, "store")
        self.ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(self.raw)
        self.landed = 0
        self.store = ParquetUpsertStore(spark, self.out, key="item_name", ts_col="ingestion_ts")
        self._land(self.base_file)
        with tr.span("pipeline.base_load"):
            run_incremental_pipeline(spark, self.raw, self.out, self.ckpt)
        with tr.span("ivm.recompute"):
            self.view = checkpoint_truncate(ivm.grouped_view(self.store.read(), band, "sodium_mg"))
            self._publish()
        self.port = _free_port()
        with tr.span("serving.endpoint_start"):
            t0 = time.perf_counter()
            self.server = start_sql_endpoint(spark, port=self.port)
            self.endpoint_start_s = time.perf_counter() - t0

    def warmup(self) -> None:
        """WARMUP_CYCLES full cycles, untimed: the refresh path keeps
        getting faster over its first few runs in a fresh JVM."""
        self.cycles = []
        self.client = DashboardClient(self.spark, self.port, self.tracer)
        for _ in range(WARMUP_CYCLES):
            self._cycle(timed=False)

    def _cycle(self, timed: bool, parent: int | None = None) -> None:
        """Land one increment, refresh, then load the dashboard page."""
        with self.tracer.span("gen.increment", parent=parent):
            path = os.path.join(self.work, f"inc{self.increments}.parquet")
            table = self.feed.increment()
            gen.write_parquet(table, path)
            self.increments += 1
        with self.tracer.span("cycle", op=self.increments, parent=parent):
            self._land(path)
            cycle = self._refresh()
            for _ in range(DASH_ROUNDS):
                self.client.load_page()
        if timed:
            cycle["rows"] = table.num_rows
            self.cycles.append(cycle)

    def close(self) -> None:
        if self.client is not None:
            self.client.close()
            self.client = None
        if self.server is not None:
            self.server.stop()
            self.server = None

    def _publish(self) -> None:
        """Make the view and the fact table's current snapshot visible to
        JDBC sessions."""
        self.view.createOrReplaceGlobalTempView("dash_view")
        self.store.read().createOrReplaceGlobalTempView("items_enriched")

    def _refresh(self) -> dict:
        tr = self.tracer
        v0 = self.store.history()[-1]
        t_land = time.perf_counter()
        with tr.span("pipeline.incremental_run"):
            run_incremental_pipeline(self.spark, self.raw, self.out, self.ckpt)
        t_etl = time.perf_counter()
        v1 = self.store.history()[-1]
        with tr.span("upsert.changes"):
            t0 = time.perf_counter()
            changes = self.store.changes(v0, v1)
            # Counting the change feed is extra work: traced runs only.
            deltas = changes.count() if tr.enabled else 0
            changes_s = time.perf_counter() - t0
        with tr.span("ivm.maintain"):
            # The view is multi-read loop state: materialize it with the
            # engine's lineage cut, which also bounds its lineage.
            t0 = time.perf_counter()
            self.view = checkpoint_truncate(ivm.maintain(self.view, changes, band, "sodium_mg"))
            maintain_s = time.perf_counter() - t0
        with tr.span("serving.publish"):
            self._publish()
        with tr.span("serving.view_after_refresh"):
            t0 = time.perf_counter()
            answer = self.client.query(CHARTS["view"])
            dt = time.perf_counter() - t0
        cycle = {
            "fresh": time.perf_counter() - t_land,
            "etl": t_etl - t_land,
            "changes": changes_s,
            "maintain": maintain_s,
            "first_query": dt,
            "delta_rows": deltas,
        }
        cycle["view_ok"] = _norm(answer) == _norm(sorted(self.view.collect(), key=lambda r: r.g))
        log(f"refresh: {cycle}")
        return cycle

    def window(self) -> dict:
        client = self.client
        client.samples = {k: [] for k in CHARTS}
        with self.tracer.span("window") as sid:
            deadline = time.perf_counter() + self.seconds
            while len(self.cycles) < MIN_CYCLES or time.perf_counter() < deadline:
                self._cycle(timed=True, parent=sid)
        fresh = [c["fresh"] for c in self.cycles]
        return {
            "freshness_p50_s": median(fresh),
            "items_per_s": sum(c["rows"] for c in self.cycles) / sum(c["etl"] for c in self.cycles),
            # A page with every chart at its median statement time: one slow
            # statement moves one chart's median, not the page's.
            "rtt_p50_ms": 1e3 * sum(median(ts) for ts in client.samples.values()),
        }

    def check(self) -> tuple[int, int]:
        """Every refresh's view answer, the final view against a recompute,
        the fact row count, and every chart's JDBC answer against spark.sql."""
        failed = self.client.errors + sum(1 for c in self.cycles if not c["view_ok"])
        recompute = ivm.grouped_view(self.store.read(), band, "sodium_mg").collect()
        failed += sorted(recompute) != sorted(self.view.collect())
        failed += self.store.read().count() != self.feed.valid_keys
        for sql in CHARTS.values():
            failed += _norm(self.client.query(sql)) != _norm(self.spark.sql(sql).collect())
        samples = sum(len(v) for v in self.client.samples.values())
        return len(self.cycles) + samples + self.client.errors, failed

    def layer_metrics(self) -> dict:
        cyc = self.cycles
        v1 = self.store.history()[-1]
        written, buckets = store_writes(self.store, v1 - len(cyc), v1)
        out = {
            "pipeline.incremental_run_s": median([c["etl"] for c in cyc]),
            "ivm.maintain_s": median([c["maintain"] for c in cyc]),
            "upsert.changes_s": median([c["changes"] for c in cyc]),
            "ivm.delta_rows": median([c["delta_rows"] for c in cyc]),
            "serving.first_query_after_refresh_ms": 1e3 * median([c["first_query"] for c in cyc]),
            "serving.endpoint_start_s": self.endpoint_start_s,
            "upsert.store_rows": self.store.read().count(),
            "upsert.bytes_written_per_item": written / sum(c["rows"] for c in cyc),
            "upsert.buckets_rewritten_per_merge": sum(buckets) / len(buckets),
            "enrichment.llm_rows_per_s": self._probe_llm(),
        }
        for chart, ts in self.client.samples.items():
            out[f"serving.{chart}_ms_p50"] = 1e3 * median(ts)
        return out

    def _probe_llm(self) -> float:
        """with_llm_columns alone, over the fact table's names and calories,
        to a noop sink."""
        df = self.store.read().select("item_name", "calories").cache()
        n = df.count()
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            with_llm_columns(df).write.format("noop").mode("overwrite").save()
            rates.append(n / (time.perf_counter() - t0))
        df.unpersist()
        return median(rates)
