"""Enrichment UDFs: the reference's external-call compute kernels, batched.

The reference enriches per record, serially — 4 sequential OpenAI prompts
with 2 s sleeps (`dagster_project/pipeline.py:59-74`) and one REST call per
Kafka message (`consumer/consume_items.py:66-80`). Here both are Arrow-batched
pandas UDFs: the executor processes whole column batches, connection reuse
and request batching live inside the UDF, and throughput scales with
partitions instead of being serial-bounded (SURVEY.md §4.1 "batched I/O").

Tests and the oracle use the deterministic stand-ins below (pure functions of
their inputs — FIXTURES.md B4); production callers inject real HTTP/LLM
clients with the same signatures.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def _fmt_cal(cal: pd.Series) -> pd.Series:
    # One-decimal fixed format, matching DECIMAL(10,1)::VARCHAR in SQL.
    return cal.map(lambda c: f"{c:.1f}")


# --- U1: the four LLM text columns (`pipeline.py:59-74`), deterministic ----

_LLM_STRUCT = (
    "openai_description string, openai_best_pairings string, "
    "openai_health_impact string, openai_preparation_tips string"
)


def _gen_all(item_name: pd.Series, calories: pd.Series) -> pd.DataFrame:
    cal_s = _fmt_cal(calories)
    density = pd.Series(
        ["dense" if c > 300 else "light" for c in calories], index=calories.index
    )
    return pd.DataFrame(
        {
            "openai_description": "Description: "
            + item_name
            + " has "
            + cal_s
            + " kcal per serving.",
            "openai_best_pairings": "Best pairings for " + item_name + ": water.",
            "openai_health_impact": "Health impact of "
            + item_name
            + ": "
            + density
            + ".",
            "openai_preparation_tips": "Preparation tips for "
            + item_name
            + ": serve fresh.",
        }
    )


def with_llm_columns(df, item_col: str = "item_name", cal_col: str = "calories"):
    """Append the four openai_* columns (reference DDL `pipeline.py:101-104`)
    in ONE Arrow round trip — a single struct-returning pandas UDF instead of
    four separate Python exchanges (and vs the reference's 4 serial API calls
    per record with 2 s sleeps, `pipeline.py:59-74`)."""
    gen_all = pandas_udf(_gen_all, _LLM_STRUCT)
    struct = gen_all(F.col(item_col), F.col(cal_col)).alias("__llm")
    df = df.withColumn("__llm", struct)
    for f in (
        "openai_description",
        "openai_best_pairings",
        "openai_health_impact",
        "openai_preparation_tips",
    ):
        df = df.withColumn(f, F.col("__llm").getField(f))
    return df.drop("__llm")


# --- U2: the REST nutrition lookup (`consume_items.py:66-80`), batched -----


def nutrition_lookup_stub(names: pd.Series) -> pd.Series:
    """Deterministic stand-in for the Nutrition API: item name → JSON array
    string shaped like the real response (FIXTURES.md B3). Rate limits /
    timeouts (`consume_items.py:70-72,108`) become executor-side concerns."""
    def payload(name: str) -> str:
        h = sum(ord(c) for c in name)
        cal = (h % 900) / 2 + 50
        return (
            f'[{{"name": "{name}", "calories": {cal:.1f}, "serving_size_g": 100.0, '
            f'"fat_total_g": {h % 40}.5, "protein_g": {h % 30}.2, '
            f'"sodium_mg": {h % 500}.0, "carbohydrates_total_g": {h % 80}.1}}]'
        )

    return names.map(payload)


class _RetryableStatus(Exception):
    """A non-200 answer that is NOT definitive (429/503): retry after a
    pause instead of dropping the row."""


def http_nutrition_lookup(
    base_url: str,
    timeout_s: float = 10.0,
    retries: int = 2,
    param: str = "query",
    retry_statuses: frozenset[int] = frozenset({429, 503}),
    backoff_s: float = 0.0,
):
    """A REAL-protocol lookup for ``enrich_from_api`` — the operational half
    of the reference's consumer call (`consumer/consume_items.py:66-80`),
    with its exact failure semantics, over actual sockets:

    - per-request timeout (the reference's ``timeout=10``,
      `consume_items.py:71`) — a hung upstream can't wedge the executor;
    - non-200 → the row's ``data`` becomes None (dropped by the pipeline's
      empty-filter, P3), exactly the reference's status check
      (`consume_items.py:73-77`) — the server answered, so no retry;
    - timeout / connection errors → bounded retry (the reference producer's
      ≤5-attempt loop, `produce_items.py:53-56`), then None;
    - 429/503 → retryable WITH linear backoff pause (``backoff_s``·attempt)
      — the rate-limit discipline of the reference's per-record OpenAI
      pacing (`dagster_project/pipeline.py:59-74`), minus its fixed 8 s
      sleep: pause only when the upstream actually pushes back;
    - any single row's failure NEVER kills the stage — the rest of the
      Arrow batch still enriches (T8 error-row-skip, at the HTTP boundary).

    One ``HTTPConnection`` is reused across a batch (keep-alive), re-opened
    on error. The returned callable is picklable and runs executor-side:
    each Arrow batch does its own socket I/O, so throughput scales with
    partitions — the design the deterministic stub stands in for.
    """
    from urllib.parse import urlsplit

    parts = urlsplit(base_url)
    host, port = parts.hostname, parts.port
    path_prefix = parts.path.rstrip("/")

    def lookup(names: pd.Series) -> pd.Series:
        import http.client
        from urllib.parse import quote

        conn: http.client.HTTPConnection | None = None

        def close():
            nonlocal conn
            if conn is not None:
                try:
                    conn.close()
                finally:
                    conn = None

        def fetch_once(name: str) -> str | None:
            """One request. Returns payload, None for a definitive
            non-200 answer, raises on transport errors (retryable)."""
            nonlocal conn
            if conn is None:
                conn = http.client.HTTPConnection(host, port, timeout=timeout_s)
            conn.request("GET", f"{path_prefix}?{param}={quote(name)}")
            resp = conn.getresponse()
            body = resp.read()  # always drain so the connection is reusable
            if resp.status in retry_statuses:
                raise _RetryableStatus(str(resp.status))
            if resp.status != 200:
                return None
            return body.decode("utf-8")

        def fetch(name: str) -> str | None:
            import time as _time

            for attempt in range(retries + 1):
                try:
                    return fetch_once(name)
                except _RetryableStatus:
                    # connection already drained and reusable; pace the retry
                    if attempt == retries:
                        return None
                    if backoff_s:
                        _time.sleep(backoff_s * (attempt + 1))
                except Exception:
                    close()  # stale/broken socket — next attempt reconnects
                    if attempt == retries:
                        return None
            return None

        try:
            return names.map(fetch)
        finally:
            close()

    return lookup


def enrich_from_api(df, name_col: str = "item_name", lookup=nutrition_lookup_stub):
    """mapInPandas-style enrichment: one HTTP-batch per Arrow batch.

    ``lookup`` is injectable (tests/oracle use the deterministic stub; prod
    supplies a real batched client with retry/timeout).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["data"] = lookup(pdf[name_col])
            yield pdf

    from pyspark.sql.types import StructField, StructType

    schema = StructType(df.schema.fields + [StructField("data", StringType())])
    return df.mapInPandas(run, schema=schema)
