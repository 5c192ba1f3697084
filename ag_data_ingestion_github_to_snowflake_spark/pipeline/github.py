"""The reference pipeline, Spark-first: nested-record flatten,
required-field validation split, run-summary metrics, idempotent
incremental extraction.

Covers SURVEY §2 A10 (flatten), A12/A13 (validation split), A14 (error
row skip), A15 (run counters), A21 (resume/at-least-once), composed in
``incremental_extract`` — the whole of the reference's
``extract_repositories`` (/root/reference/src/extract_github_data.py:
607-762) as one lazily-planned DataFrame pipeline that a single action
(the sink write) runs.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ag_data_ingestion_github_to_snowflake_spark.sources.rest import (
    RestSourceConfig,
    Transport,
    enrich_details,
    list_scan_df,
)
from ag_data_ingestion_github_to_snowflake_spark.sources.state import WatermarkStore

# The canonical 14-column schema: REQUIRED_FIELDS (reference :53-71)
# = Snowflake DDL columns (README.md:267-283).
REQUIRED_FIELDS = (
    "id",
    "name",
    "full_name",
    "html_url",
    "description",
    "stargazers_count",
    "language",
    "created_at",
    "updated_at",
    "owner_login",
    "owner_id",
    "owner_type",
    "owner_avatar_url",
    "owner_url",
)

# The counters ``observed_run_metrics`` collects, in ``_run_metrics`` order.
RUN_COUNTERS = (
    "total_processed",
    "valid_count",
    "invalid_count",
    "start_repo_id",
    "last_repo_id",
)


def flatten_repos(raw: DataFrame) -> DataFrame:
    """A10: nested ~100-field record -> flat 14-column projection.

    Hoists owner.* to owner_* (reference :494-527, design rationale
    README.md:15) and parses the ISO-8601 'Z' timestamp strings to
    TIMESTAMP (DDL README.md:276-277). Pure projection: Catalyst
    prunes every untouched field at the scan.
    """
    return raw.select(
        F.col("id"),
        F.col("name"),
        F.col("full_name"),
        F.col("html_url"),
        F.col("description"),
        F.col("stargazers_count"),
        F.col("language"),
        F.to_timestamp("created_at", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("created_at"),
        F.to_timestamp("updated_at", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("updated_at"),
        F.col("owner.login").alias("owner_login"),
        F.col("owner.id").alias("owner_id"),
        F.col("owner.type").alias("owner_type"),
        F.col("owner.avatar_url").alias("owner_avatar_url"),
        F.col("owner.html_url").alias("owner_url"),
    )


def valid_predicate(columns: tuple[str, ...] = REQUIRED_FIELDS):
    """A12: row valid iff every required field is non-null (:530-547)."""
    return reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in columns])


def with_missing_fields(df: DataFrame, columns: tuple[str, ...] = REQUIRED_FIELDS) -> DataFrame:
    """Attach the missing-field list the reference reports per invalid
    row (:541-546): array of required column names that are null."""
    pairs = F.array(
        *[
            F.when(F.col(c).isNull(), F.lit(c)).otherwise(F.lit(None))
            for c in columns
        ]
    )
    return df.withColumn("missing_fields", F.filter(pairs, lambda x: x.isNotNull()))


def validation_split(df: DataFrame, columns: tuple[str, ...] = REQUIRED_FIELDS) -> tuple[DataFrame, DataFrame]:
    """A13: split into (valid, invalid-with-missing-list) off one input."""
    pred = valid_predicate(columns)
    return df.filter(pred), with_missing_fields(df.filter(~pred), columns)


def latest_snapshot(df: DataFrame, key: str = "id", order_col: str = "updated_at") -> DataFrame:
    """Dedupe-to-latest per key (B29 pattern): at-least-once upstream
    delivery means repeated extractions accumulate; keep the newest."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


@dataclass
class ExtractResult:
    valid: DataFrame
    invalid: DataFrame
    # The A15 counters of ``observed_run_metrics``, filled by the first
    # action over the batch; ``.get`` blocks until then.
    observation: Observation
    new_watermark: int
    api_calls: int


def incremental_extract(
    spark: SparkSession,
    transport: Transport,
    state: WatermarkStore,
    config: RestSourceConfig | None = None,
    max_pages: int = 1,
    commit_state: bool = True,
) -> ExtractResult:
    """The full reference pipeline as one lazily-planned batch (A1-A15, A21).

    state-read -> paginated list scan -> budget limit -> distributed
    detail enrichment -> flatten -> dedupe on id -> observed counters
    -> validate split. Nothing is persisted: every action over
    ``valid`` or ``invalid`` runs the enrichment again, so a caller
    runs exactly one (the sink write), and the counters ride on it.

    The watermark commits once per batch (not per row as the reference
    does, :714) and only AFTER an action over the batch has succeeded,
    so a failed enrichment job aborts with the watermark untouched and
    the next run re-fetches the batch. With ``commit_state`` that
    action is a ``noop`` write run here; callers writing to durable
    sinks pass ``commit_state=False`` and commit the watermark after
    their sink write. Idempotency comes from ``latest_snapshot`` on id
    — the documented at-least-once design (README.md:121-129) made
    exactly-once at the table level.
    """
    config = config or RestSourceConfig()
    since = state.get()
    list_df, new_wm, api_calls = list_scan_df(spark, transport, since, config, max_pages)
    raw = enrich_details(list_df, transport)
    flat, observation = observed_run_metrics(latest_snapshot(flatten_repos(raw)))
    valid, invalid = validation_split(flat)
    if commit_state:
        flat.write.format("noop").mode("overwrite").save()
        state.set(new_wm)
    return ExtractResult(valid, invalid, observation, new_wm, api_calls)


def observed_run_metrics(flat: DataFrame) -> tuple[DataFrame, Observation]:
    """A15 counters as a zero-extra-scan ``Observation``.

    A second aggregate over the data would be a second full pass over
    the sink write's input. ``df.observe`` instead piggybacks the
    counters on whatever action consumes the returned DataFrame (the
    sink write itself): accumulator-style, exactly-once per action, no
    extra job.

    Returns ``(observed_df, observation)`` — write ``observed_df``,
    then read ``observation.get`` for the metrics dict.
    """
    pred = valid_predicate()
    obs = Observation("run_metrics")
    observed = flat.observe(
        obs,
        F.count(F.lit(1)).alias("total_processed"),
        F.count(F.when(pred, 1)).alias("valid_count"),
        F.count(F.when(~pred, 1)).alias("invalid_count"),
        F.min("id").alias("start_repo_id"),
        F.max("id").alias("last_repo_id"),
    )
    return observed, obs


def run_metrics_row(
    spark: SparkSession,
    counters: dict,
    api_calls: int,
    test_mode: bool,
    extraction_date: datetime,
) -> DataFrame:
    """A15 run-summary row (reference :730-742) from the observed
    counters: one row of literals, planned and written in the JVM.
    ``cache_hits`` stays 0: every run fetches past the watermark."""

    def lit(name: str, value, type_: str):
        return F.lit(value).cast(type_).alias(name)

    return spark.range(1).select(
        *(lit(k, counters[k], "bigint") for k in RUN_COUNTERS),
        lit("api_calls", api_calls, "int"),
        lit("cache_hits", 0, "int"),
        lit("test_mode", test_mode, "boolean"),
        lit("extraction_date", extraction_date, "timestamp"),
    )
