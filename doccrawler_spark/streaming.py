"""Structured-Streaming metrics feed (optional per SURVEY.md §1.2 —
the crawl loop itself is batch-iterative by design; only the live
metrics/monitoring surface streams).

The crawl commits one parquet snapshot dir per round under
``<root>/metrics/rNNNNN``; a monitoring job tails those directories as
a file stream and maintains running per-round aggregates — the
streaming analogue of the reference's MongoDB usage log
(src/app/repositories/llm_usage_repository.py:14-21).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .crawl import METRICS_SCHEMA


def _stream_src_dir(snapshot_root: str, table: str) -> str:
    """Commit-safe stream source: <root>/stream/<table> holds one
    directory of published data files per COMMITTED round (link-or-copy
    after the manifest rename — object-store-safe, no symlinks), so a
    stream can never consume a torn round's junk part-files the way a
    raw ``<table>/r*`` glob could after a crash."""
    from .snapshots import SnapshotCatalog

    return SnapshotCatalog(snapshot_root).stream_dir(table)


def metrics_stream(spark: SparkSession, snapshot_root: str) -> DataFrame:
    """readStream over the crawl's metrics snapshots → running totals
    per round (append as new rounds commit)."""
    src = (
        spark.readStream.schema(METRICS_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{_stream_src_dir(snapshot_root, 'metrics')}/r*")
    )
    return src.groupBy("round").agg(
        F.sum("pages_fetched").alias("pages_fetched"),
        F.sum("bytes_fetched").alias("bytes_fetched"),
        F.count("*").alias("n_partitions"),
    )


def run_metrics_query(spark: SparkSession, snapshot_root: str, name: str = "crawl_metrics"):
    """Start the monitoring query against an in-memory sink; call
    ``q.processAllAvailable()`` then query ``SELECT * FROM <name>``."""
    agg = metrics_stream(spark, snapshot_root)
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )


FRONTIER_STREAM_SCHEMA = (
    "url string, host string, depth int, site_id string, home_url string, "
    "sitemap_mode boolean, priority long, url_hash long, round int, "
    "is_new boolean"
)


def frontier_stream(spark: SparkSession, snapshot_root: str) -> DataFrame:
    """readStream over the crawl's frontier snapshots — each committed
    round appends its discovered-URL delta, so the directories form an
    unbounded stream of (url, site_id, round, …) events.  An event time
    is synthesized from the round number (one minute per round) so
    watermark semantics are exercised exactly as they would be with
    real fetch timestamps."""
    src = (
        spark.readStream.schema(FRONTIER_STREAM_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{_stream_src_dir(snapshot_root, 'frontier')}/r*")
    )
    event_ts = F.timestamp_seconds(F.lit(1_700_000_000) + F.col("round") * 60)
    return src.withColumn("event_ts", event_ts)


def streaming_seen_dedup(frontier: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming analogue of the F8 seen-set: late-tolerant exactly-once
    URL dedup via event-time watermark + dropDuplicatesWithinWatermark.
    State is bounded by the watermark horizon (at 10^10-URL scale the
    unbounded-retention variant is a Bloom-backed state store; here the
    horizon IS the correctness contract: a URL re-discovered within the
    window is suppressed, one re-discovered after it re-enters — the
    same trade a production crawler makes)."""
    return (
        frontier.filter(F.col("is_new"))
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
        .select("url", "site_id", "round", "event_ts")
    )


def site_progress_stream(frontier: DataFrame) -> DataFrame:
    """Stateful per-site crawl progress via applyInPandasWithState: the
    state is one running (urls_discovered, max_round) pair per site_id —
    the custom-stateful-operator pattern (the reference keeps this in a
    MongoDB usage log; here it is executor-local incremental state)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        total, max_round = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            total += int(pdf["is_new"].sum())
            if len(pdf):
                max_round = max(max_round, int(pdf["round"].max()))
        state.update((total, max_round))
        yield pd.DataFrame([{
            "site_id": key[0], "urls_discovered": total, "max_round": max_round,
        }])

    return (
        frontier.groupBy("site_id")
        .applyInPandasWithState(
            update,
            outputStructType="site_id string, urls_discovered long, max_round int",
            stateStructType="urls_discovered long, max_round int",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
