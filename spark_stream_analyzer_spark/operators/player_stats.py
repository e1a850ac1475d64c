"""Core keyed aggregation — the reference's only real computation.

The reference folds a per-player ``PlayerState`` (kills/deaths/assists/
damage) over the event stream with ``groupByKey(steamId).mapGroupsWithState``
and emits a 9-column snapshot per player per micro-batch
(reference ``spark/PlayerStatsUpdater.java:16-51``,
``spark/SparkStreamingService.java:215-236``). Re-expressed Spark-first:

* **batch / cumulative** form (:func:`player_stats`) — a single
  ``groupBy(key).agg`` of conditional counts/sums. One hash shuffle on the
  key with map-side partial aggregation; scales linearly, AQE coalesces
  output partitions. This is the oracle-checkable form.
* **snapshot time-series** form (:func:`player_stats_timeseries`) — running
  totals per key ordered by event time via window functions; reproduces the
  append-only ``player_stats`` Postgres table (one row per player per
  second-with-activity) without any streaming machinery.
* the **streaming** form lives in ``streaming/stateful.py`` and reuses the
  same aggregate expressions in ``update`` output mode.

Counter semantics (reference ``spark/PlayerStatsUpdater.java:53-67``):
``kill→kills+1, death→deaths+1, assist→assists+1, damage→damage+=amount``;
unknown types fall through (no-op). Derived metrics (ibid. :34-37):
``kd_ratio = deaths==0 ? kills : kills/deaths`` and
``damage_per_round = damage / current_round`` (NULL-guarded here; §1.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_stream_analyzer_spark.functions.scalar import guarded_ratio, round6

#: conditional-aggregate building blocks, reused by batch + streaming forms
def cumulative_counter_aggs() -> list[Column]:
    """kills/deaths/assists as long sums; damage as the column's own sum
    (a long sum for the wire parsers' ``amount``) cast to double."""
    one_if = lambda t: F.sum(F.when(F.col("type") == t, 1).otherwise(0)).cast("long")
    return [
        one_if("kill").alias("kills"),
        one_if("death").alias("deaths"),
        one_if("assist").alias("assists"),
        F.coalesce(
            F.sum(F.when(F.col("type") == "damage", F.col("amount"))), F.lit(0.0)
        ).alias("damage"),
    ]


def counter_aggs() -> list[Column]:
    return [
        *cumulative_counter_aggs(),
        F.max("second").alias("second"),
        F.max("round").alias("round"),
    ]


def derived_metrics(df: DataFrame) -> DataFrame:
    """Attach kd_ratio / damage_per_round to an aggregated stats frame."""
    return df.withColumn(
        "kd_ratio", round6(guarded_ratio(F.col("kills"), F.col("deaths")))
    ).withColumn(
        "damage_per_round",
        round6(
            F.when(F.col("round") == 0, F.lit(None).cast("double")).otherwise(
                F.col("damage") / F.col("round").cast("double")
            )
        ),
    )


def player_stats(events: DataFrame) -> DataFrame:
    """Lifetime per-player stats over normalized events.

    Equivalent to the final state of the reference's
    ``mapGroupsWithState`` fold after all events are consumed.
    """
    agg = events.groupBy("steam_id").agg(*counter_aggs())
    return derived_metrics(agg.withColumn("damage", round6(F.col("damage"))))


def player_stats_with_names(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stats + dimension name repair.

    The reference repairs blank names per-row at the sink with a JDBC
    lookup (``spark/SparkStreamingService.java:264-268``); here it is one
    broadcast left join — the dim is small (players/customers), so no
    shuffle of the fact side.
    """
    return player_stats(events).join(
        F.broadcast(dim), on="steam_id", how="left"
    )


def player_stats_timeseries(events: DataFrame) -> DataFrame:
    """Running snapshot per (player, second-with-activity).

    Reproduces the append-only time series the reference sinks to
    Postgres once per trigger: cumulative counters *as of* each second a
    player had activity. Window running-sums — one shuffle on the key,
    sort within partitions; no per-row Python.
    """
    from pyspark.sql.window import Window

    per_sec = events.groupBy("steam_id", "second").agg(
        F.sum(F.when(F.col("type") == "kill", 1).otherwise(0)).cast("long").alias("d_kills"),
        F.sum(F.when(F.col("type") == "death", 1).otherwise(0)).cast("long").alias("d_deaths"),
        F.sum(F.when(F.col("type") == "assist", 1).otherwise(0)).cast("long").alias("d_assists"),
        F.coalesce(F.sum(F.when(F.col("type") == "damage", F.col("amount"))), F.lit(0.0)).alias("d_damage"),
        F.max("round").alias("d_round"),
    )
    w = (
        Window.partitionBy("steam_id")
        .orderBy("second")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = per_sec.select(
        "steam_id",
        "second",
        F.sum("d_kills").over(w).cast("long").alias("kills"),
        F.sum("d_deaths").over(w).cast("long").alias("deaths"),
        F.sum("d_assists").over(w).cast("long").alias("assists"),
        round6(F.sum("d_damage").over(w)).alias("damage"),
        F.max("d_round").over(w).alias("round"),
    )
    return derived_metrics(run)
