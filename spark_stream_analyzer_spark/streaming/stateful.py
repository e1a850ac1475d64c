"""Streaming keyed state — the reference's ``mapGroupsWithState`` rebuilt.

Two native forms, both update-mode streaming aggregations with no
watermark (Spark keeps unbounded per-key state itself — the reference's
lifetime-state semantics, no ``GroupStateTimeout``,
``spark/SparkStreamingService.java:230-234``). State lives in the state
store, partial aggregation runs before the shuffle, no Python in the loop:

* :func:`running_player_stats_stream` — running totals (the batch
  form's aggregate expressions, streamed).

* :func:`snapshot_player_stats_stream` — **exact-parity** snapshots,
  replicating the reference's per-batch quirks
  (``spark/PlayerStatsUpdater.java:16-51``): cumulative counters, but
  ``second``/``round`` are maxima over *only the current micro-batch*
  and the emitted name is the batch's first non-blank name (else the
  stored one, else blank). One snapshot row per key per batch it
  appears in. The batch-local fields are ``max(struct(_batch_ts, …))``
  aggregates over a ``current_timestamp()`` column projected before the
  ``groupBy``: inside a stream that is the micro-batch timestamp (kept
  in ``offsets/<batchId>``, so a replayed batch sees the same value),
  and a key's current batch is the one with the highest timestamp.

  *Name tie rule*: a batch has no row order once it is aggregated, so
  "first non-blank name" is the name of the key's earliest non-blank
  event (lowest ``second``, then the lexicographically lowest name) in
  its latest batch that has one; ``""`` when no batch has one.

  *Assumption*: micro-batch timestamps increase from batch to batch (the
  trigger clock is read at each batch start, batches are > 1 ms apart).
  A wall clock stepped backwards across a restart would let the
  pre-restart batch win ``second``/``round``/name for keys it holds.

:func:`snapshot_player_stats_stream_tws` keeps the Python fold
(:func:`_make_snapshot_fold`) on the ``transformWithState`` API, and
:func:`ttl_evicting_totals_stream` stays on ``applyInPandasWithState``:
it needs event-time timers, which a native aggregation has no form of.

State-schema changelog (checkpoint compatibility):

* **r10 — BREAKING for TTL streams**: ``TTL_STATE_SCHEMA`` gained a
  third field ``last_ms`` (max-ever event time per key; the eviction
  timer is armed from it — see the field's comment). A
  ``ttl_evicting_totals_stream`` query restarted from a pre-r10
  checkpoint fails state deserialization LOUDLY (schema mismatch, no
  silent corruption). Operators must start the TTL stream from a fresh
  checkpoint location after upgrading; all other stateful streams'
  schemas are unchanged.
* **BREAKING for snapshot streams**: :func:`snapshot_player_stats_stream`
  moved from ``applyInPandasWithState`` (state: one ``kills, deaths,
  assists, damage, name`` value per key) to a native aggregation (state:
  the aggregation buffers). A checkpoint
  written by the pandas form fails LOUDLY at restart (the stateful
  operator and its state schema no longer match); start the snapshot
  stream from a fresh checkpoint location after upgrading.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spark_stream_analyzer_spark.functions.scalar import guarded_ratio
from spark_stream_analyzer_spark.operators.player_stats import (
    counter_aggs,
    cumulative_counter_aggs,
    derived_metrics,
)

#: emitted snapshot schema (reference SparkStreamingService.java:216-226)
SNAPSHOT_SCHEMA = StructType(
    [
        StructField("steam_id", StringType()),
        StructField("player_name", StringType()),
        StructField("second", LongType()),
        StructField("kills", LongType()),
        StructField("deaths", LongType()),
        StructField("assists", LongType()),
        StructField("damage", DoubleType()),
        StructField("kd_ratio", DoubleType()),
        StructField("damage_per_round", DoubleType()),
    ]
)


def running_player_stats_stream(events: DataFrame) -> DataFrame:
    """Native streaming agg over normalized events (scale path).

    Use with ``outputMode("update")``: only keys touched in a batch emit.
    """
    return derived_metrics(events.groupBy("steam_id").agg(*counter_aggs()))


def _make_snapshot_fold():
    """The per-batch Python fold of the ``transformWithState`` twin.
    Mirrors reference PlayerStatsUpdater.updatePlayerStats:
    fold the batch's events into carried counters, compute derived
    metrics, return ``(new_state_tuple, emitted_row_dict)``.

    Closure-built so cloudpickle serializes it by value (module-level
    functions pickle by reference and would require this package on
    executor Python workers).
    """
    import pandas as pd  # rebind locally so the closure is self-contained

    def fold(steam_id, pdfs, carried):
        kills, deaths, assists, damage, name = carried
        cur_second = 0
        cur_round = 0
        batch_name = ""
        for pdf in pdfs:
            kills += int((pdf["type"] == "kill").sum())
            deaths += int((pdf["type"] == "death").sum())
            assists += int((pdf["type"] == "assist").sum())
            dmg = pdf.loc[pdf["type"] == "damage", "amount"].sum()
            damage += float(0.0 if pd.isna(dmg) else dmg)
            cur_second = max(cur_second, int(pdf["second"].max()))
            cur_round = max(cur_round, int(pdf["round"].max()))
            if not batch_name:
                nonblank = pdf.loc[pdf["player"] != "", "player"]
                if len(nonblank):
                    batch_name = str(nonblank.iloc[0])
        # batch-first name precedence (reference PlayerStatsUpdater.java:24-30
        # recomputes the first non-blank name per batch; stored name is only
        # the fallback when the whole batch is blank)
        name = batch_name or name
        kd = float(kills) if deaths == 0 else kills / deaths
        dpr = None if cur_round == 0 else damage / cur_round
        row = {
            "steam_id": steam_id,
            "player_name": name,
            "second": cur_second,
            "kills": kills,
            "deaths": deaths,
            "assists": assists,
            "damage": damage,
            "kd_ratio": kd,
            "damage_per_round": dpr,
        }
        return (kills, deaths, assists, damage, name), row

    return fold


def snapshot_player_stats_stream(events: DataFrame) -> DataFrame:
    """Exact-parity snapshot stream (reference semantics incl. quirks;
    see the module docstring for the name tie rule and the batch
    timestamp assumption).

    ``events`` must carry ``player, steam_id, type, second, amount,
    round`` (the wire-parser output). State never times out — parity with
    the reference's missing ``GroupStateTimeout`` (bounded by key count).
    Use with ``outputMode("update")``.
    """
    ts = F.col("_batch_ts")
    latest = lambda c: F.max(F.struct(ts, F.col(c).alias("v")))["v"]
    first_name = F.min(
        F.when(
            F.col("player") != "",
            F.struct(
                (-F.unix_micros(ts)).alias("newest"),
                F.col("second").alias("earliest"),
                F.col("player").alias("name"),
            ),
        )
    )["name"]
    # projected before the groupBy, never inside an aggregate argument:
    # a nondeterministic expression there fails analysis at the first
    # micro-batch
    agg = (
        events.withColumn("_batch_ts", F.current_timestamp())
        .groupBy("steam_id")
        .agg(
            *cumulative_counter_aggs(),
            latest("second").alias("_second"),
            latest("round").alias("_round"),
            first_name.alias("_name"),
        )
    )
    clamp0 = lambda c: F.greatest(F.coalesce(F.col(c), F.lit(0)), F.lit(0))
    rnd = clamp0("_round")
    return agg.select(
        "steam_id",
        F.coalesce("_name", F.lit("")).alias("player_name"),
        clamp0("_second").cast("long").alias("second"),
        "kills",
        "deaths",
        "assists",
        "damage",
        guarded_ratio(F.col("kills"), F.col("deaths")).alias("kd_ratio"),
        F.when(rnd == 0, F.lit(None).cast("double"))
        .otherwise(F.col("damage") / rnd.cast("double"))
        .alias("damage_per_round"),
    )


def _make_snapshot_processor():
    """StatefulProcessor around :func:`_make_snapshot_fold` for the
    Spark 4.x ``transformWithState`` API (closure-built for the same
    pickle-by-value reason)."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    state_ddl = "kills BIGINT, deaths BIGINT, assists BIGINT, damage DOUBLE, name STRING"

    fold = _make_snapshot_fold()

    class SnapshotProcessor(StatefulProcessor):
        def init(self, handle):
            self._player = handle.getValueState("player", state_ddl)

        def handleInputRows(self, key, rows, timerValues):
            (steam_id,) = key
            carried = (
                self._player.get()
                if self._player.exists()
                else (0, 0, 0, 0.0, "")
            )
            new_state, row = fold(steam_id, rows, carried)
            self._player.update(new_state)
            yield pd.DataFrame([row])

        def close(self):
            pass

    return SnapshotProcessor()


def snapshot_player_stats_stream_tws(events: DataFrame) -> DataFrame:
    """:func:`snapshot_player_stats_stream` on the ``transformWithState``
    API (PySpark ≥ 4.0) — arbitrary named state (value/list/map), timers,
    and TTL, where ``applyInPandasWithState`` offers one value slot.

    Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...state.RocksDBStateStoreProvider``) — which is the right provider
    at scale anyway (state off the JVM heap, incremental checkpoints).

    Transport-gated: the TWS state server speaks protobuf between the JVM
    and the Python worker, and ``google.protobuf`` is not installed in
    every deployment (not in this container). The PROCESSOR LOGIC is
    nonetheless fully tested in-process (tests/test_streaming.py drives
    the StatefulProcessor against a stub state handle and asserts row
    parity with the live native form); only
    the wire transport needs protobuf. Fail loudly up front rather than
    mid-stream in a worker.
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise RuntimeError(
            "transformWithStateInPandas requires google.protobuf on driver "
            "and workers (the TWS state-server protocol); install protobuf "
            "or use snapshot_player_stats_stream (native aggregation), "
            "which has the same semantics"
        ) from e
    return events.groupBy("steam_id").transformWithStateInPandas(
        statefulProcessor=_make_snapshot_processor(),
        outputStructType=SNAPSHOT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )


#: ttl-evicting per-key totals — emitted on update AND on timer eviction
TTL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total", LongType()),
        StructField("evicted", LongType()),
    ]
)

TTL_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total", LongType()),
        # max event-time ever seen for the key: the timer must be armed
        # from this, not the current batch's max — a late-but-valid
        # straggler would otherwise REGRESS the timer (early eviction),
        # and a very late one would arm at/below the watermark, which
        # raises and kills the query (r10 review)
        StructField("last_ms", LongType()),
    ]
)


def _make_ttl_update(gap_seconds: int):
    """Closure (see :func:`_make_snapshot_fold` for why) implementing
    idle-key eviction with EVENT-TIME TIMERS: each update re-arms the
    key's timer at last_event + gap; when the watermark passes it, the
    group is invoked with ``state.hasTimedOut`` and no rows — it emits a
    final tombstone row (``evicted=1``) and removes its state."""
    import pandas as pd  # self-contained closure (pickled by value)

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            n, tot, _last = state.get
            state.remove()
            yield pd.DataFrame(
                [{"user_id": user_id, "n_events": n, "total": tot, "evicted": 1}]
            )
            return
        n, tot, last_ms = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += int(len(pdf))
            tot += int(pdf["val"].sum())
            # epoch ms from the JVM-computed long, NEVER from the pandas
            # datetime64: Arrow renders timestamps in the SESSION
            # timezone, so `.value` on a non-UTC session is wall-clock
            # masquerading as epoch — the timer then lands behind the
            # watermark and the query dies (caught by the r10
            # TZ=America/New_York sweep)
            last_ms = max(last_ms, int(pdf["ts_ms"].max()))
        state.update((n, tot, last_ms))
        # arm from the max ts EVER seen (state-carried), never the
        # current batch alone: a late straggler must not regress the
        # timer; and clamp above the watermark — arbitrary stateful ops
        # do NOT drop late input, and an at-or-below-watermark timestamp
        # raises and kills the query (r10 review)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_ms + gap_seconds * 1000, wm + 1))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_events": n, "total": tot, "evicted": 0}]
        )

    return update


def ttl_evicting_totals_stream(events: DataFrame, gap_seconds: int = 3600) -> DataFrame:
    """Per-key running totals whose state EXPIRES after ``gap_seconds``
    of event-time inactivity — the state-TTL pattern the reference lacks
    entirely (its 3-arg ``mapGroupsWithState`` overload never configures
    a ``GroupStateTimeout``, so state lives forever; SURVEY §2.9).

    ``events`` must carry ``user_id:long, ts:timestamp, val:long`` and
    ALREADY be watermarked (EventTimeTimeout derives timer firing from
    the watermark). At 100 TB this is how unbounded-keyspace streams
    stay bounded: idle keys emit a final row and leave the store, so
    state size tracks the ACTIVE keyset, not the lifetime keyset.

    Pinned engine subtlety (tests/test_streaming.py): a key that
    receives data in the very batch its timer would fire gets the DATA
    call, not the timeout — Spark only invokes ``hasTimedOut`` for
    dataless groups — so its state resurrects and totals merge; the
    tombstone only ever fires for keys idle through the firing batch.
    """
    from pyspark.sql import functions as F

    # carry the epoch as a JVM-computed long across the Arrow boundary —
    # the timestamp column itself renders in the session timezone on the
    # pandas side (see _make_ttl_update)
    return (
        events.withColumn("ts_ms", F.unix_millis("ts"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_ttl_update(gap_seconds),
            outputStructType=TTL_OUT_SCHEMA,
            stateStructType=TTL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
