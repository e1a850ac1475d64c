"""Oracle-checked STREAMING query — the full reference pipeline, live.

Unlike the batch twins in q_wire.py, this entry actually runs Structured
Streaming inside the driver's harness: synthesize wire lines from the
events table, write them as two replay files (two micro-batches), stream
them through parse → union → native update-mode snapshot aggregation →
memory sink, then reduce the emitted per-batch snapshots to final state.

Determinism notes (why this is oracle-able at all):

* counters are monotone ⇒ per-key maxima over emitted snapshots = final
  state, independent of batch interleaving;
* every named wire event for a key carries the SAME name (``n<uid>``) ⇒
  "first non-blank name in batch" is order-independent;
* batch-local fields (``second``/``round``) are excluded from the output.
"""

from __future__ import annotations

import math
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_stream_analyzer_spark.functions import texthash as TH
from spark_stream_analyzer_spark.functions.scalar import guarded_ratio, msum6, round6
from spark_stream_analyzer_spark.plans.q_wire import _O_BASE, _base
from spark_stream_analyzer_spark.plans.registry import register
from spark_stream_analyzer_spark.sources.wire import parse_damage_lines, parse_kill_lines
from spark_stream_analyzer_spark.streaming.sinks import start_with_partitions
from spark_stream_analyzer_spark.streaming.sources import file_lines_stream
from spark_stream_analyzer_spark.streaming.stateful import snapshot_player_stats_stream


#: bound the streamed slice so the live-streaming check costs O(1) in SF
#: (covers ALL events at the sf0.01 correctness gate: 10k < 20k)
EVENT_CAP = 20_000


def _synth_uniform_lines(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Kill/damage lines with key-stable names (``n<uid>`` everywhere)."""
    b = (
        _base(spark, sf_dir)
        .filter(F.col("event_id") < EVENT_CAP)
        .withColumn("nm", F.concat(F.lit("n"), F.col("user_id")))
    )
    killer = F.when(F.col("event_type") == "click", F.col("nm")).otherwise("")
    victim = F.when(F.col("event_type") == "error", F.col("nm")).otherwise("")
    assister = (
        F.when(F.col("event_type") == "signup", F.col("nm"))
        .when(F.col("event_type") == "view", F.lit("0"))
        .otherwise("")
    )
    kills = b.select(
        F.col("event_id"),
        F.concat_ws(
            ",", F.lit("x"), F.col("tick"), F.col("rnd"), killer, F.col("pid"),
            F.lit("x"), F.lit("x"), victim, F.col("pid"),
            F.lit("x"), F.lit("x"), assister, F.col("pid"),
        ).alias("value"),
    )
    amt = F.expr("CAST(floor(value) AS LONG) % 100")
    damager = F.when(F.col("event_type") == "error", F.lit("")).otherwise(F.col("pid"))
    damages = b.select(
        F.col("event_id"),
        F.concat_ws(
            ",", F.lit("x"), F.col("tick"), F.col("rnd"), F.lit("x"), F.lit("x"),
            (F.lit(100) + amt), F.lit(100), F.lit("x"), F.lit("x"), damager,
        ).alias("value"),
    )
    return kills, damages


@register(
    "streaming_snapshot_stats",
    oracle=f"""
    WITH {_O_BASE},
    agg AS (
      SELECT pid AS steam_id,
             CASE WHEN COUNT(CASE WHEN event_type IN ('click','error','signup') THEN 1 END) > 0
                  THEN 'n' || CAST(user_id AS VARCHAR) ELSE '' END AS player_name,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS kills,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS deaths,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS assists,
             ROUND(CAST(COALESCE(SUM(CASE WHEN event_type <> 'error'
                   THEN CAST(floor(value) AS BIGINT) % 100 END), 0) AS DOUBLE), 6) AS damage
      FROM base WHERE event_id < 20000 GROUP BY pid, user_id
    )
    SELECT steam_id, player_name, kills, deaths, assists, damage,
           ROUND(CASE WHEN deaths = 0 THEN CAST(kills AS DOUBLE)
                      ELSE CAST(kills AS DOUBLE) / CAST(deaths AS DOUBLE) END, 6) AS kd_ratio
    FROM agg
    """,
    doc="A2 exact-parity stateful stream: live native update-mode snapshot "
    "aggregation (batch-local second/round/name keyed on the micro-batch "
    "timestamp) over 2-micro-batch file replay; final state reduced from "
    "emitted snapshots",
)
def q_streaming_snapshot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    kills, damages = _synth_uniform_lines(spark, sf_dir)
    workdir = tempfile.mkdtemp(prefix="ssa_stream_")
    kdir, ddir = f"{workdir}/kills", f"{workdir}/damages"
    import os

    os.makedirs(kdir), os.makedirs(ddir)
    # two replay files per source = two micro-batches (maxFilesPerTrigger=1)
    for df, outdir in ((kills, kdir), (damages, ddir)):
        rows = df.collect()  # test-harness boundary only, NOT an engine path
        for parity in (0, 1):
            path = f"{outdir}/{parity:03d}.txt"
            with open(path, "w") as f:
                for r in rows:
                    if r.event_id % 2 == parity:
                        f.write(r.value + "\n")
            _stamp_batch_file(path, parity)

    events = parse_kill_lines(file_lines_stream(spark, kdir)).unionByName(
        parse_damage_lines(file_lines_stream(spark, ddir))
    )
    name = f"snap_{uuid.uuid4().hex[:8]}"
    _run_to_memory(snapshot_player_stats_stream(events), name, spark, "update", workdir)

    snaps = spark.table(name)
    final = snaps.groupBy("steam_id").agg(
        F.max("player_name").alias("player_name"),
        F.max("kills").alias("kills"),
        F.max("deaths").alias("deaths"),
        F.max("assists").alias("assists"),
        round6(F.max("damage")).alias("damage"),
    )
    return final.withColumn(
        "kd_ratio", round6(guarded_ratio(F.col("kills"), F.col("deaths")))
    )


@register(
    "streaming_windowed_counts",
    oracle=f"""
    WITH {_O_BASE}
    SELECT sec // 86400 * 86400 AS win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM base WHERE event_id < {EVENT_CAP}
    GROUP BY 1, 2
    """,
    doc="EXT event-time windows, LIVE: tumbling daily counts through a "
    "real watermarked stream — file replay in two deliberately "
    "event-time-interleaved micro-batches (odd/even event ids), "
    "window+watermark agg in update mode, memory sink reduced by "
    "per-window max (counts are monotone, so the reduction is batch-"
    "interleaving-independent). The watermark delay is span-sized: late "
    "rows are merged, never dropped — the reference's accept-all-late "
    "semantics (SURVEY §2.9) with the watermark machinery engaged; the "
    "oracle re-derives the same windows as epoch floor-division",
)
def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    lines = b.select(
        "event_id",
        F.concat_ws(",", F.col("sec"), F.col("event_type")).alias("value"),
    )
    workdir = tempfile.mkdtemp(prefix="ssa_winstream_")
    os.makedirs(f"{workdir}/in")
    rows = lines.collect()  # test-harness boundary only, NOT an engine path
    for parity in (0, 1):
        path = f"{workdir}/in/{parity:03d}.txt"
        with open(path, "w") as f:
            for r in rows:
                if r.event_id % 2 == parity:
                    f.write(r.value + "\n")
        _stamp_batch_file(path, parity)

    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        F.timestamp_seconds(parts[0].cast("long")).alias("ts"),
        parts[1].alias("event_type"),
    )
    name = f"winc_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            parsed.withWatermark("ts", "36500 days")
            .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count("*").alias("n"))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)  # replay files consumed

    snaps = spark.table(name)
    return snaps.groupBy(
        F.unix_timestamp(F.col("win.start")).alias("win_start"), "event_type"
    ).agg(F.max("n").alias("n"))


# ---------------------------------------------------------------------------
# round-2 live streaming surfaces: dedup, session flush, stream-stream join
# ---------------------------------------------------------------------------


#: spacing between replay-file mtimes — must exceed FileStreamSource's
#: millisecond timestamp granularity so batch order is deterministic
_MTIME_STEP_S = 10

#: shuffle-partition count for the replay fixtures.  Every micro-batch
#: commits EVERY partition of EVERY state store (a stream-stream join
#: keeps four), so fixture wall time scales with partitions x stateful
#: operators x micro-batches while the data itself is tiny (<=10k rows,
#: <=~200 keys).  Measured at sf0.1: 8 -> 2 partitions cuts the three
#: join fixtures 25-35% with identical output (r9).  2, not the engine
#: sinks' 1 (``streaming/sinks.py:STATE_PARTITIONS``), so the keyed
#: cross-partition shuffle path stays exercised.
_FIXTURE_SHUFFLE_PARTS = "2"

#: The PYTHON-stateful fixture (``applyInPandasWithState``:
#: streaming_state_ttl_eviction) is the opposite regime: per-batch cost
#: is Python-side group processing, which parallelizes across Arrow
#: workers (measured at sf0.1 on the former pandas snapshot row: 13.2 s
#: at 2 partitions vs 4.1 s at 8 — the state protocol exchanges each
#: group separately, so worker count is the lever, not commit count).
#: Keep it at 8.
_FIXTURE_PANDAS_PARTS = "8"


def _async_progress(writer):
    """Async progress tracking for the STATELESS serving fixtures (r15).

    The three in-stream tokenizer rows are pure append-mode projections
    (no state store, no watermark — plan-pinned stateless); their
    offset/commit metadata logs are pure per-trigger latency with no
    recovery claim behind them (temp checkpoint, deleted with the
    fixture).  ``asyncProgressTrackingEnabled`` moves the walCommit +
    commitOffsets writes off the trigger critical path — the documented
    production trade for latency-sensitive stateless serving streams
    that accept at-least-once on restart.  Measured on a 4-batch
    stateless replay: walCommit+commitOffsets ~90 ms/batch -> ~1 ms.
    Spark REJECTS the option on stateful queries (verified — it raises),
    so it structurally cannot leak onto the rows whose state/exactly-
    once semantics ARE the subject; those fixtures never call this.
    Output parity is untouched: ``processAllAvailable`` still drains
    every batch into the sink before the fixture reads it, and the
    oracle compares values only.
    """
    return writer.option("asyncProgressTrackingEnabled", "true").option(
        "asyncProgressTrackingCheckpointIntervalMs", "0"
    )


def _stamp_batch_file(path: str, batch_idx: int) -> None:
    """Pin a replay file's mtime to ``epoch-anchor + idx*step``.

    Spark's FileStreamSource orders pending files by *millisecond*
    modification time; files written microseconds apart tie at ms
    granularity and the tie-break is arbitrary.  For watermarked replays
    that is not a flake but a correctness race: if a far-future sentinel
    batch sorts before a data batch, the watermark jumps first and every
    row of the later-processed data batch is dropped as late (this
    exactly happened — sf0.01 session replay lost all odd-batch rows).
    Explicit strictly-increasing mtimes make processing order = batch
    index, always."""
    import os

    t = 1_600_000_000 + batch_idx * _MTIME_STEP_S
    os.utime(path, (t, t))


def _write_batches(rows, outdir: str, batch_of, fmt) -> None:
    """Write replay files (one per micro-batch). ``batch_of(row)`` returns
    the list of batch indices a row lands in (duplicates allowed —
    writing a row in two batches IS the cross-batch-duplicate injection);
    ``fmt(row)`` the line. Test-harness boundary only, NOT an engine path."""
    import os

    os.makedirs(outdir, exist_ok=True)
    batches: dict[int, list[str]] = {}
    for r in rows:
        for b in batch_of(r):
            batches.setdefault(b, []).append(fmt(r))
    for b, lines in sorted(batches.items()):
        path = f"{outdir}/{b:03d}.txt"
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        _stamp_batch_file(path, b)


def _run_to_memory(
    stream_df, name: str, spark: SparkSession, mode: str, workdir: str | None = None
) -> None:
    writer = stream_df.writeStream.outputMode(mode).format("memory").queryName(name)
    try:
        q = start_with_partitions(writer, spark, _FIXTURE_SHUFFLE_PARTS)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if workdir is not None:
            # replay files are fully consumed once the query stops; the
            # memory-sink table holds the result, so the workdir is pure
            # residue (a 125-query bench session was accumulating one
            # tempdir per streaming query per run)
            import shutil

            shutil.rmtree(workdir, ignore_errors=True)


@register(
    "streaming_dedup_events",
    oracle=f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE event_id < {EVENT_CAP}
    GROUP BY event_type
    """,
    doc="EXT streaming dedup, LIVE: every line is replayed TWICE within "
    "its batch and a third of ids are replayed again in the other batch "
    "(intra- AND cross-batch duplicates); dropDuplicatesWithinWatermark "
    "on event_id must collapse all of them — dedup state lives in the "
    "state store keyed by id, evicted once the watermark passes (the "
    "bounded-state form of streaming exact dedup; span-sized delay here "
    "= keep-everything parity). Counts per type must equal the batch "
    "DISTINCT — exactly-once across replays",
)
def q_streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select("event_id", "sec", "event_type").collect()  # harness boundary
    workdir = tempfile.mkdtemp(prefix="ssa_dedupstream_")
    _write_batches(
        rows,
        f"{workdir}/in",
        # ids ≡ 0,1 (mod 3) → batch 0 (twice via fmt below); ids ≡ 1,2 → batch 1:
        # the ≡1 class appears in BOTH batches
        batch_of=lambda r: ([0] if r.event_id % 3 in (0, 1) else [])
        + ([1] if r.event_id % 3 in (1, 2) else []),
        fmt=lambda r: f"{r.event_id},{r.sec},{r.event_type}\n"
        f"{r.event_id},{r.sec},{r.event_type}",
    )
    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        parts[0].cast("long").alias("event_id"),
        F.timestamp_seconds(parts[1].cast("long")).alias("ts"),
        parts[2].alias("event_type"),
    )
    deduped = parsed.withWatermark("ts", "36500 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(deduped, name, spark, "append", workdir=workdir)
    return spark.table(name).groupBy("event_type").agg(
        F.count("*").alias("n_events")
    )


@register(
    "streaming_session_flush",
    oracle=f"""
    WITH o AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events WHERE event_id < {EVENT_CAP}),
    m AS (SELECT user_id, s,
            CASE WHEN s - lag(s) OVER (PARTITION BY user_id ORDER BY s)
                 < 86400 THEN 0 ELSE 1 END AS new_s
          FROM o),
    s2 AS (SELECT user_id, s,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM m)
    SELECT user_id, MIN(s) AS session_start_s, MAX(s) + 86400 AS session_end_s,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s2 GROUP BY user_id, sid
    """,
    doc="EXT session windows, LIVE in APPEND mode: 24h-gap sessions over "
    "an odd/even interleaved replay; a session row may only be emitted "
    "once its window can no longer merge, so the replay appends two "
    "far-future sentinel batches (filtered from the result) that drive "
    "the watermark past every real session's end — the deterministic "
    "flush pattern for append-mode session aggs. Watermark delay is "
    "span-sized: interleaved 'late' rows merge instead of dropping. "
    "Oracle re-derives sessions as gaps-and-islands",
)
def q_streaming_session_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select("event_id", "user_id", "sec").collect()  # harness boundary
    max_sec = max(r.sec for r in rows)
    delay_s = 36_500 * 86_400
    # sentinels: two extra batches for user -1; the FIRST pushes the
    # watermark past every real session end (max_sec + gap), the SECOND
    # triggers the micro-batch in which that watermark takes effect
    # (watermark computed from batch N applies from batch N+1)
    sent0 = max_sec + delay_s + 2 * 86_400
    workdir = tempfile.mkdtemp(prefix="ssa_sessstream_")
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.event_id % 2],
        fmt=lambda r: f"{r.user_id},{r.sec}",
    )
    with open(f"{workdir}/in/002.txt", "w") as f:
        f.write(f"-1,{sent0}\n")
    _stamp_batch_file(f"{workdir}/in/002.txt", 2)
    with open(f"{workdir}/in/003.txt", "w") as f:
        f.write(f"-1,{sent0 + 3600}\n")
    _stamp_batch_file(f"{workdir}/in/003.txt", 3)
    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        parts[0].cast("long").alias("user_id"),
        F.timestamp_seconds(parts[1].cast("long")).alias("ts"),
    )
    sessions = (
        parsed.withWatermark("ts", f"{delay_s} seconds")
        .groupBy(F.session_window("ts", "24 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_to_memory(sessions, name, spark, "append", workdir=workdir)
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.unix_timestamp("w.start").cast("long").alias("session_start_s"),
            F.unix_timestamp("w.end").cast("long").alias("session_end_s"),
            "n_events",
        )
    )


@register(
    "streaming_interval_join",
    oracle=f"""
    WITH c AS (SELECT event_id AS click_id, user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS cs
               FROM events WHERE event_type = 'click' AND event_id < {EVENT_CAP}),
    p AS (SELECT event_id AS purchase_id, user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ps
          FROM events WHERE event_type = 'purchase' AND event_id < {EVENT_CAP})
    SELECT p.purchase_id, c.click_id, p.user_id AS user_id,
           c.cs - p.ps AS delta_s
    FROM p JOIN c ON p.user_id = c.user_id
                 AND c.cs >= p.ps AND c.cs <= p.ps + 3600
    """,
    doc="EXT stream-stream interval join, LIVE: purchases ⋈ clicks within "
    "[purchase, purchase+1h] per user, both sides replayed as "
    "odd/even-interleaved 2-batch streams. Inner join emits each "
    "matching pair exactly once regardless of which batch each side "
    "arrived in (join state retained under the watermark); the interval "
    "condition is what lets Spark bound per-side state at scale. Oracle "
    "is the equivalent batch range join",
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "sec", "event_type"
    ).collect()  # harness boundary
    workdir = tempfile.mkdtemp(prefix="ssa_joinstream_")
    for etype, sub in (("click", "clicks"), ("purchase", "purchases")):
        _write_batches(
            [r for r in rows if r.event_type == etype],
            f"{workdir}/{sub}",
            batch_of=lambda r: [r.event_id % 2],
            fmt=lambda r: f"{r.event_id},{r.user_id},{r.sec}",
        )

    def _parse(path: str, prefix: str) -> DataFrame:
        parts = F.split("value", ",")
        return file_lines_stream(spark, path).select(
            parts[0].cast("long").alias(f"{prefix}_id"),
            parts[1].cast("long").alias(f"{prefix}_user"),
            F.timestamp_seconds(parts[2].cast("long")).alias(f"{prefix}_ts"),
        )

    clicks = _parse(f"{workdir}/clicks", "click").withWatermark(
        "click_ts", "36500 days"
    )
    purchases = _parse(f"{workdir}/purchases", "purchase").withWatermark(
        "purchase_ts", "36500 days"
    )
    joined = purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts"))
        & (F.col("click_ts") <= F.col("purchase_ts") + F.expr("interval 1 hour")),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        F.col("purchase_user").alias("user_id"),
        (
            F.unix_timestamp("click_ts") - F.unix_timestamp("purchase_ts")
        ).cast("long").alias("delta_s"),
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(joined, name, spark, "append", workdir=workdir)
    return spark.table(name)


@register(
    "streaming_enrich_dim",
    oracle=f"""
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(e.value) AS BIGINT)) AS BIGINT) AS value_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_id < {EVENT_CAP}
    GROUP BY 1
    """,
    doc="J6 as a LIVE stream-static join: the reference repairs blank "
    "names at the sink with a per-row Postgres lookup "
    "(reference spark/SparkStreamingService.java:264-268); the Spark-first "
    "form is an in-pipeline broadcast join of the streamed events "
    "against the static customer dimension — stateless (no state "
    "store), re-broadcast per micro-batch, exactly-once per input row "
    "in append mode. The batch oracle is the same join+rollup; counts "
    "and sums must match the 2-batch odd/even replay exactly",
)
def q_streaming_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_analyzer_spark.sources.tables import load_table

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select("event_id", "user_id", "value").collect()  # harness boundary
    # the repr→cast(string as double) round-trip below is exact for every
    # FINITE double, but repr(nan)/repr(inf) produce 'nan'/'inf' which
    # Spark's string cast turns into NULL — silently diverging from the
    # oracle's floor(e.value) over the original column. Assert finiteness
    # at the harness boundary so a data regen with non-finite values
    # fails loudly here instead of as a hash mismatch.
    assert all(
        r.value is not None and math.isfinite(r.value) for r in rows
    ), "streaming_enrich_dim harness assumes finite event values"
    workdir = tempfile.mkdtemp(prefix="ssa_enrichstream_")
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.event_id % 2],
        fmt=lambda r: f"{r.event_id},{r.user_id},{r.value!r}",
    )
    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        parts[0].cast("long").alias("event_id"),
        parts[1].cast("long").alias("user_id"),
        parts[2].cast("double").alias("val"),
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = parsed.join(F.broadcast(dim), "user_id").select(
        "event_id", F.col("c_mktsegment").alias("mktsegment"), "val"
    )
    name = f"enr_{uuid.uuid4().hex[:8]}"
    _run_to_memory(enriched, name, spark, "append", workdir=workdir)
    return spark.table(name).groupBy("mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("cast(floor(val) as bigint)")).alias("value_sum"),
    )


# ------------------------------------------------- round-4 additions


@register(
    "streaming_complete_mode_totals",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events WHERE event_id < {EVENT_CAP}
    GROUP BY event_type
    """,
    doc="EXT COMPLETE output mode, LIVE: the third and last of Spark's "
    "streaming output modes gets its oracle row (update mode: "
    "streaming_snapshot_stats; append: streaming_session_flush). An "
    "unwatermarked global aggregation over a 3-batch replay emits the "
    "FULL result table every batch and the memory sink REPLACES its "
    "contents; the final table must therefore equal the batch GROUP BY "
    "over everything — which is precisely complete mode's contract and "
    "would catch a sink that appends instead of truncates. Complete "
    "mode only works because the result is BOUNDED (|event types| "
    "rows) — the state is the result table itself; at 100 TB the same "
    "topology holds as long as the key space stays dashboard-sized",
)
def q_streaming_complete_mode_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select("event_id", "user_id", "event_type").collect()  # harness boundary
    workdir = tempfile.mkdtemp(prefix="ssa_completestream_")
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.event_id % 3],
        fmt=lambda r: f"{r.event_id},{r.user_id},{r.event_type}",
    )
    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        parts[1].cast("long").alias("user_id"),
        parts[2].alias("event_type"),
    )
    # (countDistinct is unsupported in streaming aggregation — Spark
    # raises; min/max/count are the complete-mode-safe running aggregates)
    agg = parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("user_id").cast("long").alias("min_user"),
        F.max("user_id").cast("long").alias("max_user"),
    )
    name = f"cmp_{uuid.uuid4().hex[:8]}"
    _run_to_memory(agg, name, spark, "complete", workdir=workdir)
    return spark.table(name)


@register(
    "streaming_left_outer_join",
    oracle=f"""
    WITH c AS (SELECT event_id AS click_id, user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS cs
               FROM events WHERE event_type = 'click' AND event_id < {EVENT_CAP}),
    p AS (SELECT event_id AS purchase_id, user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ps
          FROM events WHERE event_type = 'purchase' AND event_id < {EVENT_CAP})
    SELECT p.purchase_id, c.click_id, p.user_id AS user_id,
           c.cs - p.ps AS delta_s
    FROM p LEFT JOIN c ON p.user_id = c.user_id
                      AND c.cs >= p.ps AND c.cs <= p.ps + 3600
    """,
    doc="EXT stream-stream LEFT OUTER interval join, LIVE: the hard half "
    "of streaming joins — an unmatched purchase may only emit its "
    "null-extended row once the watermark proves no matching click can "
    "still arrive (state expiry drives OUTPUT, not just cleanup). Two "
    "far-future sentinel batches on BOTH streams push the watermark past "
    "every real purchase's join window and trigger the application "
    "micro-batch (watermark from batch N applies in N+1), so every "
    "unmatched purchase emits EXACTLY one null row deterministically; "
    "span-sized delay keeps interleaved replay rows from being "
    "late-dropped. Oracle is the equivalent batch LEFT range join",
)
def q_streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "sec", "event_type"
    ).collect()  # harness boundary
    max_sec = max(r.sec for r in rows)
    delay_s = 36_500 * 86_400
    sent0 = max_sec + delay_s + 2 * 86_400
    workdir = tempfile.mkdtemp(prefix="ssa_lojstream_")
    for etype, sub in (("click", "clicks"), ("purchase", "purchases")):
        _write_batches(
            [r for r in rows if r.event_type == etype],
            f"{workdir}/{sub}",
            batch_of=lambda r: [r.event_id % 2],
            fmt=lambda r: f"{r.event_id},{r.user_id},{r.sec}",
        )
        for i, s in ((2, sent0), (3, sent0 + 3600)):
            with open(f"{workdir}/{sub}/{i:03d}.txt", "w") as f:
                f.write(f"-1,-1,{s}\n")
            _stamp_batch_file(f"{workdir}/{sub}/{i:03d}.txt", i)

    def _parse(path: str, prefix: str) -> DataFrame:
        parts = F.split("value", ",")
        return file_lines_stream(spark, path).select(
            parts[0].cast("long").alias(f"{prefix}_id"),
            parts[1].cast("long").alias(f"{prefix}_user"),
            F.timestamp_seconds(parts[2].cast("long")).alias(f"{prefix}_ts"),
        )

    clicks = _parse(f"{workdir}/clicks", "click").withWatermark(
        "click_ts", f"{delay_s} seconds"
    )
    purchases = _parse(f"{workdir}/purchases", "purchase").withWatermark(
        "purchase_ts", f"{delay_s} seconds"
    )
    joined = purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts"))
        & (F.col("click_ts") <= F.col("purchase_ts") + F.expr("interval 1 hour")),
        "left_outer",
    ).select(
        "purchase_id",
        "click_id",
        F.col("purchase_user").alias("user_id"),
        (
            F.unix_timestamp("click_ts") - F.unix_timestamp("purchase_ts")
        ).cast("long").alias("delta_s"),
    )
    name = f"loj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(joined, name, spark, "append", workdir=workdir)
    # sentinel exclusion on the SINK table, never in the streaming plan —
    # an in-pipeline filter would be pushed below EventTimeWatermark and
    # starve the watermark (see streaming_join_then_window's doc)
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "streaming_full_outer_join",
    oracle=f"""
    WITH c AS (SELECT event_id AS click_id, user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS cs
               FROM events WHERE event_type = 'click' AND event_id < {EVENT_CAP}),
    p AS (SELECT event_id AS purchase_id, user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ps
          FROM events WHERE event_type = 'purchase' AND event_id < {EVENT_CAP})
    SELECT p.purchase_id, c.click_id,
           COALESCE(p.user_id, c.user_id) AS user_id,
           c.cs - p.ps AS delta_s
    FROM p FULL JOIN c ON p.user_id = c.user_id
                      AND c.cs >= p.ps AND c.cs <= p.ps + 3600
    """,
    doc="EXT stream-stream FULL OUTER interval join, LIVE (r8, verdict "
    "task 4 — completes the join-mode matrix beside "
    "streaming_interval_join/streaming_left_outer_join): BOTH "
    "null-extension directions are state-expiry-driven — an unmatched "
    "purchase emits (purchase, null) and an unmatched click emits "
    "(null, click), each only once the watermark proves the other "
    "side's matching window can no longer fill (Spark supports this "
    "mode since 3.1; both sides keep state, both sides' eviction "
    "drives output). Far-future sentinel batches on BOTH streams push "
    "the watermark past every real row's join window so every "
    "null-extension fires deterministically; sentinels flow through "
    "the plan (a pre-watermark filter would starve it — see "
    "streaming_join_then_window) and are excluded at the SINK via the "
    "coalesced user key. Oracle is the equivalent batch FULL range "
    "join; a join that emits a null row for a MATCHED key, drops an "
    "unmatched click (the direction left_outer doesn't test), or "
    "double-emits on expiry flips the row red",
)
def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "sec", "event_type"
    ).collect()  # harness boundary
    max_sec = max(r.sec for r in rows)
    delay_s = 36_500 * 86_400
    sent0 = max_sec + delay_s + 2 * 86_400
    workdir = tempfile.mkdtemp(prefix="ssa_fojstream_")
    for etype, sub in (("click", "clicks"), ("purchase", "purchases")):
        _write_batches(
            [r for r in rows if r.event_type == etype],
            f"{workdir}/{sub}",
            batch_of=lambda r: [r.event_id % 2],
            fmt=lambda r: f"{r.event_id},{r.user_id},{r.sec}",
        )
        for i, s in ((2, sent0), (3, sent0 + 3600)):
            with open(f"{workdir}/{sub}/{i:03d}.txt", "w") as f:
                f.write(f"-1,-1,{s}\n")
            _stamp_batch_file(f"{workdir}/{sub}/{i:03d}.txt", i)

    def _parse(path: str, prefix: str) -> DataFrame:
        parts = F.split("value", ",")
        return file_lines_stream(spark, path).select(
            parts[0].cast("long").alias(f"{prefix}_id"),
            parts[1].cast("long").alias(f"{prefix}_user"),
            F.timestamp_seconds(parts[2].cast("long")).alias(f"{prefix}_ts"),
        )

    clicks = _parse(f"{workdir}/clicks", "click").withWatermark(
        "click_ts", f"{delay_s} seconds"
    )
    purchases = _parse(f"{workdir}/purchases", "purchase").withWatermark(
        "purchase_ts", f"{delay_s} seconds"
    )
    joined = purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts"))
        & (F.col("click_ts") <= F.col("purchase_ts") + F.expr("interval 1 hour")),
        "full_outer",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce("purchase_user", "click_user").alias("user_id"),
        (
            F.unix_timestamp("click_ts") - F.unix_timestamp("purchase_ts")
        ).cast("long").alias("delta_s"),
    )
    name = f"foj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(joined, name, spark, "append", workdir=workdir)
    # sentinel exclusion on the SINK table, never in the streaming plan
    # (watermark starvation — see above). The sentinel purchases/clicks
    # match EACH OTHER (same -1 user, in-window sentinel times), so the
    # coalesced key is -1 for every sentinel-derived row, matched or not
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "streaming_semi_join",
    oracle=f"""
    WITH c AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS cs
               FROM events WHERE event_type = 'click' AND event_id < {EVENT_CAP}),
    p AS (SELECT event_id AS purchase_id, user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ps
          FROM events WHERE event_type = 'purchase' AND event_id < {EVENT_CAP})
    SELECT p.purchase_id, p.user_id, p.ps AS purchase_s
    FROM p WHERE EXISTS (
      SELECT 1 FROM c WHERE c.user_id = p.user_id
                        AND c.cs >= p.ps AND c.cs <= p.ps + 86400)
    """,
    doc="EXT stream-stream LEFT SEMI interval join, LIVE (r11 — the last "
    "join mode beside inner/left_outer/full_outer): a purchase emits "
    "EXACTLY ONCE if at least one click by the same user lands within "
    "the following 24 h (wide enough that the corpus has multi-click "
    "purchases — at 1 h it has none and once-only would be vacuous), "
    "however many clicks do — the semi join's "
    "dedup-on-match is state-backed (a second matching click must NOT "
    "re-emit the purchase; Spark supports the mode since 3.1). Clicks "
    "arrive split across micro-batches, so cross-batch matches and the "
    "once-only contract are both exercised; far-future sentinels on "
    "both streams drive state cleanup, flow through the plan "
    "(pre-watermark filters starve it — see streaming_join_then_window) "
    "and are excluded at the SINK. Oracle is the batch EXISTS "
    "semi-join; a double-emit on a multi-click purchase or a dropped "
    "cross-batch match flips the row red",
)
def q_streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "sec", "event_type"
    ).collect()  # harness boundary
    max_sec = max(r.sec for r in rows)
    delay_s = 36_500 * 86_400
    sent0 = max_sec + delay_s + 2 * 86_400
    workdir = tempfile.mkdtemp(prefix="ssa_semistream_")
    for etype, sub in (("click", "clicks"), ("purchase", "purchases")):
        _write_batches(
            [r for r in rows if r.event_type == etype],
            f"{workdir}/{sub}",
            batch_of=lambda r: [r.event_id % 2],
            fmt=lambda r: f"{r.event_id},{r.user_id},{r.sec}",
        )
        for i, s in ((2, sent0), (3, sent0 + 3600)):
            with open(f"{workdir}/{sub}/{i:03d}.txt", "w") as f:
                f.write(f"-1,-1,{s}\n")
            _stamp_batch_file(f"{workdir}/{sub}/{i:03d}.txt", i)

    def _parse(path: str, prefix: str) -> DataFrame:
        parts = F.split("value", ",")
        return file_lines_stream(spark, path).select(
            parts[0].cast("long").alias(f"{prefix}_id"),
            parts[1].cast("long").alias(f"{prefix}_user"),
            F.timestamp_seconds(parts[2].cast("long")).alias(f"{prefix}_ts"),
        )

    clicks = _parse(f"{workdir}/clicks", "click").withWatermark(
        "click_ts", f"{delay_s} seconds"
    )
    purchases = _parse(f"{workdir}/purchases", "purchase").withWatermark(
        "purchase_ts", f"{delay_s} seconds"
    )
    joined = purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts"))
        & (F.col("click_ts") <= F.col("purchase_ts") + F.expr("interval 24 hours")),
        "left_semi",
    ).select(
        "purchase_id",
        F.col("purchase_user").alias("user_id"),
        F.unix_timestamp("purchase_ts").cast("long").alias("purchase_s"),
    )
    name = f"smj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(joined, name, spark, "append", workdir=workdir)
    # sentinel purchases match sentinel clicks (same -1 user, in-window),
    # so each sentinel-derived emission carries user_id -1 — sink filter
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "streaming_join_then_window",
    oracle=f"""
    WITH c AS (SELECT event_id AS click_id, user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS cs
               FROM events WHERE event_type = 'click' AND event_id < {EVENT_CAP}),
    p AS (SELECT event_id AS purchase_id, user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ps
          FROM events WHERE event_type = 'purchase' AND event_id < {EVENT_CAP}),
    j AS (SELECT p.purchase_id, p.ps, c.cs - p.ps AS delta_s
          FROM p JOIN c ON p.user_id = c.user_id
                       AND c.cs >= p.ps AND c.cs <= p.ps + 3600)
    SELECT (ps // 86400) * 86400 AS day_start_s,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(delta_s) AS BIGINT) AS sum_delta_s
    FROM j GROUP BY 1
    """,
    doc="EXT CHAINED stateful operators, LIVE: a stream-stream interval "
    "join feeding a tumbling-day windowed aggregation in ONE streaming "
    "query — two state stores in a single pipeline (the multi-stateful "
    "topology Spark only made correct in 3.5+ via separate late-event "
    "and eviction watermarks; the join's interval bound delays the "
    "window operator's eviction watermark). Dual-stream sentinels push "
    "the final watermark past every real day window so all of them "
    "close and emit in append mode. Gotcha pinned here: a sentinel "
    "filter placed ANYWHERE in the streaming pipeline gets pushed below "
    "the EventTimeWatermark node by the optimizer and STARVES the "
    "watermark (the sentinels are dropped before their event times are "
    "observed — measured: watermark stuck at epoch 0, zero rows "
    "emitted); sentinels must flow through the plan, and they "
    "self-exclude because their own far-future day window can never "
    "close. Oracle = batch join + GROUP BY day",
)
def q_streaming_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "sec", "event_type"
    ).collect()  # harness boundary
    max_sec = max(r.sec for r in rows)
    delay_s = 36_500 * 86_400
    sent0 = max_sec + delay_s + 5 * 86_400
    workdir = tempfile.mkdtemp(prefix="ssa_jwstream_")
    for etype, sub in (("click", "clicks"), ("purchase", "purchases")):
        _write_batches(
            [r for r in rows if r.event_type == etype],
            f"{workdir}/{sub}",
            batch_of=lambda r: [r.event_id % 2],
            fmt=lambda r: f"{r.event_id},{r.user_id},{r.sec}",
        )
        for i, s in ((2, sent0), (3, sent0 + 3600)):
            with open(f"{workdir}/{sub}/{i:03d}.txt", "w") as f:
                f.write(f"-1,-1,{s}\n")
            _stamp_batch_file(f"{workdir}/{sub}/{i:03d}.txt", i)

    def _parse(path: str, prefix: str) -> DataFrame:
        parts = F.split("value", ",")
        return file_lines_stream(spark, path).select(
            parts[0].cast("long").alias(f"{prefix}_id"),
            parts[1].cast("long").alias(f"{prefix}_user"),
            F.timestamp_seconds(parts[2].cast("long")).alias(f"{prefix}_ts"),
        )

    clicks = _parse(f"{workdir}/clicks", "click").withWatermark(
        "click_ts", f"{delay_s} seconds"
    )
    purchases = _parse(f"{workdir}/purchases", "purchase").withWatermark(
        "purchase_ts", f"{delay_s} seconds"
    )
    joined = purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts"))
        & (F.col("click_ts") <= F.col("purchase_ts") + F.expr("interval 1 hour")),
        "inner",
    )
    daily = (
        joined.select(
            "purchase_ts",
            (
                F.unix_timestamp("click_ts") - F.unix_timestamp("purchase_ts")
            ).cast("long").alias("delta_s"),
        )
        .groupBy(F.window("purchase_ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("delta_s").alias("sum_delta_s"),
        )
    )
    name = f"jw_{uuid.uuid4().hex[:8]}"
    _run_to_memory(daily, name, spark, "append", workdir=workdir)
    # sentinel self-exclusion: the sentinel pair's far-future day window
    # can never close under the final watermark, so it is never emitted;
    # the bound filter below is pure belt-and-suspenders on the SINK
    # table (an in-pipeline filter would starve the watermark — above)
    return (
        spark.table(name)
        .select(
            F.unix_timestamp("w.start").cast("long").alias("day_start_s"),
            "n_pairs",
            "sum_delta_s",
        )
        .filter(F.col("day_start_s") <= max_sec)
    )


@register(
    "streaming_media_ingest",
    oracle="""
    SELECT doc_id,
           CAST(3 + doc_id % 5 AS BIGINT) AS width,
           CAST(2 + doc_id % 4 AS BIGINT) AS height,
           ROUND(doc_id % 200 + (2 + doc_id % 4 - 1) / 2.0, 6) AS mean_pixel,
           CAST(2 + doc_id % 4 AS BIGINT) AS n_filters_used
    FROM documents WHERE doc_id % 23 = 5
    """,
    doc="EXT live streaming media ingestion: real .png FILES discovered "
    "incrementally by a binaryFile file-stream source (explicit "
    "path/length/content schema — streaming file sources cannot infer "
    "— pathGlobFilter in the listing, maxFilesPerTrigger forcing "
    "MULTIPLE micro-batches so discovery is genuinely incremental), "
    "decoded in-stream by the round-6 PNG codec over Arrow mapInPandas "
    "(stateless, so it rides micro-batches unchanged), appended to the "
    "sink. The continuous twin of source_binaryfile_ingest — the shape "
    "of a media corpus landing in object storage while training-data "
    "prep tails it; closed-form decode witnesses prove every file "
    "survived discovery + decode byte-exact",
)
def q_streaming_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_analyzer_spark.operators import multimodal as mm
    from spark_stream_analyzer_spark.sources.tables import load_table

    ids = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 23 == 5)
        .select("doc_id")
        .collect()  # ids only (~4% of docs) — fixture harness boundary
    ]
    workdir = tempfile.mkdtemp(prefix="ssa_mediastream_")
    import os

    os.makedirs(f"{workdir}/in", exist_ok=True)
    for doc_id in ids:
        w, h, v = 3 + doc_id % 5, 2 + doc_id % 4, doc_id % 200
        pixels = [[(v + r) & 0xFF] * (w * 3) for r in range(h)]
        with open(f"{workdir}/in/doc_{doc_id}.png", "wb") as f:
            f.write(mm.encode_png(pixels, w, h))

    binf = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.png")
        # at least two discovery micro-batches at every SF
        .option("maxFilesPerTrigger", max(1, len(ids) // 2))
        .load(f"{workdir}/in")
    )
    parsed = binf.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.png$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"),
    )
    stats = mm.png_decode_stats(parsed).select(
        "doc_id", "width", "height", "mean_pixel", "n_filters_used"
    )
    name = f"media_{uuid.uuid4().hex[:8]}"
    _run_to_memory(stats, name, spark, "append", workdir=workdir)
    return spark.table(name)


def _write_late_batches(spark: SparkSession, sf_dir: str) -> str:
    """Shared fixture for the watermark-drop rows: three mtime-ordered
    replay files — batch 0 (days 0+3, advancing the watermark far past
    every day-0 window), batch 1 (on-time day-6 rows, interposed so the
    one-batch-behind late filter is deterministic), batch 2 (ONLY the
    planted day-0 stragglers, event_id % 3 == 0 and % 5 == 0)."""
    import os

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select("event_id", "sec", "event_type").collect()  # harness boundary
    workdir = tempfile.mkdtemp(prefix="ssa_latestream_")
    os.makedirs(f"{workdir}/in")

    def ts_of(r):
        # synthetic days 0/3/6, every row in its day's last hour: batch
        # 0's max event time (day 3) minus the 1h delay lands multiple
        # window-durations past every day-0 window — no boundary cases
        day = (r.event_id % 3) * 3
        return day * 86400 + 82800 + (r.event_id * 7919) % 3600

    def batch_of(r):
        idx = r.event_id % 3
        if idx == 0 and r.event_id % 5 == 0:
            return 2  # straggler: own batch, TWO batches after the advance
        return 0 if idx in (0, 1) else 1

    batches: dict[int, list[str]] = {0: [], 1: [], 2: []}
    for r in rows:
        batches[batch_of(r)].append(f"{ts_of(r)},{r.event_id % 3},{r.event_type}")
    for idx, lines in sorted(batches.items()):
        path = f"{workdir}/in/{idx:03d}.txt"
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        _stamp_batch_file(path, idx)
    return workdir



@register(
    "streaming_late_data_drop",
    oracle=f"""
    WITH {_O_BASE}
    SELECT (event_id % 3) * 3 * 86400 AS win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM base
    WHERE event_id < {EVENT_CAP}
      AND NOT (event_id % 3 = 0 AND event_id % 5 = 0)
    GROUP BY 1, 2
    """,
    doc="EXT watermark LATE-DATA DROP, LIVE — the semantics twin of "
    "streaming_windowed_counts (which proves merge-never-drop under a "
    "span-sized delay): a 1-hour watermark over day windows three days "
    "apart (each row in its day's last hour), batch 0 advances the "
    "watermark far past every day-0 window, batch 1 interposes on-time "
    "day-6 rows, and batch 2 replays ONLY planted day-0 stragglers "
    "(event_id % 5 = 0) — the state store must refuse them. The "
    "stragglers get their own TRAILING batch because Spark's late-row "
    "filter uses the watermark as of the PREVIOUS batch's start (one "
    "batch behind the eviction watermark — measured in this round's "
    "probes: a straggler sharing a batch with the rows one batch after "
    "those that advanced the watermark is still ADMITTED); the "
    "interposed batch makes the drop deterministic with ~2 days of "
    "margin under either predicate. The oracle counts every row "
    "EXCEPT the planted stragglers: admitted late rows (watermark not "
    "enforced) or dropped on-time day-0 rows (over-applied) both "
    "mismatch. Batch order pinned by mtime stamping; windows reduce "
    "by per-window max in update mode (monotone counts)",
)
def q_streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    workdir = _write_late_batches(spark, sf_dir)
    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        F.timestamp_seconds(parts[0].cast("long")).alias("ts"),
        parts[2].alias("event_type"),
    )
    counted = (
        parsed.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_part"))
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        counted.select(
            F.unix_timestamp("w.start").cast("long").alias("win_start"),
            "event_type",
            "n_part",
        ),
        name,
        spark,
        "update",
        workdir=workdir,
    )
    # update mode re-emits a window each time it grows: monotone counts
    # reduce by max, independent of batch interleaving
    return (
        spark.table(name)
        .groupBy("win_start", "event_type")
        .agg(F.max("n_part").cast("long").alias("n"))
    )


@register(
    "streaming_python_datasource_tail",
    oracle=f"""
    WITH {_O_BASE}
    SELECT event_id % 8 AS file_idx,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM base WHERE event_id < {EVENT_CAP}
    GROUP BY 1
    """,
    doc="EXT custom Python Data Source STREAM reader (Spark 4 "
    "DataSourceStreamReader), LIVE: the wirelog source's offset = "
    "count of files in sorted-name order, so each micro-batch reads "
    "exactly the files added since the last committed offset — "
    "file-tail semantics through the user-defined offset API (the "
    "connector-gap answer for incremental bespoke feeds). The harness "
    "writes files 0-3, drains the stream, then writes files 4-7 and "
    "drains again: the second wave is discovered INCREMENTALLY by a "
    "separate micro-batch (latestOffset moved 4 -> 8), and per-file "
    "counts must cover both waves exactly once — a reader that "
    "re-reads old offsets double-counts, one that misses the offset "
    "advance drops the wave",
)
def q_streaming_python_datasource_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from spark_stream_analyzer_spark.sources.wire_datasource import register_wirelog

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select(
        (F.col("event_id") % 8).alias("file_idx"),
        F.concat_ws(
            ",",
            F.concat(F.lit("e"), F.col("event_id")),
            F.col("sec"),
            F.col("event_type"),
        ).alias("value"),
    ).collect()  # bounded replay fixture — harness boundary
    workdir = tempfile.mkdtemp(prefix="ssa_pydstail_")
    os.makedirs(f"{workdir}/in")
    by_file: dict[int, list[str]] = {}
    for r in rows:
        by_file.setdefault(r.file_idx, []).append(r.value)

    def write_wave(indices):
        for idx in indices:
            with open(f"{workdir}/in/{idx:03d}.txt", "w") as f:
                f.write("\n".join(by_file.get(idx, [])) + "\n")

    register_wirelog(spark)
    write_wave(range(0, 4))
    stream = spark.readStream.format("wirelog").options(path=f"{workdir}/in").load()
    counted = stream.select(
        F.regexp_extract("src_file", r"^(\d+)\.txt$", 1)
        .cast("long")
        .alias("file_idx")
    )
    name = f"pyds_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            counted.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()  # wave 0: files 0-3
            write_wave(range(4, 8))
            q.processAllAvailable()  # wave 1: discovered incrementally
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
    return spark.table(name).groupBy("file_idx").agg(
        F.count("*").alias("n_lines")
    )


@register(
    "streaming_python_datasource_sink",
    oracle=f"""
    WITH {_O_BASE},
    lines AS (
      SELECT 'e' || CAST(event_id AS VARCHAR) || ','
                 || CAST(sec AS VARCHAR) || ',' || event_type AS value
      FROM base WHERE event_id < {EVENT_CAP}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({{CK}}) AS BIGINT) AS checksum,
           1::INT AS batches_ok,
           1::INT AS idempotent_ok
    FROM lines
    """.replace("{CK}", TH.duck_hash60("value") + " % 1000000007"),
    doc="EXT custom Python Data Source STREAM WRITER "
    "(DataSourceStreamWriter), LIVE (r8) — completes the connector "
    "matrix (batch read r5, stream read r6, batch write r8): wire "
    "lines replayed as a 2-micro-batch stream are written through the "
    "wirelog SINK's per-batch two-phase commit (tasks stage uuid "
    "files, driver publishes an fsync'd manifest atomically per "
    "batch, manifest records committed batch ids), then read back "
    "through the wirelog SOURCE and checksummed against the parquet "
    "truth. batches_ok pins that ≥2 distinct micro-batches committed "
    "(the per-batch protocol actually cycled); idempotent_ok REPLAYS "
    "batch 0's commit with a planted staged file and pins that the "
    "snapshot is unchanged and the duplicate's staged file was "
    "dropped — the exactly-once restart contract (Structured "
    "Streaming re-commits the last batch after a crash between sink "
    "commit and offset commit). Python-API twin of the reference's "
    "idempotent JDBC batch sink (streaming/sinks.py:84)",
)
def q_streaming_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from spark_stream_analyzer_spark.sources.wire_datasource import (
        MANIFEST,
        WireLogStreamWriter,
        _WireCommit,
        register_wirelog,
    )

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select(
        "event_id",
        F.concat_ws(
            ",",
            F.concat(F.lit("e"), F.col("event_id")),
            F.col("sec"),
            F.col("event_type"),
        ).alias("value"),
    ).collect()  # bounded replay fixture — harness boundary
    workdir = tempfile.mkdtemp(prefix="ssa_pydsink_")
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.event_id % 2],
        fmt=lambda r: r.value,
    )
    register_wirelog(spark)
    sink = f"{workdir}/out"
    os.makedirs(sink)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            file_lines_stream(spark, f"{workdir}/in", max_files_per_trigger=1)
            .writeStream.format("wirelog")
            .option("path", sink)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        with open(os.path.join(sink, MANIFEST)) as f:
            state = json.load(f)
        batches_ok = int(len(state.get("batches", {})) >= 2)
        snapshot_before = sorted(state["files"])
        # exactly-once restart contract: replay batch 0's commit with a
        # planted staged attempt — it must be dropped, not published
        dup = WireLogStreamWriter({"path": sink})
        with open(os.path.join(sink, "_staging", "part-replay.txt"), "w") as f:
            f.write("DUPLICATE ROW\n")
        dup.commit([_WireCommit("part-replay.txt", 1)], 0)
        with open(os.path.join(sink, MANIFEST)) as f:
            after = json.load(f)
        idempotent_ok = int(
            sorted(after["files"]) == snapshot_before
            and not os.path.exists(
                os.path.join(sink, "_staging", "part-replay.txt")
            )
        )
        back = spark.read.format("wirelog").options(path=sink).load()
        agg = back.agg(
            F.count("*").alias("n_lines"),
            F.sum(
                F.expr(f"{TH.spark_hash60('value')} % 1000000007")
            ).alias("checksum"),
        )
        row = agg.collect()[0]  # one row
        return spark.createDataFrame(
            [(row.n_lines, row.checksum, batches_ok, idempotent_ok)],
            "n_lines long, checksum long, batches_ok int, idempotent_ok int",
        )
    finally:
        import shutil

        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(workdir, ignore_errors=True)


@register(
    "streaming_cdc_upsert_publish",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey AS k, 1 AS seq, 'U' AS op, o_custkey AS cust,
             o_orderstatus AS status, o_totalprice + 100.0 AS price
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'D', NULL, NULL, NULL
      FROM orders WHERE o_orderkey % 11 = 3
      UNION ALL
      SELECT o_orderkey + 100000000000, 1, 'I', o_custkey, 'N', o_totalprice
      FROM orders WHERE o_orderkey % 13 = 5
    ),
    latest AS (
      SELECT k, op, cust, status, price
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) rn
            FROM changes)
      WHERE rn = 1
    ),
    merged AS (
      SELECT COALESCE(c.status, b.o_orderstatus) AS status,
             COALESCE(c.price, b.o_totalprice) AS price,
             c.op AS op
      FROM orders b FULL OUTER JOIN latest c ON b.o_orderkey = c.k
    )
    SELECT status AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND({M}, 6) AS price_msum6,
           1::INT AS versions_ok,
           1::INT AS replay_ok
    FROM merged WHERE op IS NULL OR op <> 'D'
    GROUP BY status
    """.replace(
        "{M}",
        "(CAST(SUM(CAST(FLOOR((price) * 1000000 + 0.5) AS BIGINT)"
        " // 1000000) AS DOUBLE)"
        " + CAST(SUM(CAST(FLOOR((price) * 1000000 + 0.5) AS BIGINT)"
        " % 1000000) AS DOUBLE) / 1000000.0)",
    ),
    doc="EXT streaming CDC ingest into a transactional table, LIVE (r8) "
    "— the streaming-lakehouse shape that composes three of the "
    "engine's capabilities: a live change stream (2 micro-batches, "
    "keys split by parity so batches are key-disjoint), foreachBatch "
    "MERGE (latest-per-key compaction over the DELTA + one full-outer "
    "apply against the COMMITTED snapshot), and the manifest-swap "
    "atomic publish per batch, versioned by batch id. Exactly-once is "
    "the version guard: a replayed batch (restart between sink commit "
    "and offset commit) sees committed_version >= batch_id+1 and "
    "SKIPS — pinned live by re-invoking the batch function with batch "
    "0's frame after the stream ends (replay_ok requires the final "
    "table byte-identical). versions_ok pins that exactly 2 versions "
    "committed on top of the base. The final committed table must "
    "equal the batch CDC oracle — sequential per-batch merges compose "
    "to the same result because the batch split is key-disjoint; a "
    "merge against a stale (non-committed) base, a double-applied "
    "batch, or a lost delete all flip the per-status aggregates",
)
def q_streaming_cdc_upsert_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from spark_stream_analyzer_spark.plans.q_tpch import _apply_latest_changes
    from spark_stream_analyzer_spark.sources.tables import load_table
    from spark_stream_analyzer_spark.sources.txn_publish import (
        committed_version,
        publish,
        read_committed,
        snapshot_dir,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    # the same deterministic change log as the batch CDC rows, rendered
    # to wire lines: op,seq,key,cust,status,price ('' = NULL)
    upd = o.filter(k % 7 == 0).select(
        F.lit("U").alias("op"), F.lit(1).alias("seq"), k.alias("k"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice") + F.lit(100.0)).alias("price"),
    )
    dele = o.filter(k % 11 == 3).select(
        F.lit("D").alias("op"), F.lit(2).alias("seq"), k.alias("k"),
        F.lit(None).cast("long").alias("cust"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
    )
    ins = o.filter(k % 13 == 5).select(
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
        (k + F.lit(100_000_000_000)).alias("k"),
        F.col("o_custkey").alias("cust"),
        F.lit("N").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    ch_rows = upd.unionByName(dele).unionByName(ins).collect()  # harness boundary

    def _fmt(r) -> str:
        price = "" if r.price is None else repr(r.price)
        cust = "" if r.cust is None else str(r.cust)
        status = r.status or ""
        return f"{r.op},{r.seq},{r.k},{cust},{status},{price}"

    workdir = tempfile.mkdtemp(prefix="ssa_cdcstream_")
    _write_batches(
        ch_rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.k % 2],  # key-disjoint batches
        fmt=_fmt,
    )
    root = f"{workdir}/table"
    os.makedirs(root)
    d0 = snapshot_dir(root)
    # version 0 stored in the table's (merged) schema so every batch's
    # read-back is uniform
    o.select(
        "o_orderkey",
        F.col("o_custkey").alias("cust"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    ).write.parquet(d0)
    publish(root, d0, 0)  # base snapshot = version 0

    def _parse_changes(df: DataFrame) -> DataFrame:
        p = F.split("value", ",")
        return df.select(
            p[0].alias("op"),
            p[1].cast("long").alias("seq"),
            p[2].cast("long").alias("k"),
            F.expr("nullif(split(value, ',')[3], '')").cast("long").alias("cust"),
            F.expr("nullif(split(value, ',')[4], '')").alias("status"),
            F.expr("nullif(split(value, ',')[5], '')").cast("double").alias("price"),
        )

    def _apply_batch(bdf: DataFrame, batch_id: int) -> None:
        # exactly-once guard: a replayed batch finds its version (or a
        # later one) already committed and must be a no-op
        if (committed_version(root) or 0) >= batch_id + 1:
            return
        base = read_committed(spark, root).select(
            "o_orderkey",
            F.col("cust").alias("o_custkey"),
            F.col("status").alias("o_orderstatus"),
            F.col("price").alias("o_totalprice"),
        )
        merged = _apply_latest_changes(
            base, _parse_changes(bdf).select("k", "seq", "op", "cust", "status", "price")
        )
        d = snapshot_dir(root)
        merged.write.parquet(d)
        publish(root, d, batch_id + 1)

    name_ckpt = f"{workdir}/ckpt"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            file_lines_stream(spark, f"{workdir}/in", max_files_per_trigger=1)
            .writeStream.foreachBatch(_apply_batch)
            .option("checkpointLocation", name_ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        versions_ok = int(committed_version(root) == 2)

        def _table_agg():
            return sorted(
                map(
                    tuple,
                    read_committed(spark, root)
                    .groupBy("status")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.round(msum6(F.col("price")), 6).alias("m"),
                    )
                    # bounded: one row per status enum value
                    .collect(),
                )
            )

        before = _table_agg()
        # live replay of batch 0 (the restart path) — must be a no-op
        batch0 = spark.read.text(f"{workdir}/in/000.txt")
        _apply_batch(batch0, 0)
        replay_ok = int(committed_version(root) == 2 and _table_agg() == before)
        final = read_committed(spark, root).groupBy(
            F.col("status").alias("o_orderstatus")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(msum6(F.col("price")), 6).alias("price_msum6"),
            F.lit(versions_ok).cast("int").alias("versions_ok"),
            F.lit(replay_ok).cast("int").alias("replay_ok"),
        )
        rows = final.collect()  # bounded: one row per order status
        return spark.createDataFrame(rows, final.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# round-7: RocksDB state store + Trigger.AvailableNow backfill
# ---------------------------------------------------------------------------


@register(
    "streaming_rocksdb_windowed_counts",
    oracle=f"""
    WITH {_O_BASE}
    SELECT sec // 86400 * 86400 AS win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           1::INT AS rocksdb_engaged
    FROM base WHERE event_id < {EVENT_CAP}
    GROUP BY 1, 2
    """,
    doc="EXT RocksDB state store provider, LIVE (r6 verdict task 4): the "
    "same watermarked tumbling-day aggregation as "
    "streaming_windowed_counts, but with "
    "spark.sql.streaming.stateStore.providerClass pinned to "
    "RocksDBStateStoreProvider for the query's lifetime — the "
    "large-keyspace backend the 100 TB story names (SURVEY §4.1: state "
    "lives off-heap/on-disk in RocksDB instead of the JVM-heap "
    "HDFSBackedStateStore, so keyspaces far beyond executor memory "
    "stream without OOM). The emitted rocksdb_engaged bit is derived "
    "from the query's OWN progress metrics (stateOperators "
    "customMetrics carry rocksdb* counters only when the provider is "
    "actually serving state), so a silently-ignored config flips the "
    "driver row red rather than quietly testing the default store",
)
def q_streaming_rocksdb_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    lines = b.select(
        "event_id",
        F.concat_ws(",", F.col("sec"), F.col("event_type")).alias("value"),
    )
    workdir = tempfile.mkdtemp(prefix="ssa_rocksstream_")
    os.makedirs(f"{workdir}/in")
    rows = lines.collect()  # test-harness boundary only, NOT an engine path
    for parity in (0, 1):
        path = f"{workdir}/in/{parity:03d}.txt"
        with open(path, "w") as f:
            for r in rows:
                if r.event_id % 2 == parity:
                    f.write(r.value + "\n")
        _stamp_batch_file(path, parity)

    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        F.timestamp_seconds(parts[0].cast("long")).alias("ts"),
        parts[1].alias("event_type"),
    )
    name = f"rockswin_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            parsed.withWatermark("ts", "36500 days")
            .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count("*").alias("n"))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            # proof-of-engagement: RocksDB-only custom metrics in the
            # state operator's progress (absent under the default
            # HDFSBackedStateStore)
            engaged = 0
            lp = q.lastProgress or {}
            for op in lp.get("stateOperators", []):
                if any("rocksdb" in k.lower() for k in (op.get("customMetrics") or {})):
                    engaged = 1
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)  # replay files consumed

    snaps = spark.table(name)
    return snaps.groupBy(
        F.unix_timestamp(F.col("win.start")).alias("win_start"), "event_type"
    ).agg(
        F.max("n").alias("n"),
        F.lit(engaged).cast("int").alias("rocksdb_engaged"),
    )


@register(
    "streaming_availablenow_backfill",
    oracle=f"""
    WITH {_O_BASE}
    SELECT sec // 86400 * 86400 AS win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           3::INT AS n_data_batches, 1::INT AS clean_stop
    FROM base WHERE event_id < {EVENT_CAP}
    GROUP BY 1, 2
    """,
    doc="EXT Trigger.AvailableNow backfill, LIVE (r6 verdict task 5): the "
    "batch-drain reprocessing mode every production 100 TB pipeline "
    "uses for catch-up — process everything currently available, in "
    "multiple rate-limited micro-batches (maxFilesPerTrigger=1 over 3 "
    "replay files -> exactly 3 data batches, pinned via the query's own "
    "progress history), then STOP ON ITS OWN (clean_stop comes from "
    "awaitTermination returning, not from a harness stop() call). The "
    "reference runs ProcessingTime only "
    "(SparkStreamingService.java:259); AvailableNow is the missing "
    "lifecycle trigger class: same incremental plan + state machinery, "
    "bounded run. Oracle = the batch aggregation of the same files",
)
def q_streaming_availablenow_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    lines = b.select(
        "event_id",
        F.concat_ws(",", F.col("sec"), F.col("event_type")).alias("value"),
    )
    workdir = tempfile.mkdtemp(prefix="ssa_availnow_")
    os.makedirs(f"{workdir}/in")
    rows = lines.collect()  # test-harness boundary only, NOT an engine path
    for third in (0, 1, 2):
        path = f"{workdir}/in/{third:03d}.txt"
        with open(path, "w") as f:
            for r in rows:
                if r.event_id % 3 == third:
                    f.write(r.value + "\n")
        _stamp_batch_file(path, third)

    raw = file_lines_stream(spark, f"{workdir}/in")  # maxFilesPerTrigger=1
    parts = F.split("value", ",")
    parsed = raw.select(
        F.timestamp_seconds(parts[0].cast("long")).alias("ts"),
        parts[1].alias("event_type"),
    )
    name = f"avnow_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            parsed.withWatermark("ts", "36500 days")
            .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count("*").alias("n"))
            .writeStream.outputMode("update")
            .trigger(availableNow=True)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            # AvailableNow terminates by itself once the drain finishes —
            # the whole point of the trigger; generous bound, never hit
            clean_stop = int(q.awaitTermination(600))
            n_data_batches = sum(
                1 for p in q.recentProgress if p.get("numInputRows", 0) > 0
            )
        finally:
            if q.isActive:  # only on a failed/hung drain
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)  # replay files consumed

    snaps = spark.table(name)
    return snaps.groupBy(
        F.unix_timestamp(F.col("win.start")).alias("win_start"), "event_type"
    ).agg(
        F.max("n").alias("n"),
        F.lit(n_data_batches).cast("int").alias("n_data_batches"),
        F.lit(clean_stop).cast("int").alias("clean_stop"),
    )


@register(
    "streaming_checkpoint_restart",
    oracle=f"""
    WITH {_O_BASE}
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           1::INT AS resumed_without_reread
    FROM base WHERE event_id < {EVENT_CAP}
    GROUP BY 1
    """,
    doc="§2.9 checkpointed restart + exactly-once, LIVE as a driver row "
    "(previously tests-only): run 1 streams wave-1 files through an "
    "update-mode per-type count with a REAL checkpointLocation and a "
    "foreachBatch parquet appender (the reference's K2 foreachBatch "
    "sink shape, distributed write, no driver collect), then STOPS; "
    "wave-2 files land; run 2 is a NEW query object on the same "
    "checkpoint — it must restore offsets AND aggregation state: "
    "resumed_without_reread pins (from run 2's own progress metrics) "
    "that it read EXACTLY the wave-2 line count (re-reading wave 1 "
    "from offset 0 would double it, a lost state store would shrink "
    "the final counts), and the final per-type totals — max over all "
    "emitted snapshots, both runs — must equal the batch aggregation "
    "of ALL files. The reference leaves checkpointing commented out "
    "(SparkStreamingService.java:79) and its sink is not idempotent; "
    "this row is the fault-tolerant form SURVEY §2.9 commits to",
)
def q_streaming_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    lines = b.select(
        "event_id", F.concat_ws(",", F.col("sec"), F.col("event_type")).alias("value")
    )
    workdir = tempfile.mkdtemp(prefix="ssa_ckpt_")
    os.makedirs(f"{workdir}/in")
    out_dir, chk_dir = f"{workdir}/out", f"{workdir}/chk"
    rows = lines.collect()  # test-harness boundary only, NOT an engine path
    n_wave2 = 0
    for quarter in (0, 1, 2, 3):
        path = f"{workdir}/in/{quarter:03d}.txt"
        n = 0
        with open(path, "w") as f:
            for r in rows:
                if r.event_id % 4 == quarter:
                    f.write(r.value + "\n")
                    n += 1
        if quarter >= 2:
            n_wave2 += n
        _stamp_batch_file(path, quarter)
    # wave 2 is invisible to run 1: park the files outside the watched dir
    os.makedirs(f"{workdir}/wave2")
    for quarter in (2, 3):
        os.rename(
            f"{workdir}/in/{quarter:03d}.txt", f"{workdir}/wave2/{quarter:03d}.txt"
        )

    def start_run():
        raw = file_lines_stream(spark, f"{workdir}/in")
        parts = F.split("value", ",")
        parsed = raw.select(parts[1].alias("event_type"))
        counts = parsed.groupBy("event_type").agg(F.count("*").alias("n"))
        return (
            counts.writeStream.outputMode("update")
            .option("checkpointLocation", chk_dir)
            .foreachBatch(
                lambda batch_df, _id: batch_df.write.mode("append").parquet(out_dir)
            )
            .start()
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q1 = start_run()
        try:
            q1.processAllAvailable()
        finally:
            q1.stop()  # planned shutdown between waves
        for quarter in (2, 3):
            os.rename(
                f"{workdir}/wave2/{quarter:03d}.txt", f"{workdir}/in/{quarter:03d}.txt"
            )
        q2 = start_run()  # NEW query, SAME checkpoint
        try:
            q2.processAllAvailable()
            run2_input = sum(int(p.get("numInputRows", 0)) for p in q2.recentProgress)
        finally:
            q2.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # counts are monotone across snapshots (state restored + wave 2
    # folded in) → final totals = per-type max over everything appended
    final = (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.lit(int(run2_input == n_wave2)).alias("resumed_without_reread"),
        )
    )
    # materialize before the replay/checkpoint dirs go away
    rows_out = final.collect()  # bounded: one row per event type
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows_out, final.schema)


@register(
    "streaming_jdbc_sink_snapshots",
    oracle=f"""
    WITH {_O_BASE},
    agg AS (
      SELECT pid AS steam_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS kills,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS deaths,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS assists,
             ROUND(CAST(COALESCE(SUM(CASE WHEN event_type <> 'error'
                   THEN CAST(floor(value) AS BIGINT) % 100 END), 0) AS DOUBLE), 6) AS damage,
             MAX(sec) AS second, MAX(rnd) AS round
      FROM base WHERE event_id < {EVENT_CAP} GROUP BY pid
    )
    SELECT steam_id, kills, deaths, assists, damage, second, round,
           ROUND(CASE WHEN deaths = 0 THEN CAST(kills AS DOUBLE)
                      ELSE CAST(kills AS DOUBLE) / CAST(deaths AS DOUBLE) END, 6) AS kd_ratio,
           ROUND(CASE WHEN round = 0 THEN NULL
                      ELSE damage / CAST(round AS DOUBLE) END, 6) AS damage_per_round,
           1::INT AS no_dup_snapshots
    FROM agg
    """,
    doc="K2/K3 JDBC snapshot sink, LIVE as a driver row (previously "
    "tests-only): the reference's Postgres time-series sink "
    "(SparkStreamingService.java:254-295 — driver-serial JPA inserts, "
    "at-least-once) rebuilt as a DISTRIBUTED, IDEMPOTENT foreachBatch "
    "writer against embedded Derby (delete-batch-then-insert keyed on "
    "batch_id, write.jdbc append, no driver collect), fed by the NATIVE "
    "update-mode running aggregation (A2 option (a) — Spark-managed "
    "state, the scale path) over the parsed kill∪damage union, with a "
    "checkpointed mid-stream RESTART (run 2 is a new query on the same "
    "checkpoint, discovering the second replay file per source). The "
    "result is read BACK through spark.read.jdbc and reduced to final "
    "state (counters are monotone -> per-key max; derived metrics "
    "recomputed from the maxima); no_dup_snapshots pins that "
    "(steam_id, batch_id) stayed unique across the restart — the "
    "exactly-once contract the reference's sink lacks",
)
def q_streaming_jdbc_sink_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from spark_stream_analyzer_spark.streaming.sinks import to_jdbc_snapshots
    from spark_stream_analyzer_spark.streaming.stateful import (
        running_player_stats_stream,
    )

    kills, damages = _synth_uniform_lines(spark, sf_dir)
    workdir = tempfile.mkdtemp(prefix="ssa_jdbc_")
    kdir, ddir = f"{workdir}/kills", f"{workdir}/damages"
    os.makedirs(kdir), os.makedirs(ddir)
    for df, outdir in ((kills, kdir), (damages, ddir)):
        rows = df.collect()  # test-harness boundary only, NOT an engine path
        for parity in (0, 1):
            path = f"{outdir}/{parity:03d}.txt"
            with open(path, "w") as f:
                for r in rows:
                    if r.event_id % 2 == parity:
                        f.write(r.value + "\n")
            _stamp_batch_file(path, parity)
    # run 1 sees only the 000 files; 001 lands between runs (restart)
    os.makedirs(f"{workdir}/wave2")
    for d in (kdir, ddir):
        os.rename(f"{d}/001.txt", f"{workdir}/wave2/{os.path.basename(d)}_001.txt")

    url = f"jdbc:derby:{workdir}/db;create=true"
    table, chk = "snapshots", f"{workdir}/chk"

    def start_run():
        events = parse_kill_lines(file_lines_stream(spark, kdir)).unionByName(
            parse_damage_lines(file_lines_stream(spark, ddir))
        )
        return to_jdbc_snapshots(running_player_stats_stream(events), url, table, chk)

    q1 = start_run()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    for d in (kdir, ddir):
        os.rename(f"{workdir}/wave2/{os.path.basename(d)}_001.txt", f"{d}/001.txt")
    q2 = start_run()  # NEW query, SAME checkpoint → offsets + state restored
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    snaps = spark.read.jdbc(url, table)
    n_total = snaps.count()
    n_keys = snaps.select("steam_id", "batch_id").distinct().count()
    final = (
        snaps.groupBy("steam_id")
        .agg(
            F.max("kills").alias("kills"),
            F.max("deaths").alias("deaths"),
            F.max("assists").alias("assists"),
            F.max("damage").alias("damage"),
            F.max("second").alias("second"),
            F.max("round").alias("round"),
        )
        .select(
            "steam_id",
            "kills",
            "deaths",
            "assists",
            F.round("damage", 6).alias("damage"),
            "second",
            "round",
            F.round(
                F.when(F.col("deaths") == 0, F.col("kills").cast("double")).otherwise(
                    F.col("kills").cast("double") / F.col("deaths")
                ),
                6,
            ).alias("kd_ratio"),
            F.round(
                F.when(F.col("round") == 0, F.lit(None).cast("double")).otherwise(
                    F.col("damage") / F.col("round").cast("double")
                ),
                6,
            ).alias("damage_per_round"),
            F.lit(int(n_total == n_keys)).cast("int").alias("no_dup_snapshots"),
        )
    )
    # materialize before the Derby db / replay dirs go away
    rows_out = final.collect()  # bounded: one row per player
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows_out, final.schema)


@register(
    "streaming_state_ttl_eviction",
    oracle=f"""
    WITH {_O_BASE}
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value) AS BIGINT) % 100) AS BIGINT) AS total,
           CAST(CASE WHEN user_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT) AS evicted
    FROM base WHERE event_id < {EVENT_CAP}
    GROUP BY user_id
    """,
    doc="EXT event-time state timers / TTL eviction, LIVE (r7): the "
    "stateful-operator capability class the reference never touches "
    "(its mapGroupsWithState overload configures no GroupStateTimeout "
    "— state lives forever) and the one that keeps a 100 TB stream's "
    "state bounded by the ACTIVE keyset. applyInPandasWithState with "
    "EventTimeTimeout: every update re-arms the key's timer at "
    "last_event + 1h; group-A users (id%3!=0) send all their rows at "
    "t0 in batch 0, group-B users send theirs at t0+10d across "
    "batches 1-2, so the watermark (1h delay) provably passes every "
    "A timer before batch 2 — A keys are invoked WITH hasTimedOut and "
    "NO rows, emit a final tombstone (evicted=1, full totals intact) "
    "and state.remove(); B keys stay live (evicted=0, batch-2 "
    "timestamps sit 30min after batch 1, inside the gap). Both "
    "failure directions flip the row red: timers not firing leaves A "
    "at evicted=0; over-eager eviction (or state loss on eviction) "
    "breaks B's totals or A's counts",
)
def q_streaming_state_ttl_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    T_A = 1_700_000_000
    T_B = T_A + 864_000  # +10 days
    T_B2 = T_B + 1_800  # +30 min: inside B's gap, but batch 2 must run
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    b = b.withColumn("val", F.expr("CAST(floor(value) AS LONG) % 100"))
    is_a = F.col("user_id") % 3 != 0
    lines = b.select(
        "event_id",
        is_a.alias("is_a"),
        F.concat_ws(
            ",",
            F.when(is_a, F.lit(T_A))
            .when(F.col("event_id") % 2 == 0, F.lit(T_B))
            .otherwise(F.lit(T_B2)),
            F.col("user_id"),
            F.col("val"),
        ).alias("value"),
    )
    workdir = tempfile.mkdtemp(prefix="ssa_ttl_")
    os.makedirs(f"{workdir}/in")
    rows = lines.collect()  # test-harness boundary only, NOT an engine path
    batches = {
        0: [r.value for r in rows if r.is_a],
        1: [r.value for r in rows if not r.is_a and r.value.startswith(str(T_B) + ",")],
        2: [r.value for r in rows if not r.is_a and r.value.startswith(str(T_B2) + ",")],
    }
    # The eviction proof REQUIRES all three batches non-empty: batch 1/2
    # carry the B-group rows whose timestamps advance the watermark past
    # every A timer — an empty batch 2 would leave A timers unfired
    # (evicted=0, red row) and, worse, an empty FILE would parse to one
    # blank line → null user_id/NaT ts, which kills the state fold
    # (r8, ADVICE). Corpus slices at the tested SFs always populate all
    # three; assert so a slice change fails loudly, not with a hung row.
    assert all(batches[i] for i in (0, 1, 2)), (
        "streaming_state_ttl_eviction needs rows in all 3 replay batches "
        f"(got sizes {[len(batches[i]) for i in (0, 1, 2)]})"
    )
    for idx, vals in batches.items():
        path = f"{workdir}/in/{idx:03d}.txt"
        with open(path, "w") as f:
            f.write("\n".join(vals) + "\n")
        _stamp_batch_file(path, idx)

    from spark_stream_analyzer_spark.streaming.stateful import (
        ttl_evicting_totals_stream,
    )

    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        F.timestamp_seconds(parts[0].cast("long")).alias("ts"),
        parts[1].cast("long").alias("user_id"),
        parts[2].cast("long").alias("val"),
    ).withWatermark("ts", "1 hour")
    name = f"ttl_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_PANDAS_PARTS)
    try:
        q = (
            ttl_evicting_totals_stream(parsed, gap_seconds=3600)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)  # replay files consumed

    # totals are monotone; the tombstone repeats the final totals, so
    # per-key max over every emitted row is batch-interleaving-free
    snaps = spark.table(name)
    return snaps.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total").alias("total"),
        F.max("evicted").alias("evicted"),
    )


@register(
    "streaming_dim_refresh_enrich",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id FROM events WHERE event_id < {EVENT_CAP}),
    v2 AS (SELECT c_custkey, CASE WHEN c_custkey % 2 = 0 THEN 'REFRESHED'
                 ELSE c_mktsegment END AS seg FROM customer),
    j0 AS (SELECT c.c_mktsegment AS seg
           FROM e JOIN customer c ON e.user_id = c.c_custkey
           WHERE e.event_id % 2 = 0),
    j1 AS (SELECT v2.seg FROM e JOIN v2 ON e.user_id = v2.c_custkey
           WHERE e.event_id % 2 = 1),
    u AS (SELECT seg FROM j0 UNION ALL SELECT seg FROM j1)
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_events FROM u GROUP BY seg
    """,
    doc="EXT LIVE dim-REFRESH enrichment (r9): the slowly-changing-"
    "dimension refresh contract that streaming_enrich_dim's static "
    "broadcast cannot express — a stream enriched per micro-batch "
    "against a dimension that CHANGES while the query runs. The dim is "
    "re-read inside foreachBatch (spark.read per batch = fresh file "
    "index), which is the production pattern: an IN-PLAN static join "
    "pins its InMemoryFileIndex at analysis time, so files added after "
    "start are invisible — re-reading in foreachBatch is how a daily-"
    "refreshed customer dim actually reaches a 24/7 stream. Waves are "
    "written JUST-IN-TIME around the dim swap (wave 0 drained against "
    "v1, dim overwritten to v2, wave 1 drained against v2), so exactly "
    "which version enriched which event is deterministic and the batch "
    "oracle reproduces it as two versioned joins. A sink that joined "
    "wave 1 against the stale v1 (cached/pinned dim) flips the row red",
)
def q_streaming_dim_refresh_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from spark_stream_analyzer_spark.sources.tables import load_table

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select("event_id", "user_id").collect()  # harness boundary
    waves = {
        0: [r for r in rows if r.event_id % 2 == 0],
        1: [r for r in rows if r.event_id % 2 == 1],
    }
    assert waves[0] and waves[1], "dim-refresh replay needs both waves"
    workdir = tempfile.mkdtemp(prefix="ssa_dimrefresh_")
    os.makedirs(f"{workdir}/in")
    dim_path, out_path = f"{workdir}/dim", f"{workdir}/out"
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cust.write.mode("overwrite").parquet(dim_path)  # version 1

    def _enrich_batch(bdf: DataFrame, batch_id: int) -> None:
        # the refresh point: a FRESH read per micro-batch (new file
        # index), never a captured DataFrame from driver scope
        dim = bdf.sparkSession.read.parquet(dim_path)
        (
            bdf.join(F.broadcast(dim), bdf["user_id"] == dim["c_custkey"])
            .select(F.col("c_mktsegment").alias("seg"))
            .write.mode("append").parquet(out_path)
        )

    parts = F.split("value", ",")
    parsed = file_lines_stream(spark, f"{workdir}/in").select(
        parts[0].cast("long").alias("event_id"),
        parts[1].cast("long").alias("user_id"),
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            parsed.writeStream.foreachBatch(_enrich_batch)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .start()
        )
        try:
            for wave, wrows in waves.items():
                if wave == 1:
                    # the dim swap BETWEEN drains: half the customers
                    # move to a segment that does not exist in v1
                    cust.select(
                        "c_custkey",
                        F.when(F.col("c_custkey") % 2 == 0, F.lit("REFRESHED"))
                        .otherwise(F.col("c_mktsegment"))
                        .alias("c_mktsegment"),
                    ).write.mode("overwrite").parquet(dim_path)
                path = f"{workdir}/in/{wave:03d}.txt"
                with open(path, "w") as f:
                    f.write(
                        "\n".join(f"{r.event_id},{r.user_id}" for r in wrows)
                        + "\n"
                    )
                _stamp_batch_file(path, wave)
                q.processAllAvailable()
        finally:
            q.stop()
        out = (
            spark.read.parquet(out_path)
            .groupBy("seg")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        )
        res = out.collect()  # bounded: one row per segment value
        return spark.createDataFrame(res, out.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(workdir, ignore_errors=True)


@register(
    "streaming_state_store_reader",
    oracle=f"""
    WITH {_O_BASE}
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value) AS BIGINT) % 100) AS BIGINT) AS value_sum,
           1::INT AS metadata_ok
    FROM base WHERE event_id < {EVENT_CAP}
    GROUP BY event_type
    """,
    doc="EXT offline STATE inspection (r9): Spark 4's State Data Source "
    "reads a streaming query's checkpointed state store back as a "
    "DataFrame — the ops/debugging surface for a 24/7 stream ('what is "
    "the state RIGHT NOW' without touching the running query). A "
    "2-batch replay runs a keyed count+sum aggregation with a "
    "checkpoint; the row then reads `format('statestore')` from that "
    "checkpoint and the answer comes from the STATE, not the sink — "
    "the oracle is the batch GROUP BY the final state must equal "
    "(update-mode agg state is exactly the running totals). "
    "metadata_ok pins `format('state-metadata')`: the checkpoint "
    "advertises one stateStoreSave operator whose maxBatchId covers "
    "both replay batches. Long-typed sums on purpose — state holds "
    "exact int64, so the comparison is bit-exact. At 100 TB the same "
    "two reads are how state debugging works against a production "
    "checkpoint: the store is partition-parallel parquet-like files, "
    "no stream restart needed",
)
def q_streaming_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select(
        "event_id",
        "event_type",
        (F.expr("CAST(floor(value) AS LONG) % 100")).alias("v"),
    ).collect()  # harness boundary
    workdir = tempfile.mkdtemp(prefix="ssa_statereader_")
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.event_id % 2],
        fmt=lambda r: f"{r.event_type},{r.v}",
    )
    parts = F.split("value", ",")
    parsed = file_lines_stream(spark, f"{workdir}/in").select(
        parts[0].alias("event_type"), parts[1].cast("long").alias("v")
    )
    agg = parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.sum("v").alias("value_sum")
    )
    name = f"str_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # the actual subject: the STATE read back offline from the
        # checkpoint (not the sink table)
        state = spark.read.format("statestore").load(f"{workdir}/ckpt")
        meta = spark.read.format("state-metadata").load(f"{workdir}/ckpt")
        # bounded: one metadata row per stateful operator in the checkpoint
        mrow = meta.select("operatorName", "maxBatchId").collect()
        metadata_ok = int(
            len(mrow) == 1
            and mrow[0].operatorName == "stateStoreSave"
            and mrow[0].maxBatchId == 1  # two replay batches: ids 0 and 1
        )
        out = state.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n_events"),
            F.col("value.sum").cast("long").alias("value_sum"),
            F.lit(metadata_ok).cast("int").alias("metadata_ok"),
        )
        res = out.collect()  # bounded: one row per event type
        return spark.createDataFrame(res, out.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(workdir, ignore_errors=True)


@register(
    "streaming_state_change_feed",
    oracle=f"""
    WITH {_O_BASE},
    e AS (SELECT event_id % 2 AS b, event_type,
                 CAST(floor(value) AS BIGINT) % 100 AS v
          FROM base WHERE event_id < {EVENT_CAP}),
    b0 AS (SELECT event_type, CAST(SUM(v) AS BIGINT) AS value_sum
           FROM e WHERE b = 0 GROUP BY event_type),
    b1keys AS (SELECT DISTINCT event_type FROM e WHERE b = 1),
    cum AS (SELECT event_type, CAST(SUM(v) AS BIGINT) AS value_sum
            FROM e GROUP BY event_type)
    SELECT CAST(0 AS BIGINT) AS batch_id, 'update' AS change_type,
           event_type, value_sum FROM b0
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'update', cum.event_type, cum.value_sum
    FROM cum JOIN b1keys USING (event_type)
    """,
    doc="EXT state CHANGE feed (r9, completing the state-reader pair): "
    "`format('statestore')` with readChangeFeed=true replays the "
    "RocksDB changelog — per micro-batch, exactly the keys each batch "
    "TOUCHED with their post-image values, which is the state-level CDC "
    "a downstream cache/materialized-view sync consumes (vs the "
    "snapshot row streaming_state_store_reader, which answers 'what is "
    "the state NOW'). Requires the RocksDB provider with changelog "
    "checkpointing (conf set fixture-scoped and restored, like the "
    "rocksdb_windowed_counts row). Oracle: batch 0 emits batch-0 "
    "per-key sums; batch 1 emits CUMULATIVE sums for exactly the keys "
    "present in batch 1 — a feed that re-emitted untouched keys, "
    "dropped a touched one, or carried pre-images would flip the row "
    "red. int64 sums for bit-exact comparison",
)
def q_streaming_state_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select(
        "event_id",
        "event_type",
        F.expr("CAST(floor(value) AS LONG) % 100").alias("v"),
    ).collect()  # harness boundary
    workdir = tempfile.mkdtemp(prefix="ssa_statecdf_")
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.event_id % 2],
        fmt=lambda r: f"{r.event_type},{r.v}",
    )
    parts = F.split("value", ",")
    parsed = file_lines_stream(spark, f"{workdir}/in").select(
        parts[0].alias("event_type"), parts[1].cast("long").alias("v")
    )
    agg = parsed.groupBy("event_type").agg(F.sum("v").alias("value_sum"))
    name = f"cdf_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_changelog = spark.conf.get(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        None,
    )
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    try:
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        cdf = (
            spark.read.format("statestore")
            .option("readChangeFeed", "true")
            .option("changeStartBatchId", "0")
            .load(f"{workdir}/ckpt")
        )
        out = cdf.select(
            F.col("batch_id").cast("long").alias("batch_id"),
            "change_type",
            F.col("key.event_type").alias("event_type"),
            # state value struct fields are named after the AGG FUNCTION
            # (sum/count), not the output alias
            F.col("value.sum").cast("long").alias("value_sum"),
        )
        res = out.collect()  # bounded: keys-touched-per-batch rows
        return spark.createDataFrame(res, out.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
        if prev_changelog is None:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled"
            )
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                prev_changelog,
            )
        shutil.rmtree(workdir, ignore_errors=True)


_ANN_DUCK_BUCKET = " + ".join(
    f"(CASE WHEN {TH.duck_dot_lit('embedding', p)} > 0 THEN {1 << i} ELSE 0 END)"
    for i, p in enumerate(TH.hyperplanes())
)


@register(
    "streaming_ann_lookup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding,
                 {_ANN_DUCK_BUCKET} AS bucket,
                 sqrt({TH.duck_dot('embedding', 'embedding')}) AS norm
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, norm AS qnorm,
            bucket AS qbucket FROM e WHERE vec_id % 97 = 3),
    c AS (SELECT q.query_id, e.vec_id,
            {TH.duck_dot('q.qvec', 'e.embedding')} / (q.qnorm * e.norm) AS cos_raw
          FROM e JOIN q ON e.bucket = q.qbucket AND e.vec_id != q.query_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_raw DESC, vec_id) AS rn FROM c)
    SELECT query_id, vec_id AS neighbor_id, ROUND(cos_raw, 6) AS cosine
    FROM r WHERE rn = 1
    """,
    doc="EXT LIVE streaming ANN lookup (r9 — the embedding-serving "
    "shape): a stream of query REFERENCES (ids, 2-batch replay) "
    "nearest-neighbor-enriched fully IN-PLAN — two stateless "
    "stream-static equality joins (id → query vector+bucket+norm, then "
    "bucket → candidates: the sign-LSH equality join, never a cross "
    "product) feeding an update-mode per-query argmax "
    "(max(struct(cos, -id)): struct ordering = cos DESC then min id — "
    "the tie-break the batch oracle uses). Streaming ids instead of "
    "vector text keeps query vectors BIT-identical to the stored "
    "embeddings (no float round-trip through the wire format). Oracle "
    "= the batch sign-LSH top-1 over the same query set; at 100 TB the "
    "static side is the persisted bucket-partitioned index and each "
    "micro-batch pays one bucket-equality shuffle, state is one struct "
    "per in-flight query",
)
def q_streaming_ann_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from spark_stream_analyzer_spark.functions import texthash as TH
    from spark_stream_analyzer_spark.sources.tables import load_table

    planes = TH.hyperplanes()
    bucket = " + ".join(
        f"(CASE WHEN {TH.spark_dot_lit('embedding', p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [
        r.vec_id
        for r in emb.filter(F.col("vec_id") % 97 == 3).select("vec_id").collect()
    ]  # ids only — harness boundary
    assert qids, "streaming_ann_lookup needs a non-empty query id set"
    workdir = tempfile.mkdtemp(prefix="ssa_annstream_")
    os.makedirs(f"{workdir}/in")
    # persist the INDEX once (vec_id, embedding, bucket, norm): the
    # static side of a stream-static join is re-planned every
    # micro-batch, and this plan's static subtree appears twice (query
    # hop + candidate hop) — leaving the 6 hyperplane dot products
    # inline re-bucketed the whole corpus 4-6x per replay (measured
    # 18s -> 6s at sf0.01). Persisting is also the honest serving
    # design: a production lookup stream reads the bucket-partitioned
    # index table, it does not re-derive it per trigger.
    emb.select(
        "vec_id",
        "embedding",
        F.expr(bucket).alias("bucket"),
        F.sqrt(F.expr(TH.spark_dot("embedding", "embedding"))).alias("norm"),
    ).write.parquet(f"{workdir}/index")
    e = spark.read.parquet(f"{workdir}/index")
    for parity in (0, 1):
        path = f"{workdir}/in/{parity:03d}.txt"
        with open(path, "w") as f:
            f.write(
                "\n".join(str(i) for i in qids if i % 2 == parity) + "\n"
            )
        _stamp_batch_file(path, parity)

    stream_q = file_lines_stream(spark, f"{workdir}/in").select(
        F.col("value").cast("long").alias("query_id")
    )
    # hop 1: id -> query vector/bucket/norm (stream-static equi-join)
    qside = stream_q.join(
        e.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.col("norm").alias("qnorm"),
            F.col("bucket").alias("qbucket"),
        ),
        "query_id",
    )
    # hop 2: bucket -> candidates (the sign-LSH equality join)
    cos = F.expr(TH.spark_dot("qvec", "embedding")) / (
        F.col("qnorm") * F.col("norm")
    )
    cand = qside.join(
        e, (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id"))
    ).select(
        "query_id",
        F.col("vec_id"),
        cos.alias("cos_raw"),
    )
    # per-query argmax as an update-mode stateful agg: struct ordering is
    # fieldwise, so max(struct(cos, -id)) = best cosine, ties -> min id
    best = cand.groupBy("query_id").agg(
        F.max(F.struct(F.col("cos_raw"), (-F.col("vec_id")).alias("neg_id"))).alias(
            "b"
        )
    )
    name = f"ann_{uuid.uuid4().hex[:8]}"
    _run_to_memory(best, name, spark, "update", workdir=None)
    try:
        snaps = spark.table(name)
        # each query's batch carries ALL its candidates (static corpus),
        # so re-emitted rows are identical; per-query max is a no-op
        # safety reduction
        final = snaps.groupBy("query_id").agg(F.max("b").alias("b"))
        return final.select(
            "query_id",
            (-F.col("b.neg_id")).cast("long").alias("neighbor_id"),
            F.round("b.cos_raw", 6).alias("cosine"),
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@register(
    "streaming_join_state_reader",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type FROM events
               WHERE event_id < {EVENT_CAP}
                 AND event_type IN ('click', 'purchase'))
    SELECT 'left' AS side, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_buffered, 1::INT AS four_stores_ok
    FROM e WHERE event_type = 'purchase' GROUP BY user_id
    UNION ALL
    SELECT 'right', user_id, CAST(COUNT(*) AS BIGINT), 1::INT
    FROM e WHERE event_type = 'click' GROUP BY user_id
    """,
    doc="EXT join-STATE reader (r9, completing the state-inspection "
    "matrix: aggregation snapshot, changelog CDF, and now the "
    "stream-stream JOIN buffers): `format('statestore')` with "
    "joinSide=left/right reads what a symmetric hash join still holds "
    "per key — the ops answer to 'why is my join state growing' at "
    "100 TB. The fixture replays the purchase⋈click interval join with "
    "a span-sized watermark and NO sentinel flush, so nothing is "
    "evicted and the buffered rows must equal each side's full input: "
    "per-user buffered counts == the batch GROUP BYs, per side. "
    "four_stores_ok pins state-metadata advertising all FOUR stores of "
    "symmetricHashJoin (left/right × keyToNumValues/keyWithIndexToValue "
    "— the 4-stores-per-join cost model the partition-regime fixtures "
    "are sized around, here proven from the checkpoint itself)",
)
def q_streaming_join_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "sec", "event_type"
    ).collect()  # harness boundary
    delay_s = 36_500 * 86_400
    workdir = tempfile.mkdtemp(prefix="ssa_jstate_")
    for etype, sub in (("click", "clicks"), ("purchase", "purchases")):
        _write_batches(
            [r for r in rows if r.event_type == etype],
            f"{workdir}/{sub}",
            batch_of=lambda r: [r.event_id % 2],
            fmt=lambda r: f"{r.event_id},{r.user_id},{r.sec}",
        )

    def _parse(path: str, prefix: str) -> DataFrame:
        parts = F.split("value", ",")
        return file_lines_stream(spark, path).select(
            parts[0].cast("long").alias(f"{prefix}_id"),
            parts[1].cast("long").alias(f"{prefix}_user"),
            F.timestamp_seconds(parts[2].cast("long")).alias(f"{prefix}_ts"),
        ).withWatermark(f"{prefix}_ts", f"{delay_s} seconds")

    purchases = _parse(f"{workdir}/purchases", "purchase")
    clicks = _parse(f"{workdir}/clicks", "click")
    joined = purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts"))
        & (F.col("click_ts") <= F.col("purchase_ts") + F.expr("interval 1 hour")),
        "inner",
    )
    name = f"jsr_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        meta = spark.read.format("state-metadata").load(f"{workdir}/ckpt")
        # bounded: one metadata row per state store of the join operator
        stores = {
            r.stateStoreName
            for r in meta.filter(
                F.col("operatorName") == "symmetricHashJoin"
            ).collect()
        }
        four_stores_ok = int(
            stores
            == {
                "left-keyToNumValues",
                "left-keyWithIndexToValue",
                "right-keyToNumValues",
                "right-keyWithIndexToValue",
            }
        )
        sides = []
        for side, ucol in (("left", "purchase_user"), ("right", "click_user")):
            st = (
                spark.read.format("statestore")
                .option("joinSide", side)
                .load(f"{workdir}/ckpt")
            )
            sides.append(
                st.select(
                    F.lit(side).alias("side"),
                    F.col(f"value.{ucol}").alias("user_id"),
                ).groupBy("side", "user_id").agg(
                    F.count(F.lit(1)).cast("long").alias("n_buffered")
                )
            )
        out = sides[0].unionByName(sides[1]).select(
            "side",
            "user_id",
            "n_buffered",
            F.lit(four_stores_ok).cast("int").alias("four_stores_ok"),
        )
        res = out.collect()  # bounded: users × 2 sides
        return spark.createDataFrame(res, out.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(workdir, ignore_errors=True)


@register(
    "streaming_table_version_tail",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND((CAST(SUM(CAST(FLOOR((o_totalprice) * 1000000 + 0.5) AS BIGINT) // 1000000) AS DOUBLE) + CAST(SUM(CAST(FLOOR((o_totalprice) * 1000000 + 0.5) AS BIGINT) % 1000000) AS DOUBLE) / 1000000.0), 6) AS price_msum6
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND((CAST(SUM(CAST(FLOOR((o_totalprice) * 1000000 + 0.5) AS BIGINT) // 1000000) AS DOUBLE) + CAST(SUM(CAST(FLOOR((o_totalprice) * 1000000 + 0.5) AS BIGINT) % 1000000) AS DOUBLE) / 1000000.0), 6)
    FROM orders WHERE o_orderkey % 5 = 1
    """,
    doc="EXT LIVE streaming FROM the transactional table (r10 — the "
    "Delta-streaming-source shape, closing the lakehouse loop: publish "
    "-> tail -> enrich): a custom Python DataSource whose stream "
    "OFFSETS are the table's committed VERSION numbers, discovered by "
    "polling the manifest pointer (sources/table_datasource.py). The "
    "fixture publishes v1 (orders keys %5=0), drains, publishes v2 "
    "(keys %5=1) MID-QUERY, drains again: each version must be emitted "
    "exactly once, tagged _version, the second discovered by a "
    "separate micro-batch — immutable manifest-addressed snapshot dirs "
    "give exactly-once on replay by construction. One input partition "
    "per parquet file per version (publisher-controlled fan-out); rows "
    "decode via pyarrow in the Python worker; schema discovered from "
    "the committed footer at plan time",
)
def q_streaming_table_version_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from spark_stream_analyzer_spark.sources.table_datasource import (
        register_manifesttable,
    )
    from spark_stream_analyzer_spark.sources.tables import load_table
    from spark_stream_analyzer_spark.sources.txn_publish import (
        publish,
        snapshot_dir,
    )

    root = tempfile.mkdtemp(prefix="ssa_tabletail_")
    try:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        d1 = snapshot_dir(root)
        o.filter(F.col("o_orderkey") % 5 == 0).write.parquet(d1)
        publish(root, d1, 1)

        register_manifesttable(spark)
        stream = (
            spark.readStream.format("manifesttable").option("path", root).load()
        )
        name = f"ttail_{uuid.uuid4().hex[:8]}"
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
        try:
            q = (
                stream.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .start()
            )
            try:
                q.processAllAvailable()  # drains v1
                d2 = snapshot_dir(root)
                o.filter(F.col("o_orderkey") % 5 == 1).write.parquet(d2)
                publish(root, d2, 2)  # mid-query commit
                q.processAllAvailable()  # v2 discovered incrementally
            finally:
                q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        out = (
            spark.table(name)
            .groupBy(F.col("_version").alias("version"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                round6(msum6(F.col("o_totalprice"))).alias("price_msum6"),
            )
        )
        # the sink table outlives the tempdir (memory sink), but the agg
        # must materialize before root vanishes only if it re-reads the
        # source — it reads the SINK, so a plain return is safe; still
        # cut lineage so the fixture dir can be reclaimed immediately
        from spark_stream_analyzer_spark.functions.materialize import (
            lineage_cut,
        )

        return lineage_cut(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "streaming_dual_sink_exactly_once",
    oracle=f"""
    WITH b AS (SELECT event_id % 3 AS batch_id, user_id, value
               FROM events WHERE event_id < {EVENT_CAP}),
    a AS (SELECT batch_id, user_id, COUNT(*) AS n,
                 SUM(CAST(floor(value) AS BIGINT)) AS vs
          FROM b GROUP BY batch_id, user_id)
    SELECT CAST(3 AS INT) AS n_batches,
           CAST(3 AS INT) AS lake_version,
           CAST(COUNT(*) AS BIGINT) AS jdbc_rows,
           CAST(SUM(n) AS BIGINT) AS total_events,
           CAST(SUM(vs) AS BIGINT) AS total_value_floor,
           CAST(1 AS INT) AS cross_consistent,
           CAST(1 AS INT) AS replay_lake_noop,
           CAST(1 AS INT) AS replay_jdbc_identical
    FROM a
    """,
    doc="EXT dual-sink exactly-once, LIVE (r11): ONE foreachBatch feeds "
    "the transactional lake table AND a serving JDBC database "
    "(sinks.py dual_sink_batch_writer) — each batch publishes lake "
    "version batch_id+1 (replay no-ops on the committed-version "
    "guard: manifest byte-identical) and delete-then-inserts its DB "
    "rows (replay rewrites, never duplicates). Lake-then-DB order "
    "pinned: the DB may lag the lake by one crashed batch but never "
    "diverge. The fixture drives 3 micro-batches, then REPLAYS batch "
    "0's writer (the crash-between-sink-commit-and-offset-commit "
    "corner) and pins: lake manifest bytes unchanged, JDBC batch-0 "
    "row multiset unchanged, and every lake version's content equal "
    "to the DB's rows for its batch (cross-sink consistency). Oracle "
    "is the closed-form per-batch per-user aggregate",
)
def q_streaming_dual_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from spark_stream_analyzer_spark.sources.txn_publish import (
        committed_version,
        read_version,
    )
    from spark_stream_analyzer_spark.streaming.sinks import dual_sink_batch_writer

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    rows = b.select("event_id", "user_id", "value").collect()  # harness boundary
    workdir = tempfile.mkdtemp(prefix="ssa_dualsink_")
    indir = f"{workdir}/in"
    _write_batches(
        rows,
        indir,
        batch_of=lambda r: [r.event_id % 3],
        fmt=lambda r: f"{r.event_id},{r.user_id},{r.value}",
    )
    url = f"jdbc:derby:{workdir}/db;create=true"
    table, root = "dual_rows", f"{workdir}/lake"
    os.makedirs(root)

    def _agg(df):
        parts = F.split("value", ",")
        return (
            df.select(
                parts[1].cast("long").alias("user_id"),
                parts[2].cast("double").alias("v"),
            )
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor("v").cast("long")).alias("vs"),
            )
        )

    dual = dual_sink_batch_writer(url, table, root)

    def write_batch(batch_df, batch_id):
        dual(_agg(batch_df), batch_id)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            file_lines_stream(spark, indir)
            .writeStream.option("checkpointLocation", f"{workdir}/chk")
            .foreachBatch(write_batch)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    lake_version = committed_version(root)
    # ---- cross-sink consistency: every lake version == its DB batch
    jdbc = spark.read.jdbc(url, table).select("user_id", "n", "vs", "batch_id")
    lake_all = None
    for v in range(1, (lake_version or 0) + 1):
        part = read_version(spark, root, v).select("user_id", "n", "vs", "batch_id")
        lake_all = part if lake_all is None else lake_all.unionByName(part)
    mismatches = (
        lake_all.join(
            jdbc.withColumnRenamed("n", "jn").withColumnRenamed("vs", "jvs"),
            ["user_id", "batch_id"],
            "full_outer",
        )
        .filter(
            F.col("n").isNull()
            | F.col("jn").isNull()
            | (F.col("n") != F.col("jn"))
            | (F.col("vs") != F.col("jvs"))
        )
        .count()
    )
    # ---- replay batch 0 (crash between sink commit and offset commit)
    with open(os.path.join(root, "_manifest.json"), "rb") as f:
        manifest_before = f.read()
    jdbc_b0_before = sorted(
        (r.user_id, r.n, r.vs)
        for r in jdbc.filter(F.col("batch_id") == 0).collect()
    )  # bounded: one row per user in one batch
    write_batch(spark.read.text(f"{indir}/000.txt"), 0)
    with open(os.path.join(root, "_manifest.json"), "rb") as f:
        manifest_after = f.read()
    jdbc_b0_after = sorted(
        (r.user_id, r.n, r.vs)
        for r in spark.read.jdbc(url, table)
        .filter(F.col("batch_id") == 0)
        .collect()
    )  # bounded: one row per user in one batch
    totals = jdbc.agg(
        F.count("*").alias("rows"),
        F.sum("n").alias("te"),
        F.sum("vs").alias("tv"),
    ).collect()[0]  # one row
    out = [
        (
            3,
            int(lake_version or 0),
            int(totals.rows),
            int(totals.te),
            int(totals.tv),
            int(mismatches == 0),
            int(manifest_before == manifest_after),
            int(jdbc_b0_before == jdbc_b0_after),
        )
    ]
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "n_batches int, lake_version int, jdbc_rows long, total_events long,"
        " total_value_floor long, cross_consistent int, replay_lake_noop int,"
        " replay_jdbc_identical int",
    )


@register(
    "streaming_phash_dedup",
    oracle="""
    WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 23 = 5),
    surv AS (SELECT MIN(doc_id) AS doc_id FROM sel GROUP BY doc_id % 4600)
    SELECT s.doc_id,
           CAST(3 + s.doc_id % 5 AS BIGINT) AS width,
           CAST(2 + s.doc_id % 4 AS BIGINT) AS height,
           ROUND(s.doc_id % 200 + (2 + s.doc_id % 4 - 1) / 2.0, 6) AS mean_pixel
    FROM surv s
    """,
    doc="EXT streaming multimodal dedup, LIVE (r11 — the composition of "
    "streaming_media_ingest and multimodal_phash_dedup): a live "
    "binaryFile PNG stream is decoded in-flight (Arrow mapInPandas) "
    "and deduplicated on a perceptual hash of the DECODED witnesses "
    "(width/height/pixel stats — for this synthetic family stats "
    "equality <=> pixel equality; a production pHash swaps in the DCT "
    "behind the same column). The synthetic image is periodic in "
    "doc_id mod 4600 within the %23 selection, so sf0.1 carries 18 "
    "genuinely pixel-identical file PAIRS under different names, "
    "landing in DIFFERENT micro-batches (mtime-ordered discovery, "
    "batch size < the 200-position class gap) — cross-batch dedup "
    "state is really exercised; first arrival (min doc_id) survives. "
    "dropDuplicates state is unbounded by design here (every survivor "
    "key lives forever — the keep-everything parity the oracle needs); "
    "the bounded-state production form is dropDuplicatesWithinWatermark, "
    "exercised by streaming_dedup_events. Oracle keeps min-id per "
    "pixel-class; a missed cross-batch duplicate doubles a class's "
    "rows and flips the row red",
)
def q_streaming_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from spark_stream_analyzer_spark.operators import multimodal as mm
    from spark_stream_analyzer_spark.sources.tables import load_table

    ids = sorted(
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 23 == 5)
        .select("doc_id")
        .collect()  # ids only (~4% of docs) — fixture harness boundary
    )
    workdir = tempfile.mkdtemp(prefix="ssa_phashstream_")
    os.makedirs(f"{workdir}/in", exist_ok=True)
    for idx, doc_id in enumerate(ids):
        w, h, v = 3 + doc_id % 5, 2 + doc_id % 4, doc_id % 200
        pixels = [[(v + r) & 0xFF] * (w * 3) for r in range(h)]
        path = f"{workdir}/in/doc_{doc_id}.png"
        with open(path, "wb") as f:
            f.write(mm.encode_png(pixels, w, h))
        t = 1_600_000_000 + idx  # arrival order = doc_id order
        os.utime(path, (t, t))

    binf = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.png")
        # batches strictly smaller than the 200-position collision-class
        # gap, so pixel-identical files always land in different batches
        .option("maxFilesPerTrigger", min(max(1, len(ids) // 2), 150))
        .load(f"{workdir}/in")
    )
    parsed = binf.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.png$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"),
    )
    stats = mm.png_decode_stats(parsed)
    deduped = stats.withColumn(
        "phash",
        F.xxhash64(
            "width", "height", "n_pixels", "mean_pixel",
            "top_left", "bottom_left", "n_filters_used",
        ),
    ).dropDuplicates(["phash"])
    out = deduped.select("doc_id", "width", "height", "mean_pixel")
    name = f"phash_{uuid.uuid4().hex[:8]}"
    _run_to_memory(out, name, spark, "append", workdir=workdir)
    return spark.table(name)


@register(
    "streaming_approx_distinct_windows",
    oracle=f"""
    WITH {_O_BASE}
    SELECT sec // 86400 * 86400 AS win_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           CAST(1 AS INT) AS within_band
    FROM base WHERE event_id < {EVENT_CAP}
    GROUP BY 1
    """,
    doc="EXT windowed APPROX distinct in streaming, LIVE (r11 — the "
    "approx family's streaming member beside the batch "
    "approx_distinct_check): exact COUNT(DISTINCT) is unsupported in "
    "streaming aggregation (Spark raises — unbounded per-group state); "
    "approx_count_distinct's HLL++ sketch IS the supported, mergeable, "
    "bounded-state form, and at 100 TB it is also the batch answer's "
    "cost model. Tumbling daily windows + watermark, update mode, "
    "2-batch interleaved replay; HLL registers only grow, so the "
    "estimate is monotone across updates and the per-window max is the "
    "final estimate (same reduction as streaming_windowed_counts). "
    "Verdict per window: |approx − exact| within 3·rsd·exact + 5 (rsd "
    "0.05 default), exact computed batch-side from the same lines. A "
    "sketch regression (collapsed registers, wrong merge) blows the "
    "band and flips the row red",
)
def q_streaming_approx_distinct_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    lines = b.select(
        "event_id",
        F.concat_ws(",", F.col("sec"), F.col("user_id")).alias("value"),
    )
    workdir = tempfile.mkdtemp(prefix="ssa_apdstream_")
    os.makedirs(f"{workdir}/in")
    rows = lines.collect()  # test-harness boundary only, NOT an engine path
    for parity in (0, 1):
        path = f"{workdir}/in/{parity:03d}.txt"
        with open(path, "w") as f:
            for r in rows:
                if r.event_id % 2 == parity:
                    f.write(r.value + "\n")
        _stamp_batch_file(path, parity)

    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        F.timestamp_seconds(parts[0].cast("long")).alias("ts"),
        parts[1].cast("long").alias("user_id"),
    )
    name = f"apd_{uuid.uuid4().hex[:8]}"
    agg = (
        parsed.withWatermark("ts", "36500 days")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.approx_count_distinct("user_id", 0.05).alias("n_approx"))
    )
    _run_to_memory(agg, name, spark, "update", workdir=None)
    approx = (
        spark.table(name)
        .groupBy(F.unix_timestamp(F.col("win.start")).alias("win_start"))
        .agg(F.max("n_approx").alias("n_approx"))
    )
    # exact side re-derived batch-side from the SAME replay lines via the
    # base table (the lines are a projection of it)
    exact = b.select(
        (F.floor(F.col("sec") / 86400) * 86400).cast("long").alias("win_start"),
        "user_id",
    ).groupBy("win_start").agg(F.countDistinct("user_id").alias("n_exact"))
    out = approx.join(exact, "win_start").select(
        "win_start",
        F.col("n_exact").cast("long").alias("n_exact"),
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= 3 * 0.05 * F.col("n_exact") + 5
        ).cast("int").alias("within_band"),
    )
    import shutil

    rows_out = out.collect()  # bounded: one row per day window
    shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows_out, out.schema)


@register(
    "streaming_windowed_topk_board",
    oracle=f"""
    WITH {_O_BASE},
    c AS (SELECT sec // 86400 * 86400 AS win_start, event_type,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM base WHERE event_id < {EVENT_CAP} GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY win_start
            ORDER BY n DESC, event_type) AS rk FROM c)
    SELECT win_start, CAST(rk AS BIGINT) AS rk, event_type, n
    FROM r WHERE rk <= 3
    """,
    doc="EXT per-window top-k leaderboard, LIVE — the second-stage "
    "aggregation Spark refuses to chain onto a streaming aggregate, "
    "run as incremental view maintenance inside foreachBatch "
    "(streaming/sinks.py:windowed_topk_batch_writer): the update-mode "
    "windowed counts upsert into a compacted Derby counts table, then "
    "top-3 is recomputed ONLY for the windows each batch touched (from "
    "the counts table read back — ranking the batch's changed rows "
    "alone would drop unchanged competitors, the classic second-agg "
    "mistake, pinned by a dedicated test) and exactly those windows' "
    "board rows are rewritten. Both stages are recompute-and-rewrite "
    "by key, so batch replay heals a crash between the two writes. "
    "Two event-time-interleaved replay batches; the serving table IS "
    "the result — the reference's Grafana latest-view shape "
    "(queries.sql latest-per-player) generalized to ranked windows",
)
def q_streaming_windowed_topk_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from spark_stream_analyzer_spark.streaming.sinks import (
        _jdbc_execute,
        windowed_topk_batch_writer,
    )

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    lines = b.select(
        "event_id",
        F.concat_ws(",", F.col("sec"), F.col("event_type")).alias("value"),
    )
    workdir = tempfile.mkdtemp(prefix="ssa_topkboard_")
    os.makedirs(f"{workdir}/in")
    rows = lines.collect()  # test-harness boundary only, NOT an engine path
    for parity in (0, 1):
        path = f"{workdir}/in/{parity:03d}.txt"
        with open(path, "w") as f:
            for r in rows:
                if r.event_id % 2 == parity:
                    f.write(r.value + "\n")
        _stamp_batch_file(path, parity)

    url = f"jdbc:derby:{workdir}/db;create=true"
    _jdbc_execute(
        spark,
        url,
        'CREATE TABLE counts ("win_start" BIGINT, "event_type" VARCHAR(32),'
        ' "n" BIGINT)',
    )
    _jdbc_execute(
        spark,
        url,
        'CREATE TABLE board ("win_start" BIGINT, "rk" BIGINT,'
        ' "event_type" VARCHAR(32), "n" BIGINT)',
    )

    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        F.timestamp_seconds(parts[0].cast("long")).alias("ts"),
        parts[1].alias("event_type"),
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        counts = (
            parsed.withWatermark("ts", "36500 days")
            .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.unix_timestamp(F.col("win.start")).alias("win_start"),
                "event_type",
                "n",
            )
        )
        q = (
            counts.writeStream.outputMode("update")
            .option("checkpointLocation", f"{workdir}/chk")
            .foreachBatch(windowed_topk_batch_writer(url, "counts", "board", k=3))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # bounded: k rows per window (the serving table) — collect so
        # the Derby workdir (db + replay files + checkpoint) can be
        # reclaimed instead of leaking one tempdir per invocation
        board = spark.read.jdbc(url, "board").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)

    return spark.createDataFrame(
        [(int(r["win_start"]), int(r["rk"]), r["event_type"], int(r["n"])) for r in board],
        "win_start long, rk long, event_type string, n long",
    )


@register(
    "streaming_watermark_metrics",
    oracle=f"""
    WITH {_O_BASE},
    x AS (SELECT event_id, event_type FROM base WHERE event_id < {EVENT_CAP})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(COUNT(DISTINCT CASE WHEN event_id % 3 = 0 AND event_id % 5 = 0
                THEN event_type END) AS BIGINT) AS n_dropped_state_rows,
       CAST(SUM(CASE WHEN event_id % 3 = 0 AND event_id % 5 = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_late_events
    FROM x
    """,
    doc="EXT watermark OBSERVABILITY audit, LIVE — the metrics twin of "
    "streaming_late_data_drop (which pins the drop through the "
    "RESULT): this row pins it through Spark's own "
    "StreamingQueryProgress, and it pins the metric's REAL unit, "
    "which this row's first draft got wrong: "
    "numRowsDroppedByWatermark counts rows dropped AT THE STATE "
    "OPERATOR — i.e. post-shuffle, post-map-side-combine aggregate "
    "rows, ONE PER LATE (window, key) GROUP — not input events "
    "(measured: 667 planted straggler EVENTS surface as exactly 5 "
    "dropped state rows, one per event_type sharing the one late "
    "day-0 window). A production monitor alerting on this metric "
    "UNDERCOUNTS dropped events by the pre-aggregation fan-in; the "
    "event-level number needs observe()/numInputRows accounting like "
    "events_observed_quality. The oracle derives both ground truths "
    "from the data: total input events and the distinct late "
    "(window, key) group count; n_late_events documents the fan-in. "
    "recentProgress is bounded by the fixture's 3 micro-batches",
)
def q_streaming_watermark_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    workdir = _write_late_batches(spark, sf_dir)
    raw = file_lines_stream(spark, f"{workdir}/in")
    parts = F.split("value", ",")
    parsed = raw.select(
        F.timestamp_seconds(parts[0].cast("long")).alias("ts"),
        parts[2].alias("event_type"),
    )
    counted = (
        parsed.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_part"))
    )
    name = f"wmmet_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            counted.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            # bounded: one progress dict per micro-batch (3 replay files)
            progresses = list(q.recentProgress)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)

    n_input = sum(int(p["numInputRows"]) for p in progresses)
    n_dropped = sum(
        int(so.get("numRowsDroppedByWatermark", 0))
        for p in progresses
        for so in p.get("stateOperators", [])
    )
    # the straggler batch replays exactly the planted late events; the
    # sink table holds everything admitted — late events = input minus
    # rows that reached any window's count (monotone per-window max)
    admitted = (
        spark.table(name)
        .groupBy("w", "event_type")
        .agg(F.max("n_part").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]  # bounded: one aggregate row
    )
    return spark.createDataFrame(
        [(n_input, n_dropped, n_input - int(admitted))],
        "n_input long, n_dropped_state_rows long, n_late_events long",
    )


# --------------------------------------------- round-13: trigger SLA metrics


@register(
    "streaming_trigger_sla_metrics",
    oracle=f"""
    WITH {_O_BASE},
    x AS (SELECT event_id FROM base WHERE event_id < {EVENT_CAP})
    SELECT CAST(6 AS BIGINT) AS n_batches,
       CAST(COUNT(*) AS BIGINT) AS n_input,
       CAST(1000 AS BIGINT) AS sla_envelope_ms,
       1::INT AS latency_metrics_present,
       1::INT AS p95_le_run_total,
       1::INT AS backlog_zero
    FROM x
    """,
    doc="EXT per-batch trigger-latency SLA observability, LIVE (r12 "
    "verdict task 6) — the metrics twin of the soak: the reference's "
    "implicit envelope is a sustained 1 s trigger "
    "(SparkStreamingService.java:259), and a production deployment "
    "watches it through StreamingQueryProgress, not through results. "
    "This row replays 6 deterministic micro-batches "
    "(maxFilesPerTrigger=1) through an update-mode keyed count and "
    "derives the SLA dashboard from the query's OWN progress stream: "
    "per-batch durationMs.triggerExecution p50/p95 (computed and "
    "sanity-pinned in-row: metrics must exist for every batch, p95 "
    "cannot exceed the measured end-to-end run — pinning the METRIC "
    "UNIT as milliseconds-per-trigger, the watermark_metrics "
    "discipline), plus end-of-run backlog from the file source's "
    "latestOffset==endOffset (batches-behind must be 0 after "
    "processAllAvailable). Wall-clock latencies are inherently "
    "host-dependent, so the ORACLE-CHECKED columns are the "
    "deterministic invariants (batch count, input rows, envelope "
    "constant, metric-presence/unit/backlog bits); the raw p50/p95 "
    "distribution is asserted and printed by "
    "tests/test_streaming.py::test_trigger_sla_progress_distribution. "
    "The row RAISES if any invariant fails, so a driver-green row "
    "proves the progress metrics were present, unit-sane, and drained",
)
def q_streaming_trigger_sla_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import time as _time

    workdir = tempfile.mkdtemp(prefix="ssa_sla_")
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    # bounded: EVENT_CAP rows by construction (the streamed-slice cap
    # every live fixture shares) — replay-file writing is harness work
    rows = b.select("event_id", "event_type").collect()
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.event_id % 6],
        fmt=lambda r: f"{r.event_id},{r.event_type}",
    )
    # derive the expected replay-file count from what _write_batches
    # ACTUALLY wrote rather than assuming every event_id % 6 residue
    # class under EVENT_CAP is non-empty (ADVICE r13 low) — an empty
    # class now fails with a named fixture-assumption error, not an
    # opaque backlog mismatch; the oracle pins 6, so assert it here
    n_files = len(
        [f for f in os.listdir(f"{workdir}/in") if not f.startswith((".", "_"))]
    )
    if n_files != 6:
        raise AssertionError(
            f"trigger-SLA fixture assumption violated: expected 6 replay "
            f"files (one per event_id % 6 residue class under "
            f"{EVENT_CAP}), _write_batches produced {n_files}"
        )
    parts = F.split("value", ",")
    parsed = file_lines_stream(spark, f"{workdir}/in").select(
        parts[1].alias("event_type")
    )
    counted = parsed.groupBy("event_type").agg(F.count("*").alias("n"))
    name = f"sla_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        t0 = _time.perf_counter()
        q = (
            counted.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            run_total_ms = (_time.perf_counter() - t0) * 1000.0
            # bounded: one progress dict per micro-batch (6 replay files)
            progresses = list(q.recentProgress)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
        spark.catalog.dropTempView(name)

    p50, p95, per_batch = trigger_latency_quantiles(progresses)
    n_input = sum(int(p["numInputRows"]) for p in progresses)
    metrics_present = all(
        "triggerExecution" in (p.get("durationMs") or {}) for p in progresses
    )
    # an extra NO-DATA micro-batch in recentProgress (scheduler tail
    # tick) must not fail the batch-count pin — count data batches
    n_data_batches = sum(1 for p in progresses if int(p["numInputRows"]) > 0)
    last_src = (progresses[-1].get("sources") or [{}])[0]

    def _off(v):
        try:
            return _json.loads(v.replace("'", '"')) if isinstance(v, str) else v
        except ValueError:
            return None

    # the FileStreamSource reports latestOffset as the string 'None'
    # (measured — it has no notion of "latest" beyond what it listed),
    # so batches-behind is derived from the committed end offset: after
    # processAllAvailable the log offset must equal n_files - 1, i.e.
    # every staged replay file was consumed (backlog == 0)
    end_off = _off(last_src.get("endOffset")) or {}
    backlog_zero = end_off.get("logOffset") == n_files - 1
    # invariant gate: a green driver row must mean the metrics existed
    # and read in coherent units — fail loudly, never emit a lying 1
    if not (progresses and metrics_present and p95 <= run_total_ms):
        raise RuntimeError(
            f"trigger SLA invariants violated: n_batches={n_data_batches} "
            f"metrics_present={metrics_present} p95={p95} "
            f"run_total_ms={run_total_ms:.0f} per_batch={per_batch}"
        )
    if not backlog_zero:
        raise RuntimeError(
            f"file source not drained after processAllAvailable: "
            f"{last_src.get('latestOffset')!r} != {last_src.get('endOffset')!r}"
        )
    return spark.createDataFrame(
        [
            (
                n_data_batches,
                n_input,
                1000,
                int(metrics_present),
                int(p95 <= run_total_ms),
                int(backlog_zero),
            )
        ],
        "n_batches long, n_input long, sla_envelope_ms long,"
        " latency_metrics_present int, p95_le_run_total int, backlog_zero int",
    )


def trigger_latency_quantiles(progresses) -> tuple[float, float, list[int]]:
    """(p50, p95, per-batch ms) of ``durationMs.triggerExecution`` from a
    list of StreamingQueryProgress dicts — nearest-rank quantiles over
    the (bounded, one-per-micro-batch) progress history.  Shared by the
    SLA row and its distribution test so both read the metric the same
    way."""
    lat = sorted(
        int((p.get("durationMs") or {}).get("triggerExecution", 0))
        for p in progresses
    )
    if not lat:
        return 0.0, 0.0, []

    def _q(f: float) -> float:
        # nearest-rank: ceil(f*n), 1-indexed (round() would banker's-round
        # 2.5 -> 2 and report p50 of 5 samples as the 2nd, not the 3rd)
        return float(lat[min(len(lat) - 1, max(0, math.ceil(f * len(lat)) - 1))])

    return _q(0.50), _q(0.95), lat


def _bpe_encode_sql_batch_twin() -> str:
    """The batch BPE-encode oracle, verbatim — imported lazily so the
    plan modules keep their one-way load order (q_llm never imports
    q_streaming; the registry loader imports both)."""
    from spark_stream_analyzer_spark.plans.q_llm import _bpe_encode_sql

    return _bpe_encode_sql(3)


@register(
    "streaming_tokenize_docs",
    doc="EXT tokenizer SERVING in-stream, LIVE (r13) — the train-batch / "
    "apply-stream shape every production data pipeline runs: the BPE "
    "merge table is trained in batch (text_bpe_merge_table's exact "
    "loop — one argmax row per round crosses the driver), then applied "
    "INSIDE Structured Streaming to a replayed document stream as the "
    "pure-expression replace chain (zero Python, zero state, append "
    "mode — tokenization is stateless projection, so the streaming "
    "plan is the batch plan under a micro-batch source). The oracle is "
    "the BATCH encode twin's SQL verbatim: the row proves stream-served "
    "tokenization is byte-identical (per-doc token counts AND the "
    "md5-60 stream fingerprint) to the batch pipeline that trained the "
    "model — the parity a lakehouse team needs before they can mix "
    "batch-tokenized and stream-tokenized shards in one corpus",
    oracle=_bpe_encode_sql_batch_twin(),
)
def q_streaming_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_analyzer_spark.operators import text as _text
    from spark_stream_analyzer_spark.sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    merges = [
        p for _, p, _ in _text.bpe_train_merges(docs, rounds=3)
    ]  # bounded: one argmax row per training round (the k-means exchange)

    workdir = tempfile.mkdtemp(prefix="ssa_tok_")
    # NULL-text guard (ADVICE r13 low): the replay writer maps NULL text
    # to '' while the batch oracle runs over the original table — a
    # NULL-text doc would take the two sides through DIFFERENT code
    # paths (empty-string stream vs NULL-propagating CTE) and the
    # byte-parity claim would no longer be testing what it says.  Name
    # the fixture assumption instead of relying on it silently.
    n_null = docs.filter(F.col("text").isNull()).count()  # bounded: one row
    if n_null:
        raise AssertionError(
            f"streaming_tokenize_docs fixture assumption violated: "
            f"{n_null} NULL-text documents — the replay/oracle parity "
            "contract requires non-NULL text"
        )
    # bounded: the documents table is fixture-scale at test SFs; writing
    # replay files is harness work, not an engine path (at production
    # scale the stream IS the source — nothing is collected)
    rows = docs.select("doc_id", "text").collect()
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.doc_id % 4],
        fmt=lambda r: f"{r.doc_id}\t" + (r.text or "").replace("\t", " ").replace("\n", " "),
    )
    parts = F.split("value", "\t", 2)
    parsed = file_lines_stream(spark, f"{workdir}/in").select(
        parts[0].cast("long").alias("doc_id"), parts[1].alias("text")
    )
    encoded = _text.bpe_encode_stats(parsed, merges)
    name = f"tok_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            _async_progress(encoded.writeStream.outputMode("append"))
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.table(name).collect()  # bounded: one row per doc
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        out,
        "doc_id long, n_tokens long, n_merged_tokens long,"
        " n_chars long, stream_hash long",
    )


# --------------------------------- round-14: per-operator lag attribution


@register(
    "streaming_state_operator_split",
    oracle=f"""
    WITH {_O_BASE},
    x AS (SELECT event_id, sec // 86400 AS day, event_type FROM base
          WHERE event_id < {EVENT_CAP})
    SELECT CAST(2 AS BIGINT) AS n_state_operators,
       CAST(2 * COUNT(*) AS BIGINT) AS n_input,
       CAST(COUNT(*) AS BIGINT) AS dedupe_rows_updated,
       CAST(COUNT(*) AS BIGINT) AS dedupe_state_rows,
       (SELECT CAST(COUNT(*) AS BIGINT)
          FROM (SELECT DISTINCT day, event_type FROM x)) AS agg_state_rows,
       (SELECT CAST(COUNT(*) AS BIGINT)
          FROM (SELECT DISTINCT event_id % 3, day, event_type FROM x)
       ) AS agg_rows_updated,
       1::INT AS dup_batches_zero_updates,
       1::INT AS time_split_present,
       1::INT AS instances_ok
    FROM x
    """,
    doc="EXT per-STATE-OPERATOR lag attribution, LIVE (r13 verdict task "
    "6) — the next level below streaming_trigger_sla_metrics' whole-"
    "query trigger latency: when a multi-operator stateful pipeline "
    "misses its SLA, production debugging needs to know WHICH state "
    "operator ate the time, from the query's OWN "
    "StreamingQueryProgress.stateOperators[] — not from logs. This "
    "row runs the canonical two-operator shape (streaming "
    "dropDuplicates -> watermarked tumbling-day count, the exact "
    "dedup-then-aggregate chain a 100 TB ingest pipeline runs), "
    "replaying every event TWICE across 6 mtime-ordered micro-batches "
    "(first copies in batches 0-2 by event_id%3, duplicate echoes in "
    "batches 3-5), and attributes per-operator work from the progress "
    "stream, keyed by operatorName ('dedupe', 'stateStoreSave' — "
    "PINNED: an operator the plan didn't declare, or one missing, "
    "raises): dedupe updates exactly N state rows (one per distinct "
    "event_id — the duplicate echoes update ZERO), the downstream agg "
    "updates exactly sum-over-batches of distinct (day,key) groups "
    "per residue class, and the duplicate-only batches drive ZERO "
    "updates through BOTH operators (the cross-batch dedup proof read "
    "from metrics instead of results). UNIT pins, the "
    "watermark_metrics discipline: allUpdatesTimeMs / "
    "allRemovalsTimeMs / commitTimeMs must be present and "
    "non-negative for every (batch, operator); each operator's "
    "per-batch commitTimeMs is a SUM across its state-store instances "
    "so it is pinned <= triggerExecution * numStateStoreInstances "
    "(per-instance commit cannot exceed the batch wall); and "
    "numStateStoreInstances == numShufflePartitions == the session's "
    "fixture shuffle parallelism for BOTH operators (state stores are "
    "one-per-shuffle-partition — the fact that makes state capacity "
    "scale with the cluster, SURVEY 100 TB story). Wall-time VALUES "
    "are host-dependent so the oracle checks the deterministic "
    "data-derived counters; the unit/presence/zero-update invariants "
    "RAISE on violation rather than emitting a lying 1",
)
def q_streaming_state_operator_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    # bounded: EVENT_CAP rows by construction (shared streamed-slice cap);
    # replay-file writing is harness work, NOT an engine path
    rows = b.select("event_id", "sec", "event_type").collect()
    workdir = tempfile.mkdtemp(prefix="ssa_opsplit_")
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.event_id % 3, 3 + r.event_id % 3],
        fmt=lambda r: f"{r.event_id},{r.sec},{r.event_type}",
    )
    parts = F.split("value", ",")
    parsed = file_lines_stream(spark, f"{workdir}/in").select(
        parts[0].cast("long").alias("event_id"),
        F.timestamp_seconds(parts[1].cast("long")).alias("ts"),
        parts[2].alias("event_type"),
    )
    counted = (
        parsed.withWatermark("ts", "36500 days")
        .dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    name = f"opsplit_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            counted.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            # bounded: one progress dict per micro-batch (6 replay files)
            progresses = list(q.recentProgress)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
        spark.catalog.dropTempView(name)

    # scheduler tail ticks add no-data batches; attribution reads data ones
    data = sorted(
        (p for p in progresses if int(p["numInputRows"]) > 0),
        key=lambda p: int(p["batchId"]),
    )
    by_name: dict[str, list] = {}
    for p in data:
        for so in p.get("stateOperators", []):
            by_name.setdefault(so["operatorName"], []).append((p, so))
    names = sorted(by_name)
    if names != ["dedupe", "stateStoreSave"]:
        raise RuntimeError(
            f"state-operator split: plan declared operators {names}, "
            "expected ['dedupe', 'stateStoreSave']"
        )
    fixture_parts = int(_FIXTURE_SHUFFLE_PARTS)
    time_keys = ("allUpdatesTimeMs", "allRemovalsTimeMs", "commitTimeMs")
    for op_name, pairs in by_name.items():
        if len(pairs) != len(data):
            raise RuntimeError(
                f"operator {op_name} missing from some batch's progress: "
                f"{len(pairs)} != {len(data)}"
            )
        for p, so in pairs:
            missing = [k for k in time_keys if int(so.get(k, -1)) < 0]
            if missing:
                raise RuntimeError(
                    f"operator {op_name} batch {p['batchId']}: time split "
                    f"metrics missing/negative: {missing} in {so}"
                )
            trig = int((p.get("durationMs") or {}).get("triggerExecution", 0))
            if int(so["commitTimeMs"]) > trig * int(so["numStateStoreInstances"]):
                raise RuntimeError(
                    f"operator {op_name} batch {p['batchId']}: commitTimeMs "
                    f"{so['commitTimeMs']} exceeds triggerExecution*instances "
                    f"{trig}*{so['numStateStoreInstances']} — unit pin broken"
                )
            if (
                int(so["numStateStoreInstances"]) != fixture_parts
                or int(so["numShufflePartitions"]) != fixture_parts
            ):
                raise RuntimeError(
                    f"operator {op_name}: state-store instances "
                    f"{so['numStateStoreInstances']} / shuffle partitions "
                    f"{so['numShufflePartitions']} != fixture {fixture_parts}"
                )
    # the last 3 data batches replay only duplicate echoes: the dedupe
    # operator must absorb them (0 updates) and the agg must see nothing
    if len(data) != 6:
        raise RuntimeError(f"expected 6 data micro-batches, got {len(data)}")
    for p in data[3:]:
        upd = {
            so["operatorName"]: int(so["numRowsUpdated"])
            for so in p["stateOperators"]
        }
        if any(v != 0 for v in upd.values()):
            raise RuntimeError(
                f"duplicate-echo batch {p['batchId']} updated state: {upd}"
            )
    n_input = sum(int(p["numInputRows"]) for p in data)
    ded = [so for _, so in by_name["dedupe"]]
    agg = [so for _, so in by_name["stateStoreSave"]]
    return spark.createDataFrame(
        [
            (
                len(names),
                n_input,
                sum(int(so["numRowsUpdated"]) for so in ded),
                max(int(so["numRowsTotal"]) for so in ded),
                max(int(so["numRowsTotal"]) for so in agg),
                sum(int(so["numRowsUpdated"]) for so in agg),
                1,
                1,
                1,
            )
        ],
        "n_state_operators long, n_input long, dedupe_rows_updated long,"
        " dedupe_state_rows long, agg_state_rows long, agg_rows_updated long,"
        " dup_batches_zero_updates int, time_split_present int,"
        " instances_ok int",
    )


def _wp_encode_sql_batch_twin() -> str:
    """The batch WordPiece-encode oracle, verbatim (lazy import — same
    one-way load-order rule as the BPE twin above)."""
    from spark_stream_analyzer_spark.plans.q_llm import _wp_encode_sql

    return _wp_encode_sql()


@register(
    "streaming_wordpiece_docs",
    doc="EXT WordPiece SERVING in-stream, LIVE (round-14) — completes "
    "in-stream serving across the tokenizer TRIAD (BPE replace-chain "
    "r13; WordPiece here; unigram's DP would follow identically): the "
    "two-family vocab is seeded in batch (one capped table crosses "
    "the driver), then the greedy longest-match encode runs INSIDE "
    "Structured Streaming as a pure-expression PROJECTION — the "
    "aggregate-HOF greedy nested in a transform over each doc's words "
    "(path='inline': no distinct, no join, zero Python, zero state, "
    "append mode). The oracle is the BATCH WordPiece-encode SQL "
    "verbatim: the row proves stream-served WordPiece tokenization is "
    "byte-identical (per-doc counts AND the md5-60 stream "
    "fingerprint) to the batch pipeline that seeded the vocab — the "
    "mix-shards-safely parity, third family",
    oracle=_wp_encode_sql_batch_twin(),
)
def q_streaming_wordpiece_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_analyzer_spark.operators import text as _text
    from spark_stream_analyzer_spark.sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    vocab, _ = _text.wordpiece_vocab(docs)  # bounded: capped vocab table

    workdir = tempfile.mkdtemp(prefix="ssa_wptok_")
    # NULL-text guard (the streaming_tokenize_docs contract): name the
    # fixture assumption rather than letting a NULL-text doc take the
    # two sides through different code paths
    n_null = docs.filter(F.col("text").isNull()).count()  # bounded: one row
    if n_null:
        raise AssertionError(
            f"streaming_wordpiece_docs fixture assumption violated: "
            f"{n_null} NULL-text documents — the replay/oracle parity "
            "contract requires non-NULL text"
        )
    # bounded: fixture-scale documents table; replay-file writing is
    # harness work, not an engine path
    rows = docs.select("doc_id", "text").collect()
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.doc_id % 4],
        fmt=lambda r: f"{r.doc_id}\t"
        + (r.text or "").replace("\t", " ").replace("\n", " "),
    )
    parts = F.split("value", "\t", 2)
    parsed = file_lines_stream(spark, f"{workdir}/in").select(
        parts[0].cast("long").alias("doc_id"), parts[1].alias("text")
    )
    encoded = _text.wordpiece_encode_stats(parsed, vocab, path="inline")
    name = f"wptok_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            _async_progress(encoded.writeStream.outputMode("append"))
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.table(name).collect()  # bounded: one row per doc
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        out,
        "doc_id long, n_pieces long, n_continuations long,"
        " n_unk_words long, n_chars long, stream_hash long",
    )


def _uni_encode_sql_batch_twin() -> str:
    """The batch unigram-encode oracle, verbatim (lazy import — same
    one-way load-order rule as the tokenizer twins above)."""
    from spark_stream_analyzer_spark.plans.q_llm import _uni_encode_sql

    return _uni_encode_sql(2)


@register(
    "streaming_unigram_docs",
    doc="EXT unigram-LM SERVING in-stream, LIVE (round-14) — the third "
    "and last tokenizer family served in-stream (BPE replace-chain, "
    "WordPiece inline greedy, and now the Viterbi DP): the model is "
    "hard-EM-trained in batch (one vocab-bounded usage table crosses "
    "the driver per round), then the full forward-DP + backtrack runs "
    "INSIDE Structured Streaming as a pure-expression PROJECTION — "
    "the DP nested in a transform over each doc's words, with the DP "
    "and backpointer arrays LET-bound via single-element transform "
    "arrays so each sub-expression appears once (no distinct, no "
    "join, zero Python, zero state, append mode). Oracle is the BATCH "
    "unigram-encode SQL verbatim (the shared unrolled train+apply "
    "chain), so the row proves stream-served Viterbi segmentation is "
    "byte-identical — counts AND md5-60 fingerprint — to the batch "
    "pipeline that trained the model: the serving triad complete, "
    "every family mix-shards-safe",
    oracle=_uni_encode_sql_batch_twin(),
)
def q_streaming_unigram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_analyzer_spark.operators import text as _text
    from spark_stream_analyzer_spark.sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    # bounded: one vocab-sized usage table per EM round (train half)
    _, _, probs = _text.unigram_train(docs, iters=2)

    workdir = tempfile.mkdtemp(prefix="ssa_unitok_")
    # NULL-text guard (the streaming_tokenize_docs contract)
    n_null = docs.filter(F.col("text").isNull()).count()  # bounded: one row
    if n_null:
        raise AssertionError(
            f"streaming_unigram_docs fixture assumption violated: "
            f"{n_null} NULL-text documents — the replay/oracle parity "
            "contract requires non-NULL text"
        )
    # bounded: fixture-scale documents table; replay-file writing is
    # harness work, not an engine path
    rows = docs.select("doc_id", "text").collect()
    _write_batches(
        rows,
        f"{workdir}/in",
        batch_of=lambda r: [r.doc_id % 4],
        fmt=lambda r: f"{r.doc_id}\t"
        + (r.text or "").replace("\t", " ").replace("\n", " "),
    )
    parts = F.split("value", "\t", 2)
    parsed = file_lines_stream(spark, f"{workdir}/in").select(
        parts[0].cast("long").alias("doc_id"), parts[1].alias("text")
    )
    encoded = _text.unigram_encode_stats(parsed, probs, path="inline")
    name = f"unitok_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _FIXTURE_SHUFFLE_PARTS)
    try:
        q = (
            _async_progress(encoded.writeStream.outputMode("append"))
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.table(name).collect()  # bounded: one row per doc
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        out,
        "doc_id long, n_pieces long, n_multi_pieces long,"
        " n_chars long, stream_hash long",
    )
