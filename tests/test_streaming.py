"""Streaming semantics tests (SURVEY §5.3): file-replay sources + memory
sink with processAllAvailable — no Kafka broker needed.

Covers: update-mode emission, cumulative totals across micro-batches,
union of two source streams, exact-parity snapshot quirks (batch-local
maxima, first-non-blank name), checkpoint restart without double-count,
and lifecycle control.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from spark_stream_analyzer_spark.operators.events import union_streams
from spark_stream_analyzer_spark.operators.player_stats import player_stats
from spark_stream_analyzer_spark.sources.wire import parse_damage_lines, parse_kill_lines
from spark_stream_analyzer_spark.streaming.lifecycle import StreamController
from spark_stream_analyzer_spark.streaming.sinks import to_memory, to_parquet_snapshots
from spark_stream_analyzer_spark.streaming.sources import file_lines_stream, rate_stream
from spark_stream_analyzer_spark.streaming.stateful import (
    running_player_stats_stream,
    snapshot_player_stats_stream,
)

KILL_B0 = "x,12800,1,Alice,S_A,x,x,Bob,S_B,x,x,Cara,S_C\n"  # sec 100
KILL_B1 = "x,25600,2,Bob,S_B,x,x,Alice,S_A,x,x,0,S_C\n"  # sec 200, assist dropped
DMG_B0 = "x,12800,1,x,x,100,70,x,x,S_A\n"  # 30 dmg by Alice
DMG_B1 = "x,25600,2,x,x,100,55,x,x,S_B\n"  # 45 dmg by Bob


def _write(p, name, text):
    (p / name).write_text(text)


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_union_streaming_running_agg_matches_batch(spark, tmp_path):
    kills_dir, dmg_dir = tmp_path / "kills", tmp_path / "dmg"
    kills_dir.mkdir(), dmg_dir.mkdir()
    _write(kills_dir, "000.txt", KILL_B0)
    _write(kills_dir, "001.txt", KILL_B1)
    _write(dmg_dir, "000.txt", DMG_B0 + DMG_B1)

    k = parse_kill_lines(file_lines_stream(spark, str(kills_dir)))
    d = parse_damage_lines(file_lines_stream(spark, str(dmg_dir)))
    unioned = union_streams(k, d).drop("player")
    q = to_memory(running_player_stats_stream(unioned), "t_running")
    _drain(q)

    # memory/update sink emits one row per key per touching batch; the two
    # sources' batches interleave nondeterministically, but counters are
    # monotone — per-key maxima ARE the final state
    final = {
        r.steam_id: r
        for r in spark.sql(
            "SELECT steam_id, max(kills) AS kills, max(deaths) AS deaths, "
            "max(assists) AS assists, max(damage) AS damage FROM t_running "
            "GROUP BY steam_id"
        ).collect()
    }
    # batch twin over the same lines
    k_b = parse_kill_lines(spark.read.text(str(kills_dir)))
    d_b = parse_damage_lines(spark.read.text(str(dmg_dir)))
    batch = {r.steam_id: r for r in player_stats(union_streams(k_b, d_b).drop("player")).collect()}

    assert set(final) == set(batch) == {"S_A", "S_B", "S_C"}
    for sid in batch:
        s, b = final[sid], batch[sid]
        assert (s.kills, s.deaths, s.assists) == (b.kills, b.deaths, b.assists), sid
        assert abs(s.damage - b.damage) < 1e-9
    assert batch["S_A"].kills == 1 and batch["S_A"].deaths == 1
    assert batch["S_C"].assists == 1  # second assist dropped by the "0" guard


def test_snapshot_stream_exact_parity_quirks(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 0: Alice kills (named), damage by S_A (blank name)
    _write(src, "000.txt", KILL_B0 + DMG_B0)
    # batch 1: only damage by S_A → name must persist from state
    _write(src, "001.txt", "x,38400,3,x,x,100,90,x,x,S_A\n")

    events = parse_kill_lines(file_lines_stream(spark, str(src))).unionByName(
        parse_damage_lines(file_lines_stream(spark, str(src)))
    )
    q = to_memory(snapshot_player_stats_stream(events), "t_snap")
    _drain(q)
    rows = spark.sql("SELECT * FROM t_snap WHERE steam_id = 'S_A' ORDER BY second").collect()
    # one snapshot per batch the key appeared in
    assert len(rows) == 2
    b0, b1 = rows
    # batch-local maxima: second is per-batch, not lifetime
    assert b0.second == 100 and b1.second == 300
    # cumulative counters
    assert b0.kills == 1 and b1.kills == 1
    assert abs(b0.damage - 30.0) < 1e-9 and abs(b1.damage - 40.0) < 1e-9
    # first-non-blank name persisted in state across batches
    assert b0.player_name == "Alice" and b1.player_name == "Alice"


def test_snapshot_stream_name_is_batch_first(spark, tmp_path):
    """Reference PlayerStatsUpdater recomputes the first non-blank name
    PER BATCH, falling back to stored state only when the whole batch is
    blank — a later batch carrying a new name must win."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "000.txt", "x,12800,1,Old,S_X,x,x,Bob,S_B,x,x,0,S_C\n")
    _write(src, "001.txt", "x,25600,2,New,S_X,x,x,Bob,S_B,x,x,0,S_C\n")

    events = parse_kill_lines(file_lines_stream(spark, str(src))).unionByName(
        parse_damage_lines(file_lines_stream(spark, str(src)))
    )
    q = to_memory(snapshot_player_stats_stream(events), "t_snap_name")
    _drain(q)
    rows = spark.sql(
        "SELECT * FROM t_snap_name WHERE steam_id = 'S_X' ORDER BY second"
    ).collect()
    assert [r.player_name for r in rows] == ["Old", "New"]


def _snapshot_events(spark, src):
    return parse_kill_lines(file_lines_stream(spark, str(src))).unionByName(
        parse_damage_lines(file_lines_stream(spark, str(src)))
    )


def test_snapshot_stream_name_tie_rule_and_native_plan(spark, tmp_path):
    """Two names for one key in ONE batch: the aggregate has no row
    order, so the earliest event (lowest second) names the key, and at
    equal seconds the lexicographically lowest name wins. The plan is a
    native streaming aggregation: no Python operator, a StateStoreSave."""
    src = tmp_path / "src"
    src.mkdir()
    _write(
        src,
        "000.txt",
        "x,25600,2,Zed,S_X,x,x,Bob,S_B,x,x,0,S_C\n"  # sec 200
        "x,12800,1,Yan,S_X,x,x,Bob,S_B,x,x,0,S_C\n"  # sec 100: earliest
        "x,12800,1,Bo,S_Y,x,x,Cy,S_C,x,x,0,S_C\n"
        "x,12800,1,Al,S_Y,x,x,Cy,S_C,x,x,0,S_C\n",  # same second: lowest name
    )
    q = to_memory(snapshot_player_stats_stream(_snapshot_events(spark, src)), "t_snap_tie")
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    names = {
        r.steam_id: (r.player_name, r.second, r.kills)
        for r in spark.table("t_snap_tie").collect()
    }
    assert names["S_X"] == ("Yan", 200, 2)
    assert names["S_Y"] == ("Al", 100, 2)
    assert "StateStoreSave" in plan
    assert "Python" not in plan and "Pandas" not in plan, plan


def test_snapshot_stream_restart_no_double_count_second_batch_local(spark, tmp_path):
    """Restart from the checkpoint: counters continue from the committed
    state (not re-counted), the post-restart batch's ``second`` and
    ``round`` are its own even when lower than the batch before the
    restart, and a key unnamed in it keeps its stored name."""
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    _write(src, "000.txt", KILL_B0 + DMG_B0)  # sec 100, round 1

    def run():
        q = to_parquet_snapshots(
            snapshot_player_stats_stream(_snapshot_events(spark, src)), str(out), str(ckpt)
        )
        _drain(q)

    run()
    # batch 1, after the restart: S_A only takes 5 damage (blank name) at
    # sec 50, round 0, so its stored name carries over; Bob kills Dana
    _write(src, "001.txt", "x,6400,0,x,x,100,95,x,x,S_A\nx,6400,0,Bob,S_B,x,x,Dana,S_D,x,x,0,S_C\n")
    run()
    rows = {
        (r.batch_id, r.steam_id): r
        for r in spark.read.option("basePath", str(out)).parquet(str(out)).collect()
    }
    a0, a1 = rows[(0, "S_A")], rows[(1, "S_A")]
    assert (a0.kills, a0.deaths, a0.damage, a0.second) == (1, 0, 30.0, 100)
    assert (a1.kills, a1.deaths, a1.damage, a1.second) == (1, 0, 35.0, 50)
    assert a1.player_name == "Alice" and a1.kd_ratio == 1.0
    assert a1.damage_per_round is None  # batch-local round 0, not round 1
    b1 = rows[(1, "S_B")]
    assert (b1.kills, b1.deaths, b1.player_name, b1.second) == (1, 1, "Bob", 50)


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    _write(src, "000.txt", KILL_B0)

    def build():
        ev = parse_kill_lines(file_lines_stream(spark, str(src)))
        return running_player_stats_stream(ev)

    q = to_parquet_snapshots(build(), str(out), str(ckpt))
    q.processAllAvailable()
    q.stop()

    _write(src, "001.txt", KILL_B1)
    q = to_parquet_snapshots(build(), str(out), str(ckpt))
    q.processAllAvailable()
    q.stop()

    snaps = spark.read.option("basePath", str(out)).parquet(str(out))
    latest = {
        r.steam_id: r
        for r in snaps.withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "steam_id"
                ).orderBy(F.desc("batch_id"))
            ),
        )
        .filter("_rn = 1")
        .collect()
    }
    # totals across restart: Alice 1 kill + 1 death (batch 1), Bob 1 kill + 1 death
    assert latest["S_A"].kills == 1 and latest["S_A"].deaths == 1
    assert latest["S_B"].kills == 1 and latest["S_B"].deaths == 1
    # batch partitions are unique (idempotent overwrite, no replays doubled)
    batches = [r.batch_id for r in snaps.select("batch_id").distinct().collect()]
    assert len(batches) == len(set(batches))


def test_lifecycle_controller(spark):
    ctl = StreamController()
    assert ctl.status() == {"running": False}
    assert ctl.stop() is False

    def factory():
        df = rate_stream(spark, rows_per_second=10).selectExpr("CAST(value AS STRING) AS value")
        return to_memory(df, "t_rate", output_mode="append")

    assert ctl.start(factory) is True
    assert ctl.start(factory) is False  # refuse double-start (reference guard)
    deadline = time.time() + 30
    while not ctl.is_running and time.time() < deadline:
        time.sleep(0.2)
    st = ctl.status()
    assert st["running"] is True and "id" in st
    assert ctl.stop() is True
    assert ctl.status() == {"running": False}


def test_windowed_agg_with_watermark_drops_late_rows(spark, tmp_path):
    """Tumbling-window append mode with a watermark: a finalized window is
    emitted exactly once, and a row arriving after its window was evicted
    is dropped (EXT §2.9 — the reference accepts all late data; the
    windows module makes the bound explicit). Note Spark only GUARANTEES
    dropping once the window state is evicted — same-batch late merges are
    best-effort — so the late row arrives two batches after the advancer."""
    import os
    import time as _time
    import uuid

    from spark_stream_analyzer_spark.streaming.windows import tumbling_agg

    src = tmp_path / "win_src"
    src.mkdir()
    # batch 0: two events in window [00:00, 01:00) + one at 03:10 that
    # advances the watermark (10 min delay) far past the first window
    _write(src, "000.txt", "2024-01-01 00:10:00,a\n2024-01-01 00:20:00,b\n2024-01-01 03:10:00,c\n")
    # batch 1: runs with watermark 03:00 → window [00:00,01:00) finalized
    _write(src, "001.txt", "2024-01-01 03:20:00,d\n")
    # batch 2: late arrival for the already-evicted window → dropped
    _write(src, "002.txt", "2024-01-01 00:30:00,late\n")
    # file source orders batches by modification time — pin it
    now = _time.time()
    for i, fname in enumerate(("000.txt", "001.txt", "002.txt")):
        os.utime(src / fname, (now - 60 + 20 * i, now - 60 + 20 * i))

    lines = file_lines_stream(spark, str(src))
    events = lines.select(
        F.split("value", ",").getItem(0).cast("timestamp").alias("ts"),
        F.split("value", ",").getItem(1).alias("tag"),
    )
    win = tumbling_agg(
        events, "ts", "1 hour", [], [F.count("*").alias("n")], watermark="10 minutes"
    ).select(F.unix_timestamp("window.start").alias("ws"), "n")

    name = f"win_{uuid.uuid4().hex[:8]}"
    q = win.writeStream.outputMode("append").format("memory").queryName(name).start()
    _drain(q)
    rows = spark.table(name).collect()
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    # exactly ONE emission for the first window, with only the 2 on-time
    # rows; the post-eviction late row neither re-emitted nor extended it
    first = [r for r in rows if r.ws == base]
    assert [r.n for r in first] == [2]
    # the 03:00 window is never finalized (nothing advances the watermark
    # past 04:00), so append mode hasn't emitted it
    assert all(r.ws == base for r in rows)


def test_session_window_stream_matches_batch(spark, tmp_path):
    """Stream/batch consistency for session windows: same builder, same
    result (the engine's windows are plan-agnostic by construction)."""
    import uuid

    from spark_stream_analyzer_spark.streaming.windows import session_agg

    rows = [
        ("2024-01-01 00:00:00", "u1"),
        ("2024-01-01 00:04:00", "u1"),  # merges (gap < 5 min)
        ("2024-01-01 00:20:00", "u1"),  # new session
        ("2024-01-01 00:00:00", "u2"),
    ]
    src = tmp_path / "sess_src"
    src.mkdir()
    _write(src, "000.txt", "".join(f"{t},{u}\n" for t, u in rows))

    def build(df):
        ev = df.select(
            F.split("value", ",").getItem(0).cast("timestamp").alias("ts"),
            F.split("value", ",").getItem(1).alias("uid"),
        )
        return session_agg(ev, "ts", "5 minutes", ["uid"], [F.count("*").alias("n")]).select(
            "uid", F.unix_timestamp("session_window.start").alias("ss"), "n"
        )

    batch_df = spark.createDataFrame([(f"{t},{u}",) for t, u in rows], ["value"])
    expected = {(r.uid, r.ss, r.n) for r in build(batch_df).collect()}
    assert len(expected) == 3  # u1×2 sessions, u2×1

    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        build(file_lines_stream(spark, str(src)))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    _drain(q)
    got = {(r.uid, r.ss, r.n) for r in spark.table(name).collect()}
    assert got == expected


def test_stream_static_broadcast_join(spark, tmp_path):
    """Stream⋈static dim join — the in-pipeline form of the reference's
    per-row sink lookup (J6): the dim is joinable on every micro-batch
    without state."""
    import uuid

    src = tmp_path / "ss_src"
    src.mkdir()
    _write(src, "000.txt", "S_A,5\nS_B,7\nS_X,1\n")

    dim = spark.createDataFrame(
        [("S_A", "Alice", "t1"), ("S_B", "Bob", "t2")], ["steam_id", "name", "team"]
    )
    lines = file_lines_stream(spark, str(src))
    ev = lines.select(
        F.split("value", ",").getItem(0).alias("steam_id"),
        F.split("value", ",").getItem(1).cast("long").alias("amount"),
    )
    joined = ev.join(F.broadcast(dim), "steam_id", "left").select(
        "steam_id", "amount", F.coalesce("name", F.lit("?")).alias("name")
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    _drain(q)
    got = {(r.steam_id, r.amount, r.name) for r in spark.table(name).collect()}
    assert got == {("S_A", 5, "Alice"), ("S_B", 7, "Bob"), ("S_X", 1, "?")}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps one row
    per key across micro-batches while the key is inside the watermark —
    the streaming face of the dedup operator family."""
    import uuid

    src = tmp_path / "dd_src"
    src.mkdir()
    _write(src, "000.txt", "2024-01-01 00:00:01,k1\n2024-01-01 00:00:02,k1\n2024-01-01 00:00:03,k2\n")
    _write(src, "001.txt", "2024-01-01 00:00:04,k1\n2024-01-01 00:00:05,k3\n")
    import os
    import time as _time

    now = _time.time()
    os.utime(src / "000.txt", (now - 30, now - 30))
    os.utime(src / "001.txt", (now, now))

    lines = file_lines_stream(spark, str(src))
    ev = lines.select(
        F.split("value", ",").getItem(0).cast("timestamp").alias("ts"),
        F.split("value", ",").getItem(1).alias("k"),
    ).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["k"])

    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = deduped.writeStream.outputMode("append").format("memory").queryName(name).start()
    _drain(q)
    ks = sorted(r.k for r in spark.table(name).collect())
    assert ks == ["k1", "k2", "k3"]  # k1's three copies collapsed to one


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream⋈stream equi-join with time bound: kills enriched with the
    damage amount recorded for the same player within 60 s — both sides
    watermarked so join state is evictable (bounded at scale)."""
    import uuid

    kdir, ddir = tmp_path / "kj", tmp_path / "dj"
    kdir.mkdir(), ddir.mkdir()
    _write(kdir, "000.txt", "2024-01-01 00:00:10,S_A\n2024-01-01 00:05:00,S_B\n")
    _write(ddir, "000.txt", "2024-01-01 00:00:30,S_A,40\n2024-01-01 00:20:00,S_B,9\n")

    kills = file_lines_stream(spark, str(kdir)).select(
        F.split("value", ",").getItem(0).cast("timestamp").alias("k_ts"),
        F.split("value", ",").getItem(1).alias("k_sid"),
    ).withWatermark("k_ts", "10 minutes")
    dmgs = file_lines_stream(spark, str(ddir)).select(
        F.split("value", ",").getItem(0).cast("timestamp").alias("d_ts"),
        F.split("value", ",").getItem(1).alias("d_sid"),
        F.split("value", ",").getItem(2).cast("long").alias("amount"),
    ).withWatermark("d_ts", "10 minutes")

    joined = kills.join(
        dmgs,
        F.expr(
            "k_sid = d_sid AND d_ts BETWEEN k_ts AND k_ts + INTERVAL 60 seconds"
        ),
    ).select("k_sid", "amount")

    name = f"ssj2_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    _drain(q)
    got = {(r.k_sid, r.amount) for r in spark.table(name).collect()}
    # S_A's damage lands 20s after the kill → joins; S_B's is 15min late → no
    assert got == {("S_A", 40)}


def test_kafka_frame_twin_feeds_identical_pipeline(spark, tmp_path):
    """Machine-check the config-swap claim (reference S1/S2) without a
    broker: replay the wire lines through a stream shaped EXACTLY like
    the kafka connector's load() relation (binary value + metadata
    columns), run the kafka-specific projection + the real parser, and
    assert end-to-end equality with the plain file-source twin."""
    from spark_stream_analyzer_spark.streaming.sources import (
        KAFKA_RAW_SCHEMA,
        lines_from_kafka_frames,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write(src, "000.txt", KILL_B0 + KILL_B1)

    # file replay dressed up as kafka frames: binary payload + metadata
    frames = file_lines_stream(spark, str(src)).selectExpr(
        "CAST(NULL AS BINARY) AS key",
        "encode(value, 'UTF-8') AS value",
        "'game.kills' AS topic",
        "CAST(0 AS INT) AS partition",
        "CAST(crc32(value) AS BIGINT) AS offset",
        "current_timestamp() AS timestamp",
        "CAST(0 AS INT) AS timestampType",
    )
    # names+types must line up with the connector relation (nullability
    # differs trivially: literal-derived columns are non-nullable)
    assert [(f.name, f.dataType) for f in frames.schema.fields] == [
        (f.name, f.dataType)
        for f in spark.createDataFrame([], KAFKA_RAW_SCHEMA).schema.fields
    ]

    lines = lines_from_kafka_frames(frames)
    # the kafka-specific projection's output is plan-compatible with the
    # file source: same schema, so the downstream pipeline is untouched
    assert lines.schema == file_lines_stream(spark, str(src)).schema

    q = to_memory(parse_kill_lines(lines), "t_kafka_twin", output_mode="append")
    _drain(q)
    got = {
        (r.steam_id, r.type, r.second, r.round)
        for r in spark.table("t_kafka_twin").collect()
    }
    want = {
        (r.steam_id, r.type, r.second, r.round)
        for r in parse_kill_lines(spark.read.text(str(src))).collect()
    }
    assert got == want and len(got) == 5


def test_kafka_twin_downstream_plan_node_equality(spark, tmp_path):
    """Plan-level form of the config-swap claim: the analyzed logical
    plans of (kafka-shaped source → value-decode → parser) and
    (file source → parser) must share every operator node above the
    source boundary — the only nodes unique to the kafka side are its
    metadata-shaped leaf and the single value-decode projection, and the
    only node unique to the file side is its leaf.  So a kafka swap-in
    changes the physical source and NOTHING else in the query plan."""
    import re

    from spark_stream_analyzer_spark.sources.wire import parse_kill_lines
    from spark_stream_analyzer_spark.streaming.sources import lines_from_kafka_frames

    src = tmp_path / "src"
    src.mkdir()
    _write(src, "000.txt", KILL_B0)

    frames = file_lines_stream(spark, str(src)).selectExpr(
        "CAST(NULL AS BINARY) AS key",
        "encode(value, 'UTF-8') AS value",
        "'game.kills' AS topic",
        "CAST(0 AS INT) AS partition",
        "CAST(crc32(value) AS BIGINT) AS offset",
        "current_timestamp() AS timestamp",
        "CAST(0 AS INT) AS timestampType",
    )

    def plan_lines(df):
        s = df._jdf.queryExecution().analyzed().toString()
        out = []
        for line in s.splitlines():
            # strip tree-drawing prefix and normalize expression ids so
            # structurally identical nodes compare equal
            line = re.sub(r"^[\s:+|-]*", "", line)
            line = re.sub(r"#\d+", "#n", line)
            # lambda variable names carry a global counter (x_1, x_2, …)
            line = re.sub(r"lambda x_\d+", "lambda x", line)
            if line:
                out.append(line)
        return out

    k_plan = plan_lines(parse_kill_lines(lines_from_kafka_frames(frames)))
    f_plan = plan_lines(parse_kill_lines(file_lines_stream(spark, str(src))))

    from collections import Counter

    k_only = Counter(k_plan) - Counter(f_plan)
    f_only = Counter(f_plan) - Counter(k_plan)
    # every kafka-side-only node is the value decode or source dressing
    for line in k_only:
        assert re.match(
            r"~?Project \[cast\(value#n as string\)|~?Project \[.*encode\(", line
        ) or ("Relation" in line), f"unexpected kafka-only plan node: {line}"
    # every file-side-only node is its leaf relation
    for line in f_only:
        assert "Relation" in line, f"unexpected file-only plan node: {line}"
    # and the shared downstream (parse/explode/filter nodes) is non-trivial
    shared = Counter(k_plan) & Counter(f_plan)
    assert sum(shared.values()) >= 3, (k_plan, f_plan)


def test_kafka_connector_builder_when_available(spark):
    """When the spark-sql-kafka connector jar IS on the classpath, the
    real builder must produce the same ``value:string`` relation."""
    import pytest

    from spark_stream_analyzer_spark.streaming.sources import kafka_lines_stream

    try:
        df = kafka_lines_stream(spark, "localhost:29092", "game.kills")
    except Exception as e:  # pragma: no cover - env-dependent
        pytest.skip(f"kafka connector unavailable: {type(e).__name__}")
    assert "value" in df.columns and df.isStreaming


def test_transform_with_state_parity(spark, tmp_path):
    """The transformWithState (Spark 4.x) twin emits the same snapshots
    as the native form: cumulative counters, batch-local
    maxima, state-persisted names.

    Gated: the TWS state server speaks protobuf to the Python worker;
    skip where google.protobuf isn't installed (this container)."""
    pytest.importorskip("google.protobuf.descriptor")
    from spark_stream_analyzer_spark.streaming.stateful import (
        snapshot_player_stats_stream_tws,
    )

    src = tmp_path / "src_tws"
    src.mkdir()
    _write(src, "000.txt", KILL_B0 + DMG_B0)
    _write(src, "001.txt", "x,38400,3,x,x,100,90,x,x,S_A\n")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = parse_kill_lines(file_lines_stream(spark, str(src))).unionByName(
            parse_damage_lines(file_lines_stream(spark, str(src)))
        )
        q = to_memory(snapshot_player_stats_stream_tws(events), "t_tws")
        _drain(q)
        rows = spark.sql(
            "SELECT * FROM t_tws WHERE steam_id = 'S_A' ORDER BY second"
        ).collect()
        assert len(rows) == 2
        b0, b1 = rows
        assert b0.second == 100 and b1.second == 300
        assert b0.kills == 1 and b1.kills == 1
        assert abs(b0.damage - 30.0) < 1e-9 and abs(b1.damage - 40.0) < 1e-9
        assert b0.player_name == "Alice" and b1.player_name == "Alice"
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_tws_processor_logic_parity_in_process(spark, tmp_path):
    """The StatefulProcessor twin folds IDENTICALLY to the live native
    snapshot stream — the processor driven WITHOUT the streaming machinery
    against a stub state handle, the native stream over the same two
    batches as replay files (cumulative counters, batch-local maxima,
    blank-name fallback, damage accumulation).

    This is the ungated counterpart of test_transform_with_state_parity:
    the gated test exercises the protobuf transport where available; this
    one pins the processor's fold logic everywhere, so the twin is
    logic-tested even in protobuf-less containers.
    """
    import json
    import os

    import pandas as pd

    from spark_stream_analyzer_spark.streaming.stateful import _make_snapshot_processor

    class StubValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class StubHandle:
        def __init__(self):
            self.state = StubValueState()

        def getValueState(self, name, ddl):
            return self.state

    batch0 = pd.DataFrame(
        {
            "player": ["Alice", "", ""],
            "steam_id": ["S_A"] * 3,
            "type": ["kill", "damage", "assist"],
            "second": [100, 120, 90],
            "amount": [None, 30.0, None],
            "round": [1, 1, 1],
        }
    )
    batch1 = pd.DataFrame(
        {
            "player": ["", ""],
            "steam_id": ["S_A"] * 2,
            "type": ["death", "damage"],
            "second": [300, 280],
            "amount": [None, 10.0],
            "round": [3, 3],
        }
    )

    proc = _make_snapshot_processor()
    proc.init(StubHandle())
    tws_rows = [
        pd.concat(list(proc.handleInputRows(("S_A",), iter([b]), None))).iloc[0].to_dict()
        for b in (batch0, batch1)
    ]

    src = tmp_path / "events"
    src.mkdir()
    # the file source orders pending files by millisecond mtime: pin it
    now = time.time()
    for i, b in enumerate((batch0, batch1)):
        path = src / f"{i:03d}.json"
        path.write_text(
            "".join(
                json.dumps({k: (None if pd.isna(v) else v) for k, v in rec.items()}) + "\n"
                for rec in b.to_dict("records")
            )
        )
        os.utime(path, (now - 60 + 10 * i, now - 60 + 10 * i))
    events = (
        spark.readStream.schema(
            "player string, steam_id string, type string, second long, "
            "amount double, round long"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = to_memory(snapshot_player_stats_stream(events), "t_native_twin")
    _drain(q)
    native_rows = [
        r.asDict() for r in spark.sql("SELECT * FROM t_native_twin ORDER BY kills + deaths").collect()
    ]
    assert len(native_rows) == 2
    for tws, nat in zip(tws_rows, native_rows):
        assert set(tws) == set(nat)
        for col, v in tws.items():
            if v is None or nat[col] is None:
                assert v is None and nat[col] is None, col
            else:
                assert nat[col] == pytest.approx(v), col

    # and the fold itself is right, not just self-consistent
    final = tws_rows[1]
    assert final["kills"] == 1 and final["deaths"] == 1 and final["assists"] == 1
    assert final["damage"] == 40.0
    assert final["second"] == 300  # batch-local max, not cumulative
    assert final["player_name"] == "Alice"  # persisted across blank batch
    assert final["kd_ratio"] == 1.0
    assert final["damage_per_round"] == pytest.approx(40.0 / 3)


def test_tws_stream_raises_clearly_without_protobuf(spark):
    """Without google.protobuf the TWS entry point must fail fast with an
    actionable message, not mid-stream in a worker."""
    try:
        import google.protobuf  # noqa: F401

        pytest.skip("protobuf present — the live gated test covers this env")
    except ImportError:
        pass
    from spark_stream_analyzer_spark.streaming.stateful import (
        snapshot_player_stats_stream_tws,
    )

    events = spark.createDataFrame(
        [("Alice", "S_A", "kill", 100, None, 1)],
        "player string, steam_id string, type string, second long, "
        "amount double, round long",
    )
    with pytest.raises(RuntimeError, match="protobuf"):
        snapshot_player_stats_stream_tws(events)


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow — the batch-drain mode a scheduled ingest job
    uses (process everything present, respecting maxFilesPerTrigger
    batch boundaries, then stop WITHOUT an external stop()): two replay
    files must surface as two micro-batches and the query must
    terminate on its own with all rows in the sink.
    """
    src = tmp_path / "src_an"
    src.mkdir()
    _write(src, "000.txt", KILL_B0)
    _write(src, "001.txt", "x,25600,2,Dana,S_D,x,x,Bob,S_B,x,x,,\n")

    events = parse_kill_lines(file_lines_stream(spark, str(src)))
    q = (
        events.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_available_now")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(60), "availableNow query must self-terminate"
    rows = spark.sql("SELECT * FROM t_available_now").collect()
    # batch 0: 3 kill-line roles (killer/victim/assister), batch 1: 2
    # (blank assister dropped by the parser's emptiness guard)
    assert len(rows) == 5
    batch_count = (
        q.lastProgress["batchId"] + 1 if q.lastProgress else None
    )
    assert batch_count == 2, f"expected 2 micro-batches, saw {batch_count}"
    spark.catalog.dropTempView("t_available_now")


def test_ttl_eviction_timer_fires_and_state_is_removed(spark, tmp_path):
    """EventTimeTimeout, three pinned behaviors: (1) an idle key's timer
    fires once the watermark passes last_event + gap and the tombstone
    carries the full totals; (2) state leaves the store — a later batch
    for that key restarts from zero; (3) a key receiving data in the
    very batch its timer would fire gets DATA, not a timeout (Spark
    processes groups with data normally; only dataless timed-out groups
    see hasTimedOut), so its state resurrects and totals merge."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from spark_stream_analyzer_spark.plans.q_streaming import _stamp_batch_file
    from spark_stream_analyzer_spark.streaming.sources import file_lines_stream
    from spark_stream_analyzer_spark.streaming.stateful import (
        ttl_evicting_totals_stream,
    )

    t0 = 1_700_000_000
    t1 = t0 + 864_000
    src = tmp_path / "in"
    src.mkdir()
    files = [
        [f"{t0},1,10", f"{t0},1,5", f"{t0},3,1"],  # keys 1 and 3 at t0
        [f"{t1},2,7"],                              # key 2 advances watermark
        [f"{t1 + 60},2,3", f"{t1 + 60},3,2"],       # key1 timer fires; key3 has data -> resurrects
        [f"{t1 + 120},1,100"],                      # key1 reborn after eviction
    ]
    for i, lines in enumerate(files):
        p = src / f"{i:03d}.txt"
        p.write_text("\n".join(lines) + "\n")
        _stamp_batch_file(str(p), i)

    parts = F.split("value", ",")
    parsed = (
        file_lines_stream(spark, str(src))
        .select(
            F.timestamp_seconds(parts[0].cast("long")).alias("ts"),
            parts[1].cast("long").alias("user_id"),
            parts[2].cast("long").alias("val"),
        )
        .withWatermark("ts", "1 hour")
    )
    name = f"ttlu_{_uuid.uuid4().hex[:8]}"
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
    rows = [
        (r.user_id, r.n_events, r.total, r.evicted)
        for r in spark.table(name).collect()
    ]
    # (1) key 1: updates then a tombstone with the final totals
    assert (1, 2, 15, 0) in rows
    assert (1, 2, 15, 1) in rows, "timer tombstone missing - timeout never fired"
    # (2) reborn key 1 starts from zero: state really was removed
    assert (1, 1, 100, 0) in rows, "state not removed - reborn key kept old totals"
    # (3) key 3 had data in the firing batch: data wins, totals merge,
    # and NO tombstone is ever emitted for it
    assert (3, 2, 3, 0) in rows
    assert not any(u == 3 and ev == 1 for u, _, _, ev in rows)
    # key 2 stays live throughout
    assert (2, 2, 10, 0) in rows
    assert not any(u == 2 and ev == 1 for u, _, _, ev in rows)


def test_streaming_observed_metrics_per_batch(spark, tmp_path):
    """The streaming half of events_observed_quality's story: the same
    ``df.observe`` CollectMetrics node, attached to a file-replay
    stream, surfaces its counters per micro-batch in
    ``StreamingQueryProgress.observedMetrics`` — the zero-extra-scan
    hook a production pipeline's monitor reads instead of running a
    second validation query over each batch. Two replay files drained
    with maxFilesPerTrigger=1 give two data batches; summed observed
    row counts must equal the total line count and the per-batch split
    must match the files."""
    src = tmp_path / "obs_src"
    src.mkdir()
    _write(src, "00.txt", "\n".join(f"a {i}" for i in range(7)))
    _write(src, "01.txt", "\n".join(f"b {i}" for i in range(5)))
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    observed = lines.observe(
        "batch_quality",
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("value").startswith("a"), 1).otherwise(0))
        .cast("long")
        .alias("n_a_rows"),
    )
    q = (
        observed.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_observe")
        .start()
    )
    _drain(q)
    seen = []
    for p in q.recentProgress:
        om = (p.get("observedMetrics") or {}).get("batch_quality")
        if om is not None:
            seen.append((om["n_rows"], om["n_a_rows"]))
    assert sorted(seen) == [(5, 0), (7, 7)], seen
    assert spark.table("t_observe").count() == 12


def test_trigger_sla_progress_distribution(spark, sf_dir):
    """The SLA row's oracle-checked columns are deterministic invariants;
    this test covers the HOST-DEPENDENT half of the dashboard: the
    per-batch triggerExecution distribution must be a coherent latency
    series (p50 <= p95 <= slowest batch, all positive ms) and the
    quantile helper must read nearest-rank over the progress history."""
    from spark_stream_analyzer_spark.plans.q_streaming import (
        q_streaming_trigger_sla_metrics,
        trigger_latency_quantiles,
    )

    row = q_streaming_trigger_sla_metrics(spark, sf_dir).collect()[0]
    assert row.n_batches == 6
    assert row.latency_metrics_present == 1
    assert row.p95_le_run_total == 1
    assert row.backlog_zero == 1

    # helper semantics on a synthetic history (nearest-rank quantiles)
    fake = [{"durationMs": {"triggerExecution": v}} for v in (10, 20, 30, 40, 100)]
    p50, p95, lat = trigger_latency_quantiles(fake)
    assert lat == [10, 20, 30, 40, 100]
    assert (p50, p95) == (30.0, 100.0)
    p50e, p95e, late = trigger_latency_quantiles([])
    assert (p50e, p95e, late) == (0.0, 0.0, [])


def test_state_operator_split_attribution(spark, sf_dir):
    """Per-operator lag attribution (r13 verdict task 6): the dedupe ->
    windowed-agg chain must expose a per-operator work split in its own
    progress stream, and the data-derived counters must match a direct
    batch computation — run TWICE in one session to pin idempotency
    (fresh workdir + query name per call, no shared state)."""
    import pyspark.sql.functions as F

    from spark_stream_analyzer_spark.plans.q_streaming import (
        EVENT_CAP,
        q_streaming_state_operator_split,
    )
    from spark_stream_analyzer_spark.plans.q_wire import _base

    b = _base(spark, sf_dir).filter(F.col("event_id") < EVENT_CAP)
    n = b.count()
    groups = (
        b.select(F.expr("sec DIV 86400").alias("day"), "event_type")
        .distinct()
        .count()
    )
    upd = (
        b.select(
            (F.col("event_id") % 3).alias("res"),
            F.expr("sec DIV 86400").alias("day"),
            "event_type",
        )
        .distinct()
        .count()
    )
    for _ in range(2):
        row = q_streaming_state_operator_split(spark, sf_dir).collect()[0]
        assert row.n_state_operators == 2
        assert row.n_input == 2 * n
        assert row.dedupe_rows_updated == n
        assert row.dedupe_state_rows == n
        assert row.agg_state_rows == groups
        assert row.agg_rows_updated == upd
        assert (
            row.dup_batches_zero_updates,
            row.time_split_present,
            row.instances_ok,
        ) == (1, 1, 1)
