"""Streaming throughput probe: the running-totals update-mode agg vs the
exact-parity snapshot agg (SCALING.md streaming evidence).

Replays generated wire kill-lines through both stateful paths with the
same micro-batch layout and reports rows/sec. Both keep state JVM-side
(partial agg + state store); the snapshot "twin" adds the batch-local
``max(struct(_batch_ts, …))`` fields and the name rule. It was an
``applyInPandasWithState`` twin until the snapshot stream went native;
the output keys (``pandas_twin_*``) keep their names so recorded
baselines stay comparable.

Usage: python tools/stream_throughput.py [n_lines] [n_batches]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_stream_analyzer_spark import get_spark
from spark_stream_analyzer_spark.sources.wire import parse_kill_lines
from spark_stream_analyzer_spark.streaming.sinks import to_memory
from spark_stream_analyzer_spark.streaming.sources import file_lines_stream
from spark_stream_analyzer_spark.streaming.stateful import (
    running_player_stats_stream,
    snapshot_player_stats_stream,
)


def gen_lines(path: str, n_lines: int, n_batches: int, n_players: int = 500) -> None:
    os.makedirs(path, exist_ok=True)
    per = n_lines // n_batches
    for b in range(n_batches):
        with open(f"{path}/{b:05d}.txt", "w") as f:
            for i in range(per):
                g = (b * per + i) * 7919
                k, v, a = g % n_players, (g // 7) % n_players, (g // 49) % n_players
                f.write(
                    f"x,{128 * (b + 1)},{b + 1},P{k},S{k},x,x,P{v},S{v},x,x,P{a},S{a}\n"
                )


def run_path(spark, src: str, build, name: str) -> float:
    t0 = time.perf_counter()
    q = to_memory(build(parse_kill_lines(file_lines_stream(spark, src))), name)
    q.processAllAvailable()
    q.stop()
    return time.perf_counter() - t0


def stream_calib_probe(spark) -> float:
    """Micro-batch trigger-scheduling probe (single source of truth — the
    bench AND the baseline-refresh tool both call this, so the recorded
    ``stream_calib_sec`` is always comparable to the run-time one).

    A 6-file / one-file-per-trigger stateful chain into a memory sink:
    its wall-clock moves with exactly the barrier/scheduler costs the
    live-streaming rows pay, which the CPU probe cannot see (SCALING.md
    r7: CPU calib 1.38x while streaming rows sat at 2.9x). Width pinned
    at 8 shuffle partitions — the ratio only means something if the probe
    pays the same per-batch barrier cost on every host.
    """
    import shutil as _sh
    import tempfile as _tf
    import uuid as _uuid

    from pyspark.sql import functions as F

    cdir = _tf.mkdtemp(prefix="ssa_bench_scal_")
    for i in range(6):
        with open(f"{cdir}/{i:03d}.txt", "w") as f:
            f.write(f"k{i % 2},{i}\n")
    cname = f"scal_{_uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    t0 = time.perf_counter()
    parts = F.split("value", ",")
    q = (
        file_lines_stream(spark, cdir, max_files_per_trigger=1)
        .select(parts[0].alias("k"), parts[1].cast("long").alias("v"))
        .groupBy("k").agg(F.sum("v").alias("s"))
        .writeStream.outputMode("update").format("memory").queryName(cname)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    sec = round(time.perf_counter() - t0, 3)
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    _sh.rmtree(cdir, ignore_errors=True)
    spark.catalog.dropTempView(cname)
    return sec


def throughput_best_of(spark, src: str, attempts: int = 2) -> tuple[float, float]:
    """Best-of-N (min seconds) for BOTH stateful paths, attempts
    INTERLEAVED native/twin/native/twin so a transient host-contention
    burst cannot sink both attempts of one path (r10 verdict: the
    single-shot twin probe went red on a contended driver run while the
    committed re-run of the same HEAD was green — the probe now gets the
    same retry discipline as the batch rows)."""
    import uuid as _uuid

    best = {"native": float("inf"), "twin": float("inf")}
    builds = {
        "native": lambda ev: running_player_stats_stream(ev.drop("player")),
        "twin": snapshot_player_stats_stream,
    }
    for i in range(attempts):
        for side in ("native", "twin"):
            nm = f"tp_{side}{i}_{_uuid.uuid4().hex[:6]}"
            sec = run_path(spark, src, builds[side], nm)
            spark.catalog.dropTempView(nm)
            best[side] = min(best[side], sec)
    return best["native"], best["twin"]


def main() -> None:
    n_lines = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark(app_name="ssa-stream-throughput")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    base = tempfile.mkdtemp(prefix="ssa_stream_tp_")
    try:
        gen_lines(f"{base}/src", n_lines, n_batches)
        # ~3 events per kill line (killer/victim/assister)
        n_events = n_lines * 3
        native = run_path(
            spark, f"{base}/src", lambda ev: running_player_stats_stream(ev.drop("player")), "tp_native"
        )
        twin = run_path(
            spark, f"{base}/src", snapshot_player_stats_stream, "tp_twin"
        )
        print(
            json.dumps(
                {
                    "n_lines": n_lines,
                    "n_events": n_events,
                    "n_batches": n_batches,
                    "native_sec": round(native, 2),
                    "native_events_per_sec": round(n_events / native),
                    "pandas_twin_sec": round(twin, 2),
                    "pandas_twin_events_per_sec": round(n_events / twin),
                    "native_speedup": round(twin / native, 2),
                }
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
