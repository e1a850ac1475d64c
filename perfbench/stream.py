"""The two stream workloads: ``live_match`` (open loop, HTTP-controlled,
1 s trigger) and ``match_replay`` (closed loop, drains a backlog).

Both run the reference-shaped pipeline: two ``file_lines_stream`` topics
→ wire parsers → ``unionByName`` → ``snapshot_player_stats_stream`` →
``to_parquet_snapshots``. Outputs are observed from outside the engine:
file-to-batch mapping from the checkpoint's file-source log, commit time
from the mtime of ``commits/<batchId>``, snapshots from the sink's
parquet files, trigger timings from ``recentProgress``.
"""

from __future__ import annotations

import glob
import json
import os
import random
import subprocess
import sys
import time
import urllib.error
import urllib.parse
import urllib.request

import harness as H
import wiregen as W

TOPICS = (("kill", "kills"), ("damage", "damages"))
WARM_TRIGGERS = 6


def pipeline(spark, folder: str, sink: str, ckpt: str, trigger_seconds: int | None, max_files: int | None):
    from spark_stream_analyzer_spark.sources.wire import parse_damage_lines, parse_kill_lines
    from spark_stream_analyzer_spark.streaming import (
        file_lines_stream,
        snapshot_player_stats_stream,
        to_parquet_snapshots,
    )

    kills = parse_kill_lines(file_lines_stream(spark, os.path.join(folder, "kills"), max_files))
    damages = parse_damage_lines(file_lines_stream(spark, os.path.join(folder, "damages"), max_files))
    events = kills.unionByName(damages)
    return to_parquet_snapshots(snapshot_player_stats_stream(events), sink, ckpt, trigger_seconds)


def write_files(folder: str, files: dict[str, list[str]]) -> None:
    """``files`` maps ``<topic>/<name>`` to lines."""
    for rel, lines in files.items():
        path = os.path.join(folder, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")


# -- observation from outside the engine ------------------------------------


def _log_lines(path: str) -> list[str]:
    """Entries of one metadata-log file (after its version line)."""
    try:
        with open(path) as f:
            return [line for line in f.read().splitlines()[1:] if line.strip()]
    except OSError:  # purged or being replaced between listing and reading
        return []


def file_batches(ckpt: str) -> dict[str, int]:
    """``<topic>/<name>`` → query batchId.

    A file-source log entry's ``batchId`` counts that source's own log
    (it advances only when the source finds new files), so it is mapped
    to query batches through each batch's source offsets in
    ``offsets/<batchId>`` (``logOffset``, one line per source).
    """
    per_source: dict[int, dict[int, list[str]]] = {}
    for log in glob.glob(os.path.join(ckpt, "sources", "*", "*")):
        if not os.path.basename(log).split(".")[0].isdigit():
            continue
        src = int(os.path.basename(os.path.dirname(log)))
        for line in _log_lines(log):
            e = json.loads(line)
            parts = urllib.parse.urlparse(e["path"]).path.rstrip("/").split("/")
            per_source.setdefault(src, {}).setdefault(int(e["batchId"]), []).append("/".join(parts[-2:]))
    batches = sorted(int(p) for p in os.listdir(os.path.join(ckpt, "offsets")) if p.isdigit()) \
        if os.path.isdir(os.path.join(ckpt, "offsets")) else []
    out: dict[str, int] = {}
    done: dict[int, int] = {}  # source -> highest source-log batch assigned
    for b in batches:
        # line 0 is the version, line 1 the batch metadata, then one per source
        for src, line in enumerate(_log_lines(os.path.join(ckpt, "offsets", str(b)))[1:]):
            if line.strip() == "-":  # source had no offset yet
                continue
            upto = int(json.loads(line)["logOffset"])
            for log_batch in range(done.get(src, -1) + 1, upto + 1):
                for name in per_source.get(src, {}).get(log_batch, []):
                    out[name] = b
            done[src] = max(done.get(src, -1), upto)
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """batchId → commit time (mtime of ``commits/<batchId>``, epoch seconds)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime
    return out


def committed(ckpt: str, names: list[str]) -> tuple[dict[str, int], dict[int, float], int]:
    """(file→batch, batch→commit time, number of ``names`` not yet committed)."""
    fb, ct = file_batches(ckpt), commit_times(ckpt)
    missing = sum(1 for n in names if fb.get(n) not in ct)
    return fb, ct, missing


def sink_snapshots(sink: str) -> tuple[dict[str, tuple], dict[int, tuple[int, int]]]:
    """Final snapshot per key (row of its highest batch) and, per batch,
    (parquet files, bytes) in the sink."""
    import pyarrow.dataset as ds

    per_batch: dict[int, list[int]] = {}
    for p in glob.glob(os.path.join(sink, "batch_id=*", "*.parquet")):
        b = int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
        acc = per_batch.setdefault(b, [0, 0])
        acc[0] += 1
        acc[1] += os.path.getsize(p)
    final: dict[str, tuple] = {}
    if per_batch:
        rows = ds.dataset(sink, format="parquet", partitioning="hive").to_table().to_pylist()
        best: dict[str, int] = {}
        for r in rows:
            sid, b = r["steam_id"], r["batch_id"]
            if sid not in best or b > best[sid]:
                best[sid] = b
                final[sid] = tuple(r[c] for c in W.SNAPSHOT_COLUMNS)
    return final, {b: (v[0], v[1]) for b, v in per_batch.items()}


def reference_final(files: dict[str, list[str]], fb: dict[str, int]) -> dict[str, tuple]:
    """Reference fold over the engine's own batch grouping of the files."""
    by_batch: dict[int, list[str]] = {}
    for name, b in fb.items():
        if name in files:
            by_batch.setdefault(b, []).append(name)
    fold = W.ReferenceFold()
    for b in sorted(by_batch):
        events = []
        for name in sorted(by_batch[b]):
            kind = "kill" if name.startswith("kills/") else "damage"
            events.extend(W.parse_lines(kind, files[name]))
        fold.fold_batch(events)
    return fold.last


def file_latencies(due: dict[str, float], out: dict) -> list[float]:
    """Per file: ms from its due time to the commit of the batch holding it."""
    lat = []
    for name, t in due.items():
        b = out["fb"].get(name)
        if b in out["ct"]:
            lat.append((out["ct"][b] - t) * 1e3)
    return lat


def progress_metrics(progress: list[dict], late_ms: float = 1000.0) -> dict:
    """Trigger timing, engine and state-store metrics from ``recentProgress``."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0] or progress
    dur = lambda k: [p["durationMs"].get(k, 0) for p in data]  # noqa: E731
    trig = dur("triggerExecution")
    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    return {
        "stream.triggers": len(data),
        "stream.trigger_ms_p50": H.median(trig),
        "stream.trigger_ms_p95": H.quantile(trig, 0.95),
        "stream.late_trigger_frac": sum(t > late_ms for t in trig) / max(len(trig), 1),
        "stream.query_planning_ms_p50": H.median(dur("queryPlanning")),
        "stream.add_batch_ms_p50": H.median(dur("addBatch")),
        "stream.wal_commit_ms_p50": H.median(dur("walCommit")),
        "stream.commit_offsets_ms_p50": H.median(dur("commitOffsets")),
        "stream.latest_offset_ms_p50": H.median(dur("latestOffset")),
        "stream.get_batch_ms_p50": H.median(dur("getBatch")),
        "stream.input_rows_per_trigger": H.median([p["numInputRows"] for p in data]),
        "state.all_updates_ms_per_trigger": H.median([o["allUpdatesTimeMs"] for o in ops]),
        "state.commit_ms_per_trigger": H.median([o["commitTimeMs"] for o in ops]),
        "state.rows_total": ops[-1]["numRowsTotal"] if ops else 0,
        "state.memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "state.store_instances": ops[-1]["numStateStoreInstances"] if ops else 0,
    }


def trigger_spans(spans: H.Spans, progress: list[dict]) -> None:
    """One span per trigger, rebuilt from progress timestamps and durations."""
    from datetime import datetime

    for p in progress:
        t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        d = p["durationMs"]
        sid = spans.add("trigger", t0, t0 + d.get("triggerExecution", 0) / 1e3, None,
                        batch_id=p["batchId"], rows=p["numInputRows"])
        t = t0
        for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            if phase in d:
                spans.add(phase, t, t + d[phase] / 1e3, sid)
                t += d[phase] / 1e3


def count_events(files: dict[str, list[str]]) -> int:
    return sum(len(W.parse_lines("kill" if n.startswith("kills/") else "damage", ls)) for n, ls in files.items())


def check_outputs(ctx, files: dict[str, list[str]], ckpt: str, sink: str) -> dict:
    """Count every file and every player's final snapshot as an operation;
    an uncommitted file or a snapshot that differs from the reference
    fold (or is missing) fails."""
    fb, ct, missing = committed(ckpt, list(files))
    final, per_batch = sink_snapshots(sink)
    expected = reference_final(files, fb)
    ctx.attempted += len(files) + len(set(expected) | set(final))
    ctx.failed += missing + len(W.compare_snapshots(expected, final))
    return {
        "fb": fb,
        "ct": ct,
        "sink.files_per_batch": H.median([v[0] for v in per_batch.values()]),
        "sink.bytes_per_batch": H.median([v[1] for v in per_batch.values()]),
    }


def trace_stream(ctx, query, mark: int, out: dict) -> None:
    """Per-layer stream metrics of a traced run, read after the window:
    progress, status-store counters per trigger, sink sizes, spans."""
    with ctx.trace_collect():
        progress = [json.loads(str(p)) for p in query.recentProgress] if query is not None else []
        pm = progress_metrics(progress)
        n_trig = max(pm["stream.triggers"], 1)
        ctx.layer.update(pm)
        ctx.layer.update({k: v / n_trig for k, v in ctx.counters.since(mark).items()})
        ctx.layer["sink.files_per_batch"] = out["sink.files_per_batch"]
        ctx.layer["sink.bytes_per_batch"] = out["sink.bytes_per_batch"]
        trigger_spans(ctx.spans, progress)


# -- live_match ---------------------------------------------------------------


def live_schedule(seed: int, seconds: int) -> tuple[list[W.Player], list[tuple[float, str]], dict[str, list[str]]]:
    """Arrival offsets and contents (~100 lines) of every file of one
    10-player match. Each topic is a Poisson process of ``n`` arrivals
    conditioned to end at ``seconds`` — sorted uniform offsets, so the
    inter-arrival times are exponential (no phase-lock with the trigger
    clock) while the run length does not vary with the seed. At least
    100 files per topic (~5 files/s), so a run holds >= 200 samples."""
    rng = random.Random(seed)
    players = W.make_players(10)
    n = max(100, 5 * seconds)
    arrivals: list[tuple[float, str]] = []
    files: dict[str, list[str]] = {}
    for kind, topic in TOPICS:
        prev = 0
        for i, t in enumerate(sorted(rng.uniform(0, seconds) for _ in range(n))):
            sec = int(t)
            name = f"{topic}/{i:05d}.csv"
            files[name] = W.match_file(rng, players, kind, rng.randint(80, 120), prev, sec)
            arrivals.append((t, name))
            prev = sec
    arrivals.sort()
    return players, arrivals, files


def _http(method: str, url: str, spans: H.Spans, name: str) -> tuple[int, dict, float]:
    req = urllib.request.Request(url, method=method, data=b"" if method == "POST" else None)
    t0 = time.time()
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            code, body = r.status, json.loads(r.read() or b"{}")
    except urllib.error.HTTPError as e:
        code, body = e.code, {}
    except (urllib.error.URLError, OSError) as e:
        code, body = 0, {"error": str(e)}
    t1 = time.time()
    spans.add(name, t0, t1, None, status=code)
    return code, body, (t1 - t0) * 1e3


def run_live(ctx) -> None:
    from spark_stream_analyzer_spark.streaming import ControlServer

    players, arrivals, files = live_schedule(ctx.seed, ctx.seconds)
    staging = ctx.run.sub("staging")
    write_files(staging, files)
    # warm-up: WARM_TRIGGERS triggers of the same shape, so JIT and the
    # Python workers reach steady state before the window opens
    warm_files = {f"{t}/{i:05d}.csv": W.match_file(random.Random(i), players, k, 100, i, i + 1)
                  for k, t in TOPICS for i in range(WARM_TRIGGERS)}
    write_files(ctx.run.sub("warm-in"), warm_files)
    inbox = ctx.run.sub("in")
    for _, topic in TOPICS:
        os.makedirs(os.path.join(inbox, topic), exist_ok=True)
    plan = os.path.join(ctx.run.path, "feeder.json")
    with open(plan, "w") as f:
        json.dump({"moves": [[t, os.path.join(staging, n), os.path.join(inbox, n)] for t, n in arrivals]}, f)
    ctx.input_done()
    feeder = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"), plan],
        stdin=subprocess.PIPE, text=True,
    )
    ctx.children.append(feeder)

    spark = ctx.start_session()
    with ctx.setup_span("warmup"):
        q = pipeline(spark, ctx.run.path + "/warm-in", ctx.run.sub("warm-sink"), ctx.run.sub("warm-ckpt"), None, 1)
        q.processAllAvailable()
        q.stop()
    sink, ckpt = ctx.run.sub("sink"), ctx.run.sub("ckpt")
    server = ControlServer(lambda folder: pipeline(spark, folder, sink, ckpt, 1, None))
    server.start()
    ctx.closers.append(server.shutdown)
    base = "http://%s:%d" % server.address
    mark = ctx.counters.last_job_id()
    code, _, start_ms = _http("POST", f"{base}/start?" + urllib.parse.urlencode({"folderPath": inbox}), ctx.spans, "control.start")
    control_codes = [code]
    ctx.setup_done()

    ctx.open_window()
    t0 = time.time() + 0.2
    feeder.stdin.write(f"{t0!r}\n")
    feeder.stdin.flush()
    status_ms = []
    qid = None
    names = [n for _, n in arrivals]
    deadline = t0 + arrivals[-1][0] + 60
    while True:
        code, body, ms = _http("GET", f"{base}/status", ctx.spans, "control.status")
        control_codes.append(code)
        status_ms.append(ms)
        qid = qid or body.get("id")
        if feeder.poll() is not None and committed(ckpt, names)[2] == 0:
            break
        if time.time() > deadline:
            break
        time.sleep(max(0.0, 1.0 - (time.time() - t0) % 1.0))
    query = spark.streams.get(qid) if qid else None
    window_end = time.time()
    ctx.close_window()
    code, _, stop_ms = _http("POST", f"{base}/stop", ctx.spans, "control.stop")
    control_codes.append(code)
    feeder.wait(timeout=60)
    with open(plan + ".done") as f:
        actual = json.load(f)["actual"]

    out = check_outputs(ctx, files, ckpt, sink)
    lat = file_latencies({name: t0 + t for t, name in arrivals}, out)
    lags = [(a - (t0 + t)) * 1e3 for (t, _), a in zip(arrivals, actual)]
    control_failed = sum(1 for c in control_codes if not 200 <= c < 300)
    ctx.attempted += len(control_codes)
    ctx.failed += control_failed
    ctx.e2e.update({
        "latency_p50_ms": H.median(lat),
        "latency_p95_ms": H.quantile(lat, 0.95),
    })
    ctx.window_s = window_end - t0
    ctx.notes.append(f"files={len(files)} latency_samples={len(lat)} gen_lag_p99_ms={H.quantile(lags, 0.99):.1f}")
    if query is not None:
        trig = [p["durationMs"].get("triggerExecution", 0) for p in query.recentProgress if p["numInputRows"]]
        ctx.notes.append(f"trigger_ms={trig}")
    if ctx.trace:
        trace_stream(ctx, query, mark, out)
        ctx.layer.update({
            "control.start_ms": start_ms,
            "control.stop_ms": stop_ms,
            "control.status_ms_p50": H.median(status_ms),
            "control.failed": control_failed,
            "gen.lag_ms_p99": H.quantile(lags, 0.99),
        })
        ctx.layer.update(wire_parse(ctx, spark))


# -- match_replay ---------------------------------------------------------------


def replay_backlog(seed: int, n_players: int = 5000, kill_lines: int = 30, damage_lines: int = 40) -> dict[str, list[str]]:
    """One minute of a tournament of ``n_players`` in concurrent 10-player
    matches: one file per topic (~15k kill and ~20k damage lines at 5,000
    players) holding ``kill_lines``/``damage_lines`` lines per match, so
    the trigger touches every key."""
    rng = random.Random(seed)
    players = W.make_players(n_players)
    matches = [players[i : i + 10] for i in range(0, n_players, 10)]
    files: dict[str, list[str]] = {}
    for kind, topic in TOPICS:
        n = kill_lines if kind == "kill" else damage_lines
        lines: list[str] = []
        for m in matches:
            lines.extend(W.match_file(rng, m, kind, n, 0, 59))
        files[f"{topic}/00000.csv"] = lines
    return files


def run_replay(ctx) -> None:
    files = replay_backlog(ctx.seed)
    events = count_events(files)
    inbox = ctx.run.sub("in")
    write_files(inbox, files)
    write_files(ctx.run.sub("warm-in"), replay_backlog(ctx.seed + 1, n_players=200))
    ctx.input_done()

    spark = ctx.start_session()
    with ctx.setup_span("warmup"):
        q = pipeline(spark, ctx.run.path + "/warm-in", ctx.run.sub("warm-sink"), ctx.run.sub("warm-ckpt"), None, 1)
        q.processAllAvailable()
        q.stop()
    ctx.setup_done()

    sink, ckpt = ctx.run.sub("sink"), ctx.run.sub("ckpt")
    with ctx.spans.span("drain", files=len(files), events=events) as drain:
        q = pipeline(spark, inbox, sink, ckpt, None, 1)
        q.processAllAvailable()
        q.stop()

    check_outputs(ctx, files, ckpt, sink)
    ctx.e2e["throughput_eps"] = events / drain.seconds
    ctx.notes.append(f"files={len(files)} events={events} drain_s={drain.seconds:.3f}")


def wire_parse(ctx, spark) -> dict:
    """Batch-parse the ``match_replay`` backlog of this seed through the
    wire parsers into a no-op sink."""
    from spark_stream_analyzer_spark.sources.wire import parse_damage_lines, parse_kill_lines

    files = replay_backlog(ctx.seed)
    events = count_events(files)
    inbox = ctx.run.sub("wire-in")
    write_files(inbox, files)
    with ctx.spans.span("wire.parse") as sp:
        for parse, topic in ((parse_kill_lines, "kills"), (parse_damage_lines, "damages")):
            parse(spark.read.text(os.path.join(inbox, topic))).write.format("noop").mode("overwrite").save()
    return {"wire.parse_ms": sp.seconds * 1e3, "wire.events_per_s": events / sp.seconds}
