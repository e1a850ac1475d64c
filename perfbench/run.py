"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload live_match|corpus_dedup \
        --seed N --seconds S --trace 0|1

Prints progress notes, then, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones listed in ``layers.json`` (a layer the
workload does not run reports 0 and is named on the ``unavailable:``
line). Spans of a traced run are written under ``.bench_run/traces``.
Exits non-zero without a result line if the run cannot complete.

``--workload match_replay`` (untraced only) drains a 5,000-player
backlog and reports ``setup_s`` and ``throughput_eps``; the traced
``live_match`` run starts it on one core for ``replay.eps_local1``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
# Python workers started by the JVM import engine modules too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import harness as H  # noqa: E402

WORKLOADS = ("live_match", "match_replay", "corpus_dedup")
#: end-to-end metrics per workload; match_replay is not gated (BENCHMARK.json)
E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p95_ms": "ms"}
REPLAY_UNITS = {"setup_s": "s", "throughput_eps": "1/s"}


def load_layers() -> dict[str, dict]:
    with open(os.path.join(HERE, "layers.json")) as f:
        return {m["name"]: m for m in json.load(f)["per_layer"]}


class Context:
    """What a workload needs: its dirs, session, counters, spans and the
    tallies it fills in (``e2e``, ``layer``, ``attempted``, ``failed``)."""

    def __init__(self, args, run: H.RunDir, sampler: H.ProcSampler) -> None:
        self.workload, self.seed, self.seconds, self.trace = args.workload, args.seed, args.seconds, bool(args.trace)
        self.run = run
        self.sampler = sampler
        self._cpu_mark: dict = {}
        self.spans = H.Spans(args.workload, args.seed)
        self.e2e: dict = {}
        self.layer: dict = {}
        self.notes: list[str] = []
        self.attempted = self.failed = 0
        self.children: list = []
        self.closers: list = []
        self.spark = None
        self.counters: H.StatusCounters | None = None
        self.window_s = 0.0
        self.trace_extra_s = 0.0
        self.stage_counters: dict = {}
        self._gen_t0 = time.perf_counter()
        self.gen_s = 0.0

    def input_done(self) -> None:
        """Input generation ends here; its time is excluded from setup."""
        self.gen_s = time.perf_counter() - self._gen_t0

    @contextmanager
    def setup_span(self, name: str):
        with self.spans.span(name) as sp:
            yield sp
        self.layer[f"{name}_s"] = sp.seconds

    def start_session(self):
        with self.spans.span("registry.load") as sp:
            from spark_stream_analyzer_spark.plans import registry

            registry.queries()
        self.layer["registry.load_ms"] = sp.seconds * 1e3
        with self.setup_span("session.start"):
            self.spark = H.start_spark(self.run)
        self.counters = H.StatusCounters(self.spark)
        return self.spark

    def setup_done(self) -> None:
        self.e2e["setup_s"] = H.process_age_s() - self.gen_s

    def open_window(self) -> None:
        self._cpu_mark = self.sampler.cpu_mark()

    def close_window(self) -> None:
        """``proc.*`` cover the measured window only, not the traced
        extras that run after it."""
        self.layer.update(self.sampler.window(self._cpu_mark))

    @contextmanager
    def trace_collect(self):
        t0 = time.perf_counter()
        yield
        self.trace_extra_s += time.perf_counter() - t0


def run_workload(ctx: Context) -> None:
    if ctx.workload == "live_match":
        import stream

        stream.run_live(ctx)
        if ctx.trace:
            eps = local1_eps(ctx)
            if eps is not None:
                ctx.layer["replay.eps_local1"] = eps
    elif ctx.workload == "match_replay":
        import stream

        stream.run_replay(ctx)
    else:
        import corpus

        corpus.run_corpus(ctx)


def local1_eps(ctx: Context) -> float | None:
    """Single-core ``match_replay`` drain in a child process (a session's
    core count is fixed at JVM start).

    The child gets what is left of a 150 s budget for the whole run, so a
    traced run still ends within the benchmark's 180 s limit; if it runs
    out, its process group (the child and its JVM) is killed and the
    metric is reported unavailable.
    """
    import signal
    import subprocess

    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", "match_replay", "--seed", str(ctx.seed),
         "--seconds", str(ctx.seconds), "--trace", "0", "--cpus", "1"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=max(10.0, 150.0 - H.process_age_s()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        ctx.notes.append("replay.eps_local1: single-core child ran out of time")
        return None
    if proc.returncode != 0:
        raise RuntimeError(f"single-core replay failed:\n{err[-2000:]}")
    res = json.loads(out.strip().splitlines()[-1])
    ctx.attempted += res["attempted"]
    ctx.failed += res["failed"]
    return res["metrics"]["throughput_eps"]["value"]


def finish_trace(ctx: Context, env: dict) -> tuple[dict, dict]:
    layers = load_layers()
    if "trace.overhead_pct" not in ctx.layer and ctx.window_s:
        # stream workloads trace nothing inside the window beyond span
        # bookkeeping; their tracing cost is the collection afterwards
        ctx.layer["trace.overhead_pct"] = 100.0 * ctx.trace_extra_s / ctx.window_s
    unavailable = sorted(n for n in layers if n not in ctx.layer)
    metrics = {n: float(ctx.layer.get(n, 0.0)) for n in layers}
    path = ctx.spans.write({"env": env, "metrics": metrics, "e2e": ctx.e2e,
                            "unavailable": unavailable, "stage_counters": ctx.stage_counters,
                            "notes": ctx.notes})
    print(f"trace: {path}")
    print("unavailable: " + (", ".join(f"{n} (layer not run by {ctx.workload})" for n in unavailable) or "none"))
    return metrics, {n: layers[n]["unit"] for n in layers}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.workload == "match_replay" and args.trace:
        ap.error("match_replay has no traced run: the traced live_match run measures its layers")

    run = H.RunDir(args.workload, args.seed)
    H.pin_environment(run, args.cpus or H.cpu_count())
    sampler = H.ProcSampler().start()
    ctx = Context(args, run, sampler)
    try:
        run_workload(ctx)
        env = H.environment_record()
        if ctx.trace:
            metrics, units = finish_trace(ctx, env)
        else:
            units = REPLAY_UNITS if args.workload == "match_replay" else E2E_UNITS
            metrics = {k: float(ctx.e2e[k]) for k in units}
        for n in ctx.notes:
            print(n)
        print("env: " + json.dumps(env))
        line = H.result_line(ctx.failed == 0, ctx.attempted, ctx.failed, metrics, units)
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        line = None
    finally:
        sampler.stop()
        for close in reversed(ctx.closers):
            close()
        if ctx.spark is not None:
            H.stop_spark(ctx.spark)
        for child in ctx.children:
            if child.poll() is None:
                child.kill()
            child.wait(timeout=30)
        run.close()
    if line is None:
        return 1
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
