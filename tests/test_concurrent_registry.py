"""r10 (VERDICT r9 task 6): concurrent-registry stress.

A 24/7 engine serves concurrent queries; every other gate runs the
registry serially.  This suite runs a mixed batch + live-streaming
query set CONCURRENTLY on one shared SparkSession — including the same
query twice at once — and asserts every run returns the serial row
count.  What this pins structurally:

* no temp-view / sink-name collisions (streaming fixtures must keep
  their uuid-suffixed memory-sink names and mkdtemp workdirs);
* no checkpoint-dir collisions between two live runs of the SAME
  streaming fixture;
* shared-session safety of the query builders (they may set/restore
  session confs — a race there can change a PLAN, never a result).

Known and accepted: the set/restore pattern IS racy under concurrency —
thread A sets shuffle.partitions=2, thread B snapshots 2 as its "prev"
and restores 2, leaving the session at the fixture value (this test
caught exactly that leaking into the AQE skew test downstream). Results
stay correct; only plan knobs drift. A serving deployment would isolate
per-query conf via ``spark.newSession()`` (shared SparkContext,
independent SQL conf); here the test snapshots and restores the knobs
it knows fixtures touch, mirroring that isolation boundary.

The global ``unpersist_rdds`` sweep is deliberately NOT run between
concurrent queries (it would free another thread's in-flight blocks —
exactly the bug this test would catch); it runs once at the end, as a
serving loop would between request waves.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from spark_stream_analyzer_spark.plans import registry

SF = "/root/testdata/sf0.001"

# mixed families: scans, joins, windows, dedup, text, a format
# round-trip with its own tempdir, and a LIVE streaming fixture
MIX = (
    "tpch_pricing_summary",
    "dedup_exact",
    "events_tumbling_daily",
    "orders_rollup_totals",
    "text_token_stats",
    "similarity_topk_bruteforce",
    "source_csv_roundtrip",
    "streaming_windowed_counts",
)


_FIXTURE_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
)


def test_concurrent_mixed_registry_matches_serial(spark):
    from spark_stream_analyzer_spark.session import unpersist_rdds

    snap = {k: spark.conf.get(k) for k in _FIXTURE_CONFS}
    qs = registry.queries()
    # serial reference counts first (also warms codegen so the
    # concurrent phase measures interference, not compilation)
    expected = {n: len(qs[n](spark, SF).collect()) for n in MIX}
    unpersist_rdds(spark)

    def run(name: str) -> tuple[str, int]:
        return name, len(qs[name](spark, SF).collect())

    # each query twice, interleaved: 16 concurrent runs on 8 workers —
    # the same-name duplicate is the collision probe
    jobs = list(MIX) * 2
    try:
        with ThreadPoolExecutor(max_workers=len(MIX)) as ex:
            results = list(ex.map(run, jobs))
    finally:
        unpersist_rdds(spark)
        # undo any conf drift from racing set/restore pairs (see module
        # docstring) so later suites see the session they expect
        for k, v in snap.items():
            spark.conf.set(k, v)

    mismatches = [
        (name, got, expected[name])
        for name, got in results
        if got != expected[name]
    ]
    assert not mismatches, f"concurrent runs diverged from serial: {mismatches}"
    assert len(results) == len(jobs)


def test_newsession_isolates_fixture_confs(spark):
    """The serving-isolation boundary the module docstring recommends,
    demonstrated: two spark.newSession() handles share the SparkContext
    (one JVM, one block manager) but hold INDEPENDENT SQL confs — a
    fixture pinning shuffle partitions in one session must not leak into
    the other, which is exactly what the shared-session set/restore race
    cannot guarantee."""
    s1 = spark.newSession()
    s2 = spark.newSession()
    base = spark.conf.get("spark.sql.shuffle.partitions")
    s1.conf.set("spark.sql.shuffle.partitions", "2")
    assert s2.conf.get("spark.sql.shuffle.partitions") == base
    assert spark.conf.get("spark.sql.shuffle.partitions") == base
    # and the isolated setting is live for s1's plans
    df = s1.range(0, 1000).selectExpr("id % 7 AS k").groupBy("k").count()
    parts = df.rdd.getNumPartitions()
    assert parts <= 2


def test_live_stream_latency_under_batch_churn(spark, tmp_path):
    """r11 (VERDICT r10 task 6): the concurrent stress promoted to
    include a LIVE stream under sustained batch churn. Phase 1 measures
    the soak pipeline's per-round trigger latency solo; phase 2 repeats
    it while two worker threads run batch registry queries back-to-back
    on the same session. Pins:

    * batch results under churn match their serial row counts;
    * the stream commits EVERY round during churn (no starvation);
    * median per-round latency under churn stays within 4x the solo
      median — scheduler starvation or state-store contention blows far
      past that band, host noise does not (the stream holds 8 shuffle
      partitions of a 32-thread scheduler; churn adds ~8 more).
    """
    import os
    import statistics
    import time
    from concurrent.futures import ThreadPoolExecutor

    import test_soak as soak

    from spark_stream_analyzer_spark.session import unpersist_rdds

    kdir, ddir = str(tmp_path / "kills"), str(tmp_path / "dmg")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(kdir)
    os.makedirs(ddir)
    sink_rows: list[int] = []

    def _count_sink(bdf, bid):
        sink_rows.append(bdf.count())  # bounded: tiny per-round updates

    snap = {k: spark.conf.get(k) for k in _FIXTURE_CONFS}
    qs = registry.queries()
    churn_mix = (
        "tpch_pricing_summary",
        "dedup_exact",
        "orders_rollup_totals",
        "text_token_stats",
    )
    expected = {n: len(qs[n](spark, SF).collect()) for n in churn_mix}

    n_rounds = 12
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            soak._build(spark, kdir, ddir)
            .writeStream.outputMode("update")
            .foreachBatch(_count_sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:

            def stream_rounds(offset: int) -> list[float]:
                lat = []
                for r in range(offset, offset + n_rounds):
                    soak._write_round(kdir, ddir, r)
                    t0 = time.perf_counter()
                    q.processAllAvailable()
                    lat.append(time.perf_counter() - t0)
                return lat

            solo = stream_rounds(0)

            def churn() -> list[tuple[str, int]]:
                out = []
                for _ in range(3):
                    for n in churn_mix:
                        out.append((n, len(qs[n](spark, SF).collect())))
                return out

            with ThreadPoolExecutor(max_workers=2) as ex:
                futs = [ex.submit(churn), ex.submit(churn)]
                churned = stream_rounds(n_rounds)
                batch_results = [r for f in futs for r in f.result()]
        finally:
            q.stop()
    finally:
        unpersist_rdds(spark)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        for k, v in snap.items():
            spark.conf.set(k, v)

    bad = [(n, got) for n, got in batch_results if got != expected[n]]
    assert not bad, f"batch results diverged under stream churn: {bad}"
    assert len(churned) == n_rounds and all(n > 0 for n in sink_rows[:1])
    m_solo = statistics.median(solo[2:])  # drop warm-up rounds
    m_churn = statistics.median(churned)
    print(
        f"\nCHURN solo_median={m_solo:.2f}s churn_median={m_churn:.2f}s "
        f"ratio={m_churn / m_solo:.2f}"
    )
    assert m_churn <= 4.0 * m_solo, (
        f"stream latency degraded under churn: solo median {m_solo:.2f}s "
        f"-> churn median {m_churn:.2f}s ({churned})"
    )


def test_overlapping_loop_aqe_scopes_restore_original(spark, monkeypatch):
    """With SSA_LOOP_AQE=off, loop rounds on several threads open
    overlapping AQE scopes on one session.  Each body sees AQE off, and
    once all have exited the session is back at its original value (an
    unlocked save/restore lets a later scope save an earlier scope's
    "false" and leave it behind)."""
    import sys
    import threading

    from spark_stream_analyzer_spark.session import loop_aqe_scope

    key = "spark.sql.adaptive.enabled"
    original = spark.conf.get(key)
    monkeypatch.setenv("SSA_LOOP_AQE", "off")
    seen: list[str] = []

    def rounds():
        for _ in range(10):
            with loop_aqe_scope(spark):
                seen.append(spark.conf.get(key))

    prev_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=rounds) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev_interval)
    assert not any(t.is_alive() for t in threads)
    assert seen == ["false"] * 80
    assert spark.conf.get(key) == original
