"""Streaming sinks (SURVEY §2.8 K1-K3) — distributed, idempotent.

The reference's sink is the anti-pattern this rebuild removes:
``collectAsList()`` to the driver + row-by-row JPA inserts per batch
(``spark/SparkStreamingService.java:254-295``) — a driver-serial
bottleneck with at-least-once duplicates (no checkpoint). Here every
sink is a distributed write, checkpointing is on, and the foreachBatch
writers are idempotent under batch replay.

**One state partition.** The stateful sinks (:func:`to_console`,
:func:`to_parquet_snapshots`, :func:`to_jdbc_snapshots`) start their
query with :data:`STATE_PARTITIONS` = 1 shuffle partition instead of the
session's ``max(cpus, 8)``.  The state store is versioned per partition
and commits once per trigger, so every partition is a fixed cost per
trigger whatever its key count, and the parquet sink writes one file per
non-empty partition.  Without Hadoop native IO each checkpoint or part
file create forks a ``chmod`` (~13 ms) and each rename two ``readlink``
processes, and each state partition writes ~4 files per trigger (delta
plus checksum), so a live match of ~10 players paid for 8 stores.
Measured on a 4-core shared host, ``perfbench`` ``live_match``: over 10
interleaved untraced pairs, latency p50 medians 2,068 → 1,448 ms and
p95 2,904 → 2,169 ms; traced (seed 3), state commit 861 → 39 ms per
trigger, addBatch p50 1,025 → 583 ms, trigger p50 1,277 → 815 ms, late
triggers 100 % → 14 %, sink files per batch 7 → 1.  A 5,000-player
``match_replay`` drain went 14.2k → 18.4k events/s.  One partition
stops paying off at about 50k keys per batch: a 50,000-player drain
(536k events in one trigger) took 3.6-4.0 s warm at 1 partition and
3.9-4.2 s at 8, so the two are even there; larger batches, where the
parallel state updates should win, were not measured.

The count is the query's, not the session's: :func:`start_with_partitions`
sets it only around ``start()``, which copies the session conf into the
query and records it in ``offsets/<id>``.  After the first start the
checkpoint owns the count — a restart takes it from there, so a
checkpoint first written at 8 partitions keeps 8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from spark_stream_analyzer_spark.session import conf_scope

#: shuffle (= state-store) partitions a new stateful sink query starts with
STATE_PARTITIONS = 1


def start_with_partitions(
    writer: DataStreamWriter, spark: SparkSession, partitions: int | str
) -> StreamingQuery:
    """Start ``writer``'s query with ``partitions`` shuffle partitions.

    ``spark.sql.shuffle.partitions`` is set only around ``start()``, under
    the session conf lock (:func:`~spark_stream_analyzer_spark.session.conf_scope`),
    and restored even when ``start()`` raises; the query keeps the value
    because it clones the session conf when it is created.  A restarted
    query ignores ``partitions`` and uses its checkpoint's count.
    """
    with conf_scope(spark, "spark.sql.shuffle.partitions", str(partitions)):
        return writer.start()


def to_console(df: DataFrame, trigger_seconds: int = 1) -> StreamingQuery:
    """Debug sink (reference K1, ``SparkStreamingService.java:239-250``)."""
    writer = (
        df.writeStream.outputMode("update")
        .format("console")
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    return start_with_partitions(writer, df.sparkSession, STATE_PARTITIONS)


def to_memory(df: DataFrame, name: str, output_mode: str = "update") -> StreamingQuery:
    """In-memory table sink for deterministic tests."""
    return (
        df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    )


def to_parquet_snapshots(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Append-only snapshot table as parquet, idempotent under replay.

    Each micro-batch overwrites its own ``batch_id=N`` partition — if a
    batch is replayed after failure the partition is rewritten, not
    duplicated (delete-batch-then-insert, SURVEY §2.9 exactly-once note).
    Distributed write; nothing is collected to the driver.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(f"{path}/batch_id={batch_id}")
        )

    writer = (
        df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(write_batch)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return start_with_partitions(writer, df.sparkSession, STATE_PARTITIONS)


def _jdbc_execute(spark, url: str, sql: str, driver: str | None = None) -> None:
    """Run one driver-side JDBC control statement (DDL/DELETE) via the JVM.

    Control statements are metadata-sized — this is NOT a data path; row
    data always moves executor→DB through ``DataFrameWriter.jdbc``.
    """
    jvm = spark.sparkContext._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate(sql)
        finally:
            st.close()
    finally:
        conn.close()


def _jdbc_execute_str_params(
    spark, url: str, sql: str, params: list[str], driver: str | None = None
) -> None:
    """Run one control statement with ``?`` string parameters bound via
    ``PreparedStatement`` — the key values never enter the SQL text, so
    no dialect-specific escaping (quote doubling, MySQL backslash modes)
    can break or inject into the statement (ADVICE r11).
    """
    jvm = spark.sparkContext._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.prepareStatement(sql)
        try:
            for i, v in enumerate(params):
                st.setString(i + 1, v)
            st.executeUpdate()
        finally:
            st.close()
    finally:
        conn.close()


#: SQLStates that denote "table does not exist" across the engines this
#: sink targets: Derby 42X05, ODBC/MySQL 42S02, Postgres 42P01, HSQLDB
#: S0002.  Anything else is NOT classified as missing-table.
_MISSING_TABLE_SQLSTATES = {"42X05", "42S02", "42P01", "S0002"}


def _is_missing_table_error(exc: BaseException) -> bool:
    """True iff a JDBC exception chain denotes table-not-found.

    Classifies the DELETE's OWN exception by SQLState instead of issuing
    a second existence-probe round-trip: the probe was itself fail-open —
    a transient probe failure (DB blip, SELECT-permission gap) while the
    table exists would misclassify a real DELETE failure as table-absent
    and the append would duplicate the replayed batch's rows (r10 ADVICE).
    Walks the Java cause chain; any state we cannot read counts as NOT
    missing-table, so unclassifiable failures abort the batch (fail-closed).
    """
    je = getattr(exc, "java_exception", None)
    seen = 0
    while je is not None and seen < 16:  # bounded: defensive vs cause cycles
        seen += 1
        try:
            state = je.getSQLState()
        except Exception:  # noqa: BLE001 — not a SQLException
            state = None
        if state and str(state).upper() in _MISSING_TABLE_SQLSTATES:
            return True
        try:
            je = je.getCause()
        except Exception:  # noqa: BLE001
            return False
    return False


def jdbc_snapshot_batch_writer(url: str, table: str, driver: str | None = None):
    """foreachBatch writer: delete-batch-then-insert, idempotent under
    replay (reference K2, ``spark/SparkStreamingService.java:254-295``,
    rebuilt distributed).

    Each micro-batch's rows are stamped with ``batch_id`` and the batch's
    previous rows (if any — i.e. a replay after a failure between sink
    write and checkpoint commit) are DELETEd first, so re-running a batch
    rewrites it instead of duplicating it — the same contract as
    :func:`to_parquet_snapshots`'s partition overwrite, expressed as SQL.
    The DELETE is one driver-side statement; the insert is Spark's
    distributed ``write.jdbc`` (no driver collect, no per-row JPA).
    """
    from pyspark.sql import functions as F

    props = {"driver": driver} if driver else {}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            # Spark's JDBC writer quotes identifiers, so the column is
            # case-sensitive lowercase "batch_id" in ANSI databases
            _jdbc_execute(
                spark, url, f'DELETE FROM {table} WHERE "batch_id" = {int(batch_id)}', driver
            )
        except Exception as exc:  # noqa: BLE001
            # ONLY missing-table (first batch, append creates it below)
            # may be swallowed, classified from the DELETE's own SQLState
            # (fail-closed: unclassifiable → abort). A transient DELETE
            # failure on an EXISTING table must abort the batch —
            # swallowing it and appending would duplicate the replayed
            # batch's rows, voiding the exactly-once contract (r10
            # review; probe replaced by SQLState classification per r10
            # ADVICE — the probe itself was fail-open).
            if not _is_missing_table_error(exc):
                raise
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.jdbc(url=url, table=table, mode="append", properties=props)
        )

    return write_batch


def to_jdbc_snapshots(
    df: DataFrame,
    url: str,
    table: str,
    checkpoint: str,
    driver: str | None = None,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """JDBC snapshot sink (reference K2) — distributed and idempotent.

    See :func:`jdbc_snapshot_batch_writer` for the exactly-once story.
    Tested against embedded Derby (``tests/test_jdbc_sink.py``); any
    JDBC-accessible database whose driver jar is on the Spark classpath
    works the same way.
    """
    writer = (
        df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(jdbc_snapshot_batch_writer(url, table, driver))
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return start_with_partitions(writer, df.sparkSession, STATE_PARTITIONS)


def dual_sink_batch_writer(url: str, table: str, root: str, driver: str | None = None):
    """ONE foreachBatch feeding TWO sinks — the lakehouse table AND a
    serving database — each exactly-once under replay by its own
    mechanism (EXT, round 11; no reference counterpart — the reference
    has a single JPA sink).

    * **Lake** (``sources/txn_publish``): batch ``b`` publishes snapshot
      version ``b + 1``; a replayed batch sees ``committed_version >=
      b + 1`` and NO-OPS — the manifest is untouched, the table
      byte-identical (the streaming_cdc_upsert_publish guard, reused).
    * **DB** (:func:`jdbc_snapshot_batch_writer`): delete-batch-then-
      insert — a replay REWRITES the batch's rows, never duplicates.

    Write order is lake-then-DB on purpose: a crash between the two
    replays the whole batch, the lake no-ops and the DB converges — the
    DB can LAG the lake by at most one batch but never diverge from it;
    the reverse order would let the lake lag the DB, the wrong direction
    when the lake is the source of truth. Both writes are distributed
    (executor→parquet, executor→DB); only the manifest swap and the
    metadata-sized DELETE run on the driver.
    """
    from spark_stream_analyzer_spark.sources.txn_publish import (
        committed_version,
        publish,
        snapshot_dir,
    )

    jdbc_write = jdbc_snapshot_batch_writer(url, table, driver)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        version = int(batch_id) + 1
        live = committed_version(root)
        if live is None or live < version:
            d = snapshot_dir(root)
            (
                batch_df.withColumn("batch_id", F.lit(int(batch_id)))
                .write.parquet(d)
            )
            publish(root, d, version)
        jdbc_write(batch_df, batch_id)

    return write_batch


def windowed_topk_batch_writer(
    url: str,
    counts_table: str,
    board_table: str,
    k: int = 3,
    driver: str | None = None,
):
    """foreachBatch SECOND-STAGE aggregation (r11): maintain a served
    per-window top-k leaderboard from an update-mode windowed-count
    stream.  Spark rejects a second streaming aggregation downstream of
    an update-mode aggregate (chained streaming aggregations are
    unsupported), so the rank step runs inside foreachBatch as
    incremental view maintenance:

    1. upsert the batch's changed ``(win_start, event_type, n)`` rows
       into a compacted counts table (delete-by-key + distributed
       append — same idempotence contract as
       :func:`jdbc_snapshot_batch_writer`);
    2. recompute top-k ONLY for the windows this batch touched, from
       the counts table read back through ``spark.read.jdbc``, and
       rewrite exactly those windows' leaderboard rows.

    The read-back is the correctness core: update-mode batch output
    carries only CHANGED rows, so ranking the batch alone would drop
    unchanged competitors (the classic second-aggregation mistake —
    pinned by a test).  NULL keys: the delete predicate handles them
    (IS NULL branch — an equality match would orphan the row and a
    replay would duplicate it), but whether the APPEND can carry a
    NULL string is dialect-dependent — Spark's Derby dialect maps
    StringType to CLOB and rejects setNull, so Derby deployments must
    pre-normalize NULL keys; Postgres/MySQL dialects pass them
    through.  Replay-safe: both stages are recompute-and-
    rewrite by key, so a crash between counts write and board write is
    healed by the batch's replay.  Cost per batch is bounded by the
    touched windows' rows, never the stream's history.  Both tables
    must exist (the fixture creates them — no swallowed DDL races).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    props = {"driver": driver} if driver else {}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # bounded: distinct (window, key) pairs CHANGED in one
        # micro-batch — update-mode output, not stream history.
        # Rows with a NULL window are unaddressable (no window to
        # rewrite) and cannot arise from window() over a non-null
        # event time — drop them rather than crash the int() below.
        changed = (
            batch_df.where(F.col("win_start").isNotNull())
            .select("win_start", "event_type")
            .distinct()
            # bounded: distinct changed (window, key) pairs of ONE batch
            .collect()
        )
        if not changed:
            return
        wins = sorted({r["win_start"] for r in changed})
        # ONE delete per touched window (not per (window, key) pair —
        # the serial driver round-trips dominated batch latency): the
        # key list is bound as PreparedStatement ``?`` parameters, never
        # interpolated into the SQL text, so a hostile key cannot break
        # or inject into the statement on ANY dialect's escape rules
        # (quote doubling alone mishandles MySQL backslash mode — ADVICE
        # r11); NULL keys get the IS NULL branch an equality predicate
        # would never match (str(None) = 'None' would orphan the NULL
        # row and a replay would append a duplicate, voiding idempotence).
        by_win: dict = {}
        for r in changed:
            by_win.setdefault(r["win_start"], []).append(r["event_type"])
        for w, keys in by_win.items():
            nonnull = [str(k) for k in keys if k is not None]
            preds = []
            if nonnull:
                marks = ", ".join("?" for _ in nonnull)
                preds.append(f'"event_type" IN ({marks})')
            if len(nonnull) != len(keys):
                preds.append('"event_type" IS NULL')
            _jdbc_execute_str_params(
                spark,
                url,
                f'DELETE FROM {counts_table} WHERE "win_start" = {int(w)}'
                f" AND ({' OR '.join(preds)})",
                nonnull,
                driver,
            )
        batch_df.where(F.col("win_start").isNotNull()).write.jdbc(
            url, counts_table, mode="append", properties=props
        )

        win_list = ", ".join(str(int(w)) for w in wins)
        full = spark.read.jdbc(url, counts_table, properties=props).filter(
            F.col("win_start").isin(wins)
        )
        w = Window.partitionBy("win_start").orderBy(
            F.desc("n"), F.asc("event_type")
        )
        board = (
            full.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k)
            .select("win_start", "rk", "event_type", "n")
        )
        _jdbc_execute(
            spark,
            url,
            f'DELETE FROM {board_table} WHERE "win_start" IN ({win_list})',
            driver,
        )
        board.write.jdbc(url, board_table, mode="append", properties=props)

    return write_batch
