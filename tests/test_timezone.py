"""Session-timezone independence pins (r10).

The r10 TZ=America/New_York oracle sweep caught two latent bugs that
the UTC-only gates could never see: a calendar function (``hour()``)
rendering in the session timezone, and a pandas ``datetime64.value``
treating session-local wall clock as epoch inside a stateful timer.
Both are fixed with epoch arithmetic; this suite pins the fixes at the
session-conf level (cheaper than the full TZ sweep, which remains the
round-close insurance: ``TZ=America/New_York SPARK_GRAFT_VANILLA=1
tools/verify_local.py``).
"""

from __future__ import annotations

import pytest

from spark_stream_analyzer_spark.plans.registry import queries

SF = "/root/testdata/sf0.001"

# rows whose results must be identical under any session timezone;
# ttl eviction is here because its timer DIED under a non-UTC session,
# the snapshot stream because it orders batches by current_timestamp()
TZ_SENSITIVE = (
    "events_k_anonymity",
    "streaming_state_ttl_eviction",
    "streaming_snapshot_stats",
)


@pytest.mark.parametrize("name", TZ_SENSITIVE)
def test_results_identical_under_ny_session_timezone(spark, name):
    qs = queries()
    prev = spark.conf.get("spark.sql.session.timeZone")
    utc_rows = sorted(map(tuple, qs[name](spark, SF).collect()))
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny_rows = sorted(map(tuple, qs[name](spark, SF).collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert ny_rows == utc_rows
