"""HTTP control plane tests (reference ``MainController.java:29-61``):
start/stop/status over real HTTP against a real streaming query."""

from __future__ import annotations

import json
import urllib.request

from spark_stream_analyzer_spark.sources.wire import parse_kill_lines
from spark_stream_analyzer_spark.streaming.control_http import ControlServer
from spark_stream_analyzer_spark.streaming.sinks import to_memory
from spark_stream_analyzer_spark.streaming.sources import file_lines_stream

KILL = "x,12800,1,Alice,S_A,x,x,Bob,S_B,x,x,Cara,S_C\n"


def _call(addr, method, path):
    host, port = addr
    req = urllib.request.Request(f"http://{host}:{port}{path}", method=method)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_start_stop_status_roundtrip(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "000.txt").write_text(KILL)

    def build():
        ev = parse_kill_lines(file_lines_stream(spark, str(src)))
        return to_memory(ev, "t_http_ctl", output_mode="append")

    srv = ControlServer(build)
    srv.start()
    try:
        addr = srv.address
        code, body = _call(addr, "GET", "/status")
        assert code == 200 and body == {"running": False}

        code, body = _call(addr, "POST", "/start")
        assert code == 200 and body == {"started": True}
        # reference behavior: refuse a second start while running
        code, body = _call(addr, "POST", "/start")
        assert code == 409 and body == {"started": False}

        srv.controller._query.processAllAvailable()
        code, body = _call(addr, "GET", "/status")
        assert code == 200 and body["running"] and "id" in body
        assert spark.table("t_http_ctl").count() == 3

        code, body = _call(addr, "POST", "/stop")
        assert code == 200 and body == {"stopped": True}
        code, body = _call(addr, "POST", "/stop")
        assert code == 409 and body == {"stopped": False}
        code, body = _call(addr, "GET", "/status")
        assert code == 200 and body == {"running": False}

        # restart works (fresh query from the factory)
        code, body = _call(addr, "POST", "/start")
        assert code == 200 and body == {"started": True}

        code, body = _call(addr, "GET", "/nope")
        assert code == 404
    finally:
        srv.shutdown()


def test_http_start_passes_folder_path(spark, tmp_path):
    """Reference parity: POST /start?folderPath=... reaches the factory
    (MainController.java:29-37)."""
    srcs = {}
    for name in ("one", "two"):
        d = tmp_path / name
        d.mkdir()
        (d / "000.txt").write_text(KILL)
        srcs[name] = str(d)

    seen = []

    def build(folder):
        seen.append(folder)
        ev = parse_kill_lines(file_lines_stream(spark, folder))
        return to_memory(ev, "t_http_folder", output_mode="append")

    srv = ControlServer(build)
    srv.start()
    try:
        addr = srv.address
        quoted = srcs["two"].replace("/", "%2F")
        code, body = _call(addr, "POST", f"/start?folderPath={quoted}")
        assert code == 200 and body == {"started": True}
        srv.controller._query.processAllAvailable()
        assert seen == [srcs["two"]]
        assert spark.table("t_http_folder").count() == 3
        code, _ = _call(addr, "POST", "/stop")
        assert code == 200
    finally:
        srv.shutdown()


def test_http_start_bad_folder_returns_500_with_error(spark, tmp_path):
    """A factory that raises (here: the file source rejects a folder
    that does not exist) answers /start with 500 JSON carrying the
    error instead of dropping the connection; the server stays usable."""

    def build(folder):
        ev = parse_kill_lines(file_lines_stream(spark, folder))
        return to_memory(ev, "t_http_bad_folder", output_mode="append")

    srv = ControlServer(build)
    srv.start()
    try:
        missing = str(tmp_path / "no_such_dir").replace("/", "%2F")
        code, body = _call(srv.address, "POST", f"/start?folderPath={missing}")
        assert code == 500 and body["started"] is False
        assert "no_such_dir" in body["error"]
        code, body = _call(srv.address, "GET", "/status")
        assert code == 200 and body == {"running": False}
    finally:
        srv.shutdown()


def test_http_status_reports_query_dead_in_first_batch(spark, tmp_path):
    """/start returns 200 for a plan that only fails when its first
    micro-batch runs; /status must then carry the failure: not running,
    the exception message, and no completed batch."""
    import time

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    (src / "000.txt").write_text(KILL)

    def build():
        ev = parse_kill_lines(file_lines_stream(spark, str(src)))
        dies = ev.select(F.raise_error(F.lit("first-batch-boom")).alias("x"))
        return to_memory(dies, "t_http_dies", output_mode="append")

    srv = ControlServer(build)
    srv.start()
    try:
        code, body = _call(srv.address, "POST", "/start")
        assert code == 200 and body == {"started": True}
        deadline = time.time() + 60
        while True:
            code, body = _call(srv.address, "GET", "/status")
            if not body["running"] or time.time() > deadline:
                break
            time.sleep(0.2)
        assert code == 200 and body["running"] is False
        assert "first-batch-boom" in body["exception"]
        assert body["last_batch_id"] is None and "id" in body
        # a dead query is not running: /stop is a no-op, /start rebuilds
        code, _ = _call(srv.address, "POST", "/stop")
        assert code == 409
    finally:
        srv.shutdown()
