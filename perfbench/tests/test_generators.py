"""Tests for the benchmark's seeded generators and pure-Python references.

Run: ``python3 -m pytest perfbench/tests -q`` from the repository root.
The last test starts a local Spark session to check the Python parsers
against the engine's wire parsers.
"""

from __future__ import annotations

import json
import os
import random
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus as corpus_mod  # noqa: E402
import corpusgen as C  # noqa: E402
import stream  # noqa: E402
import wiregen as W  # noqa: E402

# -- wire generator ------------------------------------------------------------


def _lines(seed: int, kind: str, n: int = 2000) -> list[str]:
    return W.match_file(random.Random(seed), W.make_players(10), kind, n, 0, 600)


def test_wire_generator_is_seeded():
    assert _lines(7, "kill") == _lines(7, "kill")
    assert _lines(7, "kill") != _lines(8, "kill")


def test_kill_lines_follow_reference_layout():
    lines = _lines(1, "kill")
    full = [line.split(",") for line in lines if line.count(",") == 12]
    assert len(full) > 0.85 * len(lines)
    for f in full:
        if f[1].isdigit():
            # tick = second * 128 + sub-second ticks, round derived from the second
            assert int(f[2]) == W.round_of(int(f[1]) // W.TICKS_PER_SECOND)
    assert any(f[11] == "0" and f[12] == "0" for f in full), "assister '0' case"


def test_wire_generator_exercises_drop_paths():
    kills, damages = _lines(2, "kill"), _lines(2, "damage")
    assert any(line.count(",") == 2 for line in kills), "3-column kill lines"
    assert any(line.count(",") == 8 for line in kills), "9-column kill lines"
    assert any(line.split(",")[1].startswith("t") for line in kills), "bad ticks"
    assert any(line.count(",") == 4 for line in damages), "short damage lines"
    assert any(line.count(",") == 9 and line.endswith(",") for line in damages), "empty damager"
    dropped = sum(not W.parse_damage_line(line) for line in damages)
    assert 0.02 * len(damages) < dropped < 0.15 * len(damages)


def test_parse_kill_line_matches_fixture_semantics():
    ev = W.parse_kill_line("x,12800,3,PlayerA,STEAM_1,x,x,PlayerB,STEAM_2,x,x,PlayerC,STEAM_3")
    assert ev == [
        ("PlayerA", "STEAM_1", "kill", 100, 0, 3),
        ("PlayerB", "STEAM_2", "death", 100, 0, 3),
        ("PlayerC", "STEAM_3", "assist", 100, 0, 3),
    ]
    assert [e[2] for e in W.parse_kill_line("x,128,1,,,x,x,V,S2,x,x,0,0")] == ["death"]
    assert [e[2] for e in W.parse_kill_line("x,128,1,K,S1,x,x,V,S2")] == ["kill", "death"]
    assert W.parse_kill_line("x,128,1") == []
    assert W.parse_kill_line("x,t128,1,K,S1,x,x,V,S2,x,x,A,S3") == []


def test_parse_damage_line_matches_fixture_semantics():
    assert W.parse_damage_line("x,25600,5,x,x,100,73,x,x,STEAM_1") == [
        ("", "STEAM_1", "damage", 200, 27, 5)
    ]
    assert W.parse_damage_line("x,25600,5,x,x,100,73,x,x,") == []
    assert W.parse_damage_line("x,25600,5,x,x") == []


# -- reference fold -------------------------------------------------------------


def test_reference_fold_batch_scoped_second_round_and_name():
    fold = W.ReferenceFold()
    fold.fold_batch([
        ("Alice", "S1", "kill", 50, 0, 2),
        ("", "S1", "damage", 60, 30, 3),
        ("Bob", "S2", "death", 55, 0, 2),
    ])
    # second batch: damage only for S1 — blank batch name falls back to
    # the stored one; second/round are this batch's maxima, not lifetime
    out = fold.fold_batch([("", "S1", "damage", 10, 20, 1)])
    assert out["S1"] == ("S1", "Alice", 10, 1, 0, 0, 50.0, 1.0, 50.0)
    assert fold.last["S2"] == ("S2", "Bob", 55, 0, 1, 0, 0.0, 0.0, 0.0 / 2)


def test_reference_fold_derived_metric_rules():
    fold = W.ReferenceFold()
    out = fold.fold_batch([
        ("A", "S1", "kill", 1, 0, 0),
        ("A", "S1", "kill", 1, 0, 0),
        ("A", "S1", "death", 1, 0, 0),
        ("A", "S1", "death", 1, 0, 0),
        ("A", "S1", "death", 1, 0, 0),
        ("", "S1", "damage", 1, None, 0),
    ])
    sid, name, second, k, d, a, dmg, kd, dpr = out["S1"]
    assert (k, d, dmg) == (2, 3, 0.0)
    assert kd == 2 / 3
    assert dpr is None  # round 0: damage_per_round is NULL
    out = fold.fold_batch([("A", "S1", "kill", 9, 0, 4)])
    assert out["S1"][7] == 1.0 and out["S1"][8] == 0.0
    assert fold.fold_batch([("B", "S9", "kill", 1, 0, 1)])["S9"][7] == 1.0  # deaths 0: kd = kills


def test_compare_snapshots_flags_each_column():
    row = ("S1", "A", 3, 1, 2, 0, 5.0, 0.5, 1.25)
    assert W.compare_snapshots({"S1": row}, {"S1": row}) == []
    for i in range(len(row)):
        bad = list(row)
        bad[i] = None if i == 8 else (bad[i] + 1 if not isinstance(bad[i], str) else bad[i] + "x")
        assert W.compare_snapshots({"S1": row}, {"S1": tuple(bad)}) == ["S1"]
    assert W.compare_snapshots({"S1": row}, {}) == ["S1"]


def test_live_schedule_shape():
    players, arrivals, files = stream.live_schedule(5, 20)
    assert len(players) == 10
    assert len(arrivals) == len(files) == 200
    offsets = [t for t, _ in arrivals]
    assert offsets == sorted(offsets) and 0 <= offsets[0] and offsets[-1] <= 20
    assert stream.live_schedule(5, 20)[1] == arrivals


# -- corpus generator ------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus():
    return C.make_corpus(3, 600, 400)


def test_corpus_is_seeded(corpus):
    again = C.make_corpus(3, 600, 400)
    assert again.texts == corpus.texts and np.array_equal(again.vecs, corpus.vecs)
    assert C.make_corpus(4, 600, 400).texts != corpus.texts


def test_planted_exact_families_are_byte_identical(corpus):
    assert corpus.exact_families
    for fam in corpus.exact_families:
        assert len({corpus.texts[d] for d in fam}) == 1
    # no accidental byte duplicates outside the planted families
    in_fam = {d for fam in corpus.exact_families for d in fam}
    rest = [corpus.texts[d] for d in corpus.doc_ids if d not in in_fam]
    assert len(set(rest)) == len(rest)


def test_planted_near_families_are_near_and_others_unrelated(corpus):
    sh = [C.shingles(t) for t in corpus.texts]
    assert corpus.near_families
    for fam in corpus.near_families:
        assert len({corpus.texts[d] for d in fam}) == len(fam)  # not exact copies
        for a in fam:
            for b in fam:
                if a < b:
                    assert C.jaccard(sh[a], sh[b])[1] >= 0.8
    planted = {d for fam in corpus.exact_families + corpus.near_families for d in fam}
    loose = sorted(set(corpus.doc_ids) - planted)[:100]
    for i, a in enumerate(loose):
        for b in loose[i + 1 :]:
            assert C.jaccard(sh[a], sh[b])[0] == 0


def test_shingles_normalize_like_the_engine():
    assert C.shingles("Hello,  World! foo") == {"hello world foo"}
    assert C.shingles("a b") == set()


def test_planted_vector_families(corpus):
    assert corpus.vec_families
    cos = C.cosine_matrix(corpus.vecs)
    for fam in corpus.vec_families:
        for a in fam:
            for b in fam:
                assert cos[a, b] > 0.99
    off = cos[np.triu_indices(len(cos), 1)]
    assert (off > 0.95).sum() == sum(len(f) * (len(f) - 1) // 2 for f in corpus.vec_families)


def test_topk_check_accepts_only_the_brute_force_answer():
    # query 0; ids 1 and 2 tie exactly with it, then 3, 4, 5 by angle
    vecs = np.array([[1.0, 0.0], [1.0, 0.0], [2.0, 0.0], [1.0, 0.1], [1.0, 0.2],
                     [1.0, 0.3], [0.0, 1.0], [-1.0, 0.0]])
    small = C.Corpus([], [], [], [], np.arange(len(vecs)), vecs, [])
    cos = C.cosine_matrix(vecs, np.array([0]))[0]

    def rows(ids):
        return [{"query_id": 0, "rank": r + 1, "neighbor_id": i, "cosine": round(cos[i], 6)}
                for r, i in enumerate(ids)]

    assert corpus_mod.check_topk(small, rows([1, 2, 3, 4, 5]))
    assert corpus_mod.check_topk(small, rows([2, 1, 3, 4, 5]))  # an exact tie either way
    assert not corpus_mod.check_topk(small, rows([1, 2, 4, 3, 5]))
    assert not corpus_mod.check_topk(small, rows([1, 2, 3, 4, 6]))
    assert not corpus_mod.check_topk(small, rows([1, 2, 3, 4]))


# -- BENCHMARK.json and layers.json agree ----------------------------------------


def test_layers_table_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(BENCH, "layers.json")) as f:
        doc = json.load(f)
    layers = doc["per_layer"]
    assert [{k: m[k] for k in ("name", "unit", "better")} for m in layers] == bench["per_layer"]
    metrics = {e["name"] for e in bench["end_to_end"]} | set(doc["end_to_end_extra"])
    workloads = {w["name"] for w in bench["workloads"]} | set(doc["ungated_workloads"])
    for m in layers:
        assert m["layer"]
        for target in m["moves"]:
            metric, workload = target.split("@")
            assert metric in metrics and workload in workloads


# -- Python parsers agree with the engine's parsers --------------------------------


def test_python_parsers_match_engine_parsers():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    from spark_stream_analyzer_spark.sources.wire import parse_damage_lines, parse_kill_lines

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    def key(e):
        return tuple("" if x is None else str(x) for x in e)

    try:
        for kind, parse in (("kill", parse_kill_lines), ("damage", parse_damage_lines)):
            lines = _lines(11, kind, 3000)
            df = spark.createDataFrame([(line,) for line in lines], "value STRING")
            got = sorted((tuple(r) for r in parse(df).collect()), key=key)
            assert got == sorted(W.parse_lines(kind, lines), key=key)
    finally:
        spark.stop()
