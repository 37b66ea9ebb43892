"""Tests of the benchmark itself: seeded op streams, the LWW model, the
correctness gate and the metric lists.

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

import fixture
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def digest(ops: list[dict]) -> str:
    return hashlib.sha256(json.dumps(ops, sort_keys=True, default=list).encode()).hexdigest()


@pytest.fixture(scope="module")
def events():
    return fixture.events_table(np.random.default_rng(fixture.DATA_SEED))


def test_sparql_stream_is_seeded():
    a, b, c = (workloads.sparql_ops(s, blocks=5) for s in (3, 3, 4))
    assert [op["text"] for op in a] == [op["text"] for op in b]
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)


def test_sparql_blocks_keep_the_mix():
    ops = workloads.sparql_ops(5, blocks=4)
    for i in range(0, len(ops), workloads.SPARQL_BLOCK):
        kinds = [op["kind"] for op in ops[i : i + workloads.SPARQL_BLOCK]]
        assert kinds.count("lookup") == 7 and kinds.count("pattern") == 3
        assert sum("+ ?o" in op["text"] for op in ops[i : i + workloads.SPARQL_BLOCK]) == 1


def test_register_stream_and_deltas_are_seeded(events, tmp_path):
    a, b, c = (workloads.register_ops(s, events, blocks=3) for s in (3, 3, 4))
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)
    workloads.write_deltas(a, str(tmp_path / "a"))
    workloads.write_deltas(b, str(tmp_path / "b"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors


def test_register_stream_has_stale_rows_that_lose(events):
    ops = workloads.register_ops(9, events, blocks=2)
    model = workloads.LwwModel()
    model.apply(workloads.initial_events(events))
    stale = 0
    for op in ops:
        for rows in op.get("batches", []):
            for row in rows:
                key = row[:2]
                stale += row[3] < model.state[key][1]
            model.apply(rows)
    assert stale > 0


def test_lww_model_matches_latest_by_key():
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    from nosql_triple_store_spark.functions.lww import latest_by_key

    rows = [
        (1, "click", 10, 100, 1.5),
        (1, "click", 11, 90, 2.5),  # older timestamp loses
        (1, "click", 9, 100, 3.5),  # same timestamp, lower event id loses
        (2, "view", 12, 50, 4.5),
        (2, "click", 13, 70, 5.5),
        (2, "view", 14, 60, 6.5),
    ]
    model = workloads.LwwModel()
    model.apply(rows)
    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    df = spark.createDataFrame(rows, workloads.REGISTER_COLUMNS)
    got = latest_by_key(df, workloads.REGISTER_KEYS, workloads.REGISTER_ORDER,
                        workloads.REGISTER_PAYLOAD).collect()
    assert workloads.canonical(got) == workloads.canonical(
        [model.row(k) for k in model.state]
    )


def test_planted_wrong_answer_trips_the_gate(tmp_path):
    sys.path.insert(0, ROOT)
    from nosql_triple_store_spark.plans.bgp import TRIPLES_SQL

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    tables = fixture.tables()
    for t in ("customer", "supplier", "nation", "region"):
        pq.write_table(tables[t], os.path.join(sf, f"{t}.parquet"))
    ops = workloads.sparql_ops(1, blocks=1)
    workloads.sparql_answers(ops, sf, TRIPLES_SQL)
    for op in ops:
        rows = [tuple(r) for r in op["expect"]]
        assert workloads.check(op, rows)
        if rows:
            wrong = [rows[0][:-1] + ("planted",)] + rows[1:]
        else:
            wrong = [("planted",)]
        assert not workloads.check(op, wrong)
    reread = {"kind": "reread", "expect": [[1, "click", 10, 100, 1.5]]}
    assert workloads.check(reread, [(1, "click", 10, 100, 1.5)])
    assert not workloads.check(reread, [(1, "click", 11, 90, 2.5)])


def test_final_register_check_trips_on_a_lost_or_stale_row(events):
    ops = workloads.register_ops(7, events, blocks=1)
    history = [op.get("batches", []) for op in ops]

    def final(n):
        return workloads.final_register(events, history[:n])

    touched = {tuple(row[:2]) for batches in history for rows in batches for row in rows}
    good = [list(r) for r in final(len(ops))]
    untouched = next(i for i, r in enumerate(good) if tuple(r[:2]) not in touched)
    stale = next(i for i, r in enumerate(good) if tuple(r[:2]) in touched)
    lost_base = good[:untouched] + good[untouched + 1 :]
    old_value = [r if i != stale else r[:4] + [r[4] + 1.0] for i, r in enumerate(good)]
    for rows, ok in ((good, True), (lost_base, False), (old_value, False)):
        res = {"records": [{"i": i, "ok": True} for i in range(len(ops))], "final_rows": rows}
        run.check_final(res, final)
        assert res["records"][-1]["ok"] is ok
    # the model follows the ops that ran: a run cut after the first op
    # must not be held to the later writes
    res = {"records": [{"i": 0, "ok": True}], "final_rows": good}
    run.check_final(res, final)
    assert not res["records"][-1]["ok"]


def test_failed_op_counts_against_latency():
    rec = {"label": "op", "kind": "lookup", "latency_s": 0.1, "ok": True}
    res = {
        "records": [dict(rec, i=i) for i in range(3)] + [dict(rec, i=3, ok=False)],
        "loop_s": 2.0, "setup_s": 1.0, "peak_rss_kb": 1024, "cores": 4,
    }
    metrics, info = run.end_to_end(res)
    assert info["fail_frac"][1] == 0.25
    assert metrics["p50_s"] == 0.1
    assert max(run._latencies(res)) == 2.0


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == [n for n, _ in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == run.LAYERS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
