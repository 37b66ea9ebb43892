"""One benchmark process: cold engine start, set-up, warm-up, then the
closed loop over the op stream. ``run.py`` starts it and reads back the
JSON it writes.

Usage: python3 worker.py <plan.json>

The plan names the workload, the fixture directory, the op stream (with
expected answers), the run length and whether to trace. Set-up is
everything before the first timed op: session start, registry load, the
workload's layout (the encoded triple store, or the initial register)
and one warm-up block of the same stream.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import traceback

import workloads
from spans import Tracer


def _untraced(_name: str):
    return contextlib.nullcontext()


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class SparqlRead:
    """SPARQL texts through ``plans.sparql.compile_sparql_encoded``;
    the rows come back to the client with ``collect``."""

    block = workloads.SPARQL_BLOCK
    final_rows = None  # every answer is checked per op; no end state

    def __init__(self, spark, plan, span):
        from nosql_triple_store_spark.plans import sparql

        self.spark, self.sf, self.span, self.sparql = spark, plan["sf_dir"], span, sparql

    def setup(self) -> None:
        from nosql_triple_store_spark.operators import relational_ext3

        relational_ext3.encoded_store(self.spark, self.sf)

    def run(self, op: dict):
        with self.span("op.build"):
            df = self.sparql.compile_sparql_encoded(self.spark, self.sf, op["text"])
        with self.span("op.exec"):
            rows = df.collect()
        return rows, {"result_rows": len(rows)}


class RegisterWrite:
    """The versioned on-disk LWW register of ``sources.compaction``."""

    block = workloads.REGISTER_BLOCK

    def __init__(self, spark, plan, span):
        from nosql_triple_store_spark.functions import lww
        from nosql_triple_store_spark.sources import compaction

        self.spark, self.sf, self.span = spark, plan["sf_dir"], span
        self.base = plan["register_dir"]
        self.lww, self.compaction = lww, compaction

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from nosql_triple_store_spark import catalog

        ev = catalog.load_table(self.spark, self.sf, "events").select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "value",
        )
        self.compaction.init_register(
            ev, self.base, workloads.REGISTER_KEYS, workloads.REGISTER_ORDER
        )

    def run(self, op: dict):
        from pyspark.sql import functions as F

        keys, order = workloads.REGISTER_KEYS, workloads.REGISTER_ORDER
        if op["kind"] == "reread":
            with self.span("op.build"):
                user_id, event_type = op["key"]
                df = (
                    self.compaction.read_register(self.spark, self.base)
                    .filter((F.col("user_id") == user_id) & (F.col("event_type") == event_type))
                    .select(*workloads.REGISTER_COLUMNS)
                )
            with self.span("op.exec"):
                rows = df.collect()
            return rows, {"result_rows": len(rows)}
        with self.span("op.build"):
            batches = [self.spark.read.parquet(p) for p in op["paths"]]
            delta = (
                batches[0]
                if len(batches) == 1
                else self.lww.lww_merge(
                    batches[0], batches[1:], keys, order, workloads.REGISTER_PAYLOAD
                )
            )
            version = self.compaction.compact(self.spark, self.base, delta, keys, order)
        return None, {"result_rows": op["rows"], "version": version}

    def final_rows(self) -> list:
        """The whole register after the loop, for the check against the
        model's final state; read outside every timed region."""
        return [
            list(r)
            for r in self.compaction.read_register(self.spark, self.base)
            .select(*workloads.REGISTER_COLUMNS)
            .collect()
        ]


WORKLOADS = {"sparql_read": SparqlRead, "register_write": RegisterWrite}


def main(plan_path: str) -> None:
    with open(plan_path, encoding="utf-8") as f:
        plan = json.load(f)
    sys.path.insert(0, plan["root"])
    tracer = Tracer() if plan["trace"] else None
    if tracer is not None:
        tracer.install()
    span = tracer.span if tracer is not None else _untraced

    from nosql_triple_store_spark import registry, scratch, session

    spark = session.get_spark(app_name=f"perfbench-{plan['workload']}")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    registry.all_specs()
    if tracer is not None:
        tracer.verify()
    wl = WORKLOADS[plan["workload"]](spark, plan, span)
    wl.setup()

    records = []

    def execute(i: int, op: dict, label: str) -> None:
        pre = set(sc._jsc.getPersistentRDDs().keys())
        scratch.drain_build_seconds()
        if tracer is not None:
            sc.setJobGroup(f"{label}-{i:05d}-{op['kind']}", op["kind"])
        rec = {"i": i, "kind": op["kind"], "label": label, "ok": False}
        with span(label) as rec["span"]:
            t0 = time.perf_counter()
            try:
                rows, info = wl.run(op)
                rec["latency_s"] = time.perf_counter() - t0
                # writes return no rows: the rereads after them check them
                rec["ok"] = rows is None or workloads.check(op, rows)
                rec["result_rows"] = info["result_rows"]
                if not rec["ok"]:
                    rec["error"] = f"wrong answer: got {workloads.canonical(rows)[:5]}"
            except Exception:  # a failed op is counted, the loop goes on
                rec["latency_s"] = time.perf_counter() - t0
                rec["error"] = traceback.format_exc(limit=3)[-2000:]
                info = {}
        rec["build_s"] = sum(scratch.drain_build_seconds().values())
        if "version" in info:
            head, tail = os.path.split(info["version"])
            delta = _dir_bytes(os.path.join(head, "d" + tail[1:]))
            rec["delta_bytes"] = delta
            rec["bytes_written"] = delta + _dir_bytes(info["version"])
        left = [j for rid, j in sc._jsc.getPersistentRDDs().items() if rid not in pre]
        rec["persisted_left"] = len(left)
        for jrdd in left:  # free the op's blocks outside its timed region
            jrdd.unpersist(False)
        records.append(rec)

    ops = plan["ops"]
    warm = wl.block
    for i in range(warm):
        execute(i, ops[i], "warmup")
    first_op_wall = time.time()
    t_start = time.perf_counter()
    i = warm
    while i < len(ops):
        elapsed = time.perf_counter() - t_start
        if (i - warm) % wl.block == 0 and elapsed >= plan["seconds"]:
            break
        if elapsed >= plan["seconds"] + plan["overrun_s"]:
            break
        execute(i, ops[i], "op")
        i += 1
    loop_s = time.perf_counter() - t_start

    result = {
        "first_op_wall": first_op_wall,
        "loop_s": loop_s,
        "records": records,
        "peak_rss_kb": _vm_hwm_kb(os.getpid()) + _vm_hwm_kb(sc._gateway.proc.pid),
        "cores": sc.defaultParallelism,
    }
    if wl.final_rows is not None:
        result["final_rows"] = wl.final_rows()
    spark.stop()
    if tracer is not None:
        result["spans"] = tracer.spans
    with open(plan["result_path"], "w", encoding="utf-8") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
