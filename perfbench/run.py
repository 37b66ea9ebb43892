"""Benchmark entry point for the triple store.

Usage (from the repository root):

    python3 perfbench/run.py --workload sparql_read --seed 1 --seconds 20 --trace 0

One closed-loop client drives the engine's public functions on
``local[<cores>]``. The command builds the fixture and the seeded op
stream (with every expected answer) in ``.perfbench_work/``, then starts
``worker.py`` in a fresh process, which cold-starts the engine, sets up,
warms up and runs the loop for ``--seconds`` (finishing the last op
block). The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.

A traced run first repeats the untraced run with the same seed, so it
can report its own overhead, then runs again with the timing wrappers
and the Spark event log on. Its per-layer table is printed and written
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "nosql_triple_store_spark")
TIME_LIMIT_S = 175  # the whole command, both processes of a traced run
OVERRUN_S = 15  # the loop may run this long past --seconds to end a block

# BASELINE.md: the reference's single-shot latencies (seconds)
BASELINE_S = {"lookup": 0.9002, "upsert": 2.4244, "merge": 2.2729}

WORKLOADS = ("sparql_read", "register_write")
ALL_KINDS = ("lookup", "pattern", "upsert", "merge", "reread")

# per_layer metrics: (name, unit, better). Layer values are per timed op
# unless the name says otherwise; per-kind values are medians per op.
LAYERS = [
    ("session.start_s", "s", "lower"),
    ("registry.load_s", "s", "lower"),
    ("catalog.load_table.calls", "count", "lower"),
    ("catalog.load_table.s", "s", "lower"),
    ("catalog.load_table.jobs", "count", "lower"),
    ("sparql.parse_s", "s", "lower"),
    ("sparql.compile_s", "s", "lower"),
    ("sparql.compile_jobs", "count", "lower"),
    ("encoded_store.s", "s", "lower"),
    ("compaction.compact_s", "s", "lower"),
    ("compaction.compact_jobs", "count", "lower"),
    ("compaction.bytes_written", "bytes", "lower"),
    ("compaction.read_register_s", "s", "lower"),
    ("lww.calls", "count", "lower"),
    ("materialize.calls", "count", "lower"),
    ("materialize.s", "s", "lower"),
    ("lazy_cut.calls", "count", "lower"),
    ("op.persisted_rdds_left", "count", "lower"),
    ("scratch.build_s", "s", "lower"),
    ("trace.untraced_p50_s", "s", "lower"),
    ("trace.traced_p50_s", "s", "lower"),
    ("trace.overhead_frac", "frac", "lower"),
]
PER_KIND = [
    ("op.build_s", "s"),
    ("op.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.jvm_gc_s", "s"),
    ("spark.input_records_per_result_row", "ratio"),
]
LAYERS += [(f"{m}.{k}", u, "lower") for k in ALL_KINDS for m, u in PER_KIND]

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("p50_s", "s"),
]

# which end-to-end figure each traced layer should move, on which workload
MOVES = {
    "session.start": "setup_s (all)",
    "registry.load": "setup_s (all)",
    "catalog.load_table": "lookup_p50_s, pattern_p50_s (sparql_read)",
    "sparql.parse": "lookup_p50_s, pattern_p50_s (sparql_read)",
    "sparql.compile": "lookup_p50_s, pattern_p50_s (sparql_read)",
    "encoded_store": "lookup_p50_s, pattern_p50_s (sparql_read)",
    "compaction.compact": "upsert_p50_s, merge_p50_s, write_amp (register_write)",
    "compaction.read_register": "reread_p50_s (register_write)",
    "lww.lww_merge": "merge_p50_s (register_write)",
    "lww.latest_by_key": "upsert_p50_s, merge_p50_s (register_write)",
    "materialize": "pattern_p50_s via the p+ path (sparql_read)",
    "lazy_cut": "pattern_p50_s via the p+ path (sparql_read)",
    "op.build": "the op kind's *_p50_s",
    "op.exec": "the op kind's *_p50_s",
}


# ----------------------------------------------------------------- inputs


def prepare(workload: str, seed: int, seconds: int, work: str) -> tuple[dict, object]:
    """Fixture, op stream and expected answers; nothing here is timed.
    Returns the worker's plan and, for ``register_write``, a function
    giving the model's final register after the first ``n`` ops."""
    sys.path.insert(0, ROOT)
    import fixture
    import workloads

    sf_dir = os.path.join(work, "sf")
    tables = fixture.write(sf_dir)
    if workload == "sparql_read":
        from nosql_triple_store_spark.plans.bgp import TRIPLES_SQL

        ops = workloads.sparql_ops(seed)
        workloads.sparql_answers(ops, sf_dir, TRIPLES_SQL)
        final = None
    else:
        ops = workloads.register_ops(seed, tables["events"])
        history = [op.get("batches", []) for op in ops]
        workloads.write_deltas(ops, os.path.join(work, "deltas"))

        def final(n: int) -> list[tuple]:
            return workloads.final_register(tables["events"], history[:n])
    plan = {
        "root": ROOT,
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "overrun_s": OVERRUN_S,
        "sf_dir": sf_dir,
        "ops": ops,
    }
    return plan, final


def check_final(res: dict, final) -> None:
    """Compare the register the worker read after its loop with the
    model's final state for the ops it ran. The check is one more
    record: a mismatch counts in ``failed``."""
    if final is None:
        return
    import workloads

    ran = max(r["i"] for r in res["records"]) + 1
    rec = {"i": ran, "kind": "final_register", "label": "final"}
    rec["ok"] = workloads.canonical(res["final_rows"]) == workloads.canonical(final(ran))
    if not rec["ok"]:
        rec["error"] = "the register differs from the model's final state"
    res["records"].append(rec)


# ---------------------------------------------------------------- process


def _group_pids(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a process group."""
    pids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat, encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        if fields[0] != "Z" and int(fields[2]) == pgid:
            pids.append(int(stat.split("/")[2]))
    return pids


def _wait_gone(pgid: int, seconds: float) -> bool:
    deadline = time.monotonic() + seconds
    while _group_pids(pgid):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def _reap_group(pgid: int) -> None:
    """Wait until every process of the worker's group (the worker, its
    JVM and the JVM's Python workers) has ended; kill what outlives the
    grace period."""
    if _wait_gone(pgid, 30):
        return
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    if not _wait_gone(pgid, 10):
        raise RuntimeError(f"processes of group {pgid} did not exit")


def spawn(plan: dict, work: str, tag: str, trace: bool, deadline: float) -> dict:
    """Run one worker process; return its result with ``setup_s``."""
    run_dir = os.path.join(work, tag)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "ckpt", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    plan = dict(plan, trace=trace, register_dir=os.path.join(run_dir, "register"),
                result_path=os.path.join(run_dir, "result.json"))
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w", encoding="utf-8") as f:
        json.dump(plan, f)
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:  # set here, outside the engine's session factory
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CKPT_BASE=dirs["ckpt"],
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=subprocess.list2cmdline(submit + ["pyspark-shell"]),
    )
    log_path = os.path.join(run_dir, "worker.log")
    t0 = time.time()
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), plan_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
        finally:
            _reap_group(proc.pid)
    if rc != 0:
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"{tag} worker exited with {rc}:\n{tail}")
    with open(plan["result_path"], encoding="utf-8") as f:
        res = json.load(f)
    res["setup_s"] = res["first_op_wall"] - t0
    res["eventlog"] = glob.glob(os.path.join(dirs["eventlog"], "*"))
    return res


# ---------------------------------------------------------------- metrics


def _timed(res: dict) -> list[dict]:
    return [r for r in res["records"] if r["label"] == "op"]


def _latencies(res: dict, kind: str | None = None) -> list[float]:
    """Timed-op latencies; a failed or wrong op counts as the whole loop
    time, so it misses every latency limit."""
    return [
        r["latency_s"] if r["ok"] else res["loop_s"]
        for r in _timed(res)
        if kind is None or r["kind"] == kind
    ]


def _percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(res: dict) -> tuple[dict, dict]:
    """The gated metrics, and the informational ones printed beside them
    as ``name -> (unit, value)``."""
    timed = _timed(res)
    lat = _latencies(res)
    metrics = {
        "setup_s": res["setup_s"],
        "ops_per_s": len(timed) / res["loop_s"],
        "p50_s": statistics.median(lat),
    }
    failed = sum(not r["ok"] for r in res["records"])
    info = {
        "fail_frac": ("frac", failed / len(res["records"])),
        "timed_ops": ("count", len(timed)),
        # not gated: G1 sizes the heap by GC timing, so this spread
        # 0.17-0.38 (IQR over median) across runs of one workload
        "peak_rss_mb": ("MB", res["peak_rss_kb"] / 1024.0),
        f"p90_s (n={len(lat)})": ("s", _percentile(lat, 90)),
        "cores": ("count", res["cores"]),
    }
    for kind in sorted({r["kind"] for r in timed}):
        info[f"{kind}_p50_s"] = ("s", statistics.median(_latencies(res, kind)))
    writes = [r for r in timed if "bytes_written" in r]
    if writes:
        amp = sum(r["bytes_written"] for r in writes) / sum(r["delta_bytes"] for r in writes)
        info["write_amp"] = ("ratio", amp)
    for kind, ref in BASELINE_S.items():
        if f"{kind}_p50_s" in info:
            info[f"{kind}_p50_s / reference {ref} s"] = ("ratio", info[f"{kind}_p50_s"][1] / ref)
    return metrics, info


def per_layer(traced: dict, untraced: dict, workload: str, seed: int) -> tuple[dict, str]:
    """Per-layer metrics and the markdown roll-up of a traced run."""
    import spans as sp

    spans = traced["spans"]
    if len(traced["eventlog"]) != 1:
        raise RuntimeError(f"expected one event log, found {traced['eventlog']}")
    jobs = sp.read_event_log(traced["eventlog"][0])
    incl_jobs = sp.inclusive_jobs(spans, sp.attribute_jobs(spans, jobs))
    top = sp.top_ancestor(spans)
    timed = _timed(traced)
    n = len(timed)
    timed_spans = {r["span"] for r in timed}
    inside = [s for s in spans if top[s[0]] in timed_spans and s[4] is not None]

    def per_op(name: str, what: str) -> float:
        sel = [s for s in inside if s[2] == name]
        if what == "calls":
            return len(sel) / n
        if what == "jobs":
            return sum(incl_jobs[s[0]] for s in sel) / n
        return sum(s[4] - s[3] for s in sel) / n

    def once(name: str) -> float:
        return sum(s[4] - s[3] for s in spans if s[2] == name)

    # lww_merge calls latest_by_key: count the outer call only
    lww_calls = sum(
        s[2].startswith("lww.") and not spans[s[1]][2].startswith("lww.") for s in inside
    )
    traced_p50 = statistics.median(_latencies(traced))
    untraced_p50 = statistics.median(_latencies(untraced))
    m = {
        "session.start_s": once("session.start"),
        "registry.load_s": once("registry.load"),
        "catalog.load_table.calls": per_op("catalog.load_table", "calls"),
        "catalog.load_table.s": per_op("catalog.load_table", "s"),
        "catalog.load_table.jobs": per_op("catalog.load_table", "jobs"),
        "sparql.parse_s": per_op("sparql.parse", "s"),
        "sparql.compile_s": per_op("sparql.compile", "s"),
        "sparql.compile_jobs": per_op("sparql.compile", "jobs"),
        "encoded_store.s": per_op("encoded_store", "s"),
        "compaction.compact_s": per_op("compaction.compact", "s"),
        "compaction.compact_jobs": per_op("compaction.compact", "jobs"),
        "compaction.bytes_written": sum(r.get("bytes_written", 0) for r in timed) / n,
        "compaction.read_register_s": per_op("compaction.read_register", "s"),
        "lww.calls": lww_calls / n,
        "materialize.calls": per_op("materialize", "calls"),
        "materialize.s": per_op("materialize", "s"),
        "lazy_cut.calls": per_op("lazy_cut", "calls"),
        "op.persisted_rdds_left": sum(r["persisted_left"] for r in timed) / n,
        "scratch.build_s": sum(r["build_s"] for r in timed),
        "trace.untraced_p50_s": untraced_p50,
        "trace.traced_p50_s": traced_p50,
        "trace.overhead_frac": traced_p50 / untraced_p50 - 1.0,
    }
    phase = defaultdict(dict)  # op span id -> {"op.build": s, "op.exec": s}
    for s in inside:
        if s[2] in ("op.build", "op.exec"):
            phase[top[s[0]]][s[2]] = s[4] - s[3]
    groups = sp.group_totals(jobs)
    kind_rows = []
    for kind in ALL_KINDS:
        recs = [r for r in timed if r["kind"] == kind]
        tot = [groups.get(f"op-{r['i']:05d}-{kind}", sp.empty_totals()) for r in recs]
        row = {
            "op.build_s": _median([phase[r["span"]].get("op.build", 0.0) for r in recs]),
            "op.exec_s": _median([phase[r["span"]].get("op.exec", 0.0) for r in recs]),
        }
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "jvm_gc_s"):
            row[f"spark.{key}"] = _median([t[key] for t in tot])
        result_rows = sum(r.get("result_rows", 0) for r in recs)
        row["spark.input_records_per_result_row"] = (
            sum(t["input_records"] for t in tot) / result_rows if result_rows else 0.0
        )
        m.update({f"{key}.{kind}": val for key, val in row.items()})
        if recs:
            kind_rows.append(
                f"| {kind} | {len(recs)} | "
                + " | ".join(f"{row[k]:.4g}" for k, _ in PER_KIND) + " |"
            )
    timed_ids = {s[0] for s in inside}
    setup_ids = {s[0] for s in spans} - timed_ids
    report = [
        f"### {workload}, seed {seed}: {n} timed ops",
        "",
        sp.format_table("Timed ops, ranked by self time", sp.span_table(spans, incl_jobs, timed_ids), MOVES),
        "",
        sp.format_table("Set-up, warm-up and the final read", sp.span_table(spans, incl_jobs, setup_ids), MOVES),
        "",
        "Medians per op of each kind (Spark figures from the event log, per job group):",
        "",
        "| op kind | ops | " + " | ".join(k for k, _ in PER_KIND) + " |",
        "|---|---:|" + "---:|" * len(PER_KIND),
        *kind_rows,
        "",
        f"Tracing overhead: traced p50_s {traced_p50:.4f} s vs untraced "
        f"{untraced_p50:.4f} s ({100 * m['trace.overhead_frac']:+.1f}%), same seed.",
    ]
    return m, "\n".join(report)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(ENGINE):
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + TIME_LIMIT_S
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        plan, final = prepare(args.workload, args.seed, args.seconds, work)
        res = spawn(plan, work, "untraced", False, deadline)
        check_final(res, final)
        runs = [res]
        if args.trace:
            traced = spawn(plan, work, "traced", True, deadline)
            check_final(traced, final)
            runs.append(traced)
            values, table = per_layer(traced, res, args.workload, args.seed)
            units = {name: unit for name, unit, _ in LAYERS}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            with open(stem + "-layers.md", "w", encoding="utf-8") as f:
                f.write(table + "\n")
            with open(stem + "-spans.json", "w", encoding="utf-8") as f:
                json.dump({"spans": traced["spans"], "records": traced["records"]}, f)
            print(table)
        else:
            values, info = end_to_end(res)
            units = dict(END_TO_END)
            for name, (unit, val) in info.items():
                print(f"info {args.workload} {name} = {val:.6g} {unit}")
        records = [r for run in runs for r in run["records"]]
        failed = sum(not r["ok"] for r in records)
        for r in records:
            if not r["ok"]:
                print(f"FAILED op {r['i']} ({r['kind']}): {r.get('error')}", file=sys.stderr)
        for name, val in values.items():
            print(f"{args.workload} {name} = {val:.6g} {units[name]}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
