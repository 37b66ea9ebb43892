"""Seeded op streams, their expected answers, and the correctness gate.

Everything here is plain Python (plus DuckDB for the SPARQL oracle): it
runs before the engine starts, so no oracle work is charged to set-up
or to an op's latency.

An op is a dict ``{"kind": ..., ...}``. Streams come in fixed blocks so
every window of whole blocks carries the same op mix:

- ``sparql_read``: blocks of 10 = 7 ``lookup`` + 3 ``pattern`` ops
  (one 2-3 pattern star, one FILTER or ASK, one ``p+`` path), shuffled
  within the block.
- ``register_write``: blocks of 5 = write, reread, write, reread, write,
  where the three writes are two ``upsert`` and one ``merge`` in seeded
  order and each ``reread`` reads a key the previous write touched.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

import fixture

SPARQL_BLOCK = 10
SPARQL_BLOCKS = 60
REGISTER_BLOCK = 5
REGISTER_BLOCKS = 40

REGISTER_KEYS = ["user_id", "event_type"]
REGISTER_ORDER = ["ts_us", "event_id"]
REGISTER_PAYLOAD = ["event_id", "ts_us", "value"]
REGISTER_COLUMNS = REGISTER_KEYS + REGISTER_PAYLOAD
STALE_SHARE = 0.2  # share of delta rows whose timestamp must lose
DELTA_EVENT_ID0 = 1_000_000_000

_PATH_EDGES = "('inNation', 'inRegion')"


class Zipf:
    """Seeded Zipf(s) draw over a seeded permutation of ``items``."""

    def __init__(self, rng: random.Random, items: list, s: float = 1.1):
        self.rng = rng
        self.items = list(items)
        rng.shuffle(self.items)
        self.cum = list(
            itertools.accumulate(1.0 / (r ** s) for r in range(1, len(items) + 1))
        )

    def draw(self):
        x = self.rng.random() * self.cum[-1]
        return self.items[bisect.bisect_right(self.cum, x)]


# ---------------------------------------------------------------- SPARQL


def sparql_ops(seed: int, blocks: int = SPARQL_BLOCKS) -> list[dict]:
    """The ``sparql_read`` stream: SPARQL texts plus the DuckDB SQL that
    computes each one's answer over the triples view."""
    rng = random.Random(f"sparql_read:{seed}")
    subjects = (
        [f"customer:{i}" for i in range(fixture.N_CUSTOMER)]
        + [f"supplier:{i}" for i in range(fixture.N_SUPPLIER)]
        + [f"nation:{i}" for i in range(fixture.N_NATION)]
        + [f"region:{i}" for i in range(fixture.N_REGION)]
    )
    zipf = Zipf(rng, subjects)
    path_zipf = Zipf(rng, subjects[: -fixture.N_REGION])
    ops = []
    for _ in range(blocks):
        block = [_lookup(zipf.draw()) for _ in range(7)]
        block.append(_star(rng))
        block.append(_filter(rng) if rng.random() < 0.5 else _ask(rng))
        block.append(_path(path_zipf.draw()))
        rng.shuffle(block)
        ops.extend(block)
    return ops


def _lookup(subject: str) -> dict:
    return {
        "kind": "lookup",
        "text": f"SELECT ?p ?o WHERE {{ <{subject}> ?p ?o }}",
        "sql": f"SELECT p, o FROM triples WHERE s = '{subject}'",
    }


def _star(rng: random.Random) -> dict:
    nation = rng.randrange(fixture.N_NATION)
    seg = rng.choice(fixture.SEGMENTS)
    if rng.random() < 0.5:
        return {
            "kind": "pattern",
            "text": (
                f'SELECT ?c WHERE {{ ?c inNation <nation:{nation}> . '
                f'?c inSegment "{seg}" }}'
            ),
            "sql": (
                "SELECT a.s FROM triples a JOIN triples b ON a.s = b.s "
                f"WHERE a.p = 'inNation' AND a.o = 'nation:{nation}' "
                f"AND b.p = 'inSegment' AND b.o = '{seg}'"
            ),
        }
    return {
        "kind": "pattern",
        "text": (
            f'SELECT ?c ?b WHERE {{ ?c inNation <nation:{nation}> . '
            f'?c inSegment "{seg}" . ?c hasBalanceCents ?b }}'
        ),
        "sql": (
            "SELECT a.s, c.o FROM triples a JOIN triples b ON a.s = b.s "
            "JOIN triples c ON a.s = c.s "
            f"WHERE a.p = 'inNation' AND a.o = 'nation:{nation}' "
            f"AND b.p = 'inSegment' AND b.o = '{seg}' "
            "AND c.p = 'hasBalanceCents'"
        ),
    }


def _filter(rng: random.Random) -> dict:
    nation = rng.randrange(fixture.N_NATION)
    digit = rng.randrange(1, 10)
    return {
        "kind": "pattern",
        "text": (
            f"SELECT ?c ?b WHERE {{ ?c inNation <nation:{nation}> . "
            f'?c hasBalanceCents ?b FILTER(STRSTARTS(?b, "{digit}")) }}'
        ),
        "sql": (
            "SELECT a.s, b.o FROM triples a JOIN triples b ON a.s = b.s "
            f"WHERE a.p = 'inNation' AND a.o = 'nation:{nation}' "
            f"AND b.p = 'hasBalanceCents' AND starts_with(b.o, '{digit}')"
        ),
    }


def _ask(rng: random.Random) -> dict:
    cust = rng.randrange(fixture.N_CUSTOMER)
    seg = rng.choice(fixture.SEGMENTS)
    return {
        "kind": "pattern",
        "text": f'ASK {{ <customer:{cust}> inSegment "{seg}" }}',
        "sql": (
            "SELECT CAST(EXISTS (SELECT 1 FROM triples "
            f"WHERE s = 'customer:{cust}' AND p = 'inSegment' "
            f"AND o = '{seg}') AS BIGINT)"
        ),
    }


def _path(subject: str) -> dict:
    return {
        "kind": "pattern",
        "text": f"SELECT ?o WHERE {{ <{subject}> (inNation|inRegion)+ ?o }}",
        "sql": (
            "WITH RECURSIVE e AS (SELECT s, o FROM triples "
            f"WHERE p IN {_PATH_EDGES}), "
            "r(s, o) AS (SELECT s, o FROM e UNION "
            "SELECT r.s, e.o FROM r JOIN e ON r.o = e.s) "
            f"SELECT DISTINCT o FROM r WHERE s = '{subject}'"
        ),
    }


def sparql_answers(ops: list[dict], sf_dir: str, triples_sql: str) -> None:
    """Fill ``op["expect"]`` for every op from DuckDB over the engine's
    own triples definition (``plans.bgp.TRIPLES_SQL``)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("customer", "supplier", "nation", "region"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        con.execute(f"CREATE TABLE triples AS WITH {triples_sql} SELECT * FROM triples")
        for op in ops:
            op["expect"] = canonical(con.execute(op["sql"]).fetchall())
    finally:
        con.close()


# -------------------------------------------------------------- register


class LwwModel:
    """Python last-writer-wins register: key -> newest (ts_us, event_id)
    row, the semantics of ``functions.lww.latest_by_key`` with order
    columns (ts_us, event_id)."""

    def __init__(self):
        self.state: dict[tuple, tuple] = {}

    def apply(self, rows) -> None:
        for user_id, event_type, event_id, ts_us, value in rows:
            key = (user_id, event_type)
            cur = self.state.get(key)
            if cur is None or (ts_us, event_id) > (cur[1], cur[0]):
                self.state[key] = (event_id, ts_us, value)

    def row(self, key: tuple) -> tuple:
        return key + self.state[key]


def initial_events(events: pa.Table) -> list[tuple]:
    """The fixture events as register rows, the register's initial load."""
    cols = events.to_pydict()
    ts_us = events.column("ts").cast(pa.int64()).to_pylist()
    return list(
        zip(cols["user_id"], cols["event_type"], cols["event_id"], ts_us, cols["value"])
    )


def register_ops(
    seed: int, events: pa.Table, blocks: int = REGISTER_BLOCKS
) -> list[dict]:
    """The ``register_write`` stream. Write ops carry their delta rows
    (one batch for ``upsert``, 2-3 replica batches for ``merge``); each
    ``reread`` carries the key it reads and the row the model expects."""
    rng = random.Random(f"register_write:{seed}")
    model = LwwModel()
    model.apply(initial_events(events))
    keys = sorted(model.state)
    zipf = Zipf(rng, keys)
    clock = max(ts for _, ts, _ in model.state.values()) + 1_000_000
    next_id = DELTA_EVENT_ID0

    def batch(n: int) -> list[tuple]:
        nonlocal clock, next_id
        rows = []
        for _ in range(n):
            key = zipf.draw()
            if rng.random() < STALE_SHARE:
                ts = model.state[key][1] - rng.randrange(1, 10**9)
            else:
                clock += rng.randrange(1, 1000)
                ts = clock
            value = round(rng.expovariate(1 / fixture.EVENT_VALUE_MEAN), 2)
            rows.append(key + (next_id, ts, value))
            next_id += 1
        return rows

    ops = []
    for _ in range(blocks):
        writes = ["upsert", "upsert", "merge"]
        rng.shuffle(writes)
        for i, kind in enumerate(writes):
            if kind == "upsert":
                batches = [batch(rng.randint(1, 10))]
            else:
                total = rng.randint(1000, 10000)
                parts = rng.randint(2, 3)
                batches = [batch(total // parts) for _ in range(parts)]
            for b in batches:
                model.apply(b)
            ops.append({"kind": kind, "batches": batches})
            if i < 2:
                key = tuple(rng.choice(rng.choice(batches))[:2])
                ops.append({"kind": "reread", "key": key, "expect": [model.row(key)]})
    return ops


def final_register(events: pa.Table, history: list[list[list[tuple]]]) -> list[tuple]:
    """The model's whole register after the initial load and the write
    ops in ``history``, each given as its list of delta batches."""
    model = LwwModel()
    model.apply(initial_events(events))
    for batches in history:
        for rows in batches:
            model.apply(rows)
    return [model.row(key) for key in model.state]


def write_deltas(ops: list[dict], out_dir: str) -> None:
    """Write each write op's batches as parquet and replace the rows by
    the file paths the worker reads."""
    schema = pa.schema([
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("event_id", pa.int64()), ("ts_us", pa.int64()), ("value", pa.float64()),
    ])
    os.makedirs(out_dir, exist_ok=True)
    for i, op in enumerate(ops):
        if op["kind"] not in ("upsert", "merge"):
            continue
        paths = []
        batches = op.pop("batches")
        for j, rows in enumerate(batches):
            table = pa.Table.from_pylist(
                [dict(zip(REGISTER_COLUMNS, r)) for r in rows], schema=schema
            )
            path = os.path.join(out_dir, f"op{i:05d}_b{j}.parquet")
            pq.write_table(table, path)
            paths.append(path)
        op["paths"] = paths
        op["rows"] = sum(len(rows) for rows in batches)


# ------------------------------------------------------------------ gate


def canonical(rows) -> list[list]:
    """Order-free, type-stable form of a result: sorted rows of strings."""
    return sorted([None if v is None else str(v) for v in r] for r in rows)


def check(op: dict, rows) -> bool:
    """The correctness gate: the op's rows equal its expected answer."""
    return canonical(rows) == canonical(op["expect"])
