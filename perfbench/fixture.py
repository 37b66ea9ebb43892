"""Fixture tables the workloads read, generated in the benchmark's own
work directory so a run depends on nothing outside its checkout.

The tables follow the engine's fixture schemas (FIXTURES.md) and match
the 0.1 scale factor's files column by column, as profiled with DuckDB
(the figures are in README.md, "Fixture"): 15,000 customers, 1,000
suppliers, 25 nations and 5 regions give the ~46k-triple view; 100,000
events over 1,500 uniform users and 5 uniform event types give the
register's 7,500 keys. ``events.ts`` is a microsecond timestamp without
time zone, as in those files. The fixture uses one fixed data seed: the
workload seed varies the op stream, not the data, so run-to-run spread
measures the engine rather than the data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_NATION = 25
N_REGION = 5
N_EVENTS = 100_000
N_USERS = 1_500

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
# 2024-01-01T00:00:00 in µs since the epoch; events span 30 days
EVENTS_T0_US = 1_704_067_200_000_000
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
EVENT_VALUE_MEAN = 50.0  # event values are exponential, rounded to cents


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables() -> dict[str, pa.Table]:
    """Every fixture table, built from DATA_SEED alone."""
    rng = np.random.default_rng(DATA_SEED)
    cust = np.arange(N_CUSTOMER, dtype=np.int64)
    supp = np.arange(N_SUPPLIER, dtype=np.int64)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(N_REGION), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(N_NATION), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATION)],
            "n_regionkey": pa.array(
                [i % N_REGION for i in range(N_NATION)], pa.int32()
            ),
        }),
        "customer": pa.table({
            "c_custkey": cust,
            "c_name": [f"Customer#{i:09d}" for i in cust],
            "c_nationkey": rng.integers(0, N_NATION, N_CUSTOMER).astype(np.int32),
            "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[
                rng.integers(0, len(SEGMENTS), N_CUSTOMER)
            ],
        }),
        "supplier": pa.table({
            "s_suppkey": supp,
            "s_name": [f"Supplier#{i:09d}" for i in supp],
            "s_nationkey": rng.integers(0, N_NATION, N_SUPPLIER).astype(np.int32),
            "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99),
        }),
        "events": events_table(rng),
    }
    return out


def events_table(rng: np.random.Generator) -> pa.Table:
    ts = EVENTS_T0_US + np.sort(rng.integers(0, EVENTS_SPAN_US, N_EVENTS))
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), N_EVENTS)
        ],
        "value": np.round(rng.exponential(EVENT_VALUE_MEAN, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def write(sf_dir: str) -> dict[str, pa.Table]:
    """Write every table as ``<sf_dir>/<name>.parquet`` and return them."""
    os.makedirs(sf_dir, exist_ok=True)
    built = tables()
    for name, table in built.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return built
