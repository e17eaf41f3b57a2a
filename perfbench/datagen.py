"""Deterministic TPC-H-ish tables for the benchmark.

The benchmark reads nothing outside its checkout, so it builds its own copy
of the engine's catalog tables with a fixed data seed. The draws replay
those of the generator behind the test data described in ``TESTDATA.md``,
so the seven TPC-H tables come out equal, value for value and type for
type, to that data's ``sf0.1``, ``sf0.01`` and ``sf0.001`` tables; check it
against a copy of the test data with

    python3 perfbench/datagen.py --compare <dir holding sf0.1, sf0.01, ...>

The workload ``--seed`` never changes the data, only the ops run over it.
Tables are written once per checkout, one parquet file and one row group
each, and reused by every later run.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed data seed: every run and every workload sees the same tables.
DATA_SEED = 42

#: Row counts at scale factor 1; the tables are scaled linearly.
_SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
P_TYPES = ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
P_WORDS_A = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
P_WORDS_B = ("anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float) -> dict[str, pa.Table]:
    """All seven tables at scale factor ``sf``, from :data:`DATA_SEED`."""
    rng = np.random.default_rng(DATA_SEED)
    n = {t: max(1, int(rows * sf)) for t, rows in _SF1_ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()

    nk = np.arange(N_NATIONS)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(len(REGIONS)), i32),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nk, i32),
            "n_name": [f"NATION_{k}" for k in nk],
            "n_regionkey": pa.array(nk % len(REGIONS), i32),
        }),
    }
    ck = np.arange(n["customer"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(ck, i64),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, len(ck)), i32),
        "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), len(ck))],
    })
    sk = np.arange(n["supplier"])
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, i64),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, len(sk)), i32),
        "s_acctbal": _money(rng, len(sk), -999.99, 9999.99),
    })
    pk = np.arange(n["part"])
    words = np.char.add(
        np.char.add(np.array(P_WORDS_A)[rng.integers(0, len(P_WORDS_A), len(pk))], " "),
        np.array(P_WORDS_B)[rng.integers(0, len(P_WORDS_B), len(pk))],
    )
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": words,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, len(pk)).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), len(pk))],
        "p_size": pa.array(rng.integers(1, 51, len(pk)), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })
    ok = np.arange(n["orders"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(ok)), i64),
        "o_orderstatus": np.array(("O", "F", "P"))[rng.integers(0, 3, len(ok))],
        "o_totalprice": _money(rng, len(ok), 1000.0, 500000.0),
        "o_orderdate": _days(rng, len(ok), "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), len(ok))],
    })
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": np.array(("R", "A", "N"))[rng.integers(0, 3, m)],
        "l_linestatus": np.array(("O", "F"))[rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    return tables


def ensure_tables(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` unless already there;
    returns the directory holding ``<table>.parquet``."""
    out = os.path.join(root, f"sf{sf:g}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(sf).items():
        pq.write_table(
            table, os.path.join(tmp, f"{name}.parquet"), row_group_size=table.num_rows
        )
    os.replace(tmp, out)
    return out


def compare(root: str, scales: tuple[float, ...] = (0.1, 0.01, 0.001)) -> int:
    """Compares the generated tables with ``<root>/sf<scale>/<table>.parquet``;
    prints one line per scale and returns the number of tables that differ."""
    differ = 0
    for sf in scales:
        bad = []
        for name, table in make_tables(sf).items():
            other = pq.read_table(os.path.join(root, f"sf{sf:g}", f"{name}.parquet"))
            if not (other.schema.equals(table.schema) and other.equals(table)):
                bad.append(name)
        differ += len(bad)
        print(f"sf{sf:g}: " + (f"differ: {', '.join(bad)}" if bad else "all tables equal"))
    return differ


if __name__ == "__main__":
    parser = argparse.ArgumentParser(description="Compare the generated tables with a copy of the test data.")
    parser.add_argument("--compare", required=True, metavar="DIR")
    sys.exit(1 if compare(parser.parse_args().compare) else 0)
