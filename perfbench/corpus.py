"""The benchmark corpus: the engine's sf0.1 test corpus, rebuilt in the checkout.

The seven TPC-H-shaped tables (region, nation, customer, supplier, part,
orders, lineitem) are regenerated here from seed 42; the generator below
draws the same values in the same order as the one that made the test
corpus, so they come out value for value equal to it. The three other
tables (events, documents, embeddings), whose generator is not known, are
copied verbatim from the test corpus into ``perfbench/data``.

``ensure_sf`` checks every table against ``DIGESTS``, the content digests
of the test corpus's tables, and refuses a corpus that differs. It builds
into a temporary directory and renames it into place, so an interrupted
build is never mistaken for a finished one.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
SF = 0.1
VENDORED = ("events", "documents", "embeddings")
VENDORED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# table_digest() of each table of the sf0.1 test corpus
DIGESTS = {
    "region": "3ff9f6a05ceaf7a6",
    "nation": "35624c5a87ba92e2",
    "customer": "db5df8ae87d182bc",
    "supplier": "943e42177d7df90d",
    "part": "7c18480c5d8b5311",
    "orders": "ffd4cfd204d6ec44",
    "lineitem": "e2ad73367bb986b5",
    "events": "e69b3d37a9312e27",
    "documents": "b2a8cbd04330b251",
    "embeddings": "0641770aa3d42903",
}

_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def _days(rng, n: int, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _pick(rng, labels: list[str], n: int) -> np.ndarray:
    return np.array(labels)[rng.integers(0, len(labels), n)]


def generate_relational(out: str, sf: float = SF, seed: int = CORPUS_SEED) -> None:
    """Write the seven TPC-H-shaped tables at scale ``sf`` into ``out``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = _pick(rng, _PART_ADJ, n_part)
    noun = _pick(rng, _PART_NOUN, n_part)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2499),
    })


def table_digest(path: str) -> str:
    """Digest of a parquet table's schema and values, independent of file
    layout, compression and schema metadata."""
    table = pq.read_table(path).replace_schema_metadata(None).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()[:16]


def check(sf_dir: str) -> list[str]:
    """Tables of ``sf_dir`` whose content differs from the test corpus's."""
    return [t for t, d in DIGESTS.items() if table_digest(f"{sf_dir}/{t}.parquet") != d]


def ensure_sf(data_root: str) -> tuple[str, float]:
    """Path of the sf0.1 corpus, and the seconds spent building it now
    (0.0 when an earlier run built it)."""
    final = os.path.join(data_root, "sf0.1")
    if os.path.isdir(final):
        return final, 0.0
    tmp = final + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    generate_relational(tmp)
    for name in VENDORED:
        shutil.copyfile(f"{VENDORED_DIR}/{name}.parquet", f"{tmp}/{name}.parquet")
    bad = check(tmp)
    if bad:
        raise RuntimeError(f"corpus tables differ from the sf0.1 test corpus: {bad}")
    os.rename(tmp, final)
    return final, time.perf_counter() - t0


def describe(sf_dir: str) -> dict[str, int]:
    """Row count of every table in a corpus (parquet footers only)."""
    return {
        name[: -len(".parquet")]: pq.ParquetFile(f"{sf_dir}/{name}").metadata.num_rows
        for name in sorted(os.listdir(sf_dir))
        if name.endswith(".parquet")
    }


if __name__ == "__main__":
    # python3 perfbench/corpus.py SF_DIR: the digest of each table there,
    # and the tables that differ from the test corpus
    print({t: table_digest(f"{sys.argv[1]}/{t}.parquet") for t in DIGESTS})
    print("differ:", check(sys.argv[1]))
