"""Seeded inputs for the benchmark: tables and per-op arguments.

Everything here is plain Python/NumPy/Arrow and depends only on the seed
and the sizes passed in, so the same seed always yields byte-identical
tables and op inputs (pinned in ``test_perfbench.py``). Nothing here
imports Spark: the program under test only ever sees the generated
parquet files and Python values.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIP_EPOCH = _dt.date(1992, 1, 2)
SHIP_DAYS = 2526  # 1992-01-02 .. 1998-12-01, the TPC-H l_shipdate span
_BRANDS = [f"Brand#{m}{n}" for m in range(1, 6) for n in range(1, 6)]
_TYPES = [
    f"{a} {b} {c}"
    for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
    for c in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a draw to one
    stream never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _write(table: pa.Table, path: str, row_group: int = 25_000) -> None:
    # several row groups so Spark can split the scan across every core
    pq.write_table(table, path, row_group_size=row_group)


# -- rollup_read ----------------------------------------------------------
def part_table(seed: int, n_parts: int) -> pa.Table:
    """TPC-H-shaped ``part``: 25 brands x 150 types, unique part names."""
    r = _rng(seed, "part")
    key = np.arange(1, n_parts + 1, dtype=np.int64)
    brand = r.integers(0, len(_BRANDS), n_parts)
    typ = r.integers(0, len(_TYPES), n_parts)
    return pa.table(
        {
            "p_partkey": key,
            "p_name": [f"part {k}" for k in key.tolist()],
            "p_brand": [_BRANDS[i] for i in brand.tolist()],
            "p_type": [_TYPES[i] for i in typ.tolist()],
        }
    )


def lineitem_table(seed: int, n_rows: int, n_parts: int) -> pa.Table:
    """TPC-H-shaped ``lineitem``: ~4 lines per order, uniform parts and
    ship dates, so a date window's row share equals its day share."""
    r = _rng(seed, "lineitem")
    order = np.sort(r.integers(1, n_rows // 4 + 2, n_rows)).astype(np.int64)
    qty = r.integers(1, 51, n_rows).astype(np.float64)
    price = np.round(qty * r.uniform(900.0, 2100.0, n_rows), 2)
    ship = r.integers(0, SHIP_DAYS, n_rows).astype(np.int32)
    return pa.table(
        {
            "l_orderkey": order,
            "l_partkey": r.integers(1, n_parts + 1, n_rows).astype(np.int64),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_shipdate": pa.array(
                ship + (SHIP_EPOCH - _dt.date(1970, 1, 1)).days, pa.int32()
            ).cast(pa.date32()),
        }
    )


def ship_windows(seed: int, n: int, per_round: int) -> list[tuple[_dt.date, _dt.date]]:
    """``n`` inclusive l_shipdate windows covering 5-100% of the ship-date
    span (hence of the rows), each at a seeded position.

    Shares come in rounds of ``per_round`` ops: each round holds the
    centre of each of ``per_round`` equal slices of 5-100% once, in
    seeded order. A run of whole rounds therefore has the same mix of
    cheap and expensive windows whatever the seed; with an odd
    ``per_round`` its median op always has the middle share, so the
    median does not move with the number of rounds that fit."""
    r = _rng(seed, "windows")
    rounds = -(-n // per_round)
    strata = np.concatenate([r.permutation(per_round) for _ in range(rounds)])[:n]
    shares = 0.05 + 0.95 * (strata + 0.5) / per_round
    out = []
    for frac, pos in zip(shares, r.uniform(0.0, 1.0, n)):
        days = max(1, int(round(frac * SHIP_DAYS)))
        start = int(pos * (SHIP_DAYS - days))
        lo = SHIP_EPOCH + _dt.timedelta(days=start)
        out.append((lo, lo + _dt.timedelta(days=days - 1)))
    return out


FULL_WINDOW = (SHIP_EPOCH, SHIP_EPOCH + _dt.timedelta(days=SHIP_DAYS - 1))


def part_adjacency(part: pa.Table) -> list[tuple]:
    """The ``fixtures.part_nodes`` adjacency list, computed in Python:
    (node_id, natural_key, name, level_name, parent_id)."""
    keys = part.column("p_partkey").to_pylist()
    names = part.column("p_name").to_pylist()
    brands = part.column("p_brand").to_pylist()
    types = part.column("p_type").to_pylist()
    rows = [("root", None, "All Parts", "Total", None)]
    rows += [(f"b:{b}", None, b, "Brand", "root") for b in sorted(set(brands))]
    rows += [
        (f"t:{b}/{t}", None, t, "Type", f"b:{b}")
        for b, t in sorted(set(zip(brands, types)))
    ]
    rows += [
        (f"p:{k:09d}", k, nm, "Part", f"t:{b}/{t}")
        for k, nm, b, t in zip(keys, names, brands, types)
    ]
    return rows


# -- dim_maintain ---------------------------------------------------------
def geo_tables(seed: int, n_customers: int) -> dict[str, pa.Table]:
    """``region``/``nation``/``customer`` for ``fixtures.geo_nodes``."""
    r = _rng(seed, "geo")
    cust = np.arange(1, n_customers + 1, dtype=np.int64)
    return {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int64), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int64),
                "n_name": [f"NATION {i:02d}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype=np.int64) % 5,
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": [f"Customer#{k:09d}" for k in cust.tolist()],
                "c_nationkey": r.integers(0, 25, n_customers).astype(np.int64),
            }
        ),
    }


def geo_adjacency(tables: dict[str, pa.Table]) -> list[tuple]:
    """The ``fixtures.geo_nodes`` adjacency list, computed in Python."""
    rows = [("root", None, "All Regions", "Total", None)]
    reg, nat, cus = tables["region"], tables["nation"], tables["customer"]
    rows += [
        (f"r:{k:09d}", None, nm, "Region", "root")
        for k, nm in zip(reg.column("r_regionkey").to_pylist(), reg.column("r_name").to_pylist())
    ]
    rows += [
        (f"n:{k:09d}", None, nm, "Nation", f"r:{rk:09d}")
        for k, nm, rk in zip(
            nat.column("n_nationkey").to_pylist(),
            nat.column("n_name").to_pylist(),
            nat.column("n_regionkey").to_pylist(),
        )
    ]
    rows += [
        (f"c:{k:09d}", k, nm, "Customer", f"n:{nk:09d}")
        for k, nm, nk in zip(
            cus.column("c_custkey").to_pylist(),
            cus.column("c_name").to_pylist(),
            cus.column("c_nationkey").to_pylist(),
        )
    ]
    return rows


def change_sets(
    seed: int, n: int, n_customers: int, *, new_leaves: int, renames: int
) -> list[dict]:
    """``n`` independent change sets against the base geo hierarchy, each
    with one change of every kind, so every op costs the same mix:

    - ``extend``: ``new_leaves`` new customers under random nations,
    - ``update``: ``renames`` renames, of distinct customers and one nation,
    - ``move``: one nation re-parented under a different region,
    - ``remove``: one nation's subtree deleted.
    """
    r = _rng(seed, "changes")
    out = []
    base_key = n_customers + 1
    for i in range(n):
        first = base_key + i * new_leaves
        parents = r.integers(0, 25, new_leaves).tolist()
        extend = [
            (f"c:{k:09d}", k, f"New Customer#{k:09d}", "Customer", f"n:{p:09d}")
            for k, p in zip(range(first, first + new_leaves), parents)
        ]
        cust = r.choice(n_customers, renames - 1, replace=False) + 1
        update = [(f"c:{k:09d}", f"Renamed#{k:09d}/{i}") for k in cust.tolist()]
        nat = int(r.integers(0, 25))
        update.append((f"n:{nat:09d}", f"NATION {nat:02d} renamed/{i}"))
        moved = int(r.integers(0, 25))
        to_region = (moved % 5 + int(r.integers(1, 5))) % 5
        removed = int(r.integers(0, 25))
        out.append(
            {
                "extend": extend,
                "update": update,
                "move": (f"n:{moved:09d}", f"r:{to_region:09d}"),
                "remove": f"n:{removed:09d}",
            }
        )
    return out


NODE_SCHEMA = pa.schema(
    [
        ("node_id", pa.string()),
        ("node_natural_key", pa.int64()),
        ("node_name", pa.string()),
        ("level_name", pa.string()),
        ("parent_node_id", pa.string()),
    ]
)


def nodes_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[]] * len(NODE_SCHEMA)
    return pa.Table.from_arrays(
        [pa.array(list(c), f.type) for c, f in zip(cols, NODE_SCHEMA)],
        schema=NODE_SCHEMA,
    )


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, t in tables.items():
        _write(t, os.path.join(directory, f"{name}.parquet"))
