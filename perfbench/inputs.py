"""Deterministic benchmark inputs, built with numpy + pyarrow.

The base tables are drawn from a fixed generator seed, so every run sees
the same rows. The run's ``--seed`` only permutes row order and shifts
keys by multiples of 200. Every rule that classifies rows
(``derive_backup`` works on ``pk % 20``, ``pk % 10`` and ``pk % 25``;
curation plants PII on ``doc_id % 20`` and packs shards by
``doc_id % 8``) is invariant under such shifts, so the expected change
counts and dedup results do not depend on the seed.

Schemas follow the repository's TPC-H-style fixtures (orders, lineitem,
nation, region, documents, embeddings); ``mysqldump`` renders tables as
a dump file.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 20240611
STEP = 200  # key shifts keep pk % 200, a period of every classifier

_WORDS = (
    "the a of and to in spark table query join scan sort hash group agg "
    "filter window stream batch column row key value order part line data "
    "vector merge index shard page cache log fast slow big small node task"
).split()


def _rng(salt: int) -> np.random.Generator:
    return np.random.default_rng([BASE_SEED, salt])


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    start = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
    span = 6 * 365 * 86_400 * 1_000_000
    us = start + rng.integers(0, span // 1_000_000, n) * 1_000_000
    return pa.array(us, pa.timestamp("us"))


def orders(n: int) -> pa.Table:
    rng = _rng(1)
    return pa.table({
        "o_orderkey": pa.array(np.arange(1, n + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 15_000, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(
            np.round(rng.uniform(900, 500_000, n), 2), pa.float64()),
        "o_orderdate": _ts(rng, n),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n)),
    })


def lineitem(n_orders: int) -> pa.Table:
    rng = _rng(2)
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(1, n_orders + 1), lines)
    lno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(lno, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2_000, n), 2), pa.float64()),
        "l_discount": pa.array(
            rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(rng, n),
    })


def nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION {i:02d}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })


def region() -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"]),
    })


def documents(n: int) -> pa.Table:
    """Word-soup documents. About a tenth are exact copies and a tenth are
    near copies (one word appended) of an earlier document of at least 90
    words, so the exact, MinHash and paragraph dedup stages all remove
    something. A near copy's shingle Jaccard is above 0.95, where banded
    MinHash finds the pair with near certainty, so the LSH-blocked plan
    and the exact oracle agree."""
    rng = _rng(3)
    texts: list[str] = []
    long_ids: list[int] = []
    for i in range(n):
        r = rng.random()
        if long_ids and r < 0.10:
            texts.append(texts[int(rng.integers(0, i))])
        elif long_ids and r < 0.20:
            src = long_ids[int(rng.integers(0, len(long_ids)))]
            texts.append(texts[src] + " " + str(rng.choice(_WORDS)))
        else:
            k = int(rng.integers(10, 120))
            texts.append(" ".join(rng.choice(_WORDS, k)))
            if k >= 90:
                long_ids.append(i)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], n)),
        "source": pa.array([f"src{i % 7}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n: int, dim: int = 64) -> pa.Table:
    """Random vectors plus planted near copies (cosine about 0.99).

    Vectors that land within cosine 0.4 of any other vector, except their
    planted copy, are redrawn. No pair then sits near the 0.5 threshold,
    so the exact oracle and the LSH-blocked plan agree whatever the
    blocking's recall at 0.5."""
    rng = _rng(4)
    v = rng.normal(size=(n, dim))
    twin = np.full(n, -1)
    for i in range(20, n, 25):
        twin[i] = i - 7

    def place(i: int) -> None:
        if twin[i] >= 0:
            v[i] = v[twin[i]] + 0.1 * rng.normal(size=dim)
        else:
            v[i] = rng.normal(size=dim)

    copies = np.nonzero(twin >= 0)[0]
    for i in copies:
        place(int(i))
    for _ in range(100):
        u = v / np.linalg.norm(v, axis=1, keepdims=True)
        cos = u @ u.T
        np.fill_diagonal(cos, 0.0)
        cos[copies, twin[copies]] = 0.0
        cos[twin[copies], copies] = 0.0
        bad = sorted({int(max(i, j)) for i, j in zip(*np.nonzero(cos >= 0.4))})
        if not bad:
            break
        for i in bad:
            place(i)
            for j in np.nonzero(twin == i)[0]:
                place(int(j))
    else:
        raise RuntimeError("could not separate the embedding corpus")
    vals = (0.2 * v / np.abs(v).max(axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vals), pa.list_(pa.float32())),
        "label": pa.array(np.arange(n) % 10, pa.int32()),
    })


def replicate(table: pa.Table, key: str, copies: int, seed: int) -> pa.Table:
    """``copies`` copies of ``table`` whose ``key`` columns are shifted
    apart by a seed-dependent multiple of ``STEP``."""
    top = pc.max(table[key]).as_py()
    stride = (top // STEP + 1 + seed % 97) * STEP
    parts = []
    for i in range(copies):
        shifted = pc.add(table[key], pa.scalar(i * stride, pa.int64()))
        parts.append(table.set_column(table.schema.get_field_index(key),
                                      key, shifted))
    return pa.concat_tables(parts)


def shift(table: pa.Table, key: str, seed: int) -> pa.Table:
    """Shift ``key`` by a seed-dependent multiple of ``STEP``."""
    off = pa.scalar((seed % 1_000) * STEP, pa.int64())
    return table.set_column(table.schema.get_field_index(key), key,
                            pc.add(table[key], off))


def shuffle(table: pa.Table, seed: int) -> pa.Table:
    """Rows of ``table`` in a seed-dependent order."""
    order = np.random.default_rng(seed).permutation(table.num_rows)
    return table.take(pa.array(order))


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


_MYSQL_TYPES = {
    pa.int64(): "bigint", pa.int32(): "int(11)", pa.float64(): "double",
    pa.string(): "varchar(255)",
}


def _mysql_type(t: pa.DataType) -> str:
    return "datetime(6)" if pa.types.is_timestamp(t) else _MYSQL_TYPES[t]


def _literals(col: pa.ChunkedArray) -> list[str]:
    """SQL literals of a column without NULLs, as a mysqldump writes them."""
    if pa.types.is_timestamp(col.type):
        text = np.datetime_as_string(col.to_numpy(), unit="us")
        return [f"'{t.replace('T', ' ')}'" for t in text]
    if pa.types.is_string(col.type):
        return ["'" + v.replace("'", "''") + "'" for v in col.to_pylist()]
    if pa.types.is_floating(col.type):
        return [repr(v) for v in col.to_pylist()]
    return [str(v) for v in col.to_pylist()]


def mysqldump(tables: list[tuple[str, pa.Table, list[str]]], path: str,
              rows_per_insert: int = 100) -> None:
    """Write ``(name, table, primary key)`` triples as one mysqldump-style
    file: DROP and CREATE TABLE, then multi-row INSERTs with column
    lists."""
    with open(path, "w", encoding="utf-8") as out:
        for name, table, pk in tables:
            cols = table.column_names
            defs = [f"  `{c}` {_mysql_type(table.schema.field(c).type)} "
                    + ("NOT NULL" if c in pk else "DEFAULT NULL")
                    for c in cols]
            out.write(f"DROP TABLE IF EXISTS `{name}`;\n"
                      f"CREATE TABLE `{name}` (\n" + ",\n".join(defs)
                      + ",\n  PRIMARY KEY ("
                      + ", ".join(f"`{c}`" for c in pk)
                      + ")\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;\n\n")
            head = (f"INSERT INTO `{name}` ("
                    + ", ".join(f"`{c}`" for c in cols) + ") VALUES\n")
            rows = [f"({', '.join(r)})"
                    for r in zip(*(_literals(table[c]) for c in cols))]
            for i in range(0, len(rows), rows_per_insert):
                out.write(head + ",\n".join(rows[i:i + rows_per_insert])
                          + ";\n")
