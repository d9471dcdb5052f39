"""Fixed tables for the query_mix workload.

Writes the ten tables the engine's queries read (TPC-H-like star schema,
events, documents, embeddings) as one parquet file each. Every table is
drawn from the statistics in table_stats.json, which table_stats.py
measured on the engine's sf0.1 test tables: the same row counts, column
types, value shares, quantiles, text vocabulary and near-duplicate
share. Each column is drawn on its own, so correlations between columns
are not kept. The tables are a pure function of DATA_SEED and the
statistics, so the committed expected results in expected_query_mix.json
stay valid; the benchmark's --seed only changes the order the queries
run in.

    python3 perfbench/gen_tables.py OUT_DIR
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from table_stats import QUANTILES, SLOT, TABLES

DATA_SEED = 42
STATS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "table_stats.json")
TYPES = {"int32": pa.int32(), "int64": pa.int64(), "double": pa.float64(),
         "string": pa.string(), "timestamp[us]": pa.timestamp("us"),
         "list<element: float>": pa.list_(pa.float32())}


def numbers(rng, spec, n):
    """n numbers drawn from a number_stats() description."""
    if spec["kind"] == "key":
        return spec["first"] + np.arange(n, dtype=np.float64)
    if spec["kind"] == "shares":
        return rng.choice(np.array(spec["values"]), n, p=spec["shares"])
    x = np.round(np.interp(rng.uniform(0.0, 1.0, n), QUANTILES, spec["q"]), spec["decimals"])
    return np.sort(x) if spec["rising"] else x


def text(rng, spec, n):
    near = int(round(spec["near_dup_share"] * n))
    lengths = numbers(rng, spec["words_per_row"], n - near).astype(np.int64)
    rows = [" ".join(rng.choice(spec["words"], k, p=spec["shares"])) for k in lengths]
    for _ in range(near):  # a near duplicate of any row so far
        rows.append(rows[rng.integers(0, len(rows))] + " " + spec["near_dup_suffix"])
    return [rows[i] for i in rng.permutation(n)]


def column(rng, spec, n, dtype, made):
    kind = spec["kind"]
    if kind == "values":
        return pa.array(spec["values"], dtype)
    if kind == "length_of":
        return pa.array([len(t) for t in made[spec["column"]].to_pylist()], dtype)
    if kind == "text":
        return pa.array(text(rng, spec, n), dtype)
    if kind == "pattern":
        nums = numbers(rng, spec["number"], n).astype(np.int64)
        return pa.array([spec["pattern"].replace(SLOT, f"{k:0{spec['width']}d}") for k in nums],
                        dtype)
    if kind == "vectors":  # no cluster structure: see table_stats.json's cosines
        v = rng.normal(0.0, 1.0, (n, spec["dim"]))
        v *= spec["norm_mean"] / np.linalg.norm(v, axis=1, keepdims=True)
        return pa.array(list(v.astype(np.float32)), dtype)
    x = numbers(rng, spec, n)
    if dtype == pa.string():
        return pa.array(x, dtype)
    if dtype == pa.timestamp("us"):
        scale = 86400 * 10**6 if spec["unit"] == "day" else 10**6
        return pa.array(np.round(x * scale).astype(np.int64), pa.int64()).cast(dtype)
    if pa.types.is_integer(dtype):
        return pa.array(x.astype(np.int64), dtype)
    return pa.array(x, dtype)


def tables():
    with open(STATS) as f:
        stats = json.load(f)
    rng = np.random.default_rng(DATA_SEED)
    out = {}
    for name in TABLES:
        t = stats[name]
        made = {}
        for (cname, spec), type_name in zip(t["columns"].items(), t["types"]):
            made[cname] = column(rng, spec, t["rows"], TYPES[type_name], made)
        out[name] = pa.table(made)
    return out


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1])
