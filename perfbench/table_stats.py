"""Measured statistics of the query tables, the model gen_tables.py samples.

    python3 perfbench/table_stats.py TABLE_DIR > perfbench/table_stats.json

TABLE_DIR holds the engine's test tables, one parquet file per table
(TESTDATA.md; the committed table_stats.json was measured on the sf0.1
set). For each table it records the row count and, per column, the
statistics gen_tables.py needs to draw a table of the same shape:

- tables of at most SMALL rows: every value, in order;
- columns with at most FEW distinct values: each value's share;
- key columns (distinct, consecutive integers): their first value;
- other numbers and timestamps: 21 quantiles (every 5%), the number
  of decimals, and whether they rise with the row order;
- strings of one pattern with a number in it (`Customer#000000042`,
  `{"k": 7}`): the pattern with SLOT in place of the number, the
  number's width and its statistics;
- text: the word shares, the words per row, and the share of rows that
  repeat another row plus one suffix word (near duplicates);
- integer columns that are the length of a text column: that column;
- vectors: the dimension, and the mean cosine of a vector to the centre
  of its label's vectors and of the label centres to each other.

The test suite measures generated tables with this same function and
compares them with the committed file.
"""
import json
import re
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SMALL = 64
FEW = 64
QUANTILES = np.linspace(0.0, 1.0, 21)
NUMBER = re.compile(r"\d+")
SLOT = "<n>"


def decimals(x):
    for d in range(7):
        if np.allclose(x, np.round(x, d), rtol=0.0, atol=1e-9):
            return d
    return 7


def number_stats(x):
    x = np.asarray(x, dtype=np.float64)
    uniq = np.unique(x)
    if len(uniq) == len(x) and np.all(np.diff(x) == 1):
        return {"kind": "key", "first": float(x[0])}
    if len(uniq) <= FEW:
        vals, counts = np.unique(x, return_counts=True)
        return {"kind": "shares", "values": vals.tolist(), "shares": (counts / len(x)).tolist()}
    return {"kind": "quantiles", "q": np.quantile(x, QUANTILES).tolist(),
            "decimals": decimals(x), "rising": bool(np.all(np.diff(x) >= 0))}


def text_stats(values):
    every = set(values)
    near, base_words, lengths, suffixes = 0, {}, [], {}
    for t in values:
        words = t.split(" ")
        if len(words) > 1 and " ".join(words[:-1]) in every:
            near += 1
            suffixes[words[-1]] = suffixes.get(words[-1], 0) + 1
        else:
            lengths.append(len(words))
            for w in words:
                base_words[w] = base_words.get(w, 0) + 1
    total = sum(base_words.values())
    return {"kind": "text", "words": sorted(base_words),
            "shares": [base_words[w] / total for w in sorted(base_words)],
            "words_per_row": number_stats(np.array(lengths)),
            "near_dup_share": near / len(values),
            "near_dup_suffix": max(suffixes, key=suffixes.get) if suffixes else ""}


def string_stats(values):
    uniq = set(values)
    if len(uniq) <= FEW:
        vals = sorted(uniq)
        counts = {v: 0 for v in vals}
        for v in values:
            counts[v] += 1
        return {"kind": "shares", "values": vals, "shares": [counts[v] / len(values) for v in vals]}
    patterns = {NUMBER.sub(SLOT, v) for v in values}
    if len(patterns) == 1 and next(iter(patterns)).count(SLOT) == 1:
        nums = [NUMBER.search(v).group() for v in values]
        widths = {len(n) for n in nums}
        return {"kind": "pattern", "pattern": next(iter(patterns)),
                "width": widths.pop() if len(widths) == 1 else 0,
                "number": number_stats(np.array([int(n) for n in nums]))}
    return text_stats(values)


def vector_stats(vecs, labels):
    vecs = np.asarray(vecs, dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    centres = {k: unit[labels == k].mean(axis=0) for k in np.unique(labels)}
    cu = np.array([c / np.linalg.norm(c) for c in centres.values()])
    own = np.array([cu[list(centres).index(k)] for k in labels])
    pair = cu @ cu.T
    return {"kind": "vectors", "dim": int(vecs.shape[1]),
            "norm_mean": float(np.linalg.norm(vecs, axis=1).mean()),
            "cos_to_centre": float(np.mean(np.sum(unit * own, axis=1))),
            "centre_cos": float(pair[~np.eye(len(cu), dtype=bool)].mean())}


def measure(table_dir):
    stats = {}
    for name in TABLES:
        t = pq.read_table(f"{table_dir}/{name}.parquet")
        cols = {}
        for field in t.schema:
            col = t.column(field.name)
            if t.num_rows <= SMALL:
                cols[field.name] = {"kind": "values", "values": col.to_pylist()}
            elif str(field.type).startswith("list"):
                cols[field.name] = vector_stats(col.to_pylist(), t.column("label").to_numpy())
            elif str(field.type).startswith("timestamp"):
                s = col.cast("timestamp[us]").cast("int64").to_numpy() / 1e6
                unit = "day" if np.all(s % 86400 == 0) else "s"
                cols[field.name] = dict(number_stats(s / 86400 if unit == "day" else s),
                                        unit=unit)
            elif str(field.type) == "string":
                cols[field.name] = string_stats(col.to_pylist())
            else:
                cols[field.name] = number_stats(col.to_numpy())
        for cname, c in list(cols.items()):
            if c["kind"] == "quantiles" and c["decimals"] == 0:
                x = t.column(cname).to_numpy()
                for other, o in cols.items():
                    if o["kind"] == "text" and np.array_equal(
                            x, [len(v) for v in t.column(other).to_pylist()]):
                        cols[cname] = {"kind": "length_of", "column": other}
        stats[name] = {"rows": t.num_rows, "types": [str(f.type) for f in t.schema],
                       "columns": cols}
    return stats


if __name__ == "__main__":
    json.dump(measure(sys.argv[1]), sys.stdout, indent=1)
    print()
