#!/usr/bin/env python3
"""Builds the reference-shaped ETL input fixture.

Usage: python3 tools/make_etl_fixture.py [out.csv]
  (default: src/test/resources/etl/data_entrega_productos.csv)

The reference's original 379-row deliveries CSV is not distributed with
this repository. This script writes a deterministic stand-in with the same
9 string columns that meets every count the reference publishes
(FIXTURES.md section A1, BASELINE.md):

  - 379 rows; pais GT 12, SV 162, HN 119, EC 48, PE 2, JM 36;
  - tipo_entrega ZPRE 183, ZVE1 36, Z04 75, Z05 39, COBR 46;
  - unidad CS 271, ST 108;
  - 18 empty `material` (5 of them COBR, so the type filter removes 41);
  - 197 exact duplicates among the rows that pass both filters;
  - 6 dates, each paired 1:1 with one country, with per-date outputs
    20250114:2, 20250217:18, 20250314:22, 20250325:57, 20250513:12,
    20250602:12 (123 rows in total);
  - some prices encoded as `0E-18`.

Every count is re-checked on the written file before the script exits.
"""
import collections
import csv
import random
import sys

OUT = "src/test/resources/etl/data_entrega_productos.csv"
COLUMNS = ["pais", "fecha_proceso", "transporte", "ruta", "tipo_entrega",
           "material", "precio", "cantidad", "unidad"]

# country -> (date, unique surviving rows, empty material (of which COBR),
#             COBR with material, exact duplicates)
PLAN = {
    "PE": ("20250114", 2, 0, 0, 0, 0),
    "EC": ("20250217", 18, 3, 1, 7, 20),
    "HN": ("20250314", 22, 5, 2, 13, 79),
    "SV": ("20250325", 57, 7, 2, 15, 83),
    "GT": ("20250513", 12, 0, 0, 0, 0),
    "JM": ("20250602", 12, 3, 0, 6, 15),
}
VALID_TYPES = ["ZPRE", "ZVE1", "Z04", "Z05"]
# non-COBR type totals, split between surviving rows and the free
# (empty-material, non-COBR) rows
TYPE_VALID = {"ZPRE": 176, "ZVE1": 34, "Z04": 72, "Z05": 38}
TYPE_FREE = {"ZPRE": 7, "ZVE1": 2, "Z04": 3, "Z05": 1}
UNIT_VALID = {"CS": 228, "ST": 92}
UNIT_FREE = {"CS": 43, "ST": 16}


def dec(cents):
    """An 18-fraction-digit decimal string, as the reference file has."""
    return f"{cents // 100}.{cents % 100:02d}" + "0" * 16


def fill(weights, targets):
    """Assigns a label to each weighted item so label weights hit
    `targets` exactly: heaviest first, into the roomiest label."""
    left = dict(targets)
    out = [None] * len(weights)
    for i in sorted(range(len(weights)), key=lambda i: -weights[i]):
        label = max((l for l in left if left[l] >= weights[i]),
                    key=lambda l: left[l])
        out[i] = label
        left[label] -= weights[i]
    assert all(v == 0 for v in left.values()), left
    return out


def build(rng):
    uniques, free, cobr = [], [], []  # (pais, fecha) tuples
    weights = []
    for pais, (fecha, n_unique, n_empty, n_empty_cobr, n_cobr, n_dup) in PLAN.items():
        copies = [0] * n_unique
        for _ in range(n_dup):
            copies[rng.randrange(n_unique)] += 1
        for c in copies:
            uniques.append((pais, fecha))
            weights.append(1 + c)
        free += [(pais, fecha)] * (n_empty - n_empty_cobr)
        cobr += [(pais, fecha, "")] * n_empty_cobr
        cobr += [(pais, fecha, None)] * n_cobr
    types = fill(weights, TYPE_VALID)
    units = fill(weights, UNIT_VALID)
    free_types = fill([1] * len(free), TYPE_FREE)
    free_units = fill([1] * (len(free) + len(cobr)), UNIT_FREE)

    rows = []
    seq = 0

    def row(pais, fecha, tipo, material, unidad):
        nonlocal seq
        seq += 1
        price = "0E-18" if seq % 9 == 0 else dec(rng.randrange(50, 4000))
        qty = dec(100 * rng.randrange(1, 60))
        return [pais, fecha, str(1000 + seq), str(rng.randrange(10, 99) * 100 + seq % 100),
                tipo, material, price, qty, unidad]

    for (pais, fecha), w, t, u in zip(uniques, weights, types, units):
        r = row(pais, fecha, t, f"AA{seq:06d}", u)
        rows += [r] * w
    for (pais, fecha), t, u in zip(free, free_types, free_units):
        rows.append(row(pais, fecha, t, "", u))
    for (pais, fecha, mat), u in zip(cobr, free_units[len(free):]):
        rows.append(row(pais, fecha, "COBR", f"AA{seq:06d}" if mat is None else "", u))
    rng.shuffle(rows)
    return rows


def check(rows):
    assert len(rows) == 379
    col = lambda name: collections.Counter(r[COLUMNS.index(name)] for r in rows)
    assert col("pais") == {"GT": 12, "SV": 162, "HN": 119, "EC": 48, "PE": 2, "JM": 36}
    assert col("tipo_entrega") == {"ZPRE": 183, "ZVE1": 36, "Z04": 75, "Z05": 39, "COBR": 46}
    assert col("unidad") == {"CS": 271, "ST": 108}
    assert col("material")[""] == 18
    assert "0E-18" in col("precio")
    dates = {(r[0], r[1]) for r in rows}
    assert len(dates) == 6 and len({d for _, d in dates}) == 6
    f1 = [r for r in rows if r[5] != ""]
    f2 = [r for r in f1 if r[4] in VALID_TYPES]
    assert len(rows) - len(f1) == 18 and len(f1) - len(f2) == 41
    distinct = {tuple(r) for r in f2}
    assert len(f2) - len(distinct) == 197
    per_date = collections.Counter(r[1] for r in distinct)
    assert per_date == {"20250114": 2, "20250217": 18, "20250314": 22,
                        "20250325": 57, "20250513": 12, "20250602": 12}, per_date


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else OUT
    rows = build(random.Random(379))
    check(rows)
    with open(out, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(COLUMNS)
        w.writerows(rows)
    with open(out, newline="") as f:
        check(list(csv.reader(f))[1:])
    print(f"wrote {len(rows)} rows to {out}")


if __name__ == "__main__":
    main()
