"""Row count and order-insensitive checksum of a query result.

A result's digest is its sorted column names, its row count and the sum
(mod 2**64) of a 64-bit hash of each row's canonical text, so it does not
depend on row order or on how the rows are split into files. Numbers are
canonicalised so that an integer-valued double and an integer agree, as
they do in the DuckDB comparison of tools/selfcheck.py.

Making the expected digests for expected_query_mix.json (run from the
repository root; DATA and OUT are scratch directories):

    python3 perfbench/gen_tables.py DATA
    sbt "runMain graft.Verify DATA OUT <the query_mix names, comma-separated>"
    python3 perfbench/qcheck.py DATA OUT > perfbench/expected_query_mix.json

Each query with a DuckDB oracle (OUT/oracle_sql.json) takes its digest
from the oracle, and the engine's output must agree with it. The oracle
of dd_jaccard_ppjoin compares all pairs of documents and takes more than
ten minutes in DuckDB at this size; its digest comes from
jaccard_pairs(), the same result computed in Python with pairs pruned
by shingle-set size only. A query without either takes the engine's
output.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, float) and math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return str(int(v)) if v == int(v) else repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(rel):
    """{"columns", "rows", "checksum"} of a DuckDB relation."""
    return digest_rows(rel.columns, rel.fetchall())


def digest_rows(cols, result):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = rows = 0
    for r in result:
        text = "\x1f".join(canon(r[i]) for i in order)
        h = hashlib.blake2b(text.encode("utf-8"), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
        rows += 1
    return {"columns": sorted(cols), "rows": rows, "checksum": f"{total:016x}"}


def jaccard_pairs(con, threshold=0.8):
    """dd_jaccard_ppjoin's oracle result: document pairs whose sets of
    word 3-shingles have Jaccard similarity >= threshold. Pairs whose
    set sizes differ by more than that ratio cannot qualify and are
    skipped; every other pair is compared."""
    docs = []
    for doc_id, text in con.sql("SELECT doc_id, text FROM documents").fetchall():
        w = text.split(" ")
        sh = frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))
        if sh:
            docs.append((len(sh), doc_id, sh))
    docs.sort()
    out = []
    for i, (n, a, sa) in enumerate(docs):
        for m, b, sb in docs[i + 1:]:
            if n < threshold * m:
                break
            inter = len(sa & sb)
            j = inter / float(n + m - inter)
            if j >= threshold:
                out.append((min(a, b), max(a, b), j))
    return digest_rows(["doc_a", "doc_b", "jaccard"], out)


def result_digest(con, result_dir):
    """Digest of the parquet files Spark wrote to result_dir, or None."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return None
    return digest(con.sql(f"SELECT * FROM read_parquet({files!r})"))


def main(data_dir, out_dir, names):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    expected = {}
    for name in names:
        got = result_digest(con, os.path.join(out_dir, name))
        if got is None or "err" in got["columns"]:
            sys.exit(f"{name}: the engine produced no result")
        if name in oracle:
            if name == "dd_jaccard_ppjoin":
                want, source = jaccard_pairs(con), "oracle result, computed in python"
            else:
                want, source = digest(con.sql(oracle[name])), "duckdb oracle"
            if want != got:
                sys.exit(f"{name}: engine {got} differs from the oracle {want}")
            expected[name] = dict(want, source=source)
        else:
            expected[name] = dict(got, source="engine output")
    print(json.dumps(expected, indent=1, sort_keys=True))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from run import QUERIES
    main(sys.argv[1], sys.argv[2], QUERIES)
