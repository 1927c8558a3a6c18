#!/usr/bin/env python
"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares against
``oracle_sql()`` via DuckDB: row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
floats repr'd). Queries without oracle SQL get a rows-only check.

``--record PATH`` also writes the per-query results as JSON in the
``CORRECTNESS_rNN.json`` schema that ``tools/ledger.py`` folds, one row
per query checked::

    {"rows_match": .., "schema_match": .., "hash_match": ..,
     "spark_rows": .., "oracle_rows": .., "err": .., "source": ..}

``hash_match`` is true only when the whole check passed; a DECIMAL
output-type failure records ``hash_match: false`` with the lint text
in ``err``. Queries without oracle SQL are written as earlier rounds
wrote them: match fields null, ``err: "no_oracle"``. A Spark or DuckDB
error goes in ``err`` with the match fields null. ``source`` names this
tool and the scale factor, so a local re-check can be told apart from
earlier rounds' rows (the ledger ignores keys it does not read).

Usage: python tools/check_correctness.py [--record PATH] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import duckdb

# the checkout this tool belongs to, wherever it was cloned
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers inherit the environment, not sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

import __spark_entry__ as entrymod  # noqa: E402
from kubernetes_logs_datalake_spark import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
SOURCE = f"tools/check_correctness.py {os.path.basename(SF_DIR)}"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def norm_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    """The ONE normalization (sort columns by name, normalize cells,
    sort rows) shared by the hash and the failure-diff sample — so the
    printed diff always corresponds to what was hashed."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for line in norm_lines(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def record_row(spark_rows=None, oracle_rows=None, *, rows_match=None,
               schema_match=None, hash_match=None, err=None) -> dict:
    """One ``--record`` row, in the CORRECTNESS_rNN.json field order."""
    return {
        "rows_match": rows_match,
        "schema_match": schema_match,
        "hash_match": hash_match,
        "spark_rows": spark_rows,
        "oracle_rows": oracle_rows,
        "err": err,
        "source": SOURCE,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Check queries() at sf0.01 against their DuckDB oracles."
    )
    ap.add_argument("names", nargs="*", help="only check these queries")
    ap.add_argument("--record", metavar="PATH",
                    help="write per-query results as CORRECTNESS_rNN.json")
    args = ap.parse_args(argv)
    only = set(args.names)
    known = set(entrymod.queries())
    unknown = only - known
    if unknown:
        # a typo'd name must never produce a zero-check green result
        print(f"unknown query name(s): {sorted(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            cols = sdf.columns
            rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            msg = f"spark error: {type(e).__name__}: {str(e)[:300]}"
            print(f"FAIL  {name}: {msg}")
            record[name] = record_row(err=msg)
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows (rows-only, {time.time()-t0:.1f}s)")
            record[name] = record_row(len(rows), err="no_oracle")
            continue
        try:
            # fetch via Arrow — the closest public analog of whatever
            # pandas/arrow path the driver uses, so type hazards (HUGEINT
            # → decimal128/float64) surface locally instead of driver-side
            otbl = con.execute(oracles[name]).arrow()
            ocols = otbl.column_names
            orows = [
                tuple(d[c] for c in ocols) for d in otbl.to_pylist()
            ]
        except Exception as e:  # noqa: BLE001
            msg = f"duckdb error: {str(e)[:300]}"
            print(f"FAIL  {name}: {msg}")
            record[name] = record_row(len(rows), err=msg)
            failures.append(name)
            continue
        problems = []
        # output-type lint: DECIMAL (incl. HUGEINT's decimal128 export)
        # stringifies differently across engines/paths — ban it in oracle
        # outputs; require clean BIGINT/DOUBLE/VARCHAR/BOOL/DATE/TS.
        import pyarrow as pa  # noqa: PLC0415

        for field in otbl.schema:
            if pa.types.is_decimal(field.type):
                problems.append(
                    f"oracle col {field.name} has decimal type {field.type} "
                    "(likely HUGEINT sum) — CAST it in the oracle SQL"
                )
        for f_name, f_type in sdf.dtypes:
            if f_type.startswith("decimal"):
                problems.append(
                    f"spark col {f_name} is {f_type} — cast to double/long"
                )
        lint = "; ".join(problems) or None
        schema_match = sorted(cols) == sorted(ocols)
        rows_match = len(rows) == len(orows)
        if not schema_match:
            problems.append(f"cols spark={sorted(cols)} duckdb={sorted(ocols)}")
        if not rows_match:
            problems.append(f"rowcount spark={len(rows)} duckdb={len(orows)}")
        if not problems:
            hs, ho = value_hash(cols, rows), value_hash(ocols, orows)
            if hs != ho:
                problems.append(f"valuehash {hs} != {ho}")
                # show a diff sample (same normalization as the hash)
                ls = norm_lines(cols, rows)
                lo = norm_lines(ocols, orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        problems.append(f"  spark : {a[:160]}")
                        problems.append(f"  duckdb: {b[:160]}")
                        break
        record[name] = record_row(
            len(rows), len(orows), rows_match=rows_match,
            schema_match=schema_match, hash_match=not problems, err=lint,
        )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(f"      {p}")
            failures.append(name)
        else:
            print(f"ok    {name}: {len(rows)} rows match ({time.time()-t0:.1f}s)")
    if args.record:
        with open(args.record, "w") as f:
            json.dump(record, f, indent=2)
        print(f"recorded {len(record)} rows to {args.record}")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
