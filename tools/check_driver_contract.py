"""Local mimic of the driver's correctness gate: run each
__spark_entry__.queries() entry at a given sf dir AND its oracle_sql()
in DuckDB, compare row count + order-insensitive value multiset.

Queries WITHOUT an oracle (hash families, approximate ops) are pinned
by golden value digests instead: tools/goldens.json records the md5 of
each result's sorted row multiset per sf dir, so regressions in the
rows-only operators are caught here, not just by pytest. Regenerate
after an intentional change with --update-goldens.

Usage: python tools/check_driver_contract.py [sf_dir] [query ...]
       python tools/check_driver_contract.py [sf_dir] --update-goldens
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

GOLDENS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    return str(v)


def _coarse_type(t) -> str:
    """Coarse portability class for an Arrow type (or Spark simpleString).

    The driver hashes values together with their canonical Arrow type, so a
    DuckDB HUGEINT/decimal128 (e.g. from SUM(BIGINT)) mismatches a Spark
    int64 even when values are equal. Map both sides to coarse classes and
    require equality; decimal is its own class so it can never silently
    match an integer column.
    """
    import pyarrow as pa

    if isinstance(t, str):  # Spark simpleString
        if t in ("tinyint", "smallint", "int", "bigint"):
            return "int"
        if t in ("float", "double"):
            return "float"
        if t.startswith("decimal"):
            return "decimal"
        if t in ("string", "varchar"):
            return "str"
        if t == "boolean":
            return "bool"
        if t.startswith("timestamp"):
            return "timestamp"
        if t == "date":
            return "date"
        if t == "binary":
            return "binary"
        if t.startswith("array"):
            return "list"
        return t
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    return str(t)


def type_mismatches(sdf, oracle_schema) -> list[str]:
    """Compare coarse Arrow-type classes per column name, Spark vs oracle."""
    spark_types = {f.name: _coarse_type(f.dataType.simpleString()) for f in sdf.schema}
    out = []
    for field in oracle_schema:
        sc = spark_types.get(field.name)
        oc = _coarse_type(field.type)
        if sc is not None and sc != oc:
            out.append(f"{field.name}: spark={sc} oracle={oc} ({field.type})")
    return out


def row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    return out


def main():
    argv = [a for a in sys.argv[1:] if a != "--update-goldens"]
    update_goldens = "--update-goldens" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    if argv and not argv[0].startswith("/"):
        sys.exit(f"first arg must be an sf dir path, got {argv[0]!r}")
    only = set(argv[1:])
    sf_key = os.path.basename(sf_dir.rstrip("/"))
    goldens: dict = {}
    if os.path.exists(GOLDENS_PATH):
        with open(GOLDENS_PATH) as fh:
            goldens = json.load(fh)

    import __spark_entry__ as entry
    from logparser_spark.session import build_session

    spark = build_session(app_name="contract-check", master="local[8]", shuffle_partitions=16)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        sys.exit(f"unknown query name(s): {sorted(unknown)}; have {sorted(qs)}")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            if len(srows) == 0:
                failures.append(name)
                print(f"FAIL {name}: rows-only query returned 0 rows")
                continue
            digest = hashlib.md5(
                "\n".join(row_multiset(scols, srows)).encode()
            ).hexdigest()
            want = goldens.get(sf_key, {}).get(name)
            if update_goldens:
                goldens.setdefault(sf_key, {})[name] = digest
                print(f"pin  {name}: golden {digest[:12]} ({len(srows)} rows)")
            elif want is None:
                print(
                    f"ok   {name}: rows-only, no golden pinned "
                    f"({len(srows)} rows, {time.monotonic()-t0:.1f}s)"
                )
            elif digest != want:
                failures.append(name)
                print(
                    f"FAIL {name}: golden mismatch {digest[:12]} != {want[:12]} "
                    f"({len(srows)} rows) — intentional change? --update-goldens"
                )
            else:
                print(
                    f"ok   {name}: rows-only, golden match "
                    f"({len(srows)} rows, {time.monotonic()-t0:.1f}s)"
                )
            continue
        try:
            # ONE execution: the arrow table carries both the values and
            # the canonical types (fetchall + a second run would double
            # the oracle cost per query)
            atab = con.execute(oracles[name]).arrow()
            ocols = list(atab.column_names)
            col_vals = [atab.column(i).to_pylist() for i in range(atab.num_columns)]
            orows = list(zip(*col_vals)) if atab.num_rows else []
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            continue
        ok = True
        try:
            tmis = type_mismatches(sdf, atab.schema)
        except Exception as e:  # exotic types
            tmis = [f"<type check errored: {type(e).__name__}: {e}>"]
        if tmis:
            print(f"FAIL {name}: type-portability {tmis}")
            ok = False
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(orows)}")
            ok = False
        else:
            sm = row_multiset(scols, srows)
            om = row_multiset(ocols, orows)
            if sm != om:
                diffs = [(a, b) for a, b in zip(sm, om) if a != b]
                print(f"FAIL {name}: {len(diffs)} value mismatches of {len(sm)} rows")
                for a, b in diffs[:3]:
                    print(f"   spark: {a}\n   duck : {b}")
                ok = False
        if ok:
            print(f"ok   {name}: {len(srows)} rows match ({time.monotonic()-t0:.1f}s)")
        else:
            failures.append(name)

    if update_goldens:
        with open(GOLDENS_PATH, "w") as fh:
            json.dump(goldens, fh, indent=1, sort_keys=True)
        print(f"goldens written to {GOLDENS_PATH}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
