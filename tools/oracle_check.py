"""Local stand-in for the driver's DuckDB-oracle comparison (CLI face of
ocr_platform_spark.oracle; the pytest face is tests/test_oracle_parity.py).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from ocr_platform_spark.oracle import check_query, duckdb_connection
    from ocr_platform_spark.queries import CATALOG
    from ocr_platform_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    con = duckdb_connection(sf_dir)

    failures = []
    for name, spec in CATALOG.items():
        if only and name not in only:
            continue
        if spec.oracle is None:
            try:
                n = spec.fn(spark, sf_dir).count()
                print(f"rows  {name}: {n} rows (no oracle)")
            except Exception as e:
                failures.append(name)
                print(f"FAIL  {name}: {e}")
            continue
        try:
            res = check_query(spark, con, spec.fn, spec.oracle, sf_dir)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: {e}")
            continue
        if res.ok:
            print(f"PASS  {name}: {res.n_rows} rows")
        else:
            failures.append(name)
            print(f"FAIL  {name}: {res.detail}")

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries consistent with oracle")
    return 0


if __name__ == "__main__":
    sys.exit(main())
