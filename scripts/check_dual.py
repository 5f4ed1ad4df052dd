"""One-off dual parity check for named queries (dev loop helper).

Usage: python scripts/check_dual.py <query_name> [...]
Runs the Spark query and its DuckDB dual at sf0.01 and applies the
same canonicalization + dtype-kind rules as tests/test_driver_contract.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from tests.test_driver_contract import (  # noqa: E402
    SF_DIR, TABLES, _canon, _kind,
)


def main(names: list[str]) -> int:
    from paper2llm_spark.session import get_spark

    spark = get_spark(app_name="check_dual", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    rc = 0
    for name in names:
        sdf = qs[name](spark, SF_DIR)
        srows = sdf.collect()
        scols = sorted(sdf.columns)
        spark_set = sorted(
            tuple(_canon(r[c]) for c in scols) for r in srows
        )
        spark_kinds = {
            c: {_kind(r[c]) for r in srows} - {None} for c in scols
        }
        ores = con.execute(oracles[name])
        ocols_raw = [d[0] for d in ores.description]
        orows = ores.fetchall()
        ocols = sorted(ocols_raw)
        idx = {c: ocols_raw.index(c) for c in ocols}
        oset = sorted(
            tuple(_canon(r[idx[c]]) for c in ocols) for r in orows
        )
        okinds = {
            c: {_kind(r[idx[c]]) for r in orows} - {None} for c in ocols
        }
        ok = True
        if scols != ocols:
            print(f"[{name}] SCHEMA MISMATCH: {scols} vs {ocols}")
            ok = False
        if len(srows) != len(orows):
            print(f"[{name}] ROWS: spark={len(srows)} oracle={len(orows)}")
            ok = False
        if ok and spark_kinds != okinds:
            print(f"[{name}] DTYPE KINDS: {spark_kinds} vs {okinds}")
            ok = False
        if ok and spark_set != oset:
            diffs = [
                (a, b) for a, b in zip(spark_set, oset) if a != b
            ][:3]
            print(f"[{name}] VALUE MISMATCH, first diffs: {diffs}")
            ok = False
        print(f"[{name}] {'OK' if ok else 'FAIL'} rows={len(srows)}")
        rc |= 0 if ok else 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
