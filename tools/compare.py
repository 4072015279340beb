#!/usr/bin/env python3
"""Local correctness harness: run graft.Verify output against DuckDB.

Mimics the driver's compare: for each query, read the Spark parquet
dump and the oracle SQL from oracle_sql.json, run the oracle in DuckDB
over the same sf parquet tables, sort columns by name + rows by value,
and diff. Usage: tools/compare.py <sfDir> <verifyOutDir>
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare: timestamps -> iso strings, floats rounded
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


STRICT = False


def host_mem_bytes() -> int:
    """Physical memory of the host (MemTotal on Linux)."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    # Cap DuckDB at half the host's memory and let it spill, at most the
    # host's memory size, into a directory next to the dump: a heavy
    # oracle then spills or fails alone instead of starving the rest of
    # the machine (DuckDB's defaults are 80% of memory and 90% of the
    # free disk).
    mem_mb = host_mem_bytes() // 2**20
    con.execute(f"SET memory_limit = '{mem_mb // 2}MB'")
    con.execute(f"SET temp_directory = '{out_dir}/duckdb_tmp'")
    con.execute(f"SET max_temp_directory_size = '{mem_mb}MB'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # spark writes directory-shaped parquet (e.g. the scaled sets);
        # ** covers hive-partitioned subdirectories too
        src = f"{p}/**/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        if t == "events":
            # the driver's events.ts is TIMESTAMP(NANOS); a Spark
            # round-trip (ScaleUp) stores the same nanos as BIGINT.
            # Normalize to TIMESTAMP so epoch_us(ts) binds either way
            # (Spark reads both as nanos longs — values identical).
            (ts_type,) = [r[1] for r in
                          con.execute(f"DESCRIBE {t}").fetchall()
                          if r[0] == "ts"]
            if ts_type == "BIGINT":
                con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * REPLACE "
                    f"(make_timestamp(ts // 1000) AS ts) FROM '{src}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})")
            n_fail += 1
            continue
        try:
            want = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            n_fail += 1
            continue
        # the driver hashes stringified values, so int64 vs float64 for
        # the same column is a mismatch ("450" vs "450.0") — e.g. DuckDB
        # integer sum() returns HUGEINT which pandas lowers to float64
        kind_mismatch = [
            c for c in g.columns
            if g[c].dtype.kind in "if" and w[c].dtype.kind in "if"
            and (g[c].dtype.kind == "f") != (w[c].dtype.kind == "f")]
        if kind_mismatch:
            print(f"FAIL {name}: int/float dtype mismatch on {kind_mismatch} "
                  f"(spark {[str(g[c].dtype) for c in kind_mismatch]} vs "
                  f"oracle {[str(w[c].dtype) for c in kind_mismatch]})")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            n_fail += 1
            continue
        try:
            if STRICT:
                pd.testing.assert_frame_equal(
                    g, w, check_dtype=False, check_exact=True)
            else:
                pd.testing.assert_frame_equal(
                    g, w, check_dtype=False, check_exact=False,
                    rtol=1e-9, atol=1e-9)
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch\n{str(e)[:800]}")
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed"
          + (" [strict bit-exact mode]" if STRICT else ""))
    return 1 if n_fail else 0


if __name__ == "__main__":
    # --strict: bit-exact compare (no float tolerance) — use to prove
    # the oracles hold under an exact hash-based driver compare
    STRICT = "--strict" in sys.argv
    args = [a for a in sys.argv[1:] if a != "--strict"]
    sys.exit(main(args[0], args[1]))
