#!/usr/bin/env python3
"""Parallel oracle compare: DuckDB runs each oracle SQL over the sf
parquet tables in worker processes and diffs against the Spark dump
(column-name-sorted, row-sorted, exact values) — the driver's comparison,
parallelized for local iteration.

At sf1 the heavy dedup oracles need real memory: more than ~6 workers
OOMs DuckDB (round-12 finding), so each worker gets an explicit
memory_limit of MEM_GB/workers and the default worker count stays low.
Re-run stragglers serially with --only and a bigger limit if needed.

Usage: python3 tools/check_par.py SF_DIR OUT_DIR [--workers N]
           [--mem-gb G] [--only a,b,c] [--dbdiff-rows N]
Prints one line per query ([ok]/[BAD]/[no-oracle]) and a final summary.
Exit 1 if any BAD.

Outputs larger than --dbdiff-rows (default 3M) are compared entirely
inside DuckDB — a two-sided EXCEPT ALL multiset diff over the
name-sorted column list, with BOTH sides cast to the Spark dump's
column types (a bare EXCEPT would coerce a BIGINT-vs-DOUBLE drift to
lossy DOUBLE and mask exact-integer diffs above 2^53) — instead of
the pandas value loop. Exact multiset equality, but streaming and
spillable, so the 60M-row window/sessionize oracles are
sf10-tractable without weakening to a rollup.
"""
import argparse
import json
import multiprocessing as mp
import os
import re
import sys
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_one(task):
    name, sql, sf_dir, out_dir, mem_gb, threads, dbdiff_rows, timeout_s = task
    import threading
    import duckdb
    import pandas as pd
    t0 = time.time()
    timer = None
    try:
        con = duckdb.connect()
        if timeout_s:
            # per-oracle budget: a runaway oracle is interrupted (DuckDB
            # raises InterruptException) and reported as [BAD] timeout
            # instead of wedging its pool slot forever
            def _interrupt(c=con):
                try:
                    c.interrupt()
                except Exception:
                    pass
            timer = threading.Timer(timeout_s, _interrupt)
            timer.daemon = True
            timer.start()
        con.execute(f"SET memory_limit='{mem_gb}GB'")
        con.execute(f"SET threads={threads}")
        # private spill dir per worker: concurrent connections sharing the
        # default cwd/.tmp race on temp-file removal and abort the whole
        # process with an uncatchable C++ IOException
        tmp = os.path.join("/tmp", f"duckdb_spill_{os.getpid()}_{name}")
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{tmp}'")
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        dump = os.path.join(out_dir, name, "*.parquet")
        con.execute(
            f"CREATE VIEW spark_side AS SELECT * FROM read_parquet('{dump}')")
        n_spark = con.execute(
            "SELECT count(*) FROM spark_side").fetchone()[0]
        if n_spark > dbdiff_rows:
            # In-database multiset compare: oracle materialized once as a
            # temp table (it is referenced twice by the two-sided EXCEPT).
            con.execute(f"CREATE TEMP TABLE ora_side AS {sql}")
            dt0 = time.time() - t0
            s_desc = con.execute("DESCRIBE spark_side").fetchall()
            s_cols = sorted(r[0] for r in s_desc)
            s_types = {r[0]: r[1] for r in s_desc}
            o_cols = sorted(r[0] for r in con.execute(
                "DESCRIBE ora_side").fetchall())
            if s_cols != o_cols:
                return (name, f"SCHEMA {s_cols} vs {o_cols}", dt0)
            n_ora = con.execute(
                "SELECT count(*) FROM ora_side").fetchone()[0]
            if n_spark != n_ora:
                return (name, f"ROWS {n_spark} vs {n_ora}",
                        time.time() - t0)
            # cast BOTH sides to the Spark dump's column types: a bare
            # EXCEPT coerces paired columns to a common supertype, so a
            # BIGINT-vs-DOUBLE (or DECIMAL-vs-DOUBLE) schema drift would
            # compare after lossy DOUBLE coercion and mask exact-integer
            # differences above 2^53; an explicit cast keeps the compare
            # in the dump's type (an out-of-range oracle value errors,
            # which is the correct failure).
            # Casting is only sound WITHIN a numeric family: DuckDB's
            # CAST(DOUBLE AS BIGINT) rounds to nearest, so an exact-vs-
            # float family drift would mask any fractional divergence
            # under 0.5 — fail it as schema drift instead (ADVICE r15).
            # A scaled DECIMAL(p,s>0) is its own family for the same
            # reason: casting it to BIGINT would round its fraction away.
            o_types = {r[0]: r[1] for r in con.execute(
                "DESCRIBE ora_side").fetchall()}

            def fam(t):
                t = t.upper()
                if t in ("DOUBLE", "FLOAT", "REAL"):
                    return "float"
                scaled = re.match(r"DECIMAL\(\s*\d+\s*,\s*(\d+)\s*\)", t)
                if scaled and int(scaled.group(1)) > 0:
                    return "scaled"
                if t.startswith("DECIMAL") or "INT" in t:
                    return "exact"
                return t

            drift = {c: (s_types[c], o_types[c]) for c in s_cols
                     if fam(s_types[c]) != fam(o_types[c])}
            if drift:
                return (name, f"SCHEMA type-family drift {drift}",
                        time.time() - t0)
            cols = ", ".join(f'CAST("{c}" AS {s_types[c]}) AS "{c}"'
                             for c in s_cols)
            n_diff = con.execute(
                f"SELECT count(*) FROM ("
                f"(SELECT {cols} FROM spark_side EXCEPT ALL "
                f" SELECT {cols} FROM ora_side) UNION ALL "
                f"(SELECT {cols} FROM ora_side EXCEPT ALL "
                f" SELECT {cols} FROM spark_side))").fetchone()[0]
            dt = time.time() - t0
            if n_diff:
                return (name, f"HASH dbdiff n_diff={n_diff} "
                              f"(of {n_spark} rows)", dt)
            return (name, None, dt)
        spark = con.execute("SELECT * FROM spark_side").df()
        ora = con.execute(sql).df()

        def canon(df):
            df = df.reindex(sorted(df.columns), axis=1)
            if len(df.columns):
                df = df.sort_values(by=list(df.columns), kind="mergesort",
                                    na_position="last")
            return df.reset_index(drop=True)

        s, o = canon(spark), canon(ora)
        dt = time.time() - t0
        if len(s) != len(o):
            return (name, f"ROWS {len(s)} vs {len(o)}", dt)
        if list(s.columns) != list(o.columns):
            return (name, f"SCHEMA {list(s.columns)} vs {list(o.columns)}", dt)
        for c in s.columns:
            a, b = s[c], o[c]
            try:
                neq = ~((a == b) | (a.isna() & b.isna()))
            except Exception:
                neq = a.astype(str) != b.astype(str)
            if neq.any():
                i = neq.idxmax()
                return (name,
                        f"HASH col={c} n_diff={int(neq.sum())} "
                        f"spark={a[i]!r} oracle={b[i]!r}", dt)
        return (name, None, dt)
    except Exception as e:
        return (name, f"duckdb error: {e}", time.time() - t0)
    finally:
        if timer is not None:
            timer.cancel()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--workers", type=int, default=6)
    ap.add_argument("--mem-gb", type=int, default=48)
    ap.add_argument("--only", default=None)
    ap.add_argument("--dbdiff-rows", type=int, default=3_000_000)
    ap.add_argument("--timeout", type=int, default=0,
                    help="per-oracle seconds before interrupt (0 = none)")
    args = ap.parse_args()

    oracle = json.load(open(os.path.join(args.out_dir, "oracle_sql.json")))
    dumped = sorted(n for n in os.listdir(args.out_dir)
                    if os.path.isdir(os.path.join(args.out_dir, n)))
    only = set(args.only.split(",")) if args.only else None
    tasks, skipped = [], []
    per_mem = max(2, args.mem_gb // args.workers)
    per_thr = max(1, (os.cpu_count() or 8) // args.workers)
    for name in dumped:
        if only and name not in only:
            continue
        if name not in oracle:
            skipped.append(name)
            continue
        tasks.append((name, oracle[name], args.sf_dir, args.out_dir,
                      per_mem, per_thr, args.dbdiff_rows, args.timeout))
    for n in skipped:
        print(f"[no-oracle] {n}")
    bad = 0
    with mp.Pool(args.workers) as pool:
        for name, err, dt in pool.imap_unordered(check_one, tasks):
            if err is None:
                print(f"[ok] {name} {dt:.1f}s", flush=True)
            else:
                print(f"[BAD] {name} {dt:.1f}s {err}", flush=True)
                bad += 1
    print(f"checked {len(tasks)} / BAD: {bad if bad else 'none'}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
