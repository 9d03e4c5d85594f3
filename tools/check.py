#!/usr/bin/env python3
"""Local stand-in for the driver's t2 gate: run each oracle_sql.json entry
in DuckDB over the sf parquet tables and compare with the Spark parquet
dumps (column names sorted, floats rounded to 6 decimals, row multiset).
The oracles run on min(4, available cores) worker processes; the output
lists them by name as before. A worker that dies fails its oracle and every
one still queued, and the run exits 1."""
import sys, os, json, math, multiprocessing
from concurrent.futures import ProcessPoolExecutor
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    # Type-tagged normalization: a hash-based comparator (the round
    # driver's) distinguishes 37 from 37.0, so int-vs-float (and
    # bool-vs-int) divergence between Spark output and oracle output must
    # FAIL here too, not slip through Python's cross-type ==. (The r7/r8
    # v_distances red row was exactly this: Spark emitted hamming as
    # DOUBLE, the oracle's len() as BIGINT.)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 6)
        return ("f", 0.0 if r == 0 else r)  # fold -0.0
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return norm_cell(float(v))
    except Exception:
        pass
    return v

def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(norm_cell(r[i]) for i in order) for r in rows),
                 key=repr)  # repr-key: NULLs (None) sort deterministically
    return [cols[i] for i in order], out

_con = None

def _connect(sf_dir):
    # one DuckDB connection per worker process, over the sf tables
    global _con
    _con = duckdb.connect()
    # a worker would print DuckDB's progress bar into the output
    _con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            _con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def check_one(item):
    """(matched, the line to print) for one oracle entry."""
    name, sql, out_dir = item
    con = _con
    spark_path = f"{out_dir}/{name}"
    if not os.path.isdir(spark_path):
        return False, f"FAIL {name}: no spark output"
    try:
        rel = con.sql(sql)
        # Type-strict: the driver's comparator type-tags the ORACLE's
        # declared column types, and a DuckDB HUGEINT (e.g. an un-CAST
        # sum(BIGINT)) hash-diverges from Spark's int64 even when every
        # value is equal — Python folds int128 to int, so value compare
        # alone can't see it (the r9 image_phash/semantic_shards/
        # stream_neardup red rows). Fail here the way the driver does.
        bad_t = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
                 if str(t).upper() in ("HUGEINT", "UHUGEINT", "UBIGINT")]
        if bad_t:
            return False, (f"FAIL {name}: oracle column type not representable "
                           f"in Spark int64 (CAST it): {bad_t}")
        o_cols = list(rel.columns)
        o_rows = rel.fetchall()
    except Exception as e:
        return False, f"FAIL {name}: oracle error: {e}"
    try:
        cur = con.execute(f"SELECT * FROM read_parquet('{spark_path}/*.parquet')")
        s_cols = [d[0] for d in cur.description]
        s_rows = cur.fetchall()
    except Exception as e:
        return False, f"FAIL {name}: spark read error: {e}"
    oc, orows = norm_rows(o_cols, o_rows)
    sc, srows = norm_rows(s_cols, s_rows)
    if oc != sc:
        return False, f"FAIL {name}: columns differ oracle={oc} spark={sc}"
    if len(orows) != len(srows):
        return False, f"FAIL {name}: rowcount oracle={len(orows)} spark={len(srows)}"
    if orows != srows:
        bad = [(a, b) for a, b in zip(orows, srows) if a != b][:3]
        return False, f"FAIL {name}: value mismatch (cols {oc}), first diffs: {bad}"
    return True, f"OK   {name} ({len(srows)} rows)"

def main(sf_dir, out_dir):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    items = [(name, sql, out_dir) for name, sql in sorted(oracle.items())]
    # the oracles run on a pool of worker processes; the results are read
    # back in name order, so the printed lines are the same as one process
    # would print
    workers = min(4, len(os.sched_getaffinity(0)))
    n_ok = 0
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("spawn"),
                             initializer=_connect, initargs=(sf_dir,)) as pool:
        for item, fut in [(i, pool.submit(check_one, i)) for i in items]:
            try:
                ok, line = fut.result()
            except Exception as e:  # a dead worker breaks the pool
                ok, line = False, f"FAIL {item[0]}: worker error: {e!r}"
            print(line, flush=True)
            n_ok += ok
    print(f"== {n_ok}/{len(oracle)} matched ==")
    return 0 if n_ok == len(oracle) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
