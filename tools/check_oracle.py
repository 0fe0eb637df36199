"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 (or
$SPARK_GRAFT_SF_DIR) and compares against its DuckDB oracle:
row count, sorted-by-name column set, and an order-insensitive
value comparison (exact for non-floats, 1e-9 relative for floats).

Usage:  python tools/check_oracle.py [query ...]
        python tools/check_oracle.py --first50
            # the gate's window: the first 50 of queries(), i.e. the 50
            # with the stalest CORRECTNESS_r*.json evidence
        python tools/check_oracle.py --exact [query ...]
            # driver-faithful mode: pandas fetch on both sides, exact
            # value + dtype hash (no float tolerance) — catches the
            # dtype leaks and last-ulp drift the tolerant compare masks
"""

from __future__ import annotations

import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                # quantize so hash-equality tolerates last-ulp noise
                vals.append(round(v, 6) if math.isfinite(v) else v)
            else:
                vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def canon_pandas(df):
    """The driver's canonicalization: columns sorted by name, rows
    sorted by all columns via pandas (this is where unhashable cells
    like lists crash the gate).  Timestamps are normalized to [ns]:
    Spark's toPandas yields datetime64[ns] while DuckDB yields
    datetime64[us] — a representation difference the driver's gate
    tolerates (windowed_count_tumbling et al. pass it)."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    # NO array-cell coercion here, deliberately: the driver's gate has
    # none, so an ArrayType output must crash THIS sort exactly the way
    # it crashes the driver's (coercing array cells to tuples here once
    # passed an embedding_pq_codes that the driver's gate crashed on).
    # Registered queries emit scalar columns only; the schema walk in
    # tests/test_plans.py enforces it before a query can get this far.
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def exact_hash(df):
    import hashlib
    h = hashlib.md5()
    for col in df.columns:
        h.update(str(df[col].dtype).encode())
        for v in df[col].tolist():
            h.update(repr(v).encode())
    return h.hexdigest()


def main(names=None):
    from __spark_entry__ import oracle_sql, queries
    from kafkadirect_spark.session import get_spark

    exact = False
    if names and "--exact" in names:
        exact = True
        names = [n for n in names if n != "--exact"] or None

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    if names and names[0] == "--first50":
        # Replicate the gate's sampling exactly: the first 50 of
        # queries() (plus any extra names passed after).
        selected = list(qs)[:50] + names[1:]
    else:
        selected = names or sorted(qs)
    n_pass = n_fail = 0
    for name in selected:
        if exact:
            try:
                if name not in oracles:
                    sdf = qs[name](spark, SF_DIR)
                    print(f"{name:32s} ROWS-ONLY rows={sdf.count()}")
                    n_pass += 1
                    continue
                spdf = canon_pandas(qs[name](spark, SF_DIR).toPandas())
                odf = canon_pandas(con.execute(oracles[name]).df())
                if exact_hash(spdf) == exact_hash(odf):
                    n_pass += 1
                    print(f"{name:32s} PASS  rows={len(spdf)}")
                else:
                    n_fail += 1
                    diffs = [
                        f"{c}: {spdf[c].dtype} vs {odf[c].dtype}"
                        for c in spdf.columns
                        if c in odf.columns and spdf[c].dtype != odf[c].dtype]
                    print(f"{name:32s} FAIL  exact-hash mismatch "
                          f"({'; '.join(diffs) or 'values differ'})")
            except Exception as e:
                n_fail += 1
                print(f"{name:32s} ERROR {type(e).__name__}: "
                      f"{str(e).splitlines()[0][:200] if str(e) else ''}")
                if os.environ.get("CHECK_VERBOSE"):
                    traceback.print_exc()
            continue
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(f"{name:32s} ROWS-ONLY rows={len(srows)}")
                n_pass += 1
                continue
            ores = con.execute(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
            problems = []
            if sorted(scols) != sorted(ocols):
                problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
            if len(srows) != len(orows):
                problems.append(f"rows {len(srows)} vs {len(orows)}")
            if not problems:
                a, b = normalize(srows, scols), normalize(orows, ocols)
                bad = sum(1 for x, y in zip(a, b) if x != y)
                if bad:
                    problems.append(f"{bad}/{len(a)} rows differ")
                    for x, y in zip(a, b):
                        if x != y:
                            problems.append(f"  spark={x}\n  duck ={y}")
                            break
            if problems:
                n_fail += 1
                print(f"{name:32s} FAIL  " + "; ".join(problems[:3]))
            else:
                n_pass += 1
                print(f"{name:32s} PASS  rows={len(srows)}")
        except Exception as e:
            n_fail += 1
            msg = str(e).split("\n")[0][:200]
            print(f"{name:32s} ERROR {type(e).__name__}: {msg}")
            if os.environ.get("CHECK_VERBOSE"):
                traceback.print_exc()
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
