"""Driver simulation: run the CORRECTNESS gate locally — every query in the
driver window (or all, with --all) against its DuckDB oracle at sf0.01,
under a HOSTILE SparkSession (non-UTC timezone, ANSI on) to prove the
library pins its own runtime conf.  Exactly what the round driver records
into CORRECTNESS_r{N}.json; ``--out PATH`` writes the run in that file's
record shape (``tests.oracle_util.compare_record``), e.g.

    python tools/driver_sim.py --all --out CORRECTNESS_r15.json
"""
import json
import sys
import time
from pathlib import Path

from pyspark.sql import SparkSession


def main() -> int:
    run_all = "--all" in sys.argv
    sf_dir = "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))  # this checkout
    import __spark_entry__ as mod
    from tests.oracle_util import compare_record

    q, o = mod.queries(), mod.oracle_sql()
    names = list(q)
    if "--only" in sys.argv:
        wanted = sys.argv[sys.argv.index("--only") + 1].split(",")
        missing = [w for w in wanted if w not in q]
        if missing:
            print(f"unknown queries: {missing}")
            return 2
        names = wanted
    elif not run_all:
        names = names[:50]
    bad, records = [], {}
    blank = dict.fromkeys(("rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows"))
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            df = q[name](spark, sf_dir)
            if name in o:
                rec = compare_record(df, o[name], sf_dir)
            else:
                rec = {**blank, "spark_rows": df.count(), "err": "no_oracle"}
        except Exception as e:  # noqa: BLE001
            rec = {**blank, "rows_match": False, "err": f"EXC {type(e).__name__}: {e}"}
        records[name] = rec
        ok = rec["rows_match"] is not False
        status = "ok" if ok else "FAIL"
        print(f"[{i+1:3}/{len(names)}] {name:35s} {status:4s} {time.time()-t0:5.1f}s"
              + ("" if ok else f"  {rec['err'][:300]}"), flush=True)
        if not ok:
            bad.append(name)
    if "--out" in sys.argv:
        with open(sys.argv[sys.argv.index("--out") + 1], "w") as f:
            json.dump(records, f, indent=2)
            f.write("\n")
    print(f"\n{'ALL GREEN' if not bad else 'FAILURES: ' + ', '.join(bad)}"
          f"  ({len(names) - len(bad)}/{len(names)})")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
