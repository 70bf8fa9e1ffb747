"""Rebuild ``golden.json``: the oracle digest of every closed-loop entry.

    python3 perfbench/make_golden.py

For each fixture scale, runs each entry's ``oracle_sql()`` on DuckDB
(minutes for the dedup and ANN oracles) and its Spark form, checks that
the two agree under ``verify_local.compare``, and stores the digest. Runs
read the stored digests, so the oracle cost is paid once, not per run.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import analytics  # noqa: E402
import backfill  # noqa: E402
import common  # noqa: E402

SCALES = ("sf0.01", "sf0.001")


def main() -> int:
    work = common.prepare_work()
    import __spark_entry__ as entrymod
    from verify_local import compare, duck_connection

    from kafka_exercise_spark.session import get_spark

    spark = get_spark("perfbench-golden", extra_conf=common.session_conf(work, False))
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    out, bad = {}, []
    for scale in SCALES:
        sf_dir = str(common.DATA_ROOT / scale)
        con = duck_connection(sf_dir)
        out[scale] = {}
        for name in backfill.ENTRIES + analytics.ENTRIES:
            t = time.perf_counter()
            duck = con.execute(oracles[name]).fetchdf()
            sdf = queries[name](spark, sf_dir).toPandas()
            problems = compare(name, sdf, duck)
            d_duck, d_spark = common.digest(duck), common.digest(sdf)
            if d_duck != d_spark:
                problems.append(f"digest spark={d_spark} duck={d_duck}")
            if problems:
                bad.append(f"{scale} {name}: {problems}")
            out[scale][name] = d_duck
            print(f"{scale} {name}: {d_duck['rows']} rows, {time.perf_counter() - t:.1f}s"
                  + (f" MISMATCH {problems}" if problems else ""), flush=True)
    common.stop_session(spark)
    if bad:
        print("\n".join(bad))
        return 1
    with open(common.GOLDEN, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
