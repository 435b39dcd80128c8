"""Driver-contract verification sweep: drive ``__spark_entry__`` with
a vanilla SparkSession exactly like the external driver and compare
every ``queries()`` entry against its ``oracle_sql()`` in DuckDB at
sf0.01 with the pytest gates' comparator (``tests.oracle_utils.
assert_matches_oracle``: columns sorted by name, rows sorted by all
columns, floats within 1e-9 relative with a unit floor, other columns
by value and string form, int-vs-float and HUGEINT/DECIMAL guards).
Every registry query has an oracle; a query without one fails.

Usage:
    python scripts/verify_sweep.py              # full registry (~10 min, 4 cores)
    python scripts/verify_sweep.py q1 q2 ...    # only the named queries
    python scripts/verify_sweep.py --json PATH  # also write per-query
                                                # verdicts (SWEEP_rN.json
                                                # artifact - r12 verdict
                                                # item 5: the driver
                                                # samples 50/round, this
                                                # records all-registry
                                                # greenness directly)
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

json_path = None
if "--json" in sys.argv:
    i = sys.argv.index("--json")
    json_path = sys.argv[i + 1]
    del sys.argv[i : i + 2]

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "16")
    .getOrCreate()
)
import __spark_entry__ as e  # noqa: E402
from tests.oracle_utils import assert_matches_oracle  # noqa: E402

rows = e.entry(spark).collect()
assert len(rows) > 0
print("entry smoke OK:", len(rows), "rows", flush=True)
qs, osql = e.queries(), e.oracle_sql()
if len(sys.argv) > 1:
    qs = {n: qs[n] for n in sys.argv[1:]}

sf = "/root/testdata/sf0.01"
fails, done = [], 0
verdicts = {}
for name, fn in qs.items():
    try:
        n = assert_matches_oracle(fn(spark, sf), osql[name], sf, float_tol=1e-9)
        done += 1
        verdicts[name] = {"status": "match", "rows": int(n)}
        print(f"match {name}", flush=True)
    except Exception as ex:
        fails.append(name)
        verdicts[name] = {"status": "fail", "err": str(ex)[:200]}
        print(f"FAIL {name}: {str(ex)[:200]}", flush=True)
print(f"SWEEP DONE {done}/{len(qs)} OK; oracle-gated: {len(osql)}", flush=True)
if json_path:
    with open(json_path, "w") as f:
        json.dump(
            {
                "sf": 0.01,
                "n_queries": len(qs),
                "n_oracle_gated": len(osql),
                "n_ok": done,
                "fails": fails,
                "verdicts": verdicts,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print(f"wrote {json_path}", flush=True)
sys.exit(1 if fails else 0)
