"""Driver-style canonicalization sweep (round 8).

The local oracle mirror (tests/oracle.py) compares collected Python
values (Decimal==Decimal, date==date) — which is exactly why seven
rounds of local green never caught the r07 decimal-final hash fails.
THIS sweep reproduces the driver's comparison class instead: Spark
``.toPandas()`` vs DuckDB ``.df()``, columns sorted by name, every
column stringified and sorted, sha256 over the result. Any pandas-level
representation divergence (Decimal vs float64, datetime.date vs
datetime64, NaN spelling, bool casing) fails here even when the value
mirror passes.

    python tools/canon_sweep.py [NAME ...]    # default: all registered

Exit code = number of failing queries.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

from api_etl_pipeline_spark.registry import all_queries  # noqa: E402
from api_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def canon_hash(df) -> str:
    h = hashlib.sha256()
    for c in sorted(df.columns):
        vals = sorted(str(v) for v in df[c].tolist())
        h.update(("\x00".join(vals)).encode())
    return h.hexdigest()


def main() -> int:
    spark = get_spark("canon-sweep")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = all_queries()
    names = sys.argv[1:] or list(qs)
    bad = 0
    for name in names:
        try:
            spec = qs[name]
            sdf = spec.fn(spark, SF_DIR).toPandas()
            ddf = con.execute(spec.oracle).df()
            if len(sdf) != len(ddf) or canon_hash(sdf) != canon_hash(ddf):
                bad += 1
                print(f"FAIL {name} rows {len(sdf)}/{len(ddf)}", flush=True)
        except Exception as exc:  # an abort here would kill the driver's loop
            bad += 1
            print(f"ERR {name}: {repr(exc)[:150]}", flush=True)
    print(f"CANON SWEEP: {len(names) - bad}/{len(names)} green", flush=True)
    return bad


if __name__ == "__main__":
    raise SystemExit(main())
