"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
against the same parquet dir, then compares row count, schema (column
names), and an order-insensitive value comparison. Each ok/FAIL line ends
with the seconds spent in Spark (build + collect), in DuckDB, and in the
comparison. Run:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
import traceback

import duckdb

sys.path.insert(0, ".")

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from graph_db_spark.session import get_spark  # noqa: E402
from graph_db_spark.tables import TABLE_NAMES  # noqa: E402


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 4)
    if isinstance(v, int):
        return float(v) if abs(v) < 2**52 else v
    return str(v)


def neg_zero_cells(rows):
    """Count IEEE -0.0 cells: the driver's serialized value-hash
    distinguishes -0.0 from 0.0 even though == does not (r5 verdict,
    weighted_sample_docs). Any query emitting one on EITHER side is a
    latent hash mismatch — normalize with `+ 0.0` on both sides."""
    return sum(
        1
        for r in rows
        for v in r
        if isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0
    )


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, oracles = queries(), oracle_sql()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query name(s): {', '.join(unknown)}")
        return 2
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(get_spark("correctness-check"), sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures += 1
            continue
        t1 = time.monotonic()
        spark_s = f"spark {t1 - t0:.1f}s"
        if name not in oracles:
            print(f"okro {name}: rows-only, {len(srows)} rows [{spark_s}]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error [{spark_s}]\n{traceback.format_exc()}")
            failures += 1
            continue
        t2 = time.monotonic()
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema: spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
        if not problems:
            a, b = norm_rows(scols, srows), norm_rows(ocols, orows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ; first diffs: {diff}")
        nz = neg_zero_cells(srows) + neg_zero_cells(orows)
        if nz:
            problems.append(
                f"negative-zero: {nz} -0.0 cell(s) emitted (driver hash trap)"
            )
        # SCALE.md §28 magnitude audit (advisory, not a failure): a
        # round(,4) emission of a cross-engine double SUM is ulp-exposed
        # once |v| is large enough that add-order noise can cross a 5e-5
        # boundary. Report float cells >= 1e8 so each site can be
        # adjudicated (exact-integer-derived values are safe; noisy
        # float sums must migrate to integer grids or ratio emissions).
        mags: dict[str, float] = {}
        for r in srows:
            for c, v in zip(scols, r):
                if isinstance(v, float) and abs(v) >= 1e8:
                    mags[c] = max(mags.get(c, 0.0), abs(v))
        for c, v in sorted(mags.items()):
            print(f"MAG  {name}.{c}: max|v| = {v:.6g}")
        secs = f"[{spark_s}, duckdb {t2 - t1:.1f}s, compare {time.monotonic() - t2:.1f}s]"
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems) + f" {secs}")
        else:
            print(f"ok   {name}: {len(srows)} rows {secs}")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
