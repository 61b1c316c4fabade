"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at the given SF, runs its ``oracle_sql()``
twin in DuckDB on the same parquet views, and compares:
- row count
- sorted column names
- order-insensitive values (rows sorted after stringifying, floats via repr
  of round-tripped values) — stricter than any reasonable driver hash.

Each PASS and rows-only line ends with ``sig=<digest>``, a short hash of the
query's Spark-side ``frame_sig``, so two runs' logs can be diffed to show
that every result is unchanged.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from market_data_pipeline_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            v = 0.0  # normalize -0.0
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(bool(v))
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(round(float(v), 9))
    except Exception:
        pass
    return str(v)


# DuckDB logical type -> hash-compatible Spark simpleString types. Anything
# off this map (HUGEINT/DECIMAL drift, int-width drift) broke the DRIVER's
# raw-value hash in round 2 even though stringified values matched — so
# type drift is a hard failure here too (see tools/oracle_type_audit.py).
# Read from rel.types (prepared schema) so the oracle is NOT executed twice.
_TYPE_OK = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int"},
    "SMALLINT": {"smallint"},
    "TINYINT": {"tinyint"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "BLOB": {"binary"},
}


def _type_drift(spark_types: dict, duck_types: dict) -> list[str]:
    # case-fold column names on both sides: the column-name check is
    # case-insensitive, so a case-only difference must not hide drift
    stypes = {c.lower(): t for c, t in spark_types.items()}
    out = []
    for col, dt in duck_types.items():
        st_ = stypes.get(col.lower())
        if st_ is None:
            continue  # column mismatch is reported separately
        if dt.startswith("TIMESTAMP") and st_.startswith("timestamp"):
            continue
        if dt.endswith("[]") and st_.startswith("array"):
            continue
        ok = _TYPE_OK.get(dt)
        if ok is None or st_ not in ok:
            out.append(f"{col}: oracle {dt} vs spark {st_}")
    return out


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return out


def sig_digest(cols, sig) -> str:
    """12 hex digits of sha1 over the sorted column names and a ``frame_sig``."""
    h = hashlib.sha1("|".join(sorted(cols)).encode())
    for line in sig:
        h.update(b"\n" + line.encode())
    return h.hexdigest()[:12]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            n_rowsonly += 1
            print(f"rows-only {name}: {len(srows)} rows  sig={sig_digest(scols, frame_sig(scols, srows))}  [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            dtypes_duck = {c: str(t) for c, t in zip(rel.columns, rel.types)}
            drows = rel.fetchall()
        except Exception as e:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        ok = True
        drift = _type_drift(dict(sdf.dtypes), dtypes_duck)
        if drift:
            ok = False
            print(f"FAIL {name}: oracle type drift (driver hashes raw values): {drift}")
        if sorted(map(str.lower, scols)) != sorted(map(str.lower, dcols)):
            ok = False
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
        elif len(srows) != len(drows):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
        else:
            # align duck row tuples to spark column order by name
            dmap = {c.lower(): i for i, c in enumerate(dcols)}
            perm = [dmap[c.lower()] for c in scols]
            drows2 = [tuple(r[i] for i in perm) for r in drows]
            ssig = frame_sig(scols, srows)
            dsig = frame_sig(scols, drows2)
            if ssig != dsig:
                ok = False
                bad = [(a, b) for a, b in zip(ssig, dsig) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs:")
                for a, b in bad:
                    print(f"   spark: {a}\n   duck : {b}")
        if ok:
            n_pass += 1
            print(f"PASS {name}: {len(srows)} rows  sig={sig_digest(scols, ssig)}  [{time.time()-t0:.1f}s]")
        else:
            n_fail += 1
            failures.append(name)
    print(
        f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only"
        + (f"; failures: {failures}" if failures else "")
    )
    # archive every gate run (full runs only — partial query lists are
    # working iterations, not evidence): one JSONL row per run so the
    # per-round verification record lives in git, not in a terminal
    # scrollback (verify skill: "gate output archived per round")
    if not only:
        import datetime

        rec = {
            "ts": datetime.datetime.now(datetime.timezone.utc).isoformat(
                timespec="seconds"
            ),
            "sf_dir": sf_dir,
            "pass": n_pass,
            "fail": n_fail,
            "rows_only": n_rowsonly,
            "failures": failures,
        }
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "VERIFY_HISTORY.jsonl"), "a") as fh:
            fh.write(json.dumps(rec) + "\n")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
