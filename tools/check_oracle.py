"""Local replica of the driver's t2 correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB at the
given sf dir, compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, floats rounded to 6
significant digits before comparing to absorb fp noise).

Every entry's line also carries two hashes of its Spark output: ``6g`` over
that canonical form and ``repr`` over the same rows with full-precision
``repr`` values, plus ``oracle``, a hash of the entry's DuckDB SQL text, so
two commits' outputs and oracles can be compared byte for byte:

    python tools/check_oracle.py SF > a.txt   # at commit A
    python tools/check_oracle.py SF > b.txt   # at commit B
    python tools/check_oracle.py --diff a.txt b.txt

``--diff`` lists every entry whose ``repr`` or ``oracle`` hash differs
between the two runs, or that only one run has, and exits non-zero if
there is any.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py --diff A.txt B.txt
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
# lazy oracle generators (data-derived artifacts, e.g. IVF centroids) read
# the sf dir from this env var — point them at the dir under test
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_val(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    if v is None:
        return "NULL"
    return str(v)


def canon(cols, rows, norm=norm_val):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def digest(cols, rows, norm=norm_val) -> str:
    """Short hash of the canonical (sorted) form of a result."""
    c, r = canon(cols, rows, norm)
    return hashlib.sha256(repr((c, r)).encode()).hexdigest()[:16]


def hashes(cols, rows, sql: str | None = None) -> str:
    out = f"6g:{digest(cols, rows)} repr:{digest(cols, rows, repr)}"
    if sql is not None:
        out += f" oracle:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
    return out


def run_hashes(path: str) -> dict[str, dict[str, str]]:
    """entry name -> its ``repr`` / ``oracle`` hashes in one run's output
    (an entry that failed before hashing maps to an empty dict)."""
    out: dict[str, dict[str, str]] = {}
    with open(path) as f:
        for line in f:
            m = re.match(r"(?:PASS|weak|FAIL) ([^\s:]+)|\s+(\S+) spark output ", line)
            if m:
                name = m.group(1) or m.group(2)
                out.setdefault(name, {}).update(re.findall(r"\b(repr|oracle):([0-9a-f]+)", line))
    return out


def diff(a_path: str, b_path: str) -> int:
    """Print the entries whose hashes differ between two runs; 1 if any."""
    a, b = run_hashes(a_path), run_hashes(b_path)
    n_diff = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"{name}: only in {a_path if name in a else b_path}")
            n_diff += 1
            continue
        changed = [
            f"{k} {a[name].get(k)} -> {b[name].get(k)}"
            for k in ("repr", "oracle")
            if a[name].get(k) != b[name].get(k)
        ]
        if changed:
            print(f"{name}: {', '.join(changed)}")
            n_diff += 1
    print(f"{len(a.keys() & b.keys())} entries in both, {n_diff} differ")
    return 1 if n_diff else 0


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.appName("oracle-check")
        .master(os.environ.get("ORACLE_CHECK_MASTER", "local[8]"))
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("ORACLE_CHECK_SHUFFLE_PARTITIONS", "8"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            # the driver's canonicalizer (pandas sort_values) cannot handle
            # non-scalar cells — every entry must emit atomic columns only
            # (serialize arrays via queries._vec_str / _vec_str_sql)
            from pyspark.sql.types import ArrayType, MapType, StructType

            bad = [
                f.name
                for f in sdf.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            if bad:
                print(f"FAIL {name}: non-scalar output columns {bad}")
                n_fail += 1
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(
                f"weak {name}: rows={len(srows)} (no oracle) "
                f"[{time.time()-t0:.1f}s] {hashes(scols, srows)}"
            )
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sc, sr = canon(scols, srows)
        dc, dr = canon(dcols, drows)
        ok = True
        if sc != dc:
            print(f"FAIL {name}: columns spark={sc} duck={dc}")
            ok = False
        elif len(sr) != len(dr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duck={len(dr)}")
            ok = False
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
            ok = False
        if ok:
            print(
                f"PASS {name} ({len(sr)} rows) [{time.time()-t0:.1f}s] "
                f"{hashes(scols, srows, oracles[name])}"
            )
            n_pass += 1
        else:
            print(f"     {name} spark output {hashes(scols, srows, oracles[name])}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--diff"]:
        if len(sys.argv) != 4:
            sys.exit("usage: check_oracle.py --diff A.txt B.txt")
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    sys.exit(main())
