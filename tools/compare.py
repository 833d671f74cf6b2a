"""Dev harness replicating the driver's DuckDB-oracle correctness check.

Runs every __spark_entry__.queries() entry on Spark and the matching
oracle_sql() on DuckDB over the same parquet tables, then compares
row-count, column names, and order-insensitive values (stricter than a
hash: exact canonicalized row multiset equality).

Usage:  python tools/compare.py [sf_dir] [query ...]
                                [--sample N] [--seed S]

``--sample N`` runs a deterministic pseudo-random N-query subset of the
registry (seeded by ``--seed``, default 0) — a fast spot-check mode for
reviewers who don't want the full sweep (about 14 minutes at sf0.01 on
a 4-core host). On any mismatch the harness prints BOTH engines'
per-column dtypes next to the differing values (the round-5 ask: every
type-boundary red so far was invisible in the values and obvious in the
types).
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    """Canonicalize a value for cross-engine comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, Decimal):
        s = f"{v:f}"
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s or "0"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("\x1f".join(canon(r[i]) for i in order) for r in rows)


def type_class(t: str) -> str:
    """Coarse cross-engine type class. The driver's hasher is TYPED, so
    two engines can agree on every canonicalized value yet hash apart
    when classes differ (round 3: DECIMAL/TIMESTAMP; round 5: DuckDB
    SUM(int)=HUGEINT vs Spark BIGINT). canon() is type-blind on ints
    and rounds floats to 9 digits, so this check is the only place the
    dev harness can see that bug class."""
    t = t.upper()
    if "HUGEINT" in t:
        return "int128"
    if "DECIMAL" in t:
        return "decimal"
    if "TIMESTAMP" in t:
        return "timestamp"
    if t.endswith("[]") or "ARRAY" in t or "STRUCT" in t or "MAP" in t:
        return "nested"
    if "BOOL" in t:
        return "bool"
    if any(x in t for x in ("BIGINT", "LONG")):
        return "int64"
    if any(x in t for x in ("SMALLINT", "TINYINT", "SHORT", "BYTE", "INT")):
        return "int32"
    if any(x in t for x in ("DOUBLE", "FLOAT", "REAL")):
        return "float"
    if any(x in t for x in ("VARCHAR", "STRING", "TEXT", "CHAR")):
        return "string"
    if "DATE" in t:
        return "date"
    return t


# Classes the driver's hasher has EMPIRICALLY diverged on when they
# appear on either side of a mismatch (r3: decimal/timestamp/nested;
# r5: int128). int32-vs-int64 and even string-vs-int mismatches have
# repeatedly been driver-GREEN (r2 a5, r4 bm25/hll, r5 semdedup), so
# flagging them would be pure noise — the hasher canonicalizes those.
RISKY_CLASSES = {"int128", "decimal", "timestamp", "nested"}


def type_warnings(scols, sdtypes, dcols, dtypes) -> list[str]:
    """Per-column coarse-class comparison (columns matched by name);
    warns only when the divergence involves a class with a track record
    of typed-hash failure."""
    s = {c: type_class(t) for c, t in zip(scols, sdtypes)}
    d = {c: type_class(str(t)) for c, t in zip(dcols, dtypes)}
    return [
        f"{c}: spark={s[c]} duckdb={d[c]}"
        for c in sorted(s)
        if c in d
        and s[c] != d[c]
        and (s[c] in RISKY_CLASSES or d[c] in RISKY_CLASSES)
    ]


def dtype_line(label, cols, dtypes) -> str:
    return f"{label} dtypes: " + ", ".join(
        f"{c}:{t}" for c, t in zip(cols, dtypes)
    )


def main():
    args = sys.argv[1:]
    sample_n, seed = None, 0
    if "--sample" in args:
        i = args.index("--sample")
        sample_n = int(args[i + 1])
        del args[i : i + 2]
    if "--seed" in args:
        i = args.index("--seed")
        seed = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(a for a in args if not os.path.isdir(a))

    # self-documenting sweep header: box load at start, so a later
    # bench-vs-sweep wall-clock skew is attributable (VERDICT r9 #8)
    try:
        with open("/proc/loadavg") as fh:
            print(f"# loadavg at sweep start: {fh.read().split()[0]}")
    except OSError:
        pass

    import duckdb
    import __spark_entry__ as entrymod
    from go_nonrat_annotation_pipeline_spark.session import get_spark

    spark = get_spark("compare-harness")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if sample_n is not None and only:
        sys.exit(
            "--sample cannot be combined with explicit query names "
            f"(got both --sample {sample_n} and {sorted(only)}); "
            "drop one of the two"
        )
    if sample_n is not None:
        import random

        names = sorted(queries)
        only = set(random.Random(seed).sample(names, min(sample_n, len(names))))
        print(f"# --sample {sample_n} (seed {seed}): {' '.join(sorted(only))}")
    results = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            results[name] = f"SPARK-ERROR: {e}"
            continue
        sql = oracles.get(name)
        if sql is None:
            results[name] = f"rows-only ({len(srows)} rows)"
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            results[name] = f"ORACLE-ERROR: {e}"
            continue
        # Engine dtypes, shown on every mismatch: the round-3/round-5
        # type-boundary reds had value-identical rows, so values alone
        # can't diagnose them.
        try:
            dtyped = dtype_line("duckdb", *map(list, (con.sql(sql).columns, con.sql(sql).types)))
        except Exception:  # noqa: BLE001 — typing is advisory
            dtyped = "duckdb dtypes: <unavailable>"
        styped = dtype_line("spark", scols, [t for _, t in sdf.dtypes])
        if len(srows) != len(drows):
            results[name] = (
                f"ROWCOUNT-MISMATCH spark={len(srows)} duckdb={len(drows)}"
                f"\n     {styped}\n     {dtyped}"
            )
            continue
        if sorted(scols) != sorted(dcols):
            results[name] = (
                f"SCHEMA-MISMATCH spark={sorted(scols)} duckdb={sorted(dcols)}"
                f"\n     {styped}\n     {dtyped}"
            )
            continue
        sm, dm = row_multiset(scols, srows), row_multiset(dcols, drows)
        if sm != dm:
            diff_s = list((sm - dm).items())[:3]
            diff_d = list((dm - sm).items())[:3]
            results[name] = (
                f"VALUE-MISMATCH spark-only={diff_s} duckdb-only={diff_d}"
                f"\n     {styped}\n     {dtyped}"
            )
        else:
            # values agree — but the driver's hash is TYPED; warn on any
            # per-column engine type-class divergence (doesn't fail the
            # harness, but every round-3/round-5 red would have warned)
            try:
                rel = con.sql(sql)
                warns = type_warnings(
                    scols, [t for _, t in sdf.dtypes], rel.columns, rel.types
                )
            except Exception:  # noqa: BLE001 — typing is advisory
                warns = []
            suffix = f"  TYPE-WARN [{'; '.join(warns)}]" if warns else ""
            results[name] = f"OK ({len(srows)} rows){suffix}"

    fails = 0
    for name in sorted(results):
        status = results[name]
        mark = "PASS" if status.startswith(("OK", "rows-only")) else "FAIL"
        if mark == "FAIL":
            fails += 1
        print(f"{mark:4} {name:40} {status}")
    print(f"\n{len(results) - fails}/{len(results)} pass")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
