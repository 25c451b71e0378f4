"""Local replica of the driver's t2 correctness gate.

Runs every registered query on Spark and its DuckDB oracle twin on the
same parquet tables, then compares row-count + schema + order-insensitive
values (exact, via Arrow → pandas). Strict exact equality on doubles is
intentional: the engine's aggregates use exact decimal accumulation
(``functions/exact.py``) precisely so that bit-exact parity holds.

Usage:
    python tools/oracle_check.py [--sf-dir /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dmi_ingestor_spark.catalog import TABLES  # noqa: E402
from dmi_ingestor_spark.registry import load_all  # noqa: E402
from dmi_ingestor_spark.session import get_spark  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # bound the oracle's memory so a mis-planned join spills to temp
    # instead of OOM-killing the whole sweep subprocess (r7: the
    # pre-fix DBSCAN closure allocated 35 GB before being killed); half
    # of physical memory leaves the other half to the Spark JVM and the
    # checker's own result lists
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con.execute(f"SET memory_limit='{phys // 2 // 2**20}MiB'")
    # per-process spill dir: concurrent oracle_check processes sharing
    # the cwd-default .tmp/duckdb_temp_storage-*.tmp clobber each
    # other's spill files (observed as a spurious IOException FAIL
    # mid-sweep at sf1 when an ad-hoc check ran alongside)
    con.execute(f"SET temp_directory='/tmp/duckdb_spill_{os.getpid()}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df):
    """Sort columns by name, then rows by all values (driver-style)."""
    df = df[sorted(df.columns)]
    for col in df.columns:
        # Spark's toArrow stamps timestamps tz=UTC; DuckDB's are naive.
        # The driver compares wall-clock values, so strip the tz.
        if getattr(df[col].dtype, "tz", None) is not None:
            df[col] = df[col].dt.tz_localize(None)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        if a != a and b != b:  # NaT/NaN-likes
            return True
    except Exception:
        pass
    return bool(a == b)


def _canon_arrow_type(t) -> str:
    """Canonical physical-type label for driver-style type-aware hashing.

    Collapses representation noise the driver's compare tolerates
    (timestamp tz annotation, string vs large_string, integer width —
    Spark rank() is int32 vs DuckDB's int64 and the driver greens that,
    confirmed by r1/r2 hash-green rows on rank queries) but keeps the
    divergences it reds on: decimal128 vs int64 (DuckDB HUGEINT SUM),
    double vs int64 (DuckDB floor/ceil), decimal vs double.
    """
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon_arrow_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{_canon_arrow_type(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{_canon_arrow_type(t.key_type)},{_canon_arrow_type(t.item_type)}>"
    return str(t)


# Queries allowed to emit a hazardous final dtype, with the reason the
# hazard does not apply. Everything else must keep its output surface in
# {int64, float64, string, bool, timestamp, binary, lists/structs
# thereof}: the driver's hash canonicalization has repeatedly diverged
# from Arrow-native compares on decimal128 and date32 (three prior
# incidents: ts_harmonic_regression, the DATE pack, agg_covariance_exact
# in r3), so wide/exotic final dtypes are banned at the gate.
_RISKY_DTYPE_ALLOWLIST: dict[str, str] = {}

_RISKY_CANON = {"decimal", "date"}


def risky_dtype_problems(name: str, spark_arrow_schema) -> list[str]:
    """Registry-wide output-dtype gate (VERDICT r3 item 1).

    Flags any final output column whose canonical Arrow type is in
    ``_RISKY_CANON`` (including nested inside list/struct/map), unless
    the query is allowlisted with a written reason.
    """
    if name in _RISKY_DTYPE_ALLOWLIST:
        return []
    problems = []
    for f in spark_arrow_schema:
        canon = _canon_arrow_type(f.type)
        if any(r in canon for r in _RISKY_CANON):
            problems.append(
                f"risky output dtype {f.name!r}: {canon} (driver hash "
                "canonicalization hazard — cast to BIGINT/DOUBLE/STRING "
                "or allowlist with a reason)"
            )
    return problems


def dtype_problems(spark_arrow_schema, duck_arrow_schema) -> list[str]:
    """Compare canonical Arrow types column-by-column (sorted by name)."""
    problems: list[str] = []
    s = {f.name: _canon_arrow_type(f.type) for f in spark_arrow_schema}
    d = {f.name: _canon_arrow_type(f.type) for f in duck_arrow_schema}
    for col in sorted(set(s) & set(d)):
        if s[col] != d[col]:
            problems.append(f"dtype {col!r}: spark={s[col]} duckdb={d[col]}")
    return problems


def compare(name: str, spark_df, duck_df) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duckdb={len(duck_df)}")
    s_cols, d_cols = list(spark_df.columns), list(duck_df.columns)
    if s_cols != d_cols:
        problems.append(f"columns: spark={s_cols} duckdb={d_cols}")
    if problems:
        return problems
    for col in s_cols:
        sv, dv = spark_df[col].tolist(), duck_df[col].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(sv, dv)) if not values_equal(x, y)
        ]
        if bad:
            i, x, y = bad[0]
            problems.append(
                f"col {col!r}: {len(bad)}/{len(sv)} mismatches; "
                f"first at row {i}: spark={x!r} duckdb={y!r} "
                f"(types {type(x).__name__}/{type(y).__name__})"
            )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession (driver fidelity: no session.py configs)",
    )
    ap.add_argument(
        "--chunk",
        type=int,
        default=50,
        help=(
            "self-chunk runs of more than this many queries into fresh "
            "subprocesses of this size (0 disables). Why: a single "
            "vanilla session (default 1g driver heap, UI on) dies with "
            "java.lang.OutOfMemoryError after ~160 registry queries "
            "(~67k tasks) of accumulated task/listener metadata and "
            "localCheckpoint blocks — measured twice in round 4 "
            "(VERDICT r4 'What's wrong' #1). Round 5 re-measured: after "
            "the driver-priority rotation reordered the registry, one "
            "100-query chunk concentrated enough heavy shapes to OOM "
            "mid-chunk (~122k tasks), so the default is now 50 — the "
            "driver's own round size, ~3x headroom under the budget."
        ),
    )
    args = ap.parse_args()

    registry = load_all()
    names = args.names or list(registry)

    if args.chunk and len(names) > args.chunk:
        import re
        import subprocess

        tot = {"pass": 0, "fail": 0, "rows-only": 0}
        for i in range(0, len(names), args.chunk):
            part = names[i : i + args.chunk]
            cmd = [
                sys.executable,
                "-u",  # unbuffered: the child's PASS lines stream live
                os.path.abspath(__file__),
                "--sf-dir",
                args.sf_dir,
                "--chunk",
                "0",
            ]
            if args.vanilla:
                cmd.append("--vanilla")
            # Stream the subprocess output line-by-line instead of
            # capturing: on big-scale sweeps a chunk can run for an
            # hour, and a captured pipe hides WHICH query is slow or
            # wedged (r9 sf1 sweep: 47 min of silence inside one
            # chunk). Live lines also make the grep-PASS-and-resume
            # recipe work on an interrupted sweep.
            proc = subprocess.Popen(
                cmd + part,
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                text=True,
            )
            out_lines = []
            for line in proc.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
                out_lines.append(line)
            proc.wait()
            m = re.search(
                r"(\d+) pass, (\d+) fail, (\d+) rows-only", "".join(out_lines)
            )
            if m:
                tot["pass"] += int(m.group(1))
                tot["fail"] += int(m.group(2))
                tot["rows-only"] += int(m.group(3))
            else:
                # Subprocess died before printing its summary — count the
                # whole chunk as failed rather than silently dropping it.
                print(f"FAIL chunk {i}-{i+len(part)}: no summary (crashed?)")
                tot["fail"] += len(part)
        print(
            f"\nTOTAL: {tot['pass']} pass, {tot['fail']} fail, "
            f"{tot['rows-only']} rows-only of {len(names)} "
            f"(self-chunked, {args.chunk}/subprocess)"
        )
        return 1 if tot["fail"] else 0
    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("oracle-check")
    con = duck_connection(args.sf_dir)

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        spec = registry[name]
        t0 = time.time()
        try:
            s_arrow = spec.builder(spark, args.sf_dir).toArrow()
            sdf = s_arrow.to_pandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            status = "ROWS-ONLY" if len(sdf) >= 0 else "EMPTY"
            print(f"{status:9s} {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            d_arrow = con.execute(spec.oracle).fetch_arrow_table()
            ddf = d_arrow.to_pandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = risky_dtype_problems(name, s_arrow.schema)
        problems += dtype_problems(s_arrow.schema, d_arrow.schema)
        problems += compare(name, normalize(sdf), normalize(ddf))
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"   - {p}")
        else:
            n_pass += 1
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
