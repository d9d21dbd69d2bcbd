"""Hash-strict replay of the round driver's correctness gate.

Imports ``__spark_entry__.py`` by path (exactly like the driver), runs the
``entry()`` smoke once, then every ``queries()`` entry against its oracle
in DuckDB:
- the Spark session is built PLAIN — no engine config, a non-UTC session
  timezone — to mimic the driver's unknown session and flush out any
  timezone- or reader-config-dependent expression;
- values compare STRICTLY: pandas dtype kinds must agree (int vs float is
  a failure: DuckDB HUGEINT→float64 coercion is exactly the bug class the
  driver's value-hash catches) and values must be exactly equal;
- every query runs in isolation; one failure never stops the sweep.

The same rule (``compare``), DuckDB views (``duckdb_views``) and oracle
lookup (``oracle_for``) back tests/test_oracle_parity.py.

Usage: python tools/strict_check.py [sf_dir] [name_substring ...]
"""

from __future__ import annotations

import importlib.util
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
GATE_SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def strict_match(a: pd.Series, b: pd.Series) -> tuple[bool, str]:
    ka, kb = a.dtype.kind, b.dtype.kind
    if (ka in "iu") != (kb in "iu") and {ka, kb} <= set("iuf"):
        return False, f"dtype kind mismatch: {a.dtype} vs {b.dtype}"
    if ka == "f" or kb == "f":
        av, bv = a.astype(float).values, b.astype(float).values
        ok = (av == bv) | (np.isnan(av) & np.isnan(bv))
        if not ok.all():
            i = int(np.argmin(ok))
            return False, f"row {i}: {av[i]!r} vs {bv[i]!r}"
        return True, ""
    neq = ~(a.astype(str) == b.astype(str))
    if neq.any():
        i = int(np.argmax(neq.values))
        return False, f"row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return True, ""


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Mismatches of ``got`` against ``want`` (empty == match): same row
    count and columns, then ``strict_match`` on every column, both sides
    in ``normalize`` order."""
    g, w = normalize(got), normalize(want)
    if len(g) != len(w):
        return [f"rows {len(g)} vs {len(w)}"]
    if list(g.columns) != list(w.columns):
        return [f"cols {list(g.columns)} vs {list(w.columns)}"]
    bad = []
    for c in g.columns:
        ok, msg = strict_match(g[c], w[c])
        if not ok:
            bad.append(f"{c}: {msg}")
    return bad


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``TABLES`` parquet file."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def oracle_for(name: str, sf_dir: str) -> str | None:
    """The oracle SQL for ``name`` at ``sf_dir`` (None: rows-only).

    The registry's static strings for the frozen-scores model evals name
    the driver's gate scale; at any scale this replays the artifacts the
    query froze for ``sf_dir``, so the query must run first."""
    from etl_master_spark.operators.ranking import frozen_eval_oracle
    from etl_master_spark.plans.registry import FROZEN_EVAL_TAGS, ORACLES

    if name in FROZEN_EVAL_TAGS:
        return frozen_eval_oracle(FROZEN_EVAL_TAGS[name], sf_name=Path(sf_dir).name)
    return ORACLES.get(name)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = GATE_SF
    if args and Path(args[0]).is_dir():
        sf_dir = args.pop(0)
    name_filters = args

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    # deliberately plain + non-UTC: the driver's session is not ours
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_fail = 0
    t0 = time.time()
    try:
        rows = mod.entry(spark).collect()
        print(f"entry() smoke: {len(rows)} rows [{time.time()-t0:.1f}s]")
    except Exception as e:  # noqa: BLE001
        print(f"FAIL entry(): spark error: {str(e).splitlines()[0][:200]}")
        n_fail += 1

    con = duckdb_views(sf_dir)
    queries = mod.queries()
    oracles = mod.oracle_sql()  # the driver's answer to "has an oracle?"
    if name_filters:
        queries = {
            k: v for k, v in queries.items()
            if any(f in k for f in name_filters)
        }

    for name, fn in queries.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        sql = oracle_for(name, sf_dir) if name in oracles else None
        if sql is None:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        bad = compare(sdf, odf)
        if bad:
            print(f"FAIL {name}: " + "; ".join(bad))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")

    print(f"\n{n_fail} failures / {len(queries)} checked")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
