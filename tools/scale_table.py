"""Measured-scaling harness: time registry queries at ×1 vs an on-disk ×N
replica of their input tables.

Round 3 measured a 10× table with an ad-hoc replica; this tool makes the
experiment repeatable and extends it to ×100 for the quadratic-risk
family (the scales where a bucket-occupancy blowup that ×10 hides would
surface). Replicas are key-shifted unions:

- documents: new doc_ids per copy, text suffixed with the copy index so
  copies are near- (shingle-overlapping) not exact duplicates;
- embeddings: new vec_ids per copy; copy k's vector is the original
  CIRCULARLY ROTATED by k (mod 64) components with a sign flip for
  k >= 64 — a rotation of a random vector is directionally uncorrelated
  with it, so dup DENSITY stays constant while the corpus grows ×N
  (small multiplicative noise turned out to preserve direction, which
  silently turned the replica into a ×N dup-density corpus and measured
  the quadratic dup-group regime instead of growth);
- lineitem: new orderkeys per copy, same part catalog — baskets ×N ⇒
  co-occurrence edges ×N, triangles ×N, linear by construction;
- orders: the SAME orderkey shift as lineitem (joins stay 1:1 correct —
  the round-5 lesson: shifting only lineitem breaks orders↔lineitem and
  silently measures a broken join), customer keys unchanged so every
  customer carries ×N fan-in (density scaling, the sf10 shape);
- events: new event ids AND new user ids per copy, same event-type
  catalog and time range — per-hour density grows ×N while per-user
  history stays realistic.

Other tables are copied through unchanged so `load_table` works. Each
replica is cached under WORK, keyed by its base dir and its tag, and is
shared by scale_sweep.py and scale_crossover.py.

LIMIT: events.user_id is shifted per copy while customer/orders keys are
NOT, so any query joining events.user_id to customer keys (e.g.
`deletion_cascade_audit`, `purchase_click_attribution`) would silently
measure a broken join on a replica — only copy 0 matches. Those names
are listed in ``REPLICA_UNSUPPORTED`` and the tool refuses to run them
(r6 ADVICE; the same failure mode the orders shift had in round 5).

Usage: python tools/scale_table.py [mult] [query ...]
  default: mult=100, queries = the quadratic-risk family.
Env:   SPARK_GRAFT_SF_DIR (the ×1 base, default /root/testdata/sf0.1)
Each query is warmed and timed by bench.warm / bench.timed, min of 2
passes per scale.
Prints one JSON line: {"mult": N, "queries": {name: {"x1": s, "xN": s}}}

--zipf (r6 verdict item 4): builds a SKEWED ×N events replica — same
key-shifted union, but ~3% of all event rows are remapped to ONE hot
user and a further ~3% to ONE hot item (first number in props) — then
measures the per-user window family at ×1 / uniform ×N / zipf ×N, plus
a fact⋈fact user_id join probe on the zipf replica under three plans:
AQE skew-join ON (engine default), AQE skew split disabled, and
functions.skew.salted_join. The probe pins broadcast OFF and lowers
AQE's skew thresholds (the 10M-row local replica's hot partition is
~10 MB; at the 100 TB density the DEFAULT 256 MB threshold triggers by
itself — the lowered threshold emulates that regime, it does not
invent it).

Usage: python tools/scale_table.py --zipf [mult] [query ...]
  default queries: the per-user window family.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# v2: the replica now also rewrites orders (consistent orderkeys) and
# events — versioned dir so a v1 cache is never silently reused
WORK = Path("/tmp/etl_master_scale_table_v2")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
DEFAULT_QUERIES = [
    "embedding_dedup_clusters",
    "duplicate_passages",
    "triangle_count",
    "dedup_embedding_cosine_lsh_p99",
]
ZIPF_QUERIES = ["splits_leave_two_out", "topk_per_user", "user_sessions"]
# % of event rows remapped to the hot user (and, next band, the hot item).
# 3 (default) models a power-law head; 30 (SCALE_ZIPF_PCT=30) models one
# bot account flooding the log — the regime where the hot key's reducer
# visibly dominates the join stage even at local scale (at 3%, the hot
# key is ~one average 32-partition reducer and costs nothing locally;
# on a 1000-reducer cluster the same 3% is a 30× partition, which is
# what AQE's skew split / salted_join are for).
ZIPF_PCT = int(os.environ.get("SCALE_ZIPF_PCT", "3"))
# Queries that join events.user_id to customer-side keys: user_id is
# shifted per copy while customer keys are not, so a replica run would
# silently measure a join where only copy 0 matches.
REPLICA_UNSUPPORTED = {"deletion_cascade_audit", "purchase_click_attribution"}


def scale_tag(mult: int, zipf: bool = False) -> str:
    """``x{mult}``; a zipf replica's tag carries ZIPF_PCT when it is not
    the default, so 3%- and 30%-head runs stay apart on disk and in the
    printed artifact."""
    if not zipf:
        return f"x{mult}"
    return f"x{mult}_zipf" if ZIPF_PCT == 3 else f"x{mult}_zipf{ZIPF_PCT}"


def replica_dir(mult: int, zipf: bool = False) -> Path:
    """The cache dir of one replica of BASE_SF, keyed by the base dir as
    well as the tag: a replica of sf0.1 must never be served for an sf0.01
    base."""
    base = str(Path(BASE_SF).resolve())
    digest = hashlib.sha1(base.encode()).hexdigest()[:10]
    return WORK / f"{Path(base).name}-{digest}" / scale_tag(mult, zipf)


def build_replica(mult: int, zipf: bool = False) -> str:
    out = replica_dir(mult, zipf)
    if (out / "embeddings.parquet").exists():
        return str(out)
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")

    def shift(table: str, col: str) -> int:
        """Key shift per copy = next power of 10 above the observed max id
        times the copy count — a FIXED shift silently collides once
        the base grows past it (copy k's ids overlapping copy k+1's turns
        the replica into a dup-density corpus, the failure mode this
        module's docstring recounts for documents)."""
        mx = con.execute(
            f"SELECT MAX({col}) FROM read_parquet('{BASE_SF}/{table}.parquet')"
        ).fetchone()[0]
        s = 10 ** len(str(int(mx)))
        assert s * mult < 2**62, (table, col, mx, mult)
        return s

    d_sh = shift("documents", "doc_id")
    v_sh = shift("embeddings", "vec_id")
    o_sh = max(
        shift("lineitem", "l_orderkey"), shift("orders", "o_orderkey")
    )
    e_sh = shift("events", "event_id")
    u_sh = shift("events", "user_id")
    rep = {
        "documents": f"""
            SELECT doc_id + {d_sh} * r.k AS doc_id,
                   CASE WHEN r.k = 0 THEN text
                        ELSE text || ' copy' || r.k END AS text,
                   lang, source, n_chars
            FROM read_parquet('{BASE_SF}/documents.parquet')
            CROSS JOIN (SELECT unnest(range(0, {mult})) AS k) r
        """,
        "embeddings": f"""
            SELECT vec_id + {v_sh} * r.k AS vec_id,
                   CASE WHEN r.k = 0 THEN embedding ELSE
                     list_transform(
                       range(1, len(embedding) + 1),
                       i -> CAST(
                         (CASE WHEN r.k >= 64 THEN -1.0 ELSE 1.0 END)
                         * embedding[
                             CAST(((i - 1 + r.k) % len(embedding)) + 1
                                  AS INT)]
                         AS FLOAT))
                   END AS embedding,
                   label
            FROM read_parquet('{BASE_SF}/embeddings.parquet')
            CROSS JOIN (SELECT unnest(range(0, {mult})) AS k) r
        """,
        "lineitem": f"""
            SELECT l_orderkey + {o_sh} * r.k AS l_orderkey,
                   l_partkey, l_suppkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_tax, l_returnflag,
                   l_linestatus, l_shipdate
            FROM read_parquet('{BASE_SF}/lineitem.parquet')
            CROSS JOIN (SELECT unnest(range(0, {mult})) AS k) r
        """,
        "orders": f"""
            SELECT o_orderkey + {o_sh} * r.k AS o_orderkey,
                   o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority
            FROM read_parquet('{BASE_SF}/orders.parquet')
            CROSS JOIN (SELECT unnest(range(0, {mult})) AS k) r
        """,
        "events": f"""
            SELECT event_id + {e_sh} * r.k AS event_id, ts,
                   user_id + {u_sh} * r.k AS user_id,
                   event_type, value, props
            FROM read_parquet('{BASE_SF}/events.parquet')
            CROSS JOIN (SELECT unnest(range(0, {mult})) AS k) r
        """,
    }
    if zipf:
        # Deterministic Zipf head: rows whose GLOBAL event id lands in
        # [0, ZIPF_PCT) mod 100 flow to the hot user (the base table's
        # min user_id, so the id exists at ×1 too); the next ZIPF_PCT
        # band rewrites the first number in props — the item id the
        # ratings view extracts — to the hot item. Disjoint bands, so
        # each axis carries ~3% independently.
        hot_user = con.execute(
            f"SELECT MIN(user_id) FROM read_parquet('{BASE_SF}/events.parquet')"
        ).fetchone()[0]
        hot_item = con.execute(
            "SELECT MIN(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) "
            f"FROM read_parquet('{BASE_SF}/events.parquet')"
        ).fetchone()[0]
        rep["events"] = f"""
            SELECT event_id + {e_sh} * r.k AS event_id, ts,
                   CASE WHEN (event_id + {e_sh} * r.k) % 100 < {ZIPF_PCT}
                        THEN {hot_user}
                        ELSE user_id + {u_sh} * r.k END AS user_id,
                   event_type, value,
                   CASE WHEN (event_id + {e_sh} * r.k) % 100
                             BETWEEN {ZIPF_PCT} AND {2 * ZIPF_PCT - 1}
                        THEN regexp_replace(props, '[0-9]+', '{hot_item}')
                        ELSE props END AS props
            FROM read_parquet('{BASE_SF}/events.parquet')
            CROSS JOIN (SELECT unnest(range(0, {mult})) AS k) r
        """
    for t in TABLES:
        dst = out / f"{t}.parquet"
        if t in rep:
            con.execute(f"COPY ({rep[t]}) TO '{dst}' (FORMAT PARQUET)")
        else:
            shutil.copyfile(f"{BASE_SF}/{t}.parquet", dst)
    return str(out)


def _join_probe(spark, sf: str, variant: str) -> float:
    """Fact⋈fact user_id join on the (skewed) events table: every event
    row joins its user's aggregate profile. Broadcast is pinned OFF (at
    100 TB the profile side does not fit); variants differ only in the
    skew mitigation: 'aqe' = AQE skew-split on with thresholds lowered
    to match the local replica's hot-partition size (the 100 TB regime
    where the DEFAULT 256 MB threshold fires on its own), 'none' = skew
    split disabled, 'salted' = functions.skew.salted_join."""
    from pyspark.sql import functions as F

    from etl_master_spark.functions.skew import salted_join
    from etl_master_spark.sources.io import load_table

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            "true" if variant == "aqe" else "false",
        )
        if variant == "aqe":
            conf.set(
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes", "4m"
            )
            conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        ev = load_table(spark, sf, "events").select(
            "user_id", "event_id", "value"
        )
        profile = ev.groupBy("user_id").agg(
            F.avg("value").alias("u_avg"), F.count(F.lit(1)).alias("u_n")
        )
        if variant == "salted":
            joined = salted_join(ev, profile, ["user_id"], n_salt=16)
        else:
            joined = ev.join(profile, "user_id")
        t0 = time.time()
        joined.agg(F.sum(F.col("value") + F.col("u_avg"))).collect()
        return round(time.time() - t0, 2)
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def main() -> None:
    args = sys.argv[1:]
    zipf = "--zipf" in args
    args = [a for a in args if a != "--zipf"]
    # the multiplier may only be the FIRST argument; a numeric anywhere
    # else is almost certainly a misplaced multiplier — refuse instead of
    # silently running the default x100 replica
    mult = int(args[0]) if args and args[0].isdigit() else 100
    rest = args[1:] if args and args[0].isdigit() else args
    stray = [a for a in rest if a.isdigit()]
    if stray:
        raise SystemExit(
            f"scale_table: numeric argument(s) {stray} after the query "
            "names — the multiplier must come first: "
            "scale_table.py [mult] [query ...]"
        )
    names = rest or (ZIPF_QUERIES if zipf else DEFAULT_QUERIES)
    bad = REPLICA_UNSUPPORTED & set(names)
    if bad:
        raise SystemExit(
            f"scale_table: {sorted(bad)} join events.user_id to customer "
            "keys, which the per-copy user_id shift breaks (only copy 0 "
            "matches) — a replica run would time a broken join. "
            "Measure these at real SF dirs instead."
        )

    import bench
    from etl_master_spark.plans.registry import QUERIES
    from etl_master_spark.session import get_spark

    scales = [("x1", BASE_SF), (scale_tag(mult), build_replica(mult))]
    if zipf:
        scales.append((scale_tag(mult, True), build_replica(mult, True)))
    spark = get_spark(app_name="scale_table", long_lived=True)

    # warm plan shapes at the small scale
    failed = bench.warm(spark, names)
    if failed:
        raise SystemExit(f"scale_table: warm-up failed: {failed}")
    spark.catalog.clearCache()

    out: dict[str, dict[str, float]] = {n: {} for n in names}
    for tag, sf in scales:
        for _ in range(2):  # min of 2 warm passes (bench.py protocol)
            for name in names:
                leg = bench.timed(spark, QUERIES[name], sf)
                if leg["error"]:
                    raise SystemExit(f"scale_table: {name} {tag}: {leg['error']}")
                e = round(bench.wall(leg), 2)
                out[name][tag] = min(e, out[name].get(tag, e))
                spark.catalog.clearCache()
    result = {"mult": mult, "sf": BASE_SF, "queries": out}
    if zipf:
        result["zipf_pct"] = ZIPF_PCT
        probe: dict[str, float] = {}
        for variant in ("none", "aqe", "salted"):
            for _ in range(2):
                e = _join_probe(spark, scales[-1][1], variant)
                if variant not in probe or e < probe[variant]:
                    probe[variant] = e
        result["join_probe_zipf"] = probe
    print(json.dumps(result))


if __name__ == "__main__":
    main()
