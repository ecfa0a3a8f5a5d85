#!/usr/bin/env python3
"""Same-host DuckDB pairing (BASELINE.md protocol): time each query's
oracle twin in DuckDB over a fixture dir, warm min-of-5, and pair it with
the Spark wall time `graft.Profile` recorded in PROFILE.json on the SAME
fixture minutes apart. Usage:
  python3 tools/pair_duckdb.py <oracle_sql.json dir> <fixtureDir> <PROFILE.json> [q1,q2,...]
Keys default to every profiled key with an oracle twin. DuckDB gets the
cores Spark had: SPARK_GRAFT_CPUS, else os.cpu_count(). Cross-day machine
speed swings ~25%, so only same-window ratios are comparable (SCALE.md
r8/r10 noise protocol)."""
import sys, os, json, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main():
    if len(sys.argv) not in (4, 5):
        sys.exit(__doc__)
    oracle = json.load(open(os.path.join(sys.argv[1], "oracle_sql.json")))
    fixture = sys.argv[2]
    profile = json.load(open(sys.argv[3]))
    spark = {k: v["wall_ms"] / 1000 for k, v in profile["queries"].items()}
    if os.path.realpath(profile["sf"]) != os.path.realpath(fixture):
        print(f"warning: PROFILE.json was taken on {profile['sf']}, "
              f"not {fixture}", file=sys.stderr)
    names = (sys.argv[4].split(",") if len(sys.argv) == 5
             else sorted(k for k in spark if k in oracle))
    threads = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
                if os.path.isdir(p) else
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in names:
        sql = oracle[name]
        for _ in range(2):
            con.execute(sql).fetchall()
        best = min(
            (lambda t0: (con.execute(sql).fetchall(), time.time() - t0)[1])(
                time.time())
            for _ in range(5))
        s = spark.get(name)
        ratio = round(s / best, 3) if s is not None and best > 0 else None
        out[name] = {"duck_sec": round(best, 3),
                     "spark_sec": None if s is None else round(s, 3),
                     "spark_over_duck": ratio}
        print(f"PAIR {json.dumps({'query': name, **out[name]})}")
    print(json.dumps({"threads": threads, "queries": out}))

if __name__ == "__main__":
    main()
