#!/usr/bin/env python3
"""Regenerate expected.json: the row count and value hash of every
query on the benchmark's base tier, taken from the DuckDB oracles and
kept only where graft's own output (a Verify dump) agrees.

    python3 perfbench/run.py --workload corpus_session --seed 1 --seconds 10
    sbt -batch "runMain graft.Verify perfbench/.work/data/base <dump>"
    python3 scripts/check.py perfbench/.work/data/base <dump>   # PASS: 0 failures
    python3 perfbench/expect.py <dump>

The base tier is a pure function of run.BASE_SEED, so the stored values
hold for every run seed (the seed only reorders queries).
"""
import json
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(dump):
    base = os.path.join(HERE, ".work", "data", "base")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    expected, disagree = {}, []
    for name, sql in sorted(oracle.items()):
        want = metrics.fingerprint(con.execute(sql).fetchdf())
        got = metrics.fingerprint(pd.read_parquet(os.path.join(dump, name)))
        if metrics.check(got, want) is None:
            expected[name] = want
        else:
            disagree.append(name)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"base": expected}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(expected)} queries agree with their oracle; disagree: {disagree}")
    return 1 if disagree else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
