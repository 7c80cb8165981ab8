#!/usr/bin/env python3
"""Record the expected output digest of every packaged sampler on the fixed
story collection, computed by each registry query's own oracle (DuckDB SQL
or frozen VALUES), never by Spark:

    python3 perfbench/record_digests.py

Writes perfbench/data/story_digests.json, which the story-sample workload
checks each run against. Rerun only when the collection or an oracle changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402

from hypercane_spark.entry_queries import REGISTRY  # noqa: E402
from workloads import DIGESTS, DOCUMENTS, digest  # noqa: E402

SAMPLERS = [
    "dsa1", "dsa2", "dsa3", "dsa4", "filtered_random",
    "ordered_systematic", "simple_search_engine", "llm_curate",
]


def main() -> None:
    con = duckdb.connect()
    path = DOCUMENTS.replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for a in SAMPLERS:
        res = con.execute(REGISTRY[f"pipeline_{a}"][1])
        out[a] = digest([d[0] for d in res.description], res.fetchall())
        print(a, out[a], flush=True)
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
