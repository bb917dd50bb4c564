"""Recompute ``expected.json``: the DuckDB oracle's result fingerprint of
each benchmarked query that has one, over the generated dataset. Queries
without an oracle keep their recorded schema and row count. Run after
changing the generator, the scale or a workload's queries:

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402

import datagen  # noqa: E402
import run  # noqa: E402
from fingerprint import fingerprint  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NO_ORACLE = {
    "text_mllib_pipeline": {
        "columns": ["doc_id", "n_bigrams", "n_tokens", "nnz"],
        "schema": "struct<doc_id:bigint,n_tokens:int,n_bigrams:int,nnz:int>",
        "rows": 500,  # one row per document
    },
}


def main() -> None:
    from big_data_audio_classification_spark.registry import oracle_sqls

    oracles = oracle_sqls()
    names = [n for spec in WORKLOADS.values() for n in spec["queries"]]
    missing = [n for n in names if n not in oracles and n not in NO_ORACLE]
    if missing:
        raise SystemExit(f"no oracle and no recorded schema for {missing}")
    data = run.ensure_data(os.path.join(run.ROOT, ".perfbench"))
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    queries = {}
    for n in names:
        if n in oracles:
            rel = con.sql(oracles[n])
            queries[n] = fingerprint(rel.columns, rel.fetchall())
        else:
            queries[n] = NO_ORACLE[n]
        print(n, queries[n]["rows"], flush=True)
    con.close()
    spec = {"data_version": run.DATA_VERSION, "sf": run.SF, "queries": queries}
    with open(run.EXPECTED, "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
