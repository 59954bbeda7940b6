#!/usr/bin/env python3
"""Write the read side's tables: the first rows (by id) of the sf0.1
`documents` and `embeddings` test tables, schema unchanged.

    python3 perfbench/data/sample.py <sf0.1 dir>

The output is committed next to this script; rerun only to change the
sample size, then re-record perfbench/golden/readside.txt.
"""
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

ROWS = {"documents": ("doc_id", 2000), "embeddings": ("vec_id", 800)}


def main():
    src = sys.argv[1]
    out = os.path.dirname(os.path.abspath(__file__))
    for table, (key, n) in ROWS.items():
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        t = t.take(pc.sort_indices(t, [(key, "ascending")]))
        pq.write_table(t.slice(0, n), os.path.join(out, f"{table}.parquet"))
        print(f"{table}: {n} rows")


if __name__ == "__main__":
    main()
