#!/usr/bin/env python3
"""Per-column statistics of a directory of query tables.

Usage (from the repository root):
    python3 perfbench/tablestats.py <tables dir> [<tables dir> ...]

Prints, for every column of every `<table>.parquet`, its nulls, distinct
count and range, and for the columns whose distribution sets the cost of
the measured queries the quantiles and mixes that README.md ("Query
tables") records. Given the engine's test tables and a directory written
by tables.py, it shows how closely the generator matches them.
"""
import collections
import pathlib
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def columns(d):
    for f in sorted(pathlib.Path(d).glob("*.parquet")):
        t = pq.read_table(f)
        print(f"{f.stem}: {t.num_rows} rows")
        for name in t.column_names:
            ty = t.column(name).type
            vals = t.column(name).to_pylist()
            if pa.types.is_list(ty):
                lens = {len(v) for v in vals if v is not None}
                print(f"  {name}: list lengths {sorted(lens)}")
                continue
            nn = [v for v in vals if v is not None]
            line = f"  {name}: nulls {len(vals) - len(nn)}, distinct {len(set(nn))}, "
            if pa.types.is_string(ty):
                line += f"length [{min(map(len, nn))}, {max(map(len, nn))}]"
            else:
                line += f"range [{min(nn)}, {max(nn)}]"
            if pa.types.is_string(ty) and len(set(nn)) <= 25:
                mix = collections.Counter(nn)
                line += ", mix " + " ".join(f"{k}:{v / len(nn):.2f}" for k, v in sorted(mix.items()))
            print(line)


def distributions(d):
    d = pathlib.Path(d)
    ev = pq.read_table(d / "events.parquet").to_pandas()
    q = lambda xs, ps: " ".join(f"{x:.1f}" for x in np.quantile(xs, ps))
    print(f"events.value p10/p50/p90/p99: {q(ev['value'], [.1, .5, .9, .99])}")
    ts = np.sort(ev["ts"].values.astype("datetime64[us]").astype(np.int64))
    print(f"events.ts gap s p1/p50/p99: {q(np.diff(ts) / 1e6, [.01, .5, .99])}")
    print(f"events per user min/p50/max: {q(ev.groupby('user_id').size(), [0, .5, 1])}")
    words = [t.split() for t in pq.read_table(d / "documents.parquet").column("text").to_pylist()]
    print(f"documents words min/p25/p50/p75/max: {q([len(w) for w in words], [0, .25, .5, .75, 1])}")
    base = {" ".join(w) for w in words if w[-1] != "dup"}
    dups = [w for w in words if w[-1] == "dup"]
    def original(w):
        while w and w[-1] == "dup":
            w = w[:-1]
        return " ".join(w)
    copies = sum(original(w) in base for w in dups)
    print(f"documents ending in 'dup': {len(dups)}, of which copies of another document: {copies}")
    vocab = collections.Counter(x for w in words for x in w)
    print(f"documents vocabulary: {len(vocab)} words, 'dup' {vocab['dup']} times")


if __name__ == "__main__":
    for d in sys.argv[1:]:
        print(f"== {d}")
        columns(d)
        distributions(d)
