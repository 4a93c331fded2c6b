#!/usr/bin/env python3
"""Dev tool (driver-side, not shipped code): FAIR 100x graph tables for
the round-11 scale probes (modularity, jaccard/RA link prediction,
assortativity, bounded-hop BFS, label propagation, HITS, local
clustering).

Why a dedicated generator: `make_bigdata.py` shifts l_orderkey only, so
100 copies of every BASKET share one part-id space — every co-occurrence
pair's support multiplies by k, the minSupport=2 gate passes ~everything,
and node DEGREE grows with k. The wedge join (Sum deg^2) then grows
~k^2: the probe would measure replication-induced densification, not
data-volume scaling. A real 100x corpus has more products and more
orders at similar density.

Fair design: shift BOTH the basket key and the item key per copy ->
100 DISJOINT copies of the sf0.1 co-occurrence graph. Nodes and edges
scale x100, per-node degree distribution is exactly the original's, so
linear wall-clock is the pass criterion. o_custkey shifts too (the HITS
bipartite graph gets disjoint buyer sides), and `part` replicates with
shifted p_partkey so the %997 BFS seed set scales linearly with the
node set.

Usage: python3 tools/make_fairgraph_r11.py /root/testdata/sf0.1 /tmp/sf100g 100
Then run `Probe` on the generated dir, naming the entries that read its
tables: sbt 'runMain graft.Probe /tmp/sf100g q...'
"""
import sys, os
import duckdb

src, dst, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
os.makedirs(dst, exist_ok=True)
con = duckdb.connect()

SCALED = {
    "lineitem": {"l_orderkey": "l_orderkey + {o} * 10000000",
                 "l_partkey": "l_partkey + {o} * 10000000"},
    "orders":   {"o_orderkey": "o_orderkey + {o} * 10000000",
                 "o_custkey": "o_custkey + {o} * 10000000"},
    "part":     {"p_partkey": "p_partkey + {o} * 10000000"},
}

for name, shifted in SCALED.items():
    sp, dp = f"{src}/{name}.parquet", f"{dst}/{name}.parquet"
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{sp}')").fetchall()]
    parts = []
    for o in range(k):
        sel = ", ".join(
            (shifted[c].format(o=o) + f" AS {c}") if c in shifted else c
            for c in cols)
        parts.append(f"SELECT {sel} FROM read_parquet('{sp}')")
    con.execute(f"COPY ({' UNION ALL '.join(parts)}) TO '{dp}' (FORMAT PARQUET)")
    n = con.execute(f"SELECT count(*) FROM read_parquet('{dp}')").fetchone()[0]
    print(f"{name}: {n} rows")
print("done ->", dst)
