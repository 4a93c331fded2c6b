#!/usr/bin/env python3
"""Dev tool (driver-side, not shipped code): FAIR 100x `part` and
`lineitem` tables for the round-10 scale probes (er_clusters, spearman).

`make_bigdata.py`'s per-copy p_name suffix tag keeps edit-distance copies
apart (distance 3 > maxDist 2) but NOT Jaro-Winkler copies: JW weights the
common prefix, so "hot bolt aaa" vs "hot bolt bbb" scores ~0.95 > 0.92 and
every name's k copies become a quadratic within-name clique - the probe
would measure replication pathology, not linkage scaling.

Fair design (mirrors make_fairdocs.py): keep the ORIGINAL rows, fill with
synthetic names drawn from a large hash-derived letter-word pool (first
letters spread over a-z so the p_initial blocking key keeps selectivity),
and plant a 1%-rate JW twin set: a late-character perturbation of an
original name (shared prefix -> JW ~0.98) carrying the original's brand /
size / initial so the twin lands in the SAME block.

lineitem scales by plain key-shifted replication (the spearman probe is a
per-group rank aggregation - group count fixed at 3 return flags, rows
scale linearly, which is the agg-scaling story we want to measure).

Usage: python3 tools/make_fairparts_r10.py /root/testdata/sf0.1 /tmp/sf100p 100
Then run `Probe` on the generated dir, naming the entries that read its
tables: sbt 'runMain graft.Probe /tmp/sf100p q...'
"""
import sys, os
import duckdb

src, dst, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
os.makedirs(dst, exist_ok=True)
con = duckdb.connect()

con.execute(f"CREATE VIEW part AS SELECT * FROM read_parquet('{src}/part.parquet')")
n_part, = con.execute("SELECT count(*) FROM part").fetchone()
types = [r[0] for r in con.execute("SELECT DISTINCT p_type FROM part ORDER BY 1").fetchall()]
types_sql = "[" + ", ".join(f"'{t}'" for t in types) + "]"

# hash -> 6-letter word; two words per name. 4096*4096 combos keeps exact
# name collisions rare at 2M rows while initials spread over the alphabet.
word = lambda e: (f"chr(97 + (hash({e}) % 26)::INT) || chr(97 + (hash({e}*7+1) % 26)::INT) || "
                  f"chr(97 + (hash({e}*7+2) % 26)::INT) || chr(97 + (hash({e}*7+3) % 26)::INT) || "
                  f"chr(97 + (hash({e}*7+4) % 26)::INT) || chr(97 + (hash({e}*7+5) % 26)::INT)")

con.execute(f"""CREATE TABLE big_part AS
  SELECT * FROM part
  UNION ALL
  SELECT
    {n_part} + t.i AS p_partkey,
    CASE WHEN ({n_part} + t.i) % 100 = 0 THEN
      -- planted JW twin: original name, last char swapped (shared prefix
      -- -> JW ~0.98), original brand/size so it blocks with its source
      substr(o.p_name, 1, length(o.p_name) - 1) ||
        (CASE WHEN substr(o.p_name, length(o.p_name), 1) = 'q' THEN 'z' ELSE 'q' END)
    ELSE {word("t.i % 4096")} || ' ' || {word("(t.i // 4096) % 4096 + 5000")} END AS p_name,
    CASE WHEN ({n_part} + t.i) % 100 = 0 THEN o.p_brand
         ELSE 'Brand#' || (1 + hash(t.i * 13) % 25) END AS p_brand,
    {types_sql}[1 + (hash(t.i * 17) % {len(types)})::INT] AS p_type,
    CASE WHEN ({n_part} + t.i) % 100 = 0 THEN o.p_size
         ELSE (1 + hash(t.i * 19) % 50)::INT END AS p_size,
    900.0 + (t.i % 10000) / 10.0 AS p_retailprice
  FROM range({(k - 1) * n_part}) t(i)
  LEFT JOIN part o ON o.p_partkey = t.i % {n_part}""")
con.execute(f"COPY big_part TO '{dst}/part.parquet' (FORMAT PARQUET)")
print("part:", con.execute("SELECT count(*) FROM big_part").fetchone()[0], "rows")

con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{src}/lineitem.parquet')")
cols = [r[0] for r in con.execute("DESCRIBE SELECT * FROM li").fetchall()]
sel = lambda o: ", ".join(
    f"l_orderkey + {o} * 10000000 AS l_orderkey" if c == "l_orderkey" else c
    for c in cols)
union = "\nUNION ALL\n".join(f"SELECT {sel(o)} FROM li" for o in range(k))
con.execute(f"COPY ({union}) TO '{dst}/lineitem.parquet' (FORMAT PARQUET)")
print("lineitem:", con.execute(
    f"SELECT count(*) FROM read_parquet('{dst}/lineitem.parquet')").fetchone()[0], "rows")
