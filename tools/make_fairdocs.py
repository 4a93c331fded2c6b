#!/usr/bin/env python3
"""Dev tool (driver-side, not shipped code): build a FAIR 100x dedup/ANN
probe corpus. `make_bigdata.py` replicates document text verbatim, so at
100x every doc has 100 exact copies - dedup pair output becomes quadratic
in group size and df-bounded indexes (maxDf) prune everything; the probe
then measures output-volume pathology, not scaling.

Here the scaled corpus keeps the ORIGINAL 5k docs and fills the rest with
vocabulary-resampled synthetic docs (deterministic hash words), planting a
1%-rate near-dup twin set (light perturbation of an original) so the
near-dup signal scales linearly with volume. Embeddings likewise: original
2k vectors + hash-random vectors + 1% planted near-identical twins.

Usage: python3 tools/make_fairdocs.py /root/testdata/sf0.1 /tmp/sf100p 100
Then run `Probe` on the generated dir, naming the entries that read its
tables: sbt 'runMain graft.Probe /tmp/sf100p q...'
"""
import sys
import duckdb

src, dst, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
import os
os.makedirs(dst, exist_ok=True)
con = duckdb.connect()

con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{src}/documents.parquet')")
con.execute(f"CREATE VIEW emb AS SELECT * FROM read_parquet('{src}/embeddings.parquet')")
n_docs, = con.execute("SELECT count(*) FROM docs").fetchone()
n_emb, = con.execute("SELECT count(*) FROM emb").fetchone()

# --- documents ---------------------------------------------------------
con.execute("""CREATE TABLE vocab AS
  SELECT row_number() OVER (ORDER BY w) - 1 AS wi, w
  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM docs
        WHERE text IS NOT NULL)""")
n_vocab, = con.execute("SELECT count(*) FROM vocab").fetchone()
print(f"docs={n_docs} emb={n_emb} vocab={n_vocab}")

# synthetic filler: 54-word docs over a LARGE hash vocabulary (50k word
# ids), so the 3-gram space is realistic — df concentrates at 1 in the
# tail the way a natural corpus does, and df-bounded indexes behave as
# designed. (Filler built from the ORIGINAL 31-word vocab makes every
# shingle a head shingle: maxDf either empties the index or goes
# quadratic; measured and discarded.)
con.execute(f"""CREATE TABLE synth AS
  WITH ids AS (
    SELECT {n_docs} + i AS doc_id FROM range({(k - 1) * n_docs}) t(i)
  ), words AS (
    SELECT doc_id, j,
           'w' || (hash(doc_id * 54 + j) % 50000) AS w
    FROM ids, range(54) u(j)
  )
  SELECT doc_id,
         array_to_string(list(w ORDER BY j), ' ') AS text
  FROM words
  GROUP BY doc_id""")

# planted near-dup twins: 1% of synthetic rows REPLACE their filler text
# with a perturbed original (every 8th word swapped -> J ~ 0.76 > tau 0.5)
con.execute(f"""CREATE TABLE big_docs AS
  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM docs d
  UNION ALL
  SELECT s.doc_id,
    CASE WHEN s.doc_id % 100 = 0 THEN
      array_to_string(list_transform(
        string_split(o.text, ' '),
        (w, i) -> CASE WHEN (i - 1) % 8 = 0
                       THEN 'tw' || (s.doc_id % 997) || 'x' || i
                       ELSE w END), ' ')
    ELSE s.text END AS text,
    o.lang, o.source,
    length(CASE WHEN s.doc_id % 100 = 0 THEN
      array_to_string(list_transform(
        string_split(o.text, ' '),
        (w, i) -> CASE WHEN (i - 1) % 8 = 0
                       THEN 'tw' || (s.doc_id % 997) || 'x' || i
                       ELSE w END), ' ')
    ELSE s.text END) AS n_chars
  FROM synth s
  JOIN docs o ON o.doc_id = s.doc_id % {n_docs}""")
con.execute(f"COPY big_docs TO '{dst}/documents.parquet' (FORMAT PARQUET)")
print("documents:", con.execute("SELECT count(*) FROM big_docs").fetchone()[0], "rows")

# --- embeddings --------------------------------------------------------
con.execute(f"""CREATE TABLE big_emb AS
  SELECT vec_id, embedding, label FROM emb
  UNION ALL
  SELECT {n_emb} + t.i AS vec_id,
    CASE WHEN ({n_emb} + t.i) % 100 = 0 THEN
      -- planted twin: original vector + tiny deterministic noise
      list_transform(o.embedding,
        (x, d) -> x + ((hash(t.i * 64 + d) % 100)::BIGINT - 50) / 20000.0)::FLOAT[]
    ELSE
      list_transform(range(64),
        d -> (((hash(t.i * 64 + d) % 2000)::BIGINT - 1000) / 1000.0))::FLOAT[]
    END AS embedding,
    CAST(hash(t.i) % 4 AS INTEGER) AS label
  FROM range({(k - 1) * n_emb}) t(i)
  LEFT JOIN emb o ON o.vec_id = t.i % {n_emb}""")
con.execute(f"COPY big_emb TO '{dst}/embeddings.parquet' (FORMAT PARQUET)")
print("embeddings:", con.execute("SELECT count(*) FROM big_emb").fetchone()[0], "rows")
