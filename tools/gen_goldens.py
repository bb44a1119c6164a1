#!/usr/bin/env python3
"""Regenerate the golden-fixture oracle SQL for the iterative-training
queries (q_bpe_train, q_bpe_train_local, q_bpe_encode,
q_ann_ivf_trained).

These operators' outputs are deterministic functions of the frozen
seed=42 sf0.01 fixture (TESTDATA.md) but not expressible as one static
SQL query (iterative, data-dependent state per round), so their oracle
is a checked-in VALUES golden: the exact expected rows, typed to match
the Spark schema, which the driver's rows/schema/hash gate then
enforces every round — the same tamper-evidence as a computed oracle.

Usage:
    sbt 'runMain graft.Verify /root/testdata/sf0.01 /tmp/golden \
        q_bpe_train q_bpe_encode q_ann_ivf_trained'
    python3 tools/gen_goldens.py /tmp/golden

Writes src/main/resources/graft/goldens/<name>.sql; SparkEntry's
oracleSql reads them verbatim. Rerun ONLY after a deliberate semantic
change to the operators (and say so in the commit).
"""
import glob
import os
import sys

import pyarrow.parquet as pq

OUT = os.path.join(os.path.dirname(__file__), "..",
                   "src", "main", "resources", "graft", "goldens")

# (dump name, resource names to write, DuckDB column types in order)
SPECS = [
    ("q_bpe_train", ["q_bpe_train", "q_bpe_train_local"],
     [("round", "INTEGER"), ("left", "VARCHAR"),
      ("right", "VARCHAR"), ("freq", "BIGINT")]),
    ("q_bpe_encode", ["q_bpe_encode"],
     [("doc_id", "BIGINT"), ("n_sub", "INTEGER"),
      ("first_sub", "VARCHAR"), ("last_sub", "VARCHAR")]),
    ("q_unigram_tok_train", ["q_unigram_tok_train"],
     [("rank", "INTEGER"), ("piece", "VARCHAR"), ("logp", "DOUBLE")]),
    ("q_unigram_tok_encode",
     ["q_unigram_tok_encode"],
     [("doc_id", "BIGINT"), ("n_pieces", "INTEGER"),
      ("first_piece", "VARCHAR"), ("last_piece", "VARCHAR")]),
    ("q_unigram_tok_sample",
     ["q_unigram_tok_sample"],
     [("doc_id", "BIGINT"), ("n_pieces", "INTEGER"),
      ("first_piece", "VARCHAR"), ("last_piece", "VARCHAR")]),
    ("q_tokenizer_fertility",
     ["q_tokenizer_fertility"],
     [("source", "VARCHAR"), ("n_docs", "BIGINT"),
      ("sum_words", "BIGINT"), ("sum_uni_pieces", "BIGINT"),
      ("sum_bpe_pieces", "BIGINT")]),
    # q_ann_ivf_trained is SEMI-INDEPENDENT: only the neighbor PICKS
    # (query_id, rank, neighbor_id — the part that depends on the
    # frozen Lloyd-trained centroids) are inlined; the cosine is
    # RECOMPUTED by DuckDB from the fixture vectors, so the distance
    # math is independently verified and only the iterative centroid
    # choice stays pinned-by-freeze.
    ("q_ann_ivf_trained", ["q_ann_ivf_trained"],
     [("query_id", "BIGINT"), ("rank", "INTEGER"),
      ("neighbor_id", "BIGINT")]),
]

# Wraps the inlined picks for q_ann_ivf_trained: {values} is the
# VALUES body over (query_id, rank, neighbor_id).
ANN_RECOMPUTE_SQL = """\
WITH picks AS (
  SELECT CAST("query_id" AS BIGINT) AS query_id,
         CAST("rank" AS INTEGER) AS rank,
         CAST("neighbor_id" AS BIGINT) AS neighbor_id
  FROM (VALUES
{values}
  ) AS t("query_id", "rank", "neighbor_id")),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT p.query_id, p.rank, p.neighbor_id,
  round(list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm), 6) AS cos
FROM picks p JOIN n qn ON p.query_id = qn.vec_id
             JOIN n cn ON p.neighbor_id = cn.vec_id
ORDER BY query_id, rank"""


def lit(v):
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return repr(v)  # shortest round-trip -> same binary64 in DuckDB
    return str(v)


def main(dump_dir):
    os.makedirs(OUT, exist_ok=True)
    for dump, resources, cols in SPECS:
        files = glob.glob(f"{dump_dir}/{dump}/*.parquet")
        assert files, f"no dump for {dump} under {dump_dir}"
        # Verify coalesce(1)s its dumps; a multi-file dump
        # would silently truncate the golden — fail loud instead
        assert len(files) == 1, \
            f"{dump}: expected one part file, got {len(files)} — " \
            "the golden would be truncated"
        t = pq.read_table(files[0]).to_pylist()
        names = [c for c, _ in cols]
        rows = ",\n".join(
            "(" + ", ".join(lit(r[c]) for c in names) + ")" for r in t)
        if dump == "q_ann_ivf_trained":
            sql = ANN_RECOMPUTE_SQL.format(values=rows)
        else:
            sel = ", ".join(f'CAST("{c}" AS {ty}) AS "{c}"' for c, ty in cols)
            quoted = ", ".join(f'"{c}"' for c in names)
            sql = (f"SELECT {sel}\nFROM (VALUES\n{rows}\n) AS t({quoted})\n"
                   f"ORDER BY {quoted}")
        for res in resources:
            path = os.path.join(OUT, f"{res}.sql")
            with open(path, "w") as f:
                f.write(sql + "\n")
            print(f"wrote {path} ({len(t)} rows)")


if __name__ == "__main__":
    main(sys.argv[1])
