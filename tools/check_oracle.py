#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each query parquet in outDir, executes the matching oracle SQL in DuckDB
against the sf parquet tables and compares values (columns sorted by name,
rows sorted by all columns), like the driver does. Each WITH-clause CTE of
the oracle SQL is declared `AS MATERIALIZED` before it runs (see
`materialize_ctes`); the SQL is otherwise run as written.

Usage: python3 tools/check_oracle.py <sfDir> <outDir>
"""
import json
import re
import sys
import glob
import os
import duckdb


_TOKEN = re.compile(r"""'(?:[^']|'')*'|"(?:[^"]|"")*"|--[^\n]*|\s+|\w+|.""", re.S)


def materialize_ctes(sql):
    """Return `sql` with every WITH-clause CTE declared `AS MATERIALIZED`.

    DuckDB 1.0 inlines each reference to a CTE. A chain of CTEs that each
    read the previous one more than once (ta_bpe's merge rounds) then
    expands far beyond its text and runs out of memory; materialized,
    each CTE runs once and the result is the same. A named window
    (`WINDOW w AS (...)`) has the same shape as a CTE and is left alone,
    as are string literals, quoted identifiers and comments.
    """
    toks = [(m.start(), m.group()) for m in _TOKEN.finditer(sql)
            if not m.group().isspace() and not m.group().startswith("--")]
    words = [t.upper() for _, t in toks]

    def close(i):  # index of the ")" matching the "(" at token i
        depth = 0
        for j in range(i, len(toks)):
            depth += {"(": 1, ")": -1}.get(toks[j][1], 0)
            if depth == 0:
                return j
        raise ValueError("unbalanced parentheses in oracle SQL")

    inserts = []
    for i, w in enumerate(words):
        if w != "WITH":
            continue
        j = i + 1 + (words[i + 1:i + 2] == ["RECURSIVE"])
        while j < len(toks):
            j += 1  # the CTE name
            if j < len(toks) and toks[j][1] == "(":
                j = close(j) + 1  # its column list
            if words[j:j + 1] != ["AS"]:
                break
            j += 1
            if words[j:j + 1] == ["NOT"] or words[j:j + 1] == ["MATERIALIZED"]:
                j += 1 + (words[j] == "NOT")
            else:
                inserts.append(toks[j][0])
            j = close(j) + 1
            if words[j:j + 1] != [","]:
                break
            j += 1
    for pos in reversed(inserts):
        sql = sql[:pos] + "MATERIALIZED " + sql[pos:]
    return sql


sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[: -len(".parquet")]
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

with open(os.path.join(outdir, "oracle_sql.json")) as f:
    raw = json.load(f)
# oracle_sql.json is dual-keyed ("<name>" and "<name>.parquet") so the
# driver finds a match whichever key it uses; dedupe to bare names here.
oracles = {}
for k, v in raw.items():
    name = k[: -len(".parquet")] if k.endswith(".parquet") else k
    oracles[name] = v

fails = 0
for name, sql in sorted(oracles.items()):
    got_dir = os.path.join(outdir, name + ".parquet")
    if not os.path.isdir(got_dir):
        got_dir = os.path.join(outdir, name)  # legacy layout
    if not os.path.isdir(got_dir):
        print(f"FAIL {name}: no spark output dir")
        fails += 1
        continue
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
    try:
        exp = con.sql(materialize_ctes(sql)).df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        fails += 1
        continue
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        print(f"FAIL {name}: column mismatch spark={gcols} oracle={ecols}")
        fails += 1
        continue
    g = got[gcols].sort_values(gcols).reset_index(drop=True)
    e = exp[ecols].sort_values(ecols).reset_index(drop=True)
    if len(g) != len(e):
        print(f"FAIL {name}: row count spark={len(g)} oracle={len(e)}")
        fails += 1
        continue
    import pandas as pd
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-12)
        print(f"PASS {name}: {len(g)} rows")
    except AssertionError as ex:
        print(f"FAIL {name}: value mismatch\n{str(ex)[:2000]}")
        # show first differing rows for debugging
        neq = (g.astype(str) != e.astype(str)).any(axis=1)
        if neq.any():
            i = neq.idxmax()
            print("spark :", g.iloc[i].to_dict())
            print("oracle:", e.iloc[i].to_dict())
        fails += 1

sys.exit(1 if fails else 0)
