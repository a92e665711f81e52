"""DuckDB checks of what the Spark runs wrote. Each returns a list of
problems; an empty list means the output is correct."""
import glob
import json
import os

# `CodeFiles.checklist` restated in SQL. Every field is unquoted in the
# generated data, so the reference's quote stripping never applies.
_BLANK_MACRO = r"CREATE OR REPLACE MACRO blank(x) AS " \
               r"(x IS NULL OR regexp_full_match(x, '[ \t\n\r\f]*'))"
_LANGS = ["scala", "java", "python", "go", "rust", "c", "cpp", "ruby"]
_EXPECTED_VIOLATIONS = " + ".join(
    [f"blank({c})::INT + (NOT blank({c}) AND NOT regexp_matches({c}, '{p}'))::INT"
     for c, p in [("repo", "^repo_[a-z0-9_]+$"),
                  ("path", "^[A-Za-z0-9_./-]+$"),
                  ("commit", "^[0-9a-f]{40}$")]]
    + ["(NOT blank(lang) AND lang <> 'not available' AND lang NOT IN ("
       + ", ".join(f"'{l}'" for l in _LANGS) + "))::INT",
       "blank(content)::INT"])


def _parquet(d):
    return f"read_parquet('{d}/**/*.parquet', hive_partitioning = false)"


def check_table_run(con, op_dir, rows, partitions):
    """One `CheckpointRunner.run` output: per-row verdicts and violation
    counts against the SQL restatement, sha256 of the content, the error
    string present exactly on failing rows, violation rows = the sum of
    per-row violation counts, one `ok` manifest row per partition, and the
    manifest's invalid-row and violation totals."""
    con.execute(_BLANK_MACRO)
    v = _parquet(os.path.join(op_dir, "validated"))
    problems = []
    (n, ids, bad_passed, bad_count, bad_sha, bad_error, total_viol,
     exp_invalid, exp_viol) = con.sql(f"""
        SELECT count(*), count(DISTINCT id),
               count(*) FILTER (WHERE passed <> (expected = 0)),
               count(*) FILTER (WHERE len(violations) <> expected),
               count(*) FILTER (WHERE content_sha256 IS DISTINCT FROM sha256(content)),
               count(*) FILTER (WHERE (error IS NULL) <> passed),
               coalesce(sum(len(violations)), 0),
               count(*) FILTER (WHERE expected > 0), coalesce(sum(expected), 0)
        FROM (SELECT *, {_EXPECTED_VIOLATIONS} AS expected FROM {v})""").fetchone()
    if n != rows or ids != rows:
        problems.append(f"validated output has {n} rows / {ids} ids, input {rows}")
    for what, k in [("passed", bad_passed), ("violation count", bad_count),
                    ("content_sha256", bad_sha), ("error presence", bad_error)]:
        if k:
            problems.append(f"{k} rows with a wrong {what}")
    viol_rows = con.sql(
        f"SELECT count(*) FROM {_parquet(os.path.join(op_dir, 'violations'))}"
    ).fetchone()[0]
    if viol_rows != total_viol:
        problems.append(f"{viol_rows} violation rows, per-row counts sum to {total_viol}")
    ok, parts, manifest_rows, invalid, viol = con.sql(f"""
        SELECT count(*), count(DISTINCT partition), sum(n_rows),
               sum(n_invalid), sum(n_violations)
        FROM {_parquet(os.path.join(op_dir, 'manifest'))} WHERE status = 'ok'
        """).fetchone()
    if ok != partitions or parts != partitions or manifest_rows != rows:
        problems.append(f"manifest: {ok} ok rows over {parts} partitions "
                        f"covering {manifest_rows} rows; expected one per each "
                        f"of {partitions} partitions covering {rows}")
    if (invalid, viol) != (exp_invalid, exp_viol):
        problems.append(f"manifest totals {invalid} invalid rows, {viol} "
                        f"violations; expected {exp_invalid}, {exp_viol}")
    return problems


def check_catalog(con, sf_dir, check_dir):
    """Each query's output against its oracle SQL, compared as
    tools/check_oracle.py does: columns sorted by name, rows sorted by all
    columns, values equal to a relative 1e-9. Returns {query: problems}."""
    import pandas as pd

    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for q, sql in sorted(oracles.items()):
        got_dir = os.path.join(check_dir, q + ".parquet")
        if not glob.glob(os.path.join(got_dir, "*.parquet")):
            out[q] = ["no Spark output"]
            continue
        got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # a broken oracle is a failed check, not a crash
            out[q] = [f"oracle SQL error: {e}"]
            continue
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols:
            out[q] = [f"columns {gcols} vs oracle {ecols}"]
            continue
        g = got[gcols].sort_values(gcols).reset_index(drop=True)
        e = exp[ecols].sort_values(ecols).reset_index(drop=True)
        if len(g) != len(e):
            out[q] = [f"{len(g)} rows vs oracle {len(e)}"]
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                          check_exact=False, rtol=1e-9, atol=1e-12)
            out[q] = []
        except AssertionError as ex:
            out[q] = [f"values differ: {str(ex)[:300]}"]
    return out
