"""DuckDB oracle comparison for the corpus_ops workload.

For each query, runs its oracle SQL (graft.SparkEntry.oracleSql, dumped by
the harness) in DuckDB over the generated `documents` table and compares it
with the Spark result parquet by the sorted value hash that
tools/oracle_check.py uses: columns sorted by name, every value rendered
with str(), rows sorted, md5 over the matrix.
"""
import glob
import hashlib
import os

import duckdb


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = sorted(tuple(str(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for r in mat:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return sorted(cols), len(mat), h.hexdigest()


def compare(tables_dir, results_dir, oracle_sql):
    """Return {query: None if equal else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    docs = glob.glob(os.path.join(tables_dir, "documents.parquet", "*.parquet"))
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({docs!r})")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            verdicts[name] = "no Spark result written"
            continue
        try:
            exp = con.sql(sql)
            want = _canon(list(exp.columns), exp.fetchall())
            got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
            got = _canon(list(got_rel.columns), got_rel.fetchall())
        except duckdb.Error as e:
            verdicts[name] = f"duckdb error: {e}".splitlines()[0]
            continue
        if want == got:
            verdicts[name] = None
        else:
            verdicts[name] = (f"oracle {want[1]} rows/{want[2][:8]} cols={want[0]} vs "
                              f"spark {got[1]} rows/{got[2][:8]} cols={got[0]}")
    con.close()
    return verdicts
