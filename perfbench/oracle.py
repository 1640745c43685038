"""DuckDB cross-checks of the harness's results. Query results are compared
with the repository's own oracle compare (tools/check.py)."""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import check  # noqa: E402


def check_queries(input_dir, results_dir, oracle_sql):
    """-> {query: error or None} for every query with oracle SQL."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            out[name] = check.compare(name, spark_df, con.execute(sql).df())
        except Exception as e:  # a failing oracle query is a failed check
            out[name] = f"{type(e).__name__}: {e}"
    return out


def check_wordcount(corpus_dir, tsv_dir, tokens_written):
    """WordCount output against a DuckDB count over the same corpus, plus
    token conservation: the counts sum to the number of tokens written."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    lines = (f"read_csv('{corpus_dir}/*.txt', columns={{'text': 'VARCHAR'}}, "
             f"delim='{chr(1)}', quote='', escape='', header=false)")
    spark_counts = (f"read_csv('{tsv_dir}/part-*', columns={{'word': 'VARCHAR', "
                    "'cnt': 'BIGINT'}, delim='\\t', quote='', escape='', header=false)")
    con.execute(f"""CREATE TABLE expect AS SELECT word, count(*) AS cnt FROM
        (SELECT unnest(string_split_regex(text, '[ \\t\\n\\r\\f]+')) AS word FROM {lines})
        WHERE length(word) > 0 GROUP BY word""")
    con.execute(f"CREATE TABLE got AS SELECT * FROM {spark_counts}")
    total = con.execute("SELECT sum(cnt) FROM got").fetchone()[0]
    if total != tokens_written:
        return f"sum(cnt) = {total}, but {tokens_written} tokens were written"
    diff = con.execute("""SELECT count(*) FROM (
        (SELECT * FROM got EXCEPT ALL SELECT * FROM expect) UNION ALL
        (SELECT * FROM expect EXCEPT ALL SELECT * FROM got))""").fetchone()[0]
    if diff:
        return f"{diff} (word, count) rows differ from the DuckDB count"
    return None
