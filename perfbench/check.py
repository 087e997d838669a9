"""Output checks against DuckDB, run outside every timed region."""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import selfcheck  # noqa: E402


def anagram_lines(data_dir):
    """The anagram job's output lines, sorted, as DuckDB computes them over
    the corpus: the `anagrams_txt` oracle with the generated stop list, in
    the `key: { a, b }` rendering of the single-file sink.
    """
    with open(f"{data_dir}/stopwords.txt") as fh:
        stop = [w.strip() for w in fh.read().replace("\n", ",").split(",") if w.strip()]
    stop_sql = ", ".join("'" + w + "'" for w in stop)
    tokens = ("string_split_regex(regexp_replace(replace(lower(text), chr(39), ''), "
              "'[^a-z]+', ' ', 'g'), ' ')")
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"""CREATE TEMP TABLE toks AS
      SELECT unnest({tokens}) AS word
      FROM (SELECT content AS text FROM read_text('{data_dir}/corpus/*.txt'))""")
    con.execute(f"""CREATE TEMP TABLE words AS
      SELECT DISTINCT word FROM toks WHERE length(word) > 1 AND word NOT IN ({stop_sql})""")
    rows = con.sql("""
      WITH keyed AS (SELECT list_aggregate(list_sort(string_split(word, '')), 'string_agg', '') AS key, word
                     FROM words)
      SELECT key || ': { ' || array_to_string(list_sort(list(word)), ', ') || ' }'
      FROM keyed GROUP BY key HAVING count(*) >= 2""").fetchall()
    n_tokens, n_distinct = con.sql(
        "SELECT count(*), count(DISTINCT word) FROM toks WHERE length(word) > 1").fetchone()
    return sorted(r[0] for r in rows), {"tokens": n_tokens, "distinct_words": n_distinct,
                                         "anagram_groups": len(rows)}


def read_lines(out_dir):
    lines = []
    for p in sorted(glob.glob(f"{out_dir}/part-*")):
        with open(p) as fh:
            lines.extend(fh.read().splitlines())
    return sorted(lines)


def compare_query(tables_dir, result_dir, sql):
    """None when the parquet result under `result_dir` equals `sql` run by
    DuckDB over the tables, by the program's own correctness gate
    (`tools/selfcheck.py`), else the first difference found.
    """
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for p in glob.glob(f"{tables_dir}/*.parquet"):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    if not glob.glob(f"{result_dir}/*.parquet"):
        return "no parquet written"
    return selfcheck.cmp_frames(con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df(),
                                con.sql(sql).df())
