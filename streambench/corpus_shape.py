#!/usr/bin/env python3
"""Measure the input shape the benchmark's generators copy (Gen.scala).

    python3 streambench/corpus_shape.py <corpus dir>

Reads `events.parquet` and `documents.parquet` from a corpus directory
(the sf0.1 corpus was used) with DuckDB and prints the figures EventGen and
DocGen are built on: users and their skew, event types, the gap between
events, the value distribution, document lengths, vocabulary and term
frequencies, and the near-duplicate share.
"""
import sys

import duckdb


def show(con, title, sql):
    print("## " + title)
    con.sql(sql).show(max_rows=64)


def main():
    d = sys.argv[1]
    ev = "'%s/events.parquet'" % d
    docs = "'%s/documents.parquet'" % d
    con = duckdb.connect()
    show(con, "events: rows, users, events per user (min, median, max)",
         f"select sum(n) n_events, count(*) users, min(n), median(n), max(n) "
         f"from (select user_id, count(*) n from {ev} group by 1)")
    show(con, "events: types", f"select event_type, count(*) n from {ev} group by 1 order by n desc")
    show(con, "events: gap between consecutive events, ms (mean, quartiles)",
         f"select avg(g), quantile_cont(g, [0.25, 0.5, 0.75]) from "
         f"(select epoch_ms(ts) - lag(epoch_ms(ts)) over (order by event_id) g from {ev})")
    show(con, "events: value (mean, quartiles, max)",
         f"select avg(value), quantile_cont(value, [0.25, 0.5, 0.75]), max(value) from {ev}")
    show(con, "documents: rows, words per doc (min, quartiles, max)",
         f"select count(*), min(l), quantile_cont(l, [0.25, 0.5, 0.75]), max(l) "
         f"from (select len(string_split(text, ' ')) l from {docs})")
    show(con, "documents: vocabulary, by term frequency",
         f"select w, count(*) n from (select unnest(string_split(text, ' ')) w from {docs}) "
         f"group by 1 order by n desc")
    show(con, "documents: near-duplicates (an earlier doc plus the word 'dup')",
         f"select count(*) filter (where list_contains(string_split(text, ' '), 'dup')) dups, "
         f"count(*) docs from {docs}")


if __name__ == "__main__":
    main()
