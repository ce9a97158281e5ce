#!/usr/bin/env python3
"""Compares the seeded query_mix tables with a directory of the repository's
test tables (the same ten parquet tables at the same scale factor):

    python3 perfbench/profile_tables.py <test tables dir> <its scale factor> [seed ...]

For the test tables and for the seeded tables at the same scale factor (seeds
default to 1 2 3) it prints
the statistics the generator's recipe is fitted to, then, per query_mix
query, the rows returned and a warm traced run's Spark jobs, wall, task CPU,
driver time outside jobs and shuffle bytes (perfbench.TableProfile, one JVM
per table set). perfbench/METRICS.md records one such comparison.
"""
import os
import shutil
import subprocess
import sys

import duckdb

import run
import tables

STATS = {
    "rows": "SELECT {rows}",
    "doc_words_p25_p50_p75": "SELECT quantile_disc(len(string_split(text, ' ')), [0.25, 0.5, 0.75]) FROM documents",
    "doc_vocab": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "doc_near_dups": "SELECT count(*) FROM documents WHERE text LIKE '% dup'",
    "doc_exact_dups": "SELECT count(*) - count(DISTINCT text) FROM documents",
    "doc_lang_en": "SELECT round(avg((lang = 'en')::int), 3) FROM documents",
    "lines_per_order_max": "SELECT max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey)",
    "orders_with_lines": "SELECT count(DISTINCT l_orderkey) FROM lineitem",
    "event_users": "SELECT count(DISTINCT user_id) FROM events",
    "event_value_p50": "SELECT round(median(value), 1) FROM events",
    "embedding_dim": "SELECT max(len(embedding)) FROM embeddings",
}


def stats(d):
    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    counts = " || ' ' || ".join(f"(SELECT count(*) FROM {t})" for t in tables.TABLES)
    return {k: con.execute(sql.format(rows=counts)).fetchone()[0] for k, sql in STATS.items()}


def profile(classpath, d, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.run(run.java_cmd(classpath, work) + ["perfbench.TableProfile", d, work], cwd=run.ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return [ln.split(" ", 1)[1] for ln in p.stdout.splitlines() if ln.startswith("profile ")]


def main():
    ref, sf = os.path.abspath(sys.argv[1]), float(sys.argv[2])
    seeds = [int(s) for s in sys.argv[3:]] or [1, 2, 3]
    classpath, _ = run.build()
    work = os.path.join(run.BUILD, "work", f"profile-{os.getpid()}")
    sets = [("test tables", ref)] + [(f"seed {s}", os.path.join(work, f"tables-{s}")) for s in seeds]
    try:
        for s in seeds:
            tables.generate(os.path.join(work, f"tables-{s}"), s, sf)
        for name, d in sets:
            print(f"== {name}: {d}")
            for k, v in stats(d).items():
                print(f"  {k} {v}")
            for ln in profile(classpath, d, os.path.join(work, "jvm")):
                print(f"  {ln}")
            shutil.rmtree(os.path.join(work, "jvm"), ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
