"""Seeded inputs and their oracle answers.

The query workloads read fixture tables (copies of the tables
TESTDATA.md describes, in perfbench/fixtures) through a seeded row
permutation: every table keeps its rows, types, codec and
single-row-group layout, only their order changes. The multiset is the
same for every seed, so the DuckDB oracle's answers are too; they are
computed once per (fixture content, oracle SQL) and cached in the build
directory. They come from DuckDB running the query's oracle SQL, never
from Spark's output.
"""
import hashlib
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def seeded_tables(base, seed, work):
    """Writes (once) the seed's permutation of every table under `work`
    and returns its directory. Only the newest other seed is kept."""
    out = work / f"{base.name}-seed{seed}"
    done = out / "done"
    if not done.exists():
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        rng = np.random.default_rng(seed)
        tables = sorted(base.glob("*.parquet"))
        for f in tables:
            table = pq.read_table(f)
            perm = rng.permutation(table.num_rows)
            pq.write_table(table.take(perm), out / f.name,
                           row_group_size=max(1, table.num_rows), compression="snappy")
        done.write_text(_digest(tables))
    old = sorted((d for d in work.glob(f"{base.name}-seed*") if d != out),
                 key=lambda d: d.stat().st_mtime)
    for d in old[:-1]:
        shutil.rmtree(d, ignore_errors=True)
    out.touch()
    return out


def oracle_answers(data, names, sql, cache):
    """DuckDB answers for `names` on the tables in `data`, keyed by the
    fixture digest recorded with the tables and each query's SQL."""
    import duckdb
    digest = (data / "done").read_text()
    con = None
    answers = {}
    for n in names:
        key = hashlib.sha256(f"{digest}\n{sql[n]}".encode()).hexdigest()[:20]
        path = cache / f"{n}-{key}.pkl"
        if not path.exists():
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 2")
                for f in sorted(data.glob("*.parquet")):
                    con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
            cache.mkdir(parents=True, exist_ok=True)
            tmp = path.with_suffix(".tmp")
            # pickled as DuckDB's own DataFrame, so the comparison sees
            # exactly the dtypes the repository's gate compares against
            con.execute(sql[n]).df().to_pickle(tmp)
            tmp.rename(path)
        answers[n] = pd.read_pickle(path)
    return answers


def compare(spark_df, duck_df):
    """Value comparison of one result against its oracle answer, as the
    repository's correctness gate does it: columns matched by name, rows
    by position. Returns None when equal, else the first difference."""
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        return f"columns differ: {list(s.columns)} vs oracle {list(d.columns)}"
    if len(s) != len(d):
        return f"{len(s)} rows vs oracle {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        try:
            eq = np.asarray((a.values == b.values) | (pd.isna(a.values) & pd.isna(b.values)),
                            dtype=bool)
            if eq.shape != (len(a),):
                raise ValueError("no elementwise comparison")
        except Exception:
            eq = a.astype(str).values == b.astype(str).values
        if not eq.all():
            i = int((~eq).nonzero()[0][0])
            return f"column {c} row {i}: {a.iloc[i]!r} vs oracle {b.iloc[i]!r}"
    return None


def read_result(path):
    files = sorted(Path(path).glob("*.parquet"))
    if not files:
        return None
    return pq.read_table(files[0]).to_pandas()
