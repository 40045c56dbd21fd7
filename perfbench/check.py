"""Output checks against references independent of the engine.

* movie_etl — the sink outputs of the last pass are compared with the
  generator's planted facts, and the facts with the e1_movie_pipeline
  DuckDB SQL run over the generated files.
* text_dedup — each catalog entry's output (the rows the last untraced
  pass collected) is compared with its ``SparkEntry.oracleSql`` run in
  DuckDB over the same table, the way the repo's oracle gate
  (tools/check_oracle.py) compares them: sorted column names, row count,
  then values positionally by ``repr``. The counts traced passes record for
  an entry (``<q>.rows``, or ``<q>.<column>`` of a one-row result) are
  compared with the oracle's result too.

Each function returns a list of (check name, ok, detail).
"""
import glob
import hashlib
import os
import re

import duckdb


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def movie_etl(res, facts, data, run):
    con = duckdb.connect()
    sink = os.path.join(run, "sink")
    out = []

    def expect(name, got, want):
        out.append((name, got == want, f"got {got!r}, want {want!r}"))

    values = facts["rating_values"]
    per = dict(con.sql(f"SELECT rating, COUNT(*) FROM {_pq(sink + '/ratings')}"
                       " GROUP BY rating").fetchall())
    expect("ratings.rows", sum(per.values()), facts["n_ratings"])
    expect("ratings.per_value", [per.get(v, 0) for v in values],
           facts["ratings_per_value"])

    n_movies, n_cols = con.sql(
        f"SELECT COUNT(*), (SELECT COUNT(*) FROM (DESCRIBE SELECT * FROM "
        f"{_pq(sink + '/movies')})) FROM {_pq(sink + '/movies')}").fetchone()
    expect("movies.rows", n_movies, facts["n_movies"])
    expect("movies.columns", n_cols, 31)

    cols = ", ".join(f'CAST(SUM("rating_{v}") AS BIGINT)' for v in values)
    row = con.sql(f"SELECT COUNT(*), CAST(SUM(vote_count) AS BIGINT), {cols} "
                  f"FROM {_pq(sink + '/movies_ratings')}").fetchone()
    expect("movies_ratings.rows", row[0], facts["n_movies"])
    expect("movies_ratings.sum_vote_count", row[1], facts["sum_vote_count"])
    expect("movies_ratings.per_value", list(row[2:]),
           facts["movies_ratings_per_value"])

    expect("derby.rows", int(res["check_counts"].get("derby_rows", -1)),
           facts["n_movies"])
    # traced passes re-compose the pipeline: their own counts must match too
    for i, c in enumerate(res["traced_counts"]):
        def got(k):
            return int(c.get(k, -1))
        expect(f"traced_pass{i}.movies_out", got("transform.movies_out"),
               facts["n_movies"])
        expect(f"traced_pass{i}.ratings_rows", got("ratings.rows"),
               facts["n_ratings"])
        expect(f"traced_pass{i}.movies_ratings_rows",
               got("movies_ratings.rows"), facts["n_movies"])
        expect(f"traced_pass{i}.movies_ratings_per_value",
               [got(f"movies_ratings.rating_{float(v)}") for v in values],
               facts["movies_ratings_per_value"])

    # the catalog's e1 oracle, pointed at the generated files
    sql = res["oracles"]["e1_movie_pipeline"]
    for name in ("wikipedia.movies.json", "movies_metadata.csv",
                 "ratings.csv"):
        sql = re.sub(r"'[^']*/" + re.escape(name) + "'",
                     "'" + os.path.join(data, name) + "'", sql)
    # With the real data's ~193 sparse keys, DuckDB's JSON sniffer would
    # infer each record as one MAP column (keys seen in <10% of records);
    # a zero appearance threshold keeps one column per key, as the
    # oracle's column references expect.
    sql = re.sub(r"read_json_auto\(('[^']*')\)",
                 r"read_json_auto(\1, field_appearance_threshold=0)", sql)
    got = con.sql(sql).df().iloc[0].to_dict()
    want = {"n_movies": facts["n_movies"],
            "sum_vote_count": facts["sum_vote_count"],
            "sum_rating_5": facts["movies_ratings_per_value"][-1],
            "sum_rating_05": facts["movies_ratings_per_value"][0],
            "n_movie_cols": 31, "n_rating_cols": 10,
            "n_ratings": facts["n_ratings"]}
    for k, v in want.items():
        expect(f"e1_oracle.{k}", int(got[k]), v)
    return out


def _oracle(con, sql, content, cache):
    """The oracle's result, computed once per (SQL, table content): seeds
    only reorder the rows, so every seed of a size shares it."""
    import pandas as pd
    key = hashlib.sha1((content + sql).encode()).hexdigest()[:20]
    path = os.path.join(cache, f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    exp = con.sql(sql).df()
    os.makedirs(cache, exist_ok=True)
    exp.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def catalog(res, data, content, check_dir, cache):
    import pandas as pd
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{data}/documents.parquet')")
    out = []
    for q, sql in sorted(res["oracles"].items()):
        files = glob.glob(os.path.join(check_dir, q, "*.parquet"))
        if not files:
            out.append((q, False, "no output written"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        try:
            exp = _oracle(con, sql, content, cache)
        except Exception as e:  # noqa: BLE001 — reported as a failed check
            out.append((q, False, f"oracle error: {e}"))
            continue
        g = got[sorted(got.columns)].reset_index(drop=True)
        e = exp[sorted(exp.columns)].reset_index(drop=True)
        if list(g.columns) != list(e.columns):
            out.append((q, False, f"columns {list(g.columns)} vs "
                                  f"{list(e.columns)}"))
            continue
        if len(g) != len(e):
            out.append((q, False, f"rows {len(g)} vs {len(e)}"))
            continue
        bad = None
        for c in g.columns:
            gs = g[c].map(repr).tolist()
            es = e[c].map(repr).tolist()
            if gs != es:
                i = next(i for i, (x, y) in enumerate(zip(gs, es)) if x != y)
                bad = f"column {c} row {i}: {gs[i]} vs {es[i]}"
                break
        out.append((q, bad is None, bad or "ok"))
        for i, c in enumerate(res["traced_counts"]):
            for k, v in sorted(c.items()):
                if not k.startswith(q + "."):
                    continue
                name = k[len(q) + 1:]
                want = len(e) if name == "rows" else int(e[name].iloc[0])
                out.append((f"traced_pass{i}.{k}", int(v) == want,
                            f"got {int(v)}, want {want}"))
    return out
