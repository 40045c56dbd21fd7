"""Seeded, deterministic input generators for the benchmark workloads.

Two families:

* ``movie_inputs`` — paper-shaped inputs for the movie ETL: a Wikipedia
  JSON array (~190 union keys), a Kaggle metadata CSV (24 columns) and a
  MovieLens-style ratings CSV, at a stated fraction of the reference's
  7,311 / 45,454 / 26,024,289 records (``MOVIE_SIZES``). The quirks
  the pipeline must survive are planted on purpose: polymorphic string/list
  fields, "Release date" next to "Release Date", TV rows, records without a
  director or link, duplicate imdb ids on both sides, JSON-literal strings
  with doubled quotes, adult flags, column-shifted rows, zero budgets. The
  generator also returns the facts the ETL output must reproduce (row
  counts, per-rating-value totals, merged-movie count).

* ``documents_table`` — the harness ``documents`` table the text dedup
  entries read, with its sf0.1 schema. Content is a fixed function of the
  size; ``seed`` only permutes the row order, so every seed yields the same
  relation in a different order.

Everything is written under a caller-chosen cache directory, keyed by
(kind, size, seed), and reused when its manifest is intact.
"""
import csv
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RATING_VALUES = [0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0]
# MovieLens-like weights: mean ≈ 3.5, every value present
RATING_WEIGHTS = [0.01, 0.03, 0.02, 0.07, 0.05, 0.20, 0.12, 0.26, 0.09, 0.15]

PAPER_RATINGS = 26_024_289

# Input sizes; ``ratings`` is the row count of ratings.csv. "tiny" is the
# smoke-test size. "bench" is what fits the benchmark's run length on a 4-core host: a
# tenth of the reference's wiki and kaggle sides and 1% of its ratings
# (one pass of the paper-sized inputs takes ~30 s there, most of it
# re-reading wiki and kaggle for each sink).
MOVIE_SIZES = {
    "bench": {"ratings": PAPER_RATINGS // 100, "wiki": 7_311 // 10,
              "kaggle": 45_454 // 10},
    "tiny": {"ratings": 20_000, "wiki": 400, "kaggle": 2_000},
}
# rows of the harness ``documents`` table: sf0.1's 5,000, so gram work, not
# per-job scheduling, is most of a text_dedup pass
DOCUMENTS = {"bench": 5_000, "tiny": 200}
# content seed of the documents; the run seed only reorders rows
DOCUMENTS_CONTENT_SEED = 42


def _cache_dir(cache, kind, size, seed):
    """Cache key: kind, size, seed and this generator's own source, so a
    change to the generator never reuses stale inputs."""
    with open(__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:10]
    return os.path.join(cache, f"{kind}-{size}-{seed}-{version}")


def _manifest_ok(d):
    """True when ``d`` holds a complete generator output: every file listed
    in its manifest exists with the recorded size."""
    try:
        with open(os.path.join(d, "manifest.json")) as f:
            man = json.load(f)
        return all(os.path.getsize(os.path.join(d, p)) == n
                   for p, n in man["files"].items())
    except (OSError, ValueError, KeyError):
        return False


def _write_manifest(d, files, facts):
    man = {"files": {p: os.path.getsize(os.path.join(d, p)) for p in files},
           "facts": facts}
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    return man


def load_manifest(d):
    with open(os.path.join(d, "manifest.json")) as f:
        return json.load(f)


def _fresh(d):
    if os.path.exists(d):
        shutil.rmtree(d)
    tmp = d + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    return tmp


# --------------------------------------------------------------------------
# movie ETL inputs
# --------------------------------------------------------------------------

_FIRST = ["Ann", "Bob", "Cid", "Dee", "Eve", "Fay", "Gus", "Hal", "Ida",
          "Jon", "Kim", "Lou", "Max", "Ned", "Ora", "Pat", "Quin", "Ray"]
_LAST = ["Smith", "Jones", "Brown", "Lee", "Khan", "Garcia", "Novak",
         "Rossi", "Silva", "Tanaka", "Weber", "Young"]
_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
_ALT_KEYS = ["Also known as", "Arabic", "Cantonese", "Chinese", "French",
             "Hangul", "Hebrew", "Hepburn", "Japanese", "Literally",
             "Mandarin", "McCune–Reischauer", "Original title", "Polish",
             "Revised Romanization", "Romanized", "Russian", "Simplified",
             "Traditional", "Yiddish"]
# (canonical, synonyms) — a record uses one spelling, chosen at random
_CREDIT_KEYS = [
    ("Directed by", ["Director"]),
    ("Produced by", ["Producer", "Producer(s)"]),
    ("Written by", ["Screenplay by", "Story by", "Screen story by",
                    "Adaptation by"]),
    ("Music by", ["Theme music composer"]),
    ("Edited by", []),
    ("Distributed by", []),
    ("Productioncompany ", ["Productioncompanies "]),
    ("Cinematography", []),
    ("Starring", []),
    ("Based on", []),
    ("Country", ["Country of origin"]),
    ("Language", []),
]
_RELEASE_KEYS = ["Release date", "Release date", "Release date",
                 "Release Date", "Released", "Original release"]
# sparse scraped keys: the long tail of the real data's 193-key union,
# each present on a few records so the <90%-null pruning has victims
_SPARSE_KEYS = ["Narrated by", "Recorded", "Genre", "Label", "Producer",
                "Venue", "Animation by", "Color process", "Layouts by",
                "Original network", "No. of seasons", "Executive producer(s)",
                "Camera setup", "Running time (minutes)", "Format",
                "Created by", "Developed by", "Voices of", "Picture format",
                "Audio format", "Production location(s)", "Screen play by",
                "Lyrics by", "Choreography by", "Costume design",
                "Production design", "Art direction", "Sound", "Story",
                "Dialogue by", "Characters", "Studio", "Recorded at"] + [
                    f"Infobox field {i}" for i in range(130)]


def _person(rng):
    return f"{_FIRST[rng.integers(len(_FIRST))]} {_LAST[rng.integers(len(_LAST))]}"


def _people(rng, n_max):
    n = int(rng.integers(1, n_max + 1))
    ps = [_person(rng) for _ in range(n)]
    return ps[0] if n == 1 and rng.random() < 0.6 else ps


def _money(rng):
    v = int(rng.integers(1, 400))
    forms = [f"${v} million", f"${v / 100:.1f} billion",
             f"${v * 1_000_003:,}", f"${v}–{v + 5} million",
             f"${v} million[{int(rng.integers(1, 9))}]", "N/A"]
    return forms[int(rng.choice(len(forms),
                                p=[0.55, 0.05, 0.15, 0.08, 0.12, 0.05]))]


def _release(rng, year):
    m = _MONTHS[int(rng.integers(12))]
    d = int(rng.integers(10, 29))
    forms = [f"{m} {d}, {year}", f"{year}-{rng.integers(1, 13):02d}-{d}",
             f"{m} {year}", f"{year}",
             [f"{m} {d}, {year}", "(", f"{year}-07-{d}", ")"]]
    return forms[int(rng.choice(len(forms), p=[0.45, 0.1, 0.1, 0.05, 0.3]))]


def _running(rng):
    n = int(rng.integers(70, 200))
    forms = [f"{n} minutes", f"{n // 60} hour {n % 60} minutes",
             f"{n // 60} h {n % 60} m", f"{n} m", "unknown"]
    return forms[int(rng.choice(len(forms), p=[0.8, 0.06, 0.04, 0.05, 0.05]))]


def _json_literal(rng, kind):
    if kind == "genres":
        names = ["Drama", "Comedy", "Thriller", "Romance", "Action"]
        k = int(rng.integers(1, 3))
        return json.dumps([{"id": int(rng.integers(1, 99)),
                            "name": names[int(rng.integers(5))]}
                           for _ in range(k)])
    if kind == "companies":
        return json.dumps([{"name": f"Studio {rng.integers(1, 300)}",
                            "id": int(rng.integers(1, 9999))}])
    if kind == "countries":
        return json.dumps([{"iso_3166_1": "US",
                            "name": "United States of America"}])
    return json.dumps([{"iso_639_1": "en", "name": "English"}])


KAGGLE_HEADER = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview",
    "popularity", "poster_path", "production_companies",
    "production_countries", "release_date", "revenue", "runtime",
    "spoken_languages", "status", "tagline", "title", "video",
    "vote_average", "vote_count"]


def movie_inputs(cache, size, seed):
    """Generate (or reuse) the movie ETL inputs for (size, seed). Returns
    (directory, manifest) — the manifest's ``facts`` are the planted
    expected outputs."""
    d = _cache_dir(cache, "movie", size, seed)
    if _manifest_ok(d):
        return d, load_manifest(d)
    tmp = _fresh(d)
    n = MOVIE_SIZES[size]
    rng = np.random.default_rng([seed, 1])

    # ---- kaggle ---------------------------------------------------------
    n_k = n["kaggle"]
    kaggle_ids = rng.choice(np.arange(2, 470_000), size=n_k, replace=False)
    imdb_nums = rng.choice(np.arange(1_000_000, 9_000_000), size=n_k,
                           replace=False)
    imdb = [f"tt{x:07d}" for x in imdb_nums]
    # duplicate imdb ids on the kaggle side (the real file carries ~30)
    n_dup_k = max(2, n_k // 1500)
    for i in range(n_dup_k):
        imdb[n_k - 1 - i] = imdb[i]
    adult = np.array(["False"] * n_k, dtype=object)
    n_true = max(1, n_k // 5000)
    adult[rng.choice(n_k, size=n_true, replace=False)] = "True"
    # one shifted row sits inside the first rows so DuckDB's CSV sniffer
    # (the reference side of the check) types `adult` as text
    shifted = {int(rng.integers(1, min(n_k, 1000)))} | set(
        int(x) for x in rng.choice(n_k, size=2, replace=False))
    vote_count = rng.integers(0, 5000, size=n_k)
    rows = []
    for i in range(n_k):
        year = int(rng.integers(1915, 2018))
        budget = 0 if rng.random() < 0.3 else int(rng.integers(1, 300)) * 100_000
        revenue = 0 if rng.random() < 0.4 else int(rng.integers(1, 900)) * 250_000
        runtime = 0 if rng.random() < 0.03 else int(rng.integers(60, 200))
        no_imdb = rng.random() < 0.003
        row = [adult[i],
               "" if rng.random() < 0.9 else json.dumps(
                   {"id": int(rng.integers(1, 9999)), "name": "Collection"}),
               str(budget), _json_literal(rng, "genres"),
               "" if rng.random() < 0.8 else f"http://example.org/{i}",
               str(int(kaggle_ids[i])), "" if no_imdb else imdb[i],
               "en" if rng.random() < 0.7 else "fr",
               f"Original \"title\" {i}" if i % 97 == 0 else f"Original {i}",
               f"Overview of movie {i}, with \"quotes\" and commas.",
               f"{rng.random() * 50:.6f}", f"/p{i}.jpg",
               _json_literal(rng, "companies"),
               _json_literal(rng, "countries"),
               f"{year}-{rng.integers(1, 13):02d}-{rng.integers(1, 29):02d}",
               str(revenue), str(runtime), _json_literal(rng, "languages"),
               "Released", "" if rng.random() < 0.5 else f"Tagline {i}",
               f"Movie {i}", "False", f"{rng.integers(0, 100) / 10:.1f}",
               str(int(vote_count[i]))]
        if i in shifted:
            # the real file's column-shifted rows: overview text lands in
            # `adult`, so the adult filter is what keeps them out
            row = ["- Written by " + _person(rng)] + row[1:]
        rows.append(row)
    kaggle_path = os.path.join(tmp, "movies_metadata.csv")
    with open(kaggle_path, "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, doublequote=True)
        w.writerow(KAGGLE_HEADER)
        w.writerows(rows)

    # ---- wiki -----------------------------------------------------------
    n_w = n["wiki"]
    clean_k = [i for i in range(n_k) if adult[i] == "False"
               and i not in shifted and rows[i][6] != ""]
    records = []
    for j in range(n_w):
        year = int(rng.integers(1990, 2019))
        r = {"url": f"https://en.wikipedia.org/wiki/Film_{j}", "year": year,
             "title": f"Film {j}"}
        u = rng.random()
        if u < 0.86:      # matches a kaggle movie
            imdb_id = rows[clean_k[int(rng.integers(len(clean_k)))]][6]
        elif u < 0.88 and j > 0:  # duplicate wiki scrape of an earlier record
            imdb_id = records[int(rng.integers(j))].get("imdb_link",
                                                       "")[27:36] or None
        else:             # no kaggle counterpart
            imdb_id = f"tt{9_000_000 + j:07d}"
        if imdb_id and rng.random() > 0.01:
            r["imdb_link"] = f"https://www.imdb.com/title/{imdb_id}/"
        for canon, syns in _CREDIT_KEYS:
            p = 0.98 if canon == "Directed by" else 0.7
            if rng.random() < p:
                key = canon if not syns or rng.random() < 0.85 else \
                    syns[int(rng.integers(len(syns)))]
                if canon in ("Country", "Language"):
                    r[key] = "United States" if canon == "Country" else "English"
                else:
                    r[key] = _people(rng, 3)
        if rng.random() < 0.8:
            r["Box office"] = _money(rng)
        if rng.random() < 0.75:
            r["Budget"] = _money(rng)
        if rng.random() < 0.9:
            r[_RELEASE_KEYS[int(rng.integers(len(_RELEASE_KEYS)))]] = \
                _release(rng, year)
        if rng.random() < 0.9:
            r["Length" if rng.random() < 0.03 else "Running time"] = \
                _running(rng)
        if rng.random() < 0.05:
            k = _ALT_KEYS[int(rng.integers(len(_ALT_KEYS)))]
            r[k] = f"Alt {j}"
        if rng.random() < 0.03:      # TV series — filtered out
            r["No. of episodes"] = int(rng.integers(6, 100))
        for _ in range(int(rng.integers(0, 3))):
            r[_SPARSE_KEYS[int(rng.integers(len(_SPARSE_KEYS)))]] = \
                _people(rng, 2)
        records.append(r)
    wiki_path = os.path.join(tmp, "wikipedia.movies.json")
    with open(wiki_path, "w") as f:
        json.dump(records, f, indent=1, ensure_ascii=False)

    # ---- ratings --------------------------------------------------------
    n_r = n["ratings"]
    # movieId pool: most kaggle ids plus MovieLens-only ids; popularity
    # skewed so a few movies carry many ratings
    pool = np.concatenate([
        rng.choice(kaggle_ids, size=int(n_k * 0.7), replace=False),
        np.arange(470_000, 470_000 + max(10, n_k // 4))])
    rng.shuffle(pool)
    pop = 1.0 / np.arange(1, len(pool) + 1) ** 0.9
    movie_ids = pool[rng.choice(len(pool), size=n_r, p=pop / pop.sum())]
    rating_idx = rng.choice(10, size=n_r, p=RATING_WEIGHTS)
    users = rng.integers(1, max(2, n_r // 96), size=n_r)
    ts = rng.integers(789_652_009, 1_501_829_870, size=n_r)
    labels = np.array([f"{v:.1f}" for v in RATING_VALUES], dtype=object)
    ratings_path = os.path.join(tmp, "ratings.csv")
    _write_ratings_csv(ratings_path, users, movie_ids, labels[rating_idx], ts)

    # ---- planted facts (what the ETL must reproduce) --------------------
    per_value = np.bincount(rating_idx, minlength=10)
    # wiki records the F1 filter keeps, by imdb id (with multiplicity)
    kept = {}
    for r in records:
        has_dir = "Directed by" in r or "Director" in r
        if has_dir and "imdb_link" in r and "No. of episodes" not in r:
            key = r["imdb_link"][27:36]
            kept[key] = kept.get(key, 0) + 1
    merged_ids, merged_votes = [], 0
    for i in range(n_k):
        if adult[i] == "False" and i not in shifted and rows[i][6] in kept:
            m = kept[rows[i][6]]
            merged_ids.extend([int(kaggle_ids[i])] * m)
            merged_votes += m * int(vote_count[i])
    merged_ids = np.array(merged_ids, dtype=np.int64)
    # per-(movie, rating value) counts for the merged movies
    order = np.argsort(movie_ids, kind="stable")
    sm, sr = movie_ids[order], rating_idx[order]
    lo = np.searchsorted(sm, merged_ids, side="left")
    hi = np.searchsorted(sm, merged_ids, side="right")
    merged_per_value = np.zeros(10, dtype=np.int64)
    for a, b in zip(lo, hi):
        if b > a:
            merged_per_value += np.bincount(sr[a:b], minlength=10)
    facts = {
        "n_ratings": int(n_r),
        "ratings_per_value": [int(x) for x in per_value],
        "n_movies": int(len(merged_ids)),
        "sum_vote_count": int(merged_votes),
        "movies_ratings_per_value": [int(x) for x in merged_per_value],
        "n_wiki": n_w, "n_kaggle": n_k,
        "rating_values": RATING_VALUES,
    }
    files = ["wikipedia.movies.json", "movies_metadata.csv", "ratings.csv"]
    _write_manifest(tmp, files, facts)
    os.rename(tmp, d)
    return d, load_manifest(d)


def _write_ratings_csv(path, users, movies, ratings, ts):
    import pyarrow.csv as pacsv
    tbl = pa.table({"userId": pa.array(users, pa.int64()),
                    "movieId": pa.array(movies, pa.int64()),
                    "rating": pa.array(ratings, pa.string()),
                    "timestamp": pa.array(ts, pa.int64())})
    pacsv.write_csv(tbl, path, pacsv.WriteOptions(
        include_header=True, quoting_style="none"))


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------

_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window"]


def _documents(nd, rng):
    """Random-word documents over a 30-word vocabulary. About 5% are
    near-duplicates (an earlier document plus a marker word) and a handful
    are exact copies; a copy keeps its original's lang and source, so the
    dedup operators, which compare documents within one (lang, source),
    find real clusters."""
    vocab = np.array(_VOCAB, dtype=object)
    langs = np.array(["en", "de", "fr", "es", "zh"], dtype=object)
    lang = langs[rng.choice(5, nd, p=[0.42, 0.145, 0.145, 0.145, 0.145])]
    source = np.array([f"src{i % 20}" for i in range(nd)], dtype=object)
    texts = []
    for i in range(nd):
        u = rng.random()
        if i > 10 and u < 0.052:
            j = int(rng.integers(i))
            texts.append(texts[j] + (" dup" if u < 0.05 else ""))
            lang[i], source[i] = lang[j], source[j]
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": source,
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def documents_table(cache, size, seed):
    """Write (or reuse) the ``documents`` table for (size, seed): the fixed
    content in a seed-chosen row order, one single-row-group parquet file,
    as the harness tables are laid out."""
    d = _cache_dir(cache, "documents", size, seed)
    if _manifest_ok(d):
        return d, load_manifest(d)
    tmp = _fresh(d)
    tbl = _documents(DOCUMENTS[size],
                     np.random.default_rng(DOCUMENTS_CONTENT_SEED))
    perm = np.random.default_rng([seed, 2]).permutation(tbl.num_rows)
    pq.write_table(tbl.take(pa.array(perm)),
                   os.path.join(tmp, "documents.parquet"),
                   row_group_size=tbl.num_rows)
    # the same for every seed: the row order is not part of the content
    content = hashlib.sha1(tbl.to_pandas().to_csv().encode()).hexdigest()
    _write_manifest(tmp, ["documents.parquet"],
                    {"rows": tbl.num_rows, "content": content})
    os.rename(tmp, d)
    return d, load_manifest(d)
