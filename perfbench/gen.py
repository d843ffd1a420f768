"""Seeded input generators for the benchmark.

Every generator takes a `random.Random`/numpy seed and writes only the
inputs the program reads; the same seed gives byte-identical inputs.
Each returns a small dict describing what it planted, which the run
record carries and the output checks use.
"""
import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The catalog corpus' vocabulary shape: a small closed vocabulary of
# engine words plus stopwords, so the quality and DSIR stages see the
# same token statistics the catalog queries were written against.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en"] * 4 + ["zh", "es", "fr", "de"]
DIM = 64
# scaled copy of a vector: cosine exactly 1, so only the embedding lane
# can catch the reversed-text twin (the q150 convention)
TWIN_SCALE = 1.0009765625
FOOTER = "terms of use apply to all content"
ALIAS = " alias postscript marker"


def _text(rng, lo, hi, lean=None):
    """Random words; `lean` picks 70% of them from one half of the
    vocabulary (0 or 1), giving DSIR a real target/raw signal."""
    n = rng.randint(lo, hi)
    if lean is None:
        return " ".join(rng.choice(VOCAB) for _ in range(n))
    half = len(VOCAB) // 2
    own, other = (VOCAB[:half], VOCAB[half:]) if lean == 0 else (VOCAB[half:], VOCAB[:half])
    return " ".join(rng.choice(own if rng.random() < 0.7 else other) for _ in range(n))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------- lake

# Fixed shares, so every seed asks the same amount of work; the seed
# draws which movies carry each property and all values.
LAKE_SHARES = {"movies_per_day": [40, 50], "window_keep": 0.8, "details": 0.9,
               "imdb": 0.8, "omdb": 0.65, "omdb_false": 0.05, "imdb_na": 0.05}


def lake_raw(root, seed, days, start="2026-01-01"):
    """Raw zone in the JSON-lines envelope contract (tmdb popular page,
    tmdb details lines, one OMDb file per movie) for `days` snapshot
    days. The popularity window slides: each day keeps a seeded share of
    yesterday's ids and draws the rest fresh. Returns the per-day KPI
    rows the marts must produce, computed arithmetically."""
    rng = random.Random(seed)
    shares = LAKE_SHARES
    d0 = datetime.date.fromisoformat(start)
    next_id, ids = 1, []
    expected, day_bytes = {}, []
    nbytes = 0

    def put(path, text):
        nonlocal nbytes
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        nbytes += len(text.encode())

    for d in range(days):
        day = (d0 + datetime.timedelta(days=d)).isoformat()
        n = rng.randint(*shares["movies_per_day"])
        keep = [i for i in ids if rng.random() < shares["window_keep"]][:n]
        fresh = list(range(next_id, next_id + n - len(keep)))
        next_id += len(fresh)
        ids = sorted(keep + fresh)

        def meta(src, ep):
            return {"snapshot_date": day, "run_id": "bench",
                    "extracted_at_utc": f"{day}T00:00:00+00:00",
                    "source": src, "endpoint": ep}

        results, det_lines = [], []
        n_omdb = n_over = n_gem = 0
        for i in ids:
            pop = rng.randint(0, 99) + 0.5
            tmdb = rng.randint(10, 95) / 10
            results.append({"id": i, "title": f"M{i}",
                            "release_date": f"20{10 + i % 15}-01-0{1 + i % 9}",
                            "popularity": pop, "vote_average": tmdb,
                            "vote_count": rng.randint(1, 5000),
                            "original_language": "en", "genre_ids": [i % 20]})
            rating = None
            if rng.random() < shares["details"]:
                imdb = f"tt{i}" if rng.random() < shares["imdb"] else None
                det_lines.append(json.dumps({"_meta": meta("tmdb", "details"), "data": {
                    "id": i, "imdb_id": imdb, "title": f"M{i}", "release_date": "",
                    "runtime": 60 + i % 120, "status": "Released",
                    "original_language": "en", "genres": [{"id": 1, "name": "G"}],
                    "production_countries": [{"iso_3166_1": "US", "name": "US"}]}}))
                if imdb and rng.random() < shares["omdb"]:
                    ok = rng.random() >= shares["omdb_false"]
                    na = rng.random() < shares["imdb_na"]
                    r = "N/A" if na else f"{rng.randint(10, 95) / 10:.1f}"
                    put(f"{root}/omdb/ratings/date={day}/{imdb}.json", json.dumps(
                        {"_meta": meta("omdb", "ratings"), "data": {
                            "Response": "True" if ok else "False", "Title": f"M{i}",
                            "imdbRating": r, "imdbVotes": f"{i},000",
                            "Metascore": str(i % 100), "Rated": "PG", "Type": "movie",
                            "Year": "2020", "Country": "US", "Genre": "G",
                            "Director": "D", "Actors": "A", "Ratings": []}}))
                    if ok:
                        n_omdb += 1
                        rating = None if na else float(r)
            score = rating if rating is not None else tmdb
            n_over += pop >= 50 and score < 6.0
            n_gem += pop < 30 and score >= 7.5
        put(f"{root}/tmdb/popular/date={day}/popular.json", json.dumps(
            {"_meta": meta("tmdb", "popular"),
             "data": {"page": 1, "results": results}}) + "\n")
        put(f"{root}/tmdb/details/date={day}/details.json", "\n".join(det_lines) + "\n")
        expected[day] = [len(ids), n_omdb, n_over, n_gem]
        day_bytes.append(nbytes)
        nbytes = 0
    return {"dates": list(expected), "expected_kpi": expected,
            "day_bytes": day_bytes, "shares": shares}


# ------------------------------------------------------------- catalog

def catalog_tables(root, seed, sf):
    """The catalog's star schema plus `documents`/`embeddings` at scale
    factor `sf`, with the catalog testdata's column types and value
    domains (TPC-H-like keys, flags, decimal-exact prices)."""
    g = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{root}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{root}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.integers(-99999, 999999, n_cust) / 100, 2),
        "c_mktsegment": segs[g.integers(0, 5, n_cust)]}), f"{root}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.integers(-99999, 999999, n_supp) / 100, 2)}),
        f"{root}/supplier.parquet")
    price = np.round(900 + np.arange(n_part) % 1000 / 10, 2)
    adj = np.array(["small", "red", "large", "blue"])
    noun = np.array(["ring", "widget", "bolt", "gear"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[g.integers(0, 4, n_part)], " "),
                              noun[g.integers(0, 4, n_part)]),
        "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO"])[g.integers(0, 3, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price}), f"{root}/part.parquet")
    day0 = np.datetime64("1995-01-01")
    odate = day0 + g.integers(0, 2404, n_ord).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": np.round(g.integers(100000, 50000000, n_ord) / 100, 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[g.integers(0, 5, n_ord)]}),
        f"{root}/orders.parquet")
    per = g.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    n_li = len(okey)
    line = np.concatenate([np.arange(1, k + 1) for k in per]) if n_li else np.array([])
    pkey = g.integers(0, n_part, n_li)
    qty = g.integers(1, 51, n_li).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": g.integers(0, 11, n_li) / 100,
        "l_tax": g.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[g.integers(0, 2, n_li)],
        "l_shipdate": pa.array((odate[okey] + g.integers(1, 122, n_li)
                                .astype("timedelta64[D]")).astype("datetime64[us]"))}),
        f"{root}/lineitem.parquet")
    docs = documents(random.Random(seed), int(50_000 * sf))
    _write(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[1] for d in docs],
        "lang": [LANGS[i % len(LANGS)] for i, _ in enumerate(docs)],
        "source": [f"src{i % 20}" for i in range(len(docs))],
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64())}),
        f"{root}/documents.parquet")
    n_vec = int(20_000 * sf)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(g.normal(0, 0.1, (n_vec, DIM)).astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_vec), pa.int32())}),
        f"{root}/embeddings.parquet")
    return {"sf": sf, "documents": len(docs), "lineitem": n_li, "orders": n_ord}


def documents(rng, n, exact_dup_share=0.002):
    """Random engine-vocabulary documents, 8-95 words, with a small share
    of exact duplicate texts as scraped corpora carry."""
    out = []
    for i in range(n):
        if out and rng.random() < exact_dup_share:
            out.append((i, rng.choice(out)[1]))
        else:
            out.append((i, _text(rng, 8, 95)))
    return out


# -------------------------------------------------------------- curate

# Fixed planted shares (of each delta's fresh docs); half the fresh docs
# lean towards the DSIR target vocabulary, half towards the raw one.
CURATE_SHARES = {"exact_dup": 0.1, "near_dup": 0.07, "embed_twin": 0.05, "footer": 0.3,
                 "target_like": 0.5}


def _vec(g):
    return g.normal(0, 0.1, DIM).tolist()


def curate_inputs(root, seed, n_boot, n_deltas, delta_fresh):
    """Bootstrap corpus plus `n_deltas` daily deltas. Each delta holds
    fresh unseen docs and planted exact dups, alias near-dups and
    reversed-text embedding twins of earlier docs (state or the same
    delta); a fixed share of the fresh docs, chosen by the seed, carries
    one common footer (a hot token). Ids grow day over day, so the batch keeper of every
    planted cluster is the earlier doc. `aliases` lists, per delta, the
    [alias id, source id] pairs of the planted alias near-dups."""
    rng = random.Random(seed)
    g = np.random.default_rng(seed)
    shares = CURATE_SHARES
    # sources src0, src4, ... are the DSIR target distribution
    boot = [(i, _text(rng, 20, 95, lean=int(i % 20 % 4 != 0)), f"src{i % 20}", _vec(g))
            for i in range(n_boot)]
    _write(pa.table({"doc_id": pa.array([b[0] for b in boot], pa.int64()),
                     "text": [b[1] for b in boot],
                     "source": [b[2] for b in boot],
                     "v": pa.array([b[3] for b in boot], pa.list_(pa.float64()))}),
           f"{root}/bootstrap.parquet")
    seen = [(b[0], b[1], b[3]) for b in boot]
    text_bytes = [sum(len(b[1].encode()) for b in boot)]
    sizes, aliases = [], []
    for k in range(n_deltas):
        base = (k + 1) * 1_000_000
        rows = []
        for j in range(delta_fresh):
            t = _text(rng, 20, 95, lean=j % 2)
            if rng.random() < shares["footer"]:
                t = f"{t} {FOOTER}"
            rows.append((base + j, t, _vec(g)))
        pool = seen + rows
        nxt = base + delta_fresh
        aliases.append([])
        for share, kind in ((shares["exact_dup"], "dup"), (shares["near_dup"], "alias"),
                            (shares["embed_twin"], "twin")):
            for _ in range(round(share * delta_fresh)):
                src, t, v = rng.choice(pool)
                if kind == "dup":
                    rows.append((nxt, t, _vec(g)))
                elif kind == "alias":
                    rows.append((nxt, t + ALIAS, _vec(g)))
                    aliases[-1].append([nxt, src])
                else:
                    rows.append((nxt, " ".join(reversed(t.split())),
                                 [x * TWIN_SCALE for x in v]))
                nxt += 1
        _write(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                         "text": [r[1] for r in rows],
                         "v": pa.array([r[2] for r in rows], pa.list_(pa.float64()))}),
               f"{root}/delta_{k:03d}.parquet")
        seen += rows
        sizes.append(len(rows))
        text_bytes.append(sum(len(r[1].encode()) for r in rows))
    return {"bootstrap_docs": n_boot, "delta_docs": sizes, "aliases": aliases,
            "text_bytes": text_bytes, "shares": shares}
