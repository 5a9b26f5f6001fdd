"""Seeded input generators. Every input the program sees is made here
from the seed alone: the same seed gives byte-identical files.

Each generator writes into a directory and returns a small manifest of
what it made (counts the output checks use)."""
import csv
import io
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word list of the harness `documents` table (sf0.1).
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()

# Workload sizes. `warmup` sizes feed the untimed warm-up executions on
# another seed, which only have to touch the same code paths (a
# full-size warm-up was measured to leave the first timed iteration just
# as slow, so it buys nothing); a workload without them runs no warm-up.
# The two workloads in BENCHMARK.json are sized so that their runs fit
# the check's time budget on 4 cores (see README.md);
# corpus_release, corpus_stream and query_mix are sized for `--report`.
SIZES = {
    "weather_daily": {"run": dict(days=3, per_day=500, cities=150),
                      "warmup": dict(days=2, per_day=50, cities=20)},
    "corpus_release": {"run": dict(docs=500), "warmup": dict(docs=40)},
    "corpus_stream": {"run": dict(batches=40, per_batch=10), "warmup": dict(batches=2, per_batch=10)},
    "query_mix": {"run": dict(orders=10000, docs=1000, events=10000),
                  "warmup": dict(orders=300, docs=60, events=300)},
    "corpus_release_stream_query": {
        "run": dict(release=dict(docs=200), ingest=dict(batches=4, per_batch=10),
                    queries=dict(orders=1000, docs=30, events=1000))},
}

DESCRIPTIONS = ["clear sky", "few clouds", "scattered clouds", "broken clouds",
                "shower rain", "rain", "thunderstorm", "snow", "mist"]
TIMEZONES = [-14400, -18000, -21600, -25200, -28800]
_SYL_A = ["ash", "bel", "cor", "dun", "el", "fair", "glen", "har", "iver", "jun", "kel",
          "lin", "mar", "nor", "oak", "pem", "quin", "ros", "stan", "tor", "ux", "val",
          "wes", "yar", "zel"]
_SYL_B = ["ford", "ton", "ville", "field", "burg", "port", "dale", "wood", "mont", "view",
          "haven", "ridge", "brook", "land", "crest", "mouth", "stead", "gate"]
STATES = ["Alabama", "Texas", "Ohio", "Oregon", "Nevada", "Utah", "Maine", "Iowa",
          "Kansas", "Idaho", "Georgia", "Vermont"]


def _city_names(rng, n):
    names = [(a + b).capitalize() for a in _SYL_A for b in _SYL_B]
    names += [f"{x} {y}" for x in ("North", "South", "East", "West", "New", "Port")
              for y in names[:200]]
    rng.shuffle(names)
    assert n <= len(names)
    return names[:n]


def _payload(rng, city, day, i):
    k = lambda lo, hi: round(rng.uniform(lo, hi), 2)
    dt = 1742203868 + day * 86400 + i * 7 + rng.randrange(7)
    rise = dt - dt % 86400 + 40000 + rng.randrange(3600)
    return {
        "coord": {"lon": round(rng.uniform(-120, -70), 4), "lat": round(rng.uniform(25, 48), 4)},
        "weather": [{"id": 800 + rng.randrange(4), "main": "Clear",
                     "description": rng.choice(DESCRIPTIONS), "icon": "01n"}],
        "base": "stations",
        "main": {"temp": k(260, 310), "feels_like": k(255, 312), "temp_min": k(250, 300),
                 "temp_max": k(270, 315), "pressure": rng.randrange(990, 1040),
                 "humidity": rng.randrange(10, 100), "sea_level": rng.randrange(990, 1040),
                 "grnd_level": rng.randrange(980, 1030)},
        "visibility": 10000,
        "wind": {"speed": k(0, 20), "deg": rng.randrange(360)},
        "clouds": {"all": rng.randrange(100)},
        "dt": dt,
        "sys": {"type": 1, "id": rng.randrange(1, 3000000), "country": "US",
                "sunrise": rise, "sunset": rise + 43000 + rng.randrange(3600)},
        "timezone": rng.choice(TIMEZONES),
        "id": rng.randrange(1, 9000000),
        "name": city,
        "cod": 200,
    }


def weather(seed, out, days, per_day, cities):
    """One JSON-lines file of OpenWeatherMap payloads per day and the city
    lookup CSV (UTF-8 BOM, mis-cased header). About 10% of payload cities
    are absent from the lookup."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    names = _city_names(rng, cities + max(2, cities // 9))
    known, missing = names[:cities], names[cities:]
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["city", "state", "census_2020", "land_Area_sq_mile_2020"])
    for c in known:
        w.writerow([c, rng.choice(STATES), rng.randrange(5000, 3000000),
                    round(rng.uniform(5, 700), 1)])
    with open(os.path.join(out, "us_cities.csv"), "w", encoding="utf-8", newline="") as f:
        f.write("﻿" + buf.getvalue())
    for d in range(days):
        with open(os.path.join(out, f"day_{d:03d}.jsonl"), "w") as f:
            for i in range(per_day):
                city = rng.choice(missing) if rng.random() < 0.1 else rng.choice(known)
                f.write(json.dumps(_payload(rng, city, d, i), separators=(",", ":")) + "\n")
    return {"days": days, "per_day": per_day, "cities": cities}


def _text(rng, lo=20, hi=90):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def _email(rng):
    return f"{rng.choice(['ann', 'bob', 'cy', 'dee', 'eve'])}{rng.randrange(10**6)}@example.com"


def _near(rng, text):
    toks = text.split()
    for _ in range(max(1, len(toks) // 40)):
        toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
    return " ".join(toks)


def corpus_texts(rng, n, n_sources=20):
    """(text, source) pairs with set shares of the cases the pipeline
    decides: exact duplicates (15%), PII-only re-crawls (5%), near
    duplicates (10%), eval-source (src0) overlap (5%), low-quality
    repetition (3%); the rest are fresh documents."""
    rows, texts, evals = [], [], []
    for i in range(n):
        src = f"src{rng.randrange(n_sources)}"
        r = rng.random()
        if texts and r < 0.15:
            text = rng.choice(texts)
        elif texts and r < 0.20:
            page = _text(rng) + " contact "
            rows.append((page + _email(rng), src))
            text = page + _email(rng)
            src = f"src{rng.randrange(n_sources)}"
        elif texts and r < 0.30:
            text = _near(rng, rng.choice(texts))
        elif r < 0.35:
            text = _text(rng)
            if evals:
                toks = rng.choice(evals).split()
                k = rng.randrange(max(1, len(toks) - 8))
                text += " " + " ".join(toks[k:k + 8])
        elif r < 0.38:
            text = " ".join([rng.choice(VOCAB)] * rng.randint(10, 30))
        else:
            text = _text(rng)
        rows.append((text, src))
        texts.append(text)
        if src == "src0":
            evals.append(text)
    return rows[:n]


def corpus(seed, out, docs):
    """documents.parquet: (doc_id, text, lang, source, n_chars)."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    rows = corpus_texts(rng, docs)
    langs = ["en", "de", "fr", "es", "zh"]
    ids = list(range(docs))
    rng.shuffle(ids)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [t for t, _ in rows],
        "lang": [rng.choice(langs) for _ in rows],
        "source": [s for _, s in rows],
        "n_chars": pa.array([len(t) for t, _ in rows], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return {"docs": docs}


def stream(seed, out, batches, per_batch):
    """A landing directory of `batches` JSON-lines files (doc_id, text),
    one micro-batch each. A share of each batch re-crawls documents of
    earlier batches (same text, or the same page with another session
    e-mail), and some documents repeat inside a batch."""
    rng = random.Random(seed)
    land = os.path.join(out, "landing")
    os.makedirs(land, exist_ok=True)
    seen, next_id, t0 = [], 1, 1_700_000_000
    for b in range(batches):
        lines = []
        for _ in range(per_batch):
            r = rng.random()
            if seen and r < 0.20:
                text = rng.choice(seen)
            elif seen and r < 0.30:
                base = rng.choice(seen)
                text = (base.rsplit(" ", 1)[0] + " " + _email(rng)) if "@" in base else base
            elif lines and r < 0.35:
                text = rng.choice(lines)["text"]
            elif r < 0.50:
                text = _text(rng, 8, 30) + " contact " + _email(rng)
            else:
                text = _text(rng, 8, 30)
            lines.append({"doc_id": next_id, "text": text})
            next_id += 1
        rng.shuffle(lines)
        seen.extend(x["text"] for x in lines)
        p = os.path.join(land, f"part_{b:04d}.json")
        with open(p, "w") as f:
            f.writelines(json.dumps(x, separators=(",", ":")) + "\n" for x in lines)
        # the file source admits files in modification-time order
        os.utime(p, (t0 + b, t0 + b))
    return {"batches": batches, "per_batch": per_batch}


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(seed, out, orders, docs, events):
    """The harness tables the query mix reads, in the harness schemas:
    region, nation, customer, supplier, part, orders, lineitem, events,
    documents."""
    rng = random.Random(seed)
    g = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = max(50, orders // 10), max(10, orders // 150), max(40, orders // 7)
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION{i:02d}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(g.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], n_cust).tolist()})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(np.arange(n_supp) % 25, pa.int32()),
        "s_acctbal": pa.array(np.round(g.uniform(-999, 9999, n_supp), 2))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": [f"Brand#{1 + i % 5}{1 + i % 7}" for i in range(n_part)],
        "p_type": g.choice(["STANDARD BRASS", "SMALL STEEL", "LARGE TIN", "PROMO COPPER"],
                           n_part).tolist(),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(g.uniform(900, 2000, n_part), 2))})
    base = np.datetime64("1995-01-01T00:00:00", "us")
    odate = base + g.integers(0, 2400, orders) * np.timedelta64(86400, "s")
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(1, orders + 1), pa.int64()),
        "o_custkey": pa.array(g.integers(1, n_cust + 1, orders), pa.int64()),
        "o_orderstatus": g.choice(["F", "O", "P"], orders).tolist(),
        "o_totalprice": pa.array(np.round(g.uniform(800, 500000, orders), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], orders).tolist()})
    per = g.integers(1, 8, orders)
    lok = np.repeat(np.arange(1, orders + 1), per)
    n_li = len(lok)
    starts = np.cumsum(per) - per
    lnum = np.arange(n_li) - np.repeat(starts, per) + 1
    qty = g.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(g.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * g.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(np.round(g.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(g.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": g.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": g.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(np.repeat(odate, per)
                               + g.integers(1, 122, n_li) * np.timedelta64(86400, "s"),
                               pa.timestamp("us"))})
    ev0 = np.datetime64("2024-01-01T00:00:00", "us")
    ets = np.sort(ev0 + g.integers(0, 30 * 86400 * 10**6, events) * np.timedelta64(1, "us"))
    _write(out, "events", {
        "event_id": pa.array(np.arange(events), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(g.integers(1, n_cust + 1, events), pa.int64()),
        "event_type": g.choice(["click", "error", "purchase", "signup", "view"], events).tolist(),
        "value": pa.array(np.round(g.uniform(0, 200, events), 2)),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, events)]})
    rows = corpus_texts(rng, docs)
    _write(out, "documents", {
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": [t for t, _ in rows],
        "lang": [rng.choice(["en", "de", "fr", "es", "zh"]) for _ in rows],
        "source": [s for _, s in rows],
        "n_chars": pa.array([len(t) for t, _ in rows], pa.int64())})
    return {"orders": orders, "lineitem": int(n_li), "docs": docs, "events": events}


def release_stream_tables(seed, out, release, ingest, queries):
    """The inputs of corpus_release, corpus_stream and query_mix, in the
    subdirectories release/, stream/ and tables/."""
    return {"release": corpus(seed, os.path.join(out, "release"), **release),
            "stream": stream(seed, os.path.join(out, "stream"), **ingest),
            "tables": tables(seed, os.path.join(out, "tables"), **queries)}


GENERATORS = {"weather_daily": weather, "corpus_release": corpus,
              "corpus_stream": stream, "query_mix": tables,
              "corpus_release_stream_query": release_stream_tables}


def generate(workload, seed, out, kind="run"):
    """Make `workload`'s inputs for `seed` under `out`."""
    return GENERATORS[workload](seed, out, **SIZES[workload][kind])
