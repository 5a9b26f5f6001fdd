"""Untimed output checks. Each check reads what the program wrote and
compares it with an answer computed here, independently of the program,
from the generated inputs. A check returns (name, ok, detail)."""
import csv
import datetime as dt
import glob
import hashlib
import json
import os
import re
from collections import Counter

import duckdb

_EPOCH = dt.datetime(1970, 1, 1)
_EMAIL = re.compile(r"\S+@example\.com")


def _f(kelvin):
    return round((kelvin - 273.15) * 9.0 / 5.0 + 32.0, 3)


def _ts(seconds):
    return _EPOCH + dt.timedelta(seconds=seconds)


def _multiset_equal(xs, ys):
    """Multiset equality of row tuples, doubles compared to 9 places (the
    program and this oracle each round Fahrenheit values from the same
    doubles)."""
    a, b = Counter(_rounded(xs)), Counter(_rounded(ys))
    if a == b:
        return True, f"{len(xs)} rows"
    return False, (f"rows {len(xs)} vs {len(ys)}; only in output {list((a - b).elements())[:2]}; "
                   f"only in oracle {list((b - a).elements())[:2]}")


def _rounded(rows):
    """Doubles rounded to 9 places so that multisets can be compared."""
    return [tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows]


# ---- weather_daily ----

WEATHER_COLS = ["city", "description", "temperature_fahrenheit", "feels_like_fahrenheit",
                "min_temperature_fahrenheit", "max_temperature_fahrenheit", "pressure",
                "humidity", "wind_speed", "time_of_record", "sunrise", "sunset"]
LOOKUP_COLS = ["state", "census_2020", "land_area_sq_mile_2020"]
EXPORT_COLS = WEATHER_COLS + LOOKUP_COLS
_TS_COLS = {"time_of_record", "sunrise", "sunset"}
_INT_COLS = {"pressure", "humidity", "census_2020"}
_STR_COLS = {"city", "description", "state"}


def flatten_payload(p):
    tz = p["timezone"]
    m = p["main"]
    return (p["name"], p["weather"][0]["description"], _f(m["temp"]), _f(m["feels_like"]),
            _f(m["temp_min"]), _f(m["temp_max"]), m["pressure"], m["humidity"],
            p["wind"]["speed"], _ts(p["dt"] + tz), _ts(p["sys"]["sunrise"] + tz),
            _ts(p["sys"]["sunset"] + tz))


def _parse_csv_value(col, v):
    if v == "":
        return None
    if col in _TS_COLS:
        return dt.datetime.fromisoformat(v.replace("Z", "+00:00")).astimezone(
            dt.timezone.utc).replace(tzinfo=None)
    if col in _INT_COLS:
        return int(v)
    if col in _STR_COLS:
        return v
    return float(v)


def read_export(path):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.csv"))):
        with open(f, newline="", encoding="utf-8") as h:
            r = csv.reader(h)
            header = next(r)
            idx = [header.index(c) for c in EXPORT_COLS]
            rows += [tuple(_parse_csv_value(c, row[i]) for c, i in zip(EXPORT_COLS, idx))
                     for row in r]
    return rows


def _pq(con, path, cols):
    return con.execute(
        f"SELECT {', '.join(cols)} FROM read_parquet('{path}/**/*.parquet')").fetchall()


def weather_daily(inputs, finish):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    payloads = []
    for f in sorted(glob.glob(os.path.join(inputs, "day_*.jsonl"))):
        with open(f) as h:
            payloads += [json.loads(x) for x in h]
    store = _pq(con, finish["weather_store"], WEATHER_COLS)
    ok1, d1 = _multiset_equal(store, [flatten_payload(p) for p in payloads])
    joined = con.execute(
        f"SELECT {', '.join('w.' + c for c in WEATHER_COLS)}, "
        f"{', '.join('l.' + c for c in LOOKUP_COLS)} "
        f"FROM read_parquet('{finish['weather_store']}/**/*.parquet') w "
        f"JOIN read_parquet('{finish['lookup_store']}/**/*.parquet') l ON w.city = l.city"
    ).fetchall()
    export = read_export(finish["export_csv"])
    ok2, d2 = _multiset_equal(export, joined)
    wh = con.execute(
        f"SELECT {', '.join(EXPORT_COLS)} FROM read_parquet('{finish['warehouse']}/**/*.parquet')"
    ).fetchall()
    distinct_export = set(_rounded(export))
    distinct_wh = set(_rounded(wh))
    ok3 = distinct_export == distinct_wh
    d3 = f"{len(distinct_wh)} distinct warehouse rows vs {len(distinct_export)} distinct export rows"
    checks = [("weather store equals the flattened payloads", ok1, d1),
              ("export equals a join of the stores as read back", ok2, d2),
              ("warehouse distinct rows equal the last export's", ok3, d3)]
    extra = {"store_amplification": len(wh) / max(1, len(distinct_export)),
             "warehouse_rows": len(wh), "distinct_joined_rows": len(distinct_export)}
    return checks, extra


# ---- corpus_release / corpus_stream ----

def fingerprint(text):
    """md5 of the whitespace-normalised lower-case text (the program's
    content fingerprint, restated)."""
    return hashlib.md5(" ".join(text.lower().split()).encode("utf-8")).hexdigest()


def split_of(text):
    b = int(fingerprint(text)[:8], 16) % 100
    return "train" if b < 90 else "val" if b < 95 else "test"


def corpus_release(inputs, finish):
    con = duckdb.connect()
    src = dict(con.execute(
        f"SELECT doc_id, source FROM read_parquet('{inputs}/documents.parquet')").fetchall())
    digests, checks = [], []
    for i, out in enumerate(finish["corpus_outputs"]):
        rows = con.execute(
            f"SELECT doc_id, text, split FROM read_parquet('{out}/**/*.parquet', "
            f"hive_partitioning = true) ORDER BY doc_id").fetchall()
        ids = [r[0] for r in rows]
        if i == 0:
            checks += [
                ("released doc_ids are unique and drawn from the input",
                 len(ids) == len(set(ids)) and all(d in src for d in ids), f"{len(ids)} docs"),
                ("no eval-source document survives",
                 all(src[d] != "src0" for d in ids if d in src), ""),
                ("splits are valid and follow the content hash",
                 all(s == split_of(t) for _, t, s in rows), ""),
                ("no two released documents share a fingerprint",
                 len({fingerprint(t) for _, t, _ in rows}) == len(rows), ""),
                ("the corpus is not empty", len(rows) > 0, "")]
        digests.append(hashlib.sha256(repr(rows).encode("utf-8")).hexdigest())
    checks.append(("the release digest is identical across the iterations",
                   len(set(digests)) == 1, f"{len(digests)} iterations, digest {digests[0][:16]}"))
    return checks, {"released_docs": len(ids), "input_docs": len(src), "release_digest": digests[0]}


def same_seed_digest(record, digest):
    """The release digest against the one recorded by an earlier run of the
    same seed and sources at `record`; the first such run records it."""
    name = "the release digest matches earlier runs of this seed"
    if os.path.isfile(record):
        with open(record) as f:
            first = f.read()
        return name, first == digest, f"{digest[:16]} vs recorded {first[:16]}"
    os.makedirs(os.path.dirname(record), exist_ok=True)
    with open(record, "w") as f:
        f.write(digest)
    return name, True, f"first run of this seed, recorded {digest[:16]}"


def scrub(text):
    """The generated documents carry one kind of identifier, an e-mail
    address; the scrub replaces each with its class tag."""
    return _EMAIL.sub("<EMAIL>", text)


def stream_oracle(landing):
    """First-batch, min-doc_id survivor per scrubbed fingerprint:
    (doc_id, scrubbed text, fingerprint, batch id) rows."""
    seen, out = set(), set()
    for b, f in enumerate(sorted(glob.glob(os.path.join(landing, "*.json")))):
        best = {}
        with open(f) as h:
            for line in h:
                d = json.loads(line)
                t = scrub(d["text"])
                fp = fingerprint(t)
                if fp in seen:
                    continue
                if fp not in best or d["doc_id"] < best[fp][0]:
                    best[fp] = (d["doc_id"], t)
        for fp, (i, t) in best.items():
            out.add((i, t, fp, b))
        seen |= set(best)
    return out


def corpus_stream(inputs, finish):
    con = duckdb.connect()
    store = set(con.execute(
        f"SELECT doc_id, text, fp, CAST(_batch_id AS BIGINT) FROM read_parquet("
        f"'{finish['stream_store']}/**/*.parquet', hive_partitioning = true)").fetchall())
    oracle = stream_oracle(os.path.join(inputs, "landing"))
    ok = store == oracle
    detail = f"{len(store)} stored vs {len(oracle)} expected"
    if not ok:
        detail += f"; missing {sorted(oracle - store)[:2]}, extra {sorted(store - oracle)[:2]}"
    return [("stream store equals the first-batch min-doc_id survivors", ok, detail)], \
        {"stored_docs": len(store)}


# ---- query_mix ----

def compare_frames(spark, oracle):
    """The harness's correctness rule: same rows and columns by name,
    equal values after sorting columns by name and rows by all columns."""
    s = spark.reindex(sorted(spark.columns), axis=1)
    o = oracle.reindex(sorted(oracle.columns), axis=1)
    if len(s) != len(o):
        return False, f"rows {len(s)} vs oracle {len(o)}"
    if list(s.columns) != list(o.columns):
        return False, f"columns {list(s.columns)} vs oracle {list(o.columns)}"
    ss = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    oo = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    try:
        if ss.equals(oo.astype(ss.dtypes.to_dict())):
            return True, f"{len(s)} rows"
    except Exception:
        pass
    for c in ss.columns:
        a, b = ss[c], oo[c]
        try:
            neq = ~(a.eq(b) | (a.isna() & b.isna()))
        except Exception:
            neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = int(neq.idxmax())
            return False, f"{c}[{i}]: {a[i]!r} vs oracle {b[i]!r}"
    return True, f"{len(s)} rows"


def query_mix(inputs, finish):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(inputs, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    checks = []
    for q, sql in finish["oracle_sql"].items():
        res = os.path.join(finish["query_results"], q)
        spark = con.execute(f"SELECT * FROM '{res}/*.parquet'").fetchdf()
        if not sql:
            checks.append((f"{q} has no oracle; rows > 0", len(spark) > 0, f"{len(spark)} rows"))
            continue
        try:
            ok, detail = compare_frames(spark, con.execute(sql).fetchdf())
        except Exception as e:
            ok, detail = False, f"oracle error: {str(e)[:200]}"
        checks.append((f"{q} matches its DuckDB oracle", ok and len(spark) > 0, detail))
    return checks, {}


def corpus_release_stream_query(inputs, finish):
    found, extra = [], {}
    for part, check in (("release", corpus_release), ("stream", corpus_stream),
                        ("tables", query_mix)):
        c, e = check(os.path.join(inputs, part), finish)
        found += c
        extra.update(e)
    return found, extra


CHECKS = {"weather_daily": weather_daily, "corpus_release": corpus_release,
          "corpus_stream": corpus_stream, "query_mix": query_mix,
          "corpus_release_stream_query": corpus_release_stream_query}
