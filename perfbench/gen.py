"""Seeded input generators for the benchmark workloads.

- ``write_star_tables``: the ten star-schema/corpus tables the query
  registry reads (``{dir}/{name}.parquet``), with the column types, value
  ranges and row-count scaling of the repository's sf0.001/sf0.01/sf0.1
  test tables (TESTDATA.md) (uniform TPC-H-ish keys, a 30-word text corpus with 5% planted
  " dup" copies, unit-norm 64-d embeddings).
- ``feature_collection``: a USGS-style GeoJSON FeatureCollection for the
  Medallion refresh, plus the count of distinct event ids that pass the
  bronze→silver validity predicate (the gold fact's expected row count).

The same seed gives the same tables and a byte-identical document.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("large", "hot", "blue", "red", "small", "cold", "green", "shiny")
PART_NOUN = ("ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _days(start: str, n_days: int, size: int, rng: np.random.Generator):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # 5% planted near-duplicates: another doc's text plus one extra token
    dups = rng.choice(n, size=n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d, src in zip(dups, rng.choice(originals, size=len(dups))):
        texts[d] = texts[src] + " dup"
    return texts


def write_star_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten registry tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    i32 = np.int32

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=i32) % 5,
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in rng.integers(0, 8, (n_part, 2))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, n_ord, rng),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", 2499, n_line, rng),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_emb).astype(i32),
    })


# ---------------------------------------------------------------- GeoJSON

COUNTRIES = (
    "Japan", "Indonesia", "Chile", "Peru", "Mexico", "Alaska", "California",
    "Philippines", "Papua New Guinea", "Fiji", "Tonga", "Vanuatu",
    "New Zealand", "Greece", "Turkey", "Iran", "Italy", "China", "Taiwan",
    "Russia", "Argentina", "Ecuador", "Colombia", "Guatemala", "Nicaragua",
    "El Salvador", "Costa Rica", "Panama", "Puerto Rico", "Haiti", "Nepal",
    "India", "Pakistan", "Afghanistan", "Tajikistan", "Kyrgyzstan",
    "Solomon Islands", "Samoa", "Iceland", "Portugal", "Algeria", "Morocco",
    "Ethiopia", "Kenya", "Tanzania",
)
TOWNS = (
    "Hualien", "Ofunato", "Sola", "Lata", "Isangel", "Neiafu", "Kokopo",
    "Pagan", "Calama", "Ica", "Pinotepa", "Ridgecrest", "Adak", "Sand Point",
    "Kirakira", "Bitung", "Tobelo", "Abepura", "Gisborne", "Rafina",
)
BARE_PLACES = (
    "Mid-Atlantic Ridge", "South Sandwich Islands region",
    "central East Pacific Rise", "Kermadec Islands region",
)
DIRECTIONS = ("N", "NNE", "NE", "E", "SE", "S", "SW", "W", "NW", "WNW", "ESE")
# epoch ms of 2025-01-01T00:00:00Z: a fixed window, never "now"
WINDOW_START_MS = 1_735_689_600_000
DAY_MS = 86_400_000


def _place(r: random.Random) -> str:
    if r.random() < 0.03:
        return r.choice(BARE_PLACES)
    return (
        f"{r.randint(1, 250)} km {r.choice(DIRECTIONS)} of "
        f"{r.choice(TOWNS)}, {r.choice(COUNTRIES)}"
    )


def is_valid(props: dict, coords: list) -> bool:
    """Mirror of pipeline.bronze_to_silver.validity_condition."""
    lon, lat, depth = coords
    mag = props["mag"]
    return (
        props["time"] is not None
        and mag is not None and -2.0 <= mag <= 10.0
        and lat is not None and -90.0 <= lat <= 90.0
        and lon is not None and -180.0 <= lon <= 180.0
        and depth is not None and 0.0 <= depth < 1000.0
    )


_FAULTS = (
    ("mag", None), ("mag", 11.5), ("lat", 95.0), ("lon", -190.0),
    ("depth", -3.0), ("depth", 1200.0), ("time", None),
)


def _feature(r: random.Random, eid: str, invalid: bool) -> dict:
    t = WINDOW_START_MS + r.randrange(365 * DAY_MS)
    mag = round(min(2.5 + r.expovariate(1 / 0.45), 9.1), 2)
    lon = round(r.uniform(-180.0, 180.0), 4)
    lat = round(r.uniform(-70.0, 70.0), 4)
    depth = round(min(r.expovariate(1 / 35.0), 700.0), 2)
    place = _place(r)
    props = {
        "mag": mag,
        "place": place,
        "time": t,
        "updated": t + r.randrange(60_000, 3 * DAY_MS),
        "tz": None,
        "url": f"https://earthquake.usgs.gov/earthquakes/eventpage/{eid}",
        "felt": r.randrange(0, 500) if r.random() < 0.2 else None,
        "cdi": round(r.uniform(1, 8), 1) if r.random() < 0.2 else None,
        "mmi": round(r.uniform(1, 9), 3) if r.random() < 0.1 else None,
        "alert": r.choice(("green", "yellow", "orange", "red")) if r.random() < 0.05 else None,
        "status": "reviewed" if r.random() < 0.8 else "automatic",
        "tsunami": 1 if r.random() < 0.015 else 0,
        "sig": int(mag * 100) + r.randrange(0, 50),
        "net": r.choice(("us", "ak", "ci", "nc", "hv", "pr")),
        "code": eid[2:],
        "nst": r.randrange(5, 300) if r.random() < 0.7 else None,
        "dmin": round(r.uniform(0.0, 20.0), 3),
        "rms": round(r.uniform(0.1, 1.5), 2),
        "gap": round(r.uniform(10.0, 300.0), 1),
        "magType": r.choice(("mb", "ml", "md", "mww", "mwr")),
        "type": r.choices(("earthquake", "quarry blast", "explosion"), (95, 3, 2))[0],
        "title": f"M {mag} - {place}",
        "ids": f",{eid},",
        "types": ",origin,phase-data,",
    }
    coords = [lon, lat, depth]
    if invalid:
        field, value = r.choice(_FAULTS)
        if field in ("mag", "time"):
            props[field] = value
        else:
            coords[("lon", "lat", "depth").index(field)] = value
    return {
        "type": "Feature",
        "properties": props,
        "geometry": {"type": "Point", "coordinates": coords},
        "id": eid,
    }


def feature_collection(n: int, seed: int) -> tuple[dict, int]:
    """``n`` features over 365 days; returns (document, distinct valid ids).

    About 5% of the features re-report an earlier id with a later
    ``updated`` (exercises dedup_latest_update), about 2% fail the validity
    predicate and about 1.5% carry ``tsunami=1``.
    """
    r = random.Random(seed)
    features: list[dict] = []
    valid_ids: set[str] = set()
    for i in range(n):
        invalid = r.random() < 0.02
        if features and r.random() < 0.05:
            prev = features[r.randrange(len(features))]
            f = _feature(r, prev["id"], invalid)
            p, q = f["properties"], prev["properties"]
            p["time"] = q["time"] if p["time"] is not None else None
            p["updated"] = q["updated"] + r.randrange(60_000, 7 * DAY_MS)
        else:
            f = _feature(r, f"bk{seed % 1000:03d}{i:07d}", invalid)
        features.append(f)
        if is_valid(f["properties"], f["geometry"]["coordinates"]):
            valid_ids.add(f["id"])
    last_ms = WINDOW_START_MS + 365 * DAY_MS
    doc = {
        "type": "FeatureCollection",
        "metadata": {
            "generated": last_ms,
            "url": "https://earthquake.usgs.gov/fdsnws/event/1/query",
            "title": "USGS Earthquakes",
            "status": 200,
            "api": "1.14.1",
            "limit": n,
            "count": n,
            "generatedAt": dt.datetime.fromtimestamp(last_ms / 1000, dt.timezone.utc).isoformat(),
        },
        "features": features,
    }
    return doc, len(valid_ids)
