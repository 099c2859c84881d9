"""Seeded inputs for every workload: occurrence points, append batches, the
serving request sequence and the driver tables.

Everything is a pure function of the seed (numpy ``default_rng``), so the
same seed writes byte-identical parquet and the same request list.  The
program under test only ever sees these generated inputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FINLAND = (19.083, 59.454, 31.587, 70.092)
HOTSPOT = (24.94, 60.17)        # FIXTURES.md §1: Helsinki
HOT_SHARE = 0.2                 # FIXTURES.md §1: every 5th row
HOT_HALF = 0.2                  # hotspot points lie within 0.2° of it
SPECIES = ["Parus major", "Lutra lutra", "Pteromys volans", "Bufo bufo",
           "Alces alces", "Larus fuscus", "Sterna paradisaea", "Rana temporaria"]
SPECIES_P = np.array([0.3, 0.2, 0.15, 0.1, 0.1, 0.07, 0.05, 0.03])
DATE0 = dt.date(2000, 1, 1)
N_DAYS = 25 * 365

# serving request types; the per-unit counts are serve_append.UNIT_MIX
PAGE_TYPES = ("bbox_page", "filtered_page", "keyset_page", "sortby_keyset_page",
              "tm35fin_page", "intersects_page", "large_page")
LOOKUP_TYPES = ("hits_all", "hits_bbox", "get_feature")
REPEAT_SHARE = 1 / 3            # page requests that repeat an earlier page
ABSENT_SHARE = 0.1              # GETs whose id is not in the store
RECENT_SHARE = 0.5              # serve_append GETs aimed at appended ids


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per purpose, so adding one input never shifts
    another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def points_table(seed: int, n: int, id_base: int = 0,
                 stream: str = "points") -> pa.Table:
    """``n`` occurrence points: a share inside the Helsinki hotspot, the
    rest uniform over Finland; an id string, a collection date and a
    categorical species.  Ids are ``P`` + 9 digits from ``id_base`` on, in
    a shuffled order so id order does not follow location."""
    r = rng_for(seed, f"{stream}:{id_base}")
    hot = r.random(n) < HOT_SHARE
    x0, y0, x1, y1 = FINLAND
    lon = np.where(hot, HOTSPOT[0] + r.uniform(-HOT_HALF, HOT_HALF, n),
                   r.uniform(x0, x1, n))
    lat = np.where(hot, HOTSPOT[1] + r.uniform(-HOT_HALF, HOT_HALF, n),
                   r.uniform(y0, y1, n))
    days = r.integers(0, N_DAYS, n)
    species = np.array(SPECIES, dtype=object)[r.choice(len(SPECIES), n, p=SPECIES_P)]
    ids = np.array([f"P{i:09d}" for i in id_base + r.permutation(n)], dtype=object)
    dates = (np.datetime64(DATE0.isoformat()) + days.astype("timedelta64[D]"))
    return pa.table({
        "image_id": pa.array(ids, pa.string()),
        "lon": pa.array(lon, pa.float64()),
        "lat": pa.array(lat, pa.float64()),
        "Keruu_aloitus_pvm": pa.array(dates, pa.date32()),
        "species": pa.array(species, pa.string()),
    })


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # several row groups so Spark splits the scan across cores
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // 8),
                   compression="zstd")
    return path


# ----------------------------------------------------------------- requests

def _bbox(r: np.random.Generator, hot: bool) -> tuple[float, float, float, float]:
    if hot:
        w, h = r.uniform(0.05, 0.25), r.uniform(0.03, 0.15)
        cx = HOTSPOT[0] + r.uniform(-0.15, 0.15)
        cy = HOTSPOT[1] + r.uniform(-0.15, 0.15)
    else:
        w, h = r.uniform(0.5, 2.5), r.uniform(0.3, 1.5)
        cx = r.uniform(FINLAND[0] + 1.5, FINLAND[2] - 1.5)
        cy = r.uniform(FINLAND[1] + 1.0, FINLAND[3] - 1.0)
    return (round(cx - w / 2, 6), round(cy - h / 2, 6),
            round(cx + w / 2, 6), round(cy + h / 2, 6))


def _tm35fin_bbox(r: np.random.Generator, hot: bool):
    """A metric EPSG:3067 rectangle (easting/northing)."""
    if hot:  # Helsinki is near E 385 000, N 6 672 000
        e, n, w = r.uniform(370e3, 400e3), r.uniform(6660e3, 6685e3), r.uniform(5e3, 15e3)
    else:
        e, n, w = r.uniform(250e3, 650e3), r.uniform(6750e3, 7500e3), r.uniform(30e3, 90e3)
    return (round(e, 1), round(n, 1), round(e + w, 1), round(n + w * 0.8, 1))


def polygon_ring(r: np.random.Generator, hot: bool) -> list[list[float]]:
    """A simple star-shaped ring (closed), radius varying per vertex."""
    cx, cy = (HOTSPOT[0] + r.uniform(-0.1, 0.1), HOTSPOT[1] + r.uniform(-0.1, 0.1)) \
        if hot else (r.uniform(21.0, 29.5), r.uniform(61.0, 68.5))
    rad = 0.12 if hot else 1.0
    k = 9
    ang = np.sort(r.uniform(0, 2 * np.pi, k))
    rr = rad * r.uniform(0.4, 1.0, k)
    ring = [[round(cx + a * np.cos(t), 6), round(cy + a * np.sin(t) * 0.6, 6)]
            for a, t in zip(rr, ang)]
    return ring + [ring[0]]


def polygon_wkb(ring) -> bytes:
    """Little-endian WKB Polygon with one ring, written here so the
    benchmark does not rely on the program's encoder."""
    out = bytearray(struct.pack("<BII", 1, 3, 1))
    out += struct.pack("<I", len(ring))
    for x, y in ring:
        out += struct.pack("<2d", x, y)
    return bytes(out)


def _date_range(r: np.random.Generator) -> str:
    a = int(r.integers(0, N_DAYS - 400))
    b = a + int(r.integers(90, 3 * 365))
    d = lambda k: (DATE0 + dt.timedelta(days=min(k, N_DAYS - 1))).isoformat()  # noqa: E731
    return f"{d(a)}/{d(b)}"


def requests(seed: int, ids_sorted: list[str], mix: dict[str, int],
             stream: str = "requests", pool: list[dict] = ()) -> list[dict]:
    """The requests of ``mix`` (type -> count), shuffled by the seed.
    ``round(REPEAT_SHARE * pages)`` of the page requests, at slots the seed
    picks, exactly repeat an earlier page of their type (popular map views):
    one from ``pool`` (pages already served) or from earlier in this list;
    a slot with no earlier page of its type gets a new request.  Half of
    each type's new bboxes fall in the hotspot, and a tenth of the GETs ask
    for an id that does not exist."""
    r = rng_for(seed, stream)
    kinds = [k for k, c in mix.items() for _ in range(c)]
    r.shuffle(kinds)
    page_slots = [i for i, k in enumerate(kinds) if k in PAGE_TYPES]
    n_repeat = round(REPEAT_SHARE * len(page_slots))
    repeat_at = set(r.choice(page_slots, n_repeat, replace=False).tolist())
    seen: dict[str, list[dict]] = {}
    for q in pool:
        seen.setdefault(q["type"], []).append(q)
    fresh: dict[str, int] = {}
    out: list[dict] = []
    n = len(ids_sorted)
    for i, kind in enumerate(kinds):
        earlier = seen.get(kind, [])
        if i in repeat_at and earlier:
            out.append({**earlier[int(r.integers(0, len(earlier)))], "repeat": True})
            continue
        # alternate per type, so half of each type's new requests aim at
        # the hotspot whatever the seed
        fresh[kind] = fresh.get(kind, 0) + 1
        hot = fresh[kind] % 2 == 1
        q: dict = {"type": kind, "repeat": False}
        if kind in ("bbox_page", "hits_bbox"):
            q["bbox"] = _bbox(r, hot)
        elif kind == "filtered_page":
            q["bbox"] = _bbox(r, hot)
            q["datetime"] = _date_range(r)
            q["species"] = SPECIES[int(r.integers(0, 4))]
        elif kind == "keyset_page":
            q["after_id"] = ids_sorted[int(r.integers(n // 2, n - 200))]
        elif kind == "sortby_keyset_page":
            q["bbox"] = _bbox(r, True)
            q["after_days"] = int(r.integers(N_DAYS // 4, 3 * N_DAYS // 4))
            q["after_id"] = ids_sorted[int(r.integers(0, n))]
        elif kind == "tm35fin_page":
            q["bbox"] = _tm35fin_bbox(r, hot)
        elif kind == "intersects_page":
            q["ring"] = polygon_ring(r, hot)
        elif kind == "large_page":
            q["bbox"] = _bbox(r, False)
        elif kind == "get_feature":
            if r.random() < ABSENT_SHARE:
                q["id"] = f"X{int(r.integers(0, 10**9)):09d}"
            else:
                q["id"] = ids_sorted[int(r.integers(0, n))]
        q["limit"] = 1000 if kind == "large_page" else 100
        out.append(q)
        if kind in PAGE_TYPES:
            seen.setdefault(kind, []).append(q)
    return out


def after_values(q: dict) -> list:
    return [(DATE0 + dt.timedelta(days=q["after_days"])).isoformat()]


# ------------------------------------------------------------- driver tables

_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
          "small", "slow", "merge", "order", "vector", "line", "table", "data",
          "agg", "value", "key", "stream", "window", "a", "spark", "part",
          "group", "big", "sort", "query", "fast", "the"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]


def driver_tables(seed: int, sf: float, out_dir: str) -> str:
    """The driver's star schema + events/documents/embeddings at scale
    factor ``sf`` with the column types and value domains of the driver's
    own tables (TESTDATA.md), drawn from ``seed``.  One parquet file per
    table under ``out_dir``."""
    r = rng_for(seed, "driver")
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l, n_e = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_d = int(50_000 * sf)
    ts = lambda d: pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))  # noqa: E731
    day = lambda lo, span, k: (np.datetime64(lo)  # noqa: E731
                               + r.integers(0, span, k).astype("timedelta64[D]"))
    money = lambda lo, hi, k: np.round(r.uniform(lo, hi, k), 2)  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_c),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                      "MACHINERY"])[r.integers(0, 5, n_c)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_s)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                       zip(r.integers(0, 8, n_p), r.integers(0, 8, n_p))],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_p)],
            "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
                                "MEDIUM"])[r.integers(0, 6, n_p)],
            "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)}),
    }
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_o)],
        "o_totalprice": money(1000.0, 500000.0, n_o),
        "o_orderdate": ts(day("1995-01-01", 2400, n_o)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[r.integers(0, 5, n_o)]})
    qty = r.integers(1, 51, n_l).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": np.round(r.integers(0, 11, n_l) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_l) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_l)],
        "l_shipdate": ts(day("1995-01-02", 2500, n_l))})
    gaps = r.exponential(259.0, n_e)
    ev_ts = np.datetime64("2024-01-01T00:00:00") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": ts(ev_ts),
        "user_id": pa.array(r.integers(0, max(2, int(15_000 * sf)), n_e), pa.int64()),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[r.integers(0, 5, n_e)],
        "value": np.round(r.exponential(50.0, n_e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_e)]})
    texts = [" ".join(np.array(_WORDS)[r.integers(0, len(_WORDS), int(k))])
             for k in r.integers(10, 100, n_d)]
    for i in r.permutation(n_d)[:n_d // 20]:  # exactly 5 % near-duplicates
        texts[i] = texts[int(r.integers(0, n_d))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "es", "zh", "de", "fr"])[r.integers(0, 7, n_d)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = r.integers(0, 10, n_d)
    centers = r.normal(0, 1, (10, 64))
    vec = centers[labels] * 0.15 + r.normal(0, 1, (n_d, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_d), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        # one row group per table, like the driver's own files
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    return out_dir
