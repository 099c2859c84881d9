"""Expected answers computed apart from the program: DuckDB over the
benchmark's own parquet for the serving requests, an even-odd ring test for
intersects pages, and the DuckDB oracle twin of each driver leaf."""

from __future__ import annotations

import json

import duckdb
import numpy as np
import pandas as pd

import gen


def even_odd(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Ray-casting even-odd containment of points in one closed ring."""
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
    return inside


class StoreReference:
    """The rows the store should hold (base batch plus every batch appended
    so far) and the answer each request should get."""

    def __init__(self):
        self.con = duckdb.connect()
        self.files: list[str] = []
        self._arrays = None

    def add(self, parquet_path: str) -> None:
        self.files.append(parquet_path)
        files = ", ".join(f"'{f}'" for f in self.files)
        self.con.execute(f"CREATE OR REPLACE VIEW pts AS SELECT * FROM read_parquet([{files}])")
        self._arrays = None

    def reset(self) -> None:
        self.files = []

    def rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM pts").fetchone()[0]

    def _ids(self, where: str, order: str, limit: int) -> list[str]:
        sql = f"SELECT image_id FROM pts WHERE {where} ORDER BY {order} LIMIT {limit}"
        return [r[0] for r in self.con.execute(sql).fetchall()]

    @staticmethod
    def _bbox_sql(b) -> str:
        return (f"lon >= {b[0]!r} AND lon <= {b[2]!r} "
                f"AND lat >= {b[1]!r} AND lat <= {b[3]!r}")

    def _points(self):
        if self._arrays is None:
            t = self.con.execute("SELECT image_id, lon, lat FROM pts").fetchnumpy()
            self._arrays = (np.asarray(t["image_id"], dtype=object),
                            np.asarray(t["lon"]), np.asarray(t["lat"]))
        return self._arrays

    def id_exists(self, ids: list[str]) -> bool:
        if not ids:
            return True
        got = self.con.execute("SELECT count(*) FROM pts WHERE image_id IN "
                               f"(SELECT unnest(?::VARCHAR[]))", [ids]).fetchone()[0]
        return got == len(ids)

    def expected(self, q: dict):
        """('ids', [...]) for pages and GETs, ('count', n) for hits, or
        ('invariants', None) for TM35FIN pages."""
        t, lim = q["type"], q["limit"]
        if t == "hits_all":
            return "count", self.rows()
        if t == "hits_bbox":
            return "count", self.con.execute(
                f"SELECT count(*) FROM pts WHERE {self._bbox_sql(q['bbox'])}").fetchone()[0]
        if t in ("bbox_page", "large_page"):
            return "ids", self._ids(self._bbox_sql(q["bbox"]), "image_id", lim)
        if t == "filtered_page":
            a, b = q["datetime"].split("/")
            where = (f"{self._bbox_sql(q['bbox'])} AND Keruu_aloitus_pvm >= DATE '{a}' "
                     f"AND Keruu_aloitus_pvm <= DATE '{b}' AND species = '{q['species']}'")
            return "ids", self._ids(where, "image_id", lim)
        if t == "keyset_page":
            return "ids", self._ids(f"image_id > '{q['after_id']}'", "image_id", lim)
        if t == "sortby_keyset_page":
            v = gen.after_values(q)[0]
            where = (f"{self._bbox_sql(q['bbox'])} AND (Keruu_aloitus_pvm < DATE '{v}' OR "
                     f"(Keruu_aloitus_pvm = DATE '{v}' AND image_id > '{q['after_id']}'))")
            return "ids", self._ids(where, "Keruu_aloitus_pvm DESC, image_id", lim)
        if t == "intersects_page":
            ids, lon, lat = self._points()
            ring = q["ring"]
            xs, ys = [p[0] for p in ring], [p[1] for p in ring]
            env = (lon >= min(xs)) & (lon <= max(xs)) & (lat >= min(ys)) & (lat <= max(ys))
            idx = np.nonzero(env)[0]
            hit = idx[even_odd(lon[idx], lat[idx], ring)]
            return "ids", sorted(ids[hit].tolist())[:lim]
        if t == "get_feature":
            return "ids", self._ids(f"image_id = '{q['id']}'", "image_id", 1)
        if t == "tm35fin_page":
            return "invariants", None
        raise ValueError(t)

    def verify(self, q: dict, response: str) -> bool:
        """True when the FeatureCollection string answers ``q`` correctly."""
        doc = json.loads(response)
        ids = [f["id"] for f in doc["features"]]
        if doc["numberReturned"] != len(ids):
            return False
        kind, want = self.expected(q)
        if kind == "count":
            return doc.get("numberMatched") == want and not ids
        if kind == "ids":
            return ids == want
        return (len(ids) <= q["limit"] and all(a < b for a, b in zip(ids, ids[1:]))
                and self.id_exists(ids))


def norm_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order- and column-order-insensitive form of a result frame."""
    pdf = pdf[sorted(pdf.columns, key=str.lower)].copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    for c in pdf.columns:
        pdf[c] = pdf[c].map(repr)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def same_result(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    if len(spark_pdf) != len(oracle_pdf):
        return False
    if sorted(map(str.lower, spark_pdf.columns)) != sorted(map(str.lower, oracle_pdf.columns)):
        return False
    return norm_frame(spark_pdf).equals(norm_frame(oracle_pdf))
