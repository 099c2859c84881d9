"""The benchmark's own tests; no Spark needed.

    python3 perfbench/selftest.py        (or: python3 -m pytest perfbench/selftest.py)

They show that the answer checks can fail: a wrong response is counted as a
failed operation and raises the failed share, and a right one is not.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import trace as tracing  # noqa: E402
from serve_append import UNIT_MIX, ServeAppend  # noqa: E402


def _collection(ids, matched=None) -> str:
    doc = {"type": "FeatureCollection", "numberReturned": len(ids),
           "features": [{"type": "Feature", "id": i, "properties": {}} for i in ids]}
    if matched is not None:
        doc["numberMatched"] = matched
    return json.dumps(doc)


def _reference(tmp: str) -> check.StoreReference:
    ref = check.StoreReference()
    ref.add(gen.write_parquet(gen.points_table(7, 5000), os.path.join(tmp, "p.parquet")))
    return ref


def _stub_workload():
    return types.SimpleNamespace(tracer=tracing.Tracer(None, "selftest", False),
                                 log=[], units=0)


def test_wrong_answer_counts_as_failed():
    with tempfile.TemporaryDirectory() as tmp:
        ref = _reference(tmp)
        q = {"type": "bbox_page", "bbox": (24.8, 60.05, 25.1, 60.3), "limit": 100}
        right = ref.expected(q)[1]
        assert len(right) == 100
        wl = _stub_workload()
        responses = {"right": _collection(right),
                     "missing_row": _collection(right[:-1]),
                     "wrong_order": _collection(list(reversed(right))),
                     "foreign_id": _collection(right[:-1] + ["P999999999"])}
        for name, resp in responses.items():
            ServeAppend._op(wl, "bbox_page", name, lambda r=resp: r,
                            lambda s: ref.verify(q, s))
        ok = {e["req"]: e["ok"] for e in wl.log}
        assert ok == {"right": True, "missing_row": False, "wrong_order": False,
                      "foreign_id": False}
        failed_frac = sum(not e["ok"] for e in wl.log) / len(wl.log)
        assert failed_frac == 0.75


def test_wrong_count_and_get_fail():
    with tempfile.TemporaryDirectory() as tmp:
        ref = _reference(tmp)
        assert ref.verify({"type": "hits_all", "limit": 100}, _collection([], 5000))
        assert not ref.verify({"type": "hits_all", "limit": 100}, _collection([], 4999))
        some_id = ref.expected({"type": "keyset_page", "after_id": "P", "limit": 1})[1][0]
        get = {"type": "get_feature", "id": some_id, "limit": 100}
        assert ref.verify(get, _collection([some_id]))
        assert not ref.verify(get, _collection([]))
        absent = {"type": "get_feature", "id": "X000000001", "limit": 100}
        assert ref.verify(absent, _collection([]))
        tm = {"type": "tm35fin_page", "limit": 100}
        assert ref.verify(tm, _collection(sorted([some_id])))
        assert not ref.verify(tm, _collection(["P999999999"]))


def test_a_raising_call_counts_as_failed():
    wl = _stub_workload()

    def boom():
        raise RuntimeError("program error")
    ServeAppend._op(wl, "bbox_page", "r0", boom, lambda s: True)
    assert wl.log[0]["ok"] is False and "program error" in wl.log[0]["err"]


def test_even_odd_square_with_notch():
    import numpy as np
    ring = [[0, 0], [4, 0], [4, 4], [2, 2], [0, 4], [0, 0]]
    px = np.array([1.0, 3.0, 2.0, 2.0, 5.0])
    py = np.array([1.0, 1.0, 3.0, 1.0, 1.0])
    assert check.even_odd(px, py, ring).tolist() == [True, True, False, True, False]


def test_generator_is_seeded():
    with tempfile.TemporaryDirectory() as tmp:
        def digest(seed, name):
            p = gen.write_parquet(gen.points_table(seed, 2000), os.path.join(tmp, name))
            with open(p, "rb") as f:
                return hashlib.sha256(f.read()).hexdigest()
        assert digest(1, "a.parquet") == digest(1, "b.parquet")
        assert digest(1, "c.parquet") != digest(2, "d.parquet")
        ids = sorted(f"P{i:09d}" for i in range(1000))
        assert gen.requests(1, ids, UNIT_MIX) == gen.requests(1, ids, UNIT_MIX)
        assert gen.requests(1, ids, UNIT_MIX) != gen.requests(2, ids, UNIT_MIX)
        d1 = gen.driver_tables(3, 0.001, os.path.join(tmp, "sf_a"))
        d2 = gen.driver_tables(3, 0.001, os.path.join(tmp, "sf_b"))
        for t in ("lineitem", "documents", "embeddings"):
            with open(os.path.join(d1, f"{t}.parquet"), "rb") as a, \
                    open(os.path.join(d2, f"{t}.parquet"), "rb") as b:
                assert a.read() == b.read()


def test_request_mix_shares():
    """The mix serve_append runs: about 70 % pages, a third of them exact
    repeats of a page served before (in warm-up or earlier in the unit)."""
    ids = sorted(f"P{i:09d}" for i in range(10_000))
    gets = []
    for seed in range(40):
        warm = gen.requests(seed, ids, dict.fromkeys(UNIT_MIX, 1), stream="warm")
        reqs = gen.requests(seed, ids, UNIT_MIX, pool=warm)
        assert [q["type"] for q in reqs].count("bbox_page") == UNIT_MIX["bbox_page"]
        pages = [q for q in reqs if q["type"] in gen.PAGE_TYPES]
        assert abs(len(pages) / len(reqs) - 0.7) < 0.02
        repeat = sum(q["repeat"] for q in pages) / len(pages)
        assert abs(repeat - 1 / 3) < 0.03
        for i, q in enumerate(reqs):
            if q["repeat"]:
                earlier = [{**p, "repeat": True} for p in warm + reqs[:i]
                           if not p["repeat"]]
                assert q in earlier
        gets += [q for q in reqs if q["type"] == "get_feature"]
    absent = sum(q["id"].startswith("X") for q in gets) / len(gets)
    assert 0.03 < absent < 0.2


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok  {t.__name__}")
    print(f"{len(tests)} passed")
