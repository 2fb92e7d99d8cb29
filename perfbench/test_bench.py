"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import reference  # noqa: E402
from common import (  # noqa: E402
    Report, balanced, percentile, tail_percentile, traced_op)
from tracing import layer_self_seconds, self_times, union_length  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------- percentile rule

@pytest.mark.parametrize("n, want", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (5000, 99.0)])
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        xs = list(range(n))
        beyond = [x for x in xs if x > percentile(xs, want)]
        assert len(beyond) >= 10


def test_tail_percentile_never_exceeds_the_requested_level():
    assert tail_percentile(5000, 95.0) == 95.0
    assert tail_percentile(150, 95.0) == 90.0


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1


# ------------------------------------------------- traced-run ordering

@pytest.mark.parametrize("blocks", [1, 3])
def test_traced_blocks_weigh_both_sides_alike(blocks):
    n = 4 * blocks
    assert balanced(n) and not any(balanced(k) for k in range(1, 4))
    on = [traced_op(i) for i in range(n)]
    traced = [i for i in range(n) if on[i]]
    plain = [i for i in range(n) if not on[i]]
    assert len(traced) == len(plain)
    # equal mean position: a linear warm-up trend cancels
    assert sum(traced) == sum(plain)
    # polygon_join's over-budget batches (odd pairs) fall equally on both
    assert (sum(i % 2 for i in traced) == sum(i % 2 for i in plain))
    assert all(len(r) > inputs.VERTEX_BUDGET for b in range(1, n, 2)
               for r in [max((r for _q, r in inputs.polygon_batch(0, b)),
                             key=len)])


# ---------------------------------------------------- self-time arithmetic

def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "op": None}


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [_span("req", 0.0, 10.0),
             _span("plan", 1.0, 4.0, parent=0),
             _span("scan", 3.0, 6.0, parent=0),   # overlaps plan
             _span("parse", 1.5, 2.0, parent=1),
             _span("late", 9.0, 12.0, parent=0)]  # clipped to the parent
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 2.5, 3, 0.5, 3])
    totals = layer_self_seconds(spans + [_span("plan", 20.0, 21.0)])
    assert totals["plan"] == pytest.approx(3.5)


# -------------------------------------------------------- seed determinism

def _files(path):
    return {f: open(os.path.join(path, f), "rb").read()
            for f in sorted(os.listdir(path))}


def test_same_seed_gives_byte_identical_pages(tmp_path):
    a = inputs.write_pages(str(tmp_path / "a"), 3, 2000)
    b = inputs.write_pages(str(tmp_path / "b"), 3, 2000)
    c = inputs.write_pages(str(tmp_path / "c"), 4, 2000)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a.equals(b)
    assert set(a["url"]).isdisjoint(set(c["url"]))


def test_same_seed_gives_identical_probes_and_requests(tmp_path):
    for seed in (0, 5):
        inputs.write_probes(str(tmp_path / "p1"), inputs.pipeline_probes(seed))
        inputs.write_probes(str(tmp_path / "p2"), inputs.pipeline_probes(seed))
        assert (open(tmp_path / "p1", "rb").read()
                == open(tmp_path / "p2", "rb").read())
    assert (inputs.read_requests(7, 300, ["en", "de"])
            == inputs.read_requests(7, 300, ["en", "de"]))
    assert inputs.polygon_batch(2, 3) == inputs.polygon_batch(2, 3)
    assert inputs.polygon_batch(2, 3) != inputs.polygon_batch(3, 3)


def test_any_seed_keeps_page_ids_and_item_properties_in_64_bits():
    for seed in (-1, 3_000_000_000, 2**63):
        first = inputs.first_page_id(seed, 100_000)
        assert 0 <= first < inputs.PAGE_ID_SEEDS * 100_000
        assert (first + 100_000) * 104729 < 2**63
    assert inputs.first_page_id(3, 2000) == 6000


def test_seed_zero_is_bench_py_input():
    committed = pq.read_table(f"{ROOT}/data/queries.parquet").to_pandas()
    committed = committed[committed["query_id"] < 68].reset_index(drop=True)
    ours = inputs.pipeline_probes(0)
    for col in ("query_id", "kind", "qxmin", "qymin", "qxmax", "qymax",
                "geometry"):
        assert list(ours[col]) == list(committed[col]), col
    assert (list(ours["datetime"].fillna("-"))
            == list(committed["datetime"].fillna("-")))
    pages = inputs.pages_frame(np.arange(50))
    assert pages["url"][7].endswith("/p7")


def test_other_seeds_keep_the_probe_family_mix():
    for seed in (1, 9):
        p = inputs.pipeline_probes(seed)
        assert p["kind"].value_counts().to_dict() == (
            inputs.pipeline_probes(0)["kind"].value_counts().to_dict())
        assert not p["geometry"].equals(inputs.pipeline_probes(0)["geometry"])
    assert any(len(ring) > inputs.VERTEX_BUDGET
               for b in range(4) for _q, ring in inputs.polygon_batch(0, b))


# ------------------------------------------------- the rect x polygon test

def test_rect_polygon_test_on_a_concave_ring():
    # an L: the unit square minus its top-right quarter
    ring = np.array([(0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2), (0, 0)],
                    dtype=float)
    x0 = np.array([0.2, 1.2, 1.5, 3.0, -1.0, 1.0])
    y0 = np.array([0.2, 1.2, 0.5, 3.0, -1.0, 1.0])
    x1 = np.array([0.4, 1.8, 2.5, 4.0, 3.0, 1.5])
    y1 = np.array([0.4, 1.8, 0.6, 4.0, 3.0, 1.5])
    got = reference._rects_meet_ring(x0, y0, x1, y1, ring)
    # inside, in the notch, crossing an edge, far away, containing the
    # whole polygon, touching the reflex vertex (closed sets meet)
    assert got.tolist() == [True, False, True, False, True, True]


def test_rect_polygon_test_agrees_with_dense_sampling():
    rng = np.random.default_rng(0)
    ring = np.array(inputs.star_ring("t", 0.0, 0.0, 9, 0.3, 1.0))
    n = 400
    cx, cy = rng.uniform(-1.2, 1.2, n), rng.uniform(-1.2, 1.2, n)
    w, h = rng.uniform(0.01, 0.2, n), rng.uniform(0.01, 0.2, n)
    got = reference._rects_meet_ring(cx - w, cy - h, cx + w, cy + h, ring)

    def inside(px, py):  # winding number of sample points
        wn = np.zeros(len(px), dtype=int)
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            cross = (bx - ax) * (py - ay) - (px - ax) * (by - ay)
            wn += ((ay <= py) & (by > py) & (cross > 0)).astype(int)
            wn -= ((ay > py) & (by <= py) & (cross < 0)).astype(int)
        return wn != 0

    misses = 0
    for i in range(n):
        gx, gy = np.meshgrid(np.linspace(cx[i] - w[i], cx[i] + w[i], 41),
                             np.linspace(cy[i] - h[i], cy[i] + h[i], 41))
        hit = inside(gx.ravel(), gy.ravel()).any()
        # sampling never invents an overlap; it can only miss a thin one
        assert got[i] or not hit
        misses += got[i] and not hit
    assert misses <= n // 50


# ------------------------------------------- wrong answers count as failed

def test_report_counts_failures_against_attempts(capsys):
    rep = Report()
    rep.op(True)
    rep.op(False, "wrong")
    rep.add("setup_s", 1.5, "s")
    rep.emit(["setup_s"])
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert '"attempted": 2' in last and '"failed": 1' in last
    assert '"correct": false' in last


def _expected_pipeline(n=3000, seed=2):
    pages = inputs.pages_frame(np.arange(n) + seed * n)
    probes = inputs.pipeline_probes(seed)
    import wl_pipeline
    return pages, probes, wl_pipeline.Expected(pages, probes)


def _write_outputs(run_dir, pages, probes, want):
    """Stage outputs exactly as a correct pass would write them."""
    os.makedirs(run_dir)
    fp, urls = want.fp, pages["url"].tolist()
    prep = pd.DataFrame({"url": urls, "text_ok": True,
                         **{k: fp[k] for k in ("lat", "lon", "xmin", "ymin",
                                               "xmax", "ymax")}})
    url_of = dict(zip(want.ids.tolist(), urls))
    pairs = pd.DataFrame([(q, url_of[i]) for q, e in want.pairs.items()
                          for i in sorted(e.sure)],
                         columns=["query_id", "url"])
    counts = pd.DataFrame([(q, want.kind[q], len(e.sure))
                           for q, e in want.pairs.items() if e.sure],
                          columns=["query_id", "kind", "n_matches"])
    st = pd.DataFrame([(q, lo) for q, (lo, _hi) in want.st.items()],
                      columns=["query_id", "n_matches"])
    knn = pd.DataFrame([(q, r + 1, u, d)
                        for q, (_la, _lo, rows) in want.knn.items()
                        for r, (d, u) in enumerate(rows)],
                       columns=["query_id", "rank", "url", "dist_km"])
    tiles = pd.DataFrame([(x, y, c) for (x, y), c in want.tiles.items()],
                         columns=["tile_x", "tile_y", "n_pages"])
    for name, df in [("prepare", prep), ("join_pairs", pairs),
                     ("join_counts", counts), ("st_join", st), ("knn", knn),
                     ("tiles", tiles)]:
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       f"{run_dir}/{name}.parquet")


@pytest.mark.parametrize("stage, corrupt", [
    ("join_counts", lambda df: df.assign(n_matches=df["n_matches"] + 1)),
    ("join_pairs", lambda df: df.iloc[1:]),
    ("tiles", lambda df: df.assign(n_pages=df["n_pages"] * 2)),
    ("knn", lambda df: df.assign(url=df["url"][::-1].values)),
    ("prepare", lambda df: df.assign(lat=df["lat"] + 1e-6)),
    ("st_join", lambda df: df.assign(n_matches=df["n_matches"] + 5)),
])
def test_an_injected_wrong_answer_fails_the_pipeline_check(tmp_path, stage,
                                                           corrupt):
    pages, probes, want = _expected_pipeline()
    run_dir = str(tmp_path / "run")
    _write_outputs(run_dir, pages, probes, want)
    assert want.check(run_dir, 0) == []
    path = f"{run_dir}/{stage}.parquet"
    df = pq.read_table(path).to_pandas()
    pq.write_table(pa.Table.from_pandas(corrupt(df), preserve_index=False),
                   path)
    assert want.check(run_dir, 0) != []


def test_an_injected_wrong_answer_fails_the_api_check():
    import wl_stac_api
    pages = inputs.pages_frame(np.arange(4000))
    fp = reference.footprints(pages["url"].tolist())
    checker = wl_stac_api.Checker(pages, fp)
    lon, lat = inputs.probe_anchor(0)
    req = {"kind": "bbox", "body": {"bbox": [lon - 0.3, lat - 0.3,
                                             lon + 0.3, lat + 0.3],
                                    "limit": 5}}
    ids, n = checker.oracle.rect_search(req["body"], "id")
    assert n > 5
    page = {"features": [{"id": i} for i in ids[:5]], "numberMatched": n}
    assert checker.search_ok(req, [(200, page)])
    wrong = {"features": [{"id": i} for i in ids[1:6]], "numberMatched": n}
    assert not checker.search_ok(req, [(200, wrong)])
    assert not checker.search_ok(req, [(200, {**page, "numberMatched": n + 1})])
    assert not checker.search_ok(req, [(500, page)])
