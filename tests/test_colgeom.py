"""SQL-compiled exact geometry predicate (geo/colgeom.py): accept-set
equality vs the numpy kernels (exact closed-set SAT — identical
outside the kernels' 1e-12 on-edge shell, which random + exact-
boundary soups never probe), literal round-trip, spatial_join path
equivalence, budget fallback, ear-clip triangulation, the zero-Python
plan shape the compilation exists for, and agreement of the three
entry points (Search.intersects, CQL2 s_intersects, spatial_join)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rustac_spark import DATA_DIR
from rustac_spark.geo import colgeom
from rustac_spark.geo.colgeom import (DEFAULT_VERTEX_BUDGET, JOIN_RECT,
                                      compile_pieces_predicate,
                                      compile_refine_predicate, sql_double)
from rustac_spark.geo.join import spatial_join
from rustac_spark.geo.predicates import rects_intersect_pieces
from rustac_spark.geocode import with_geocode

RNG = np.random.default_rng(1234)

IRREGULAR = [("poly", [np.array(
    [(0.0, 0.0), (4.0, -1.0), (7.0, 2.0), (6.0, 5.5), (3.0, 7.0),
     (-1.0, 4.0), (-2.0, 1.5), (0.0, 0.0)])])]
WITH_HOLE = [("poly", [
    np.array([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),
              (0.0, 0.0)]),
    np.array([(3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0),
              (3.0, 3.0)])])]
MULTI = [("poly", [np.array([(0.0, 0.0), (2.0, 0.0), (1.0, 2.0),
                             (0.0, 0.0)])]),
         ("poly", [np.array([(5.0, 5.0), (8.0, 5.0), (8.0, 8.0),
                             (5.0, 8.0), (5.0, 5.0)])])]
LINE = [("line", np.array([(0.0, 0.0), (3.0, 3.0), (6.0, 1.0)]))]
POINT = [("point", (2.5, 2.5))]
RECTILINEAR = [("poly", [np.array(  # axis-parallel edges: p == 0 paths
    [(0.0, 0.0), (6.0, 0.0), (6.0, 3.0), (3.0, 3.0), (3.0, 6.0),
     (0.0, 6.0), (0.0, 0.0)])])]

GEOMS = [IRREGULAR, WITH_HOLE, MULTI, LINE, POINT, RECTILINEAR]


def _random_rects(n=400):
    """Rect soup crossing every regime: interior, containing,
    touching-at-boundary, degenerate (zero-area), far away."""
    cx = RNG.uniform(-4, 12, n)
    cy = RNG.uniform(-4, 12, n)
    w = RNG.choice([0.0, 0.1, 0.5, 2.0, 15.0], n) * RNG.uniform(0.5, 1, n)
    h = RNG.choice([0.0, 0.1, 0.5, 2.0, 15.0], n) * RNG.uniform(0.5, 1, n)
    rx0, rx1 = cx - w / 2, cx + w / 2
    ry0, ry1 = cy - h / 2, cy + h / 2
    # exact-boundary cases: rects whose edge lies on a polygon vertex
    extra = np.array([[0.0, 0.0, 1.0, 1.0], [-3.0, -3.0, 0.0, 0.0],
                      [3.0, 3.0, 7.0, 7.0], [4.0, 4.0, 6.0, 6.0],
                      [2.5, 2.5, 2.5, 2.5], [10.0, 10.0, 12.0, 12.0]])
    rx0 = np.concatenate([rx0, extra[:, 0]])
    ry0 = np.concatenate([ry0, extra[:, 1]])
    rx1 = np.concatenate([rx1, extra[:, 2]])
    ry1 = np.concatenate([ry1, extra[:, 3]])
    return rx0, ry0, rx1, ry1


@pytest.fixture(scope="module")
def rects_df(spark):
    rx0, ry0, rx1, ry1 = _random_rects()
    rows = [(int(i), float(a), float(b), float(c), float(d))
            for i, (a, b, c, d) in enumerate(zip(rx0, ry0, rx1, ry1))]
    df = spark.createDataFrame(
        rows, "rid int, xmin double, ymin double, xmax double, ymax double")
    df.cache().count()
    return df, (rx0, ry0, rx1, ry1)


@pytest.mark.parametrize("gi", range(len(GEOMS)))
def test_compiled_predicate_bit_equals_numpy_kernel(rects_df, gi):
    df, (rx0, ry0, rx1, ry1) = rects_df
    pieces = GEOMS[gi]
    expected = rects_intersect_pieces(rx0, ry0, rx1, ry1, pieces)
    compiled = compile_pieces_predicate(pieces, JOIN_RECT)
    assert compiled is not None
    expr, nodes = compiled
    assert nodes > 0
    got_rows = (df.withColumn("hit", F.expr(expr))
                .orderBy("rid").select("hit").collect())
    got = np.array([r["hit"] for r in got_rows])
    assert np.array_equal(got, expected)


def test_vertex_budget_returns_none(spark):
    big_ring = np.column_stack([
        np.cos(np.linspace(0, 2 * np.pi, DEFAULT_VERTEX_BUDGET + 10)),
        np.sin(np.linspace(0, 2 * np.pi, DEFAULT_VERTEX_BUDGET + 10))])
    assert compile_pieces_predicate(
        [("poly", [big_ring])], JOIN_RECT) is None
    # refine compile is all-or-nothing: one over-budget query kills it
    assert compile_refine_predicate(
        {1: IRREGULAR, 2: [("poly", [big_ring])]}, None) is None
    # points and axis-aligned rects compile to four comparisons each
    # and never count against the vertex budget
    boxes = [("point", (float(i), 0.0)) for i in range(200)] + [
        ("poly", [np.array([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0),
                            (0.0, 1.0), (0.0, 0.0)])])] * 50
    expr, _ = compile_pieces_predicate(boxes, JOIN_RECT)
    assert "*" not in expr  # axis-aligned edges add no SAT axis


def test_node_budget_returns_none(spark):
    # many in-budget queries can still exceed the generated-code cap
    many = {q: IRREGULAR for q in range(200)}
    assert compile_refine_predicate(many, None) is None


def test_ear_clip_partitions_polygon():
    from rustac_spark.geo.colgeom import ear_clip
    ring = np.array([(0.0, 0.0), (6.0, 0.0), (6.0, 3.0), (3.0, 3.0),
                     (3.0, 6.0), (0.0, 6.0)])  # reflex L-shape
    tris = ear_clip(ring)
    assert tris is not None and len(tris) == 4  # n-2 triangles
    area = sum(abs((b[0] - a[0]) * (c[1] - a[1])
                   - (b[1] - a[1]) * (c[0] - a[0])) / 2
               for a, b, c in tris)
    assert abs(area - 27.0) < 1e-9  # tiles the L exactly
    # degenerate ring -> fallback
    assert ear_clip(np.array([(0.0, 0.0), (1.0, 1.0)])) is None


@pytest.fixture(scope="module")
def pages_geo(spark):
    df = with_geocode(
        spark.read.parquet(f"{DATA_DIR}/pages_sf0.001.parquet")
    ).drop("html", "text")
    df.cache().count()
    return df


def test_join_compiled_memo_arrow_paths_agree(spark, pages_geo,
                                              queries_df, monkeypatch):
    """The compiled refine and the over-budget Arrow refine accept the
    same pairs on the fixture probe set."""
    compiled = sorted(map(tuple, spatial_join(
        pages_geo, queries_df, page_cols=["url"]).collect()))
    monkeypatch.setattr(colgeom, "DEFAULT_VERTEX_BUDGET", 0)
    arrow = sorted(map(tuple, spatial_join(
        pages_geo, queries_df, page_cols=["url"]).collect()))
    assert compiled == arrow and len(compiled) > 0


def test_compiled_join_plan_has_no_python_stage(spark, pages_geo,
                                                queries_df, monkeypatch):
    compiled = spatial_join(pages_geo, queries_df, page_cols=["url"])
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan
    assert "BroadcastHashJoin" in plan
    # the compiled predicate must stay a standalone Filter (NOT get
    # merged into the join condition, where its size breaks codegen
    # for the whole stage) — locked by the join line staying small
    bhj = [l for l in plan.splitlines() if "BroadcastHashJoin" in l][0]
    assert "CASE WHEN" not in bhj
    # over the compile budget the Arrow refine drives the stream
    monkeypatch.setattr(colgeom, "DEFAULT_VERTEX_BUDGET", 0)
    arrow = spatial_join(pages_geo, queries_df, page_cols=["url"])
    assert "MapInPandas" in (
        arrow._jdf.queryExecution().executedPlan().toString())


@pytest.mark.parametrize("v", [
    2.7755575615628914e-17, 1e-300, -1e-300, 5e-324, 1.7976931348623157e308,
    -0.0, 0.0, 1.0, -3.0, 1e16, 123456789012345678.0, 0.1, -106.123456789,
    float("inf"), float("-inf")])
def test_sql_double_round_trips_bit_for_bit(spark, v):
    """Every literal the compiler emits parses back to the same float64
    bits (exponent forms, signed zero, integral floats)."""
    import struct
    lit = sql_double(v)
    # a negative literal right after a minus must not open a comment
    got = spark.range(1).select(
        F.expr(lit).alias("v"), F.expr(f"0.0D -{lit}").alias("neg"),
        F.expr(f"typeof({lit})").alias("t")).first()
    assert got["t"] == "double"
    assert struct.pack("<d", got["v"]) == struct.pack("<d", v)
    assert struct.pack("<d", got["neg"]) == struct.pack("<d", 0.0 - v)


def _star(rng, cx, cy, nv, r_lo, r_hi):
    """Star-shaped simple ring on a 1/64 grid (exact in float64), so
    exact-boundary rects can be built from its vertices and edge
    midpoints."""
    pts = []
    for i in range(nv):
        ang = 2 * np.pi * (i + rng.uniform(0.1, 0.9)) / nv
        r = rng.uniform(r_lo, r_hi)
        pts.append((round((cx + r * np.cos(ang)) * 64) / 64,
                    round((cy + r * np.sin(ang)) * 64) / 64))
    return pts


def _boundary_rects(ring, rng):
    """Footprints that touch ``ring`` exactly: a corner on a vertex,
    a side through a vertex, a corner on an edge midpoint (exact on a
    1/128 grid)."""
    out = []
    for i, (x, y) in enumerate(ring):
        w, h = rng.uniform(0.01, 0.2, 2)
        out += [(x, y, x + w, y + h), (x - w, y - h, x, y),
                (x - w, y - h, x + w, y)]
        x2, y2 = ring[(i + 1) % len(ring)]
        mx, my = (x + x2) / 2, (y + y2) / 2
        out += [(mx, my, mx + w, my + h), (mx - w, my - h, mx, my)]
    return out


def test_entry_points_agree_on_boundary_footprints(spark):
    """Search(intersects=g), Search(filter="s_intersects(geometry, g)")
    and spatial_join with g as the query return the same ids on random
    and exact-boundary footprints, including ones separated from g by
    less than the numpy kernel's 1e-12 shell: all three entry points
    run the one compiled closed-set predicate."""
    from rustac_spark.geo.wkbio import polygon_wkb
    from rustac_spark.stac.search import Search, build_plan

    rng = np.random.default_rng(7)
    geoms = [_star(rng, 10.0 + 3 * k, 45.0, int(rng.integers(3, 12)),
                   0.3, 1.2) for k in range(5)]
    rects = []
    for k, ring in enumerate(geoms):
        cx, cy = 10.0 + 3 * k, 45.0
        for _ in range(60):
            x0 = cx + rng.uniform(-1.5, 1.5)
            y0 = cy + rng.uniform(-1.5, 1.5)
            w, h = rng.choice([0.0, 0.05, 0.3, 1.0], 2)
            rects.append((x0, y0, x0 + w, y0 + h))
        rects += _boundary_rects(ring, rng)
    # a footprint 1e-13 outside the hypotenuse x + y = 69 of this
    # triangle, inside its bbox: within the numpy kernel's 1e-12
    # on-edge shell (which accepts it), rejected by the closed set
    geoms.append([(24.0, 45.0), (20.0, 49.0), (20.0, 45.0)])
    near_miss = f"r{len(rects)}"
    rects.append((22.0 + 1e-13, 47.0, 23.0, 48.0))
    rects += _boundary_rects(geoms[-1], rng)
    rows = [(f"r{i}", float(a), float(b), float(c), float(d))
            for i, (a, b, c, d) in enumerate(rects)]
    pages = spark.createDataFrame(
        rows, "url string, xmin double, ymin double, xmax double, "
              "ymax double").cache()
    items = pages.selectExpr(
        "url AS id", "CAST(NULL AS binary) AS geometry",
        "named_struct('xmin', xmin, 'ymin', ymin, 'xmax', xmax, "
        "'ymax', ymax) AS bbox").cache()
    qrows = []
    for q, ring in enumerate(geoms):
        closed = ring + [ring[0]]
        xs, ys = [p[0] for p in ring], [p[1] for p in ring]
        qrows.append((q, "polygon", min(xs), min(ys), max(xs), max(ys),
                      polygon_wkb(closed)))
    queries = spark.createDataFrame(
        qrows, "query_id long, kind string, qxmin double, qymin double, "
               "qxmax double, qymax double, geometry binary")
    joined = {}
    for r in spatial_join(pages, queries, page_cols=["url"],
                          has_polygons=True).collect():
        joined.setdefault(r["query_id"], set()).add(r["url"])
    for q, ring in enumerate(geoms):
        closed = ring + [ring[0]]
        gj = {"type": "Polygon", "coordinates": [[list(p) for p in closed]]}
        wkt = "POLYGON((" + ", ".join(
            f"{x!r} {y!r}" for x, y in closed) + "))"
        by_search = {r["id"] for r in build_plan(
            items, Search(intersects=gj, fields="+id")).collect()}
        by_cql2 = {r["id"] for r in build_plan(items, Search(
            filter=f"s_intersects(geometry, {wkt})",
            fields="+id")).collect()}
        assert by_search == by_cql2 == joined.get(q, set())
        assert by_search  # the boundary footprints match
    assert near_miss not in joined[len(geoms) - 1]
