"""CQL2 text/JSON parser + compiler unit tests."""

import pytest

from rustac_spark.stac.cql2 import (
    Cql2Error, Lit, Op, Prop, compile_filter, parse, parse_text, properties,
)


def test_parse_comparison():
    ast = parse_text("sat:relative_orbit = 98")
    assert isinstance(ast, Op) and ast.op == "="
    assert ast.args[0].name == "sat:relative_orbit"
    assert ast.args[1].value == 98


def test_parse_precedence():
    ast = parse_text("a = 1 or b = 2 and c = 3")
    assert ast.op == "or"
    assert ast.args[1].op == "and"


def test_parse_not_and_parens():
    ast = parse_text("not (a = 1 or b = 2)")
    assert ast.op == "not" and ast.args[0].op == "or"


def test_parse_in_like_between_null():
    assert parse_text("a in (1, 2, 3)").op == "in"
    assert parse_text("a like 'foo%'").op == "like"
    assert parse_text("a between 1 and 5").op == "between"
    assert parse_text("a is null").op == "isNull"
    ast = parse_text("a is not null")
    assert ast.op == "not" and ast.args[0].op == "isNull"
    ast = parse_text("a not in (1)")
    assert ast.op == "not" and ast.args[0].op == "in"


def test_parse_casei_and_strings():
    ast = parse_text("casei(name) = 'it''s'")
    assert ast.args[0].op == "casei"
    assert ast.args[1].value == "it's"


def test_parse_timestamp():
    ast = parse_text("datetime >= timestamp('2024-01-01T00:00:00Z')")
    assert ast.args[1].value.year == 2024


def test_parse_json():
    ast = parse({"op": "and", "args": [
        {"op": "=", "args": [{"property": "collection"}, "c1"]},
        {"op": ">", "args": [{"property": "eo:cloud_cover"}, 50]},
    ]})
    assert ast.op == "and"
    assert properties(ast) == {"collection", "eo:cloud_cover"}


def test_properties_collection():
    assert properties(parse_text("a = 1 and b in (2,3) or not c is null")) \
        == {"a", "b", "c"}


def test_compile_short_circuit(spark):
    col, short, refines = compile_filter("nope = 1", ["id", "collection"])
    assert short and col is None and refines == []
    col, short, refines = compile_filter("id = 'x'", ["id", "collection"])
    assert not short and col is not None and refines == []


def test_parse_arithmetic():
    ast = parse_text("a + 2 * b < 10")
    assert ast.op == "<" and ast.args[0].op == "+"
    assert ast.args[0].args[1].op == "*"  # precedence: * binds tighter
    # infix minus vs negative literal
    ast = parse_text("a - 1 = -1")
    assert ast.args[0].op == "-" and ast.args[0].args[1].value == 1
    assert ast.args[1].value == -1


def test_evaluate_arithmetic():
    from rustac_spark.stac.cql2 import evaluate
    item = {"a": 7.0, "b": 2.0}
    assert evaluate(parse_text("a + 2 * b < 12"), item) is True
    assert evaluate(parse_text("a % 2 = 1"), item) is True
    assert evaluate(parse_text("(a - 1) / b = 3"), item) is True
    assert evaluate(parse_text("a * b > 100"), item) is False


def test_compile_arithmetic(spark):
    col, short, refines = compile_filter(
        "eo:cloud_cover * 2 + 1 < 50", ["id", "eo:cloud_cover"])
    assert not short and col is not None and refines == []


def test_accenti(spark):
    from rustac_spark.stac.cql2 import evaluate, to_column
    ast = parse_text("accenti(name) = 'cafe'")
    assert ast.args[0].op == "accenti"
    assert evaluate(ast, {"name": "café"}) is True
    assert evaluate(ast, {"name": "cafe"}) is True
    assert evaluate(ast, {"name": "caff"}) is False
    df = spark.createDataFrame([("café",), ("naïve",)], ["name"])
    got = {r["name"] for r in df.where(to_column(ast)).collect()}
    assert got == {"café"}


def test_array_ops():
    from rustac_spark.stac.cql2 import evaluate
    item = {"tags": ["a", "b", "c"]}
    assert evaluate(parse_text("a_contains(tags, ('a', 'c'))"), item) is True
    assert evaluate(parse_text("a_contains(tags, ('a', 'z'))"), item) is False
    assert evaluate(parse_text("a_overlaps(tags, ('z', 'c'))"), item) is True
    assert evaluate(parse_text("a_containedBy(tags, "
                               "('a','b','c','d'))"), item) is True
    assert evaluate(parse_text("a_equals(tags, ('c','b','a'))"), item) is True
    assert evaluate(parse_text("a_equals(tags, ('a','b'))"), item) is False
    # json dialect, camelCase op spelling normalized
    ast = parse({"op": "a_containedBy", "args": [
        {"property": "tags"}, ["a", "b", "c", "d"]]})
    assert ast.op == "a_containedby"
    assert evaluate(ast, item) is True
    # single-element parenthesized expression is still a grouping
    assert parse_text("(a) = 1").op == "="


def test_array_ops_compile(spark):
    from pyspark.sql import functions as F
    from rustac_spark.stac.cql2 import to_column
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["b", "c"]), (3, [])],
        "id bigint, tags array<string>")
    got = {r["id"] for r in df.where(to_column(parse_text(
        "a_overlaps(tags, ('a', 'c'))"))).collect()}
    assert got == {1, 2}
    got = {r["id"] for r in df.where(to_column(parse_text(
        "a_contains(tags, ('b', 'c'))"))).collect()}
    assert got == {2}


def test_parse_wkt_literals():
    from rustac_spark.geo.wkbio import geometry_pieces, parse_wkb
    from rustac_spark.stac.cql2 import Geom
    ast = parse_text("s_intersects(geometry, POINT(-106 40.5))")
    assert ast.op == "s_intersects"
    assert isinstance(ast.args[0], Prop) and ast.args[0].name == "geometry"
    assert isinstance(ast.args[1], Geom)
    assert parse_wkb(ast.args[1].wkb) == ("point", (-106.0, 40.5))

    ast = parse_text(
        "S_INTERSECTS(geometry, POLYGON((-107 39, -105 39, -106 41, -107 39)))")
    kind, rings = parse_wkb(ast.args[1].wkb)
    assert kind == "polygon" and rings[0].shape == (4, 2)

    ast = parse_text("s_intersects(geometry, BBOX(-107, 39, -105, 41))")
    kind, rings = parse_wkb(ast.args[1].wkb)
    assert kind == "polygon" and rings[0].shape == (5, 2)

    ast = parse_text(
        "s_intersects(geometry, MULTIPOLYGON((( -1 -1, 1 -1, 1 1, -1 -1)),"
        "((5 5, 6 5, 6 6, 5 5))))")
    kind, polys = parse_wkb(ast.args[1].wkb)
    assert kind == "multipolygon" and len(polys) == 2
    assert len(geometry_pieces((kind, polys))) == 2

    ast = parse_text("s_intersects(geometry, LINESTRING(0 0, 2 2, 4 0))")
    kind, pts = parse_wkb(ast.args[1].wkb)
    assert kind == "linestring" and pts.shape == (3, 2)

    ast = parse_text("s_intersects(geometry, MULTIPOINT((0 0), (1 1)))")
    assert parse_wkb(ast.args[1].wkb) == (
        "multipoint", [(0.0, 0.0), (1.0, 1.0)])


def test_parse_json_geometry():
    from rustac_spark.stac.cql2 import Geom
    ast = parse({"op": "s_intersects", "args": [
        {"property": "geometry"},
        {"type": "Polygon",
         "coordinates": [[[-107, 39], [-105, 39], [-106, 41], [-107, 39]]]},
    ]})
    assert ast.op == "s_intersects" and isinstance(ast.args[1], Geom)
    assert properties(ast) == {"geometry"}


def test_temporal_strict(spark):
    from datetime import datetime
    from rustac_spark.stac.cql2 import evaluate
    item = {"datetime": datetime(2024, 6, 1)}
    boundary = "t_before(datetime, timestamp('2024-06-01T00:00:00Z'))"
    assert evaluate(parse(boundary), item) is False  # strict: equal ⇒ False
    after = "t_after(datetime, timestamp('2024-06-01T00:00:00Z'))"
    assert evaluate(parse(after), item) is False
    before = "t_before(datetime, timestamp('2024-06-02T00:00:00Z'))"
    assert evaluate(parse(before), item) is True
    eq = "t_intersects(datetime, timestamp('2024-06-01T00:00:00Z'))"
    assert evaluate(parse(eq), item) is True


def test_s_intersects_column_compile(spark):
    # point and rect literals compile to pure Columns, no refine
    col, short, refines = compile_filter(
        "s_intersects(geometry, POINT(-106 40.5)) and id = 'x'",
        ["id", "geometry", "bbox"])
    assert not short and col is not None and refines == []
    # in-budget polygon: one exact Column, no refine, in AND or OR
    col, short, refines = compile_filter(
        "s_intersects(geometry, POLYGON((-107 39, -105 39, -106 41, -107 39)))",
        ["id", "geometry", "bbox"])
    assert not short and col is not None and refines == []
    col, short, refines = compile_filter(
        "id = 'x' or s_intersects(geometry, "
        "POLYGON((-107 39, -105 39, -106 41, -107 39)))",
        ["id", "geometry", "bbox"])
    assert not short and col is not None and refines == []
    # over-budget polygon in AND position → prefilter col + one refine
    import math
    n = 200
    big = ", ".join(f"{-106 + math.cos(2 * math.pi * i / n)} "
                    f"{40 + math.sin(2 * math.pi * i / n)}"
                    for i in list(range(n)) + [0])
    col, short, refines = compile_filter(
        f"s_intersects(geometry, POLYGON(({big})))",
        ["id", "geometry", "bbox"])
    assert not short and col is not None and len(refines) == 1
    # ... and under OR it is unsupported (refines are conjunctive)
    with pytest.raises(Cql2Error):
        compile_filter(f"id = 'x' or s_intersects(geometry, POLYGON(({big})))",
                       ["id", "geometry", "bbox"])


def test_s_intersects_empty_geometry(spark):
    # empty GeometryCollection literal compiles to constant false
    col, short, refines = compile_filter(
        {"op": "s_intersects", "args": [
            {"property": "geometry"},
            {"type": "GeometryCollection", "geometries": []}]},
        ["id", "geometry", "bbox"])
    assert not short and col is not None and refines == []
    from rustac_spark.geo.wkbio import bbox_polygon_wkb
    from rustac_spark.stac.cql2 import evaluate
    ast = parse({"op": "s_intersects", "args": [
        {"property": "geometry"},
        {"type": "GeometryCollection", "geometries": []}]})
    assert evaluate(ast, {"geometry": bbox_polygon_wkb(0, 0, 1, 1)}) is False


def test_s_intersects_empty_ring_polygon(spark):
    """A polygon with a zero-vertex exterior ring must COMPILE to
    constant-false, not crash wkb_bounds (round-2 ADVICE): degenerate
    pieces are dropped in geometry_pieces."""
    import struct

    from rustac_spark.geo.colpreds import s_intersects_cols
    from rustac_spark.geo.wkbio import geometry_pieces, parse_wkb

    # WKB: little-endian, type=3 (Polygon), 1 ring with 0 points —
    # pieces drop to [] and the Column pred is the constant-false
    # fast path (wkb_bounds is never reached)
    empty_poly = struct.pack("<BIII", 1, 3, 1, 0)
    assert geometry_pieces(parse_wkb(empty_poly)) == []
    prefilter, exact = s_intersects_cols([])
    assert prefilter is not None and exact is not None
    # a GeoJSON polygon with no rings compiles end-to-end, no crash
    col, short, refines = compile_filter(
        {"op": "s_intersects", "args": [
            {"property": "geometry"},
            {"type": "Polygon", "coordinates": []}]},
        ["id", "geometry", "bbox"])
    assert not short and col is not None and refines == []


def test_s_intersects_evaluate():
    from rustac_spark.geo.wkbio import bbox_polygon_wkb
    from rustac_spark.stac.cql2 import evaluate
    tri = "s_intersects(geometry, POLYGON((0 0, 4 0, 2 4, 0 0)))"
    inside = {"geometry": bbox_polygon_wkb(1.5, 0.5, 2.5, 1.5)}
    outside = {"geometry": bbox_polygon_wkb(10, 10, 11, 11)}
    geojson = {"geometry": {"type": "Point", "coordinates": [2.0, 1.0]}}
    assert evaluate(parse(tri), inside) is True
    assert evaluate(parse(tri), outside) is False
    assert evaluate(parse(tri), geojson) is True
    assert evaluate(parse(tri), {"geometry": None}) is None


def test_bad_input():
    with pytest.raises(Cql2Error):
        parse_text("a = ")
    with pytest.raises(Cql2Error):
        parse_text("a ~ 1")
    with pytest.raises(Cql2Error):
        parse({"op": "weird", "args": []})
