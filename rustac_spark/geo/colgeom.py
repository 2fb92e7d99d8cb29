"""Compile driver-captured geometry pieces to one SQL predicate.

The engine answers ST_Intersects(footprint, geometry) from three entry
points — spatial_join's polygon residual, ``Search.intersects`` and
CQL2 ``s_intersects`` — and every in-budget exact test goes through
this compiler. The footprint side is always an axis-aligned rect (the
join's xmin/ymin/xmax/ymax columns, the item table's bbox struct), so
rect x geometry is the whole question.

Why SQL text: the predicate is emitted as ONE SQL expression string
and parsed with a single ``F.expr``. Building the same expression as a
pyspark Column tree costs one py4j round trip per node — thousands per
polygon, seconds for a probe set — which made every plan build pay a
large serial driver cost. A string costs Python string work plus one
Catalyst parse, cheap enough to pay per plan with no cache. Literals
are emitted as ``repr(float)`` with a ``D`` suffix: ``repr`` is the
shortest string that round-trips the double, and the suffix makes
Spark parse a DOUBLE literal (a bare ``1.5`` is a DECIMAL, which would
change the arithmetic). Negative literals are parenthesized so a
``--`` can never open a SQL comment.

Physical form matters: a direct transliteration of the ray-cast +
on-edge kernels produces ~900 expression nodes per polygon, and past
the JVM's 64 KB per-method bytecode limit Janino fails and Spark falls
back to interpreted evaluation. The compiler instead emits
separating-axis (SAT) conjunctions:

- convex ring: one SAT block over the whole ring — rect-axis bbox
  overlap + one projection-overlap conjunction per edge normal, with
  the rect's projection extrema resolved to xmin/xmax (ymin/ymax) at
  BUILD time from the normal's sign. An axis-aligned edge adds no
  conjunct: its normal is a coordinate axis, and because float
  multiplication by a constant is monotonic the bbox conjunct already
  implies it. A rect ring therefore compiles to exactly the bbox
  overlap, and a point to four comparisons — the pushable forms.
- non-convex ring: ear-clip triangulation (driver-side, exact
  float64) and OR the per-triangle SAT blocks. Triangles tile the
  closed polygon exactly, so rect ∩ polygon ≠ ∅ ⟺ ∃ triangle with
  rect ∩ triangle ≠ ∅.
- holes: candidate accepted unless the rect is STRICTLY inside a
  hole: all four corners inside the hole (point-in-convex /
  point-in-triangle = SAT with a degenerate rect) and no hole edge
  touching the rect (Liang-Barsky).

The SAT arithmetic mirrors the DuckDB oracle's formulation
(__spark_entry__._sat_convex_conds) term for term, so the compiled
predicate is the same exact closed-set intersection test the
correctness gate checks. Versus the numpy kernels (predicates.py, the
over-budget fallback) the accepted sets are identical except for rects
separated from the geometry by less than 1e-12 — the kernels' on-edge
tolerance shell, which SAT does not widen; tests/test_colgeom.py locks
set-equality on random + exact-boundary rect soups.

Two budgets gate compilation (callers fall back to the Arrow kernel
on None): a per-geometry vertex cap (bounds per-row evaluation cost)
and, for the join's per-query CASE chain, a total expression-node cap
(keeps the generated filter far below the 64 KB bytecode ceiling).

Reference behaviour compiled here: ST_Intersects residual semantics of
crates/duckdb/src/client.rs:343-359 / crates/core/src/item.rs:457-468.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, functions as F

from .predicates import is_axis_aligned_rect_ring

# Per-query vertex cap: past this, per-row evaluation cost stops
# paying for itself against the Arrow kernel's vectorized batches.
# Points and axis-aligned rect rings compile to four comparisons each
# and do not count against it.
DEFAULT_VERTEX_BUDGET = 96

# Total estimated expression nodes across ALL compiled queries.
# Because the refine Filter is deliberately kept OUT of whole-stage
# codegen (see compile_refine_predicate), its CASE branches are
# generated as separate split methods and the old single-method
# Janino ceiling (~2-4k nodes, measured) no longer binds; this cap
# bounds generated-class size and plan/compile latency instead.
DEFAULT_NODE_BUDGET = 24000

# rect column names: the join's candidate stream, the item bbox struct
JOIN_RECT = ("xmin", "ymin", "xmax", "ymax")
ITEM_RECT = ("bbox.xmin", "bbox.ymin", "bbox.xmax", "bbox.ymax")

# cost model (estimated expression nodes) per compiled construct
_NODES_PER_SAT_AXIS = 16
_NODES_PER_SEGMENT = 30
_NODES_PER_POINT = 10


def _close_open(ring) -> np.ndarray:
    """Mirror the kernels' ring normalization: drop the closing
    vertex when present; keep open rings as-is."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    return ring


def _signed_area2(pts: np.ndarray) -> float:
    x, y = pts[:, 0], pts[:, 1]
    return float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def _is_convex(pts: np.ndarray) -> bool:
    """All turns the same orientation (collinear allowed)."""
    a = pts
    b = np.roll(pts, -1, axis=0)
    c = np.roll(pts, -2, axis=0)
    cross = ((b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
             - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0]))
    return bool(np.all(cross >= 0.0) or np.all(cross <= 0.0))


def _point_in_closed_tri(p, a, b, c) -> bool:
    """Driver-side inclusive point-in-triangle (ear validity test)."""
    d1 = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
    d2 = (c[0] - b[0]) * (p[1] - b[1]) - (c[1] - b[1]) * (p[0] - b[0])
    d3 = (a[0] - c[0]) * (p[1] - c[1]) - (a[1] - c[1]) * (p[0] - c[0])
    has_neg = d1 < 0 or d2 < 0 or d3 < 0
    has_pos = d1 > 0 or d2 > 0 or d3 > 0
    return not (has_neg and has_pos)


def ear_clip(ring) -> list[np.ndarray] | None:
    """Exact triangulation of a simple polygon ring (driver-side).

    Returns the list of triangles (each a (3,2) float64 array) whose
    closed union equals the closed polygon, or None if the ring is
    degenerate / self-intersecting (the two-ears theorem guarantees
    progress on any SIMPLE polygon; a full sweep with no clippable
    ear means the input is not one)."""
    pts = _close_open(ring)
    if len(pts) < 3:
        return None
    idx = list(range(len(pts)))
    if _signed_area2(pts) < 0.0:
        idx.reverse()  # ensure CCW traversal
    tris: list[np.ndarray] = []
    guard = 0
    while len(idx) > 3:
        guard += 1
        if guard > 2 * len(pts) * len(pts):
            return None
        clipped = False
        for k in range(len(idx)):
            i0, i1, i2 = (idx[k - 1], idx[k], idx[(k + 1) % len(idx)])
            a, b, c = pts[i0], pts[i1], pts[i2]
            cross = ((b[0] - a[0]) * (c[1] - a[1])
                     - (b[1] - a[1]) * (c[0] - a[0]))
            if cross < 0.0:
                continue  # reflex corner — not an ear
            if cross == 0.0:
                # collinear corner: zero-area ear, clip with no triangle
                idx.pop(k)
                clipped = True
                break
            if any(_point_in_closed_tri(pts[j], a, b, c)
                   for j in idx
                   if j not in (i0, i1, i2)
                   and not (np.array_equal(pts[j], a)
                            or np.array_equal(pts[j], b)
                            or np.array_equal(pts[j], c))):
                continue
            tris.append(np.array([a, b, c]))
            idx.pop(k)
            clipped = True
            break
        if not clipped:
            return None
    a, b, c = pts[idx[0]], pts[idx[1]], pts[idx[2]]
    cross = ((b[0] - a[0]) * (c[1] - a[1])
             - (b[1] - a[1]) * (c[0] - a[0]))
    if cross != 0.0:
        tris.append(np.array([a, b, c]))
    return tris if tris else None


def sql_double(v: float) -> str:
    """A float64 as a Spark SQL DOUBLE literal that parses back to the
    same bits: shortest round-trip ``repr`` + ``D`` suffix."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    s = repr(v) + "D"
    return f"({s})" if s.startswith("-") else s


def _and(terms: list[str]) -> str:
    return "(" + " AND ".join(terms) + ")"


def _or(terms: list[str]) -> str:
    return "(" + " OR ".join(terms) + ")"


def sat_convex_sql(verts, rx0: str, ry0: str, rx1: str, ry1: str) -> str:
    """rect × convex polygon intersection as a separating-axis
    conjunction — the SQL twin of the DuckDB oracle's
    _sat_convex_conds (__spark_entry__.py), same arithmetic term for
    term: rect-axis bbox overlap, then per edge normal (nx, ny) =
    (y2-y1, -(x2-x1)) an overlap test of [rmin, rmax] vs the
    constant-folded polygon projection interval, where the rect's
    extremal corner per normal is chosen at BUILD time from the
    normal's sign. The rect sides are column names or SQL
    expressions."""
    verts = [(float(x), float(y)) for x, y in np.asarray(
        verts, dtype=np.float64)]
    xs = [v[0] for v in verts]
    ys = [v[1] for v in verts]
    conds = [f"{rx0} <= {sql_double(max(xs))}",
             f"{rx1} >= {sql_double(min(xs))}",
             f"{ry0} <= {sql_double(max(ys))}",
             f"{ry1} >= {sql_double(min(ys))}"]
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        nx, ny = (y2 - y1), -(x2 - x1)
        if nx == 0.0 or ny == 0.0:
            continue  # degenerate or axis-aligned: the bbox implies it
        projs = [nx * vx + ny * vy for vx, vy in verts]
        pmin, pmax = min(projs), max(projs)
        rlo_x, rhi_x = (rx0, rx1) if nx > 0 else (rx1, rx0)
        rlo_y, rhi_y = (ry0, ry1) if ny > 0 else (ry1, ry0)
        lnx, lny = sql_double(nx), sql_double(ny)
        rmin = f"(({lnx} * {rlo_x}) + ({lny} * {rlo_y}))"
        rmax = f"(({lnx} * {rhi_x}) + ({lny} * {rhi_y}))"
        conds.append(f"{rmin} <= {sql_double(pmax)}")
        conds.append(f"{rmax} >= {sql_double(pmin)}")
    return _and(conds)


def segment_hits_rect_sql(x1: float, y1: float, x2: float, y2: float,
                          rx0: str, ry0: str, rx1: str, ry1: str) -> str:
    """SQL twin of predicates._segments_intersect_rects for one
    constant segment vs per-row rects (Liang-Barsky). The p==0 /
    p<0 / p>0 branching resolves at expression-build time because the
    segment is constant."""
    dx, dy = x2 - x1, y2 - y1
    lx1, ly1 = sql_double(x1), sql_double(y1)
    qs = ((-dx, f"({lx1} - {rx0})"), (dx, f"({rx1} - {lx1})"),
          (-dy, f"({ly1} - {ry0})"), (dy, f"({ry1} - {ly1})"))
    conds = []
    t0, t1 = sql_double(0.0), sql_double(1.0)
    for p, q in qs:
        if p == 0:
            conds.append(f"{q} >= {sql_double(0.0)}")
        elif p < 0:
            t0 = f"greatest({t0}, {q} / {sql_double(p)})"
        else:
            t1 = f"least({t1}, {q} / {sql_double(p)})"
    conds.append(f"{t0} <= {t1}")
    return _and(conds)


def _point_sql(x: float, y: float, rx0, ry0, rx1, ry1) -> str:
    lx, ly = sql_double(x), sql_double(y)
    return _and([f"{rx0} <= {lx}", f"{lx} <= {rx1}",
                 f"{ry0} <= {ly}", f"{ly} <= {ry1}"])


def _ring_sat(pts: np.ndarray, rx0, ry0, rx1, ry1
              ) -> tuple[str, int] | None:
    """(intersects-expr, node estimate) for one exterior ring."""
    if _is_convex(pts):
        n_axes = len(pts) + 2
        return (sat_convex_sql(pts, rx0, ry0, rx1, ry1),
                n_axes * _NODES_PER_SAT_AXIS)
    tris = ear_clip(pts)
    if tris is None:
        return None
    return (_or([sat_convex_sql(t, rx0, ry0, rx1, ry1) for t in tris]),
            len(tris) * 5 * _NODES_PER_SAT_AXIS)


def _rect_strictly_inside_hole(pts: np.ndarray, rx0, ry0, rx1, ry1
                               ) -> tuple[str, int] | None:
    """SQL twin of predicates._rect_strictly_inside_ring for a hole
    ring: all four rect corners inside the closed hole AND no hole
    edge touching the rect. Corner membership is point-in-convex (or
    point-in-any-triangle) — SAT with a degenerate rect."""
    regions = [pts] if _is_convex(pts) else ear_clip(pts)
    if regions is None:
        return None
    corners = [_or([sat_convex_sql(reg, cx, cy, cx, cy) for reg in regions])
               for cx, cy in ((rx0, ry0), (rx1, ry0), (rx1, ry1),
                              (rx0, ry1))]
    nodes = 4 * sum((len(reg) + 2) * _NODES_PER_SAT_AXIS for reg in regions)
    n = len(pts)
    edges = [segment_hits_rect_sql(
        float(pts[i][0]), float(pts[i][1]),
        float(pts[(i + 1) % n][0]), float(pts[(i + 1) % n][1]),
        rx0, ry0, rx1, ry1) for i in range(n)]
    nodes += n * _NODES_PER_SEGMENT
    return f"({_and(corners)} AND NOT {_or(edges)})", nodes


def _n_vertices(pieces) -> int:
    """Vertices counted against the vertex budget. Points and
    axis-aligned rect rings are free: they compile to four
    comparisons each."""
    total = 0
    for kind, data in pieces:
        if kind == "line":
            total += len(data)
        elif kind == "poly" and not (
                len(data) == 1 and is_axis_aligned_rect_ring(data[0])):
            total += sum(len(ring) for ring in data)
    return total


def compile_pieces_predicate(pieces, rect: tuple[str, str, str, str],
                             vertex_budget: int | None = None,
                             ) -> tuple[str, int] | None:
    """(SQL expr, node estimate): does the rect named by ``rect``
    (xmin, ymin, xmax, ymax column names — JOIN_RECT or ITEM_RECT)
    intersect ANY piece — the SQL twin of
    predicates.rects_intersect_pieces (union semantics of
    Multi*/GeometryCollection, search.rs:236-251). An empty piece list
    intersects nothing and compiles to ``false``.

    Returns None when the geometry exceeds ``vertex_budget`` vertices
    or a ring cannot be triangulated — the caller keeps the Arrow
    kernel for that geometry.
    """
    if vertex_budget is None:
        vertex_budget = DEFAULT_VERTEX_BUDGET
    if _n_vertices(pieces) > vertex_budget:
        return None
    terms: list[str] = []
    nodes = 0
    for kind, data in pieces:
        if kind == "point":
            terms.append(_point_sql(float(data[0]), float(data[1]), *rect))
            nodes += _NODES_PER_POINT
        elif kind == "line":
            pts = np.asarray(data, dtype=np.float64)
            if len(pts) == 1:
                terms.append(_point_sql(float(pts[0][0]), float(pts[0][1]),
                                        *rect))
                nodes += _NODES_PER_POINT
            for i in range(len(pts) - 1):
                terms.append(segment_hits_rect_sql(
                    float(pts[i][0]), float(pts[i][1]),
                    float(pts[i + 1][0]), float(pts[i + 1][1]), *rect))
                nodes += _NODES_PER_SEGMENT
        else:  # poly: rings[0] exterior, rest holes
            rings = [_close_open(r) for r in data]
            ext = _ring_sat(rings[0], *rect)
            if ext is None:
                return None
            poly, n_ext = ext
            nodes += n_ext
            for hole in rings[1:]:
                h = _rect_strictly_inside_hole(hole, *rect)
                if h is None:
                    return None
                inside_hole, n_hole = h
                poly = f"({poly} AND NOT {inside_hole})"
                nodes += n_hole
            terms.append(poly)
    return (_or(terms) if terms else "false"), nodes


def compile_refine_predicate(pieces_by_qid: dict[int, list],
                             inner_by_qid: dict[int, list] | None,
                             vertex_budget: int | None = None,
                             node_budget: int | None = None,
                             ) -> Column | None:
    """spatial_join's whole polygon refine filter as one Column over
    the candidate stream (query_id, kind and the JOIN_RECT columns),
    or None if ANY query's geometry exceeds a budget (all-or-nothing:
    a partial compile would still drag the full stream through Arrow
    for the rest, so there is nothing to win).

    Matches _mixed_refine row semantics: non-polygon kinds pass (rect
    overlap is already exact for them), polygon kinds take the
    compiled exact test, with the inscribed-rect containment accept
    short-circuiting ahead of it.

    ``node_budget`` bounds the ESTIMATED expression-node total across
    all queries, which bounds generated-class size and plan latency.
    """
    if node_budget is None:
        node_budget = DEFAULT_NODE_BUDGET
    rx0, ry0, rx1, ry1 = JOIN_RECT
    whens: list[str] = []
    total_nodes = 0
    for q, pieces in pieces_by_qid.items():
        compiled = compile_pieces_predicate(pieces, JOIN_RECT,
                                            vertex_budget)
        if compiled is None:
            return None
        expr, nodes = compiled
        total_nodes += nodes
        if total_nodes > node_budget:
            return None
        # inside ANY inscribed rect short-circuits the exact test
        inside = [_and([f"{rx0} >= {sql_double(ir[0])}",
                        f"{ry0} >= {sql_double(ir[1])}",
                        f"{rx1} <= {sql_double(ir[2])}",
                        f"{ry1} <= {sql_double(ir[3])}"])
                  for ir in (inner_by_qid or {}).get(q, [])]
        whens.append(f"WHEN query_id = {int(q)} THEN {_or(inside + [expr])}")
    polygon_ok = (f"CASE {' '.join(whens)} ELSE false END" if whens
                  else "false")
    # WSCG escape hatch: inlined into a WholeStageCodegen consume()
    # (or merged into the broadcast join's condition) this CASE chain
    # lands in ONE Java method and Janino fails past ~2-4k nodes
    # (measured), silently degrading the WHOLE join stage to
    # interpreted execution. The always-true anchor below keeps the
    # predicate a standalone Filter with split-method codegen:
    # - every conjunct is NONDETERMINISTIC, because the join pushdown
    #   rule PARTITIONS conjuncts by determinism and merges every
    #   deterministic one into the join condition — so the CASE chain
    #   is fused into ONE conjunct by OR-ing an always-false
    #   nondeterministic term. `rand() < -1` does NOT work (the
    #   optimizer range-folds rand comparisons and the OR collapses,
    #   verified); `spark_partition_id() < 0` survives and costs one
    #   int compare;
    # - the anchor conjunct contains a higher-order function
    #   (CodegenFallback), which excludes just this Filter from
    #   whole-stage codegen — the scan / explode / broadcast-join
    #   below keep WSCG, and the standalone Filter's predicate goes
    #   through GeneratePredicate in INPUT_ROW mode, where Spark CAN
    #   split the CASE branches into separate (JIT-able) methods.
    # Cost: the predicate conjunct runs first, so only ACCEPTED rows
    # pay the anchor's interpreted 1-element array probe (AND short-
    # circuits); rejected rows pay one extra int compare.
    # FIXED seed: an unseeded rand() draws a fresh seed per plan, so
    # otherwise-identical plans would differ and every fresh
    # spatial_join would miss the codegen cache and re-Janino the
    # whole CASE predicate. rand(42) is still nondeterministic (all
    # the anchor needs) but keeps the generated code identical across
    # plan builds, so compilation is paid once per session.
    return F.expr(
        f"((kind <> 'polygon' OR {polygon_ok}) OR spark_partition_id() < 0)"
        " AND exists(array(rand(42)), a -> a >= -1.0D)")
