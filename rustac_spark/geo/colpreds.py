"""Shared bbox-struct Column predicates — the single home for the
engine's item-side spatial filters, used by both the search planner
(stac/search.py) and the CQL2 compiler (stac/cql2.py).

Every item table carries the bbox struct covering index
(crates/core/src/geoparquet.rs:397-435); these predicates compile
against it so Catalyst pushes the bbox comparisons into the parquet
scan.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .colgeom import ITEM_RECT, compile_pieces_predicate
from .wkbio import pieces_bounds


def bbox_overlap_col(qxmin, qymin, qxmax, qymax):
    """Inclusive rect-overlap vs the item bbox struct columns.
    NULL bbox ⇒ NULL ⇒ filtered (null-geometry-never-matches,
    crates/core/src/item.rs:461-467)."""
    return ((F.col("bbox.xmin") <= F.lit(qxmax))
            & (F.col("bbox.xmax") >= F.lit(qxmin))
            & (F.col("bbox.ymin") <= F.lit(qymax))
            & (F.col("bbox.ymax") >= F.lit(qymin)))


def s_intersects_cols(pieces: list) -> tuple[Column, Column | None]:
    """(prefilter, exact) Columns for ST_Intersects(item bbox,
    geometry), where ``pieces`` is wkbio.geometry_pieces output.

    The prefilter is the bbox overlap with the geometry's bounds — the
    conjunct Catalyst pushes into the scan. ``exact`` is the predicate
    compiled by geo/colgeom, a plain deterministic Column; the row
    intersects iff both hold. ``exact`` is None over the compile
    budget (or for a ring that cannot be triangulated): the caller
    must then apply the exact Arrow refine (search._geometry_refine)
    on the same pieces after the prefilter. An EMPTY piece list — a
    GeoJSON-legal empty GeometryCollection — intersects nothing:
    constant false."""
    if not pieces:
        return F.lit(False), F.lit(False)
    compiled = compile_pieces_predicate(pieces, ITEM_RECT)
    return (bbox_overlap_col(*pieces_bounds(pieces)),
            None if compiled is None else F.expr(compiled[0]))
