"""Contour extraction — marching squares over the pixel band.

Reference: alg/contour.cpp:283-520 + alg/marching_squares/*.h (GDAL's
contour writer walks 2x2 pixel cells, classifies the 4 corners against
the level, and emits interpolated segments per the standard 16-case
table; ambiguous saddles 5/10 resolved to the two-segment split).

Spark-first shape: the 2x2 corner gather is a halo join (shifted
equi-joins), the case classification + endpoint interpolation is pure
column arithmetic, and each cell emits 0-2 segment rows via a
filtered union — no Python anywhere. Because the whole computation is
integer compares + one double division per crossing, the DuckDB oracle
reproduces it bit-for-bit from THE SAME generated CASE fragments
(build_case_sql is shared by the operator and the oracle).

Stitching segments into polylines/polygons is the cross-partition
equivalence problem already solved for polygonize (label union);
segments are the operator contract here, as in GDAL's segment-writer
layer.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache

# case -> list of segments, each segment = (edgeA, edgeB);
# corners: bit0=v00, bit1=v10, bit2=v11, bit3=v01 (inside == value > L).
# Saddle cases 5 and 10 are ambiguous; the reference disambiguates by
# the cell-center mean (alg/marching_squares/square.h FudgeCase /
# center-average rule): when (v00+v10+v11+v01)/4 > level the two inside
# corners CONNECT through the center, flipping the segment pairing.
# We encode that as case bit 4 (case + 16 when center > level); the
# center bit only changes the pairing for 5/10 — every other extended
# case maps to the same segments as its low-4-bit case.
_BASE_SEGMENTS: dict[int, list[tuple[str, str]]] = {
    # r3: every segment ORIENTED with the >level region on its LEFT
    # (walking A->B). The un-oriented vertex/segment SETS are unchanged
    # (the reference's segment writer is orientation-agnostic); the
    # orientation makes every contour vertex have exactly one outgoing
    # and one incoming segment, which is what ring assembly
    # (contour_rings) keys on.
    1: [("bottom", "left")],
    2: [("right", "bottom")],
    3: [("right", "left")],
    4: [("top", "right")],
    5: [("bottom", "left"), ("top", "right")],   # center <= L: separate
    6: [("top", "bottom")],
    7: [("top", "left")],
    8: [("left", "top")],
    9: [("bottom", "top")],
    10: [("right", "bottom"), ("left", "top")],  # center <= L: separate
    11: [("right", "top")],
    12: [("left", "right")],
    13: [("bottom", "right")],
    14: [("left", "bottom")],
}
CASE_SEGMENTS: dict[int, list[tuple[str, str]]] = {
    **_BASE_SEGMENTS,
    **{c + 16: segs for c, segs in _BASE_SEGMENTS.items() if c not in (5, 10)},
    21: [("top", "left"), ("bottom", "right")],   # 5, center > L: connected
    26: [("left", "bottom"), ("right", "top")],   # 10, center > L: connected
}


def _edge_exprs(level: int) -> dict[str, tuple[str, str]]:
    """(x, y) expression strings per cell edge — valid in BOTH Spark
    SQL and DuckDB (bigint arithmetic + one double division)."""
    L = level
    return {
        "bottom": (f"cx + (CAST({L} AS DOUBLE) - v00) / (v10 - v00)", "cy + 0.0"),
        "right": (f"cx + 1.0", f"cy + (CAST({L} AS DOUBLE) - v10) / (v11 - v10)"),
        "top": (f"cx + (CAST({L} AS DOUBLE) - v01) / (v11 - v01)", "cy + 1.0"),
        "left": (f"cx + 0.0", f"cy + (CAST({L} AS DOUBLE) - v00) / (v01 - v00)"),
    }


def case_expr(level: int) -> str:
    L = level
    return (
        f"CAST(v00 > {L} AS INT) + 2 * CAST(v10 > {L} AS INT) "
        f"+ 4 * CAST(v11 > {L} AS INT) + 8 * CAST(v01 > {L} AS INT) "
        # center-average saddle bit (exact: 4*mean > 4*L in int math;
        # BIGINT casts — 4 band values of ~2^30 overflow int32)
        f"+ 16 * CAST(CAST(v00 AS BIGINT) + v10 + v11 + v01 "
        f"> 4 * CAST({L} AS BIGINT) AS INT)"
    )


def slot_exprs(level: int, slot: int) -> tuple[str, str, str, str, list[int]]:
    """CASE fragments (x1, y1, x2, y2) for segment slot 0 or 1, plus the
    case ids that populate the slot."""
    edges = _edge_exprs(level)
    cases = [c for c, segs in CASE_SEGMENTS.items() if len(segs) > slot]
    exprs = []
    for coord in range(4):  # x1, y1, x2, y2
        whens = []
        for c in cases:
            ea, eb = CASE_SEGMENTS[c][slot]
            pt = edges[ea] if coord < 2 else edges[eb]
            whens.append(f"WHEN {c} THEN ({pt[coord % 2]})")
        exprs.append(f"CASE ({case_expr(level)}) " + " ".join(whens) + " END")
    return (*exprs, cases)  # type: ignore[return-value]


def contour_segments(band: DataFrame, *, level: int, width: int,
                     height: int | None = None) -> DataFrame:
    """Marching-squares segments at `level`. band: (gx, gy, value)
    integer pixels; returns (cx, cy, x1, y1, x2, y2) per segment.
    height defaults to width (square rasters)."""
    height = height if height is not None else width
    cells = (
        band.select(F.col("gx").alias("cx"), F.col("gy").alias("cy"),
                    F.col("value").alias("v00"))
        .filter((F.col("cx") < width - 1) & (F.col("cy") < height - 1))
    )
    for (dx, dy, name) in ((1, 0, "v10"), (0, 1, "v01"), (1, 1, "v11")):
        cells = cells.join(
            band.select(
                (F.col("gx") - dx).alias("cx"), (F.col("gy") - dy).alias("cy"),
                F.col("value").alias(name),
            ),
            ["cx", "cy"],
        )
    outs = []
    for slot in (0, 1):
        x1, y1, x2, y2, cases = slot_exprs(level, slot)
        in_list = ", ".join(str(c) for c in cases)
        outs.append(
            cells.filter(F.expr(f"({case_expr(level)}) IN ({in_list})")).select(
                "cx", "cy",
                F.expr(x1).alias("x1"), F.expr(y1).alias("y1"),
                F.expr(x2).alias("x2"), F.expr(y2).alias("y2"),
            )
        )
    return outs[0].unionByName(outs[1])


def contour_multi(band: DataFrame, *, levels: list[int], width: int,
                  height: int | None = None) -> DataFrame:
    """Multi-level contour (the reference's interval/fixed level
    generators, alg/contour.cpp:283-520): union of per-level segment
    sets with a `level` column."""
    out = None
    for lv in levels:
        seg = contour_segments(band, level=lv, width=width, height=height) \
            .withColumn("level", F.lit(lv))
        out = seg if out is None else out.unionByName(seg)
    return out


def contour_rings(segments: DataFrame, *, scale: float = 1048576.0,
                  rounds: int = 20) -> DataFrame:
    """Contour POLYGONIZE mode (alg/contour.cpp polygon output /
    gdal_contour -p): assemble the oriented marching-squares segments
    into closed rings and emit per-ring metrics.

    The case table orients every segment with the >level region on its
    left, so each contour vertex has exactly one outgoing and one
    incoming segment — rings form a functional graph. Ring ids (min
    node id on the ring) spread by POINTER DOUBLING: `rounds` jump
    iterations cover rings up to 2^rounds segments, so the assembly is
    O(E log L) shuffle work, not a sequential walk. Node identity =
    floor(coord * scale) of the IEEE-exact endpoint doubles
    (non-negative raster coords). Returns (ring_id, n_segs, area):
    area = |ordered shoelace fold|/2, fold order pinned by segment
    coordinates so the DuckDB twin reproduces it bit-for-bit."""

    def nid(x: str, y: str):
        return (F.floor(F.col(x) * scale).cast("bigint") * F.lit(1 << 27)
                + F.floor(F.col(y) * scale).cast("bigint"))

    # checkpoint each round: a self-join loop otherwise DOUBLES the
    # logical plan per iteration (exponential Catalyst analysis time —
    # measured as the dominant cost, not the data); the caller's
    # cache.scope() releases the checkpoints
    e = cache.checkpoint(segments.select(
        nid("x1", "y1").alias("src"), nid("x2", "y2").alias("dst"),
        "x1", "y1", "x2", "y2",
    ))
    state = cache.checkpoint(e.select(F.col("src").alias("nid"), F.col("dst").alias("nxt"),
                                      F.col("src").alias("lab")))
    for _ in range(rounds):
        a, b = state.alias("a"), state.alias("b")
        state = cache.checkpoint(
            a.join(b, F.col("a.nxt") == F.col("b.nid"))
            .select(
                F.col("a.nid").alias("nid"), F.col("b.nxt").alias("nxt"),
                F.least(F.col("a.lab"), F.col("b.lab")).alias("lab"),
            )
        )
    labs = state.select("nid", "lab")
    m = e.join(labs, e["src"] == labs["nid"]).select(
        F.col("lab").alias("ring_id"), "x1", "y1", "x2", "y2",
        (F.col("x1") * F.col("y2") - F.col("x2") * F.col("y1")).alias("t"),
    )
    out = m.groupBy("ring_id").agg(
        F.count("*").alias("n_segs"),
        F.sort_array(F.collect_list(F.struct("x1", "y1", "x2", "y2", "t")))
        .alias("_terms"),
    ).select(
        "ring_id", "n_segs",
        F.round(
            F.abs(F.expr("aggregate(_terms, 0D, (a, s) -> a + s.t)")) / 2, 6
        ).alias("area"),
    )
    return out


def contour_rings_oracle_sql(level: int, width: int, band_val_sql,
                             scale: float = 1048576.0) -> str:
    """DuckDB twin of contour_segments + contour_rings: the same
    segment CASE fragments, connected components via a recursive
    label-spread CTE (min node id per ring), the same ordered shoelace
    fold."""
    seg_ctes = contour_oracle_ctes(level, width, band_val_sql).strip()
    s = int(1 << 27)
    nid1 = (f"CAST(floor(x1 * {scale!r}) AS BIGINT) * {s} "
            f"+ CAST(floor(y1 * {scale!r}) AS BIGINT)")
    nid2 = (f"CAST(floor(x2 * {scale!r}) AS BIGINT) * {s} "
            f"+ CAST(floor(y2 * {scale!r}) AS BIGINT)")
    return f"""
WITH RECURSIVE {seg_ctes},
e AS (SELECT {nid1} AS src, {nid2} AS dst, x1, y1, x2, y2 FROM segs),
r(nid, lab) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.dst, r.lab FROM r JOIN e ON e.src = r.nid
),
labs AS (SELECT nid, min(lab) AS lab FROM r GROUP BY 1),
m AS (
  SELECT l.lab AS ring_id, e.x1, e.y1, e.x2, e.y2,
         e.x1 * e.y2 - e.x2 * e.y1 AS t
  FROM e JOIN labs l ON l.nid = e.src
)
SELECT ring_id, count(*) AS n_segs,
       round(abs(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(t ORDER BY x1, y1, x2, y2)), (a, b) -> a + b)) / 2, 6) AS area
FROM m GROUP BY ring_id
"""


def contour_oracle_ctes(level: int, width: int, band_val_sql) -> str:
    """CTE text (no WITH keyword): px, cells, segs — segs holds the
    marching-squares segments from the SAME case fragments as the
    engine. Composable at the top level of a caller's WITH."""
    parts = []
    for slot in (0, 1):
        x1, y1, x2, y2, cases = slot_exprs(level, slot)
        in_list = ", ".join(str(c) for c in cases)
        parts.append(f"""
SELECT cx, cy, ({x1}) AS x1, ({y1}) AS y1, ({x2}) AS x2, ({y2}) AS y2
FROM cells WHERE ({case_expr(level)}) IN ({in_list})""")
    w = width
    return f"""
px AS (SELECT r.range % {w} AS gx, r.range // {w} AS gy FROM range({w * w}) r),
cells AS (
  SELECT gx AS cx, gy AS cy,
         {band_val_sql(f"gy * {w} + gx")} AS v00,
         {band_val_sql(f"gy * {w} + gx + 1")} AS v10,
         {band_val_sql(f"(gy + 1) * {w} + gx")} AS v01,
         {band_val_sql(f"(gy + 1) * {w} + gx + 1")} AS v11
  FROM px WHERE gx < {w - 1} AND gy < {w - 1}
),
segs AS ({" UNION ALL ".join(parts)})"""


def contour_oracle_sql(level: int, width: int, band_val_sql) -> str:
    """DuckDB twin built from the SAME case fragments. band_val_sql:
    fn(pid_expr) -> closed-form value SQL."""
    return f"""
WITH {contour_oracle_ctes(level, width, band_val_sql).strip()}
SELECT * FROM segs
"""
