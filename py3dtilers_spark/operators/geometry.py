"""Geometry kernels G2/G3/G5/G7: ear-clip triangulation, prism extrusion,
polyline->buffered-polygon, triangle normals.

Pure-numpy reimplementations of the reference's geometry stages —
triangulation (/root/reference/py3dtilers/Common/polygon_extrusion.py:86 via
the `triangle`/earcut libs), prism extrusion
(/root/reference/py3dtilers/GeojsonTiler/geojson.py:246-334 and
Common/polygon_extrusion.py:68-100), line buffering
(GeojsonTiler/lineBuffer.py:14-74, shapely parallel_offset + miter joins),
and face normals (Common/obj_writer.py:58-68, one cross product per face).

Spark surface: each kernel runs inside ``applyInPandas`` over a ring-vertex
table grouped by feature id — vertices of one ring are tiny (<10^2 rows), so
a ring never spans partitions and the group shuffle is the only data motion.
Outputs are integer invariants (triangle counts, doubled areas — exact for
integer vertex coordinates) so a DuckDB oracle can verify them closed-form.
"""
from __future__ import annotations

import numpy as np


def ear_clip(ring: np.ndarray) -> np.ndarray:
    """Triangulate a simple polygon (CCW exterior ring, no closing vertex)
    by ear clipping. Returns (n-2, 3) int32 vertex-index triples.

    Mirrors the reference's earcut stage semantics (n-2 triangles, area
    preserved); the algorithm is the classic O(n^2) ear test — convex corner
    whose triangle contains no other vertex.
    """
    n = len(ring)
    if n < 3:
        return np.empty((0, 3), dtype=np.int32)
    idx = list(range(n))
    tris = []
    guard = 0
    while len(idx) > 3 and guard < 2 * n * n:
        guard += 1
        m = len(idx)
        for k in range(m):
            i0, i1, i2 = idx[(k - 1) % m], idx[k], idx[(k + 1) % m]
            a, b, c = ring[i0], ring[i1], ring[i2]
            # convex corner of a CCW ring: left turn
            cross = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
            if cross <= 0:
                continue
            others = [j for j in idx if j not in (i0, i1, i2)]
            if others and _any_point_in_tri(ring[others], a, b, c):
                continue
            tris.append((i0, i1, i2))
            del idx[k]
            break
        else:
            # no ear found: degenerate / self-intersecting input. Returning a
            # truncated fan here would silently corrupt n_tri/area invariants
            # downstream — surface the failure as an empty triangulation
            # instead (callers treat 0 triangles as "degenerate ring").
            return np.empty((0, 3), dtype=np.int32)
    if len(idx) != 3:  # guard-counter exit: same degenerate contract
        return np.empty((0, 3), dtype=np.int32)
    tris.append(tuple(idx[:3]))
    return np.asarray(tris, dtype=np.int32)


def _any_point_in_tri(pts: np.ndarray, a, b, c) -> bool:
    """True if any point is strictly inside (or on the boundary of) tri abc.
    Points exactly coinciding with a corner (bridge duplicates from the
    holes path) do not block the ear."""
    d1 = (b[0] - a[0]) * (pts[:, 1] - a[1]) - (b[1] - a[1]) * (pts[:, 0] - a[0])
    d2 = (c[0] - b[0]) * (pts[:, 1] - b[1]) - (c[1] - b[1]) * (pts[:, 0] - b[0])
    d3 = (a[0] - c[0]) * (pts[:, 1] - c[1]) - (a[1] - c[1]) * (pts[:, 0] - c[0])
    corner = (
        ((pts[:, 0] == a[0]) & (pts[:, 1] == a[1]))
        | ((pts[:, 0] == b[0]) & (pts[:, 1] == b[1]))
        | ((pts[:, 0] == c[0]) & (pts[:, 1] == c[1]))
    )
    return bool(np.any((d1 >= 0) & (d2 >= 0) & (d3 >= 0) & ~corner))


def _signed_area2(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    return float(np.sum(x * y2 - x2 * y))


def _segments_cross(p1, p2, q1, q2) -> bool:
    """Proper intersection test (shared endpoints do not count)."""

    def orient(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    d1 = orient(q1, q2, p1)
    d2 = orient(q1, q2, p2)
    d3 = orient(p1, p2, q1)
    d4 = orient(p1, p2, q2)
    # STRICT straddling both ways: touching (any zero orientation, e.g. a
    # shared endpoint) is not a proper crossing
    return ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
        (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
    )


def ear_clip_with_holes(ring: np.ndarray, holes: list[np.ndarray]) -> np.ndarray:
    """G1: triangulate a polygon with interior holes (the reference feeds
    vertices + hole markers to the `triangle` library, geojson.py:182-244;
    here each hole is bridged into the exterior ring — the earcut linking
    strategy — then the plain ear clip runs). ring CCW, holes any
    orientation. Returns (T, 2) vertex COORDS triangles as (T, 3, 2)."""
    merged = [tuple(p) for p in np.asarray(ring, dtype=np.float64)]
    for hole in sorted(
        holes, key=lambda h: -float(np.max(np.asarray(h)[:, 0]))
    ):
        hole = np.asarray(hole, dtype=np.float64)
        if _signed_area2(hole) > 0:
            hole = hole[::-1]  # holes run CW inside a CCW exterior
        j = int(np.argmax(hole[:, 0]))
        hp = hole[j]
        # bridge anchor: a crossing-free merged vertex, RIGHTWARD candidates
        # first (the earcut +x-ray linking rule) — a leftward bridge from the
        # hole's rightmost vertex can run collinearly through other hole
        # corners and stall the ear scan
        order = sorted(
            range(len(merged)),
            key=lambda i: (
                merged[i][0] < hp[0],
                (merged[i][0] - hp[0]) ** 2 + (merged[i][1] - hp[1]) ** 2,
            ),
        )
        pick = None
        for i in order:
            mp = merged[i]
            ok = True
            for k in range(len(merged)):
                a, b = merged[k], merged[(k + 1) % len(merged)]
                if _segments_cross(hp, mp, a, b):
                    ok = False
                    break
            if ok:
                for k in range(len(hole)):
                    a, b = hole[k], hole[(k + 1) % len(hole)]
                    if _segments_cross(hp, mp, tuple(a), tuple(b)):
                        ok = False
                        break
            if ok:
                pick = i
                break
        if pick is None:  # degenerate input: skip the hole
            continue
        rolled = [tuple(p) for p in np.roll(hole, -j, axis=0)]
        merged = (
            merged[: pick + 1] + rolled + [rolled[0]] + [merged[pick]] + merged[pick + 1 :]
        )
    mring = np.asarray(merged, dtype=np.float64)
    tris = ear_clip(mring)
    return mring[tris]


def strip_triangles(length: int) -> np.ndarray:
    """G6: index triples of the reference's custom strip triangulation for
    buffered-line polygons (geojson.py:48-63): the ring's first half is one
    rail, the mirrored second half the other. Returns (2*(L//2-1), 3)."""
    tris = []
    for i in range(length // 2 - 1):
        tris.append((i, length - 1 - i, i + 1))
        tris.append((i + 1, length - 1 - i, length - 2 - i))
    return np.asarray(tris, dtype=np.int32)


def tri_doubled_areas(ring: np.ndarray, tris: np.ndarray) -> np.ndarray:
    """|cross| per triangle = 2x area; exact for integer coords (float64
    products of <2^26 ints are exact)."""
    a = ring[tris[:, 0]]
    b = ring[tris[:, 1]]
    c = ring[tris[:, 2]]
    return np.abs(
        (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
        - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0])
    )


def prism_extrude(
    ring: np.ndarray, z0: float, z1: float, holes: list = ()
) -> np.ndarray:
    """Extrude a CCW 2-D ring, with optional interior holes, into a closed
    prism (the reference's LOD1 / extruded-polygon shape,
    geojson.py:246-334). Returns (T, 3, 3) float64 triangles: top cap
    (ear-clipped via ear_clip_with_holes (G1), +z normals), bottom cap
    (reversed winding, -z), two triangles per outer side quad,
    outward-facing, and hole walls wound so their normals face INTO each
    hole (outward for the solid) — the hollow-profile extrusion of e.g.
    IfcCircleHollowProfileDef pipes."""
    cap2 = ear_clip_with_holes(ring, holes)  # (T, 3, 2) CCW coords
    tris = []
    for t in cap2:
        tris.append([[t[0][0], t[0][1], z1], [t[1][0], t[1][1], z1],
                     [t[2][0], t[2][1], z1]])
        tris.append([[t[0][0], t[0][1], z0], [t[2][0], t[2][1], z0],
                     [t[1][0], t[1][1], z0]])

    def walls(r: np.ndarray, reverse: bool) -> None:
        r = np.asarray(r, dtype=np.float64)
        if reverse:
            r = r[::-1]
        n = len(r)
        for i in range(n):
            j = (i + 1) % n
            bi = [r[i][0], r[i][1], z0]
            bj = [r[j][0], r[j][1], z0]
            ti = [r[i][0], r[i][1], z1]
            tj = [r[j][0], r[j][1], z1]
            tris.append([bi, bj, tj])
            tris.append([bi, tj, ti])

    walls(ring, reverse=False)  # CCW -> outward
    for h in holes:
        h = np.asarray(h, dtype=np.float64)
        # hole walls outward-for-the-solid = facing the hole: traverse CW
        walls(h, reverse=_signed_area2(h) > 0)
    return np.asarray(tris, dtype=np.float64)


def sweep_disk(
    pts: np.ndarray,
    radius: float,
    segments: int = 16,
    inner_radius: float | None = None,
) -> np.ndarray:
    """Sweep a disk along a 3-D polyline directrix into a closed tube —
    the IfcSweptDiskSolid shape (pipes/conduits in MEP models), which the
    reference obtains wholesale from ifcopenshell
    (/root/reference/py3dtilers/IfcTiler/ifcObjectGeom.py:74-130).

    Cross-section frames are PARALLEL-TRANSPORTED along the path (each
    vertex normal is the previous one re-projected perpendicular to the
    new tangent — no torsion flips), with miter tangents at interior
    vertices. Caps close both ends; a non-None inner_radius adds the bore
    surface (inverted winding) and annular end caps. Returns (T, 3, 3)
    float64 triangles, outward-oriented."""
    pts = np.asarray(pts, dtype=np.float64).reshape(-1, 3)
    keep = [0]
    for k in range(1, len(pts)):  # drop zero-length segments
        if np.linalg.norm(pts[k] - pts[keep[-1]]) > 1e-12:
            keep.append(k)
    pts = pts[keep]
    if len(pts) < 2:
        return np.empty((0, 3, 3), dtype=np.float64)
    segs = np.diff(pts, axis=0)
    dirs = segs / np.linalg.norm(segs, axis=1)[:, None]
    # per-vertex (miter) tangents
    tans = np.vstack([dirs[:1], dirs[:-1] + dirs[1:], dirs[-1:]])
    tl = np.linalg.norm(tans, axis=1)
    tl[tl < 1e-12] = 1.0  # 180-degree reversal: keep an arbitrary frame
    tans = tans / tl[:, None]
    # initial normal: anything perpendicular to the first tangent
    a = np.array([1.0, 0.0, 0.0])
    if abs(tans[0] @ a) > 0.9:
        a = np.array([0.0, 1.0, 0.0])
    n = np.cross(tans[0], a)
    n /= np.linalg.norm(n)
    theta = np.arange(segments) * (2.0 * np.pi / segments)
    ct, st = np.cos(theta), np.sin(theta)

    def rings_along_path(r: float) -> np.ndarray:
        nn = n.copy()
        rings = np.empty((len(pts), segments, 3))
        for i, t in enumerate(tans):
            nn = nn - (nn @ t) * t  # parallel transport
            ln = np.linalg.norm(nn)
            if ln < 1e-12:  # tangent parallel to carried normal: re-seed
                b0 = np.array([1.0, 0.0, 0.0])
                if abs(t @ b0) > 0.9:
                    b0 = np.array([0.0, 1.0, 0.0])
                nn = np.cross(t, b0)
                ln = np.linalg.norm(nn)
            nn /= ln
            bb = np.cross(t, nn)
            off = r * (ct[:, None] * nn[None, :] + st[:, None] * bb[None, :])
            if 0 < i < len(pts) - 1:
                # TRUE MITER at interior vertices: the cross-section in the
                # bisector plane is the cylinder's elliptical intersection —
                # stretch the circular offset by 1/cos(half-bend-angle)
                # along the in-plane direction (a circular ring would pinch
                # the elbow: ~18% volume loss on a 90-degree bend at r=0.2)
                d0, d1 = dirs[i - 1], dirs[i]
                e = d1 - d0
                el = np.linalg.norm(e)
                cosh = np.linalg.norm(d0 + d1) / 2.0
                if el > 1e-12 and cosh > 1e-6:
                    e = e / el
                    off = off + np.outer(off @ e, e) * (1.0 / cosh - 1.0)
            rings[i] = pts[i][None, :] + off
        return rings

    def tube_walls(rings: np.ndarray, invert: bool) -> list:
        tris = []
        for i in range(len(rings) - 1):
            r0, r1 = rings[i], rings[i + 1]
            for k in range(segments):
                j = (k + 1) % segments
                quad = (
                    [r0[k], r0[j], r1[j]], [r0[k], r1[j], r1[k]]
                )
                if invert:
                    quad = (
                        [r0[k], r1[j], r0[j]], [r0[k], r1[k], r1[j]]
                    )
                tris.extend(quad)
        return tris

    outer = rings_along_path(radius)
    tris = tube_walls(outer, invert=False)
    if inner_radius and inner_radius > 0.0:
        inner = rings_along_path(inner_radius)
        tris.extend(tube_walls(inner, invert=True))
        for end, flip in ((0, True), (-1, False)):
            ro, ri = outer[end], inner[end]
            for k in range(segments):
                j = (k + 1) % segments
                quads = ([ro[k], ro[j], ri[j]], [ro[k], ri[j], ri[k]])
                if flip:
                    quads = ([ro[k], ri[j], ro[j]], [ro[k], ri[k], ri[j]])
                tris.extend(quads)
    else:
        for end, flip in ((0, True), (-1, False)):
            ring = outer[end]
            c = ring.mean(axis=0)
            for k in range(segments):
                j = (k + 1) % segments
                tri = [c, ring[k], ring[j]]
                if flip:
                    tri = [c, ring[j], ring[k]]
                tris.append(tri)
    return np.asarray(tris, dtype=np.float64)


def triangle_normals(tris: np.ndarray):
    """Face normals + doubled areas of (T, 3, 3) triangles — the vectorized
    form of the reference's per-face cross product (obj_writer.py:58-68).

    Returns (unit_normals (T,3) — zero rows for degenerate faces,
    doubled_areas (T,)).
    """
    e1 = tris[:, 1] - tris[:, 0]
    e2 = tris[:, 2] - tris[:, 0]
    cr = np.cross(e1, e2)
    dbl = np.sqrt((cr * cr).sum(axis=1))
    unit = np.zeros_like(cr)
    nz = dbl > 0
    unit[nz] = cr[nz] / dbl[nz, None]
    return unit, dbl


def buffer_polyline(points: np.ndarray, width: float) -> np.ndarray:
    """Polyline -> buffered polygon ring (the reference's LineBuffer,
    lineBuffer.py:14-74): flat caps, miter joins at width/2 per side.

    points: (N, 2); returns (<=2N, 2) ring — left offsets forward then right
    offsets backward. Collinear joins fall back to the shared offset point
    (the reference drops the NaN miter of parallel segments).
    """
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    off = width / 2.0
    d = pts[1:] - pts[:-1]                      # (n-1, 2) segment vectors
    ln = np.sqrt((d * d).sum(axis=1))
    u = d / ln[:, None]
    nrm = np.column_stack([-u[:, 1], u[:, 0]])  # left normal per segment
    left = []
    right = []
    left.append(pts[0] + nrm[0] * off)
    right.append(pts[0] - nrm[0] * off)
    for i in range(n - 2):
        for sign, out in ((1.0, left), (-1.0, right)):
            p1 = pts[i] + sign * nrm[i] * off
            p2 = pts[i + 1] + sign * nrm[i + 1] * off
            cross = u[i][0] * u[i + 1][1] - u[i][1] * u[i + 1][0]
            if abs(cross) < 1e-12:              # collinear: offsets coincide
                out.append(p2)
                continue
            # miter: intersect the two offset lines
            t = ((p2 - p1)[0] * u[i + 1][1] - (p2 - p1)[1] * u[i + 1][0]) / cross
            out.append(p1 + u[i] * t)
    left.append(pts[-1] + nrm[-1] * off)
    right.append(pts[-1] - nrm[-1] * off)
    return np.asarray(left + right[::-1], dtype=np.float64)


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone-chain convex hull, CCW without closing vertex —
    the reference's footprint extraction for ExtrudedPolygon is
    ``alphashape(points, 0.)`` (alpha = 0 == convex hull,
    polygon_extrusion.py:40-60)."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)  # lex sort
    if len(pts) <= 2:
        return pts

    def half(seq):
        out: list[np.ndarray] = []
        for p in seq:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def delaunay(points: np.ndarray) -> np.ndarray:
    """Bowyer-Watson Delaunay triangulation (pure numpy, O(n^2)) —
    sufficient for per-feature footprints (tens to hundreds of points per
    applyInPandas group; never a whole-table driver op). Returns (T, 3)
    int32 indices into `points`."""
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return np.empty((0, 3), dtype=np.int32)
    # super-triangle: far enough that no real circumcircle (even of the
    # long slivers between distant clusters) reaches a super vertex
    c = pts.mean(axis=0)
    r = np.max(np.hypot(*(pts - c).T)) * 1000 + 1.0
    aug = np.vstack(
        [pts, c + [0, 2 * r], c + [-1.8 * r, -r], c + [1.8 * r, -r]]
    )
    tris: list[tuple[int, int, int]] = [(n, n + 1, n + 2)]
    for i in range(n):
        p = aug[i]
        bad = []
        for t_idx, (a, b, cc) in enumerate(tris):
            if _in_circumcircle(aug[a], aug[b], aug[cc], p):
                bad.append(t_idx)
        # boundary polygon of the bad region = edges appearing once
        edge_count: dict[tuple[int, int], int] = {}
        for t_idx in bad:
            a, b, cc = tris[t_idx]
            for e in ((a, b), (b, cc), (cc, a)):
                key = (min(e), max(e))
                edge_count[key] = edge_count.get(key, 0) + 1
        for t_idx in sorted(bad, reverse=True):
            del tris[t_idx]
        for (a, b), cnt in edge_count.items():
            if cnt == 1:
                # orient CCW with the new point
                cross = (aug[b][0] - aug[a][0]) * (p[1] - aug[a][1]) - (
                    aug[b][1] - aug[a][1]
                ) * (p[0] - aug[a][0])
                tris.append((a, b, i) if cross > 0 else (b, a, i))
    out = [t for t in tris if max(t) < n]
    return np.asarray(out, dtype=np.int32) if out else np.empty((0, 3), np.int32)


def _in_circumcircle(a, b, c, p) -> bool:
    """p strictly inside the circumcircle of CCW triangle abc (sign-safe
    for CW input via the orientation factor)."""
    m = np.array(
        [
            [a[0] - p[0], a[1] - p[1], (a[0] - p[0]) ** 2 + (a[1] - p[1]) ** 2],
            [b[0] - p[0], b[1] - p[1], (b[0] - p[0]) ** 2 + (b[1] - p[1]) ** 2],
            [c[0] - p[0], c[1] - p[1], (c[0] - p[0]) ** 2 + (c[1] - p[1]) ** 2],
        ]
    )
    det = np.linalg.det(m)
    orient = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    return bool(det * np.sign(orient) > 1e-12)


def alpha_shape_edges(points: np.ndarray, alpha: float) -> np.ndarray:
    """G4 general path: boundary edges of the alpha complex (Delaunay
    triangles with circumradius < 1/alpha); alpha == 0 degenerates to the
    convex hull boundary, matching the `alphashape` library contract the
    reference calls. Returns (E, 2) index pairs."""
    pts = np.asarray(points, dtype=np.float64)
    tris = delaunay(pts)
    if len(tris) == 0:
        return np.empty((0, 2), dtype=np.int32)
    keep = []
    for a, b, c in tris:
        if alpha <= 0:
            keep.append((a, b, c))
            continue
        ra = _circumradius(pts[a], pts[b], pts[c])
        if ra < 1.0 / alpha:
            keep.append((a, b, c))
    edge_count: dict[tuple[int, int], int] = {}
    for a, b, c in keep:
        for e in ((a, b), (b, c), (c, a)):
            key = (min(e), max(e))
            edge_count[key] = edge_count.get(key, 0) + 1
    return np.asarray(
        [e for e, cnt in edge_count.items() if cnt == 1], dtype=np.int32
    )


def _circumradius(a, b, c) -> float:
    la = np.hypot(*(b - c))
    lb = np.hypot(*(a - c))
    lc = np.hypot(*(a - b))
    area2 = abs((b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0]))
    if area2 == 0:
        return float("inf")
    return la * lb * lc / (2.0 * area2)


def ring_doubled_area(ring: np.ndarray) -> float:
    """Shoelace |sum|: doubled polygon area (exact for integer coords)."""
    x, y = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    return float(abs(np.sum(x * y2 - x2 * y)))


def mesh_volume6(tris: np.ndarray) -> float:
    """Six times the signed volume of a closed triangle soup (divergence
    theorem over origin-anchored tetrahedra). Positive for outward-CCW
    winding; used by the boolean-clip tests to pin the clipped solid."""
    if len(tris) == 0:
        return 0.0
    a, b, c = tris[:, 0], tris[:, 1], tris[:, 2]
    return float(np.sum(np.einsum("ij,ij->i", a, np.cross(b, c))))


def clip_mesh_halfspace(
    tris: np.ndarray,
    origin: np.ndarray,
    normal: np.ndarray,
    cap: bool = True,
    eps: float = 1e-9,
) -> np.ndarray:
    """Clip a closed triangle mesh by a plane, keeping the half-space
    `dot(normal, p - origin) >= 0`, and (by default) sealing the cut with
    planar cap triangles so the result is closed again.

    This is the tractable core of IfcBooleanClippingResult — DIFFERENCE
    against an IfcHalfSpaceSolid whose surface is an IfcPlane (sloped roofs
    / wall cuts), the boolean form that dominates real IFC files. The
    reference obtains these meshes wholesale from ifcopenshell
    (/root/reference/py3dtilers/IfcTiler/ifcObjectGeom.py:74-130); here the
    clip is ~80 lines of numpy: per-triangle Sutherland-Hodgman against one
    half-plane (1 or 2 output triangles), then cap loops reassembled from
    the cut segments and ear-clipped in the plane's 2-D frame. General
    solid-solid booleans (IfcBooleanResult with two BReps) remain out of
    scope.

    tris: (n, 3, 3) float; origin/normal: (3,) plane definition. Returns a
    new (m, 3, 3) soup; empty when the solid lies entirely below the plane.
    """
    tris = np.asarray(tris, dtype=np.float64).reshape(-1, 3, 3)
    nrm = np.asarray(normal, dtype=np.float64)
    nlen = float(np.linalg.norm(nrm))
    if len(tris) == 0 or nlen == 0.0:
        return tris
    nrm = nrm / nlen
    org = np.asarray(origin, dtype=np.float64)
    d = np.einsum("ijk,k->ij", tris - org, nrm)  # (n, 3) signed dists

    keep_all = np.all(d >= -eps, axis=1)
    drop_all = np.all(d <= eps, axis=1) & ~keep_all
    out: list[np.ndarray] = [tris[keep_all]]
    cut_segments: list[tuple[np.ndarray, np.ndarray]] = []

    # when the plane passes exactly through mesh edges (axis-aligned cuts,
    # planes through corners), no triangle strictly crosses — the cap ring
    # is instead bounded by ON-PLANE edges of DROPPED triangles (each such
    # edge borders kept geometry across the cut). Collect them as segments;
    # a dropped-dropped shared edge duplicates harmlessly (its 2-node loop
    # fails the area filter).
    for ti in np.nonzero(drop_all)[0]:
        v, dv = tris[ti], d[ti]
        on = np.abs(dv) <= eps
        if on.sum() == 2:
            i, j = np.nonzero(on)[0]
            cut_segments.append((v[i], v[j]))

    def lerp(p, q, dp, dq):
        t = dp / (dp - dq)
        return p + t * (q - p)

    for ti in np.nonzero(~keep_all & ~drop_all)[0]:
        v, dv = tris[ti], d[ti]
        # walk the triangle as a polygon, emitting the kept sub-polygon and
        # the (single, because a triangle is convex) on-plane cut segment
        poly: list[np.ndarray] = []
        plane_pts: list[np.ndarray] = []
        for i in range(3):
            j = (i + 1) % 3
            p, q, dp, dq = v[i], v[j], dv[i], dv[j]
            if dp >= -eps:
                poly.append(p)
                if abs(dp) <= eps:
                    plane_pts.append(p)
            if (dp > eps and dq < -eps) or (dp < -eps and dq > eps):
                x = lerp(p, q, dp, dq)
                poly.append(x)
                plane_pts.append(x)
        if len(poly) >= 3:
            poly_a = np.asarray(poly)
            fan = np.stack(
                [
                    np.repeat(poly_a[:1], len(poly_a) - 2, axis=0),
                    poly_a[1:-1],
                    poly_a[2:],
                ],
                axis=1,
            )
            out.append(fan)
        if len(plane_pts) == 2:
            cut_segments.append((plane_pts[0], plane_pts[1]))

    if cap and cut_segments:
        out.extend(_cap_from_segments(cut_segments, org, nrm, eps))
    parts = [p for p in out if len(p)]
    if not parts:
        return np.empty((0, 3, 3), dtype=np.float64)
    return np.concatenate(parts, axis=0)


def _cap_from_segments(
    segments: list, org: np.ndarray, nrm: np.ndarray, eps: float
) -> list[np.ndarray]:
    """Reassemble the on-plane cut segments into closed loops and ear-clip
    each in the plane's 2-D frame, winding the cap so its normal is -nrm
    (outward for the kept half-space).

    Multiply-connected cross-sections (the plane cutting a solid around an
    interior void — an annulus cap) yield NESTED loops: a loop contained in
    an odd number of larger loops is a HOLE of its smallest container and
    is passed to ear_clip_with_holes instead of being re-wound and filled
    solid (which would overlap cap triangles and break closedness)."""
    # 2-D frame in the plane
    a = np.array([1.0, 0.0, 0.0])
    if abs(nrm @ a) > 0.9:
        a = np.array([0.0, 1.0, 0.0])
    u = np.cross(nrm, a)
    u /= np.linalg.norm(u)
    v = np.cross(nrm, u)

    def key(p):
        return (round(float((p - org) @ u), 7), round(float((p - org) @ v), 7))

    # adjacency: endpoint key -> list of (other key)
    adj: dict = {}
    pts3: dict = {}
    for p, q in segments:
        kp, kq = key(p), key(q)
        if kp == kq:
            continue
        adj.setdefault(kp, []).append(kq)
        adj.setdefault(kq, []).append(kp)
        pts3.setdefault(kp, p)
        pts3.setdefault(kq, q)
    used = set()
    loops2: list[tuple[np.ndarray, list]] = []  # (CCW ring2, loop keys)
    for start in adj:
        if start in used or not adj[start]:
            continue
        loop = [start]
        used.add(start)
        cur, prev = start, None
        while True:
            nxt = None
            for cand in adj[cur]:
                if cand != prev and (cand == start or cand not in used):
                    nxt = cand
                    break
            if nxt is None or nxt == start:
                break
            loop.append(nxt)
            used.add(nxt)
            prev, cur = cur, nxt
        if len(loop) < 3:
            continue
        ring2 = np.array(loop, dtype=np.float64)
        # SIGNED shoelace (ring_doubled_area is |abs|): ear_clip demands a
        # CCW exterior, and the walk direction of the segment graph is
        # arbitrary, so a CW loop must be reversed here
        x2s, y2s = ring2[:, 0], ring2[:, 1]
        area2 = float(
            np.sum(x2s * np.roll(y2s, -1) - np.roll(x2s, -1) * y2s)
        )
        if abs(area2) < eps:
            continue
        if area2 < 0:
            ring2 = ring2[::-1]
            loop = loop[::-1]
        # cut segments from coplanar triangle fans leave collinear run-on
        # vertices on the loop (e.g. a face diagonal's midpoint between two
        # edge midpoints); the strict ear test rejects those corners, so
        # simplify them away first
        keep_idx = []
        m = len(ring2)
        scale = max(float(np.abs(ring2).max()), 1.0)
        for i in range(m):
            p0, p1, p2 = ring2[i - 1], ring2[i], ring2[(i + 1) % m]
            cr = (p1[0] - p0[0]) * (p2[1] - p1[1]) - (p1[1] - p0[1]) * (
                p2[0] - p1[0]
            )
            if abs(cr) > eps * scale * scale:
                keep_idx.append(i)
        if len(keep_idx) < 3:
            continue
        ring2 = ring2[keep_idx]
        loop = [loop[i] for i in keep_idx]
        loops2.append((ring2, loop))

    # nesting: even containment depth -> outer cap face; odd -> hole of its
    # smallest container (annulus cross-section). O(L^2) point-in-polygon
    # on L = #loops of ONE solid's cut — single digits in practice.
    areas = [abs(_signed_area2(r)) for r, _ in loops2]
    containers: list[list[int]] = [[] for _ in loops2]
    for i, (ri, _) in enumerate(loops2):
        for j, (rj, _) in enumerate(loops2):
            if i != j and areas[j] > areas[i] and _point_in_ring2(ri[0], rj):
                containers[i].append(j)
    holes_of: dict[int, list[int]] = {}
    outers: list[int] = []
    for i in range(len(loops2)):
        if len(containers[i]) % 2 == 0:
            outers.append(i)
        else:
            parent = min(containers[i], key=lambda j: areas[j])
            holes_of.setdefault(parent, []).append(i)

    caps: list[np.ndarray] = []
    for i in outers:
        ring2, loop = loops2[i]
        hole_ids = holes_of.get(i, [])
        if hole_ids:
            tri2 = ear_clip_with_holes(
                ring2, [loops2[h][0] for h in hole_ids]
            )
            if len(tri2) == 0:
                continue
            # lift the (u, v)-frame coords back to 3-D: on-plane points are
            # org + x*u + y*v (u, v orthonormal; bridge vertices introduced
            # by the hole linking have no 3-D original to look up)
            cap_tris = (
                org[None, None, :]
                + tri2[:, :, 0:1] * u[None, None, :]
                + tri2[:, :, 1:2] * v[None, None, :]
            )
        else:
            idx = ear_clip(ring2)
            if len(idx) == 0:
                continue
            p3 = np.array([pts3[k] for k in loop])
            cap_tris = p3[idx]
        # CCW in the (u, v) frame gives triangle normal +nrm (u x v = nrm
        # frame is right-handed); the cap must face -nrm -> flip winding
        caps.append(cap_tris[:, ::-1, :])
    return caps


def _point_in_ring2(pt, ring: np.ndarray) -> bool:
    """Even-odd ray cast of 2-D `pt` against polygon `ring` ((N, 2))."""
    x, y = float(pt[0]), float(pt[1])
    inside = False
    n = len(ring)
    for k in range(n):
        x1, y1 = ring[k]
        x2, y2 = ring[(k + 1) % n]
        if (y1 > y) != (y2 > y):
            xin = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
            if x < xin:
                inside = not inside
    return inside


def revolve_ring(
    ring: np.ndarray,
    axis_pt: np.ndarray,
    axis_dir: np.ndarray,
    angle: float,
    segments: int = 32,
) -> np.ndarray:
    """Revolve a closed 2-D profile ring about an in-plane axis into a
    closed triangle mesh — the IfcRevolvedAreaSolid subset of the geometry
    the reference obtains wholesale from ifcopenshell
    (/root/reference/py3dtilers/IfcTiler/ifcObjectGeom.py:91-112 consumes
    the evaluated shape; IFC4 IfcRevolvedAreaSolid sweeps SweptArea about
    Axis by Angle, the axis lying in the profile plane z=0).

    ring      (N, 2) profile vertices (either winding; not crossing the axis)
    axis_pt   (2,)  a point on the axis, profile coordinates
    axis_dir  (2,)  axis direction, profile coordinates (normalized here)
    angle     sweep in radians; >= 2*pi - 1e-9 closes the ring (no caps)
    segments  facets over the swept angle

    Returns (T, 3, 3) float64 triangles, outward-oriented (positive
    mesh_volume6), degenerate (zero-area) faces removed. Raises ValueError
    if the profile crosses the axis (invalid IFC) or inputs degenerate.
    """
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) < 3:
        raise ValueError("revolve_ring: profile needs >= 3 vertices")
    d = np.asarray(axis_dir, dtype=np.float64)
    nrm = np.hypot(d[0], d[1])
    if nrm == 0.0 or not np.isfinite(nrm):
        raise ValueError("revolve_ring: zero/invalid axis direction")
    d = d / nrm
    a = np.asarray(axis_pt, dtype=np.float64)
    # one-side requirement: signed in-plane distance from the axis line
    side = d[0] * (ring[:, 1] - a[1]) - d[1] * (ring[:, 0] - a[0])
    span = float(np.abs(side).max())
    if span == 0.0:
        raise ValueError("revolve_ring: profile collapsed onto the axis")
    if side.min() < -1e-12 * max(span, 1.0) < 1e-12 * max(span, 1.0) < side.max():
        raise ValueError("revolve_ring: profile crosses the revolution axis")

    full = angle >= 2.0 * np.pi - 1e-9
    segs = max(3, int(segments))
    steps = segs if full else max(1, segs)
    phis = (
        np.linspace(0.0, 2.0 * np.pi, segs, endpoint=False)
        if full
        else np.linspace(0.0, float(angle), steps + 1)
    )

    # basis-free rotation about the 3-D line (A3 + s*D), D in the z=0 plane
    a3 = np.array([a[0], a[1], 0.0])
    d3 = np.array([d[0], d[1], 0.0])
    v = np.column_stack([ring, np.zeros(len(ring))]) - a3      # (N, 3)
    t_par = v @ d3                                             # (N,)
    v_par = t_par[:, None] * d3[None, :]
    v_perp = v - v_par
    w = np.cross(np.broadcast_to(d3, v_perp.shape), v_perp)    # sweep dir
    # grid[k, i] = profile point i rotated by phis[k]
    cosp = np.cos(phis)[:, None, None]
    sinp = np.sin(phis)[:, None, None]
    grid = a3 + v_par[None] + cosp * v_perp[None] + sinp * w[None]

    n = len(ring)
    tris: list[np.ndarray] = []
    n_steps = len(phis) if full else steps
    for k in range(n_steps):
        k1 = (k + 1) % len(phis)
        p0, p1 = grid[k], grid[k1]
        for i in range(n):
            j = (i + 1) % n
            tris.append([p0[i], p0[j], p1[j]])
            tris.append([p0[i], p1[j], p1[i]])
    if not full:
        caps = ear_clip(ring)
        start, end = grid[0], grid[-1]
        for i0, i1, i2 in caps:
            tris.append([start[i0], start[i2], start[i1]])
            tris.append([end[i0], end[i1], end[i2]])
    mesh = np.asarray(tris, dtype=np.float64)
    _, dbl = triangle_normals(mesh)
    mesh = mesh[dbl > 0]
    # normalize to outward orientation (axis side / sweep sign / profile
    # winding each flip it; the closed-mesh volume sign settles all three)
    if mesh_volume6(mesh) < 0:
        mesh = mesh[:, ::-1, :]
    return mesh
