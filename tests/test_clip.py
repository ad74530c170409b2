"""Half-space mesh clip kernel (operators/geometry.py clip_mesh_halfspace):
the tractable core of IfcBooleanClippingResult. Pure numpy — no Spark."""
import numpy as np
import pytest

from py3dtilers_spark.operators.geometry import (
    clip_mesh_halfspace,
    mesh_volume6,
    prism_extrude,
    triangle_normals,
)


def unit_cube():
    ring = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
    return prism_extrude(ring, 0.0, 1.0)


def test_cube_volume_baseline():
    cube = unit_cube()
    assert mesh_volume6(cube) == pytest.approx(6.0)


def test_clip_keeps_all_when_plane_below():
    cube = unit_cube()
    out = clip_mesh_halfspace(cube, [0, 0, -1.0], [0, 0, 1.0])
    assert mesh_volume6(out) == pytest.approx(6.0)


def test_clip_drops_all_when_plane_above():
    cube = unit_cube()
    out = clip_mesh_halfspace(cube, [0, 0, 2.0], [0, 0, 1.0])
    assert len(out) == 0


def test_clip_axis_aligned_half():
    cube = unit_cube()
    out = clip_mesh_halfspace(cube, [0, 0, 0.5], [0, 0, 1.0])
    # kept solid = top half, closed by the cap: volume 0.5
    assert mesh_volume6(out) == pytest.approx(3.0, abs=1e-9)
    # closed surface: area = top 1 + 4 sides x 0.5 + cap 1 = 4
    _, dbl = triangle_normals(out)
    assert dbl.sum() / 2.0 == pytest.approx(4.0, abs=1e-9)
    # bbox
    flat = out.reshape(-1, 3)
    assert flat[:, 2].min() == pytest.approx(0.5)
    assert flat[:, 2].max() == pytest.approx(1.0)


def test_clip_slanted_plane_through_center():
    cube = unit_cube()
    # plane through the centroid with normal (1,0,1): cuts the cube into
    # two congruent halves -> volume exactly 0.5
    out = clip_mesh_halfspace(cube, [0.5, 0.5, 0.5], [1.0, 0.0, 1.0])
    assert mesh_volume6(out) == pytest.approx(3.0, abs=1e-9)


def test_clip_no_cap_is_open():
    cube = unit_cube()
    capped = clip_mesh_halfspace(cube, [0, 0, 0.5], [0, 0, 1.0], cap=True)
    open_ = clip_mesh_halfspace(cube, [0, 0, 0.5], [0, 0, 1.0], cap=False)
    _, dc = triangle_normals(capped)
    _, do = triangle_normals(open_)
    assert dc.sum() / 2.0 - do.sum() / 2.0 == pytest.approx(1.0, abs=1e-9)


def test_clip_vertex_on_plane():
    # plane through a cube corner diagonal: normal (1,1,0) through (1,0,z)
    # keeps the prism x+y >= 1, volume 0.5
    cube = unit_cube()
    out = clip_mesh_halfspace(cube, [1.0, 0.0, 0.0], [1.0, 1.0, 0.0])
    assert mesh_volume6(out) == pytest.approx(3.0, abs=1e-6)


def test_double_clip_composes():
    # two successive clips = quarter cube (chained boolean results)
    cube = unit_cube()
    a = clip_mesh_halfspace(cube, [0, 0, 0.5], [0, 0, 1.0])
    b = clip_mesh_halfspace(a, [0.5, 0, 0], [1.0, 0, 0])
    assert mesh_volume6(b) == pytest.approx(1.5, abs=1e-9)
    flat = b.reshape(-1, 3)
    assert flat[:, 0].min() == pytest.approx(0.5)
    assert flat[:, 2].min() == pytest.approx(0.5)


def test_clip_nondegenerate_slant():
    # plane x + z = 0.5: slices a triangular prism off two bottom corners;
    # kept volume = 1 - (0.5 * 0.5 / 2) = 0.875
    cube = unit_cube()
    out = clip_mesh_halfspace(cube, [0.25, 0.0, 0.25], [1.0, 0.0, 1.0])
    assert mesh_volume6(out) == pytest.approx(5.25, abs=1e-9)


def test_clip_partition_property():
    """Clip by (o, n) and (o, -n): the two kept solids partition the cube,
    so their signed volumes (each closed by its own cap) sum to the whole.
    Random planes, fixed seed — covers generic, corner, and edge cuts."""
    rng = np.random.default_rng(7)
    cube = unit_cube()
    for _ in range(25):
        org = rng.uniform(-0.2, 1.2, 3)
        nrm = rng.normal(size=3)
        if np.linalg.norm(nrm) < 1e-6:
            continue
        va = mesh_volume6(clip_mesh_halfspace(cube, org, nrm))
        vb = mesh_volume6(clip_mesh_halfspace(cube, org, -nrm))
        assert va + vb == pytest.approx(6.0, abs=1e-6)
        assert -1e-9 <= va <= 6.0 + 1e-9


def square_tube():
    """Closed hollow solid: 4x4 square prism (z 0..2) with a 1x1 square
    tunnel through it — the multiply-connected clip fixture."""
    from py3dtilers_spark.operators.geometry import ear_clip_with_holes

    out_r = np.array([[-2.0, -2.0], [2.0, -2.0], [2.0, 2.0], [-2.0, 2.0]])
    in_r = np.array([[-0.5, -0.5], [0.5, -0.5], [0.5, 0.5], [-0.5, 0.5]])
    z0, z1 = 0.0, 2.0
    tris = []

    def walls(ring, reverse):
        r = ring[::-1] if reverse else ring
        n = len(r)
        for k in range(n):
            a, b = r[k], r[(k + 1) % n]
            a0, b0 = [a[0], a[1], z0], [b[0], b[1], z0]
            a1, b1 = [a[0], a[1], z1], [b[0], b[1], z1]
            tris.append([a0, b0, b1])
            tris.append([a0, b1, a1])

    walls(out_r, False)  # outward
    walls(in_r, True)    # tunnel walls face the tunnel axis
    ann = ear_clip_with_holes(out_r, [in_r])  # (T, 3, 2) CCW from +z
    top = np.concatenate([ann, np.full((*ann.shape[:2], 1), z1)], axis=2)
    bot = np.concatenate(
        [ann, np.full((*ann.shape[:2], 1), z0)], axis=2
    )[:, ::-1, :]
    return np.concatenate([np.asarray(tris, float), top, bot], axis=0)


def test_tube_baseline_closed():
    tube = square_tube()
    assert mesh_volume6(tube) == pytest.approx(6.0 * (16.0 - 1.0) * 2.0)
    _, dbl = triangle_normals(tube)
    # outer walls 16*2 + inner walls 4*2 + two annuli 2*15
    assert dbl.sum() / 2.0 == pytest.approx(32.0 + 8.0 + 30.0)


def test_clip_annulus_cap():
    """Plane across the tunnel: the cap cross-section is an ANNULUS. The
    inner loop must become a hole of the outer cap loop — re-winding and
    filling it solid (the round-4 behavior) overlaps cap triangles and
    breaks both area and closedness."""
    tube = square_tube()
    out = clip_mesh_halfspace(tube, np.array([0, 0, 1.0]), np.array([0, 0, 1.0]))
    # closed half-tube: volume (16-1)*1
    assert mesh_volume6(out) == pytest.approx(6.0 * 15.0, abs=1e-6)
    _, dbl = triangle_normals(out)
    # outer walls 16 + inner walls 4 + top annulus 15 + cap annulus 15
    assert dbl.sum() / 2.0 == pytest.approx(50.0, abs=1e-6)
    # other half too
    lo = clip_mesh_halfspace(tube, np.array([0, 0, 1.0]), np.array([0, 0, -1.0]))
    assert mesh_volume6(lo) == pytest.approx(6.0 * 15.0, abs=1e-6)


def test_prism_extrude_with_holes_closed():
    """Hollow extrusion (IfcCircleHollowProfileDef pipes): annulus caps +
    inner walls facing the bore -> closed mesh with the annulus volume."""
    out_r = np.array([[-2.0, -2.0], [2.0, -2.0], [2.0, 2.0], [-2.0, 2.0]])
    in_r = np.array([[-1.0, -1.0], [1.0, -1.0], [1.0, 1.0], [-1.0, 1.0]])
    tube = prism_extrude(out_r, 0.0, 3.0, [in_r])
    assert mesh_volume6(tube) == pytest.approx(6.0 * (16.0 - 4.0) * 3.0)
    _, dbl = triangle_normals(tube)
    # outer walls 16*3 + inner walls 8*3 + two annuli 2*12
    assert dbl.sum() / 2.0 == pytest.approx(48.0 + 24.0 + 24.0)
    # CW-specified hole must behave identically (winding normalized)
    tube2 = prism_extrude(out_r, 0.0, 3.0, [in_r[::-1]])
    assert mesh_volume6(tube2) == pytest.approx(6.0 * 12.0 * 3.0)
