"""S3: distributed IFC STEP scan, against a synthetic fixture in the
ISO-10303-21 format (the shape of the reference's tests/ifc_tiler_test_data)."""
import pytest

from py3dtilers_spark.sources.ifc_io import (
    ifc_class_counts,
    ifc_containment,
    ifc_entities,
    ifc_group_by_class_and_container,
    ifc_points_bbox,
    ifc_products,
)

IFC_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#10= IFCBUILDING('BLDG_A',#1,'Building A',$,$,$,$,$,$,$,$,$);
#11= IFCBUILDINGSTOREY('STOREY_A0',#1,'Ground',$,$,$,$,$,$,0.);
#20= IFCWALL('WALL_1',#1,'W1',$,$,$,$,$);
#21= IFCWALL('WALL_2',#1,'W2',$,$,$,$,$);
#22= IFCSLAB('SLAB_1',#1,'S1',$,$,$,$,$,.FLOOR.);
#23= IFCDOOR('DOOR_1',#1,'D1',$,$,$,$,$,2.1,0.9);
#30= IFCCARTESIANPOINT((0.,0.,0.));
#31= IFCCARTESIANPOINT((12.5,0.,0.));
#32= IFCCARTESIANPOINT((12.5,8.,3.2));
#33= IFCCARTESIANPOINT((-1.,8.));
#40= IFCRELCONTAINEDINSPATIALSTRUCTURE('REL_1',#1,$,$,(#20,#21,#22),#11);
#41= IFCRELCONTAINEDINSPATIALSTRUCTURE('REL_2',#1,$,$,(#23),#10);
ENDSEC;
END-ISO-10303-21;
"""


def _fixture(tmp_path):
    p = tmp_path / "model.ifc"
    p.write_text(IFC_TEXT)
    return str(p)


def test_ifc_scan_and_counts(spark, tmp_path):
    ents = ifc_entities(spark, _fixture(tmp_path))
    counts = {r["ifc_class"]: r["n"] for r in ifc_class_counts(ents).collect()}
    assert counts["IFCWALL"] == 2
    assert counts["IFCCARTESIANPOINT"] == 4
    assert counts["IFCRELCONTAINEDINSPATIALSTRUCTURE"] == 2
    prods = {r["global_id"]: r["ifc_class"] for r in ifc_products(ents).collect()}
    assert prods == {
        "WALL_1": "IFCWALL", "WALL_2": "IFCWALL",
        "SLAB_1": "IFCSLAB", "DOOR_1": "IFCDOOR",
    }


def test_ifc_points_bbox(spark, tmp_path):
    ents = ifc_entities(spark, _fixture(tmp_path))
    bb = ifc_points_bbox(ents).collect()[0]
    assert bb["n_points"] == 4
    assert (bb["xmin"], bb["xmax"]) == (-1.0, 12.5)
    assert (bb["ymin"], bb["ymax"]) == (0.0, 8.0)
    assert (bb["zmin"], bb["zmax"]) == (0.0, 3.2)  # 2-D point defaults z=0


def test_ifc_group_by_class_and_container(spark, tmp_path):
    ents = ifc_entities(spark, _fixture(tmp_path))
    cont = {(r["container_id"], r["entity_id"]) for r in ifc_containment(ents).collect()}
    assert cont == {(11, 20), (11, 21), (11, 22), (10, 23)}
    groups = {
        (r["ifc_class"], r["container_gid"]): list(r["global_ids"])
        for r in ifc_group_by_class_and_container(ents).collect()
    }
    assert groups[("IFCWALL", "STOREY_A0")] == ["WALL_1", "WALL_2"]
    assert groups[("IFCSLAB", "STOREY_A0")] == ["SLAB_1"]
    assert groups[("IFCDOOR", "BLDG_A")] == ["DOOR_1"]


IFC_GEOM_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#20= IFCWALL('WALL_G',#1,'W',$,$,$,#61,$);
#22= IFCSLAB('SLAB_G',#1,'S',$,$,$,#73,$,.FLOOR.);
#24= IFCWALL('WALL_NOGEO',#1,'W2',$,$,$,$,$);
#50= IFCCARTESIANPOINT((0.,0.));
#51= IFCCARTESIANPOINT((4.,0.));
#52= IFCCARTESIANPOINT((4.,2.));
#53= IFCCARTESIANPOINT((1.,2.));
#54= IFCCARTESIANPOINT((1.,3.));
#55= IFCCARTESIANPOINT((0.,3.));
#56= IFCPOLYLINE((#50,#51,#52,#53,#54,#55,#50));
#57= IFCARBITRARYCLOSEDPROFILEDEF(.AREA.,$,#56);
#58= IFCDIRECTION((0.,0.,1.));
#59= IFCEXTRUDEDAREASOLID(#57,$,#58,5.);
#60= IFCSHAPEREPRESENTATION($,'Body','SweptSolid',(#59));
#61= IFCPRODUCTDEFINITIONSHAPE($,$,(#60));
#70= IFCRECTANGLEPROFILEDEF(.AREA.,$,$,2.,4.);
#71= IFCEXTRUDEDAREASOLID(#70,$,#58,3.);
#72= IFCSHAPEREPRESENTATION($,'Body','SweptSolid',(#71));
#73= IFCPRODUCTDEFINITIONSHAPE($,$,(#72));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_swept_solid_meshes(spark, tmp_path):
    """S3 geometry subset (reference ifcObjectGeom.py:74-130 create_shape
    semantics): IfcExtrudedAreaSolid -> closed triangle mesh + bbox, against
    hand-computed oracles.

    WALL_G: L-profile (0,0)(4,0)(4,2)(1,2)(1,3)(0,3), depth 5 ->
      6-gon prism: 2*(6-2) cap + 2*6 side = 20 triangles,
      area = 9, perimeter = 14 -> surface2 = 2*(2*9 + 14*5) = 176,
      bbox (0..4, 0..3, 0..5).
    SLAB_G: rectangle 2 x 4 centered, depth 3 ->
      2*2 + 2*4 = 12 triangles, surface2 = 2*(2*8 + 12*3) = 104,
      bbox (-1..1, -2..2, 0..3).
    WALL_NOGEO has no representation and must not appear."""
    import numpy as np

    from py3dtilers_spark.sources.ifc_io import ifc_product_meshes

    p = tmp_path / "geom.ifc"
    p.write_text(IFC_GEOM_TEXT)
    ents = ifc_entities(spark, str(p))
    rows = {r["global_id"]: r for r in ifc_product_meshes(ents).collect()}
    assert set(rows) == {"WALL_G", "SLAB_G"}

    w = rows["WALL_G"]
    assert w["ifc_class"] == "IFCWALL" and w["n_tri"] == 20
    assert w["surface2"] == 2 * (2 * 9 + 14 * 5)
    assert (w["xmin"], w["xmax"], w["ymin"], w["ymax"], w["zmin"], w["zmax"]) == (
        0.0, 4.0, 0.0, 3.0, 0.0, 5.0
    )

    s = rows["SLAB_G"]
    assert s["ifc_class"] == "IFCSLAB" and s["n_tri"] == 12
    assert s["surface2"] == 2 * (2 * 8 + 12 * 3)
    assert (s["xmin"], s["xmax"], s["ymin"], s["ymax"], s["zmin"], s["zmax"]) == (
        -1.0, 1.0, -2.0, 2.0, 0.0, 3.0
    )

    # the triangle soup itself is well-formed float32 (n_tri, 3, 3) and its
    # per-triangle doubled areas sum back to surface2 (closed-solid check)
    from py3dtilers_spark.operators.geometry import triangle_normals

    tris = np.frombuffer(bytes(w["tris"]), dtype=np.float32).reshape(-1, 3, 3)
    assert len(tris) == 20
    _, dbl = triangle_normals(tris.astype(np.float64))
    assert int(np.rint(dbl.sum())) == w["surface2"]


IFC_BREP_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#20= IFCCOLUMN('COL_B',#1,'C',$,$,$,#99,$);
#21= IFCSLAB('SLAB_H',#1,'SH',$,$,$,#199,$,.FLOOR.);
#100= IFCCARTESIANPOINT((0.,0.,0.));
#101= IFCCARTESIANPOINT((2.,0.,0.));
#102= IFCCARTESIANPOINT((2.,2.,0.));
#103= IFCCARTESIANPOINT((0.,2.,0.));
#104= IFCCARTESIANPOINT((0.,0.,2.));
#105= IFCCARTESIANPOINT((2.,0.,2.));
#106= IFCCARTESIANPOINT((2.,2.,2.));
#107= IFCCARTESIANPOINT((0.,2.,2.));
#110= IFCPOLYLOOP((#100,#103,#102,#101));
#111= IFCPOLYLOOP((#104,#105,#106,#107));
#112= IFCPOLYLOOP((#100,#101,#105,#104));
#113= IFCPOLYLOOP((#101,#102,#106,#105));
#114= IFCPOLYLOOP((#102,#103,#107,#106));
#115= IFCPOLYLOOP((#103,#100,#104,#107));
#120= IFCFACEOUTERBOUND(#110,.T.);
#121= IFCFACEOUTERBOUND(#111,.T.);
#122= IFCFACEOUTERBOUND(#112,.T.);
#123= IFCFACEOUTERBOUND(#113,.T.);
#124= IFCFACEOUTERBOUND(#114,.T.);
#125= IFCFACEOUTERBOUND(#115,.T.);
#130= IFCFACE((#120));
#131= IFCFACE((#121));
#132= IFCFACE((#122));
#133= IFCFACE((#123));
#134= IFCFACE((#124));
#135= IFCFACE((#125));
#140= IFCCLOSEDSHELL((#130,#131,#132,#133,#134,#135));
#141= IFCFACETEDBREP(#140);
#98= IFCSHAPEREPRESENTATION($,'Body','Brep',(#141));
#99= IFCPRODUCTDEFINITIONSHAPE($,$,(#98));
#200= IFCCARTESIANPOINT((0.,0.,5.));
#201= IFCCARTESIANPOINT((10.,0.,5.));
#202= IFCCARTESIANPOINT((10.,10.,5.));
#203= IFCCARTESIANPOINT((0.,10.,5.));
#210= IFCCARTESIANPOINT((4.,4.,5.));
#211= IFCCARTESIANPOINT((6.,4.,5.));
#212= IFCCARTESIANPOINT((6.,6.,5.));
#213= IFCCARTESIANPOINT((4.,6.,5.));
#220= IFCPOLYLOOP((#200,#201,#202,#203));
#221= IFCPOLYLOOP((#210,#211,#212,#213));
#230= IFCFACEOUTERBOUND(#220,.T.);
#231= IFCFACEBOUND(#221,.T.);
#240= IFCFACE((#230,#231));
#241= IFCCLOSEDSHELL((#240));
#242= IFCFACETEDBREP(#241);
#198= IFCSHAPEREPRESENTATION($,'Body','Brep',(#242));
#199= IFCPRODUCTDEFINITIONSHAPE($,$,(#198));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_faceted_brep_meshes(spark, tmp_path):
    """S3 faceted-BRep evaluation (reference gets these meshes from
    ifcopenshell, ifcObjectGeom.py:74-130): per-face Newell-plane ear clip.

    COL_B: a 2x2x2 cube as IfcClosedShell of 6 quad faces ->
      6 faces x 2 triangles = 12, surface area 24 -> surface2 = 48,
      bbox (0..2, 0..2, 0..2).
    SLAB_H: one 10x10 face at z=5 with a 2x2 hole (IfcFaceBound inner
      loop) -> bridged 10-vertex polygon -> 8 triangles, area 96 ->
      surface2 = 192, bbox (0..10, 0..10, 5..5)."""
    import numpy as np

    from py3dtilers_spark.operators.geometry import triangle_normals
    from py3dtilers_spark.sources.ifc_io import ifc_product_meshes

    p = tmp_path / "brep.ifc"
    p.write_text(IFC_BREP_TEXT)
    ents = ifc_entities(spark, str(p))
    rows = {r["global_id"]: r for r in ifc_product_meshes(ents).collect()}
    assert set(rows) == {"COL_B", "SLAB_H"}

    c = rows["COL_B"]
    assert c["ifc_class"] == "IFCCOLUMN" and c["n_tri"] == 12
    assert c["surface2"] == 48
    assert (c["xmin"], c["xmax"], c["ymin"], c["ymax"], c["zmin"], c["zmax"]) == (
        0.0, 2.0, 0.0, 2.0, 0.0, 2.0
    )
    tris = np.frombuffer(bytes(c["tris"]), dtype=np.float32).reshape(-1, 3, 3)
    _, dbl = triangle_normals(tris.astype(np.float64))
    assert int(np.rint(dbl.sum())) == 48

    h = rows["SLAB_H"]
    assert h["ifc_class"] == "IFCSLAB" and h["n_tri"] == 8
    assert h["surface2"] == 192  # 100 - 4 (hole), doubled
    assert (h["xmin"], h["xmax"], h["ymin"], h["ymax"], h["zmin"], h["zmax"]) == (
        0.0, 10.0, 0.0, 10.0, 5.0, 5.0
    )


IFC_BREP_DEGEN_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#20= IFCCOLUMN('DEG',#1,'D',$,$,$,#99,$);
#100= IFCCARTESIANPOINT((0.,0.,0.));
#101= IFCCARTESIANPOINT((4.,0.,0.));
#102= IFCCARTESIANPOINT((0.,4.,0.));
#110= IFCPOLYLOOP((#100,#101,#102));
#120= IFCFACEOUTERBOUND(#110,.T.);
#130= IFCFACE((#120));
#200= IFCCARTESIANPOINT((0.,0.,1.));
#201= IFCCARTESIANPOINT((1.,0.,1.));
#202= IFCCARTESIANPOINT((2.,0.,1.));
#203= IFCCARTESIANPOINT((3.,0.,1.));
#210= IFCCARTESIANPOINT((1.2,0.,1.));
#211= IFCCARTESIANPOINT((1.6,0.,1.));
#212= IFCCARTESIANPOINT((1.9,0.,1.));
#220= IFCPOLYLOOP((#200,#201,#202,#203));
#221= IFCPOLYLOOP((#210,#211,#212));
#230= IFCFACEOUTERBOUND(#220,.T.);
#231= IFCFACEBOUND(#221,.T.);
#240= IFCFACE((#230,#231));
#141= IFCCLOSEDSHELL((#130,#240));
#142= IFCFACETEDBREP(#141);
#98= IFCSHAPEREPRESENTATION($,'Body','Brep',(#142));
#99= IFCPRODUCTDEFINITIONSHAPE($,$,(#98));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_brep_degenerate_face_skipped(spark, tmp_path):
    """A face whose outer loop is collinear has a zero Newell normal: no
    projection plane exists, and the hole-lift branch would divide by
    nrm[k] and poison the solid bbox with NaN/inf. The face (here WITH an
    inner IfcFaceBound, exercising exactly that branch) must be skipped,
    leaving the good face's mesh and a finite bbox."""
    import math

    from py3dtilers_spark.sources.ifc_io import ifc_product_meshes

    p = tmp_path / "degen.ifc"
    p.write_text(IFC_BREP_DEGEN_TEXT)
    ents = ifc_entities(spark, str(p))
    rows = {r["global_id"]: r for r in ifc_product_meshes(ents).collect()}
    d = rows["DEG"]
    # only the good triangle survives (area 8 -> surface2 16)
    assert d["n_tri"] == 1 and d["surface2"] == 16
    bbox = (d["xmin"], d["xmax"], d["ymin"], d["ymax"], d["zmin"], d["zmax"])
    assert all(math.isfinite(v) for v in bbox)
    # the skipped face's z=1 points must not leak into the bbox
    assert bbox == (0.0, 4.0, 0.0, 4.0, 0.0, 0.0)


IFC_CLIP_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#30= IFCROOF('ROOF_C',#1,'R',$,$,$,#99,$);
#31= IFCBEAM('BEAM_CC',#1,'B',$,$,$,#199,$);
#70= IFCRECTANGLEPROFILEDEF(.AREA.,$,$,2.,2.);
#58= IFCDIRECTION((0.,0.,1.));
#80= IFCEXTRUDEDAREASOLID(#70,$,#58,2.);
#81= IFCCARTESIANPOINT((0.,0.,1.));
#82= IFCAXIS2PLACEMENT3D(#81,#58,$);
#83= IFCPLANE(#82);
#85= IFCHALFSPACESOLID(#83,.T.);
#90= IFCBOOLEANCLIPPINGRESULT(.DIFFERENCE.,#80,#85);
#98= IFCSHAPEREPRESENTATION($,'Body','Clipping',(#90));
#99= IFCPRODUCTDEFINITIONSHAPE($,$,(#98));
#181= IFCCARTESIANPOINT((0.,0.,0.));
#182= IFCDIRECTION((1.,0.,0.));
#183= IFCAXIS2PLACEMENT3D(#181,#182,$);
#184= IFCPLANE(#183);
#185= IFCHALFSPACESOLID(#184,.F.);
#190= IFCBOOLEANCLIPPINGRESULT(.DIFFERENCE.,#90,#185);
#198= IFCSHAPEREPRESENTATION($,'Body','Clipping',(#190));
#199= IFCPRODUCTDEFINITIONSHAPE($,$,(#198));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_boolean_clipping_meshes(spark, tmp_path):
    """IfcBooleanClippingResult over plane half-spaces (the boolean form
    the reference consumes via ifcopenshell, ifcObjectGeom.py:74-130).

    ROOF_C: 2x2 prism depth 2 (x,y in [-1,1], z in [0,2]) clipped by the
      plane through (0,0,1) with axis +Z, agreement .T. (material opposite
      the normal -> DIFFERENCE keeps z >= 1): a 2x2x1 box — surface2 =
      2*(2*4 + 8*1) = 32, bbox z 1..2, volume 4 (mesh_volume6 = 24).
    BEAM_CC: CHAINED clip of ROOF_C's result by the plane x = 0 with axis
      +X, agreement .F. (material on the normal side -> keeps x <= 0):
      a 1x2x1 box — surface2 = 2*(1*2+2*1+1*2) = 20, volume 2."""
    import numpy as np

    from py3dtilers_spark.operators.geometry import mesh_volume6
    from py3dtilers_spark.sources.ifc_io import ifc_product_meshes

    p = tmp_path / "clip.ifc"
    p.write_text(IFC_CLIP_TEXT)
    ents = ifc_entities(spark, str(p))
    rows = {r["global_id"]: r for r in ifc_product_meshes(ents).collect()}
    assert set(rows) == {"ROOF_C", "BEAM_CC"}

    r = rows["ROOF_C"]
    assert r["ifc_class"] == "IFCROOF" and r["surface2"] == 32
    assert (r["xmin"], r["xmax"], r["ymin"], r["ymax"], r["zmin"], r["zmax"]) == (
        -1.0, 1.0, -1.0, 1.0, 1.0, 2.0
    )
    tris = np.frombuffer(bytes(r["tris"]), dtype=np.float32).reshape(-1, 3, 3)
    assert mesh_volume6(tris.astype(np.float64)) == pytest.approx(24.0, abs=1e-5)

    b = rows["BEAM_CC"]
    assert b["ifc_class"] == "IFCBEAM" and b["surface2"] == 20
    assert (b["xmin"], b["xmax"], b["ymin"], b["ymax"], b["zmin"], b["zmax"]) == (
        -1.0, 0.0, -1.0, 1.0, 1.0, 2.0
    )
    tris_b = np.frombuffer(bytes(b["tris"]), dtype=np.float32).reshape(-1, 3, 3)
    assert mesh_volume6(tris_b.astype(np.float64)) == pytest.approx(12.0, abs=1e-5)


IFC_REVOLVE_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#30= IFCCOLUMN('COL_R',#1,'C',$,$,$,#93,$);
#31= IFCBEAM('BEAM_Q',#1,'B',$,$,$,#97,$);
#50= IFCCARTESIANPOINT((1.,0.));
#51= IFCCARTESIANPOINT((2.,0.));
#52= IFCCARTESIANPOINT((2.,1.));
#53= IFCCARTESIANPOINT((1.,1.));
#56= IFCPOLYLINE((#50,#51,#52,#53,#50));
#57= IFCARBITRARYCLOSEDPROFILEDEF(.AREA.,$,#56);
#80= IFCCARTESIANPOINT((0.,0.));
#81= IFCDIRECTION((0.,1.));
#82= IFCAXIS1PLACEMENT(#80,#81);
#90= IFCREVOLVEDAREASOLID(#57,$,#82,6.283185307179586);
#91= IFCSHAPEREPRESENTATION($,'Body','SweptSolid',(#90));
#93= IFCPRODUCTDEFINITIONSHAPE($,$,(#91));
#95= IFCREVOLVEDAREASOLID(#57,$,#82,1.5707963267948966);
#96= IFCSHAPEREPRESENTATION($,'Body','SweptSolid',(#95));
#97= IFCPRODUCTDEFINITIONSHAPE($,$,(#96));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_revolved_solid_meshes(spark, tmp_path):
    """S3 revolved solids (IfcRevolvedAreaSolid): unit-square profile
    x in [1,2], y in [0,1] revolved about the in-plane y axis.

    COL_R: full turn (2*pi), S=32 facets -> closed ring, no caps:
      n_tri = 2 * 4 edges * 32 = 256,
      bbox x,z in [-2,2] (S even: phi=pi, 3*pi/2 are sampled), y in [0,1],
      surface2 = 2 * (outer 32*4*sin(pi/32) + inner 32*2*sin(pi/32)
                 + 2 annuli * 16*sin(pi/16)*3).
    BEAM_Q: quarter turn (pi/2) -> 2*4*32 sides + 2*2 caps = 260 tris,
      watertight; signed volume = discretized quarter washer.
    """
    import numpy as np

    from py3dtilers_spark.operators.geometry import mesh_volume6
    from py3dtilers_spark.sources.ifc_io import ifc_product_meshes

    p = tmp_path / "revolve.ifc"
    p.write_text(IFC_REVOLVE_TEXT)
    ents = ifc_entities(spark, str(p))
    rows = {r["global_id"]: r for r in ifc_product_meshes(ents).collect()}
    assert set(rows) == {"COL_R", "BEAM_Q"}

    c = rows["COL_R"]
    assert c["ifc_class"] == "IFCCOLUMN" and c["n_tri"] == 256
    assert np.allclose(
        [c["xmin"], c["xmax"], c["ymin"], c["ymax"], c["zmin"], c["zmax"]],
        [-2.0, 2.0, 0.0, 1.0, -2.0, 2.0],
    )
    area = (
        32 * 4 * np.sin(np.pi / 32)          # outer lateral (chord * h)
        + 32 * 2 * np.sin(np.pi / 32)        # inner lateral
        + 2 * 16 * np.sin(np.pi / 16) * 3.0  # two polygonal annuli
    )
    assert c["surface2"] == int(np.rint(2 * area))
    tris = np.frombuffer(c["tris"], dtype=np.float32).reshape(-1, 3, 3)
    vol_full = mesh_volume6(tris.astype(np.float64)) / 6.0
    assert np.isclose(vol_full, 16 * np.sin(np.pi / 16) * 3.0, rtol=1e-5)

    q = rows["BEAM_Q"]
    assert q["ifc_class"] == "IFCBEAM" and q["n_tri"] == 260
    tris_q = np.frombuffer(q["tris"], dtype=np.float32).reshape(-1, 3, 3)
    vol_q = mesh_volume6(tris_q.astype(np.float64)) / 6.0
    # 32 wedges over pi/2: V = S * (1/2) sin(phi/S) * (R^2-r^2) * h
    assert np.isclose(vol_q, 32 * 0.5 * np.sin(np.pi / 64) * 3.0, rtol=1e-5)


IFC_MAPPED_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#20= IFCWALL('INST_TS',#1,'W',$,$,$,#45,$);
#21= IFCWALL('INST_ROT',#1,'W',$,$,$,#48,$);
#58= IFCDIRECTION((0.,0.,1.));
#70= IFCRECTANGLEPROFILEDEF(.AREA.,$,$,2.,4.);
#71= IFCEXTRUDEDAREASOLID(#70,$,#58,3.);
#72= IFCSHAPEREPRESENTATION($,'Body','SweptSolid',(#71));
#30= IFCCARTESIANPOINT((0.,0.,0.));
#31= IFCAXIS2PLACEMENT3D(#30,$,$);
#32= IFCREPRESENTATIONMAP(#31,#72);
#40= IFCCARTESIANPOINT((10.,0.,0.));
#41= IFCCARTESIANTRANSFORMATIONOPERATOR3D($,$,#40,2.);
#42= IFCMAPPEDITEM(#32,#41);
#44= IFCSHAPEREPRESENTATION($,'Body','MappedRepresentation',(#42));
#45= IFCPRODUCTDEFINITIONSHAPE($,$,(#44));
#50= IFCDIRECTION((0.,1.,0.));
#51= IFCDIRECTION((-1.,0.,0.));
#52= IFCCARTESIANTRANSFORMATIONOPERATOR3D(#50,#51,#30,$);
#53= IFCMAPPEDITEM(#32,#52);
#46= IFCSHAPEREPRESENTATION($,'Body','MappedRepresentation',(#53));
#48= IFCPRODUCTDEFINITIONSHAPE($,$,(#46));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_mapped_item_meshes(spark, tmp_path):
    """S3 mapped items (IfcMappedItem instancing): one library solid
    (2 x 4 rect extruded depth 3 -> 12 tris, surface2 104, bbox
    (-1..1, -2..2, 0..3)), two instances.

    INST_TS: operator = translate (10,0,0), uniform scale 2, axes '$' ->
      bbox (8..12, -4..4, 0..6), surface2 = 104 * 4, 12 tris.
    INST_ROT: operator = 90-degree rotation about z (x->y, y->-x),
      no translation, scale '$' (default 1) -> bbox (-2..2, -1..1, 0..3),
      surface2 unchanged.
    The library representation #72 is attached to NO product and must not
    surface on its own."""
    import numpy as np

    from py3dtilers_spark.sources.ifc_io import ifc_product_meshes

    p = tmp_path / "mapped.ifc"
    p.write_text(IFC_MAPPED_TEXT)
    ents = ifc_entities(spark, str(p))
    rows = {r["global_id"]: r for r in ifc_product_meshes(ents).collect()}
    assert set(rows) == {"INST_TS", "INST_ROT"}

    t = rows["INST_TS"]
    assert t["n_tri"] == 12
    assert t["surface2"] == 104 * 4
    assert np.allclose(
        [t["xmin"], t["xmax"], t["ymin"], t["ymax"], t["zmin"], t["zmax"]],
        [8.0, 12.0, -4.0, 4.0, 0.0, 6.0],
    )

    r = rows["INST_ROT"]
    assert r["n_tri"] == 12
    assert r["surface2"] == 104
    assert np.allclose(
        [r["xmin"], r["xmax"], r["ymin"], r["ymax"], r["zmin"], r["zmax"]],
        [-2.0, 2.0, -1.0, 1.0, 0.0, 3.0],
    )


IFC_TFS_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#20= IFCWALL('PYR_T',#1,'W',$,$,$,#45,$);
#10= IFCCARTESIANPOINTLIST3D(((0.,0.,0.),(1.,0.,0.),(1.,1.,0.),(0.,1.,0.),(0.5,0.5,1.)));
#11= IFCTRIANGULATEDFACESET(#10,$,.T.,((1,3,2),(1,4,3),(1,2,5),(2,3,5),(3,4,5),(4,1,5)),$);
#44= IFCSHAPEREPRESENTATION($,'Body','Tessellation',(#11));
#45= IFCPRODUCTDEFINITIONSHAPE($,$,(#44));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_triangulated_face_set(spark, tmp_path):
    """IFC4 tessellated geometry: a unit-base pyramid (apex (.5,.5,1))
    authored as an IfcTriangulatedFaceSet with outward winding.
    6 triangles, bbox (0..1, 0..1, 0..1), signed volume = 1/3,
    surface2 = 2 * (base 1 + four side triangles)."""
    import numpy as np

    from py3dtilers_spark.operators.geometry import mesh_volume6
    from py3dtilers_spark.sources.ifc_io import ifc_product_meshes

    p = tmp_path / "tfs.ifc"
    p.write_text(IFC_TFS_TEXT)
    ents = ifc_entities(spark, str(p))
    rows = {r["global_id"]: r for r in ifc_product_meshes(ents).collect()}
    assert set(rows) == {"PYR_T"}
    t = rows["PYR_T"]
    assert t["n_tri"] == 6
    assert np.allclose(
        [t["xmin"], t["xmax"], t["ymin"], t["ymax"], t["zmin"], t["zmax"]],
        [0.0, 1.0, 0.0, 1.0, 0.0, 1.0],
    )
    tris = np.frombuffer(t["tris"], dtype=np.float32).reshape(-1, 3, 3)
    assert np.isclose(mesh_volume6(tris.astype(np.float64)) / 6.0, 1.0 / 3.0,
                      rtol=1e-6)
    side = np.linalg.norm(np.cross([1.0, 0.0, 0.0], [0.5, 0.5, 1.0])) / 2.0
    assert t["surface2"] == int(np.rint(2 * (1.0 + 4 * side)))


IFC_PFS_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#20= IFCWALL('CUBE_P',#1,'W',$,$,$,#45,$);
#10= IFCCARTESIANPOINTLIST3D(((0.,0.,0.),(2.,0.,0.),(2.,2.,0.),(0.,2.,0.),(0.,0.,2.),(2.,0.,2.),(2.,2.,2.),(0.,2.,2.),(0.5,0.5,2.),(1.5,0.5,2.),(1.5,1.5,2.),(0.5,1.5,2.)));
#11= IFCINDEXEDPOLYGONALFACE((1,4,3,2));
#12= IFCINDEXEDPOLYGONALFACE((1,2,6,5));
#13= IFCINDEXEDPOLYGONALFACE((2,3,7,6));
#14= IFCINDEXEDPOLYGONALFACE((3,4,8,7));
#15= IFCINDEXEDPOLYGONALFACE((4,1,5,8));
#16= IFCINDEXEDPOLYGONALFACEWITHVOIDS((5,6,7,8),((9,10,11,12)));
#17= IFCPOLYGONALFACESET(#10,.T.,(#11,#12,#13,#14,#15,#16),$);
#44= IFCSHAPEREPRESENTATION($,'Body','Tessellation',(#17));
#45= IFCPRODUCTDEFINITIONSHAPE($,$,(#44));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_polygonal_face_set(spark, tmp_path):
    """IfcPolygonalFaceSet: a side-2 cube of quad n-gon faces whose top
    carries a 1x1 void. Total area = 5 faces * 4 + (4 - 1) = 23 ->
    surface2 = 46; bbox (0..2)^3; the 5 plain quads contribute 10
    triangles, the holed top at least 8."""
    import numpy as np

    from py3dtilers_spark.sources.ifc_io import ifc_product_meshes

    p = tmp_path / "pfs.ifc"
    p.write_text(IFC_PFS_TEXT)
    ents = ifc_entities(spark, str(p))
    rows = {r["global_id"]: r for r in ifc_product_meshes(ents).collect()}
    assert set(rows) == {"CUBE_P"}
    c = rows["CUBE_P"]
    assert c["surface2"] == 46
    assert c["n_tri"] >= 18
    assert np.allclose(
        [c["xmin"], c["xmax"], c["ymin"], c["ymax"], c["zmin"], c["zmax"]],
        [0.0, 2.0, 0.0, 2.0, 0.0, 2.0],
    )
    # every triangle must avoid the void's open interior
    tris = np.frombuffer(c["tris"], dtype=np.float32).reshape(-1, 3, 3)
    top = tris[np.all(np.abs(tris[:, :, 2] - 2.0) < 1e-6, axis=1)]
    cent = top.mean(axis=1)
    inside_void = (
        (cent[:, 0] > 0.5) & (cent[:, 0] < 1.5)
        & (cent[:, 1] > 0.5) & (cent[:, 1] < 1.5)
    )
    assert not inside_void.any()


IFC_WORLD_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#20= IFCWALL('W_PLACED',#1,'W',$,$,#120,#73,$);
#22= IFCSLAB('S_LOCAL',#1,'S',$,$,$,#73,$,.FLOOR.);
#58= IFCDIRECTION((0.,0.,1.));
#70= IFCRECTANGLEPROFILEDEF(.AREA.,$,$,2.,4.);
#71= IFCEXTRUDEDAREASOLID(#70,$,#58,3.);
#72= IFCSHAPEREPRESENTATION($,'Body','SweptSolid',(#71));
#73= IFCPRODUCTDEFINITIONSHAPE($,$,(#72));
#100= IFCCARTESIANPOINT((100.,0.,0.));
#101= IFCAXIS2PLACEMENT3D(#100,$,$);
#102= IFCLOCALPLACEMENT($,#101);
#110= IFCCARTESIANPOINT((0.,50.,0.));
#111= IFCDIRECTION((0.,0.,1.));
#112= IFCDIRECTION((0.,1.,0.));
#113= IFCAXIS2PLACEMENT3D(#110,#111,#112);
#114= IFCLOCALPLACEMENT(#102,#113);
#115= IFCCARTESIANPOINT((0.,0.,7.));
#116= IFCAXIS2PLACEMENT3D(#115,$,$);
#120= IFCLOCALPLACEMENT(#114,#116);
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_world_placement(spark, tmp_path):
    """IfcLocalPlacement chain resolved to world coordinates (the
    reference's USE_WORLD_COORDS, ifcObjectGeom.py:83-87).

    Chain: root translate (100,0,0) -> child translate (0,50,0) with a
    90-degree z-rotation (RefDirection = +y, so local x -> world y) ->
    leaf translate (0,0,7) in the rotated frame.
    Local solid bbox (-1..1, -2..2, 0..3). World: rotation maps
    (x,y,z) -> (-y,x,z); leaf offset (0,0,7) rotates to itself; so bbox
    x = 100 + (-2..2) rotated: local y (-2..2) -> world -y? Work through
    the composition in the assert values below. S_LOCAL has no placement
    and must stay at its local bbox."""
    import numpy as np

    from py3dtilers_spark.sources.ifc_io import ifc_product_meshes_world

    p = tmp_path / "world.ifc"
    p.write_text(IFC_WORLD_TEXT)
    ents = ifc_entities(spark, str(p))
    rows = {r["global_id"]: r for r in ifc_product_meshes_world(ents).collect()}
    assert set(rows) == {"W_PLACED", "S_LOCAL"}

    s = rows["S_LOCAL"]
    assert (s["xmin"], s["xmax"], s["ymin"], s["ymax"], s["zmin"], s["zmax"]) == (
        -1.0, 1.0, -2.0, 2.0, 0.0, 3.0
    )
    assert s["surface2"] == 104 and s["n_tri"] == 12

    w = rows["W_PLACED"]
    # compose: root T1=(100,0,0) identity; mid: R = rot90z (x->y), T=(0,50,0);
    # leaf local T=(0,0,7) => world origin = T1 + R? chain order:
    # world = F102 ∘ F114 ∘ F120 applied to local points.
    # F120: p -> p + (0,0,7)
    # F114: p -> Rz90 @ p + (0,50,0)   (x_axis = +y)
    # F102: p -> p + (100,0,0)
    # local bbox corners (x,y,z) in (-1..1,-2..2,0..3):
    # after F120: z in 7..10
    # after F114: (x,y) -> (-y, x): x in -2..2 -> wait Rz90: X axis=(0,1,0),
    # Y = Z x X = (-1,0,0): p' = x*(0,1,0)+y*(-1,0,0)+z*(0,0,1) = (-y, x, z)
    # x' in (-2..2) from y, y' in (-1..1) from x; + (0,50,0) -> y' 49..51
    # after F102: x' 98..102
    assert np.allclose(
        [w["xmin"], w["xmax"], w["ymin"], w["ymax"], w["zmin"], w["zmax"]],
        [98.0, 102.0, 49.0, 51.0, 7.0, 10.0],
    )
    assert w["surface2"] == 104 and w["n_tri"] == 12  # rigid: area preserved


def test_ifc_world_placement_deep_chain(spark, tmp_path):
    """Pointer jumping must resolve a deep placement chain (depth 20 —
    beyond any real IFC tree) in logarithmic rounds: each level
    translates by (1, 2, 0), so the leaf's world origin offset is
    (20, 40, 0)."""
    import numpy as np

    from py3dtilers_spark.sources.ifc_io import ifc_entities as ents_fn
    from py3dtilers_spark.sources.ifc_io import ifc_world_placements

    depth = 20
    lines = ["ISO-10303-21;", "HEADER;FILE_SCHEMA(('IFC4'));", "ENDSEC;",
             "DATA;"]
    prev = None
    for i in range(depth):
        pt, plc, lp = 1000 + 3 * i, 1001 + 3 * i, 1002 + 3 * i
        lines.append(f"#{pt}= IFCCARTESIANPOINT((1.,2.,0.));")
        lines.append(f"#{plc}= IFCAXIS2PLACEMENT3D(#{pt},$,$);")
        parent = f"#{prev}" if prev is not None else "$"
        lines.append(f"#{lp}= IFCLOCALPLACEMENT({parent},#{plc});")
        prev = lp
    lines += ["ENDSEC;", "END-ISO-10303-21;"]
    p = tmp_path / "deep.ifc"
    p.write_text("\n".join(lines) + "\n")
    frames = {
        r["plc_id"]: r["frame"]
        for r in ifc_world_placements(ents_fn(spark, str(p))).collect()
    }
    leaf = frames[prev]
    assert np.allclose(leaf[9:], [depth * 1.0, depth * 2.0, 0.0])
    assert np.allclose(np.asarray(leaf[:9]).reshape(3, 3), np.eye(3))
    # every intermediate level resolved too
    mid = frames[1002 + 3 * (depth // 2)]
    assert np.allclose(mid[9:], [(depth // 2 + 1) * 1.0,
                                 (depth // 2 + 1) * 2.0, 0.0])


def test_ifc_world_placement_unresolvable_parent(spark, tmp_path):
    """A parent ref that is NOT an IfcLocalPlacement (IfcGridPlacement,
    dangling id in a truncated file) must become a ROOT after one
    unresolved round — not spin the pointer-jump loop through all 40
    eager rounds. The row keeps its own (possibly partial) frame."""
    import numpy as np

    from py3dtilers_spark.sources.ifc_io import ifc_entities as ents_fn
    from py3dtilers_spark.sources.ifc_io import ifc_world_placements

    txt = "\n".join([
        "ISO-10303-21;", "HEADER;FILE_SCHEMA(('IFC4'));", "ENDSEC;", "DATA;",
        "#10= IFCCARTESIANPOINT((5.,6.,7.));",
        "#11= IFCAXIS2PLACEMENT3D(#10,$,$);",
        # parent #9999 does not exist (truncated file)
        "#12= IFCLOCALPLACEMENT(#9999,#11);",
        "#20= IFCCARTESIANPOINT((1.,0.,0.));",
        "#21= IFCAXIS2PLACEMENT3D(#20,$,$);",
        # parent #10 exists but is a point, not a placement
        "#22= IFCLOCALPLACEMENT(#10,#21);",
        # a normal chain must still resolve THROUGH the fixed rows
        "#30= IFCCARTESIANPOINT((0.,0.,2.));",
        "#31= IFCAXIS2PLACEMENT3D(#30,$,$);",
        "#32= IFCLOCALPLACEMENT(#12,#31);",
        "ENDSEC;", "END-ISO-10303-21;",
    ]) + "\n"
    p = tmp_path / "dangling.ifc"
    p.write_text(txt)
    frames = {
        r["plc_id"]: r["frame"]
        for r in ifc_world_placements(ents_fn(spark, str(p))).collect()
    }
    assert np.allclose(frames[12][9:], [5.0, 6.0, 7.0])
    assert np.allclose(frames[22][9:], [1.0, 0.0, 0.0])
    # child of the dangling-parent row: composes through it
    assert np.allclose(frames[32][9:], [5.0, 6.0, 9.0])


IFC_CIRCLE_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#20= IFCCOLUMN('COL_C',#1,'C',$,$,$,#61,$);
#21= IFCCOLUMN('PIPE_C',#1,'P',$,$,$,#71,$);
#57= IFCCIRCLEPROFILEDEF(.AREA.,$,$,1.5);
#58= IFCDIRECTION((0.,0.,1.));
#59= IFCEXTRUDEDAREASOLID(#57,$,#58,4.);
#60= IFCSHAPEREPRESENTATION($,'Body','SweptSolid',(#59));
#61= IFCPRODUCTDEFINITIONSHAPE($,$,(#60));
#67= IFCCIRCLEHOLLOWPROFILEDEF(.AREA.,$,$,1.5,0.5);
#69= IFCEXTRUDEDAREASOLID(#67,$,#58,4.);
#70= IFCSHAPEREPRESENTATION($,'Body','SweptSolid',(#69));
#71= IFCPRODUCTDEFINITIONSHAPE($,$,(#70));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_circle_profiles(spark, tmp_path):
    """Curved profiles (the most common curved geometry in real IFC:
    columns and pipes) tessellated to a regular 32-gon. Oracles are the
    independent regular-polygon formulas: area (N/2) r^2 sin(2pi/N),
    perimeter 2 N r sin(pi/N)."""
    import numpy as np

    from py3dtilers_spark.sources.ifc_io import (
        _CIRCLE_SEGMENTS, ifc_entities, ifc_product_meshes,
    )

    p = tmp_path / "circle.ifc"
    p.write_text(IFC_CIRCLE_TEXT)
    rows = {
        r["global_id"]: r
        for r in ifc_product_meshes(ifc_entities(spark, str(p))).collect()
    }
    assert set(rows) == {"COL_C", "PIPE_C"}
    N = _CIRCLE_SEGMENTS

    def area(r):
        return (N / 2.0) * r * r * np.sin(2.0 * np.pi / N)

    def perim(r):
        return 2.0 * N * r * np.sin(np.pi / N)

    c = rows["COL_C"]
    assert c["n_tri"] == 2 * (N - 2) + 2 * N
    assert c["surface2"] == int(np.rint(2 * (2 * area(1.5) + perim(1.5) * 4.0)))
    assert (c["xmin"], c["xmax"]) == (-1.5, 1.5)
    assert (c["zmin"], c["zmax"]) == (0.0, 4.0)

    h = rows["PIPE_C"]
    want2 = 2 * (
        2 * (area(1.5) - area(1.0)) + (perim(1.5) + perim(1.0)) * 4.0
    )
    assert h["surface2"] == int(np.rint(want2))
    # closed hollow solid: signed volume = annulus area * depth
    from py3dtilers_spark.operators.geometry import mesh_volume6

    tris = np.frombuffer(bytes(h["tris"]), dtype=np.float32).reshape(-1, 3, 3)
    vol6 = mesh_volume6(tris.astype(np.float64))
    assert abs(vol6 - 6.0 * (area(1.5) - area(1.0)) * 4.0) < 1e-3


IFC_SDS_TEXT = """ISO-10303-21;
HEADER;FILE_SCHEMA(('IFC4'));
ENDSEC;
DATA;
#1= IFCPERSON($,'X',$,$,$,$,$,$);
#20= IFCFLOWSEGMENT('PIPE_S',#1,'P',$,$,$,#61,$);
#50= IFCCARTESIANPOINT((0.,0.,0.));
#51= IFCCARTESIANPOINT((3.,0.,0.));
#52= IFCCARTESIANPOINT((3.,2.,0.));
#56= IFCPOLYLINE((#50,#51,#52));
#59= IFCSWEPTDISKSOLID(#56,0.2,0.1,$,$);
#60= IFCSHAPEREPRESENTATION($,'Body','SweptSolid',(#59));
#61= IFCPRODUCTDEFINITIONSHAPE($,$,(#60));
ENDSEC;
END-ISO-10303-21;
"""


def test_ifc_swept_disk_solid(spark, tmp_path):
    """IfcSweptDiskSolid pipe with a bore along an L-bend directrix: the
    true-miter sweep makes the hollow prismatic volume identity exact."""
    import numpy as np

    from py3dtilers_spark.operators.geometry import mesh_volume6
    from py3dtilers_spark.sources.ifc_io import ifc_entities, ifc_product_meshes

    p = tmp_path / "sds.ifc"
    p.write_text(IFC_SDS_TEXT)
    rows = {
        r["global_id"]: r
        for r in ifc_product_meshes(ifc_entities(spark, str(p))).collect()
    }
    assert set(rows) == {"PIPE_S"}
    m = rows["PIPE_S"]
    S = 16
    a = (S / 2.0) * np.sin(2.0 * np.pi / S)
    tris = np.frombuffer(bytes(m["tris"]), dtype=np.float32).reshape(-1, 3, 3)
    vol = mesh_volume6(tris.astype(np.float64)) / 6.0
    want = a * (0.2 ** 2 - 0.1 ** 2) * 5.0
    assert abs(vol - want) < 1e-3
    assert m["zmin"] < 0 < m["zmax"]  # tube extends r around the z=0 path
    # side walls extend r in x; the final flat cap ends exactly at y=2
    assert abs(m["xmax"] - 3.2) < 0.05 and abs(m["ymax"] - 2.0) < 1e-6


IFC_SDS_TRIMMED_TEXT = IFC_SDS_TEXT.replace(
    "#59= IFCSWEPTDISKSOLID(#56,0.2,0.1,$,$);",
    "#59= IFCSWEPTDISKSOLID(#56,0.2,0.1,0.5,4.0);",
)


def test_ifc_swept_disk_trimmed_is_dropped(spark, tmp_path):
    """A numeric StartParam/EndParam (trimmed sweep) is outside the
    evaluated subset: the solid must be OMITTED (like non-polyline
    directrices), never silently evaluated as the full tube."""
    from py3dtilers_spark.sources.ifc_io import ifc_entities, ifc_sds_meshes

    p = tmp_path / "sds_trim.ifc"
    p.write_text(IFC_SDS_TRIMMED_TEXT)
    assert ifc_sds_meshes(ifc_entities(spark, str(p))).count() == 0
    # the untrimmed twin still evaluates
    p2 = tmp_path / "sds_full.ifc"
    p2.write_text(IFC_SDS_TEXT)
    assert ifc_sds_meshes(ifc_entities(spark, str(p2))).count() == 1


def test_ifc_swept_disk_truncated_line_is_dropped(spark, tmp_path):
    """A truncated IfcSweptDiskSolid line (fewer than its 5 arguments) must
    not fail the scan under ANSI mode: that entity is dropped and the valid
    solid beside it still evaluates."""
    from py3dtilers_spark.sources.ifc_io import ifc_entities, ifc_sds_meshes

    p = tmp_path / "sds_truncated.ifc"
    p.write_text(IFC_SDS_TEXT.replace(
        "#59= IFCSWEPTDISKSOLID(#56,0.2,0.1,$,$);",
        "#58= IFCSWEPTDISKSOLID(#56,0.2);\n#59= IFCSWEPTDISKSOLID(#56,0.2,0.1,$,$);",
    ))
    rows = ifc_sds_meshes(ifc_entities(spark, str(p))).collect()
    assert [r["solid_id"] for r in rows] == [59]
