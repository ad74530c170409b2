"""IFC (STEP / ISO-10303-21) scan — S3.

The reference parses IFC through ifcopenshell and groups elements by
(class, building) before tiling (/root/reference/py3dtilers/IfcTiler/
ifcObjectGeom.py:182-240 retrievObjByType). ifcopenshell is not in this
container (and would be driver-bound anyway), so the engine scans the STEP
text DISTRIBUTED: ``spark.read.text`` splits the file across tasks and every
entity line ``#id= IFCCLASS(args);`` is decomposed with codegen-friendly
``regexp_extract`` column ops — no Python in the scan path. Entity
relationships (containment) are resolved with joins over the extracted
``#ref`` id lists, which is exactly how the reference's object walk
(get_decomposition) re-expresses relationally.

Covered subset: entity table, cartesian points (geometry bbox), products,
spatial-containment grouping, and GEOMETRY EVALUATION for the
representations the reference gets from ifcopenshell's create_shape
(ifcObjectGeom.py:74-130): extruded area solids, revolved area solids,
faceted BReps, triangulated + polygonal face sets (incl. voids), boolean
plane clips (incl. chains), mapped-item instancing, and IfcLocalPlacement
chains resolved to world coordinates (the reference's USE_WORLD_COORDS,
ifcObjectGeom.py:83-87) via pointer-jumped joins. ``ifc_product_meshes``
returns placement-local meshes; ``ifc_product_meshes_world`` applies the
resolved placements. Still out of scope: curved surfaces (B-spline,
toroidal), BRep-vs-BRep booleans, non-uniform transformation operators,
PnIndex indirection.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ENTITY_RE = r"^#(\d+)\s*=\s*([A-Z0-9]+)\s*\((.*)\);\s*$"

# IfcProduct subtypes the reference tiler iterates (ifcObjectGeom.py:200-214)
PRODUCT_CLASSES = (
    "IFCWALL", "IFCWALLSTANDARDCASE", "IFCSLAB", "IFCROOF", "IFCWINDOW",
    "IFCDOOR", "IFCBEAM", "IFCCOLUMN", "IFCSTAIR", "IFCRAILING",
    "IFCFURNISHINGELEMENT", "IFCBUILDINGELEMENTPROXY",
    # MEP distribution elements (swept-disk pipes/ducts live here)
    "IFCFLOWSEGMENT", "IFCFLOWFITTING", "IFCPIPESEGMENT", "IFCDUCTSEGMENT",
)


def ifc_entities(spark: SparkSession, path: str) -> DataFrame:
    """Distributed STEP scan -> (entity_id bigint, ifc_class string,
    args string). Non-entity lines (header, comments) are dropped."""
    lines = spark.read.text(path)
    return (
        lines.select(
            F.regexp_extract("value", _ENTITY_RE, 1).alias("eid_s"),
            F.regexp_extract("value", _ENTITY_RE, 2).alias("ifc_class"),
            F.regexp_extract("value", _ENTITY_RE, 3).alias("args"),
        )
        .where("eid_s <> ''")
        .select(
            F.col("eid_s").cast("bigint").alias("entity_id"),
            "ifc_class",
            "args",
        )
    )


def ifc_class_counts(entities: DataFrame) -> DataFrame:
    return entities.groupBy("ifc_class").agg(F.count(F.lit(1)).alias("n"))


def ifc_cartesian_points(entities: DataFrame) -> DataFrame:
    """IFCCARTESIANPOINT args '(x,y[,z])' -> (entity_id, x, y, z). Pure
    column math (split + cast); z defaults to 0 for 2-D points."""
    pts = entities.where(F.col("ifc_class") == "IFCCARTESIANPOINT").select(
        "entity_id",
        F.split(F.regexp_replace("args", r"[()\s]", ""), ",").alias("c"),
    )
    return pts.select(
        "entity_id",
        F.element_at("c", 1).cast("double").alias("x"),
        F.element_at("c", 2).cast("double").alias("y"),
        F.coalesce(F.try_element_at("c", F.lit(3)).cast("double"), F.lit(0.0)).alias("z"),
    )


def ifc_products(entities: DataFrame) -> DataFrame:
    """Product rows: (entity_id, ifc_class, global_id) — global_id is the
    first quoted STEP attribute (GlobalId in the IFC schema)."""
    return entities.where(F.col("ifc_class").isin(*PRODUCT_CLASSES)).select(
        "entity_id",
        "ifc_class",
        F.regexp_extract("args", r"^'([^']*)'", 1).alias("global_id"),
    )


def ifc_containment(entities: DataFrame) -> DataFrame:
    """IFCRELCONTAINEDINSPATIALSTRUCTURE(.., (#a,#b,...), #container) ->
    one (container_id, entity_id) row per contained element: the id-list is
    regexp-isolated and exploded, then both sides are plain bigints for the
    downstream equi-joins."""
    rels = entities.where(
        F.col("ifc_class") == "IFCRELCONTAINEDINSPATIALSTRUCTURE"
    ).select(
        F.regexp_extract("args", r"\(([^()]*)\)\s*,\s*#(\d+)\s*$", 1).alias("members"),
        F.regexp_extract("args", r"\(([^()]*)\)\s*,\s*#(\d+)\s*$", 2)
        .cast("bigint")
        .alias("container_id"),
    )
    return rels.select(
        "container_id",
        F.explode(F.split(F.regexp_replace("members", r"[#\s]", ""), ",")).alias("m"),
    ).select("container_id", F.col("m").cast("bigint").alias("entity_id"))


def ifc_group_by_class_and_container(entities: DataFrame) -> DataFrame:
    """The reference's dictObjByType shape (ifcObjectGeom.py:196-214):
    products grouped by (ifc_class, containing structure's GlobalId)."""
    prods = ifc_products(entities)
    cont = ifc_containment(entities)
    containers = entities.select(
        F.col("entity_id").alias("container_id"),
        F.regexp_extract("args", r"^'([^']*)'", 1).alias("container_gid"),
    )
    return (
        prods.join(cont, "entity_id", "left")
        .join(F.broadcast(containers), "container_id", "left")
        .groupBy("ifc_class", "container_gid")
        .agg(
            F.count(F.lit(1)).alias("n_products"),
            F.sort_array(F.collect_list("global_id")).alias("global_ids"),
        )
    )


_NUM_RE = r"([0-9][0-9.Ee+\-]*)\s*$"


def ifc_swept_solids(entities: DataFrame) -> DataFrame:
    """IFCEXTRUDEDAREASOLID rows -> (solid_id, profile_id, depth)."""
    return entities.where(F.col("ifc_class") == "IFCEXTRUDEDAREASOLID").select(
        F.col("entity_id").alias("solid_id"),
        F.regexp_extract("args", r"^#(\d+)", 1).cast("bigint").alias("profile_id"),
        F.regexp_extract("args", _NUM_RE, 1).cast("double").alias("depth"),
    )


def ifc_product_solids(entities: DataFrame) -> DataFrame:
    """Product -> solid linkage through the representation chain
    (IfcProduct.Representation -> IfcProductDefinitionShape.Representations
    -> IfcShapeRepresentation.Items): three equi-joins over extracted #refs,
    the relational form of the reference's ifcObject.Representation walk
    (ifcObjectGeom.py:77-87)."""
    # IfcProduct.Representation sits at a subtype-dependent argument slot
    # (IfcSlab/IfcDoor append trailing attributes), so instead of position
    # we explode EVERY #ref of the product row and let the equi-join against
    # the IFCPRODUCTDEFINITIONSHAPE entity set pick the representation one.
    prods = (
        entities.where(F.col("ifc_class").isin(*PRODUCT_CLASSES))
        .select(
            "entity_id",
            "ifc_class",
            F.regexp_extract("args", r"^'([^']*)'", 1).alias("global_id"),
            F.explode(
                F.expr(r"regexp_extract_all(args, '#(\\d+)', 1)")
            ).alias("ref_s"),
        )
        .select(
            "entity_id", "ifc_class", "global_id",
            F.col("ref_s").cast("bigint").alias("pds_id"),
        )
    )
    # the trailing parenthesized ref-list of PDS / ShapeRepresentation args
    tail_list = r"\(([^()]*)\)\s*$"
    pds = (
        entities.where(F.col("ifc_class") == "IFCPRODUCTDEFINITIONSHAPE")
        .select(
            F.col("entity_id").alias("pds_id"),
            F.explode(
                F.split(
                    F.regexp_replace(
                        F.regexp_extract("args", tail_list, 1), r"[#\s]", ""
                    ),
                    ",",
                )
            ).alias("rep_s"),
        )
        .select("pds_id", F.col("rep_s").cast("bigint").alias("rep_id"))
    )
    reps = (
        entities.where(F.col("ifc_class") == "IFCSHAPEREPRESENTATION")
        .select(
            F.col("entity_id").alias("rep_id"),
            F.explode(
                F.split(
                    F.regexp_replace(
                        F.regexp_extract("args", tail_list, 1), r"[#\s]", ""
                    ),
                    ",",
                )
            ).alias("item_s"),
        )
        .select("rep_id", F.col("item_s").cast("bigint").alias("solid_id"))
    )
    return (
        prods.join(pds, "pds_id")
        .join(reps, "rep_id")
        .select("entity_id", "global_id", "ifc_class", "solid_id")
    )


def ifc_product_meshes(entities: DataFrame) -> DataFrame:
    """S3 geometry subset: evaluate each product's IfcExtrudedAreaSolid into
    a closed triangle mesh (profile ring -> G2 ear clip caps -> G3 prism
    sides) and its bbox — the create_shape output shape the reference
    consumes (ifcObjectGeom.py:91-112: vertex/index lists + set_box).

    Profiles: IFCARBITRARYCLOSEDPROFILEDEF over an IFCPOLYLINE ring, and
    IFCRECTANGLEPROFILEDEF (XDim x YDim centered at the profile origin).
    Output: (entity_id, global_id, ifc_class, n_tri, surface2,
    xmin..zmax, tris binary float32 (n_tri,3,3) soup)."""
    solids = ifc_swept_solids(entities)
    prof, ring_rows = _profile_rings(entities)

    per_solid = (
        solids.join(F.broadcast(prof), "profile_id")
        .join(ring_rows, "curve_id", "left")
        .select("solid_id", "depth", "ptype", "xdim", "ydim", "pos", "px", "py")
    )

    def eval_solid(pdf):
        import numpy as np
        import pandas as pd

        from ..operators.geometry import prism_extrude, prism_extrude_with_holes

        depth = float(pdf["depth"].iloc[0])
        ring = _profile_ring_np(pdf)
        holes = _profile_holes_np(pdf)
        if holes:
            tris = prism_extrude_with_holes(ring, holes, 0.0, depth)
        else:
            tris = prism_extrude(ring, 0.0, depth)
        return pd.DataFrame([_mesh_row(int(pdf["solid_id"].iloc[0]), tris)])

    meshes = per_solid.groupBy("solid_id").applyInPandas(eval_solid, _MESH_SCHEMA)
    # faceted BReps are representation items exactly like swept solids, so
    # their meshes union straight into the same (solid_id-keyed) mesh table
    meshes = meshes.unionByName(ifc_brep_meshes(entities))
    # revolved solids: same representation-item contract, revolve kernel
    meshes = meshes.unionByName(ifc_revolved_meshes(entities))
    # IFC4 tessellated geometry is already a mesh — decode it directly
    meshes = meshes.unionByName(ifc_tfs_meshes(entities))
    meshes = meshes.unionByName(ifc_pfs_meshes(entities))
    # swept-disk solids (pipes along a directrix)
    meshes = meshes.unionByName(ifc_sds_meshes(entities))
    # mapped items (instanced geometry) transform already-evaluated source
    # meshes, so they union AFTER the primitive evaluators ...
    meshes = meshes.unionByName(ifc_mapped_meshes(entities, meshes))
    # ... and boolean clipping results (plane half-space DIFFERENCE, incl.
    # chains) AFTER that, so a clip can reference a mapped instance too
    meshes = meshes.unionByName(ifc_clipped_meshes(entities, meshes))
    return ifc_product_solids(entities).join(meshes, "solid_id").select(
        "entity_id", "global_id", "ifc_class", "n_tri", "surface2",
        "xmin", "xmax", "ymin", "ymax", "zmin", "zmax", "tris",
    )


_MESH_SCHEMA = (
    "solid_id bigint, n_tri int, surface2 bigint,"
    " xmin double, xmax double, ymin double, ymax double,"
    " zmin double, zmax double, tris binary"
)


def _mesh_row(solid_id: int, tris) -> dict:
    """Common (n_tri, surface2, bbox, float32 soup) row off a (T,3,3) mesh."""
    import numpy as np

    from ..operators.geometry import triangle_normals

    _, dbl = triangle_normals(tris)
    flat = tris.reshape(-1, 3)
    return {
        "solid_id": solid_id,
        "n_tri": len(tris),
        "surface2": int(np.rint(dbl.sum())),
        "xmin": float(flat[:, 0].min()),
        "xmax": float(flat[:, 0].max()),
        "ymin": float(flat[:, 1].min()),
        "ymax": float(flat[:, 1].max()),
        "zmin": float(flat[:, 2].min()),
        "zmax": float(flat[:, 2].max()),
        "tris": np.ascontiguousarray(tris, dtype=np.float32).tobytes(),
    }


_CIRCLE_SEGMENTS = 32


def _circle_ring_np(radius: float):
    import numpy as np

    th = np.linspace(0.0, 2.0 * np.pi, _CIRCLE_SEGMENTS, endpoint=False)
    return np.column_stack([radius * np.cos(th), radius * np.sin(th)])


def _profile_holes_np(pdf) -> list:
    """Interior hole rings of a profile (only the hollow-circle profile
    has one: bore radius = Radius - WallThickness)."""
    if pdf["ptype"].iloc[0] != "circhollow":
        return []
    bore = float(pdf["xdim"].iloc[0]) - float(pdf["ydim"].iloc[0])
    if bore <= 0.0:
        return []
    return [_circle_ring_np(bore)]


def _profile_ring_np(pdf):
    """Materialize one solid's profile ring (CCW (N,2) float64) from the
    joined _profile_rings rows."""
    import numpy as np

    ptype = pdf["ptype"].iloc[0]
    if ptype in ("circle", "circhollow"):
        return _circle_ring_np(float(pdf["xdim"].iloc[0]))
    if ptype == "rect":
        hx, hy = float(pdf["xdim"].iloc[0]) / 2.0, float(pdf["ydim"].iloc[0]) / 2.0
        return np.array([[-hx, -hy], [hx, -hy], [hx, hy], [-hx, hy]])
    g = pdf.sort_values("pos")
    ring = g[["px", "py"]].to_numpy(dtype=np.float64)
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]  # STEP polylines close explicitly
    # ear clip wants CCW; IFC profiles may be stored either way
    x, y = ring[:, 0], ring[:, 1]
    if np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y) < 0:
        ring = ring[::-1]
    return ring


def _profile_rings(entities: DataFrame):
    """Shared profile parsing for the swept/revolved solid evaluators:
    (prof: profile_id -> ptype/curve_id/xdim/ydim, ring_rows: ordered
    polyline vertices per curve)."""
    profiles = entities.withColumnRenamed("entity_id", "profile_id")
    arb = profiles.where(
        F.col("ifc_class") == "IFCARBITRARYCLOSEDPROFILEDEF"
    ).select(
        "profile_id",
        F.lit("ring").alias("ptype"),
        F.regexp_extract("args", r"#(\d+)\s*$", 1).cast("bigint").alias("curve_id"),
        F.lit(0.0).alias("xdim"),
        F.lit(0.0).alias("ydim"),
    )
    rect = profiles.where(F.col("ifc_class") == "IFCRECTANGLEPROFILEDEF").select(
        "profile_id",
        F.lit("rect").alias("ptype"),
        F.lit(None).cast("bigint").alias("curve_id"),
        F.regexp_extract("args", r"([0-9][0-9.Ee+\-]*)\s*,\s*[0-9][0-9.Ee+\-]*\s*$", 1)
        .cast("double")
        .alias("xdim"),
        F.regexp_extract("args", _NUM_RE, 1).cast("double").alias("ydim"),
    )
    # curved profiles (columns / pipes): tessellated to a regular
    # _CIRCLE_SEGMENTS-gon, the polyhedral stand-in for ifcopenshell's
    # curved evaluation (COVERAGE.md Known gaps). xdim carries Radius;
    # ydim the hollow profile's WallThickness.
    circ = profiles.where(F.col("ifc_class") == "IFCCIRCLEPROFILEDEF").select(
        "profile_id",
        F.lit("circle").alias("ptype"),
        F.lit(None).cast("bigint").alias("curve_id"),
        F.regexp_extract("args", _NUM_RE, 1).cast("double").alias("xdim"),
        F.lit(0.0).alias("ydim"),
    )
    hollow = profiles.where(
        F.col("ifc_class") == "IFCCIRCLEHOLLOWPROFILEDEF"
    ).select(
        "profile_id",
        F.lit("circhollow").alias("ptype"),
        F.lit(None).cast("bigint").alias("curve_id"),
        F.regexp_extract("args", r"([0-9][0-9.Ee+\-]*)\s*,\s*[0-9][0-9.Ee+\-]*\s*$", 1)
        .cast("double")
        .alias("xdim"),
        F.regexp_extract("args", _NUM_RE, 1).cast("double").alias("ydim"),
    )
    prof = arb.unionByName(rect).unionByName(circ).unionByName(hollow)

    # ordered polyline vertices: posexplode keeps STEP argument order
    polys = entities.where(F.col("ifc_class") == "IFCPOLYLINE").select(
        F.col("entity_id").alias("curve_id"),
        F.posexplode(
            F.split(
                F.regexp_replace(
                    F.regexp_extract("args", r"\(([^()]*)\)", 1), r"[#\s]", ""
                ),
                ",",
            )
        ).alias("pos", "pt_s"),
    ).select("curve_id", "pos", F.col("pt_s").cast("bigint").alias("pt_id"))
    pts = ifc_cartesian_points(entities).selectExpr(
        "entity_id AS pt_id", "x AS px", "y AS py"
    )
    ring_rows = polys.join(pts, "pt_id").select("curve_id", "pos", "px", "py")
    return prof, ring_rows


def ifc_sds_meshes(entities: DataFrame, segments: int = 16) -> DataFrame:
    """S3 swept-disk evaluation (IfcSweptDiskSolid — pipes/conduits in MEP
    models, another shape the reference gets wholesale from ifcopenshell,
    ifcObjectGeom.py:74-130): the Directrix polyline is swept by the
    ``sweep_disk`` kernel (parallel-transport frames, TRUE-MITER elliptical
    elbow rings — the prismatic volume identity holds exactly), with an
    optional InnerRadius bore. Subset: IFCPOLYLINE directrix, full
    parameter range only — solids with a NUMERIC StartParam/EndParam
    (trimmed sweeps) are filtered out rather than mis-evaluated as the
    full directrix tube, consistent with how non-polyline directrices
    drop via the inner join. Output schema == the swept-solid mesh
    table."""
    import pandas as pd

    sds = entities.where(F.col("ifc_class") == "IFCSWEPTDISKSOLID").select(
        F.col("entity_id").alias("solid_id"),
        F.regexp_extract("args", r"^#(\d+)", 1).cast("bigint").alias("curve_id"),
        F.regexp_extract("args", r"#\d+\s*,\s*([0-9][0-9.Ee+\-]*)", 1)
        .cast("double")
        .alias("radius"),
        # InnerRadius when numeric; '$' leaves the extract empty -> null
        F.regexp_extract(
            "args", r"#\d+\s*,\s*[0-9][0-9.Ee+\-]*\s*,\s*([0-9][0-9.Ee+\-]*)", 1
        )
        .cast("double")
        .alias("inner_radius"),
        # StartParam / EndParam (4th/5th args): a NUMERIC value means a
        # TRIMMED sweep, which this subset does not evaluate — such solids
        # are dropped below (consistent with the subset policy of omitting
        # unsupported forms) instead of silently emitting the full tube.
        # try_element_at: a truncated line (fewer than the 5 arguments
        # IfcSweptDiskSolid requires) yields null instead of failing the
        # whole scan under ANSI mode, and is dropped below.
        F.trim(F.try_element_at(F.split("args", ","), F.lit(4))).alias("_p_start"),
        F.trim(F.try_element_at(F.split("args", ","), F.lit(5))).alias("_p_end"),
    ).where(
        F.col("_p_end").isNotNull()
        & ~F.col("_p_start").rlike(r"^[0-9.+\-]")
        & ~F.col("_p_end").rlike(r"^[0-9.+\-]")
    ).drop("_p_start", "_p_end")
    polys = entities.where(F.col("ifc_class") == "IFCPOLYLINE").select(
        F.col("entity_id").alias("curve_id"),
        F.posexplode(
            F.split(
                F.regexp_replace(
                    F.regexp_extract("args", r"\(([^()]*)\)", 1), r"[#\s]", ""
                ),
                ",",
            )
        ).alias("pos", "pt_s"),
    ).select("curve_id", "pos", F.col("pt_s").cast("bigint").alias("pt_id"))
    pts3 = ifc_cartesian_points(entities).withColumnRenamed("entity_id", "pt_id")
    rows = (
        sds.join(polys, "curve_id")
        .join(pts3, "pt_id")
        .select("solid_id", "radius", "inner_radius", "pos", "x", "y", "z")
    )

    def eval_sds(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..operators.geometry import sweep_disk

        g = pdf.sort_values("pos")
        r0 = g.iloc[0]
        inner = (
            None if pd.isna(r0["inner_radius"]) else float(r0["inner_radius"])
        )
        tris = sweep_disk(
            g[["x", "y", "z"]].to_numpy(dtype=float),
            float(r0["radius"]),
            segments=segments,
            inner_radius=inner,
        )
        return pd.DataFrame([_mesh_row(int(r0["solid_id"]), tris)])

    return rows.groupBy("solid_id").applyInPandas(eval_sds, _MESH_SCHEMA)


def ifc_revolved_solids(entities: DataFrame) -> DataFrame:
    """IFCREVOLVEDAREASOLID rows -> (solid_id, profile_id, axis_id, angle).
    The Axis ref is resolved by exploding every #ref of the row and
    equi-joining against the IFCAXIS1PLACEMENT entity set (the Position
    slot may be ``$``, so argument position is unreliable)."""
    rev = entities.where(F.col("ifc_class") == "IFCREVOLVEDAREASOLID").select(
        F.col("entity_id").alias("solid_id"),
        F.regexp_extract("args", r"^#(\d+)", 1).cast("bigint").alias("profile_id"),
        F.regexp_extract("args", _NUM_RE, 1).cast("double").alias("angle"),
        F.explode(
            F.expr(r"regexp_extract_all(args, '#(\\d+)', 1)")
        ).alias("ref_s"),
    ).select(
        "solid_id", "profile_id", "angle",
        F.col("ref_s").cast("bigint").alias("axis_id"),
    )
    axis1 = entities.where(F.col("ifc_class") == "IFCAXIS1PLACEMENT").select(
        F.col("entity_id").alias("axis_id"),
        F.regexp_extract("args", r"^#(\d+)", 1).cast("bigint").alias("loc_id"),
        # Axis slot may be '$': the regexp then misses and yields '' — ANSI
        # cast would throw, try_cast -> null (defaults applied in the UDF)
        F.expr(
            r"try_cast(regexp_extract(args, '#(\\d+)\\s*\\)?\\s*$', 1)"
            r" AS bigint)"
        ).alias("dir_id"),
    )
    return rev.join(F.broadcast(axis1), "axis_id")


def ifc_revolved_meshes(entities: DataFrame, segments: int = 32) -> DataFrame:
    """S3 revolved-solid evaluation (IfcRevolvedAreaSolid — another shape
    the reference obtains wholesale from ifcopenshell,
    /root/reference/py3dtilers/IfcTiler/ifcObjectGeom.py:91-112): the
    profile ring is revolved about the in-plane Axis by Angle (radians)
    with the G-kernel ``revolve_ring`` (closed watertight mesh, end caps
    for partial sweeps). Subset: in-plane axis direction (the IFC schema
    requires the axis to lie in the profile plane; its z component is
    ignored), profile not crossing the axis. Output schema == the
    swept-solid mesh table."""
    solids = ifc_revolved_solids(entities)
    prof, ring_rows = _profile_rings(entities)
    dirs = entities.where(F.col("ifc_class") == "IFCDIRECTION").select(
        F.col("entity_id").alias("dir_id"),
        F.split(F.regexp_replace("args", r"[()\s]", ""), ",").alias("c"),
    ).select(
        "dir_id",
        F.element_at("c", 1).cast("double").alias("adx"),
        F.element_at("c", 2).cast("double").alias("ady"),
    )
    locs = ifc_cartesian_points(entities).selectExpr(
        "entity_id AS loc_id", "x AS aox", "y AS aoy"
    )
    per_solid = (
        solids.join(F.broadcast(prof), "profile_id")
        .join(F.broadcast(locs), "loc_id")
        .join(F.broadcast(dirs), "dir_id", "left")
        .join(ring_rows, "curve_id", "left")
        .select(
            "solid_id", "angle", "aox", "aoy", "adx", "ady",
            "ptype", "xdim", "ydim", "pos", "px", "py",
        )
    )

    def eval_revolved(pdf):
        import numpy as np
        import pandas as pd

        from ..operators.geometry import revolve_ring

        ring = _profile_ring_np(pdf)
        r0 = pdf.iloc[0]
        # missing Direction: default to the profile-plane y axis (the IFC
        # default Z is out-of-plane, invalid for a revolved solid)
        adx = 0.0 if pd.isna(r0["adx"]) else float(r0["adx"])
        ady = 1.0 if pd.isna(r0["ady"]) else float(r0["ady"])
        tris = revolve_ring(
            ring,
            np.array([float(r0["aox"]), float(r0["aoy"])]),
            np.array([adx, ady]),
            float(r0["angle"]),
            segments=segments,
        )
        holes = _profile_holes_np(pdf)
        if holes and float(r0["angle"]) >= 2.0 * np.pi - 1e-9:
            # hollow profile, full revolution: the bore revolves to an
            # inner closed surface whose normals must face the cavity —
            # revolve it and invert the winding. (Partial-angle hollow
            # revolutions would need annulus end caps: out of scope, the
            # bore is ignored there — COVERAGE.md Known gaps.)
            for h in holes:
                inner = revolve_ring(
                    h,
                    np.array([float(r0["aox"]), float(r0["aoy"])]),
                    np.array([adx, ady]),
                    float(r0["angle"]),
                    segments=segments,
                )[:, ::-1, :]
                tris = np.concatenate([tris, inner])
        return pd.DataFrame([_mesh_row(int(r0["solid_id"]), tris)])

    return per_solid.groupBy("solid_id").applyInPandas(
        eval_revolved, _MESH_SCHEMA
    )


def ifc_pfs_meshes(entities: DataFrame) -> DataFrame:
    """S3 tessellated geometry, n-gon flavor (IfcPolygonalFaceSet over
    IfcIndexedPolygonalFace[WithVoids]): each face is a planar polygon
    (optionally with hole loops) of 1-based indices into an
    IfcCartesianPointList3D. Faces are assembled into the same
    (solid_id, face_id, bound_id, is_outer, pos, x, y, z) row shape the
    faceted-BRep walk produces and triangulated by the shared
    ``_eval_planar_faces`` kernel (Newell plane -> G1/G2 ear clip).
    PnIndex is out of scope, as for the triangulated flavor."""
    pfs = entities.where(
        F.col("ifc_class") == "IFCPOLYGONALFACESET"
    ).select(
        F.col("entity_id").alias("solid_id"),
        F.regexp_extract("args", r"^#(\d+)", 1).cast("bigint").alias("coord_id"),
        F.explode(
            F.expr(r"regexp_extract_all(args, '#(\\d+)', 1)")
        ).alias("ref_s"),
    ).select(
        "solid_id", "coord_id", F.col("ref_s").cast("bigint").alias("face_id")
    )
    # loop groups per face: group 0 is the outer ring, the rest are voids
    # (the WithVoids inner-list wrapper adds a paren level but the innermost
    # digit groups are exactly the loops, in STEP order)
    face_loops = entities.where(
        F.col("ifc_class").isin(
            "IFCINDEXEDPOLYGONALFACE", "IFCINDEXEDPOLYGONALFACEWITHVOIDS"
        )
    ).select(
        F.col("entity_id").alias("face_id"),
        F.posexplode(
            F.expr(r"regexp_extract_all(args, '\\((\\d[^()]*)\\)', 1)")
        ).alias("bound_id", "loop_s"),
    ).select(
        "face_id", "bound_id", (F.col("bound_id") == 0).alias("is_outer"),
        F.posexplode(F.split(F.regexp_replace("loop_s", r"\s", ""), ","))
        .alias("pos", "idx_s"),
    ).select(
        "face_id", "bound_id", "is_outer", "pos",
        F.col("idx_s").cast("bigint").alias("vidx"),
    )
    coords = entities.where(
        F.col("ifc_class") == "IFCCARTESIANPOINTLIST3D"
    ).select(
        F.col("entity_id").alias("coord_id"),
        F.posexplode(
            F.expr(r"regexp_extract_all(args, '\\(([^()]+)\\)', 1)")
        ).alias("vpos", "xyz_s"),
    ).select(
        "coord_id",
        (F.col("vpos") + 1).alias("vidx"),  # STEP indices are 1-based
        F.split("xyz_s", ",").alias("c"),
    ).select(
        "coord_id", "vidx",
        F.element_at("c", 1).cast("double").alias("x"),
        F.element_at("c", 2).cast("double").alias("y"),
        F.element_at("c", 3).cast("double").alias("z"),
    )
    rows = (
        pfs.join(face_loops, "face_id")
        .join(coords, ["coord_id", "vidx"])
        .select(
            "solid_id", "face_id", "bound_id", "is_outer", "pos", "x", "y", "z"
        )
    )
    return rows.groupBy("solid_id").applyInPandas(
        _eval_planar_faces, _MESH_SCHEMA
    )


def ifc_tfs_meshes(entities: DataFrame) -> DataFrame:
    """S3 tessellated geometry (IfcTriangulatedFaceSet — IFC4's standard
    mesh representation; the reference consumes it through ifcopenshell
    like every other shape, ifcObjectGeom.py:91-112): CoordIndex triples
    over an IfcCartesianPointList3D, already a triangle mesh — decode,
    no construction needed. Faces and vertices are cogrouped per solid
    (applyInPandasWithState-free cogroup: no F x V join blow-up).
    Subset: PnIndex and per-face normals unsupported (normals are
    recomputed downstream by the G7 kernel where needed); winding is
    taken as authored."""
    tfs = entities.where(
        F.col("ifc_class") == "IFCTRIANGULATEDFACESET"
    ).select(
        F.col("entity_id").alias("solid_id"),
        F.regexp_extract("args", r"^#(\d+)", 1).cast("bigint").alias("coord_id"),
        "args",
    )
    # derived from `entities` directly (not from `tfs`) so the cogroup of
    # verts and faces is not an ambiguous self-join on solid_id
    faces = entities.where(
        F.col("ifc_class") == "IFCTRIANGULATEDFACESET"
    ).select(
        F.col("entity_id").alias("solid_id"),
        F.posexplode(
            F.expr(
                r"regexp_extract_all(args,"
                r" '\\((\\d+\\s*,\\s*\\d+\\s*,\\s*\\d+)\\)', 1)"
            )
        ).alias("fpos", "tri_s"),
    )
    coords = entities.where(
        F.col("ifc_class") == "IFCCARTESIANPOINTLIST3D"
    ).select(
        F.col("entity_id").alias("coord_id"),
        F.posexplode(
            F.expr(r"regexp_extract_all(args, '\\(([^()]+)\\)', 1)")
        ).alias("vpos", "xyz_s"),
    )
    verts = tfs.select("solid_id", "coord_id").join(coords, "coord_id").select(
        "solid_id",
        "vpos",
        F.split("xyz_s", ",").alias("c"),
    ).select(
        "solid_id", "vpos",
        F.element_at("c", 1).cast("double").alias("vx"),
        F.element_at("c", 2).cast("double").alias("vy"),
        F.element_at("c", 3).cast("double").alias("vz"),
    )

    def assemble(vpdf, fpdf):
        import numpy as np
        import pandas as pd

        if len(vpdf) == 0 or len(fpdf) == 0:
            return pd.DataFrame(
                columns=[
                    "solid_id", "n_tri", "surface2", "xmin", "xmax",
                    "ymin", "ymax", "zmin", "zmax", "tris",
                ]
            )
        v = vpdf.sort_values("vpos")[["vx", "vy", "vz"]].to_numpy(np.float64)
        idx = np.array(
            [[int(t) for t in s.split(",")] for s in fpdf.sort_values("fpos")["tri_s"]],
            dtype=np.int64,
        )
        tris = v[idx - 1]  # STEP CoordIndex is 1-based
        return pd.DataFrame([_mesh_row(int(vpdf["solid_id"].iloc[0]), tris)])

    return (
        verts.groupBy("solid_id")
        .cogroup(faces.groupBy("solid_id"))
        .applyInPandas(assemble, _MESH_SCHEMA)
    )


def ifc_mapped_meshes(entities: DataFrame, base_meshes: DataFrame) -> DataFrame:
    """S3 mapped-item evaluation (IfcMappedItem — IFC's geometry
    instancing, which the reference again receives pre-expanded from
    ifcopenshell, /root/reference/py3dtilers/IfcTiler/ifcObjectGeom.py:
    91-112): each IFCMAPPEDITEM references an IFCREPRESENTATIONMAP (a
    library IFCSHAPEREPRESENTATION of already-evaluable solids) plus an
    IFCCARTESIANTRANSFORMATIONOPERATOR3D (axes rotation M, origin O,
    uniform scale s). All source-item meshes are pulled from
    ``base_meshes``, transformed p' = O + s*M*(O_map + p) and merged under
    the mapped item's id — the distributed form of instancing: library
    geometry is evaluated ONCE and broadcast-joined to its N instances.

    Subset: MappingOrigin contributes its location translation only
    (identity rotation — slot 2 axes unsupported there); operator axes
    default to the identity basis; IfcCartesianTransformationOperator3D
    NONUNIFORM is out of scope."""
    mapped = entities.where(F.col("ifc_class") == "IFCMAPPEDITEM").select(
        F.col("entity_id").alias("solid_id"),
        F.regexp_extract("args", r"#(\d+)", 1).cast("bigint").alias("map_id"),
        F.regexp_extract("args", r"#\d+\s*,\s*#(\d+)", 1)
        .cast("bigint")
        .alias("op_id"),
    )
    repmap = entities.where(
        F.col("ifc_class") == "IFCREPRESENTATIONMAP"
    ).select(
        F.col("entity_id").alias("map_id"),
        F.regexp_extract("args", r"#(\d+)", 1).cast("bigint").alias("map_plc_id"),
        F.regexp_extract("args", r"#\d+\s*,\s*#(\d+)", 1)
        .cast("bigint")
        .alias("src_rep_id"),
    )
    src_items = entities.where(
        F.col("ifc_class") == "IFCSHAPEREPRESENTATION"
    ).select(
        F.col("entity_id").alias("src_rep_id"),
        F.explode(
            F.split(
                F.regexp_replace(
                    F.regexp_extract("args", r"\(([^()]*)\)\s*$", 1), r"[#\s]", ""
                ),
                ",",
            )
        ).alias("item_s"),
    ).select("src_rep_id", F.col("item_s").cast("bigint").alias("base_id"))

    # operator slots: Axis1, Axis2, LocalOrigin, Scale[, Axis3] — every slot
    # but the origin may be '$'
    ops = entities.where(
        F.col("ifc_class") == "IFCCARTESIANTRANSFORMATIONOPERATOR3D"
    ).select(
        F.col("entity_id").alias("op_id"),
        F.split(F.regexp_replace("args", r"\s", ""), ",").alias("slots"),
    ).select(
        "op_id",
        # Axis/Scale slots may be '$' (and slot 5 absent): regexp misses
        # yield '' and ANSI cast throws on it — try_cast -> null instead
        F.expr(
            r"try_cast(regexp_extract(slots[0], '#(\\d+)', 1) AS bigint)"
        ).alias("ax1_id"),
        F.expr(
            r"try_cast(regexp_extract(slots[1], '#(\\d+)', 1) AS bigint)"
        ).alias("ax2_id"),
        F.regexp_extract(F.element_at("slots", 3), r"#(\d+)", 1)
        .cast("bigint")
        .alias("org_id"),
        F.expr("try_cast(try_element_at(slots, 4) AS double)").alias("scale"),
        F.expr(
            r"try_cast(regexp_extract(coalesce(try_element_at(slots, 5), ''),"
            r" '#(\\d+)', 1) AS bigint)"
        ).alias("ax3_id"),
    )
    dirs = entities.where(F.col("ifc_class") == "IFCDIRECTION").select(
        F.col("entity_id").alias("dir_id"),
        F.split(F.regexp_replace("args", r"[()\s]", ""), ",").alias("c"),
    ).select(
        "dir_id",
        F.element_at("c", 1).cast("double").alias("vx"),
        F.element_at("c", 2).cast("double").alias("vy"),
        F.coalesce(F.try_element_at("c", F.lit(3)).cast("double"), F.lit(0.0))
        .alias("vz"),
    )
    pts3 = ifc_cartesian_points(entities)

    def dir_cols(alias, default):
        d = dirs.select(
            F.col("dir_id").alias(f"{alias}_id"),
            F.col("vx").alias(f"{alias}x"),
            F.col("vy").alias(f"{alias}y"),
            F.col("vz").alias(f"{alias}z"),
        )
        return d, [
            F.coalesce(F.col(f"{alias}{c}"), F.lit(v)).alias(f"{alias}{c}")
            for c, v in zip("xyz", default)
        ]

    d1, c1 = dir_cols("ax1", (1.0, 0.0, 0.0))
    d2, c2 = dir_cols("ax2", (0.0, 1.0, 0.0))
    d3, c3 = dir_cols("ax3", (0.0, 0.0, 1.0))
    origins = pts3.selectExpr("entity_id AS org_id", "x AS otx", "y AS oty", "z AS otz")
    map_plc = entities.where(
        F.col("ifc_class") == "IFCAXIS2PLACEMENT3D"
    ).select(
        F.col("entity_id").alias("map_plc_id"),
        F.regexp_extract("args", r"#(\d+)", 1).cast("bigint").alias("map_loc_id"),
    )
    map_locs = pts3.selectExpr(
        "entity_id AS map_loc_id", "x AS omx", "y AS omy", "z AS omz"
    )
    resolved = (
        mapped.join(F.broadcast(repmap), "map_id")
        .join(F.broadcast(ops), "op_id")
        .join(F.broadcast(d1), "ax1_id", "left")
        .join(F.broadcast(d2), "ax2_id", "left")
        .join(F.broadcast(d3), "ax3_id", "left")
        .join(F.broadcast(origins), "org_id")
        .join(F.broadcast(map_plc), "map_plc_id", "left")
        .join(F.broadcast(map_locs), "map_loc_id", "left")
        .select(
            "solid_id", "src_rep_id",
            F.coalesce("scale", F.lit(1.0)).alias("scale"),
            *c1, *c2, *c3,
            "otx", "oty", "otz",
            F.coalesce("omx", F.lit(0.0)).alias("omx"),
            F.coalesce("omy", F.lit(0.0)).alias("omy"),
            F.coalesce("omz", F.lit(0.0)).alias("omz"),
        )
    )
    per_item = (
        resolved.join(src_items, "src_rep_id")
        .join(
            base_meshes.select(
                F.col("solid_id").alias("base_id"), F.col("tris").alias("src_tris")
            ),
            "base_id",
        )
        .drop("src_rep_id", "base_id")
    )

    def eval_mapped(pdf):
        import numpy as np
        import pandas as pd

        r0 = pdf.iloc[0]
        m = np.array(
            [
                [r0["ax1x"], r0["ax2x"], r0["ax3x"]],
                [r0["ax1y"], r0["ax2y"], r0["ax3y"]],
                [r0["ax1z"], r0["ax2z"], r0["ax3z"]],
            ],
            dtype=np.float64,
        )
        o_t = np.array([r0["otx"], r0["oty"], r0["otz"]], dtype=np.float64)
        o_m = np.array([r0["omx"], r0["omy"], r0["omz"]], dtype=np.float64)
        s = float(r0["scale"])
        soups = [
            np.frombuffer(b, dtype=np.float32).astype(np.float64).reshape(-1, 3, 3)
            for b in pdf["src_tris"]
        ]
        pts = np.concatenate(soups, axis=0)
        tris = o_t + s * ((pts + o_m) @ m.T)
        return pd.DataFrame([_mesh_row(int(r0["solid_id"]), tris)])

    return per_item.groupBy("solid_id").applyInPandas(eval_mapped, _MESH_SCHEMA)


def _eval_planar_faces(pdf):
    """Shared planar-face mesh kernel (BRep faces and polygonal face
    sets): per face, Newell-plane projection -> G1/G2 ear clip (holes via
    inner bounds) -> lift back to 3-D; one _MESH_SCHEMA row per solid."""
    import numpy as np
    import pandas as pd

    from ..operators.geometry import (
        ear_clip, ear_clip_with_holes, triangle_normals,
    )

    out_tris: list[np.ndarray] = []
    for _, face in pdf.groupby("face_id"):
        rings = []
        outer_first = sorted(
            face.groupby("bound_id"),
            key=lambda kv: (not bool(kv[1]["is_outer"].iloc[0]), kv[0]),
        )
        for _, b in outer_first:
            g = b.sort_values("pos")
            rings.append(g[["x", "y", "z"]].to_numpy(dtype=np.float64))
        ring3 = rings[0]
        if len(ring3) < 3:
            continue
        # Newell normal of the outer loop -> drop the dominant axis
        nrm = np.zeros(3)
        for ax in range(3):
            a, b_ = (ax + 1) % 3, (ax + 2) % 3
            nrm[ax] = np.sum(
                (ring3[:, a] - np.roll(ring3[:, a], -1))
                * (ring3[:, b_] + np.roll(ring3[:, b_], -1))
            )
        # |Newell| = 2*face area; compare against the loop's squared
        # extent so a collinear/sliver outer loop (zero or near-zero
        # area at its own scale) is skipped — no plane to project onto,
        # and the holes branch below divides by nrm[k]
        ext = float(np.ptp(ring3, axis=0).max())
        if not np.any(np.abs(nrm) > 1e-9 * max(ext * ext, 1e-30)):
            continue
        k = int(np.argmax(np.abs(nrm)))
        u, v = [ax for ax in range(3) if ax != k]

        def proj(r3):
            return r3[:, [u, v]].copy()

        ring2 = proj(ring3)
        # ear clip wants a CCW exterior in the projected frame
        x2, y2 = ring2[:, 0], ring2[:, 1]
        flipped = (
            np.sum(x2 * np.roll(y2, -1) - np.roll(x2, -1) * y2) < 0
        )
        if flipped:
            ring2 = ring2[::-1]
            ring3 = ring3[::-1]
        if len(rings) == 1:
            idx = ear_clip(ring2)
            tri3 = ring3[idx]
        else:
            tri2 = ear_clip_with_holes(ring2, [proj(h) for h in rings[1:]])
            if len(tri2) == 0:
                continue
            # lift 2-D triangles back through the plane equation
            # n.x = n.p0 -> dropped coord = (d - nu*u - nv*v) / nk
            d = float(nrm @ ring3[0])
            tri3 = np.zeros(tri2.shape[:2] + (3,), dtype=np.float64)
            tri3[:, :, u] = tri2[:, :, 0]
            tri3[:, :, v] = tri2[:, :, 1]
            tri3[:, :, k] = (
                d - nrm[u] * tri2[:, :, 0] - nrm[v] * tri2[:, :, 1]
            ) / nrm[k]
        if len(tri3):
            out_tris.append(tri3)

    sid = int(pdf["solid_id"].iloc[0])
    if not out_tris:
        tris = np.empty((0, 3, 3), dtype=np.float64)
    else:
        tris = np.concatenate(out_tris, axis=0)
    _, dbl = triangle_normals(tris) if len(tris) else (None, np.zeros(0))
    flat = tris.reshape(-1, 3) if len(tris) else np.zeros((1, 3))
    return pd.DataFrame(
        [
            {
                "solid_id": sid,
                "n_tri": int(len(tris)),
                "surface2": int(np.rint(dbl.sum())),
                "xmin": float(flat[:, 0].min()),
                "xmax": float(flat[:, 0].max()),
                "ymin": float(flat[:, 1].min()),
                "ymax": float(flat[:, 1].max()),
                "zmin": float(flat[:, 2].min()),
                "zmax": float(flat[:, 2].max()),
                "tris": np.ascontiguousarray(tris, dtype=np.float32).tobytes(),
            }
        ]
    )


def ifc_brep_meshes(entities: DataFrame) -> DataFrame:
    """S3 faceted-BRep evaluation (the other mesh source the reference gets
    wholesale from ifcopenshell — IfcFacetedBrep over IfcClosedShell faces,
    /root/reference/py3dtilers/IfcTiler/ifcObjectGeom.py:74-130): each
    planar face's outer loop (plus optional inner-loop holes) is projected
    onto its Newell-normal plane, ear-clipped with the oracle-green G1/G2
    kernels, and lifted back to 3-D via the plane equation. Output schema ==
    the swept-solid mesh table: (solid_id, n_tri, surface2, bbox, tris).

    The relational face walk (brep -> closed shell -> faces -> bounds ->
    polyloops -> points) is four exploded equi-joins over extracted #refs —
    the mesh kernel only ever sees ONE brep's rows per task. Curved
    surfaces / boolean results still need a solid-modeling engine and stay
    documented out of scope."""
    tail_list = r"\(([^()]*)\)\s*$"

    breps = entities.where(F.col("ifc_class") == "IFCFACETEDBREP").select(
        F.col("entity_id").alias("solid_id"),
        F.regexp_extract("args", r"#(\d+)", 1).cast("bigint").alias("shell_id"),
    )
    shells = entities.where(F.col("ifc_class") == "IFCCLOSEDSHELL").select(
        F.col("entity_id").alias("shell_id"),
        F.explode(
            F.split(
                F.regexp_replace(F.regexp_extract("args", tail_list, 1), r"[#\s]", ""),
                ",",
            )
        ).alias("face_s"),
    ).select("shell_id", F.col("face_s").cast("bigint").alias("face_id"))
    faces = entities.where(F.col("ifc_class") == "IFCFACE").select(
        F.col("entity_id").alias("face_id"),
        F.explode(
            F.split(
                F.regexp_replace(F.regexp_extract("args", tail_list, 1), r"[#\s]", ""),
                ",",
            )
        ).alias("bound_s"),
    ).select("face_id", F.col("bound_s").cast("bigint").alias("bound_id"))
    bounds = entities.where(
        F.col("ifc_class").isin("IFCFACEOUTERBOUND", "IFCFACEBOUND")
    ).select(
        F.col("entity_id").alias("bound_id"),
        (F.col("ifc_class") == "IFCFACEOUTERBOUND").alias("is_outer"),
        F.regexp_extract("args", r"#(\d+)", 1).cast("bigint").alias("loop_id"),
    )
    loops = entities.where(F.col("ifc_class") == "IFCPOLYLOOP").select(
        F.col("entity_id").alias("loop_id"),
        F.posexplode(
            F.split(
                F.regexp_replace(F.regexp_extract("args", tail_list, 1), r"[#\s]", ""),
                ",",
            )
        ).alias("pos", "pt_s"),
    ).select("loop_id", "pos", F.col("pt_s").cast("bigint").alias("pt_id"))
    pts = ifc_cartesian_points(entities).selectExpr("entity_id AS pt_id", "x", "y", "z")

    rows = (
        breps.join(shells, "shell_id")
        .join(faces, "face_id")
        .join(bounds, "bound_id")
        .join(loops, "loop_id")
        .join(pts, "pt_id")
        .select("solid_id", "face_id", "bound_id", "is_outer", "pos", "x", "y", "z")
    )

    schema = (
        "solid_id bigint, n_tri int, surface2 bigint,"
        " xmin double, xmax double, ymin double, ymax double,"
        " zmin double, zmax double, tris binary"
    )

    return rows.groupBy("solid_id").applyInPandas(_eval_planar_faces, schema)


def ifc_points_bbox(entities: DataFrame) -> DataFrame:
    pts = ifc_cartesian_points(entities)
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("x").alias("xmin"), F.max("x").alias("xmax"),
        F.min("y").alias("ymin"), F.max("y").alias("ymax"),
        F.min("z").alias("zmin"), F.max("z").alias("zmax"),
    )


def ifc_boolean_clips(entities: DataFrame) -> DataFrame:
    """IFCBOOLEANCLIPPINGRESULT rows resolved to an executable plane clip:
    (result_id, first_id, ox..oz plane origin, nx..nz KEEP-side normal).

    STEP chain: BOOLEANCLIPPINGRESULT(.DIFFERENCE., #body, #halfspace) ->
    IFCHALFSPACESOLID(#surface, agreement) -> IFCPLANE(#placement) ->
    IFCAXIS2PLACEMENT3D(#origin, #axis, #refdir) -> origin point + axis
    direction. Per the IFC AgreementFlag semantics (material of the half
    space lies OPPOSITE the surface normal when TRUE), DIFFERENCE keeps
    the normal side when agreement is TRUE and the anti-normal side when
    FALSE. Axis defaults to (0,0,1) when unset ($), matching the schema
    default of IfcAxis2Placement3D. All planes are in the solid's local
    frame, same as the swept/BRep evaluation."""
    clips = entities.where(
        F.col("ifc_class") == "IFCBOOLEANCLIPPINGRESULT"
    ).select(
        F.col("entity_id").alias("result_id"),
        F.regexp_extract("args", r"#(\d+)", 1).cast("bigint").alias("first_id"),
        F.regexp_extract("args", r"#\d+\s*,\s*#(\d+)", 1)
        .cast("bigint")
        .alias("hs_id"),
    )
    half = entities.where(F.col("ifc_class") == "IFCHALFSPACESOLID").select(
        F.col("entity_id").alias("hs_id"),
        F.regexp_extract("args", r"#(\d+)", 1).cast("bigint").alias("surface_id"),
        (F.regexp_extract("args", r"\.(T|F)\.", 1) == "T").alias("agreement"),
    )
    planes = entities.where(F.col("ifc_class") == "IFCPLANE").select(
        F.col("entity_id").alias("surface_id"),
        F.regexp_extract("args", r"#(\d+)", 1).cast("bigint").alias("placement_id"),
    )
    # IfcAxis2Placement3D(#loc, #axis|$, #refdir|$): positional split —
    # the axis slot may be '$', in which case the schema default +Z applies
    plc = entities.where(
        F.col("ifc_class") == "IFCAXIS2PLACEMENT3D"
    ).select(
        F.col("entity_id").alias("placement_id"),
        F.split(F.regexp_replace("args", r"\s", ""), ",").alias("slots"),
    ).select(
        "placement_id",
        F.regexp_extract(F.element_at("slots", 1), r"#(\d+)", 1)
        .cast("bigint")
        .alias("loc_id"),
        # the Axis slot may be '$' (schema default +Z): regexp yields ''
        # and ANSI cast throws on it — try_cast -> null, default downstream
        F.expr(
            r"try_cast(regexp_extract(try_element_at(slots, 2), '#(\\d+)', 1)"
            r" AS bigint)"
        ).alias("axis_id"),
    )
    dirs = entities.where(F.col("ifc_class") == "IFCDIRECTION").select(
        F.col("entity_id").alias("axis_id"),
        F.split(F.regexp_replace("args", r"[()\s]", ""), ",").alias("c"),
    ).select(
        "axis_id",
        F.element_at("c", 1).cast("double").alias("dx"),
        F.element_at("c", 2).cast("double").alias("dy"),
        F.coalesce(F.try_element_at("c", F.lit(3)).cast("double"), F.lit(0.0))
        .alias("dz"),
    )
    locs = ifc_cartesian_points(entities).selectExpr(
        "entity_id AS loc_id", "x AS ox", "y AS oy", "z AS oz"
    )
    resolved = (
        clips.join(F.broadcast(half), "hs_id")
        .join(F.broadcast(planes), "surface_id")
        .join(F.broadcast(plc), "placement_id")
        .join(F.broadcast(locs), "loc_id")
        .join(F.broadcast(dirs), "axis_id", "left")
    )
    sign = F.when(F.col("agreement"), F.lit(1.0)).otherwise(F.lit(-1.0))
    return resolved.select(
        "result_id",
        "first_id",
        "ox", "oy", "oz",
        (sign * F.coalesce("dx", F.lit(0.0))).alias("nx"),
        (sign * F.coalesce("dy", F.lit(0.0))).alias("ny"),
        (sign * F.coalesce("dz", F.lit(1.0))).alias("nz"),
    )


def _mesh_row_pdf(sid: int, tris):
    """(solid_id, n_tri, surface2, bbox, tris) row — the mesh-table shape
    shared by swept, BRep, and clipped evaluation."""
    import numpy as np
    import pandas as pd

    from ..operators.geometry import triangle_normals

    _, dbl = triangle_normals(tris) if len(tris) else (None, np.zeros(0))
    flat = tris.reshape(-1, 3) if len(tris) else np.zeros((1, 3))
    return pd.DataFrame(
        [
            {
                "solid_id": int(sid),
                "n_tri": int(len(tris)),
                "surface2": int(np.rint(dbl.sum())),
                "xmin": float(flat[:, 0].min()),
                "xmax": float(flat[:, 0].max()),
                "ymin": float(flat[:, 1].min()),
                "ymax": float(flat[:, 1].max()),
                "zmin": float(flat[:, 2].min()),
                "zmax": float(flat[:, 2].max()),
                "tris": np.ascontiguousarray(tris, dtype=np.float32).tobytes(),
            }
        ]
    )


_MESH_SCHEMA = (
    "solid_id bigint, n_tri int, surface2 bigint,"
    " xmin double, xmax double, ymin double, ymax double,"
    " zmin double, zmax double, tris binary"
)


def ifc_clipped_meshes(
    entities: DataFrame, base_meshes: DataFrame, max_depth: int = 3
) -> DataFrame:
    """Evaluate IfcBooleanClippingResult chains over already-evaluated body
    meshes: result mesh = clip_mesh_halfspace(first operand's mesh, plane).
    The reference gets these wholesale from ifcopenshell
    (/root/reference/py3dtilers/IfcTiler/ifcObjectGeom.py:74-130); here
    each clip is one broadcast join (plane parameters onto the body-mesh
    row) + an Arrow-batched kernel call. Chained results (a clip whose
    first operand is itself a clip, the normal multi-cut wall/roof form)
    resolve iteratively up to `max_depth` levels; each level only
    processes results whose operand became available in the previous one,
    so the loop does max_depth joins, not max_depth full re-evaluations."""
    clips = ifc_boolean_clips(entities)

    def eval_clip(pdf):
        import numpy as np

        from ..operators.geometry import clip_mesh_halfspace

        row = pdf.iloc[0]
        tris = np.frombuffer(
            bytes(row["tris"]), dtype=np.float32
        ).astype(np.float64).reshape(-1, 3, 3)
        out = clip_mesh_halfspace(
            tris,
            np.array([row["ox"], row["oy"], row["oz"]]),
            np.array([row["nx"], row["ny"], row["nz"]]),
        )
        return _mesh_row_pdf(row["result_id"], out)

    known = base_meshes
    produced: list[DataFrame] = []
    for _ in range(max_depth):
        layer = clips.join(
            known.withColumnRenamed("solid_id", "first_id"), "first_id"
        )
        resolved = layer.groupBy("result_id").applyInPandas(
            eval_clip, _MESH_SCHEMA
        )
        # next level resolves only against THIS layer's outputs (a chain's
        # parent is always the immediately-lower result)
        known = resolved
        produced.append(resolved)
    out = produced[0]
    for p in produced[1:]:
        out = out.unionByName(p)
    return out


def _axis2_frames(entities: DataFrame, id_alias: str) -> DataFrame:
    """IfcAxis2Placement3D rows -> a 12-double world-frame array
    [r00..r22, tx, ty, tz] (column-major basis X|Y|Z, then origin).
    Z = Axis (default +z), X = RefDirection Gram-Schmidt-orthogonalized
    against Z (default +x), Y = Z x X — the IFC schema's derived axes.
    One Arrow-batched UDF over the (small, O(#placements)) frame table."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType

    plc = entities.where(
        F.col("ifc_class") == "IFCAXIS2PLACEMENT3D"
    ).select(
        F.col("entity_id").alias(id_alias),
        F.split(F.regexp_replace("args", r"\s", ""), ",").alias("slots"),
    ).select(
        id_alias,
        F.regexp_extract(F.element_at("slots", 1), r"#(\d+)", 1)
        .cast("bigint")
        .alias("loc_id"),
        F.expr(
            r"try_cast(regexp_extract(try_element_at(slots, 2), '#(\\d+)', 1)"
            r" AS bigint)"
        ).alias("axis_id"),
        F.expr(
            r"try_cast(regexp_extract(try_element_at(slots, 3), '#(\\d+)', 1)"
            r" AS bigint)"
        ).alias("ref_id"),
    )
    dirs = entities.where(F.col("ifc_class") == "IFCDIRECTION").select(
        F.col("entity_id").alias("dir_id"),
        F.split(F.regexp_replace("args", r"[()\s]", ""), ",").alias("c"),
    ).select(
        "dir_id",
        F.element_at("c", 1).cast("double").alias("dx"),
        F.element_at("c", 2).cast("double").alias("dy"),
        F.coalesce(F.try_element_at("c", F.lit(3)).cast("double"), F.lit(0.0))
        .alias("dz"),
    )
    locs = ifc_cartesian_points(entities).selectExpr(
        "entity_id AS loc_id", "x AS ox", "y AS oy", "z AS oz"
    )
    j = (
        plc.join(F.broadcast(locs), "loc_id")
        .join(
            F.broadcast(dirs.selectExpr(
                "dir_id AS axis_id", "dx AS azx", "dy AS azy", "dz AS azz"
            )),
            "axis_id", "left",
        )
        .join(
            F.broadcast(dirs.selectExpr(
                "dir_id AS ref_id", "dx AS arx", "dy AS ary", "dz AS arz"
            )),
            "ref_id", "left",
        )
    )

    @F.pandas_udf(ArrayType(DoubleType()))
    def frame(ox, oy, oz, azx, azy, azz, arx, ary, arz):
        import numpy as np

        n = len(ox)
        z = np.column_stack([
            azx.fillna(0.0), azy.fillna(0.0), azz.fillna(1.0).where(
                ~(azx.isna() & azy.isna() & azz.isna()), 1.0
            ),
        ]).astype(np.float64)
        # rows with no Axis at all -> schema default +Z
        miss_z = np.linalg.norm(z, axis=1) < 1e-12
        z[miss_z] = [0.0, 0.0, 1.0]
        z /= np.linalg.norm(z, axis=1)[:, None]
        x = np.column_stack([
            arx.fillna(1.0), ary.fillna(0.0), arz.fillna(0.0)
        ]).astype(np.float64)
        x -= (np.einsum("ij,ij->i", x, z))[:, None] * z
        bad_x = np.linalg.norm(x, axis=1) < 1e-12
        # RefDirection parallel to Axis (or absent with Axis ~ +x):
        # fall back to whichever world axis is least aligned with Z
        for i in np.where(bad_x)[0]:
            cand = np.eye(3)[np.argmin(np.abs(z[i]))]
            x[i] = cand - (cand @ z[i]) * z[i]
        x /= np.linalg.norm(x, axis=1)[:, None]
        y = np.cross(z, x)
        out = []
        for i in range(n):
            r = np.column_stack([x[i], y[i], z[i]])  # basis as columns
            out.append([*r.reshape(-1).tolist(),
                        float(ox.iloc[i]), float(oy.iloc[i]), float(oz.iloc[i])])
        return pd.Series(out)

    return j.select(
        id_alias,
        frame("ox", "oy", "oz", "azx", "azy", "azz", "arx", "ary", "arz")
        .alias("frame"),
    )


def ifc_world_placements(entities: DataFrame) -> DataFrame:
    """IfcLocalPlacement chains resolved to world transforms:
    (plc_id, frame [r00..r22, tx..tz]) with frame = the composition of
    every relative placement up to the root — what ifcopenshell's
    USE_WORLD_COORDS setting applies before the reference reads vertices
    (ifcObjectGeom.py:83-87).

    LOCALPLACEMENT(#parent|$, #axis2placement3d) rows form a forest;
    resolution is POINTER JUMPING (the H5/components shape): each round
    composes a node's frame with its current ancestor's and adopts the
    ancestor's parent, so an L-deep chain resolves in ceil(log2 L) joins
    — never a sequential walk."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType

    lp = entities.where(F.col("ifc_class") == "IFCLOCALPLACEMENT").select(
        F.col("entity_id").alias("plc_id"),
        F.expr(
            r"try_cast(regexp_extract(split(replace(args, ' ', ''), ',')[0],"
            r" '#(\\d+)', 1) AS bigint)"
        ).alias("parent_id"),
        F.expr(
            r"try_cast(regexp_extract(split(replace(args, ' ', ''), ',')[1],"
            r" '#(\\d+)', 1) AS bigint)"
        ).alias("rel_frame_id"),
    )
    frames = _axis2_frames(entities, "rel_frame_id")
    # frames is the same size class as lp itself — no broadcast hint;
    # AQE picks the strategy from runtime sizes
    cur = lp.join(frames, "rel_frame_id", "left").select(
        "plc_id",
        "parent_id",
        F.coalesce(
            "frame",
            F.array(*[F.lit(v) for v in
                      (1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0,
                       0.0, 0.0, 0.0)]),
        ).alias("frame"),
    )

    # no type hints: PEP-563 stringized annotations (future import above)
    # break pandas_udf's hint resolution here
    @F.pandas_udf(ArrayType(DoubleType()))
    def compose(anc, cur_f):
        import numpy as np

        out = []
        for a, c in zip(anc, cur_f):
            # rows without an ancestor still reach the UDF (when() masks
            # AFTER evaluation) — pass the current frame through
            if a is None or c is None:
                out.append(c if c is not None else a)
                continue
            ra = np.asarray(a[:9]).reshape(3, 3)
            ta = np.asarray(a[9:])
            rc = np.asarray(c[:9]).reshape(3, 3)
            tc = np.asarray(c[9:])
            r = ra @ rc
            t = ra @ tc + ta
            out.append([*r.reshape(-1).tolist(), *t.tolist()])
        return pd.Series(out)

    for _ in range(40):  # ceil(log2(max depth)); IFC trees are ~4-8 deep
        if cur.where(F.col("parent_id").isNotNull()).isEmpty():
            break
        anc = cur.selectExpr(
            "plc_id AS parent_id",
            "parent_id AS gp_id",
            "frame AS anc_frame",
        )
        cur = (
            cur.join(anc, "parent_id", "left")
            .select(
                "plc_id",
                # anc covers EVERY IfcLocalPlacement, so a missed join
                # (anc_frame null) means the parent ref is not a local
                # placement at all (IfcGridPlacement, dangling id in a
                # truncated file): treat the row as a ROOT immediately —
                # keeping parent_id would spin the loop through all 40
                # rounds of eager checkpoints + isEmpty jobs over the
                # full placement table without ever resolving.
                F.when(F.col("anc_frame").isNotNull(), F.col("gp_id"))
                .otherwise(F.lit(None).cast("bigint"))
                .alias("parent_id"),
                F.when(
                    F.col("anc_frame").isNotNull(),
                    compose("anc_frame", "frame"),
                )
                .otherwise(F.col("frame"))
                .alias("frame"),
            )
            .localCheckpoint(eager=True)  # iterative lineage + frame reuse
        )
    return cur.select("plc_id", "frame")


def ifc_product_meshes_world(entities: DataFrame) -> DataFrame:
    """``ifc_product_meshes`` lifted to WORLD coordinates: each product's
    ObjectPlacement (the product ref that resolves to an
    IfcLocalPlacement) is pointer-jump-resolved and applied to the
    evaluated local mesh — the distributed equivalent of the reference's
    USE_WORLD_COORDS create_shape setting (ifcObjectGeom.py:83-87).
    Products without a placement pass through unmoved."""
    import pandas as pd

    local = ifc_product_meshes(entities)
    prod_plc = (
        entities.where(F.col("ifc_class").isin(*PRODUCT_CLASSES))
        .select(
            "entity_id",
            F.explode(
                F.expr(r"regexp_extract_all(args, '#(\\d+)', 1)")
            ).alias("ref_s"),
        )
        .select("entity_id", F.col("ref_s").cast("bigint").alias("plc_id"))
        .join(ifc_world_placements(entities), "plc_id")
        .select("entity_id", "frame")
    )
    placed = local.join(prod_plc, "entity_id", "left")

    schema = (
        "entity_id bigint, global_id string, ifc_class string, n_tri int,"
        " surface2 bigint, xmin double, xmax double, ymin double,"
        " ymax double, zmin double, zmax double, tris binary"
    )

    cols = [
        "entity_id", "global_id", "ifc_class", "n_tri", "surface2",
        "xmin", "xmax", "ymin", "ymax", "zmin", "zmax", "tris",
    ]

    def apply_frame(pdf: pd.DataFrame) -> pd.DataFrame:
        """Batched per-frame matmul: products sharing a placement frame
        (storeys of repeated elements, mapped items) are concatenated into
        ONE (N, 3, 3) vertex array and transformed with a single
        ``verts @ R.T + t`` — no per-row Python in the transform step
        (the round-4 iterrows loop re-built numpy state per product)."""
        import numpy as np

        frames = pdf["frame"]
        movable = frames.notna().to_numpy() & (pdf["n_tri"].to_numpy() > 0)
        out = pdf[cols].copy()
        if movable.any():
            idx = np.flatnonzero(movable)
            # group batch rows by frame VALUE (12 floats -> bytes key)
            groups: dict[bytes, list[int]] = {}
            for i in idx:
                key = np.asarray(frames.iloc[i], dtype=np.float64).tobytes()
                groups.setdefault(key, []).append(i)
            new_rows: dict[int, dict] = {}
            for key, rows_i in groups.items():
                f = np.frombuffer(key, dtype=np.float64)
                rot, t = f[:9].reshape(3, 3), f[9:]
                tri_arrays = [
                    np.frombuffer(bytes(pdf["tris"].iloc[i]), dtype=np.float32)
                    .astype(np.float64).reshape(-1, 3, 3)
                    for i in rows_i
                ]
                offsets = np.cumsum([0] + [len(a) for a in tri_arrays])
                moved = np.concatenate(tri_arrays) @ rot.T + t
                for k, i in enumerate(rows_i):
                    m = _mesh_row(
                        int(pdf["entity_id"].iloc[i]),
                        moved[offsets[k]:offsets[k + 1]],
                    )
                    m.pop("solid_id")
                    new_rows[i] = m
            for i, m in new_rows.items():
                for c, v in m.items():
                    out.iloc[i, out.columns.get_loc(c)] = v
        return pd.DataFrame(out, columns=cols)

    return placed.mapInPandas(
        lambda it: (apply_frame(p) for p in it), schema
    )
