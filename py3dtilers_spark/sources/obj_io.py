"""Wavefront OBJ source (S2) and sink (K3).

Source (reference: ObjTiler/obj.py:141-175 via pywavefront): parallelized
across FILES — each file is one task (wholeTextFiles), parsed with numpy
inside an Arrow batch; one feature per 'o'/'g' object, centroid = vertex
mean. Covers the v/f subset (the reference's 8 interleaved vertex formats
are a pywavefront detail; the distributed shape is the same).

Sink (reference: ObjWriter, Common/obj_writer.py:5-115 — dict-based global
vertex dedup with dense index assignment): here dedup is a distributed
dropDuplicates + row_number dense re-index + join-back remap of face
indices; only the final text assembly touches the driver (single-file
format).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _tagged_lines(spark: SparkSession, path_glob: str) -> DataFrame:
    """(file, pos, line, obj_name): every trimmed line of every OBJ file,
    pos its position in the file and obj_name the current 'o'/'g' object
    ("default" before the first), carried down by a running last_value
    window ordered by pos."""
    rdd = spark.sparkContext.wholeTextFiles(path_glob)
    raw = spark.createDataFrame(rdd, "file string, content string")
    lines = (
        raw.select("file", F.posexplode(F.split("content", "\n")).alias("pos", "line"))
        .withColumn("line", F.trim("line"))
    )
    w = (
        Window.partitionBy("file")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return lines.withColumn(
        "obj_name",
        F.coalesce(
            F.last(
                F.when(F.col("line").rlike("^[og] "), F.expr("substring(line, 3)")),
                ignorenulls=True,
            ).over(w),
            F.lit("default"),
        ),
    )


def read_obj(spark: SparkSession, path_glob: str) -> DataFrame:
    """One row per OBJ object: (file, object_name, n_vertices, x, y, z)."""
    tagged = _tagged_lines(spark, path_glob)
    verts = tagged.where(F.col("line").rlike("^v ")).select(
        "file",
        "obj_name",
        F.expr("CAST(split(line, ' +')[1] AS DOUBLE)").alias("vx"),
        F.expr("CAST(split(line, ' +')[2] AS DOUBLE)").alias("vy"),
        F.expr("CAST(split(line, ' +')[3] AS DOUBLE)").alias("vz"),
    )
    return verts.groupBy("file", "obj_name").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.avg("vx").alias("x"),
        F.avg("vy").alias("y"),
        F.avg("vz").alias("z"),
    )


def read_obj_mesh(spark: SparkSession, path_glob: str) -> DataFrame:
    """Full OBJ mesh scan (S2): v/vt/vn/f lines -> one row per triangle
    corner, with position + optional uv + optional normal resolved by
    per-file index joins. n-gon faces are fan-triangulated (what pywavefront
    hands the reference pre-triangulated, ObjTiler/obj.py:60-120; the
    reference's 8 interleaved vertex formats are the cross product of
    {uv, color, normal} presence — here presence is per-column nullability).

    Corner refs support the 'v', 'v/t', 'v//n' and 'v/t/n' OBJ spellings
    (positive indices). Output: (file, obj_name, face_id, tri, corner,
    px, py, pz, u, v, nx, ny, nz, cr, cg, cb) — cr/cg/cb are the optional
    'v x y z r g b' vertex colors, null when the file has none.
    """
    tagged = _tagged_lines(spark, path_glob)

    def _indexed(
        prefix: str, tag: str, ncoord: int, names: list[str], extra=()
    ) -> DataFrame:
        wn = Window.partitionBy("file").orderBy("pos")
        d = tagged.where(F.col("line").rlike(f"^{prefix} ")).withColumn(
            "idx", F.row_number().over(wn)  # OBJ indices are 1-based per file
        )
        cols = [
            F.expr(f"CAST(split(line, ' +')[{i + 1}] AS DOUBLE)").alias(names[i])
            for i in range(ncoord)
        ]
        # keys renamed per table: the face and index tables share lineage
        # (same scan), so unrenamed keys would be ambiguous self-join refs
        return d.select(
            F.col("file").alias(f"{tag}_file"),
            F.col("idx").alias(f"{tag}_idx"),
            *cols,
            *extra,
        )

    # optional per-vertex colors ('v x y z r g b' — the color leg of the
    # reference's {uv,color,normal} format cross product): slots 5-7 when
    # present, null otherwise (try_element_at + try_cast: a strict ANSI
    # cast/index would throw on color-less vertices)
    color_cols = [
        F.expr(
            f"try_cast(try_element_at(split(line, ' +'), {i}) AS DOUBLE)"
        ).alias(name)
        for i, name in ((5, "cr"), (6, "cg"), (7, "cb"))
    ]
    verts = _indexed("v", "v", 3, ["px", "py", "pz"], extra=color_cols)
    uvs = _indexed("vt", "t", 2, ["u", "v"])
    norms = _indexed("vn", "n", 3, ["nx", "ny", "nz"])

    faces = (
        tagged.where(F.col("line").rlike("^f "))
        .select(
            "file", "obj_name", "pos",
            F.expr("slice(split(line, ' +'), 2, 1000)").alias("refs"),
        )
        .where(F.size("refs") >= 3)
        # fan triangulation: (0, i, i+1)
        .select(
            "file", "obj_name", F.col("pos").alias("face_id"),
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(refs) - 2),"
                    " i -> array(refs[0], refs[i], refs[i + 1]))"
                )
            ).alias("tri", "corner_refs"),
        )
        .select(
            "file", "obj_name", "face_id", "tri",
            F.posexplode("corner_refs").alias("corner", "ref"),
        )
        .select(
            "file", "obj_name", "face_id", "tri", "corner",
            F.expr("CAST(split(ref, '/')[0] AS INT)").alias("vi"),
            F.expr("CAST(nullif(try_element_at(split(ref, '/'), 2), '') AS INT)").alias("ti"),
            F.expr("CAST(nullif(try_element_at(split(ref, '/'), 3), '') AS INT)").alias("ni"),
        )
    )
    out = (
        faces.join(
            verts,
            (F.col("file") == F.col("v_file")) & (F.col("vi") == F.col("v_idx")),
        )
        .join(
            uvs,
            (F.col("file") == F.col("t_file")) & (F.col("ti") == F.col("t_idx")),
            "left",
        )
        .join(
            norms,
            (F.col("file") == F.col("n_file")) & (F.col("ni") == F.col("n_idx")),
            "left",
        )
    )
    return out.select(
        "file", "obj_name", "face_id", "tri", "corner",
        "px", "py", "pz", "u", "v", "nx", "ny", "nz", "cr", "cg", "cb",
    )


_BOX_CORNERS = [
    (0, 0, 0), (1, 0, 0), (1, 1, 0), (0, 1, 0),
    (0, 0, 1), (1, 0, 1), (1, 1, 1), (0, 1, 1),
]
# 12 triangles of a box, indices into _BOX_CORNERS
_BOX_TRIS = [
    (0, 1, 2), (0, 2, 3), (4, 6, 5), (4, 7, 6),
    (0, 4, 5), (0, 5, 1), (1, 5, 6), (1, 6, 2),
    (2, 6, 7), (2, 7, 3), (3, 7, 4), (3, 4, 0),
]


def write_obj_boxes(tree_leaves: DataFrame, path: str) -> int:
    """K3: emit one box mesh per leaf tile as a single OBJ file with GLOBAL
    vertex dedup (shared corners between adjacent tiles collapse to one 'v'
    line, as the reference's ObjWriter dict does). Returns vertex count."""
    spark = tree_leaves.sparkSession
    corners = spark.createDataFrame(
        [(i, *c) for i, c in enumerate(_BOX_CORNERS)], "ci int, fx int, fy int, fz int"
    )
    verts = (
        tree_leaves.crossJoin(F.broadcast(corners))
        .selectExpr(
            "tile_id", "ci",
            "CASE WHEN fx = 0 THEN xmin ELSE xmax END AS vx",
            "CASE WHEN fy = 0 THEN ymin ELSE ymax END AS vy",
            "CASE WHEN fz = 0 THEN zmin ELSE zmax END AS vz",
        )
    )
    uniq = verts.select("vx", "vy", "vz").distinct()
    # 1-based OBJ ids via the distributed dense indexer (no single-task
    # global window — operators/indexing.py)
    from ..operators.indexing import dense_index

    indexed = dense_index(uniq, ["vx", "vy", "vz"], "vid", base=1)
    remap = verts.join(indexed, ["vx", "vy", "vz"]).select("tile_id", "ci", "vid")

    tris = spark.createDataFrame(
        [(t, a, b, c) for t, (a, b, c) in enumerate(_BOX_TRIS)],
        "ti int, a int, b int, c int",
    )
    faces = (
        tree_leaves.select("tile_id")
        .crossJoin(F.broadcast(tris))
        .join(remap.withColumnRenamed("ci", "a").withColumnRenamed("vid", "va"), ["tile_id", "a"])
        .join(remap.withColumnRenamed("ci", "b").withColumnRenamed("vid", "vb"), ["tile_id", "b"])
        .join(remap.withColumnRenamed("ci", "c").withColumnRenamed("vid", "vc"), ["tile_id", "c"])
        .select("tile_id", "ti", "va", "vb", "vc")
    )
    # single-FILE text format: the final assembly necessarily serializes on
    # one writer (exactly like the reference's ObjWriter), but it STREAMS —
    # toLocalIterator holds one partition at a time on the driver, so the
    # writer's memory is bounded by a partition, not the mesh. (The sharded
    # alternative is one OBJ per tile; the dedup/remap above is distributed
    # either way.)
    n_verts = 0
    with open(path, "w") as fh:
        fh.write("# py3dtilers_spark tile boxes\n")
        for r in indexed.orderBy("vid").toLocalIterator():
            fh.write(f"v {r['vx']} {r['vy']} {r['vz']}\n")
            n_verts += 1
        for r in faces.orderBy("tile_id", "ti").toLocalIterator():
            fh.write(f"f {r['va']} {r['vb']} {r['vc']}\n")
    return n_verts
