"""py3dtilers_spark — a PySpark-native spatial-join + tiling engine.

Re-expresses the capabilities of VCityTeam/py3dtilers (reference at
/root/reference, see SURVEY.md) as distributed DataFrame operators:

- deterministic feature table of image+caption rows (BASELINE.json input_hint)
- grid/Morton cell encoding of centroids (vectorized, Arrow-batched)
- distributed kd-tree tile partitioning (reference: py3dtilers/Common/kd_tree.py:4-42)
- point-in-polygon broadcast join with first-match-wins semantics
  (reference: py3dtilers/Common/group.py:161-199)
- cube merge on rounded centroids (reference: group.py:201-224)
- bottom-up bounding-volume hierarchy + tileset manifest
  (reference: py3dtilers/Common/tileset_creation.py:27-139)
- per-tile payload encode in a streaming mapInPandas (atlas packing, PSNR-gated codec)
- training-data ops: dedup (exact/minhash/simhash/jaccard), ANN, text analysis
- lineage/checkpoint table with exact resume

Everything is DataFrame/SQL-first; Python only appears inside Arrow-batched
pandas UDFs (never per-row Python).
"""

from ._pyworker import install_zip_guard

# runs in the driver and in every Python worker that unpickles package code
install_zip_guard()

__version__ = "0.1.0"
