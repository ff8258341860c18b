"""setsm_postprocessing_python_spark — a brand-new PySpark-native
spatial-join + tiling engine.

Recasts the reference repo's (PolarGeospatialCenter/setsm_postprocessing_python)
scene -> strip -> mosaic-tile pipeline as distributed DataFrame operators over
a table of Common-Crawl-style web pages:

- pages geocoded to grid/S2 cells via deterministic md5 hashing
  (vectorized, JVM-side expressions; Arrow pandas UDFs only where needed),
- point-in-polygon tile assignment against quad-tree tile boundaries
  (broadcast prepared rectangles/polygons, batched numpy in pandas UDFs),
- kNN as k-ring expansion + cell-local join,
- per-group greedy merge ordering + coregistration analogue
  (cf. reference lib/scenes2strips.py),
- bitmask flags algebra (cf. reference lib/filter_scene.py:39-48),
- one atomic commit record per layout and pipeline stage for idempotent
  resume (cf. .fin markers, reference batch_scenes2strips.py:1518-1533).

Everything here derives from public knowledge only (Apache Spark API and the
reference repo's observable behavior).
"""

__version__ = "0.1.0"
