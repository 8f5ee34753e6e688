"""lasutility_spark — a PySpark-native spatial analytics engine.

A from-scratch re-expression of the query/data-processing capabilities of
Kuoste/LasUtility (reference: /root/reference, C#, MIT) as an idiomatic
Spark DataFrame engine:

- ``gridlib``   — pure numpy semantic core (grid math, tile codec, scanline,
  Delaunay TIN, raster codecs).  No Spark imports; shippable via
  ``spark-submit --py-files``.
- ``engine``    — Spark stages: tiling/partitioning, voxel aggregates,
  per-tile TIN rasterization kernels, vector→raster PIP, checkpoints.
- ``pipelines`` — the geospatial operators as portable SQL over a points
  table (``geosql``), shared by the Spark queries and the DuckDB oracle,
  plus embedding similarity search (``similarity``) and event
  sessionization (``events``), which are slated for removal.
"""

__version__ = "0.1.0"
