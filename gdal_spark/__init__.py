"""gdal_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-derivation of the core query/data-processing
capabilities of the reference geospatial engine (GDAL, studied at
/root/reference) as idiomatic Spark DataFrame pipelines:

- WebMercator / XYZ / TMS / quadkey tile math as pure Column
  expressions (reference: swig/python/gdal-utils/osgeo_utils/
  gdal2tiles.py:414-530),
- point-in-polygon ray casting vectorized over Arrow batches
  (reference: ogr/ogrlinearring.cpp:462-531),
- cell-bucketed spatial joins, broadcast or grouped-shuffle, with the
  small-ring exact test fused into the join as column arithmetic,
- kNN via iterative cell k-ring expansion (semantics of
  alg/gdalgrid.cpp:896-909 grow-the-radius search),
- tile-pyramid reduction (gdal2tiles.py:1471 overview build),
- rasterize / polygonize raster<->vector conversion
  (alg/gdalrasterize.cpp, alg/polygonize.cpp),
- OGR-SQL-profile relational operators (ogr/ogr_gensql.cpp),
- training-data pipeline ops (dedup, similarity, text analysis).

Everything is DataFrame-first: Catalyst handles pushdown, pruning and
join selection; Python appears only inside Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"
