"""gtfs_conflation_pipeline_spark — a PySpark-native spatial conflation + tiling engine.

A from-scratch re-expression of the query semantics of
availabs/gtfs-conflation-pipeline (Node.js + SQLite, see /root/reference) as an
idiomatic PySpark engine: DataFrame/SQL plans optimized by Catalyst, with
numpy kernels behind one Arrow boundary (mapInArrow, functions.udfs) for the
geometry hot path. No per-row Python UDFs anywhere.

Layout:
  kernels      pure-numpy geometry kernels (each one a re-spec of a turf.js
               call used by the reference; unit-tested against scalar oracles)
  session      SparkSession factory (AQE + Arrow on, local-mode tuned)
  fixtures     deterministic synthetic image+caption table and the GTFS-analog
               geo tables derived from it (FIXTURES.md)
  checkpoint   parquet stage checkpoints with per-partition lineage manifests
  operators/   spatial join, tiling, snapping, dedup, similarity, text ops
  plans/       pipeline stage orchestration (the reference's 9 CLI stages)
"""

__version__ = "0.8.2"
