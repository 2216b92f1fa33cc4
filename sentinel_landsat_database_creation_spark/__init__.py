"""sentinel_landsat_database_creation_spark — PySpark-native analytics engine.

A brand-new, idiomatic PySpark (DataFrame / SQL / Catalyst + Structured
Streaming) engine with the query and data-processing capabilities of the
reference pipeline Pierre545/Sentinel-Landsat-database-creation (studied
read-only; see SURVEY.md). Not a port: the reference's imperative
pandas/NumPy/PyTorch loops are re-expressed as lazy DataFrame operators
designed for 100 TB scale.

Layout:
  session    - SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
  schemas    - StructType definitions for every table (SURVEY.md §1)
  functions/ - scalar/array/text column-expression builders (no UDFs)
  sources/   - readers: csv/parquet/binary scene listings, testdata loader
  operators/ - the operator inventory of SURVEY.md §2, Spark-first
  plans/     - multi-stage pipelines wiring operators end-to-end
  streaming/ - Structured Streaming variants (tumbling weekly windows)
  compat/    - byte-exact reproduction of the reference's CSV outputs
               (catalog and pair CSV sinks, stringified-list shim)
  multimodal/- opaque binary payload columns: md5 feature/frame plumbing
"""

__version__ = "0.1.0"
