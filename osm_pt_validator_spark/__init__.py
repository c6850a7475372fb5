"""osm_pt_validator_spark — a from-scratch PySpark-native spatial-join +
route-validation engine.

Re-answers the public-transport route checks of the reference
(ockendenjo/osm-pt-validator, a Go CLI + Lambda pipeline) as set-based
DataFrame operators over web-scale tables, plus the spatial layer
(grid/Morton cell index, cell-prefix joins with skew salting, kNN stop
matching, ray-cast point-in-polygon, web-mercator tiling) and the
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) mandated by the graft north rule.

Design rules (enforced in code review + tests):
  * DataFrame/SQL only — no RDDs.
  * No per-row Python UDFs (``pyspark.sql.functions.udf``); the only
    Python on the hot path is Arrow-batched (`pandas_udf`,
    `applyInPandas`, `mapInPandas`, `arrow_udf`, `mapInArrow`).
  * Every shuffle is deliberate: broadcast small dims, salt hot keys,
    let AQE re-plan at runtime.
"""

__version__ = "0.1.0"
