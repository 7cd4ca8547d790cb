from healthcare_rcm_etl_pipeline_spark.operators import (  # noqa: F401
    asof,
    corpus,
    dedup,
    fuzzy,
    graph,
    incremental,
    keys,
    multimodal,
    quality,
    scd2,
    similarity,
    sketches,
)
