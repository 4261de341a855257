from mistral_ocr_pipeline_spark.checkpoint.lineage import (  # noqa: F401
    LINEAGE_SCHEMA,
    committed_lineage,
    run_extraction,
    with_conv_bucket,
)
