from meshinsights_data_pipeline_spark.analytics.variance import (  # noqa: F401
    VarianceParams,
    classify_variance,
    classify_variance_df,
)
from meshinsights_data_pipeline_spark.analytics.issues import (  # noqa: F401
    cycle_issues,
    stage_issues,
)
from meshinsights_data_pipeline_spark.analytics.curation import (  # noqa: F401
    curate_stage_data,
    curated_cycles,
)
from meshinsights_data_pipeline_spark.analytics.thresholds import baseline_thresholds  # noqa: F401
