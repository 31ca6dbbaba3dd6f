from .logging import JsonFormatter, StructuredLogger  # noqa: F401
from .metrics import (  # noqa: F401
    Alert,
    AlertLevel,
    AlertManager,
    HealthChecker,
    Metric,
    MetricsCollector,
    QueryRecord,
    SparkQueryMonitor,
    ThresholdRule,
    executor_count_check,
    spark_session_check,
)
