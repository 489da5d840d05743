"""Plan introspection: the .explain('formatted') discipline as an API."""

from spring_and_kafka_spark.plans.explain import (
    broadcast_scans,
    count_shuffles,
    formatted_plan,
    has_node,
)

__all__ = ["formatted_plan", "count_shuffles", "has_node", "broadcast_scans"]
