from vector_database_product_recommendation_spark.plans.audit import (  # noqa: F401
    count_broadcast_joins,
    count_exchanges,
    executed_nodes,
    has_cartesian,
    optimized_plan,
    plan_summary,
    pushed_filters,
)
