from fuzzycat_spark.operators.components import connected_components  # noqa: F401
