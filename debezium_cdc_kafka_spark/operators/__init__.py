"""Operator modules. Each module registers its queries through
``QUERIES, ORACLES, query = registry.registrar()``:

- ``QUERIES``:  dict[name -> Callable[(SparkSession, sf_dir), DataFrame]]
- ``ORACLES``:  dict[name -> ANSI SQL string runnable by DuckDB on the same
  tables] (omitted entries get the driver's weaker rows-only check)

``debezium_cdc_kafka_spark.registry`` merges them all, in its ``MODULES``
order.
"""
