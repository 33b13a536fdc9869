"""Lakehouse table layer (SURVEY.md §2.2): DDL/DML, schema evolution,
versioned writes, time travel — over the jar-free native Delta and
Iceberg stacks."""

from dst_spark_k8_lakehouse_spark.plans import ddl, dml  # noqa: F401
