"""Closed-loop benchmark of hoodie_spark: workloads, tracing and checks."""
