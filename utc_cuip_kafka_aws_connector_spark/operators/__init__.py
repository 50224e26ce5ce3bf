"""Operator library: one submodule per operator family.

Callers import the submodule they need (``from
utc_cuip_kafka_aws_connector_spark.operators.dedup import exact_dedup``).
The package itself re-exports nothing, so importing one operator does
not load the others or pandas.
"""
