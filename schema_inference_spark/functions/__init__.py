"""Shared Spark helpers: session builder, salting, canonical output order."""

from .session import get_spark, local_frame, stop_spark  # noqa: F401
