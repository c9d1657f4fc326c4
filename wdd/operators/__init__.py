"""DataFrame-level operators.

Everything here is declarative DataFrame/SQL — built-in pyspark.sql.functions
in the hot path (JVM-side, whole-stage-codegen'd), Arrow UDFs only for the
hash kernels (wdd.udfs), applyInPandas only for the suffix-array verifier.
"""
