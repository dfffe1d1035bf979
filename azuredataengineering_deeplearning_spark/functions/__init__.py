"""Scalar expression helpers (SURVEY §2.8) — all JVM-side Column exprs."""
