"""Pure Column-expression libraries — no I/O, fully codegen-friendly.

Everything here returns :class:`pyspark.sql.Column` (or small helper
DataFrames) built exclusively from built-in ``pyspark.sql.functions``,
so every transform stays inside whole-stage codegen on the JVM.  No
row-at-a-time Python UDFs exist in this package.

Submodules are not imported here: callers import the one they use.
"""
