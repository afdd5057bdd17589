"""Reusable DataFrame -> DataFrame operators.

Each operator is a pure function over DataFrames, designed for the
Spark execution model: broadcast where one side is dimension-sized,
shuffle only on declared keys, partial aggregation everywhere, no
driver-side loops over data.

Submodules are not imported here: callers import the one they use
(``from ..operators import tlog``), so loading the package costs
nothing beyond this docstring.
"""
