"""Structured Streaming operators.

Importing this package (as every Python worker that runs one of its
``applyInPandasWithState`` functions does) silences one pandas
deprecation raised inside PySpark, not by this package:
``ApplyInPandasWithStateSerializer`` pads each output batch by
concatenating a frame of all-``None`` object columns, and pandas >= 2.1
warns on that concat for every non-object output column, whatever the
frame a state function yields (the warning fires on a lone float64
column). It is filtered by exact message and by the PySpark module that
emits it, so any other FutureWarning still shows.
"""

import warnings

warnings.filterwarnings(
    "ignore",
    message="The behavior of DataFrame concatenation with empty or all-NA entries",
    category=FutureWarning,
    module="pyspark.sql.pandas.serializers",
)
