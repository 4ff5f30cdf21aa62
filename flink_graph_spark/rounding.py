"""The one rounding contract of every oracle-checked ratio: the Spark
function and its DuckDB twin both apply ``ROUND(x, ROUND_TO)``, so the
two engines' doubles compare equal after canonicalization."""

ROUND_TO = 6
