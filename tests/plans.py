"""Physical-plan probes shared by the kernel tests."""

from pyspark.sql import DataFrame


def udf_evals(df: DataFrame, udf_name: str) -> int:
    """How many times ``df``'s executed plan calls the Python UDF
    ``udf_name``: its calls summed over every ``ArrowEvalPython`` node."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        line.count(f"{udf_name}(") for line in plan.splitlines() if "ArrowEvalPython" in line
    )
