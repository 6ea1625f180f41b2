from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("catabra_pandas_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


def to_sdf(spark, pdf: pd.DataFrame):
    """createDataFrame keeps pandas NaN as Spark NaN (a double VALUE); the
    engine's missing-data convention is Spark null — convert."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    sdf = spark.createDataFrame(pdf)
    for f in sdf.schema.fields:
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.col(f.name)
            sdf = sdf.withColumn(f.name, F.when(~F.isnan(c), c))
    return sdf


def assert_pdf_equal(actual: pd.DataFrame, expected: pd.DataFrame, sort_by=None, atol=1e-5):
    """Comparator contract from reference tests/util.py:272-293: sort first
    (Spark order is undefined), float tolerance 1e-5, NaN==NaN."""
    assert sorted(actual.columns) == sorted(expected.columns), (
        f"columns differ: {sorted(actual.columns)} vs {sorted(expected.columns)}")
    actual = actual[sorted(actual.columns)]
    expected = expected[sorted(expected.columns)]
    if sort_by is None:
        sort_by = list(actual.columns)
    actual = actual.sort_values(sort_by, kind="stable").reset_index(drop=True)
    expected = expected.sort_values(sort_by, kind="stable").reset_index(drop=True)
    assert len(actual) == len(expected), f"row counts differ: {len(actual)} vs {len(expected)}"
    for c in actual.columns:
        a, e = actual[c], expected[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(e):
            a = pd.to_numeric(a, errors="coerce").astype(float)
            e = pd.to_numeric(e, errors="coerce").astype(float)
            ok = (np.isclose(a, e, atol=atol, rtol=1e-5) | (a.isna() & e.isna())).all()
        elif pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(e):
            a = pd.to_datetime(a)
            e = pd.to_datetime(e)
            ok = ((a == e) | (a.isna() & e.isna())).all()
        else:
            ok = ((a == e) | (a.isna() & e.isna())).all()
        assert ok, f"column {c!r} differs:\nactual:\n{actual[c]}\nexpected:\n{expected[c]}"


def axis_as(sdf, cols, kind: str):
    """Re-type the integer axis columns ``cols`` of ``sdf``: "date" (that
    many days after 2024-01-01), "daytime" (a day-time interval of that
    many seconds) or "string" (the decimal digits, so lexicographic order
    differs from numeric order: "10" < "9")."""
    from pyspark.sql import functions as F

    conv = {
        "date": lambda c: F.date_add(F.lit("2024-01-01").cast("date"),
                                     c.cast("int")),
        "daytime": lambda c: F.make_dt_interval(secs=c.cast("decimal(18,6)")),
        "string": lambda c: c.cast("string"),
    }[kind]
    return sdf.withColumns({c: conv(F.col(c)) for c in cols})
