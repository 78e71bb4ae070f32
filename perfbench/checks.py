"""Output checks: an order-independent value checksum and the analytic
oracle comparison."""

from __future__ import annotations

import numpy as np

#: decimals kept before hashing; coarse enough that a last-bit change in
#: float summation order cannot flip a rounded digit in practice
CHECKSUM_DECIMALS = 4
#: largest allowed |program - oracle| on a finite output pixel
ORACLE_ATOL = 1e-3


def output_stats(df, decimals: int = CHECKSUM_DECIMALS) -> dict:
    """Rows, rows with a finite ``value``, and the checksum: the sum of
    crc32 over each row's canonical text -- all columns in schema order,
    floats rounded to ``decimals``, NaN printed as ``NaN``, -0.0 as 0.0
    and SQL NULL as ``NULL``.  Row order does not change the sum; a wrong
    value, a misplaced pixel, or a dropped or duplicated row does.  One
    Spark job, inside the JVM."""
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if f.dataType.typeName() in ("double", "float"):
            c = F.round(c.cast("double"), decimals) + F.lit(0.0)
        cols.append(F.coalesce(c.cast("string"), F.lit("NULL")))
    v = F.col("value")
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum((~F.isnan(v) & v.isNotNull()).cast("long")).alias("finite"),
        F.sum(F.crc32(F.concat_ws(",", *cols).cast("binary"))).alias("cs"),
    ).collect()[0]
    return {"rows": int(row["rows"]), "finite": int(row["finite"] or 0),
            "checksum": 0 if row["cs"] is None else int(row["cs"])}



def oracle_errors(got: np.ndarray, expected: np.ndarray) -> tuple[int, float]:
    """(pixels off by more than ORACLE_ATOL, largest error) over the
    output pixels that hold a finite value.  Pixels the program left
    NaN (outside the source footprint) are counted separately by the
    caller through the committed finite-pixel count."""
    fin = np.isfinite(got)
    if not fin.any():
        return 0, 0.0
    err = np.abs(got[fin] - expected[fin])
    err = np.where(np.isfinite(err), err, np.inf)
    return int((err > ORACLE_ATOL).sum()), float(err.max())
