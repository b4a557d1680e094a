"""Plan-faithful action for timing harnesses (bench.py; the legacy
subset in perfbench).

A bare ``df.count()`` lets Catalyst ELIMINATE unique-key joins whose
output columns nobody consumes, so a timing harness can "measure" a
join-pruned no-op plan (this bit the first semdedup ×100 probe; see
SCALE.md).  Every harness must execute the SAME action for headline
timings and scale ratios to describe the same work — keeping the
helper in one place is what guarantees that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def full_mat(df: DataFrame) -> int:
    """Execute the WHOLE plan (a count over every output column, which
    marks each column as consumed) and return the row count.

    Columns are first renamed POSITIONALLY via ``toDF`` (which is truly
    ordinal, unlike ``df[i]`` — PySpark implements that as
    ``_jdf.apply(self.columns[i])``, i.e. name-based resolution):
    rows-only queries may legally repeat an output name
    (AMBIGUOUS_REFERENCE under by-name counting) or contain dots
    (UNRESOLVED_COLUMN: parsed as struct access), and either would kill
    the whole probe/bench sweep mid-run."""
    d = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
    row = d.agg(F.count(F.lit(1)).alias("_n"),
                *[F.count(f"_c{i}").alias(f"_k{i}")
                  for i in range(len(d.columns))]).collect()[0]
    return row["_n"]
