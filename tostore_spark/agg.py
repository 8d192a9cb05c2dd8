"""Aggregations: count / sum / avg / min / max with the reference semantics.

Reference surface (lib/src/model/query_aggregation.dart):
- only these five functions exist (:1-44);
- alias via ``Agg.sum('f', alias='x')``; default output name ``"type(field)"``;
- sum/avg skip non-numeric values (``_extractNumValue`` → null → skipped,
  :95-146) — compiled as a numeric ``try_cast`` so nulls drop out JVM-side;
- two-phase partial/final merge (:171-242) is Spark's native partial
  aggregation — nothing to re-implement;
- finalization: ``avg = sum/count``; null when 0 rows matched except
  count → 0 (:252-268) — Spark's defaults already match.

Deviation (documented superset): the reference's min/max also ignore
non-numeric values; here min/max use the column's natural Spark ordering for
orderable types (timestamp/string/numeric), which is strictly more useful and
identical on numeric columns.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Agg:
    """An aggregation spec.  ``field`` may be a column name or a Column
    expression (engine extension; alias required for expressions)."""

    def __init__(self, kind: str, field="*", alias: Optional[str] = None):
        self.kind = kind
        self.field = field
        self.alias = alias
        if isinstance(field, Column) and alias is None:
            raise ValueError("Agg over a Column expression requires an alias")

    # query_aggregation.dart:1-44
    @staticmethod
    def count(field: str = "*", alias: Optional[str] = None) -> "Agg":
        return Agg("count", field, alias)

    @staticmethod
    def sum(field: str, alias: Optional[str] = None) -> "Agg":
        return Agg("sum", field, alias)

    @staticmethod
    def avg(field: str, alias: Optional[str] = None) -> "Agg":
        return Agg("avg", field, alias)

    @staticmethod
    def min(field: str, alias: Optional[str] = None) -> "Agg":
        return Agg("min", field, alias)

    @staticmethod
    def max(field: str, alias: Optional[str] = None) -> "Agg":
        return Agg("max", field, alias)

    # ---- parity-plus (Spark-native; the reference has only the five
    # above — these are the aggregates a corpus-stats workload needs) ----
    @staticmethod
    def count_distinct(field: str, alias: Optional[str] = None) -> "Agg":
        """Exact distinct count (one extra shuffle on the value)."""
        return Agg("count_distinct", field, alias)

    @staticmethod
    def approx_count_distinct(field: str, alias: Optional[str] = None,
                              rsd: float = 0.05) -> "Agg":
        """HyperLogLog++ distinct estimate — map-side mergeable sketch, no
        value shuffle; the 100 TB default for cardinality."""
        a = Agg("approx_count_distinct", field, alias)
        a.rsd = rsd
        return a

    @staticmethod
    def percentile(field: str, p: float, alias: Optional[str] = None) -> "Agg":
        """Exact interpolated percentile (p in [0,1])."""
        a = Agg("percentile", field, alias)
        a.p = p
        return a

    @property
    def output_name(self) -> str:
        # default output name "type(field)" (query_aggregation.dart:271-291)
        return self.alias or f"{self.kind}({self.field})"

    def to_column(self, resolver) -> Column:
        if isinstance(self.field, Column):
            fn = {"count": F.count, "sum": F.sum, "avg": F.avg,
                  "min": F.min, "max": F.max}[self.kind]
            return fn(self.field).alias(self.output_name)
        if self.kind == "count":
            if self.field == "*":
                return F.count(F.lit(1)).alias(self.output_name)
            resolved = resolver(self.field)
            col = resolved[0] if resolved else F.lit(None)
            return F.count(col).alias(self.output_name)

        resolved = resolver(self.field)
        if resolved is None:
            col, st = F.lit(None).cast("double"), T.DoubleType()
        else:
            col, st = resolved

        if self.kind == "count_distinct":
            return F.count_distinct(col).alias(self.output_name)
        if self.kind == "approx_count_distinct":
            return F.approx_count_distinct(col, rsd=self.rsd).alias(self.output_name)
        if self.kind == "percentile":
            num = col if isinstance(st, T.NumericType) else col.try_cast("double")
            return F.percentile(num, F.lit(self.p)).alias(self.output_name)

        if self.kind in ("sum", "avg"):
            # non-numeric skip: try_cast leaves null, aggregates ignore nulls
            num = col if isinstance(st, T.NumericType) else col.try_cast("double")
            fn = F.sum if self.kind == "sum" else F.avg
            return fn(num).alias(self.output_name)

        if self.kind in ("min", "max"):
            if isinstance(st, (T.NumericType, T.TimestampType,
                               T.TimestampNTZType, T.DateType,
                               T.StringType, T.BooleanType)):
                target = col
            else:
                target = col.try_cast("double")
            fn = F.min if self.kind == "min" else F.max
            return fn(target).alias(self.output_name)

        raise ValueError(f"unknown aggregation: {self.kind}")
