"""DataGenSource: synthetic table source
(reference feature_tables/sources/datagen_source.py:27-234).

Fields are SequenceField(start, end) or RandomField(minv, maxv, length).
Bounded iff number_of_rows is set or any field is a sequence.  Spark
realization: row ids (spark.range(n) in batch, the rate source in streaming)
+ deterministic column expressions (``field_columns``).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from feathub_spark.common.exceptions import FeathubError
from feathub_spark.common import types as t
from feathub_spark.common.types import to_spark_type
from feathub_spark.table.schema import Schema
from feathub_spark.feature_tables.feature_table import FeatureTable


class FieldConfig:
    pass


class SequenceField(FieldConfig):
    def __init__(self, start: int, end: int) -> None:
        if end < start:
            # a non-positive span would make the batch pmod wrap yield
            # NULL for every row (silently all-NULL column) — fail loudly
            raise FeathubError(
                f"SequenceField requires end >= start; got start={start}, "
                f"end={end}."
            )
        self.start = start
        self.end = end


class RandomField(FieldConfig):
    def __init__(self, minv=0, maxv=100, length: int = 10) -> None:
        self.minv = minv
        self.maxv = maxv
        self.length = length


class DataGenSource(FeatureTable):
    def __init__(
        self,
        name: str,
        schema: Schema,
        number_of_rows: Optional[int] = None,
        rows_per_second: int = 1000,
        field_configs: Optional[Dict[str, FieldConfig]] = None,
        keys: Optional[Sequence[str]] = None,
        timestamp_field: Optional[str] = None,
        timestamp_format: str = "epoch",
        seed: int = 42,
    ) -> None:
        super().__init__(
            name,
            system_name="datagen",
            schema=schema,
            keys=keys,
            timestamp_field=timestamp_field,
            timestamp_format=timestamp_format,
        )
        self.field_configs = dict(field_configs or {})
        self.rows_per_second = rows_per_second
        self.seed = seed
        seq_lengths = [
            fc.end - fc.start + 1
            for fc in self.field_configs.values()
            if isinstance(fc, SequenceField)
        ]
        if number_of_rows is None and not seq_lengths:
            raise FeathubError(
                "DataGenSource needs number_of_rows or at least one "
                "SequenceField to be bounded (unbounded datagen requires "
                "streaming mode)."
            )
        self.number_of_rows = (
            number_of_rows if number_of_rows is not None else min(seq_lengths)
        )

    def field_columns(self) -> List[Column]:
        """One column per schema field, computed from a bigint ``id``
        column.  Random values derive from xxhash64(id, seed + field
        index), so a row's values depend on its id alone: not on the
        partition count, nor on the micro-batch a streamed row lands in."""
        cols = []
        for i, (fname, ftype) in enumerate(
            zip(self.schema.field_names, self.schema.field_types)
        ):
            fc = self.field_configs.get(fname, RandomField())
            spark_t = to_spark_type(ftype)
            if isinstance(fc, SequenceField):
                # wrap over the declared span: with an explicit
                # number_of_rows larger than the sequence length, a bare
                # start+id would run past the declared end
                span = fc.end - fc.start + 1
                col = (
                    F.lit(fc.start) + F.pmod(F.col("id"), F.lit(span))
                ).cast(spark_t)
            else:
                u = (
                    F.abs(F.xxhash64(F.col("id"), F.lit(self.seed + i)))
                    % F.lit(1_000_000)
                ) / F.lit(1_000_000.0)
                if ftype == t.String:
                    col = F.concat(
                        F.lit(f"{fname}_"),
                        (u * F.lit(10 ** fc.length)).cast("bigint"),
                    ).cast(spark_t)
                else:
                    col = (
                        F.lit(fc.minv) + u * (F.lit(fc.maxv) - F.lit(fc.minv))
                    ).cast(spark_t)
            cols.append(col.alias(fname))
        return cols

    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        return spark.range(self.number_of_rows).select(*self.field_columns())
