"""The images source (S1/S2 analogs of the fastx scan + file-type routing,
/root/reference/src/sketch.rs:95-121,488): schema-enforced reads of the
canonical images table from Parquet (or an Iceberg table name when a catalog
is configured), with format routing/validation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs import ALL_FMTS

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def read_images(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Load the images table (parquet path, or catalog table if it contains
    no '/'), enforce the canonical schema, and route out unknown formats
    (the extension-dispatch analog, sketch.rs:95-121)."""
    if "/" in path_or_table:
        # the enforced read schema would null-fill a missing column, so the
        # files' own schema is validated first
        validate_images_schema(spark.read.parquet(path_or_table))
        df = spark.read.schema(IMAGES_SCHEMA).parquet(path_or_table)
    else:
        df = spark.read.table(path_or_table)
        validate_images_schema(df)
    return df.filter(F.col("fmt").isin(*sorted(ALL_FMTS)))


def validate_images_schema(df: DataFrame) -> None:
    expected = {f.name: f.dataType for f in IMAGES_SCHEMA.fields}
    actual = {f.name: f.dataType for f in df.schema.fields}
    missing = set(expected) - set(actual)
    if missing:
        raise ValueError(f"images table missing columns: {sorted(missing)}")
    for name, dt in expected.items():
        if actual[name].simpleString() != dt.simpleString():
            raise ValueError(
                f"images.{name}: expected {dt.simpleString()}, got "
                f"{actual[name].simpleString()}"
            )
