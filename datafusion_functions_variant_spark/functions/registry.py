"""SQL registration of the variant function surface (SURVEY.md §7 M2:
"Register as both Python API and ``spark.udf.register`` SQL names").

The SQL-facing getters take the JSON path as a *column* (SQL literals
arrive as constant columns), resolved once per distinct path per batch
— the reference's find_string-once amortization
(open-variant/README.md:55-57) survives the SQL boundary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StringType

from .. import codec
from . import explicit


def _get_with_path_col(spark_type, dtype: str):
    @pandas_udf(spark_type)
    def _get(v: pd.DataFrame, paths: pd.Series) -> pd.Series:
        # (steps, field ids) per distinct (metadata blob, path)
        prepared_of: dict[tuple[codec.Metadata, str], tuple[list, list]] = {}
        out = []
        for row, path in zip(codec.batch_rows(v["metadata"], v["value"]), paths):
            py = None
            if row is not None and path is not None:
                vb, m = row
                try:
                    prepared = prepared_of.get((m, path))
                    if prepared is None:
                        steps = codec.parse_json_path(path)
                        prepared = prepared_of[m, path] = (
                            steps, codec.resolve_steps(m, steps)
                        )
                    py = codec.get_path_prepared(vb, m, *prepared)
                except codec.VariantError:
                    pass
            out.append(explicit._coerce(py, dtype))
        return pd.Series(out, dtype=object)

    return _get


#: name → pandas UDF, the whole SQL-callable codec surface.
SQL_FUNCTIONS = {
    "codec_parse_json": explicit.variant_from_json,
    "codec_try_parse_json": explicit.try_variant_from_json,
    "codec_to_json": explicit.variant_to_json,
    "codec_typeof": explicit.variant_typeof,
    "codec_is_variant_null": explicit.is_variant_null,
    "codec_get_bigint": _get_with_path_col(LongType(), "bigint"),
    "codec_get_double": _get_with_path_col(DoubleType(), "double"),
    "codec_get_string": _get_with_path_col(StringType(), "string"),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Idempotently register every codec function under its SQL name."""
    for name, fn in SQL_FUNCTIONS.items():
        spark.udf.register(name, fn)
