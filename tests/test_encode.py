"""encode.encode_columns: one canonical-lexical column per mapped input
column, named ``<col><suffix>``, equal to ``canonical_lexical`` of it."""

import datetime
from decimal import Decimal

from pyspark.sql import functions as F

from xmlschema_spark.encode import canonical_lexical, encode_columns

MAPPING = {"flag": "boolean", "dec": "decimal", "x": "double", "ts": "dateTime"}
TS = datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc)


def _table(spark):
    return spark.createDataFrame(
        [
            (1, True, Decimal("12.30"), float("nan"), TS),
            (2, False, Decimal("45.00"), float("-inf"), None),
            (3, None, None, None, None),
        ],
        "id int, flag boolean, dec decimal(10,2), x double, ts timestamp",
    )


def test_encode_columns_matches_canonical_lexical(spark):
    df = _table(spark)
    out = encode_columns(df, MAPPING)
    lex = [f"{c}__lex" for c in MAPPING]
    assert out.columns == df.columns + lex
    want = df.select(
        "id", *[canonical_lexical(F.col(c), t).alias(f"{c}__lex") for c, t in MAPPING.items()]
    )
    got = {r.id: tuple(r)[1:] for r in out.select("id", *lex).collect()}
    assert got == {r.id: tuple(r)[1:] for r in want.collect()}
    assert got[1] == ("true", "12.3", "NaN", "2024-01-02T03:04:05Z")
    assert got[2] == ("false", "45", "-INF", None)
    assert got[3] == (None, None, None, None)


def test_encode_columns_suffix(spark):
    df = _table(spark)
    out = encode_columns(df, {"flag": "boolean", "dec": "decimal"}, suffix="_s")
    assert out.columns == df.columns + ["flag_s", "dec_s"]
    assert encode_columns(df, {}).columns == df.columns
