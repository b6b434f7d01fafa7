"""Result checks against DuckDB, run outside every timed window.

Registered queries are compared with their ``oracle_sql()`` twin by the
order-insensitive fingerprint of ``scripts/check_oracle.py`` (row count,
sorted column names, hash of canonicalized sorted rows).
"""

from __future__ import annotations

import functools
import importlib.util
import os

from perfbench.env import REPO_ROOT


@functools.cache
def _check_oracle():
    path = os.path.join(REPO_ROOT, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def corpus_connection(sf_dir: str):
    import duckdb

    from automotive_big_data_analysis_spark.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def rows_to_pandas(rows, schema):
    """The frame ``DataFrame.toPandas()`` (non-Arrow path) builds from
    already-collected rows, so a timed ``collect()`` is checked without
    running the query a second time."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = [f.name for f in schema.fields]
    if not rows:
        return pd.DataFrame(columns=names)
    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=names)
    if not names:
        return pdf
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone="UTC",
                struct_in_pandas="row",
                error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def check_query(con, sql: str, spark_pdf) -> str | None:
    """None when the Spark result matches the oracle, else a reason."""
    co = _check_oracle()
    duck_pdf = con.execute(sql).fetchdf()
    splits = co.dtype_splits(spark_pdf, duck_pdf)
    if splits:
        return f"dtype split {splits}"
    got, want = co.frame_fingerprint(spark_pdf), co.frame_fingerprint(duck_pdf)
    if got != want:
        return f"spark {got} != oracle {want}"
    return None
