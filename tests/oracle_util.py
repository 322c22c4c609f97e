"""Local mirror of the driver's DuckDB-oracle comparison: run a Spark query
and its oracle SQL, sort columns by name, compare row multisets."""

from __future__ import annotations

import math

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def scalar_schema_violations(spark_df) -> list:
    """Names of result columns the DRIVER's canonicalizer cannot handle.

    The driver sorts the result frame with pandas ``sort_values``, which
    raises ``TypeError: unhashable type`` on list/dict cells — so any
    ARRAY/MAP/STRUCT column in an oracle-paired query's final schema is a
    guaranteed red row (this is exactly how ``ch_dialect_array_split`` /
    ``ch_dialect_assoc2`` shipped red in r9 while the old tuple-norming
    local mirror passed them).  Serialize arrays with
    ``arrayStringConcat`` / ``array_to_string`` in the final SELECT
    instead (repo convention)."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def _complex_cells(df) -> list:
    """Columns of a pandas frame holding unhashable cells (lists, dicts,
    ndarrays) — what pandas ``sort_values`` would throw on driver-side."""
    bad = []
    for c in df.columns:
        for v in df[c].head(50):
            if isinstance(v, (list, dict, set)) or type(v).__name__ == "ndarray":
                bad.append(c)
                break
    return bad


def compare(spark_df, oracle_sql: str, sf_dir: str, float_tol: float = 0.0):
    """Returns (ok, message).  Column-name-sorted, order-insensitive.

    Driver-faithful: complex-typed (ARRAY/MAP/STRUCT) result columns are
    REJECTED on both sides rather than normalized — the driver's pandas
    ``sort_values`` canonicalizer cannot sort them, so a query that
    returns one is broken under the hard gate even when its values are
    correct."""
    rec = compare_record(spark_df, oracle_sql, sf_dir, float_tol)
    return rec["rows_match"], rec["err"] or "ok"


def compare_record(spark_df, oracle_sql: str, sf_dir: str, float_tol: float = 0.0) -> dict:
    """``compare`` as a ``CORRECTNESS_r*.json`` record: ``rows_match`` (the
    verdict), ``schema_match`` (same column names), ``spark_rows`` /
    ``oracle_rows`` and ``err`` (the first difference, else None).  Rows are
    compared, not hashed, so ``hash_match`` is None."""
    rec = {"rows_match": False, "schema_match": None, "hash_match": None,
           "spark_rows": None, "oracle_rows": None, "err": None}
    bad = scalar_schema_violations(spark_df)
    if bad:
        rec["err"] = (
            f"driver-incompatible complex-typed Spark result columns {bad}: "
            "the driver canonicalizer (pandas sort_values) throws on "
            "list cells — serialize with arrayStringConcat(...) in the "
            "final SELECT"
        )
        return rec
    sdf = spark_df.toPandas()
    con = duck_con(sf_dir)
    odf = con.sql(oracle_sql).df()
    rec["spark_rows"], rec["oracle_rows"] = len(sdf), len(odf)
    bad = _complex_cells(odf)
    if bad:
        rec["err"] = (
            f"driver-incompatible complex-typed ORACLE result columns {bad}: "
            "serialize with array_to_string(...) in the oracle's final SELECT"
        )
        return rec
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    rec["schema_match"] = s_cols == o_cols
    if not rec["schema_match"]:
        rec["err"] = f"columns differ: spark={s_cols} oracle={o_cols}"
        return rec
    if len(sdf) != len(odf):
        rec["err"] = f"row count differs: spark={len(sdf)} oracle={len(odf)}"
        return rec
    s_rows = sorted(
        (tuple(_norm(v) for v in row) for row in sdf[s_cols].itertuples(index=False)),
        key=repr,
    )
    o_rows = sorted(
        (tuple(_norm(v) for v in row) for row in odf[o_cols].itertuples(index=False)),
        key=repr,
    )
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a != b:
            if float_tol > 0 and _rows_close(a, b, float_tol):
                continue
            rec["err"] = f"row {i} differs:\n  spark : {a}\n  oracle: {b}"
            return rec
    rec["rows_match"] = True
    return rec


def _rows_close(a, b, tol):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=tol, abs_tol=tol):
                return False
        elif x != y:
            return False
    return True
