"""duckdb_psql_spark — a PySpark-native engine with the query surface of
the ``ywelsch/duckdb-psql`` DuckDB extension (reference snapshot at
/root/reference, read-only), rebuilt Spark-first per SURVEY.md.

Usage::

    from duckdb_psql_spark import PsqlSession
    psql = PsqlSession(spark)
    df = psql.sql("from 'data/lineitem.parquet' |> where l_quantity > 45 "
                  "|> select l_orderkey, l_quantity |> order by l_quantity desc |> limit 5")

``PsqlSession`` and ``default_spark`` load on first access (PEP 562): a
Spark Python worker that unpickles an operator's kernel imports this
package, and should import the kernel's module, not the compiler.
"""

from .errors import PsqlCompileError, PsqlError, PsqlParseError

__all__ = [
    "PsqlSession",
    "default_spark",
    "PsqlError",
    "PsqlParseError",
    "PsqlCompileError",
]

__version__ = "0.1.0"


def __getattr__(name: str):
    if name in ("PsqlSession", "default_spark"):
        from . import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
