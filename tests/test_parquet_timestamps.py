"""Reading parquet timestamp encodings.

Spark writes INT96 timestamps by default and reads them natively; a
TIMESTAMP(NANOS) column, which Spark rejects, is read as int64 and
truncated to microseconds, as DuckDB does.
"""

import datetime

import pytest


@pytest.fixture()
def utc(psql):
    key = "spark.sql.session.timeZone"
    old = psql.spark.conf.get(key)
    psql.spark.conf.set(key, "UTC")
    yield psql
    psql.spark.conf.set(key, old)


def test_copy_timestamp_round_trip(utc, tmp_path):
    out = str(tmp_path / "t.parquet")
    utc.sql(
        f"copy (select timestamp '2024-01-01 12:00:00' as ts) "
        f"to '{out}' (format parquet)"
    )
    rows = utc.sql(f"from '{out}' |> select cast(ts as string) as s").collect()
    assert [r.s for r in rows] == ["2024-01-01 12:00:00"]


def test_nanosecond_timestamp_truncates_to_micros(utc, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "ns.parquet")
    noon = datetime.datetime(2024, 1, 1, 12, tzinfo=datetime.timezone.utc)
    ns = int(noon.timestamp()) * 10**9
    pq.write_table(
        pa.table({"ts": pa.array([ns + 123_456_789], pa.timestamp("ns"))}), src
    )
    try:
        rows = utc.sql(
            f"from '{src}' |> select cast(ts as string) as s"
        ).collect()
    finally:
        utc.spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert [r.s for r in rows] == ["2024-01-01 12:00:00.123456"]
