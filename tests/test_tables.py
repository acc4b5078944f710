"""``tables.load_table``: the per-footer schema cache and the nanos
conversion."""

from __future__ import annotations

import os
import shutil
import sys
import threading
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from data_lake_project_spark.tables import TABLES, load_table

# epoch-nanos above 2^53 whose microsecond a double path gets wrong
NANOS = [1_700_000_000_123_456_999, 1_700_000_000_000_000_999]


def _job_count(spark) -> int:
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    return sc.statusStore().jobsList(None).size()


def _uncached(spark, path: str):
    """An inferred read plus the nanos conversion, footer by footer."""
    df = spark.read.parquet(path)
    for f in pq.read_schema(path):
        if str(f.type).startswith("timestamp[ns") and (
            dict(df.dtypes)[f.name] == "bigint"
        ):
            df = df.withColumn(
                f.name,
                F.timestamp_micros(F.expr(f"`{f.name}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df


def _rows(df) -> list[str]:
    return sorted(map(str, df.collect()))


def _write_nanos(path, **extra) -> None:
    cols = {"id": [1, 2], "ts": pa.array(NANOS, pa.timestamp("ns"))}
    pq.write_table(pa.table({**cols, **extra}), path)


def _rewrite_keeping_mtime(path, write) -> None:
    st = os.stat(path)
    write()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))


def test_warm_load_launches_no_job(spark, tmp_path):
    for t in TABLES:
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    lake = str(tmp_path)
    before = _job_count(spark)
    load_table(spark, lake, "orders")
    # the counter sees the cold load's inference job
    assert _job_count(spark) != before

    for t in TABLES:
        load_table(spark, lake, t)
        before = _job_count(spark)
        warm = load_table(spark, lake, t)
        assert _job_count(spark) == before, t
        ref = _uncached(spark, f"{lake}/{t}.parquet")
        assert warm.schema == ref.schema, t
        assert _rows(warm) == _rows(ref), t


def test_nanos_load_as_exact_timestamp_ntz_and_follow_rewrites(
    spark, tmp_path
):
    assert all(int(float(v)) // 1000 != v // 1000 for v in NANOS)
    path = tmp_path / "events.parquet"
    _write_nanos(path)
    want = {
        i: datetime(1970, 1, 1) + timedelta(microseconds=v // 1000)
        for i, v in zip((1, 2), NANOS)
    }
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes) == {"id": "bigint", "ts": "timestamp_ntz"}
        assert {r.id: r.ts for r in df.collect()} == want

    _rewrite_keeping_mtime(path, lambda: _write_nanos(path, extra=["a", "b"]))
    df = load_table(spark, str(tmp_path), "events")
    assert df.columns == ["id", "ts", "extra"]
    assert {r.id: (r.ts, r.extra) for r in df.collect()} == {
        1: (want[1], "a"),
        2: (want[2], "b"),
    }


def test_int96_rewrite_is_not_served_the_nanos_schema(spark, tmp_path):
    """INT96 and TIMESTAMP(NANOS) have the same Arrow schema; Spark
    reads the first as TIMESTAMP and the second as BIGINT."""
    path = tmp_path / "events.parquet"
    _write_nanos(path)
    load_table(spark, str(tmp_path), "events")
    table = pq.read_table(path)
    _rewrite_keeping_mtime(
        path,
        lambda: pq.write_table(
            table, path, use_deprecated_int96_timestamps=True
        ),
    )
    assert pq.read_schema(path).equals(table.schema)
    df = load_table(spark, str(tmp_path), "events")
    ref = _uncached(spark, str(path))
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.schema == ref.schema
    assert _rows(df) == _rows(ref)


def test_unreadable_local_footer_raises(spark, tmp_path):
    (tmp_path / "events.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        load_table(spark, str(tmp_path), "events")


def test_directory_table_takes_the_inference_path(spark, tmp_path):
    src = load_table(spark, SF_DIR, "nation")
    src.write.parquet(str(tmp_path / "nation.parquet"))
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "nation")
        assert df.schema == src.schema
        assert _rows(df) == _rows(src)


def test_concurrent_cold_loads_agree(spark, tmp_path):
    _write_nanos(tmp_path / "events.parquet")
    results, errors = [], []

    def load():
        try:
            df = load_table(spark, str(tmp_path), "events")
            results.append((df.schema, _rows(df)))
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=load) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(results) == 8 and len(set(map(repr, results))) == 1
    before = _job_count(spark)
    load_table(spark, str(tmp_path), "events")
    assert _job_count(spark) == before
