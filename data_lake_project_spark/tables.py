"""Table loading for the driver's synthetic lake (TESTDATA.md).

The reference reads CSV with pandas (``dags/GetData.py:32-35``) and
binary PDFs with requests (``dags/get_data/budgetEco.py:63-66``);
the engine's canonical storage is parquet read through Spark's
vectorized reader, which gives column pruning + predicate pushdown
for free. On a cluster the same call reads ``hdfs://`` / ``s3a://``
paths unchanged.

Schema cache. Letting Spark infer a parquet schema launches a Spark
job per read, and the reference re-reads its inputs on every run the
same way. ``load_table`` therefore keeps one process-wide entry per
local table file: the Spark schema as inferred under
``nanosAsLong=true`` and the columns the nanos conversion rewrites. A
load whose key equals the stored one reads with
``spark.read.schema(<cached>)`` and launches no job. The key has two
parts besides the path:

- the parquet footer's schema as parquet-cpp prints it (physical and
  logical types, repetition, field ids) and its key-value metadata,
  which holds the Spark row schema of Spark-written files. The Arrow
  view of the footer is not enough: INT96 and TIMESTAMP(NANOS) both
  read as ``timestamp[ns]`` there, while Spark types one TIMESTAMP
  and the other BIGINT;
- the session values of the parquet-inference confs ``load_table``
  does not pin itself (``_INFERENCE_CONFS``).

There is no mtime or size heuristic: a rewrite that changes the schema
changes the key, and one that keeps it keeps a still-correct entry.
The footer is read once per load and serves both the key and the ns
map; a local file whose footer cannot be read raises. A directory or
a ``scheme://`` path has no single local footer to key on: it is read
with Spark's inference every time, and a TIMESTAMP(NANOS) column
there stays BIGINT epoch-nanos (no Spark writer produces one).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Confs Spark's parquet schema inference reads that load_table leaves
# to the session (nanosAsLong and the timezone are pinned below).
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

# path -> (key, inferred schema, columns holding epoch-nanos). Two
# threads racing on a cold path both infer and the last store wins;
# every stored schema was inferred under the key it is stored with.
_SCHEMAS: dict[str, tuple[tuple, StructType, list[str]]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one lake table. Timezone pinned to UTC for deterministic
    timestamp rendering (matches the DuckDB oracle).

    TIMESTAMP(NANOS) parquet columns have no native Spark type: under
    ``nanosAsLong`` compatibility they surface as BIGINT epoch-nanos,
    which we convert to TIMESTAMP_NTZ (integer division keeps full
    precision; a double path would lose sub-second bits above 2^53).
    The driver's fixtures are TIMESTAMP(MICROS), so for them the
    conversion never fires."""
    from data_lake_project_spark.session import tune_for_scale

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tune_for_scale(spark)
    path = f"{sf_dir}/{name}.parquet"
    if "://" in path or not os.path.isfile(path):
        return spark.read.parquet(path)
    meta = pq.read_metadata(path)
    key = (
        str(meta.schema).partition("\n")[2],
        meta.metadata,
        tuple(spark.conf.get(k) for k in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        _, schema, ns_cols = hit
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        bigint = {c for c, t in df.dtypes if t == "bigint"}
        ns_cols = [
            f.name
            for f in meta.schema.to_arrow_schema()
            if str(f.type).startswith("timestamp[ns") and f.name in bigint
        ]
        _SCHEMAS[path] = (key, df.schema, ns_cols)
    for col in ns_cols:
        df = df.withColumn(
            col,
            F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast(
                "timestamp_ntz"
            ),
        )
    return df


def _dataset_fingerprint(sf: str, table: str) -> str:
    """Driver-side CONTENT fingerprint of a fixture table folded into
    /tmp index-cache keys, so a cached artifact is REBUILT when the
    underlying data changes instead of silently serving results from a
    previous corpus. Hashes actual bytes (full file below 16 MB, else
    size + head/tail 1 MB samples) AND the mtime — size+mtime alone
    missed an in-place regeneration with identical sizes inside the
    same mtime second (round-5 review), and content samples alone
    would miss a middle-only rewrite of a large file (round-6 review):
    together, a stale hit needs identical samples in the same mtime
    second. Local paths only — which is what the /tmp build-if-absent
    lifecycle is for; a cluster deployment versions its indexes
    explicitly."""
    import glob as _glob
    import hashlib as _hashlib

    base = os.path.join(sf, f"{table}.parquet")
    h = _hashlib.md5()
    for pth in sorted(
        _glob.glob(base)
        + _glob.glob(os.path.join(base, "**", "*"), recursive=True)
    ):
        if os.path.isdir(pth):
            h.update(f"{pth}|dir".encode())
            continue
        st = os.stat(pth)
        size = st.st_size
        h.update(f"{pth}|{size}|{st.st_mtime_ns}".encode())
        with open(pth, "rb") as fh:
            if size <= 16 * 1024 * 1024:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    h.update(block)
            else:
                h.update(fh.read(1 << 20))
                fh.seek(-(1 << 20), os.SEEK_END)
                h.update(fh.read(1 << 20))
    return h.hexdigest()[:12]
