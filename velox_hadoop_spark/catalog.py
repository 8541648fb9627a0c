"""Table catalog: sf-dir parquet -> named DataFrames / temp views.

The reference encodes table identity in file paths and re-parses text
lines per mapper (reference: src/main/java/org/dicl/velox/benchmark/
PreMapper.java:19-48 tags tables by `path.indexOf("action")`). Here a
table is a named, schema-carrying DataFrame over self-describing
parquet; provenance needs no path sniffing.

``read_table`` is the package's one access path to a catalog table.
A bare ``spark.read.parquet(path)`` infers the footer schema with a
one-task Spark job on every call; ``read_table`` keeps a schema memo
instead: one entry per table path, holding the Spark-inferred schema
and the ``ts_stored_as_nanos`` footer probe. The entry is keyed on

* ``content_fingerprint(path)`` (per-file size/mtime), so a file
  rewritten at the same path is probed and inferred afresh, and
* the values of ``INFERENCE_CONFS``, the session confs that change
  what Spark infers from the same footer; a change of them re-infers
  the schema and keeps the probe, which reads only the footer.

On a hit the table is read as ``spark.read.schema(s).parquet(path)``:
no job, and fresh attribute ids per call, so two reads of one table
self-join like two bare reads. On a miss Spark's own reader infers the
schema once and the entry is replaced.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
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

# Tables small enough (at any SF — they scale sub-linearly or are
# bounded) to broadcast in joins. At 100 TB the fact tables (lineitem,
# orders, events, documents) are the only ones that should ever shuffle.
BROADCASTABLE = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ts_stored_as_nanos(path: str, column: str = "ts") -> bool:
    """True when the parquet source stores ``column`` as TIMESTAMP(NANOS).

    Probes the parquet footer with pyarrow — no Spark conf required —
    so callers can decide the read shape WITHOUT mutating session
    state for µs-typed sources. Accepts a file or a directory (first
    parquet part decides; a source with mixed units is malformed).
    Directories are walked RECURSIVELY so partitioned layouts
    (key=value subdirectories, nested part files) probe the same as a
    flat directory — a top-level-only listing would return False and
    silently skip the ns handling the source needs.
    """
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        target = None
        for root, dirnames, files in os.walk(path):
            # prune hidden/metadata dirs (_temporary, .staging, ...):
            # an interrupted write's uncommitted part files must not
            # decide the read shape of the committed dataset
            dirnames[:] = sorted(
                d for d in dirnames if not d.startswith(("_", "."))
            )
            parts = sorted(
                f for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if parts:
                target = os.path.join(root, parts[0])
                break
        if target is None:
            return False
    try:
        pf = pq.ParquetFile(target)
        field = pf.schema_arrow.field(column)
    except (OSError, KeyError):
        return False
    if getattr(field.type, "unit", None) != "ns":
        return False
    # INT96 timestamps (Spark's default parquet output) surface as
    # Arrow timestamp[ns] too, but Spark's reader handles them natively
    # — only a true TIMESTAMP(NANOS) logical annotation needs the
    # nanosAsLong read shape. Check the PHYSICAL type to tell them
    # apart — matching the LEAF column by name: the parquet schema is a
    # flattened leaf list, so an Arrow top-level index would point at
    # the wrong leaf whenever a nested column precedes the probed one.
    try:
        for i in range(len(pf.schema)):
            leaf = pf.schema.column(i)
            if leaf.name == column and leaf.path == column:
                if leaf.physical_type == "INT96":
                    return False
                break
    except (KeyError, IndexError):
        pass
    return True


def content_fingerprint(path: str) -> str:
    """Content fingerprint of a parquet file/dir (per-file size/mtime
    over a recursive walk — the scheme ``streaming.events.
    _stream_source_dir`` introduced): the shared key ingredient for
    every driver-local session cache keyed on a corpus state
    (the schema memo below, recall ground truth, IVF codebook, DoReMi
    base histogram). The
    empty/degenerate sweeps rewrite corpora at FIXED paths in-session,
    so caching on the path alone would serve stale data for a rebuilt
    file (round-12 advice)."""
    import hashlib

    parts = [path]
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), path)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


# Session confs that change the schema Spark infers from a parquet footer.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


class _SchemaEntry(NamedTuple):
    fingerprint: str
    nanos: bool  # events.ts stored as TIMESTAMP(NANOS)
    confs: tuple[str, ...] | None = None  # INFERENCE_CONFS values at inference
    schema: StructType | None = None


_SCHEMAS: dict[str, _SchemaEntry] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table; normalizes storage quirks.

    ``events.ts`` may be parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright. For ns-stored sources we read
    the column as a long (legacy conf) and truncate to microseconds
    with integer division — the same truncation DuckDB applies when it
    narrows ns → µs, so both engines see identical timestamps. The
    legacy conf is set ONLY when the footer probe says the source
    really is ns (it must then stay set for the session: the scan reads
    lazily at every downstream action); µs sources never touch session
    state. The schema and the probe come from the memo (module
    docstring).
    """
    path = f"{sf_dir}/{name}.parquet"
    fingerprint = content_fingerprint(path)
    entry = _SCHEMAS.get(path)
    if entry is None or entry.fingerprint != fingerprint:
        entry = _SchemaEntry(fingerprint, name == "events" and ts_stored_as_nanos(path))
    if entry.nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    confs = tuple(spark.conf.get(k) for k in INFERENCE_CONFS)
    if entry.confs == confs:
        df = spark.read.schema(entry.schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        entry = entry._replace(confs=confs, schema=df.schema)
    _SCHEMAS[path] = entry
    if entry.nanos:
        from pyspark.sql import functions as F

        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every catalog table from ``sf_dir`` as a DataFrame."""
    return {name: read_table(spark, sf_dir, name) for name in TABLES}


class Catalog:
    """Named-table access with temp-view registration for spark.sql."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._tables = load_tables(spark, sf_dir)

    def table(self, name: str) -> DataFrame:
        return self._tables[name]

    def __getitem__(self, name: str) -> DataFrame:
        return self._tables[name]

    def register_views(self) -> None:
        for name, df in self._tables.items():
            df.createOrReplaceTempView(name)
