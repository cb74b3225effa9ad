"""JSONL corpus ingestion with corrupt-record quarantine.

Real training corpora arrive as line-delimited JSON (Common Crawl
derivatives, API dumps, log shards) with a nonzero malformed-line
rate — truncated writes, encoding damage, schema drift.  At 100 TB a
single bad line must neither kill the job (FAILFAST) nor silently
vanish (DROPMALFORMED loses data with no audit trail): the shape a
pipeline needs is PERMISSIVE parse + split, with the raw bytes of
every rejected line preserved for triage — Spark's documented
``columnNameOfCorruptRecord`` pattern wrapped so callers cannot hit
its two traps:

1. the corrupt column must be declared in the schema (a schema
   without it makes PERMISSIVE silently null-fill instead), and
2. a filter on ONLY the corrupt column is rejected by the analyzer
   ("referencing internal corrupt record column") unless the parsed
   frame is cached first — Spark refuses because the pushed-down
   filter would otherwise re-parse and see different corruption.

Schema is REQUIRED for the main reader: inference is a full extra
pass over the corpus (at 100 TB, a second 100 TB scan).  Use
``infer_jsonl_schema`` explicitly with a sampling ratio when the
schema is genuinely unknown — the cost is then a visible, sampled
choice, not an accident.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    corrupt_col: str = CORRUPT_COL,
) -> DataFrame:
    """PERMISSIVE JSONL read with the corrupt-record column declared:
    well-formed lines parse into the schema fields; malformed lines
    yield nulls plus the raw line in ``corrupt_col``."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if corrupt_col not in schema.fieldNames():
        schema = schema.add(T.StructField(corrupt_col, T.StringType()))
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def split_corrupt(
    parsed: DataFrame, corrupt_col: str = CORRUPT_COL
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) from a ``read_jsonl`` frame.  ``clean``
    drops the corrupt column; ``quarantine`` is (raw_line) — the audit
    trail a DROPMALFORMED read destroys.

    The parsed frame is persisted first: Spark's analyzer rejects a
    filter that references only the internal corrupt column on a
    direct file scan (the pushed-down predicate would re-parse), and
    the persist also means clean + quarantine share one parse of the
    corpus instead of two.  Storage level is DISK_ONLY, not the
    MEMORY_AND_DISK default: at 100 TB an unbounded memory cache of
    the full parsed corpus competes with execution memory on every
    executor (guide §5) — a disk-backed copy satisfies the analyzer
    and the share-one-parse goal while bounding pressure to local
    disk.  ``persist`` marks the caller's ``parsed`` frame itself, so
    call ``parsed.unpersist()`` once both splits are consumed (a
    session-wide ``clearCache()`` would drop every other cached
    dataset too)."""
    if corrupt_col not in parsed.columns:
        raise ValueError(
            f"no {corrupt_col!r} column — read with read_jsonl()"
        )
    from pyspark import StorageLevel

    parsed = parsed.persist(StorageLevel.DISK_ONLY)
    clean = parsed.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = parsed.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return clean, quarantine


def read_jsonl_strict(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
) -> DataFrame:
    """FAILFAST JSONL read — the ingest-gate variant: any malformed
    line raises instead of quarantining.  For small trusted inputs
    (config manifests, label files) where corruption means the whole
    artifact is suspect."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return (
        spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    )


def infer_jsonl_schema(
    spark: SparkSession, path: str, sampling_ratio: float = 0.1
) -> T.StructType:
    """Schema inference as an EXPLICIT sampled pass (never implicit:
    full inference is a second full scan of the corpus).  Returns the
    inferred schema WITHOUT a corrupt column — pass the result to
    ``read_jsonl``, which adds it."""
    if not 0.0 < sampling_ratio <= 1.0:
        raise ValueError(
            f"sampling_ratio must be in (0, 1], got {sampling_ratio}"
        )
    return (
        spark.read.option("samplingRatio", sampling_ratio)
        .json(path)
        .schema
    )
