"""File-format sources: CSV and JSON-lines readers with mandatory
explicit schemas and loud failure on malformed rows.

The reference ingests REST JSON into a DuckDB warehouse; an engine
meant to replace it must also mount the flat files a data platform
actually exchanges (exports, vendor drops, landing zones). Two rules
make these safe at 100 TB:

- **No inferSchema, ever.** Schema inference scans the data twice and
  silently retypes on drift; every reader here requires a
  ``StructType`` up front (the canonical ones live in ``schemas.py``).
- **FAILFAST by default.** A malformed row is a pipeline bug, not a
  row to quietly null out. ``PERMISSIVE`` + ``_corrupt_record`` is
  available explicitly for quarantine flows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.frames import in_scope, pin

CORRUPT_COL = "_corrupt_record"

# Paths already warned about by read_jsonl_quarantine outside a
# frames.scope() (warn once per path, not per call).
_QUARANTINE_CACHED_PATHS: set[str] = set()


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "FAILFAST",
    **options: str,
) -> DataFrame:
    """Typed CSV scan. Splittable (parallel by byte range) as long as
    rows don't embed newlines — for quoted multiline fields pass
    ``multiLine=true`` knowing it serializes each file to one task."""
    return (
        spark.read.schema(schema)
        .options(header=header, sep=delimiter, mode=mode, **options)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    mode: str = "FAILFAST",
    **options: str,
) -> DataFrame:
    """Typed JSON-lines scan (one object per line — the splittable
    layout; whole-file JSON documents need ``multiLine`` and lose
    intra-file parallelism)."""
    return spark.read.schema(schema).options(mode=mode, **options).json(path)


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON-lines scan split into (good, quarantined) —
    the landing-zone pattern when upstream can't be trusted to be
    well-formed: good rows flow on, corrupt raw lines are preserved
    for triage instead of killing the job or vanishing.

    Call it inside ``frames.scope()`` and consume both branches there:
    the scope releases the shared materialized frame on exit. Outside
    a scope the persisted scan stays in the session's cache until the
    session ends — the documented cost of the SPARK-21610 unblock.
    Spark's CacheManager dedupes identical plans, so repeated calls
    over the SAME path reuse one entry; a long-lived loop reading a
    NEW path per cycle (landing-zone ingestion) MUST open a scope per
    cycle or the cached parsed frames accumulate unboundedly.
    The materialization is ``persist(MEMORY_AND_DISK)``, NOT a
    ``localCheckpoint``: checkpoint blocks are non-recomputable, so
    on a real cluster one lost executor (spot nodes, dynamic
    allocation) would make BOTH branches permanently unreadable,
    while a persisted frame just recomputes from the files.
    """
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    raw = (
        spark.read.schema(with_corrupt)
        .options(mode="PERMISSIVE", columnNameOfCorruptRecord=CORRUPT_COL)
        .json(path)
        # Spark disallows filtering raw file scans on the corrupt
        # column alone (SPARK-21610); materializing the parsed frame
        # is the documented unblock — and both branches reuse the one
        # scan.
        .transform(pin)
    )
    if not in_scope() and path not in _QUARANTINE_CACHED_PATHS:
        # Outside a scope this cache entry lives until the session
        # ends; a per-path ingestion loop without one accumulates one
        # pinned frame per distinct path. Warn once per path so the
        # leak is visible, not silent.
        _QUARANTINE_CACHED_PATHS.add(path)
        from ..functions.logging import get_logger

        get_logger(__name__).warning(
            "read_jsonl_quarantine(%s): caching parsed frame for the "
            "session's lifetime; call it inside frames.scope() and "
            "consume both branches there to release it",
            path,
        )
    good = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad


def read_orc(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """ORC scan — the other columnar interchange format warehouses
    exchange (Hive-lineage platforms export ORC where lakehouses use
    parquet). Self-describing like parquet, so the schema argument is
    an optional *contract check* rather than required typing: when
    given, a drifted file fails loudly instead of silently widening.
    Predicate pushdown and column pruning work exactly as for parquet
    (pin them with ``.explain`` — ``PushedFilters``/``ReadSchema``).
    """
    df = spark.read.options(**options).orc(path)
    if schema is not None:
        # Positional contract: name and type, in declared order (a
        # dict compare would let reordered columns slip through).
        # Nullability is deliberately EXCLUDED: Spark file-source
        # reads report every column nullable=True regardless of the
        # file, so comparing it can never catch real drift — it only
        # false-fails any contract schema that declares a required
        # field (MEDIA_SCHEMA, FCT_ORDERS_SCHEMA all do).
        got = [(f.name, f.dataType) for f in df.schema.fields]
        want = [(f.name, f.dataType) for f in schema.fields]
        if got != want:
            raise ValueError(
                f"ORC schema drift at {path}: got {got}, expected {want}"
            )
    return df


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC writer (zlib default; columnar, splittable)."""
    df.write.mode(mode).orc(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-asset ingestion via Spark's built-in ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content) —
    the landing step BEFORE the multimodal pipeline; adapt to the
    MEDIA_SCHEMA the operators consume with ``binary_to_media``.
    Images/audio/video land as opaque bytes; decode happens
    downstream in Arrow-batched UDFs, never here.

    ``glob`` filters by pattern at the LISTING level
    (``pathGlobFilter`` — unmatched files are never opened);
    ``max_bytes`` filters on the file-status ``length`` (binary files
    have no footers — the skip comes from directory metadata, so
    oversized assets are never read). At 100 TB the directory is
    millions of objects: listing parallelizes across the cluster, and
    each file is one task-local read — no shuffle at all.
    """
    r = spark.read.format("binaryFile")
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


#: extension → (modality, mime) for the binary→media adapter; the
#: deliberate subset a curation pipeline actually routes (anything
#: else lands modality NULL and is the caller's policy to keep/drop).
_EXT_MEDIA = {
    "png": ("image", "image/png"),
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "gif": ("image", "image/gif"),
    "webp": ("image", "image/webp"),
    "wav": ("audio", "audio/wav"),
    "mp3": ("audio", "audio/mpeg"),
    "flac": ("audio", "audio/flac"),
    "ogg": ("audio", "audio/ogg"),
    "mp4": ("video", "video/mp4"),
    "mkv": ("video", "video/x-matroska"),
    "webm": ("video", "video/webm"),
}


def binary_to_media(binary_df: DataFrame) -> DataFrame:
    """Adapt a ``read_binary_dir`` frame to the MEDIA_SCHEMA shape
    the multimodal operators consume (media_id, modality, mime_type,
    payload, width, height, duration_ms): media_id is a deterministic
    md5-derived bigint of the file path (stable across runs and
    cluster layouts — never ``monotonically_increasing_id``, whose
    values depend on partitioning), modality/mime come from the
    extension map, and box/duration metadata start NULL — they are
    decode outputs (``media_metadata``), not listing facts. Unknown
    extensions keep their rows with NULL modality/mime: dropping at
    the adapter would silently lose assets the caller may still want
    to route.
    """
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    modality = F.lit(None).cast("string")
    mime = F.lit(None).cast("string")
    for e, (mod, mt) in sorted(_EXT_MEDIA.items()):
        modality = F.when(ext == e, F.lit(mod)).otherwise(modality)
        mime = F.when(ext == e, F.lit(mt)).otherwise(mime)
    media_id = (
        F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10)
        .cast("bigint")
    )
    return binary_df.select(
        media_id.alias("media_id"),
        modality.alias("modality"),
        mime.alias("mime_type"),
        F.col("content").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def read_text_docs(
    spark: SparkSession,
    path: str,
    whole_file: bool = False,
) -> DataFrame:
    """Raw-text corpus ingestion via the built-in ``text`` source:
    ``whole_file=False`` maps one LINE per document row (the JSONL-
    adjacent "one doc per line" crawl export), ``whole_file=True``
    maps one FILE per document (book/article dumps). Output is
    (doc_path, text) — NO doc_id: the text source exposes no line
    numbers, so line mode has no stable positional identity to mint
    (a path-derived id would collide across every line of a file);
    assign one downstream at a grain you control (whole-file mode:
    md5 of doc_path; line mode: after an explicit ordering or from
    content where collisions are the point, as in dedup).

    Empty lines are KEPT: "one doc per line" means row count equals
    the file's line count (sidecar indexes and positional joins
    depend on it), and an empty document is the caller's policy to
    drop — silently filtering here contradicted the module's
    loud-failure contract and diverged from whole-file mode, which
    keeps empty files.

    Pure scan, no shuffle; line mode splits large files across tasks,
    whole-file mode is one task per file (bounded by the largest
    document — chunk upstream if files exceed executor memory).
    """
    # NOTE: must be the .text() kwarg — DataFrameReader.text() passes
    # its own wholetext default, which overrides a prior .option().
    return (
        spark.read.text(path, wholetext=whole_file)
        .select(
            F.input_file_name().alias("doc_path"),
            F.col("value").alias("text"),
        )
    )
