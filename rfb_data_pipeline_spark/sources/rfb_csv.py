"""RFB CSV source: semicolon-separated, headerless, all-string,
permissive (reference A8, src/main.py:204).

Differences from the reference, by design:
- No 50k-row driver-side chunking — Spark partitions the scan.
- PERMISSIVE mode with a ``_corrupt_record`` column replaces silent
  row breakage; the corrupt rows are first-class data for the
  validation suite (the README's "deslocamento de colunas" check,
  READme.md:29).
- Per-file encoding comes from the sniffer (sources.encoding) instead
  of a separate transcode pass — at scale the intermediate
  "__corrigido" file copy (src/main.py:145-148) is pure I/O waste.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from rfb_data_pipeline_spark.schemas import SUFFIX_TO_TABLE
from rfb_data_pipeline_spark.sources.encoding import to_spark_charset

CORRUPT_COL = "_corrupt_record"

# windows-1252 support: Spark's CSV reader only accepts a fixed charset
# list (iso-8859-1, utf-8, utf-16*, ...) — windows-1252 is not on it.
# But latin-1 decodes every byte 1:1 onto U+0000–U+00FF, so a cp1252
# file read as iso-8859-1 differs ONLY on 0x80–0x9F, which land on C1
# control codepoints. Remapping those 27 codepoints to their cp1252
# glyphs with translate() finishes the decode — distributed, exact, no
# driver-side transcode pass.
_CP1252_SRC = "".join(
    chr(b) for b in range(0x80, 0xA0) if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
)
_CP1252_DST = "".join(bytes([ord(c)]).decode("cp1252") for c in _CP1252_SRC)


def read_rfb_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType,
    encoding: str = "UTF-8",
) -> DataFrame:
    """Permissive headerless ';' CSV scan with explicit string schema.

    CSV column pruning is disabled: with pruning on, corrupt-row
    detection depends on which columns a query touches (a
    count-aggregate parses fewer fields than the write path and sees
    different corrupt rows — observed, not hypothetical). Column-shift
    detection (READme.md:29) must be projection-independent.

    Known tradeoff (r09 review): this conf is SESSION-WIDE and set at
    runtime because callers may hold a bare session (the driver runs
    queries in its own SparkSession with no repo confs) — it also
    disables pruning for unrelated CSV scans in the same session.
    session.get_spark sets it from the start; sessions mixing RFB and
    wide non-RFB CSV reads should isolate them.
    """
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
    full_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    is_cp1252 = encoding.lower() in ("cp1252", "windows-1252")
    charset = "iso-8859-1" if is_cp1252 else to_spark_charset(encoding)
    df = (
        spark.read.schema(full_schema)
        .option("sep", ";")
        .option("header", "false")
        .option("encoding", charset)
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )
    if is_cp1252:
        for f_ in full_schema.fields:
            df = df.withColumn(
                f_.name, F.translate(F.col(f_.name), _CP1252_SRC, _CP1252_DST)
            )
    if encoding.lower() == "utf-8-sig":
        # Spark's reader does not strip a UTF-8 BOM: U+FEFF survives as
        # the first character of the first field of row 1 and would be
        # truncated/corrupted downstream by fixed-width normalizers
        # (round-2 ADVICE). Strip it here, at the source.
        first = schema.fields[0].name
        df = df.withColumn(first, F.regexp_replace(F.col(first), "^\\uFEFF", ""))
    return df


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_corrupt_col, corrupt_rows_full_width).

    The corrupt side keeps every column: Spark disallows queries that
    reference ONLY the internal corrupt-record column of a raw scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    """
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def route_table(filename_col: str = "filename") -> F.Column:
    """Filename → table-name routing expression (reference A15,
    src/main.py:166-171,186-194): strip the '__corrigido' marker, take
    the extension-ish suffix, upper-case, map via the routing table;
    unmatched → NULL (the 'ignorada' path).
    """
    base = F.element_at(F.split(F.col(filename_col), "__corrigido"), 1)
    suffix = F.upper(F.element_at(F.split(base, r"\."), -1))
    mapping = F.create_map(
        *[x for s, (t, _) in SUFFIX_TO_TABLE.items() for x in (F.lit(s), F.lit(t))]
    )
    return F.element_at(mapping, suffix)


def route_table_py(filename: str) -> str | None:
    """Driver-side twin of :func:`route_table` for orchestration code that
    routes one filename at a time (the manifest loop) — a dict lookup, not
    a per-file Spark job. Parity with the expression is pinned by
    ``tests/test_rfb_pipeline.py::test_route_table_py_parity``.
    """
    base = filename.split("__corrigido")[0]
    suffix = base.split(".")[-1].upper()
    entry = SUFFIX_TO_TABLE.get(suffix)
    return entry[0] if entry else None
