"""The log scan operator: regex-parsed text files -> typed DataFrame.

This is the Spark-native re-expression of the reference's entire implemented
surface (/root/reference/src/main/java/org/apache/drill/exec/store/log/
LogRecordReader.java — the scan operator — plus LogFormatPlugin.java — the
registration/config half). Where the reference fills Drill value vectors
row-by-row inside a single-threaded, non-splittable reader
(LogFormatPlugin.java:56), we declare the parse as a pure ``select`` of
``regexp_extract``/casts over ``spark.read.text`` and let Catalyst +
whole-stage codegen execute it: the regex runs JVM-side, unused fields are
pruned, and uncompressed files split across executors for free.

Semantics replicated exactly (SURVEY.md §1.4):
  1. unmatched line -> ``unmatched_lines`` column (errorOnMismatch=false,
     LogRecordReader.java:286-291) or job abort (=true, :283-285)
  2. bad DATE/TIMESTAMP value -> abort when errorOnMismatch else NULL
     (:244-267)
  3. bad INT/FLOAT value -> NULL by default, always-fatal under
     ``strict_numeric=True`` (reference behavior, :239 + :301-303)
  4. null capture group -> empty string "" (:234-236); Spark's
     ``regexp_extract`` already returns "" for an unparticipating group
  5. unanchored ``Matcher.find()`` matching (:225): ``rlike`` + Spark's
     ``regexp_extract`` both find anywhere in the line — first match wins
  6. empty/whitespace-only lines skipped entirely after trim (:216-219)

Scale notes (100 TB posture):
  - No Python runs per row: the whole parse is JVM expressions inside one
    WholeStageCodegen span over the text scan.
  - One regex evaluation feeds the match gate and all extracts; Catalyst
    CSE + column pruning drop extracts for unprojected fields (the
    reference *declares* projection pushdown but ignores it,
    LogFormatPlugin.java:77-79 vs LogRecordReader.java:226-281 — we get the
    real thing).
  - Uncompressed inputs split by ``spark.sql.files.maxPartitionBytes``;
    gzip falls back to file-granular parallelism exactly like the
    reference's one-reader-per-file model.

Design decision — ``read_log`` is the one parse engine: Spark 4's
Python DataSource API gives the reference's ``format("log")`` ergonomics
(LogFormatPlugin.java:88), but its readers run the regex under Python
``re`` in Python workers, forfeiting codegen and swapping regex engines
(possessive quantifiers, named groups, \\p classes diverge). Here the
config dataclass plays the JSON format block, and every charset decodes
and parses as JVM expressions over one line source (:func:`_line_source`).
``log_datasource`` keeps ``format("log")`` as a separate, parity-pinned
ergonomics shim; ``read_log`` never routes through it.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import (
    DATE,
    DOUBLE,
    FLOAT,
    INT,
    TIME,
    TIMESTAMP,
    LogFormatConfig,
)

#: Name of the error-channel column (README.md:34, LogRecordReader.java:287-291).
UNMATCHED_COLUMN = "unmatched_lines"

#: Java String.trim() strips every char <= U+0020 (tabs, CR, control chars),
#: while SQL TRIM strips only spaces — a real divergence surfaced by the
#: property tests (a tab-only line must be *skipped*, not routed to
#: unmatched_lines, LogRecordReader.java:216-219). This regex replicates
#: Java trim in both Spark and DuckDB (the oracle uses the same class).
JAVA_TRIM_RE = r"^[\x00-\x20]+|[\x00-\x20]+$"


def _java_trim(col: Column) -> Column:
    return F.regexp_replace(col, JAVA_TRIM_RE, "")


def _try_cast(col: Column, to: str) -> Column:
    """ANSI-safe cast: NULL on failure regardless of spark.sql.ansi.enabled."""
    return col.try_cast(to)


def _ws(raw: Column) -> Column:
    """Collapse whitespace runs in a temporal capture before parsing.

    RFC3164 syslog space-pads single-digit days ("Aug  3"), which Spark's
    strict DateTimeFormatter rejects for the "MMM d" pattern — silently
    NULLing ~9 days of every month. The reference's SimpleDateFormat is
    LENIENT by default and parses the padding, so normalizing here tracks
    reference behavior, not a deviation. Formats with meaningful single
    spaces are unaffected (runs collapse TO one space).
    """
    return F.regexp_replace(raw, r"\s+", " ")


def _coerce(raw: Column, type_tag: str, cfg: LogFormatConfig, name: str) -> Column:
    """Coerce one extracted capture group to its declared type.

    Mirrors the dispatch at LogRecordReader.java:238-281 with the error
    semantics of SURVEY.md §1.4 (see module docstring); temporal fields
    are whitespace-normalized first (see :func:`_ws`).
    """
    if type_tag == INT:
        out = _try_cast(raw, "int")
        fatal = cfg.strict_numeric
    elif type_tag == DOUBLE:
        out = _try_cast(raw, "double")
        fatal = cfg.strict_numeric
    elif type_tag == FLOAT:
        out = _try_cast(raw, "float")
        fatal = cfg.strict_numeric
    elif type_tag == DATE:
        out = F.try_to_timestamp(_ws(raw), F.lit(cfg.date_format)).cast("date")
        fatal = cfg.error_on_mismatch
    elif type_tag == TIMESTAMP:
        out = F.try_to_timestamp(
            _ws(raw), F.lit(cfg.effective_timestamp_format())
        )
        fatal = cfg.error_on_mismatch
    elif type_tag == TIME:
        # Spark has no TIME type; reference materializes millis-of-day
        # (LogRecordReader.java:268-275, fractional seconds dropped).
        ts = F.try_to_timestamp(_ws(raw), F.lit(cfg.time_format))
        out = (
            (F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)) * 1000
        ).cast("int")
        fatal = cfg.strict_numeric
    else:  # VARCHAR and unknown types (LogRecordReader.java:276-281)
        return raw
    if fatal:
        # Reference aborts the query naming the offending value
        # (dataReadError, LogRecordReader.java:301-303 / :250-255).
        err = F.raise_error(
            F.concat(
                F.lit("log scan: cannot parse value '"),
                raw,
                F.lit(f"' for {type_tag} field '{name}'"),
            )
        )
        return F.when(raw.isNotNull() & out.isNull(), err).otherwise(out)
    return out


def _strict_error_channel(
    ok: Column, line: Column, line_no: Column | None, prefix: str
) -> Column:
    """Abort-on-first-bad-row channel column, shared by the log scan and
    the structured line sources (jsonl.py): with line numbers available
    (:func:`_with_line_numbers`, file sources) the abort carries file +
    line number — the reference's full context (LogRecordReader.java:
    283-285); otherwise file + line text. One definition so the
    fallback logic cannot drift between formats."""
    if line_no is not None:
        fname = F.col("__file")
        at_line = F.concat(
            F.lit("' at line "), line_no.cast("string"), F.lit(": ")
        )
    else:
        fname = F.input_file_name()
        at_line = F.lit("': ")
    return F.when(
        ~ok,
        F.raise_error(
            F.concat(F.lit(prefix + " '"), fname, at_line, line)
        ).cast("string"),
    ).otherwise(F.lit(None).cast("string"))


def _with_line_numbers(lines: DataFrame) -> DataFrame | None:
    """Attach the 1-based line number within each source FILE, or None.

    Only used by strict mode (``error_on_mismatch=True``) so its abort can
    carry the reference's full error context (file + line number,
    LogRecordReader.java:283-285). The text source exposes no row index,
    so the number is derived SPLIT-LOCALLY — a window partitioned by the
    whole file would funnel every row of a file through one reducer
    (single-task validation of a 10 GB file):

    * intra-split index: ``row_number()`` over (``_metadata.file_path``,
      ``_metadata.file_block_start``) ordered by a pre-projected
      ``monotonically_increasing_id`` (rows stream in file order within a
      split and the id is strictly increasing in partition row order) —
      parallelism stays one task per split;
    * split offset: per-split line counts (a tiny aggregate, one row per
      split) cumulative-summed over block offsets within each file and
      BROADCAST back; line number = offset + intra-split index.

    Exact for compressed (single-block) and split files alike; numbering
    runs BEFORE the empty-line skip, so it counts raw file lines like the
    reference's reader does. Costs one extra scan (the counts pass) and
    one split-keyed exchange — a validation-mode price, never paid by the
    default mismatch-routing path. Returns None when the source has no
    ``_metadata`` (in-memory frames) or is streaming (windows are
    unsupported there); callers fall back to the file + line-text context.
    """
    if lines.isStreaming:
        return None
    try:
        base = lines.select(
            "*",
            F.col("_metadata.file_path").alias("__file"),
            F.col("_metadata.file_block_start").alias("__blk"),
            F.monotonically_increasing_id().alias("__mid"),
        )
    except Exception:
        return None
    counts = base.groupBy("__file", "__blk").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_off = (
        Window.partitionBy("__file")
        .orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__file",
        "__blk",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_split = Window.partitionBy("__file", "__blk").orderBy("__mid")
    # __file stays: input_file_name() evaluates AFTER the exchanges,
    # outside any scan context, and would come back "" — the abort message
    # reads the pre-projected metadata path instead.
    return (
        base.join(F.broadcast(offsets), ["__file", "__blk"])
        .withColumn(
            "__line_no", F.col("__off") + F.row_number().over(w_split)
        )
        .drop("__blk", "__mid", "__off")
    )


def parse_lines(lines: DataFrame, cfg: LogFormatConfig, line_col: str = "value") -> DataFrame:
    """Apply the log-format parse to a DataFrame of raw text lines.

    Shared by the batch reader (``read_log``) and the streaming reader
    (``read_log_stream``) — the parse is a pure projection, so it is valid
    in both execution modes.

    Output schema: one column per ``cfg.field_names`` (typed per §1.3) plus
    ``unmatched_lines`` (string; NULL on matched rows).
    """
    # Authoritative setup validation against the engine that executes the
    # regex (java.util.regex — same compile the reference does at setup,
    # LogRecordReader.java:160-184).
    cfg.validate_groups_jvm(lines.sparkSession)
    line = _java_trim(F.col(line_col))
    line_no: Column | None = None
    if cfg.error_on_mismatch:
        numbered = _with_line_numbers(lines)
        if numbered is not None:
            lines = numbered
            line_no = F.col("__line_no")
    # Empty-line skip (LogRecordReader.java:216-219): no row at all.
    df = lines.where(F.length(line) > 0)
    # Unanchored find() (LogRecordReader.java:225).
    matched = line.rlike(cfg.pattern)

    cols: list[Column] = []
    types = cfg.resolved_types()
    for i, (name, type_tag) in enumerate(zip(cfg.field_names, types)):
        # group(i+1); an unparticipating optional group yields "" exactly
        # like the reference's null->"" coercion (LogRecordReader.java:234-236).
        raw = F.when(matched, F.regexp_extract(line, cfg.pattern, i + 1))
        cols.append(_coerce(raw, type_tag, cfg, name).alias(name))

    if cfg.error_on_mismatch:
        # Abort on first unmatched line (_strict_error_channel:
        # file + line number on file sources, file + line text
        # otherwise; input_file_name() is "" for non-file sources —
        # harmless).
        unmatched = _strict_error_channel(
            matched,
            line,
            line_no,
            "log scan: line does not match pattern in file",
        )
    else:
        unmatched = F.when(~matched, line).otherwise(F.lit(None).cast("string"))
    cols.append(unmatched.alias(UNMATCHED_COLUMN))
    return df.select(*cols)


#: Compression suffixes spark.read.text decodes transparently (Hadoop codec
#: factory — the same extension->codec rule as the reference's
#: CompressionCodecFactory, LogRecordReader.java:85-86,123-129). A file named
#: ``x.log.gz`` is a ``.log`` file for format dispatch, matching Drill's
#: behavior of resolving the codec first and the format from the inner name.
_CODEC_SUFFIXES = ("gz", "bz2", "deflate", "snappy", "lz4", "zst")


def _extensions_glob(extensions: list[str]) -> str | None:
    """Build the ``pathGlobFilter`` implementing extension dispatch.

    The reference maps files to the plugin via the ``extensions`` config
    (LogFormatPlugin.java:88, defaulting ``["log"]`` at :96-104;
    README.md:33): pointing a query at a mixed directory parses only files
    with a registered extension. An empty list disables filtering (parse
    everything the path matches).
    """
    exts = [e.lstrip(".") for e in extensions if e and e.lstrip(".")]
    if not exts:
        return None
    alts = [x for e in exts for x in (e, *(f"{e}.{c}" for c in _CODEC_SUFFIXES))]
    return "*.{" + ",".join(alts) + "}"


_DECODE_CONFS = (
    "spark.sql.legacy.javaCharsets",
    "spark.sql.legacy.codingErrorAction",
)
_DECODE_CONFS_LOCK = threading.Lock()


def _decoded(raw: DataFrame, text: Column) -> DataFrame:
    """``raw.select(text as value)`` with the confs Spark 4's ``decode``
    needs for any charset and for U+FFFD on malformed bytes (the shim's
    ``errors="replace"``). They bind at analysis, so they are set only while
    building it (locked against concurrent callers), then restored."""
    conf = raw.sparkSession.conf
    with _DECODE_CONFS_LOCK:
        prev = {k: conf.get(k, None) for k in _DECODE_CONFS}
        for k in _DECODE_CONFS:
            conf.set(k, "true")
        try:
            return raw.select(text.alias("value"))
        finally:
            for k, v in prev.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)


def _line_source(
    spark: SparkSession, path, cfg: LogFormatConfig, *, stream: bool = False
) -> DataFrame:
    """The raw lines ``read_log`` and ``read_log_stream`` parse, one
    ``value`` row each, decoded from ``cfg.charset`` in the JVM plan.
    UTF-8/ASCII is read as is. A one-byte LF (cp1251, Shift_JIS, EBCDIC's
    0x25 as ``lineSep``, whose CRLF leaves a CR the Java trim strips)
    keeps the text source's raw-byte line split, so files still split.
    UTF-16/32 files are read whole, decoded and split on CR/LF/CRLF."""
    reader = spark.readStream if stream else spark.read
    glob = _extensions_glob(cfg.extensions)
    jvm = cfg.jvm_charset(spark)
    if jvm in ("UTF-8", "US-ASCII"):
        return reader.text(path, pathGlobFilter=glob)
    lf = "\n".encode(cfg.charset)
    text = F.decode(F.col("value").cast("binary"), jvm)
    if len(lf) == 1:
        sep = None if lf == b"\n" else lf.decode("ascii")
        return _decoded(reader.text(path, lineSep=sep, pathGlobFilter=glob), text)
    raw = reader.text(path, wholetext=True, pathGlobFilter=glob)
    return _decoded(raw, F.explode(F.split(text, r"\r\n|\r|\n")))


def read_log(
    spark: SparkSession,
    path: str,
    cfg: LogFormatConfig,
    *,
    paths: list[str] | None = None,
) -> DataFrame:
    """Read a log file/directory as a typed DataFrame (the A1-A9 bundle).

    Equivalent of the reference's scan path: format resolution + reader
    (LogFormatPlugin.java:60-64 -> LogRecordReader.java:202-304), except the
    parse is declarative and the host engine is Spark SQL. Compression is
    handled by ``spark.read.text`` (codec by extension — same rule as the
    reference's CompressionCodecFactory, LogRecordReader.java:85-86,123-129).

    ``cfg.extensions`` performs the reference's extension->format dispatch
    (LogFormatPlugin.java:88,96-104) as a ``pathGlobFilter``: a directory
    containing ``a.log`` and ``b.txt`` parses only ``a.log`` under the
    default config. Compressed twins (``a.log.gz`` …) stay included, like
    Drill's codec-then-format resolution. Set ``extensions=[]`` to parse
    every file the path matches.

    ``cfg.charset`` decodes in the JVM scan (:func:`_line_source`): cp1251,
    EBCDIC and UTF-16 files parse with the same engine as UTF-8, malformed
    bytes become U+FFFD, and a codec with no JVM charset is a setup
    ``ValueError`` (``format("log")`` still reads it).
    """
    return parse_lines(_line_source(spark, paths if paths else path, cfg), cfg)


def read_log_stream(spark: SparkSession, path: str, cfg: LogFormatConfig) -> DataFrame:
    """Streaming variant: same line source and parse as ``read_log``.

    No reference counterpart (the reference is batch-only); see SURVEY.md §2
    streaming row. Combine with ``withWatermark`` + ``window`` downstream.
    Extension dispatch (watched files parse only if their extension is
    registered) and ``cfg.charset`` apply exactly as in ``read_log``.
    """
    return parse_lines(_line_source(spark, path, cfg, stream=True), cfg)
