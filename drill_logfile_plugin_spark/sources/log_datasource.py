"""``spark.read.format("log")`` — the reference's registration affordance.

The reference plugin is *registered* into its host engine under the name
``log`` (``@JsonTypeName("log")``, LogFormatPlugin.java:86-88;
drill-module.conf:1), so users write ``SELECT ... FROM dfs.`x.log``` and
the engine dispatches by extension. Spark's equivalent affordance is a
named data source: this module registers one via the Spark 4 Python
DataSource API so that

    register_log_datasource(spark)
    df = (spark.read.format("log")
          .option("pattern", r"...")
          .option("fieldNames", "date,time,pid,action,query")
          .option("dataTypes", "DATE,TIME,INT,VARCHAR,VARCHAR")
          .option("dateFormat", "yyMMdd")
          .load(path))

round-trips the reference's README workflow verbatim.

**This is the ergonomics shim, not the performance path; ``read_log``
never routes through it.** Its readers run in Python workers: every
line crosses the Arrow boundary (as RecordBatches) and the regex runs
under Python ``re``, not ``java.util.regex`` (log_reader.py's design
note). Its rows are pinned against ``read_log``'s, but large scans
should use ``read_log``: same config surface, whole-stage codegen,
splittable files. Only the shim's ``charset`` option also reads Python
codecs with no JVM charset (``utf-7``, ``hz``). Patterns valid only
under ``java.util.regex`` (possessive quantifiers,
``\\p{javaLowerCase}``) are rejected here, not silently reinterpreted.

Semantics mirrored from the reference scan (same contract as
``parse_lines``, log_reader.py):

* unanchored ``find()`` matching (``re.search``),
* Java-``trim`` empty-line skip (every char <= U+0020),
* null capture group -> ``""``,
* unmatched line -> ``unmatched_lines`` column, or — with
  ``errorOnMismatch=true`` — an abort naming file and line number,
* type coercion INT/DOUBLE/FLOAT/DATE/TIME/TIMESTAMP/VARCHAR with the
  package's error semantics (bad numerics NULL unless ``strictNumeric``;
  bad temporals NULL unless ``errorOnMismatch``; TIME as millis-of-day),
* extension dispatch over directories (``extensions`` option, default
  ``log``) with gzip/bz2/xz twins decoded by suffix. Uncompressed files
  larger than ``splitSize`` (option, default 64 MiB) split into
  line-aligned byte-range partitions so one big file scans in parallel
  — an improvement over the reference's one-reader-per-file model
  (LogFormatPlugin.java:56), which compressed input and the strict
  error modes (whose aborts must name exact global line numbers) keep.

Date formats are the same Java ``SimpleDateFormat`` strings the JSON
config uses, translated to ``strptime`` for the supported token subset
(yy(yy), MM(M), dd(d), HH(H), mm(m), ss(s), SSS, MMM + literals); an
unsupported token raises at setup rather than mis-parsing.
"""

from __future__ import annotations

import bz2
import glob as _glob
import gzip
import lzma
import os
import re

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import (
    DATE,
    DOUBLE,
    FLOAT,
    INT,
    TIME,
    TIMESTAMP,
    VARCHAR,
    LogFormatConfig,
)
from .log_reader import UNMATCHED_COLUMN, _CODEC_SUFFIXES

_SPARK_TYPES = {
    INT: IntegerType(),
    DOUBLE: DoubleType(),
    FLOAT: FloatType(),
    DATE: DateType(),
    TIMESTAMP: TimestampType(),
    TIME: IntegerType(),
    VARCHAR: StringType(),
}

#: Java SimpleDateFormat -> strptime, longest tokens first. %f on SSS
#: accepts 1-6 fractional digits (strptime leniency, matching lenient
#: SimpleDateFormat); MMM assumes the C/English locale both runtimes
#: default to here.
_JAVA_STRPTIME = [
    ("yyyy", "%Y"),
    ("yy", "%y"),
    ("MMM", "%b"),
    ("MM", "%m"),
    ("M", "%m"),
    ("dd", "%d"),
    ("d", "%d"),
    ("HH", "%H"),
    ("H", "%H"),
    ("mm", "%M"),
    ("m", "%M"),
    ("ss", "%S"),
    ("s", "%S"),
    ("SSS", "%f"),
]

#: Java String.trim() strips every char <= U+0020 (log_reader.JAVA_TRIM_RE).
_JAVA_TRIM_CHARS = "".join(chr(i) for i in range(0x21))

_WS_RUN = re.compile(r"\s+")


def java_format_to_strptime(fmt: str) -> str:
    """Translate the supported SimpleDateFormat token subset; raise on
    tokens the shim cannot honor (better a setup error than a silent
    mis-parse — the reference's own setup-failure posture)."""
    out = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "'":  # SimpleDateFormat literal quoting
            j = fmt.find("'", i + 1)
            if j == -1:
                raise ValueError(f"unterminated quote in date format: {fmt!r}")
            lit = fmt[i + 1 : j] or "'"
            out.append(lit.replace("%", "%%"))
            i = j + 1
            continue
        if ch.isalpha():
            run = 1
            while i + run < len(fmt) and fmt[i + run] == ch:
                run += 1
            py = dict(_JAVA_STRPTIME).get(ch * run)
            if py is None:
                raise ValueError(
                    f"unsupported date format token {ch * run!r} in "
                    f"{fmt!r} (use read_log for the full SimpleDateFormat "
                    "surface)"
                )
            out.append(py)
            i += run
            continue
        out.append(ch.replace("%", "%%"))
        i += 1
    return "".join(out)


def _cfg_from_options(options) -> LogFormatConfig:
    def opt(name, default=None):
        # DataSource options arrive lower-cased from .option() calls
        return options.get(name.lower(), default)

    pattern = opt("pattern")
    if not pattern:
        raise ValueError("format('log') requires .option('pattern', ...)")
    fields = opt("fieldNames")
    if not fields:
        raise ValueError("format('log') requires .option('fieldNames', ...)")
    field_names = [f.strip() for f in fields.split(",")]
    dt = opt("dataTypes")
    data_types = [t.strip() for t in dt.split(",")] if dt else None
    exts = opt("extensions")
    cfg = LogFormatConfig(
        pattern=pattern,
        field_names=field_names,
        data_types=data_types,
        date_format=opt("dateFormat", ""),
        time_format=opt("timeFormat", "HH:mm:ss"),
        error_on_mismatch=str(opt("errorOnMismatch", "false")).lower()
        == "true",
        extensions=(
            [e.strip() for e in exts.split(",") if e.strip()]
            if exts is not None
            else ["log"]
        ),
        strict_numeric=str(opt("strictNumeric", "false")).lower() == "true",
        timestamp_format=opt("timestampFormat") or None,
        charset=opt("charset", "utf-8"),
    )
    if cfg.group_count == -1:
        raise ValueError(
            "format('log'): pattern is not valid under Python re; "
            "java.util.regex-only patterns require read_log (JVM parse)"
        )
    # Pre-translate every temporal format so unsupported tokens fail at
    # setup on the driver, not mid-scan on an executor.
    types = cfg.resolved_types()
    if DATE in types:
        java_format_to_strptime(cfg.date_format)
    if TIMESTAMP in types:
        java_format_to_strptime(cfg.effective_timestamp_format())
    if TIME in types:
        java_format_to_strptime(cfg.time_format)
    return cfg


def _expand_paths(path: str, extensions: list[str]) -> list[str]:
    """Reference extension dispatch (LogFormatPlugin.java:88,96-104) over
    a local path: directories parse only registered extensions (plus
    their compression twins); explicit files and globs parse as given."""
    if os.path.isdir(path):
        exts = [e.lstrip(".") for e in extensions if e and e.lstrip(".")]
        if not exts:
            return sorted(
                p
                for p in _glob.glob(os.path.join(path, "*"))
                if os.path.isfile(p)
            )
        alts = [
            x for e in exts for x in (e, *(f"{e}.{c}" for c in _CODEC_SUFFIXES))
        ]
        out: list[str] = []
        for a in alts:
            out.extend(_glob.glob(os.path.join(path, f"*.{a}")))
        return sorted(set(out))
    hits = sorted(_glob.glob(path))
    return hits if hits else [path]


def _open_lines(path: str, encoding: str = "utf-8"):
    if path.endswith(".gz"):
        return gzip.open(path, "rt", encoding=encoding, errors="replace")
    if path.endswith(".bz2"):
        return bz2.open(path, "rt", encoding=encoding, errors="replace")
    if path.endswith((".xz", ".lzma")):
        return lzma.open(path, "rt", encoding=encoding, errors="replace")
    for suf in _CODEC_SUFFIXES:
        if path.endswith("." + suf):
            raise NotImplementedError(
                f"format('log') shim cannot decode .{suf}; use read_log "
                "(Hadoop codec factory) for this compression"
            )
    return open(path, encoding=encoding, errors="replace")


class _FilePartition(InputPartition):
    """One scan task: a whole file (``start``/``end`` None — the
    compressed / strict-mode / small-file path) or a byte range
    [start, end) of an uncompressed file (the splittable path)."""

    def __init__(self, path: str, start: int | None = None, end: int | None = None):
        self.path = path
        self.start = start
        self.end = end


#: Default byte-range split size for uncompressed files (matches the
#: order of Spark's files.maxPartitionBytes default).
_DEFAULT_SPLIT_SIZE = 64 * 1024 * 1024


def _newline_safe(encoding: str) -> bool:
    """True when LF is byte 0x0A under ``encoding`` (every ASCII-
    compatible single/multi-byte charset). EBCDIC fails this — its
    line ends are not 0x0A bytes — so such files must decode whole
    (text-mode universal newlines after decode), never byte-split."""
    try:
        return "\n".encode(encoding) == b"\n" and b"\n".decode(encoding) == "\n"
    except (UnicodeError, LookupError):
        return False


def _iter_partition_lines(partition, encoding: str = "utf-8"):
    """Yield ``(line_no, line_text)`` for a partition.

    Whole-file partitions iterate in text mode: universal newlines (the
    CR/LF/CRLF line model Hadoop's LineReader gives ``read_log``) and
    exact global line numbers for the strict error paths.

    Byte-range partitions read binary with the classic split-ownership
    rule: a physical (LF-terminated) line belongs to the split containing
    its FIRST byte. A reader starting mid-file probes the byte before
    ``start`` — if it is not LF the reader began mid-line, so the partial
    first line is discarded (the previous split owns it and reads past
    its own ``end`` to finish it); if it IS LF the line starting exactly
    at ``start`` is ours. UTF-8 is safe under byte probing: a multi-byte
    sequence's continuation bytes are never 0x0A. Decoded content then
    splits on bare CR so classic-Mac separators yield the same logical
    lines text mode produces. Line numbers are split-relative — which is
    why :meth:`LogDataSourceReader._splittable` refuses to split under
    the strict modes whose aborts must name exact global line numbers.
    """
    if partition.start is None:
        with _open_lines(partition.path, encoding) as fh:
            yield from enumerate(fh, start=1)
        return
    start, end = partition.start, partition.end
    with open(partition.path, "rb") as fh:
        if start > 0:
            fh.seek(start - 1)
            if fh.read(1) != b"\n":
                fh.readline()  # began mid-line: the previous split owns it
        n = 0
        while fh.tell() < end:
            raw = fh.readline()
            if not raw:
                break
            s = raw.decode(encoding, errors="replace")
            if s.endswith("\n"):
                s = s[:-1]
            segs = s.split("\r")
            if s.endswith("\r"):
                # a trailing CR is a terminator (the CR of a CRLF pair,
                # or classic-Mac at EOF), not the start of another line:
                # the split's empty remainder would otherwise increment
                # line_no once per CRLF line, drifting split-relative
                # numbering away from text-mode numbering
                segs.pop()
            for sub in segs:
                n += 1
                yield n, sub


class LogDataSourceReader(DataSourceReader):
    _BATCH_ROWS = 4096

    def __init__(self, options):
        self.cfg = _cfg_from_options(options)
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('log') requires .load(path)")
        try:
            self.split_size = int(
                options.get("splitsize", _DEFAULT_SPLIT_SIZE)
            )
        except ValueError:
            raise ValueError(
                "format('log'): splitSize must be an integer byte count"
            ) from None
        if self.split_size < 1:
            raise ValueError("format('log'): splitSize must be >= 1")

    def _splittable(self, path: str) -> bool:
        """Byte-range splits apply to plain files only: compressed input
        keeps the reference's one-reader-per-file model
        (LogFormatPlugin.java:56 — a codec stream has no random access),
        and the strict error modes keep it too because their abort
        messages name exact line numbers (a byte-range reader knows its
        offset, not its global line number — better an unsplit scan than
        a wrong diagnostic)."""
        if self.cfg.error_on_mismatch or self.cfg.strict_numeric:
            return False
        if not _newline_safe(self.cfg.charset):
            return False  # EBCDIC-class charsets: no 0x0A line model
        return not any(path.endswith("." + s) for s in _CODEC_SUFFIXES)

    def partitions(self):
        # Never return an empty list: PySpark substitutes [None] for an
        # empty partitions() result and read(None) would crash on
        # partition.path (plan_data_source_read). A directory with zero
        # matching files must yield an empty DataFrame, so it plans as
        # one sentinel partition that read() recognizes and skips.
        paths = _expand_paths(self.path, self.cfg.extensions)
        parts: list[_FilePartition] = []
        for p in paths:
            size = os.path.getsize(p) if os.path.isfile(p) else 0
            if size > self.split_size and self._splittable(p):
                parts.extend(
                    _FilePartition(p, s, min(s + self.split_size, size))
                    for s in range(0, size, self.split_size)
                )
            else:
                parts.append(_FilePartition(p))
        return parts or [_FilePartition(None)]

    def read(self, partition):
        if partition is None or partition.path is None:
            # sentinel for a zero-file load (see partitions()) — and a
            # guard against harness versions that pass None outright
            return

        import datetime as _dt

        import pyarrow as pa

        cfg = self.cfg
        rx = re.compile(cfg.pattern)
        types = cfg.resolved_types()
        fmts = {
            DATE: java_format_to_strptime(cfg.date_format)
            if DATE in types
            else None,
            TIMESTAMP: java_format_to_strptime(cfg.effective_timestamp_format())
            if TIMESTAMP in types
            else None,
            TIME: java_format_to_strptime(cfg.time_format)
            if TIME in types
            else None,
        }

        with_year = {
            f for f in fmts.values() if f and re.search("%[Yy]", f.replace("%%", ""))
        }

        def temporal(raw, fmt):
            try:
                ts = _dt.datetime.strptime(_WS_RUN.sub(" ", raw), fmt)
            except ValueError:
                return None
            # strptime's default year is 1900; read_log's is 1970
            return ts if fmt in with_year else ts.replace(year=1970)

        def coerce(raw, tag, name, where):
            if tag == VARCHAR:
                return raw
            if tag in (INT, DOUBLE, FLOAT):
                try:
                    v = int(raw) if tag == INT else float(raw)
                    # Python ints never overflow but the Arrow column is
                    # int32; read_log's try_cast(raw, 'int') NULLs an
                    # out-of-range value (raising under strict), and the
                    # shim's row-for-row parity contract must match —
                    # without this check pa.array(..., int32()) would
                    # abort the whole scan with ArrowInvalid instead.
                    if tag == INT and not (-(2**31) <= v < 2**31):
                        raise ValueError(f"int32 overflow: {raw}")
                    return v
                except ValueError:
                    if cfg.strict_numeric:
                        raise ValueError(
                            f"log scan: cannot parse value '{raw}' for "
                            f"{tag} field '{name}'{where}"
                        ) from None
                    return None
            ts = temporal(raw, fmts[tag])
            if ts is None:
                if tag == TIME:
                    if cfg.strict_numeric:
                        raise ValueError(
                            f"log scan: cannot parse value '{raw}' for "
                            f"TIME field '{name}'{where}"
                        )
                elif cfg.error_on_mismatch:
                    raise ValueError(
                        f"log scan: cannot parse value '{raw}' for "
                        f"{tag} field '{name}'{where}"
                    )
                return None
            if tag == DATE:
                return ts.date()
            if tag == TIME:
                return (ts.hour * 3600 + ts.minute * 60 + ts.second) * 1000
            return ts

        arrow_schema = pa.schema(
            [
                (n, _ARROW_TYPES[t])
                for n, t in zip(cfg.field_names, types)
            ]
            + [(UNMATCHED_COLUMN, pa.string())]
        )
        ncols = len(cfg.field_names)
        cols: list[list] = [[] for _ in range(ncols + 1)]

        def flush():
            batch = pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )
            for c in cols:
                c.clear()
            return batch

        for line_no, line in _iter_partition_lines(
            partition, self.cfg.charset
        ):
            line = line.strip(_JAVA_TRIM_CHARS)
            if not line:
                continue  # Java-trim empty-line skip
            m = rx.search(line)  # Matcher.find() semantics
            if m is None:
                if cfg.error_on_mismatch:
                    raise ValueError(
                        "log scan: line does not match pattern in file "
                        f"'{partition.path}' at line {line_no}: {line}"
                    )
                for c in cols[:-1]:
                    c.append(None)
                cols[-1].append(line)
            else:
                where = f" (file '{partition.path}' line {line_no})"
                for i, (name, tag) in enumerate(
                    zip(cfg.field_names, types)
                ):
                    raw = m.group(i + 1)
                    raw = "" if raw is None else raw  # null group -> ""
                    cols[i].append(coerce(raw, tag, name, where))
                cols[-1].append(None)
            if len(cols[-1]) >= self._BATCH_ROWS:
                yield flush()
        if cols[-1]:
            yield flush()


class LogDataSource(DataSource):
    """The ``format("log")`` registration object (module docstring)."""

    @classmethod
    def name(cls) -> str:
        return "log"

    def schema(self) -> StructType:
        cfg = _cfg_from_options(self.options)
        return StructType(
            [
                StructField(n, _SPARK_TYPES[t], True)
                for n, t in zip(cfg.field_names, cfg.resolved_types())
            ]
            + [StructField(UNMATCHED_COLUMN, StringType(), True)]
        )

    def reader(self, schema: StructType) -> LogDataSourceReader:
        return LogDataSourceReader(self.options)


def register_log_datasource(spark) -> None:
    """Install ``format("log")`` on a session (idempotent)."""
    spark.dataSource.register(LogDataSource)


def _arrow_types():
    import pyarrow as pa

    return {
        INT: pa.int32(),
        DOUBLE: pa.float64(),
        FLOAT: pa.float32(),
        DATE: pa.date32(),
        TIMESTAMP: pa.timestamp("us"),
        TIME: pa.int32(),
        VARCHAR: pa.string(),
    }


class _LazyArrowTypes(dict):
    def __missing__(self, key):
        self.update(_arrow_types())
        return self[key]


_ARROW_TYPES = _LazyArrowTypes()
