"""Log-format configuration: the engine's equivalent of the reference's
``LogFormatConfig`` JSON POJO.

Reference parity (all citations into /root/reference/):
  - config fields: src/main/java/org/apache/drill/exec/store/log/LogFormatPlugin.java:86-135
    (pattern, fieldNames, dataTypes, dateFormat, timeFormat, errorOnMismatch,
    extensions)
  - setup-time validation order: LogRecordReader.java:115-200 (see each
    ``ValueError`` below for the exact line)
  - type-default rule (null / wrong-length dataTypes -> all VARCHAR):
    LogRecordReader.java:185-191
  - unknown type strings silently degrade to VARCHAR:
    LogRecordReader.java:276-281 (the ``else`` branch of the type dispatch)

Deliberate deviations (documented, flag-gated):
  - ``timeFormat`` is honored for TIME columns. The reference builds the TIME
    formatter from ``dateFormat`` by mistake (LogRecordReader.java:324 uses
    ``dateFormat`` instead of the ``t`` argument), so its ``timeFormat`` is
    dead config. We fix rather than replicate the bug (SURVEY.md §1.3).
  - ``strict_numeric`` (default False): the reference *always* aborts on a
    numeric field that fails to parse (unguarded ``Integer.parseInt`` at
    LogRecordReader.java:239, rethrown at :301-303), even when
    ``errorOnMismatch=false``. Set ``strict_numeric=True`` for bug-for-bug
    parity; the default normalizes failures to NULL like dates.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


#: Normalized internal type tags.
INT = "INT"
DOUBLE = "DOUBLE"
FLOAT = "FLOAT"
DATE = "DATE"
TIMESTAMP = "TIMESTAMP"
TIME = "TIME"
VARCHAR = "VARCHAR"

#: Reference type-string dispatch (LogRecordReader.java:238-281).
_TYPE_ALIASES = {
    "INT": INT,
    "INTEGER": INT,
    "DOUBLE": DOUBLE,
    "FLOAT8": DOUBLE,
    "FLOAT": FLOAT,
    "FLOAT4": FLOAT,
    "DATE": DATE,
    "TIMESTAMP": TIMESTAMP,
    "TIME": TIME,
    # Anything else (including VARCHAR itself) falls through to VARCHAR in
    # normalize_type(), matching the reference's silent else-branch.
}


def normalize_type(type_string: str) -> str:
    """Map a user-supplied type string to an internal tag.

    Unknown strings degrade to VARCHAR exactly like the reference's
    ``else`` branch (LogRecordReader.java:276-281).
    """
    return _TYPE_ALIASES.get(type_string.strip().upper(), VARCHAR)


#: Python canonical codec names the JVM spells differently, or knows as
#: an alias of a different charset (Java's ``cp932`` is IBM-942C, its
#: ``cp874`` and ``cp950`` are IBM variants too).
_JVM_SPELLINGS = {
    "utf-16-le": "UTF-16LE",
    "utf-16-be": "UTF-16BE",
    "utf-32-le": "UTF-32LE",
    "utf-32-be": "UTF-32BE",
    "cp932": "windows-31j",
    "cp949": "x-windows-949",
    "cp874": "x-windows-874",
    "cp950": "x-windows-950",
    "mac-roman": "x-MacRoman",
    "mac-cyrillic": "x-MacCyrillic",
}


@dataclass
class LogFormatConfig:
    """Configuration for the log scan operator.

    Mirrors the JSON config block of the reference plugin
    (/root/reference/README.md:38-48)::

        "log": {
          "type": "log",
          "extensions": ["log"],
          "fieldNames": ["date", "time", "pid", "action", "query"],
          "dataTypes": ["DATE", "TIME", "INT", "VARCHAR", "VARCHAR"],
          "dateFormat": "yyMMdd",
          "timeFormat": "HH:mm:ss",
          "pattern": "(\\d{6})\\s(\\d{2}:\\d{2}:\\d{2})\\s+(\\d+)\\s(\\w+)\\s+(.+)",
          "errorOnMismatch": false
        }
    """

    pattern: str
    field_names: list[str]
    data_types: list[str] | None = None
    date_format: str = ""  # LogFormatPlugin.java:91 default ""
    time_format: str = "HH:mm:ss"  # LogFormatPlugin.java:92 default
    error_on_mismatch: bool = False  # LogFormatPlugin.java:94 default
    extensions: list[str] = field(default_factory=lambda: ["log"])
    # --- compat / extension knobs (no reference counterpart) ---
    strict_numeric: bool = False  # True = reference's always-fatal numerics
    timestamp_format: str | None = None  # None = reuse date_format (reference
    # quirk: TIMESTAMP parses with the *date* format, LogRecordReader.java:256-258)
    charset: str = "utf-8"  # legacy-encoded logs (cp1251 exports, EBCDIC
    # mainframe dumps, UTF-16). read_log decodes it inside the JVM scan
    # (jvm_charset(), read_log's docstring); format("log") decodes with
    # the Python codec of the same name.

    def __post_init__(self) -> None:
        self.validate()

    # -- validation (reference setup order, LogRecordReader.java:115-200) ----

    def validate(self) -> None:
        # 1. non-empty pattern (LogRecordReader.java:155-157)
        if not self.pattern or not self.pattern.strip():
            raise ValueError(
                "Log parser requires a valid, non-empty 'pattern' in the plugin "
                "configuration"
            )
        # 2-4. pattern compiles, has >=1 group, group count == field count
        # (LogRecordReader.java:160-184). Execution uses the JVM regex
        # engine, so the authoritative check is validate_groups_jvm(),
        # called by parse_lines() when a session is in hand — exactly the
        # engine parity the reference gets from Pattern.compile. Python re
        # runs here as an *early* check only: if the pattern is Java-valid
        # but Python-invalid (Java named groups `(?<n>...)`, `\p{java...}`
        # classes), we defer rather than wrongly reject.
        try:
            compiled = re.compile(self.pattern)
        except re.error:
            compiled = None  # defer to the JVM check at read time
        if compiled is not None:
            self._check_groups(compiled.groups)
        # charset knob (r11): unknown codecs fail AT SETUP, like every
        # other config error (the reference's setup-error discipline)
        import codecs as _codecs

        try:
            _codecs.lookup(self.charset)
        except LookupError:
            raise ValueError(
                f"Log parser charset {self.charset!r} is not a known codec"
            ) from None
        # 5/6. date/time format present when a typed column needs it
        # (LogRecordReader.java:193-199, 310-329)
        types = self.resolved_types()
        if DATE in types and not self.date_format:
            raise ValueError("DATE field declared but 'dateFormat' is empty")
        if TIMESTAMP in types and not (self.timestamp_format or self.date_format):
            raise ValueError("TIMESTAMP field declared but 'dateFormat' is empty")
        if TIME in types and not self.time_format:
            raise ValueError("TIME field declared but 'timeFormat' is empty")

    def _check_groups(self, n_groups: int) -> None:
        """Group-count rules (LogRecordReader.java:169-184)."""
        if n_groups == 0:
            raise ValueError(
                "Log parser pattern must contain at least one capture group"
            )
        if n_groups != len(self.field_names):
            raise ValueError(
                f"Log parser pattern has {n_groups} capture groups but "
                f"{len(self.field_names)} field names were configured; these "
                "must match"
            )

    def validate_groups_jvm(self, spark) -> None:
        """Validate the pattern with the engine that will execute it.

        Uses ``java.util.regex.Pattern`` through the py4j gateway — the
        same call the reference makes (LogRecordReader.java:162) — so
        setup errors match execution reality in both directions:
        Java-invalid/Python-valid patterns (``(?P<n>...)``) fail *here*
        with a setup ValueError instead of a mid-job SparkException, and
        Java-valid/Python-invalid ones (``a*+``) pass. No-op when the JVM
        gateway is unreachable (Spark Connect); Python-re validation from
        ``validate()`` is the fallback there.
        """
        try:
            jvm = spark._jvm
            jpattern = jvm.java.util.regex.Pattern
        except Exception:
            return  # no gateway (Connect); rely on the Python-re check
        try:
            compiled = jpattern.compile(self.pattern)
        except Exception as exc:
            raise ValueError(
                f"Log parser pattern does not compile (java.util.regex): "
                f"{getattr(exc, 'java_exception', exc)}"
            ) from None
        self._check_groups(compiled.matcher("").groupCount())

    def jvm_charset(self, spark) -> str:
        """The JVM name of ``charset``, which ``read_log`` decodes with.

        Resolves the Python codec's canonical name, spelled the way the
        JVM knows it (:data:`_JVM_SPELLINGS`), through
        ``java.nio.charset.Charset``. A codec with no JVM charset
        (``utf-7``, ``hz``) is a setup ``ValueError``. Without a JVM
        gateway (Spark Connect) the spelled name is returned unchecked.
        The JVM's tables differ from Python's on a few code points of
        some charsets (EBCDIC NL 0x15 decodes to LF, not U+0085).
        """
        import codecs as _codecs

        canon = _codecs.lookup(self.charset).name
        name = _JVM_SPELLINGS.get(canon, canon)
        try:
            jcharset = spark._jvm.java.nio.charset.Charset
        except Exception:
            return name
        from pyspark.errors import IllegalArgumentException

        try:  # java.nio's unsupported / illegal charset name exceptions
            return jcharset.forName(name).name()
        except IllegalArgumentException:
            raise ValueError(
                f"Log parser charset {self.charset!r} has no JVM charset, so "
                "read_log cannot decode it; spark.read.format('log') decodes "
                "it with the Python codec"
            ) from None

    # -- resolution ----------------------------------------------------------

    def resolved_types(self) -> list[str]:
        """Effective per-field internal type tags.

        Null or wrong-length ``data_types`` means every column is VARCHAR
        (LogRecordReader.java:185-191).
        """
        if self.data_types is None or len(self.data_types) != len(self.field_names):
            return [VARCHAR] * len(self.field_names)
        return [normalize_type(t) for t in self.data_types]

    @property
    def group_count(self) -> int:
        """Capture-group count per Python re; -1 if only the JVM can parse
        the pattern (authoritative count then comes from
        :meth:`validate_groups_jvm`)."""
        try:
            return re.compile(self.pattern).groups
        except re.error:
            return -1

    def effective_timestamp_format(self) -> str:
        return self.timestamp_format or self.date_format
