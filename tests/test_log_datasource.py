"""format("log") registration shim: parity with read_log + its own
contracts (reference affordance: @JsonTypeName("log") dispatch,
LogFormatPlugin.java:86-88; README.md:33)."""

import gzip

import pytest

from drill_logfile_plugin_spark import (
    LogFormatConfig,
    read_log,
    register_log_datasource,
)

MYSQL_PATTERN = r"(\d{6})\s(\d{2}:\d{2}:\d{2})\s+(\d+)\s(\w+)\s+(.+)"
MYSQL_FIELDS = ["date", "time", "pid", "action", "query"]
MYSQL_TYPES = ["DATE", "TIME", "INT", "VARCHAR", "VARCHAR"]


def _mysql_reader(spark):
    register_log_datasource(spark)
    return (
        spark.read.format("log")
        .option("pattern", MYSQL_PATTERN)
        .option("fieldNames", ",".join(MYSQL_FIELDS))
        .option("dataTypes", ",".join(MYSQL_TYPES))
        .option("dateFormat", "yyMMdd")
    )


def _sorted(df):
    return sorted((tuple(r) for r in df.collect()), key=str)


def test_format_log_round_trips_readme_fixture(spark):
    """spark.read.format('log').load(path) returns row-for-row what the
    JVM-expression path (read_log) returns on the README MySQL fixture —
    schema, typed values (DATE / TIME-as-millis / INT), and the
    unmatched_lines channel included."""
    df = _mysql_reader(spark).load("fixtures/mysql.log")
    cfg = LogFormatConfig(
        pattern=MYSQL_PATTERN,
        field_names=MYSQL_FIELDS,
        data_types=MYSQL_TYPES,
        date_format="yyMMdd",
    )
    ref = read_log(spark, "fixtures/mysql.log", cfg)
    assert df.schema == ref.schema
    assert _sorted(df) == _sorted(ref)


def test_format_log_decodes_gzip_by_suffix(spark):
    plain = _mysql_reader(spark).load("fixtures/mysql.log")
    gz = _mysql_reader(spark).load("fixtures/mysql_gz.log.gz")
    assert _sorted(plain) == _sorted(gz)


def test_format_log_directory_extension_dispatch(spark, tmp_path):
    """A directory parses only files with a registered extension — the
    reference's extensions config — with compressed twins included and
    one partition per file (the reference's per-file reader model)."""
    (tmp_path / "a.log").write_text(
        "070823 21:00:32  1 Connect root@localhost\n"
    )
    with gzip.open(tmp_path / "b.log.gz", "wt") as fh:
        fh.write("070824 21:00:33  2 Query select 1\n")
    (tmp_path / "ignored.txt").write_text("070825 21:00:34  3 Quit bye\n")
    df = _mysql_reader(spark).load(str(tmp_path))
    assert df.count() == 2
    assert {r.action for r in df.collect()} == {"Connect", "Query"}


def test_format_log_unmatched_and_strict(spark, tmp_path):
    p = tmp_path / "m.log"
    p.write_text(
        "070823 21:00:32  1 Connect root@localhost\n"
        "\t \n"  # Java-trim skip: no row at all
        "GARBAGE LINE\n"
    )
    rows = _mysql_reader(spark).load(str(p)).collect()
    assert len(rows) == 2
    bad = [r for r in rows if r.unmatched_lines is not None]
    assert len(bad) == 1 and bad[0].unmatched_lines == "GARBAGE LINE"
    strict = (
        _mysql_reader(spark)
        .option("errorOnMismatch", "true")
        .load(str(p))
    )
    with pytest.raises(Exception, match="line 3"):
        strict.collect()


def test_format_log_rejects_unsupported_format_token(spark, tmp_path):
    p = tmp_path / "z.log"
    p.write_text("x\n")
    register_log_datasource(spark)
    reader = (
        spark.read.format("log")
        .option("pattern", r"(\S+)")
        .option("fieldNames", "d")
        .option("dataTypes", "DATE")
        .option("dateFormat", "yyyyMMddZ")  # zone token: shim refuses
    )
    with pytest.raises(Exception, match="[Uu]nsupported date format"):
        reader.load(str(p)).collect()


def test_java_format_translation_table():
    from drill_logfile_plugin_spark.sources.log_datasource import (
        java_format_to_strptime,
    )

    assert java_format_to_strptime("yyMMdd") == "%y%m%d"
    assert java_format_to_strptime("yyyy-MM-dd HH:mm:ss") == (
        "%Y-%m-%d %H:%M:%S"
    )
    assert java_format_to_strptime("dd/MMM/yyyy:HH:mm:ss") == (
        "%d/%b/%Y:%H:%M:%S"
    )
    assert java_format_to_strptime("HH:mm:ss.SSS") == "%H:%M:%S.%f"
    assert java_format_to_strptime("yyyy'T'HH") == "%YT%H"
    with pytest.raises(ValueError, match="unsupported"):
        java_format_to_strptime("yyyy EEE")


def test_format_log_empty_directory_yields_empty_frame(spark, tmp_path):
    """Zero matching files must plan as an empty DataFrame with the full
    configured schema — not crash read(None) (PySpark substitutes [None]
    for an empty partitions() list)."""
    d = tmp_path / "empty"
    d.mkdir()
    df = _mysql_reader(spark).load(str(d))
    assert df.count() == 0
    assert df.columns == MYSQL_FIELDS + ["unmatched_lines"]


def test_format_log_int_overflow_nulls_like_read_log(spark, tmp_path):
    """An INT capture group beyond int32 coerces to NULL (read_log's
    try_cast semantics) instead of aborting the scan with ArrowInvalid,
    and strict mode raises like read_log's error channel."""
    p = tmp_path / "big.log"
    p.write_text("070823 21:00:32       5000000000 Connect\n")
    reader = (
        spark.read.format("log")
        .option("pattern", r"(\d{6})\s(\d{2}:\d{2}:\d{2})\s+(\d+)\s(\w+)")
        .option("fieldNames", "date,time,pid,action")
        .option("dataTypes", "DATE,TIME,INT,VARCHAR")
        .option("dateFormat", "yyMMdd")
    )
    rows = reader.load(str(p)).collect()
    assert len(rows) == 1
    assert rows[0].pid is None and rows[0].action == "Connect"
    with pytest.raises(Exception, match="cannot parse value '5000000000'"):
        reader.option("strictNumeric", "true").load(str(p)).collect()


def test_format_log_matches_read_log_on_dirty_bytes(spark, tmp_path):
    """Byte-level dirt the text-based hypothesis property cannot
    generate: UTF-8 BOM, invalid UTF-8 sequences, CRLF / lone-CR line
    endings, missing trailing newline — the shim and read_log must
    agree row for row."""
    cfg = LogFormatConfig(
        pattern=r"(\d{6})\s(\d{2}:\d{2}:\d{2})\s+(\d+)\s(\w+)\s+(.+)",
        field_names=["date", "time", "pid", "action", "query"],
        data_types=["DATE", "TIME", "INT", "VARCHAR", "VARCHAR"],
        date_format="yyMMdd",
    )
    line = b"070823 21:00:32  1 Connect root@localhost"
    cases = {
        "bom": b"\xef\xbb\xbf" + line + b"\n",
        "bad_utf8": line[:-4] + b"\xff\xfe\x80h\nGARBAGE \xc3\x28 x\n",
        "crlf": line + b"\r\n070823 21:00:33  2 Quit bye\r\n",
        "cr_only": line + b"\r070823 21:00:33  2 Quit bye\r",
        "no_nl": line,
    }
    for name, data in cases.items():
        p = tmp_path / f"{name}.log"
        p.write_bytes(data)
        want = sorted(map(str, read_log(spark, str(p), cfg).collect()))
        got = sorted(
            map(
                str,
                spark.read.format("log")
                .option("pattern", cfg.pattern)
                .option("fieldNames", ",".join(cfg.field_names))
                .option("dataTypes", ",".join(cfg.data_types))
                .option("dateFormat", cfg.date_format)
                .load(str(p))
                .collect(),
            )
        )
        assert got == want, name


def test_format_log_matches_read_log_on_syslog_preset(spark, tmp_path):
    """The SYSLOG preset's year-less timestamps land in 1970 on both
    paths (strptime alone would say 1900), space-padded days included."""
    from drill_logfile_plugin_spark import SYSLOG

    p = tmp_path / "sys.log"
    p.write_text(
        "Aug 13 23:01:02 host1 sshd[4123]: Failed password for root\n"
        "Aug  3 00:00:01 host2 CRON: session opened\n"
        "not syslog at all\n"
    )
    register_log_datasource(spark)
    shim = (
        spark.read.format("log")
        .option("pattern", SYSLOG.pattern)
        .option("fieldNames", ",".join(SYSLOG.field_names))
        .option("dataTypes", ",".join(SYSLOG.data_types))
        .option("timestampFormat", SYSLOG.timestamp_format)
        .load(str(p))
    )
    ref = read_log(spark, str(p), SYSLOG)
    assert shim.schema == ref.schema
    assert _sorted(shim) == _sorted(ref)
    assert {r.ts.year for r in ref.collect() if r.ts is not None} == {1970}


def test_format_log_splits_large_uncompressed_file(spark, tmp_path):
    """Byte-range splitting: a file scanned with a small splitSize plans
    >1 input partition yet returns row-for-row what read_log returns —
    including lines straddling split boundaries (the ownership rule:
    a line belongs to the split containing its first byte)."""
    p = tmp_path / "big.log"
    lines = [
        f"0708{i % 28 + 1:02d} 21:00:{i % 60:02d}  {i} Query  select col_{i} from t_{i % 7}"
        for i in range(500)
    ]
    # organic dirt: unmatched lines and empties interleaved
    body = []
    for i, ln in enumerate(lines):
        body.append(ln)
        if i % 97 == 0:
            body.append("GARBAGE LINE %d" % i)
        if i % 61 == 0:
            body.append("   ")
    p.write_text("\n".join(body) + "\n")

    reader = _mysql_reader(spark).option("splitSize", "512")
    df = reader.load(str(p))
    # planfully >1 partition: the split math on this file must fan out
    n_parts = df.rdd.getNumPartitions()
    assert n_parts > 1, f"expected a split scan, got {n_parts} partition(s)"

    cfg = LogFormatConfig(
        pattern=MYSQL_PATTERN,
        field_names=MYSQL_FIELDS,
        data_types=MYSQL_TYPES,
        date_format="yyMMdd",
    )
    ref = read_log(spark, str(p), cfg)
    assert df.schema == ref.schema
    assert _sorted(df) == _sorted(ref)


def test_format_log_split_boundary_sweep(spark, tmp_path):
    """Every splitSize from 1 byte up: no line lost, duplicated, or torn
    regardless of where the boundary lands (including exactly on a
    newline — the probe-byte rule's edge)."""
    p = tmp_path / "sweep.log"
    p.write_text("070823 21:00:32  1 Connect root@localhost\n"
                 "GARBAGE\n"
                 "070824 22:01:33  2 Query  select 1\n")
    cfg = LogFormatConfig(
        pattern=MYSQL_PATTERN,
        field_names=MYSQL_FIELDS,
        data_types=MYSQL_TYPES,
        date_format="yyMMdd",
    )
    ref = _sorted(read_log(spark, str(p), cfg))
    for split in (1, 7, 41, 42, 43, 44, 50, 51, 52, 1000):
        got = _sorted(
            _mysql_reader(spark).option("splitSize", str(split)).load(str(p))
        )
        assert got == ref, f"splitSize={split}"


def test_format_log_strict_modes_stay_unsplit(spark, tmp_path):
    """errorOnMismatch keeps one partition per file (its abort names the
    exact global line number, which a byte-range reader cannot know) —
    and the abort message still carries file + line."""
    p = tmp_path / "strict.log"
    p.write_text(
        "070823 21:00:32  1 Connect root@localhost\n" * 40 + "BAD\n"
    )
    reader = (
        _mysql_reader(spark)
        .option("splitSize", "64")
        .option("errorOnMismatch", "true")
    )
    df = reader.load(str(p))
    assert df.rdd.getNumPartitions() == 1
    with pytest.raises(Exception, match="line 41"):
        df.collect()


def test_format_log_directory_mixes_split_and_whole_file_readers(
    spark, tmp_path
):
    """A directory scan composes both partition kinds: a big plain file
    fans out into byte-range splits while its gzip sibling keeps one
    whole-file reader — rows from both arrive exactly once."""
    lines = [
        f"0708{i % 28 + 1:02d} 21:00:{i % 60:02d}  {i} Query  select {i}"
        for i in range(300)
    ]
    big = tmp_path / "big.log"
    big.write_text("\n".join(lines) + "\n")
    with gzip.open(tmp_path / "twin.log.gz", "wt") as f:
        f.write("070801 09:00:00  9999 Connect root@gz\n")

    df = (
        _mysql_reader(spark)
        .option("splitSize", "1024")
        .load(str(tmp_path))
    )
    assert df.rdd.getNumPartitions() > 2  # splits + the gz reader
    rows = df.collect()
    assert len(rows) == 301
    assert sum(1 for r in rows if r["pid"] == 9999) == 1
    assert sorted(r["pid"] for r in rows if r["pid"] != 9999) == list(
        range(300)
    )


def test_format_log_split_crlf_line_numbers_match_text_mode(spark, tmp_path):
    """CRLF and classic-Mac terminators under byte-range splits: the
    CR-split of a CRLF pair must not add a phantom empty line, so
    split-relative line numbering and row parity both match the
    text-mode (whole-file) scan across a boundary sweep."""
    p = tmp_path / "crlf.log"
    content = (
        "070823 21:00:32  1 Connect root@localhost\r\n"
        "GARBAGE\r\n"
        "070824 22:01:33  2 Query  select 1\r"       # classic-Mac
        "070825 23:02:34  3 Quit   bye\r\n"
        "070826 11:03:35  4 Query  select 2\n"        # bare LF mixed in
    )
    p.write_bytes(content.encode())
    cfg = LogFormatConfig(
        pattern=MYSQL_PATTERN,
        field_names=MYSQL_FIELDS,
        data_types=MYSQL_TYPES,
        date_format="yyMMdd",
    )
    ref = _sorted(read_log(spark, str(p), cfg))
    for split in (1, 8, 43, 44, 45, 46, 60, 100, 10_000):
        got = _sorted(
            _mysql_reader(spark).option("splitSize", str(split)).load(str(p))
        )
        assert got == ref, f"splitSize={split}"
