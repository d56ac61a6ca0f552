"""read_log / format("log") with a declared legacy charset: cp1251
exports, EBCDIC mainframe dumps, UTF-16/32 and CJK multi-byte files.
read_log decodes in the JVM scan; the format("log") shim decodes with
the Python codec and must agree row for row. EBCDIC-class charsets make
the shim refuse byte-range splitting (their line ends are not 0x0A
bytes)."""

import pytest

from drill_logfile_plugin_spark import LogFormatConfig, read_log

PATTERN = r"(\d{6})\s(\d{2}:\d{2}:\d{2})\s+(\d+)\s(\w+)\s+(.+)"
FIELDS = ["date", "time", "pid", "action", "query"]
TYPES = ["DATE", "TIME", "INT", "VARCHAR", "VARCHAR"]

LINES = [
    "070823 21:00:32  1 Connect пользователь@локальный",
    "070823 21:00:48  2 Query  запрос данных",
]


def _cfg(charset):
    return LogFormatConfig(
        pattern=PATTERN, field_names=FIELDS, data_types=TYPES,
        date_format="yyMMdd", charset=charset,
    )


def _write(tmp_path, charset, name="a.log"):
    p = tmp_path / name
    p.write_bytes(("\n".join(LINES) + "\n").encode(charset))
    return str(p)


def test_cp1251_log_parses(tmp_path, spark):
    path = _write(tmp_path, "cp1251")
    rows = read_log(spark, path, _cfg("cp1251")).orderBy("pid").collect()
    assert [r["action"] for r in rows] == ["Connect", "Query"]
    assert rows[0]["query"] == "пользователь@локальный"
    assert str(rows[0]["date"]) == "2007-08-23"


def test_ebcdic_log_parses(tmp_path, spark):
    ascii_lines = [
        "070823 21:00:32  1 Connect mainframe job",
        "070823 21:00:48  2 Query  nightly batch",
    ]
    p = tmp_path / "m.log"
    p.write_bytes(("\n".join(ascii_lines) + "\n").encode("cp037"))
    rows = read_log(spark, str(p), _cfg("cp037")).orderBy("pid").collect()
    assert [r["action"] for r in rows] == ["Connect", "Query"]
    assert rows[1]["query"] == "nightly batch"


def test_utf8_default_path_unchanged(tmp_path, spark):
    path = _write(tmp_path, "utf-8")
    rows = read_log(spark, path, _cfg("utf-8")).orderBy("pid").collect()
    assert rows[0]["query"] == "пользователь@локальный"


def test_unknown_charset_is_setup_error(tmp_path, spark):
    with pytest.raises(ValueError, match="not a known codec"):
        _cfg("martian-9")
    # a Python codec with no JVM charset: read_log refuses it at setup
    # and names the route that still reads it
    for charset in ("utf-7", "hz"):
        path = _write(tmp_path, charset, f"{charset}.log")
        with pytest.raises(ValueError, match=r"format\('log'\)"):
            read_log(spark, path, _cfg(charset))


def test_shim_option_surface(tmp_path, spark):
    from drill_logfile_plugin_spark.sources.log_datasource import (
        register_log_datasource,
    )

    register_log_datasource(spark)
    path = _write(tmp_path, "cp1251", "b.log")
    rows = (
        spark.read.format("log")
        .option("pattern", PATTERN)
        .option("fieldNames", ",".join(FIELDS))
        .option("dataTypes", ",".join(TYPES))
        .option("dateFormat", "yyMMdd")
        .option("charset", "cp1251")
        .load(path)
        .orderBy("pid")
        .collect()
    )
    assert rows[0]["query"] == "пользователь@локальный"


def test_ebcdic_never_byte_splits(tmp_path, spark):
    """EBCDIC text has no 0x0A line model: even a file beyond the split
    size must scan as ONE whole-file partition (and still parse)."""
    from drill_logfile_plugin_spark.sources.log_datasource import (
        register_log_datasource,
    )

    register_log_datasource(spark)
    many = "\n".join(
        f"070823 21:00:{i % 60:02d}  {i} Query  line number {i}"
        for i in range(1, 401)
    ) + "\n"
    p = tmp_path / "big.log"
    p.write_bytes(many.encode("cp037"))
    df = (
        spark.read.format("log")
        .option("pattern", PATTERN)
        .option("fieldNames", ",".join(FIELDS))
        .option("dataTypes", ",".join(TYPES))
        .option("dateFormat", "yyMMdd")
        .option("charset", "cp037")
        .option("splitSize", "512")  # far below the file size
        .load(str(p))
    )
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 400


def test_cp1251_still_byte_splits(tmp_path, spark):
    """ASCII-newline-compatible charsets keep the splittable path with
    row parity."""
    from drill_logfile_plugin_spark.sources.log_datasource import (
        register_log_datasource,
    )

    register_log_datasource(spark)
    many = "\n".join(
        f"070823 21:00:{i % 60:02d}  {i} Запрос{i % 7} поле {i}"
        for i in range(1, 401)
    ) + "\n"
    p = tmp_path / "big.log"
    p.write_bytes(many.encode("cp1251"))
    base = (
        spark.read.format("log")
        .option("pattern", r"(\d{6})\s(\d{2}:\d{2}:\d{2})\s+(\d+)\s(\S+)\s+(.+)")
        .option("fieldNames", ",".join(FIELDS))
        .option("dateFormat", "yyMMdd")
        .option("charset", "cp1251")
    )
    whole = base.load(str(p))
    split = base.option("splitSize", "1024").load(str(p))
    assert split.rdd.getNumPartitions() > 1
    a = sorted(map(str, whole.collect()))
    b = sorted(map(str, split.collect()))
    assert a == b


def _shim(spark, cfg):
    from drill_logfile_plugin_spark.sources.log_datasource import (
        register_log_datasource,
    )

    register_log_datasource(spark)
    return (
        spark.read.format("log")
        .option("pattern", cfg.pattern)
        .option("fieldNames", ",".join(cfg.field_names))
        .option("dataTypes", ",".join(cfg.data_types))
        .option("dateFormat", cfg.date_format)
        .option("errorOnMismatch", str(cfg.error_on_mismatch).lower())
        .option("charset", cfg.charset)
    )


def _rows(df):
    return sorted(map(str, df.collect()))


def _body(text, nl="\n"):
    """Matched, empty, whitespace-only and unmatched lines; the first
    unmatched one is line 3."""
    return nl.join([
        f"070823 21:00:32  1 Connect {text}",
        "",
        f"GARBAGE {text}",
        " \t ",
        f"070824 22:01:33  2 Query  select {text}",
        f"NOT A LOG LINE {text}",
    ]) + nl


#: (file charset, body) — the declared charset is the file's own
PARITY_CASES = {
    "cp1251": ("cp1251", _body("пользователь@локальный")),
    "cp037_lf": ("cp037", _body("mainframe job")),
    "cp037_crlf": ("cp037", _body("mainframe job", "\r\n")),
    "utf16_bom_cr": ("utf-16", _body("пользователь 数据", "\r")),
    "utf16le": ("utf-16-le", _body("пользователь 数据", "\r\n")),
    "shift_jis": ("shift_jis", _body("ユーザー表")),
    "cp932": ("cp932", _body("①ユーザー～")),  # not Java's cp932 alias
    "gb18030_crlf": ("gb18030", _body("用户数据表", "\r\n")),
}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_read_log_matches_shim(tmp_path, spark, case):
    """read_log's JVM decode and the shim's Python decode give the same
    rows, and strict mode aborts naming the same line number."""
    charset, body = PARITY_CASES[case]
    p = tmp_path / f"{case}.log"
    p.write_bytes(body.encode(charset))
    cfg = _cfg(charset)
    got = _rows(read_log(spark, str(p), cfg))
    assert got == _rows(_shim(spark, cfg).load(str(p)))
    assert len(got) == 4 and any("select" in r for r in got)

    strict = _cfg(charset)
    strict.error_on_mismatch = True
    for df in (read_log(spark, str(p), strict), _shim(spark, strict).load(str(p))):
        with pytest.raises(Exception, match="at line 3: GARBAGE"):
            df.collect()


def test_malformed_bytes_replace_like_shim(tmp_path, spark):
    """A byte cp1251 leaves unmapped (0x98) decodes to U+FFFD on both
    paths (the shim's errors="replace")."""
    p = tmp_path / "dirty.log"
    p.write_bytes(_body("\u0434\u0430").encode("cp1251").replace(b"\xe4", b"\x98"))
    cfg = _cfg("cp1251")
    got = _rows(read_log(spark, str(p), cfg))
    assert got == _rows(_shim(spark, cfg).load(str(p)))
    assert any("\ufffd" in r for r in got)


def test_multiple_paths_with_charset(tmp_path, spark):
    a = _write(tmp_path, "cp1251", "a.log")
    b = tmp_path / "b.log"
    b.write_bytes("070901 10:00:00  3 Quit     выход\n".encode("cp1251"))
    rows = read_log(spark, None, _cfg("cp1251"), paths=[a, str(b)]).collect()
    assert sorted(r["query"] for r in rows) == [
        "выход", "запрос данных", "пользователь@локальный",
    ]


DECODE_CONFS = (
    "spark.sql.legacy.javaCharsets",
    "spark.sql.legacy.codingErrorAction",
)


@pytest.fixture()
def no_decode_confs(spark):
    """The session with both legacy decode confs unset, restored after."""
    saved = {k: spark.conf.get(k, None) for k in DECODE_CONFS}
    for k in DECODE_CONFS:
        spark.conf.unset(k)
    yield
    for k, v in saved.items():
        if v is not None:
            spark.conf.set(k, v)


def _confs(spark):
    return {k: spark.conf.get(k, None) for k in DECODE_CONFS}


def test_decode_confs_left_as_found(tmp_path, spark, no_decode_confs):
    """read_log decodes cp1251 on a session without the legacy decode
    confs, and leaves them unset."""
    path = _write(tmp_path, "cp1251")
    df = read_log(spark, path, _cfg("cp1251"))
    assert _confs(spark) == dict.fromkeys(DECODE_CONFS)
    rows = df.orderBy("pid").collect()
    assert rows[0]["query"] == "пользователь@локальный"


def test_concurrent_reads_keep_decode_confs(tmp_path, spark, no_decode_confs):
    """read_log planned from more threads than cores: every plan decodes
    (none was analysed while another thread had restored the confs), and
    the confs end unset."""
    from concurrent.futures import ThreadPoolExecutor

    path = _write(tmp_path, "cp1251")
    with ThreadPoolExecutor(8) as ex:
        futures = [
            ex.submit(read_log, spark, path, _cfg("cp1251")) for _ in range(24)
        ]
        dfs = [f.result(timeout=120) for f in futures]
    assert _confs(spark) == dict.fromkeys(DECODE_CONFS)
    union = dfs[0]
    for df in dfs[1:]:
        union = union.unionAll(df)
    rows = union.where("pid = 1").collect()
    assert [r["query"] for r in rows] == ["пользователь@локальный"] * 24


def test_stream_decodes_charset(tmp_path, spark):
    from drill_logfile_plugin_spark.sources.log_reader import read_log_stream

    indir = tmp_path / "in"
    indir.mkdir()
    _write(indir, "cp1251")
    q = (
        read_log_stream(spark, str(indir), _cfg("cp1251"))
        .writeStream.format("memory")
        .queryName("cp1251_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM cp1251_stream ORDER BY pid").collect()
    finally:
        q.stop()
    assert [r["query"] for r in rows] == [
        "пользователь@локальный", "запрос данных",
    ]
