"""Plan-contract tests: the physical plans the engine promises at scale.

Correctness tests prove WHAT each query computes; these prove HOW — the
properties that decide whether the same plan survives a 100× scale-up:

* filters and column pruning reach the parquet scan (no full-table reads
  feeding a two-column projection),
* no broadcast of scale-growing tables (customer/supplier/orders/lineitem
  grow with the corpus; only fixed-cardinality dims may broadcast),
* no CartesianProduct / BroadcastNestedLoopJoin in any pair operator
  (candidate generation must stay equi-join- or block-shaped),
* the log parse stays one whole-stage-codegen span with zero Python
  evaluation nodes,
* partial (map-side) aggregation before every aggregate shuffle.

The assertions string-match the initial AQE physical plan. They pin plan
*shape*, not operator ids, so Spark-version churn stays survivable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from drill_logfile_plugin_spark.config import LogFormatConfig
from drill_logfile_plugin_spark.sources.log_reader import read_log

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_pushes_filter_and_prunes_columns(spark, queries):
    plan = plan_of(queries["q01_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, (
        "shipdate filter must reach the parquet scan"
    )
    # Column pruning: the scan must not read join keys the query never uses.
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_comment" not in read_schema


def test_q03_forces_broadcast_of_fixed_dims_only(spark, queries):
    """At sf0.01 everything fits under autoBroadcastJoinThreshold, so
    size-based broadcasts of fact tables are fine (that's the point of
    letting AQE decide). The contract is that no scale-growing table is
    broadcast BY HINT: with size-based broadcasting disabled, the only
    surviving broadcasts must be the fixed-cardinality dims (region,
    nation) — a forced customer/supplier broadcast (VERDICT r1's finding)
    would still show up and OOM executors at 100×."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in (
            "q02_top_revenue_orders",
            "q03_region_revenue",
        ):
            plan = plan_of(queries[name](spark, SF_DIR))
            for chunk in plan.split("BroadcastExchange")[1:]:
                scan_line = next(
                    (
                        ln
                        for ln in chunk.splitlines()
                        if "Scan parquet" in ln
                    ),
                    "",
                )
                for big in ("customer", "supplier", "orders", "lineitem"):
                    assert f"{big}.parquet" not in scan_line, (
                        f"{name} forces a broadcast of scale-growing {big}"
                    )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pair_operators_have_no_cartesian_joins(spark, queries):
    """Candidate generation must stay equi-join-shaped. q31/q41 are allowed
    EXACTLY ONE BroadcastNestedLoopJoin: the 1-row in-band recall flag
    attaching to the output (the q55 scalar-broadcast shape) — their ANN
    candidate joins themselves must contribute none."""
    for name in (
        "q27_minhash_lsh",
        "q28_simhash_pairs",
        "q29_ngram_jaccard",
        "q31_ann_lsh",
        "q41_ann_ivf",
    ):
        plan = plan_of(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        allowed_bnl = 1 if name in ("q31_ann_lsh", "q41_ann_ivf") else 0
        assert plan.count("BroadcastNestedLoopJoin") <= allowed_bnl, name


def test_neardup_block_join_is_the_only_nonequi(spark, queries):
    """q40's nblocks²-row block-pair join is the one sanctioned non-equi
    join (bounded input by construction); the exact re-rank joins must be
    equi-keyed."""
    plan = plan_of(queries["q40_embedding_neardup"](spark, SF_DIR))
    # The re-rank joins on id_a/id_b must be hash joins, present in plan:
    assert "Join" in plan
    assert "CartesianProduct" not in plan


def test_log_parse_is_single_codegen_no_python(spark, tmp_path):
    log = tmp_path / "plan.log"
    log.write_text("070823 21:00:32  1 Connect root@localhost\n")
    cfg = LogFormatConfig(
        pattern=r"(\d{6})\s(\d{2}:\d{2}:\d{2})\s+(\d+)\s(\w+)\s+(.+)",
        field_names=["date", "time", "pid", "action", "query"],
        data_types=["DATE", "TIME", "INT", "VARCHAR", "VARCHAR"],
        date_format="yyMMdd",
    )
    plan = plan_of(read_log(spark, str(log), cfg))
    # "*(1)" is the whole-stage-codegen stage marker in the simple plan
    # string (the node spells out "WholeStageCodegen" only in formatted
    # mode); one stage id = the entire parse is a single codegen span.
    assert "*(1)" in plan and "*(2)" not in plan
    for python_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert python_node not in plan, (
            "log parse must stay a JVM expression tree"
        )
    # Whole parse = scan + one project/filter pipeline: no shuffle at all.
    assert "Exchange" not in plan


@pytest.mark.parametrize("charset", ["cp1251", "cp037", "utf-16"])
def test_legacy_charset_log_parse_has_no_python(spark, tmp_path, charset):
    """A declared charset decodes inside the JVM scan: no Python node in
    the plan, for line-split (cp1251), lineSep (cp037) and whole-file
    (UTF-16) decodes alike."""
    log = tmp_path / "plan.log"
    log.write_bytes("070823 21:00:32  1 Connect root\n".encode(charset))
    cfg = LogFormatConfig(
        pattern=r"(\d{6})\s(\d{2}:\d{2}:\d{2})\s+(\d+)\s(\w+)\s+(.+)",
        field_names=["date", "time", "pid", "action", "query"],
        data_types=["DATE", "TIME", "INT", "VARCHAR", "VARCHAR"],
        date_format="yyMMdd",
        charset=charset,
    )
    plan = plan_of(read_log(spark, str(log), cfg))
    assert "Python" not in plan, plan


def test_log_parse_prunes_unused_extracts(spark, tmp_path):
    """Genuine projection pushdown (reference only declared it,
    LogFormatPlugin.java:77-79): selecting one field must drop the other
    fields' regexp_extract expressions from the physical plan."""
    log = tmp_path / "prune.log"
    log.write_text("070823 21:00:32  1 Connect root@localhost\n")
    cfg = LogFormatConfig(
        pattern=r"(\d{6})\s(\d{2}:\d{2}:\d{2})\s+(\d+)\s(\w+)\s+(.+)",
        field_names=["date", "time", "pid", "action", "query"],
        data_types=["VARCHAR"] * 5,
    )
    plan = plan_of(read_log(spark, str(log), cfg).select("action"))
    assert plan.count("regexp_extract") == 1, (
        "only the projected field's extract may survive pruning"
    )


def test_aggregates_do_partial_before_shuffle(spark, queries):
    """Map-side combine: every hash-agg shuffle is fed by a partial_
    aggregate — the difference between shuffling n rows and n_groups
    rows at 100 TB."""
    for name in ("q01_pricing_summary", "q22_text_stats", "q21_exact_dedup"):
        plan = plan_of(queries[name](spark, SF_DIR))
        assert "partial_" in plan, name


def test_rollup_cascade_reuses_exchanges(spark, queries):
    """The hour/day/month cascade must execute ONE fact aggregation and
    re-aggregate it, not rescan per grain: the final adaptive plan shows
    a ReusedExchange per derived grain (reuse is resolved at runtime, so
    the query is executed first)."""
    df = queries["q46_rollup_cascade"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert plan.count("ReusedExchange") >= 2


def test_topk_search_broadcasts_queries_not_corpus(spark, queries):
    """q30 brute-force top-k: the small query set broadcasts; the corpus
    is scanned once, never shuffled before the window."""
    plan = plan_of(queries["q30_embedding_topk"](spark, SF_DIR))
    chunks = plan.split("BroadcastExchange")
    assert len(chunks) > 1, "expected the query side to broadcast"


def test_grouping_sets_is_one_expand_one_shuffle(spark, queries):
    """q48 (sets branch): all three grouping sets must come from ONE Expand
    feeding ONE partial-agg'd shuffle — not one scan/shuffle per set. The
    union-merged pivot branch adds exactly one more exchange (its own hash
    agg) and no distinct-values job (pivot values are explicit)."""
    plan = plan_of(queries["q48_sets_pivot"](spark, SF_DIR))
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 2
    assert "partial_" in plan


def test_sketch_checks_no_expand(spark, queries):
    """q52: exact COUNT(DISTINCT) must ride its own two-level aggregation
    (group+key partial-agg, then per-group count) broadcast-joined back —
    never fused beside the sketch aggregates, where Catalyst plans an
    Expand that doubles the scan output before the shuffle (measured 6x
    the arm cost at sf0.1). Zero Expand nodes anywhere in the query."""
    plan = plan_of(queries["q52_sketch_checks"](spark, SF_DIR))
    assert plan.count("Expand") == 0


def test_top_terms_partial_aggs_before_shuffle(spark, queries):
    """q50: the (lang, token) frequency count must partial-aggregate
    map-side — the shuffle carries distinct terms per partition, not one
    row per token occurrence (the explode output)."""
    plan = plan_of(queries["q50_top_terms"](spark, SF_DIR))
    assert "Generate explode" in plan
    assert "partial_count" in plan


def test_incremental_dedup_never_hint_broadcasts(spark, queries):
    """q51: both join sides (corpus hash set, incoming batch) grow with the
    corpus; with size-based broadcast disabled, no broadcast may survive —
    proving none is forced by hint."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(queries["q51_incremental_dedup"](spark, SF_DIR))
        assert "BroadcastExchange" not in plan
        assert "LeftAnti" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_chunk_pack_windows_per_shard_no_global_sort(spark, queries):
    """q61: the packing cumulative sum must window on the shard key — a
    single-partition exchange (global sort) would serialize the whole
    corpus through one task at 100 TB."""
    plan = plan_of(queries["q61_chunk_pack"](spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "Window" in plan
    assert "partial_" in plan  # final agg partial-aggregates map-side


def test_cosine_neardup_lsh_is_equi_join_ids_only(spark):
    """The embedding near-dup scale lane must propose candidates via an
    equi join that shuffles only ids — no cartesian/BNL, and no vector
    column in the candidate join's projection."""
    from drill_logfile_plugin_spark.operators.similarity import (
        cosine_neardup_lsh,
    )

    df = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    plan = plan_of(cosine_neardup_lsh(df, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_dedup_shuffles_hash_never_text(spark, queries):
    """q21: the dedup shuffle key must be the fixed-width content_hash —
    shuffling raw document text is the classic exact-dedup scale mistake."""
    plan = plan_of(queries["q21_exact_dedup"](spark, SF_DIR))
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert any("content_hash" in ln for ln in exchange_lines)
    assert not any("text" in ln for ln in exchange_lines)


def test_deterministic_split_shuffles_only_reports(spark, queries):
    """q55: split assignment is a pure function of doc_id (scan speed) and
    the mix branch's per-source thresholds join back onto the corpus via
    BROADCAST — every exchange in the plan is a dim-sized or report
    aggregation; the corpus itself is never shuffle-joined."""
    plan = plan_of(queries["q55_split_mix"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # split report + mix report + the source-count subplan twice (once
    # feeding thresholds, once the global min — not exchange-reusable) =
    # 4 dim-sized agg exchanges, plus the strat arm's single documented
    # corpus exchange (the per-stratum rank window partitions by source;
    # its report agg rides the same partitioning), plus the budget arm's
    # 2 (per-source token totals; the 1-row weight sum). More than 7
    # means an undocumented corpus shuffle crept in.
    assert plan.count("Exchange hashpartitioning") <= 7
    assert "partial_" in plan


def test_boilerplate_spans_shuffles_hashed_keys(spark, queries):
    """q59 (spans + docfrac arms): every shuffle keys on xxhash64 /
    doc_id — fixed-width keys, never the raw 8-gram strings (the string
    appears once per distinct span as a partial-agg'd MIN, not once per
    occurrence): no hashpartitioning on the exploded string column."""
    plan = plan_of(queries["q59_boilerplate_spans"](spark, SF_DIR))
    assert "xxhash64" in plan
    for chunk in plan.split("Exchange hashpartitioning(")[1:]:
        key = chunk.split(",")[0]
        # _groupingexpression#NL is the inlined xxhash64(g) (bigint)
        assert key.startswith(
            ("gh", "doc_id", "xxhash64", "part", "_groupingexpression")
        ), f"q59 shuffles a non-hashed key: {key}"
    # spans + docfrac = 7; the strip arm adds its own 2-phase distinct,
    # the span-index agg, the per-doc covered-start collect_list, and
    # the rewrite join; the exactsub arm (r8) adds its 2-phase
    # occurrence-count agg, covered-start collect_list, and rewrite join
    # over the SAME materialized positional stream — all keyed gh/doc_id
    # (checked above). More than 16 means an unaccounted corpus shuffle
    # crept in.
    assert plan.count("Exchange") <= 16


def test_scan_speed_text_ops_single_exchange(spark, queries):
    """q23 (language ID): per-row scoring is pure column expressions; the
    plan's only exchange is the small final-report aggregation."""
    plan = plan_of(queries["q23_language_id"](spark, SF_DIR))
    assert plan.count("Exchange") == 1


def test_repetition_filter_single_exchange(spark, queries):
    """q62 (repetition filter): per-doc dup-n-gram signals are pure column
    expressions fused into the scan; the only exchange is the tiny
    (source, verdict) report aggregation, with a partial agg before it."""
    plan = plan_of(queries["q62_repetition_filter"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_all_queries_no_row_python_no_surprise_cartesians(spark, queries):
    """Global sweep over EVERY registered query's physical plan:

    * no BatchEvalPython anywhere — row-at-a-time Python UDFs are banned
      from the engine outright (Arrow-batched pandas UDFs show up as
      ArrowEvalPython/MapInPandas and are the sanctioned slow path);
    * no CartesianProduct anywhere;
    * BroadcastNestedLoopJoin only where a non-equi predicate is the
      query's documented point (q06 theta join, q45's residual is
      bucketized so it must NOT appear there).

    Catches a whole class of future regressions (a contributor swapping
    an expression for a Python UDF, an optimizer change degrading an
    equi join) across all 50 surfaces at once.
    """
    bnl_allowed = {
        "q06_nonequi_join",  # theta join IS the query's point
        "q24_quality_score",  # 1-row vocab-size broadcast into LM surprisal
        "q30_embedding_topk",  # brute-force scoring vs the BROADCAST query set
        "q31_ann_lsh",  # 1-row in-band recall flag broadcast (scalar shape)
        "q40_embedding_neardup",  # nblocks² block-pair join, bounded input
        "q41_ann_ivf",  # 1-row in-band recall flag broadcast (scalar shape)
        "q46_rollup_cascade",  # 1-row funnel-base count broadcast into rates
        "q50_top_terms",  # 1-row corpus-stats broadcast into BM25 scores
        "q52_sketch_checks",  # segment-overlap pairwise seg_a<seg_b join:
        #   segment-cardinality-sized both sides (a handful of sketch
        #   rows), the documented bounded-broadcast shape
        "q55_split_mix",  # one-row global-min scalar broadcast into rates
    }
    for name, fn in queries.items():
        plan = plan_of(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian join"
        if name not in bnl_allowed:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNL join"


def test_registry_holds_exactly_50_queries_log_tier_first(queries):
    """The driver's correctness run processes AT MOST 50 registrations in
    registration order, then silently truncates (it dropped the log tier
    in round 2). This pins the load-bearing invariants mechanically: the
    suite is exactly 50 — one registration per driver slot, none wasted,
    none truncated — the reference-parity log tier registers FIRST (its
    queries are the reference's entire reason to exist), and the
    designated extension queries sit LAST so a shrinking budget drops
    them, never the parity tier."""
    names = list(queries)
    assert len(names) == 50
    assert names[:5] == [
        "q34_log_actions",
        "q35_log_monthly_sql",
        "q36_log_gzip",
        "q54_access_log",
        "q60_ip_anonymize",
    ]
    assert names[5] == "q37_stream_windows"  # streaming tier second
    assert names[-2:] == ["q61_chunk_pack", "q62_repetition_filter"]


def test_no_rdd_access_in_package_source():
    """``df.rdd`` is banned engine-wide: it converts the plan to an RDD
    (materializing scan state, breaking Catalyst re-planning) and is never
    needed — partition estimates come from driver-side metadata
    (inputFiles + optimizer size stats; see operators/dedup.py _spread).
    A source-level ban, like the plan sweep's BatchEvalPython ban, catches
    a contributor reintroducing it anywhere in the package."""
    import pathlib

    import drill_logfile_plugin_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        str(p)
        for p in root.rglob("*.py")
        if ".rdd" in p.read_text(encoding="utf-8")
    ]
    assert offenders == [], offenders


def test_every_oracle_sql_parses_in_duckdb():
    """EXPLAIN every oracle_sql() entry against DuckDB views over the
    sf0.001 tables — a syntax/typo guard that runs in seconds, without
    waiting for the full value-compare harness."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    for name, sql in e.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as ex:
            raise AssertionError(f"{name}: oracle SQL fails to parse: {ex}")


def test_no_row_python_anywhere_in_the_package():
    """Repo-wide static hygiene pin: the per-query plan sweep above
    proves the 50 driver queries are row-Python-free; this pins the rule
    for EVERY module — no row-at-a-time F.udf, no .rdd escapes, anywhere
    in the package source (pandas_udf / mapInPandas / applyInPandas are
    the sanctioned Arrow-batched paths)."""
    import pathlib
    import re

    root = (
        pathlib.Path(__file__).resolve().parent.parent
        / "drill_logfile_plugin_spark"
    )
    bad = []
    for py in sorted(root.rglob("*.py")):
        src = py.read_text(encoding="utf-8")
        for lineno, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\bF\.udf\(|\bfunctions\.udf\(", code):
                bad.append(f"{py.name}:{lineno} row-Python udf: {line.strip()}")
            if re.search(r"\.rdd\b", code):
                bad.append(f"{py.name}:{lineno} .rdd escape: {line.strip()}")
    assert not bad, "\n".join(bad)


def test_document_and_media_scans_are_exchange_free(spark):
    """The r9 ingestion lanes are NARROW maps: payload scan ->
    mapInPandas, no shuffle anywhere — the property that makes them
    embarrassingly parallel at 100 TB (each executor extracts its own
    files; the only data movement is the input read itself)."""
    from drill_logfile_plugin_spark.operators.archives import explode_archive
    from drill_logfile_plugin_spark.operators.documents import (
        extract_document_text,
    )
    from drill_logfile_plugin_spark.operators.multimodal import (
        decompress_payload,
        sniff_media,
    )
    from drill_logfile_plugin_spark.operators.probe import probe_media
    from drill_logfile_plugin_spark.operators.video_fp import frame_signatures

    df = spark.createDataFrame(
        [(0, bytearray(b"payload"))], "doc_id long, payload binary"
    )
    for name, lane in [
        ("extract_document_text", extract_document_text(df)),
        ("explode_archive", explode_archive(df)),
        ("probe_media", probe_media(df)),
        ("sniff_media", sniff_media(df)),
        ("decompress_payload", decompress_payload(df)),
        ("frame_signatures", frame_signatures(df, codec="gif")),
    ]:
        plan = plan_of(lane)
        assert "Exchange" not in plan, (name, plan)
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan or "PythonMapInArrow" in plan, name
