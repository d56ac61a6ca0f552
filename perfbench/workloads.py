"""The three benchmark workloads: one job each, run plain or traced.

A job calls the package's public functions on one generated input, drains
the result and checks it against the generator's truth.  ``run`` is the
untraced job the end-to-end metrics time.  ``run_traced`` records spans
around each public call and drains each stage prefix on its own: a
layer's self time is the drain after it minus the drain before it (Spark
is lazy, so only a drain does the work).
"""

from __future__ import annotations

import dataclasses
import math
import os

import numpy as np
from pyspark.sql import functions as F

from drill_logfile_plugin_spark import (
    APACHE_COMBINED,
    MYSQL_LOG,
    SYSLOG,
    corpus_fingerprints,
    ingest_increment,
    read_log,
)
from drill_logfile_plugin_spark.operators.dedup import incremental_lsh_pairs
from drill_logfile_plugin_spark.operators.redact import redact_corpus
from drill_logfile_plugin_spark.operators.similarity import ann_lsh_topk, hyperplanes
from drill_logfile_plugin_spark.operators.templates import mine_templates
from drill_logfile_plugin_spark.operators.text import clean_corpus
from drill_logfile_plugin_spark.operators.versioning import snapshot_diff
from drill_logfile_plugin_spark.sources.sinks import write_table
from drill_logfile_plugin_spark.streaming.windows import tumbling_event_counts

import gen

PRESET_CONFIGS = {"mysql": MYSQL_LOG, "apache": APACHE_COMBINED, "syslog": SYSLOG}
UNMATCHED = "unmatched_lines"
#: ANN answers below this recall@k count as wrong: LSH is approximate, but
#: every query here has planted neighbours that the default tables find.
ANN_RECALL_FLOOR = 0.9
ANN_TABLES, ANN_BITS = 16, 4


@dataclasses.dataclass
class JobResult:
    records: int
    problems: list[str]
    quality: dict[str, float] = dataclasses.field(default_factory=dict)


def drain(df) -> None:
    """Execute every column of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def checksum(spark, df, preset: str, view: str = "bench_view") -> dict:
    fields = PRESET_CONFIGS[preset].field_names + [UNMATCHED]
    df.createOrReplaceTempView(view)
    r = spark.sql(gen.checksum_sql(fields, gen.KINDS[preset], view)).collect()[0]
    return {"n": r.n, "n_unmatched": r.n_unmatched, "sums": list(r.sums), "h": r.h}


def compare(what: str, got: dict, want: dict) -> list[str]:
    return [
        f"{what}.{k}: got {got[k]!r}, want {want[k]!r}"
        for k in ("n", "n_unmatched", "sums", "h")
        if got[k] != want[k]
    ]


def _cfg(preset: str, **changes):
    return dataclasses.replace(PRESET_CONFIGS[preset], **changes)


class LogScan:
    """Each job: ``read_log`` over one partition, then a SQL checksum."""

    name = "log_scan"

    def __init__(self, spark, inputs: str, truth: dict, work: str):
        self.spark, self.inputs = spark, inputs
        self.parts = truth["partitions"]

    def _part(self, i: int) -> dict:
        return self.parts[i % len(self.parts)]

    def run(self, i: int) -> JobResult:
        p = self._part(i)
        df = read_log(self.spark, os.path.join(self.inputs, p["name"]), PRESET_CONFIGS[p["preset"]])
        got = checksum(self.spark, df, p["preset"])
        return JobResult(p["lines"], compare(p["name"], got, p))

    def run_traced(self, i: int, tr) -> tuple[JobResult, dict]:
        p = self._part(i)
        cfg = PRESET_CONFIGS[p["preset"]]
        path = os.path.join(self.inputs, p["name"])
        with tr.span("config.validate") as s_val:
            cfg.validate_groups_jvm(self.spark)
        with tr.span("log_reader.plan") as s_plan:
            df = read_log(self.spark, path, cfg)
        with tr.span("log_reader.exec") as s_exec:
            drain(df)
        with tr.span("job") as s_job:
            res = self.run(i)
        return res, {
            "config.validate_s": s_val.seconds,
            "log_reader.plan_s": s_plan.seconds,
            "log_reader.exec_s": s_exec.seconds,
            "log_reader.lines_in": p["lines"],
            "log_reader.rows_out": p["n"],
            "log_reader.unmatched_rows": p["n_unmatched"],
            "@log_reader.exec": s_exec.group,
            "@log_reader.tasks": s_exec.group,
            "@job": s_job.group,
        }


class LogIngest:
    """Each job lands one batch: gzip, cp1251 and strict scans, then
    redaction, template mining and hourly windows, and a parquet sink that
    is read back and checked."""

    name = "log_ingest"

    def __init__(self, spark, inputs: str, truth: dict, work: str):
        self.spark, self.inputs = spark, inputs
        self.batches = truth["batches"]
        self.sink = os.path.join(work, "sink")

    def _plan(self, b: dict) -> dict:
        base = os.path.join(self.inputs, b["name"])
        acc = read_log(self.spark, os.path.join(base, "gz"), APACHE_COMBINED)
        events = acc.where(F.col(UNMATCHED).isNull()).select(
            "ts", F.col("method").alias("event_type"), F.col("nbytes").alias("value")
        )
        mysql = read_log(self.spark, os.path.join(base, "cp1251"), _cfg("mysql", charset="cp1251"))
        strict = read_log(self.spark, os.path.join(base, "strict"), _cfg("syslog", error_on_mismatch=True))
        return {
            "acc": acc,
            "windows": tumbling_event_counts(events, window="1 hour"),
            "mysql": mysql,
            "redacted": redact_corpus(mysql, text_col="query"),
            "strict": strict,
            "templates": mine_templates(strict, message_col="msg"),
        }

    def _check_windows(self, plan: dict, b: dict) -> list[str]:
        rows = plan["windows"].select(
            F.unix_micros("win_start").alias("ws"), "event_type", "n_events", "sum_value"
        ).collect()
        got = {f"{r.ws}|{r.event_type}": [r.n_events, int(r.sum_value or 0)] for r in rows}
        return [] if got == b["windows"] else [f"windows: {len(got)} groups differ from truth"]

    def _check_templates(self, plan: dict, b: dict) -> list[str]:
        r = plan["templates"].agg(F.count(F.lit(1)).alias("k"), F.sum("n_lines").alias("n")).collect()[0]
        if (r.k, r.n) != (b["n_templates"], b["strict"]["n"]):
            return [f"templates: got {r.k} over {r.n} lines, want {b['n_templates']} over {b['strict']['n']}"]
        return []

    def _write(self, plan: dict) -> tuple[int, int]:
        write_table(plan["redacted"], self.sink, partition_by=["action"], mode="overwrite")
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.sink)
            for f in files
            if f.startswith("part-")
        ]
        return sum(sizes), len(sizes)

    def _records(self, b: dict) -> int:
        return b["gz"]["lines"] + b["cp1251"]["lines"] + b["strict"]["lines"]

    def run(self, i: int) -> JobResult:
        b = self.batches[i % len(self.batches)]
        plan = self._plan(b)
        problems = self._check_windows(plan, b)
        problems += compare("strict", checksum(self.spark, plan["strict"], "syslog"), b["strict"])
        problems += self._check_templates(plan, b)
        written, _ = self._write(plan)
        back = self.spark.read.parquet(self.sink)
        problems += compare("sink", checksum(self.spark, back, "mysql"), b["sink"])
        return JobResult(self._records(b), problems,
                         {"stored_bytes_per_input_byte": written / b["cp1251"]["bytes"]})

    def run_traced(self, i: int, tr) -> tuple[JobResult, dict]:
        b = self.batches[i % len(self.batches)]
        with tr.span("config.validate") as s_val:
            for cfg in (APACHE_COMBINED, MYSQL_LOG, SYSLOG):
                cfg.validate_groups_jvm(self.spark)
        with tr.span("log_reader.plan") as s_plan:
            plan = self._plan(b)
        with tr.span("log_reader.gz_exec") as s_gz:
            drain(plan["acc"])
        with tr.span("windows") as s_win:
            groups = plan["windows"].count()
        with tr.span("log_datasource") as s_ds:
            drain(plan["mysql"])
        with tr.span("redact") as s_red:
            drain(plan["redacted"])
        with tr.span("sinks.write") as s_sink:
            written, files = self._write(plan)
        with tr.span("log_reader.strict_exec") as s_strict:
            drain(plan["strict"])
        with tr.span("templates") as s_tpl:
            n_tpl = plan["templates"].count()
        with tr.span("job") as s_job:
            res = self.run(i)
        gz, st = b["gz"], b["strict"]
        return res, {
            "config.validate_s": s_val.seconds,
            "log_reader.plan_s": s_plan.seconds,
            "log_reader.gz_exec_s": s_gz.seconds,
            "log_reader.strict_exec_s": s_strict.seconds,
            "log_reader.exec_s": s_gz.seconds + s_strict.seconds,
            "log_reader.lines_in": gz["lines"] + st["lines"],
            "log_reader.rows_out": gz["n"] + st["n"],
            "log_reader.unmatched_rows": gz["n_unmatched"] + st["n_unmatched"],
            "windows.exec_s": s_win.seconds - s_gz.seconds,
            "windows.groups_out": groups,
            "log_datasource.exec_s": s_ds.seconds,
            "redact.exec_s": s_red.seconds - s_ds.seconds,
            "sinks.write_s": s_sink.seconds,
            "sinks.bytes_written": written,
            "sinks.files_written": files,
            "templates.exec_s": s_tpl.seconds - s_strict.seconds,
            "templates.n_templates": n_tpl,
            "@log_reader.exec": [s_gz.group, s_strict.group],
            "@log_reader.tasks": s_gz.group,
            "@log_datasource": s_ds.group,
            "@job": s_job.group,
        }


class CorpusDedup:
    """Each job: ``ingest_increment`` with near-dup adjudication against a
    fixed standing corpus, then ``ann_lsh_topk`` for a query batch."""

    name = "corpus_dedup"

    def __init__(self, spark, inputs: str, truth: dict, work: str):
        import pyarrow.parquet as pq

        self.spark, self.truth = spark, truth
        rd = spark.read.parquet
        self.standing = rd(os.path.join(inputs, "standing.parquet"))
        fp_path = os.path.join(work, "standing_fp")
        # the persisted fingerprint projection is the production form of
        # the standing state; it is built once, before any job runs
        corpus_fingerprints(self.standing).write.mode("overwrite").parquet(fp_path)
        self.standing_fp = rd(fp_path)
        self.increments = [
            rd(os.path.join(inputs, f"increment-{k}.parquet"))
            for k in range(len(truth["increments"]))
        ]
        self.queries = rd(os.path.join(inputs, "queries.parquet"))
        self.corpus = rd(os.path.join(inputs, "embeddings.parquet"))

        def vectors(name):
            t = pq.read_table(os.path.join(inputs, name))
            return t.column(0).to_numpy(), np.stack(t.column(1).to_numpy(zero_copy_only=False)).astype(np.float64)

        self.q_ids, self.q_vecs = vectors("queries.parquet")
        self.c_ids, self.c_vecs = vectors("embeddings.parquet")
        planes = hyperplanes(ANN_TABLES, ANN_BITS, self.c_vecs.shape[1])
        flat = planes.reshape(ANN_TABLES * ANN_BITS, -1)
        w = 1 << np.arange(ANN_BITS)

        def buckets(m):
            return ((m @ flat.T > 0).reshape(len(m), ANN_TABLES, ANN_BITS) * w).sum(axis=2)

        qb, cb = buckets(self.q_vecs), buckets(self.c_vecs)
        self.candidates = int(sum((cb == qb[q]).any(axis=1).sum() for q in range(len(qb))))

    def _pipeline(self, inc):
        return ingest_increment(
            None, inc, existing_fp=self.standing_fp, near_dup=True,
            standing_docs=self.standing, langs=("en",),
            jaccard_threshold=self.truth["jaccard_threshold"],
        )

    def _ann(self):
        return ann_lsh_topk(self.queries, self.corpus, k=self.truth["ann_k"],
                            n_tables=ANN_TABLES, n_bits=ANN_BITS)

    def _check(self, k: int, out, ann) -> JobResult:
        t = self.truth["increments"][k]
        rows = out.groupBy("doc_id").agg(
            F.sum("n_chunk_tokens").alias("tok"), F.count(F.lit(1)).alias("chunks")
        ).collect()
        got = {str(r.doc_id): r.tok for r in rows}
        problems = []
        if got != t["expected_tokens"]:
            extra = sorted(set(got) - set(t["expected_tokens"]))[:5]
            missing = sorted(set(t["expected_tokens"]) - set(got))[:5]
            problems.append(f"pipeline: survivors differ (extra {extra}, missing {missing})")
        if any(r.chunks != math.ceil(r.tok / 64) for r in rows):
            problems.append("pipeline: chunk counts do not cover the tokens")
        near = [d for _, d in t["planted_near_dups"]]
        removed = sum(1 for d in near if str(d) not in got)

        ans = ann.select("q_id", "neighbor_id", "rank", "sim").collect()
        kk = self.truth["ann_k"]
        by_q: dict[int, list] = {}
        for r in ans:
            by_q.setdefault(r.q_id, []).append(r)
        qpos = {int(q): n for n, q in enumerate(self.q_ids)}
        cpos = {int(c): n for n, c in enumerate(self.c_ids)}
        hits = 0
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r.rank)
            if [r.rank for r in rs] != list(range(1, kk + 1)):
                problems.append(f"ann: query {q} ranks {[r.rank for r in rs]}")
                break
            qv = self.q_vecs[qpos[q]]
            for r in rs:
                cv = self.c_vecs[cpos[r.neighbor_id]]
                want = float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv)))
                if abs(r.sim - want) > 1e-6:
                    problems.append(f"ann: sim({q},{r.neighbor_id}) = {r.sim}, want {want}")
                    break
            hits += len({r.neighbor_id for r in rs} & set(self.truth["ann_topk"][str(q)]))
        if len(by_q) != len(self.q_ids):
            problems.append(f"ann: {len(by_q)} of {len(self.q_ids)} queries answered")
        recall = hits / (len(self.q_ids) * kk)
        if recall < ANN_RECALL_FLOOR:
            problems.append(f"ann: recall@{kk} {recall:.3f} below {ANN_RECALL_FLOOR}")
        n_docs = self.truth["increment_docs"][k]
        return JobResult(n_docs + len(self.q_ids), problems, {
            "dedup_recall": removed / len(near),
            "ann_recall_at_k": recall,
        })

    def run(self, i: int) -> JobResult:
        k = i % len(self.increments)
        return self._check(k, self._pipeline(self.increments[k]), self._ann())

    def run_traced(self, i: int, tr) -> tuple[JobResult, dict]:
        k = i % len(self.increments)
        inc = self.increments[k]
        thr = self.truth["jaccard_threshold"]
        with tr.span("pipeline.plan") as s_plan:
            out = self._pipeline(inc)
        # stage prefixes, built from the same public operators the
        # pipeline composes: delta, exact winners, near-dup pairs, cleaning
        new_fp = inc.select("doc_id", F.md5("text").alias("__fp"))
        old_fp = self.standing_fp.select("doc_id", F.col("fp").alias("__fp"))
        delta = snapshot_diff(old_fp, new_fp, fingerprint_col="__fp").where(
            F.col("status").isin("added", "changed")).select("doc_id")
        fresh = new_fp.join(delta, "doc_id", "left_semi").join(old_fp.select("__fp"), "__fp", "left_anti")
        winners = fresh.groupBy("__fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
        kept = inc.join(winners, "doc_id", "left_semi")
        pairs = incremental_lsh_pairs(kept, self.standing, jaccard_threshold=thr)
        # the pipeline's survivor policy for pairs: the standing or lower id wins
        losers = pairs.select(F.col("doc_b").alias("doc_id"))
        cleaned = clean_corpus(kept.join(losers, "doc_id", "left_anti"), langs=("en",))
        with tr.span("versioning") as s_ver:
            drain(delta)
        with tr.span("dedup") as s_dd:
            drain(pairs)
        # every LSH candidate, scored: the count and the share that passes
        c = incremental_lsh_pairs(kept, self.standing, jaccard_threshold=0.0).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("jaccard") >= thr).cast("long")).alias("y"),
        ).collect()[0]
        with tr.span("text") as s_txt:
            drain(cleaned)
        with tr.span("pipeline.exec") as s_exec:
            drain(out)
        with tr.span("similarity") as s_sim:
            drain(self._ann())
        with tr.span("job") as s_job:
            res = self.run(i)
        n_q = len(self.q_ids)
        found = res.quality["ann_recall_at_k"] * n_q * self.truth["ann_k"]
        return res, {
            "pipeline.plan_s": s_plan.seconds,
            "pipeline.exec_s": s_exec.seconds,
            "versioning.exec_s": s_ver.seconds,
            "dedup.exec_s": s_dd.seconds - s_ver.seconds,
            "text.exec_s": s_txt.seconds - s_dd.seconds,
            "chunking.exec_s": s_exec.seconds - s_txt.seconds,
            "dedup.candidate_pairs": c.n,
            "dedup.pair_yield": (c.y or 0) / c.n if c.n else 0.0,
            "similarity.exec_s": s_sim.seconds,
            "similarity.candidates_per_query": self.candidates / n_q,
            "similarity.candidate_yield": found / self.candidates,
            "@job": s_job.group,
        }


WORKLOADS = {w.name: w for w in (LogScan, LogIngest, CorpusDedup)}
