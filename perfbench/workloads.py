"""The benchmark's workloads: inputs, one op, and the checks on its output.

Each workload generates its inputs from the seed, then runs one op at a
time (closed loop). ``op`` returns what the op processed and landed, plus
a list of failed output checks; an empty list means the output matched
the generator's ledger.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Optional

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
from spans import ROOT_SPAN, Tracer, patched

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(HERE, "mapping_config.xml")
OPERATORS_TABLE = "Production.Operators"
NEAR_DUP_RECALL_FLOOR = 0.95
STREAM_FILES_PER_TRIGGER = 2


@dataclass
class OpResult:
    op_s: float  # wall time of the program's work, checks excluded
    rows: int
    sink_bytes: int
    sink_files: int
    failures: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # traced-op counts


def landed(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files a sink wrote under ``path``."""
    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


def expect(failures: list[str], what: str, got, want) -> None:
    if got != want:
        failures.append(f"{what}: got {got!r}, want {want!r}")


class EtlWorkload:
    """``run_etl_pipeline`` over a glob of generated production CSVs, with
    the extension rules on, an operator dimension, and the config's
    archive step (the archived files are moved back after each op).

    ``drain_stream`` runs the same inbox through the streaming front-end
    instead; the traced run does it once."""

    def __init__(self, scale: float, *, n_files: int, rows_per_file: int, **defects):
        self.n_files = n_files
        self.rows_per_file = max(20, int(rows_per_file * scale))
        self.defects = defects
        self.dim_keys = 2000

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.inbox = os.path.join(work, "inbox")
        self.archive = os.path.join(work, "archive")
        self.ledger = gen.gen_production(
            self.inbox, seed, n_files=self.n_files, rows_per_file=self.rows_per_file,
            dim_keys=self.dim_keys, **self.defects,
        )
        self.input_bytes = self.ledger.input_bytes

    def setup(self, spark) -> None:
        from manufacturing_data_integration_tool_spark import load_config

        load_config(CONFIG)
        keys = [(k,) for k in gen.operator_dim(self.dim_keys)]
        self.dims = {OPERATORS_TABLE: spark.createDataFrame(keys, "operator_id string")}

    def validate_plan(self, spark):
        """The op's validation, unexecuted (for counting plan exchanges)."""
        from manufacturing_data_integration_tool_spark import load_config
        from manufacturing_data_integration_tool_spark.plans.validator import validate
        from manufacturing_data_integration_tool_spark.sources.readers import read_source_csv

        cfg = load_config(CONFIG)
        df = read_source_csv(spark, os.path.join(self.inbox, "*.csv"), cfg)
        return validate(df, cfg, extensions=True, dim_tables=self.dims).annotated

    def _run(self, spark, out: str):
        from manufacturing_data_integration_tool_spark.pipeline import run_etl_pipeline

        return run_etl_pipeline(
            spark,
            os.path.join(self.inbox, "*.csv"),
            CONFIG,
            output_dir=out,
            extensions=True,
            dim_tables=self.dims,
            archive_dir=self.archive,
        )

    def op(self, spark, i: int, tracer: Optional[Tracer] = None) -> OpResult:
        out = os.path.join(self.work, f"out{i}")
        try:
            t = time.perf_counter()
            if tracer is None:
                report = self._run(spark, out)
            else:
                report = self._traced(spark, out, tracer)
            op_s = time.perf_counter() - t
            return self._check(report, out, op_s)
        finally:
            if tracer is not None:
                tracer.release()
            shutil.rmtree(out, ignore_errors=True)
            self._restore()

    def _traced(self, spark, out: str, tr: Tracer):
        from manufacturing_data_integration_tool_spark import pipeline
        from manufacturing_data_integration_tool_spark.plans import dataset_rules

        def validator(fn):
            def wrapper(df, *args, **kwargs):
                with tr.span("validator"):
                    res = fn(df, *args, **kwargs)
                    if not tr.is_materialized(res.annotated):
                        with tr.span("validator.row_rules"):
                            tr.materialize(res.annotated)
                    return res

            return wrapper

        def sample_cache(span):
            span.extra["cache_bytes"] = tr.cached_bytes()

        rules = {
            "duplicate_check": "dataset_rules.duplicate",
            "unique_within_day": "dataset_rules.unique_daily",
            "zscore_outlier_check": "dataset_rules.zscore",
            "referential_check": "dataset_rules.referential",
        }
        with contextlib.ExitStack() as stack:
            stack.enter_context(patched(pipeline, "load_config", lambda f: tr.timed("config", f)))
            stack.enter_context(patched(pipeline, "read_source_csv", lambda f: tr.forced("readers", f)))
            stack.enter_context(patched(pipeline, "validate", validator))
            for attr, name in rules.items():
                stack.enter_context(patched(
                    dataset_rules, attr,
                    lambda f, name=name: tr.forced(name, f, input_span="validator.row_rules"),
                ))
            stack.enter_context(patched(
                pipeline, "write_valid", lambda f: tr.timed("sinks.valid", f, before=sample_cache)))
            stack.enter_context(patched(pipeline, "write_errors", lambda f: tr.timed("sinks.errors", f)))
            stack.enter_context(patched(pipeline, "archive_file", lambda f: tr.timed("archive", f)))
            with tr.span(ROOT_SPAN), tr.span("pipeline"):
                report = self._run(spark, out)
        return report

    def _check(self, report, out: str, op_s: float) -> OpResult:
        L = self.ledger
        fails: list[str] = []
        expect(fails, "total_records", report.total_records, L.total)
        expect(fails, "valid_records", report.valid_records, L.valid)
        expect(fails, "invalid_records", report.invalid_records, L.invalid)
        expect(fails, "rows_inserted", report.rows_inserted, L.valid)
        expect(fails, "errors_logged", report.errors_logged, L.errors)
        expect(fails, "archived files", len(report.archived), len(L.files))
        return self._check_landed(fails, out, L, op_s)

    def _check_landed(self, fails: list[str], out: str, L: gen.EtlLedger, op_s: float) -> OpResult:
        """The sinks hold the ledger's valid rows and errors, and every
        input file left the inbox."""
        quality = os.path.join(out, "quality_data")
        errors = os.path.join(out, "validation_errors")
        expect(fails, "landed valid rows", pads.dataset(quality).count_rows(), L.valid)
        err_types = pads.dataset(errors).to_table(columns=["ErrorType"]).column("ErrorType")
        expect(fails, "landed error rows", len(err_types), L.errors)
        expect(fails, "error types", dict(sorted(Counter(err_types.to_pylist()).items())), L.error_types)
        expect(fails, "files left in inbox", len(os.listdir(self.inbox)), 0)
        files_q, bytes_q = landed(quality)
        files_e, bytes_e = landed(errors)
        return OpResult(op_s=op_s, rows=L.total, sink_bytes=bytes_q + bytes_e,
                        sink_files=files_q + files_e, failures=fails)

    def drain_stream(self, spark, i: int, tr: Tracer) -> OpResult:
        """Drain the inbox once with ``start_file_stream`` (available-now
        trigger, archive on, a fresh checkpoint), in one ``stream`` span.
        Its micro-batches validate without the extension rules, so they
        are checked against the ledger's ``base`` counts."""
        from manufacturing_data_integration_tool_spark import load_config
        from manufacturing_data_integration_tool_spark.streaming.file_pipeline import start_file_stream

        cfg = load_config(CONFIG)
        out = os.path.join(self.work, f"out{i}")
        checkpoint = os.path.join(self.work, f"checkpoint{i}")
        try:
            t = time.perf_counter()
            with tr.span("stream") as span:
                query = start_file_stream(
                    spark, self.inbox, cfg, out, checkpoint_dir=checkpoint, archive_dir=self.archive,
                    available_now=True, max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
                )
                span.group = str(query.runId)  # the query runs its jobs in a group named by its run id
                query.awaitTermination()
            op_s = time.perf_counter() - t
            batches = [p for p in query.recentProgress if p.numInputRows > 0]
            L = self.ledger.base
            fails: list[str] = []
            expect(fails, "rows over all micro-batches", sum(p.numInputRows for p in batches), L.total)
            expect(fails, "micro-batches", len(batches), -(-len(L.files) // STREAM_FILES_PER_TRIGGER))
            expect(fails, "archived files", len(glob.glob(os.path.join(self.archive, "*.csv"))), len(L.files))
            res = self._check_landed(fails, out, L, op_s)
            res.layer = {
                "stream.batches": len(batches),
                "stream.plan_s_p50": statistics.median(p.durationMs["queryPlanning"] for p in batches) / 1e3,
                "stream.add_batch_s_p50": statistics.median(p.durationMs["addBatch"] for p in batches) / 1e3,
                "stream.rows_per_batch": statistics.median(p.numInputRows for p in batches),
            }
            return res
        finally:
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(checkpoint, ignore_errors=True)
            self._restore()

    def _restore(self) -> None:
        """Move archived files back into the inbox for the next op. The
        archive names them ``<YYYYmmdd_HHMMSS>_<name>``."""
        for dest in glob.glob(os.path.join(self.archive, "*.csv")):
            name = os.path.basename(dest).split("_", 2)[2]
            os.rename(dest, os.path.join(self.inbox, name))


class CorpusWorkload:
    """Batch corpus hygiene: ingest (normalize, gate, exact dedup), banded
    MinHash candidates, connected-component clusters, survivors landed."""

    def __init__(self, scale: float, *, n_docs: int):
        self.n_docs = max(200, int(n_docs * scale))
        self.survivor_hash: Optional[str] = None

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.docs_dir = os.path.join(work, "docs")
        os.makedirs(self.docs_dir)
        rows, self.ledger = gen.gen_corpus(seed, n_docs=self.n_docs)
        cols = list(zip(*rows))
        table = pa.table({
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "ingest_ts": pa.array(cols[3], pa.timestamp("us", tz="UTC")),
        })
        n_files = 8
        step = -(-len(rows) // n_files)
        for k in range(n_files):
            pq.write_table(table.slice(k * step, step), os.path.join(self.docs_dir, f"part-{k:03d}.parquet"))
        self.input_bytes = landed(self.docs_dir)[1]
        copies = set(self.ledger.exact_dup_ids) | {b for _, b in self.ledger.near_dup_pairs}
        self.originals = set(range(self.ledger.n_docs)) - copies

    def setup(self, spark) -> None:
        pass

    def op(self, spark, i: int, tracer: Optional[Tracer] = None) -> OpResult:
        from manufacturing_data_integration_tool_spark.ops import dedup
        from manufacturing_data_integration_tool_spark.ops.graph import dedup_clusters
        from manufacturing_data_integration_tool_spark.sources.sinks import write_valid
        from manufacturing_data_integration_tool_spark.streaming.corpus_pipeline import (
            corpus_ingest_transform,
        )

        out = os.path.join(self.work, f"out{i}")
        try:
            t = time.perf_counter()
            if tracer is None:
                docs = spark.read.parquet(self.docs_dir)
                ing = corpus_ingest_transform(docs).persist()
                pairs = dedup.minhash_candidates(ing, "doc_id", "text_norm")
                clusters = dedup_clusters(ing.select("doc_id"), pairs, "doc_id", src="doc_a", dst="doc_b")
                survivors = ing.join(clusters.filter("is_survivor").select("doc_id"), "doc_id")
                written = write_valid(survivors, out)
                ing.unpersist()
                return self._check(written, out, time.perf_counter() - t)
            tr = tracer
            with patched(dedup, "minhash_signatures", lambda f: tr.forced("ops.dedup.minhash", f)):
                # the input scan runs in the ingest span and the survivor
                # join in the sink's, as their jobs do in the untraced op
                with tr.span(ROOT_SPAN):
                    ing = tr.forced("ops.text.ingest", lambda path: corpus_ingest_transform(
                        spark.read.parquet(path)), pin=True)(self.docs_dir)
                    pairs = tr.forced("ops.dedup.candidates", dedup.minhash_candidates, pin=True)(
                        ing, "doc_id", "text_norm")
                    clusters = tr.forced("ops.graph.clusters", dedup_clusters, pin=True)(
                        ing.select("doc_id"), pairs, "doc_id", src="doc_a", dst="doc_b")
                    written = tr.timed("sinks.valid", lambda: write_valid(
                        ing.join(clusters.filter("is_survivor").select("doc_id"), "doc_id"), out))()
            res = self._check(written, out, time.perf_counter() - t)
            found = {(r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()}
            planted = self.ledger.near_dup_pairs
            res.layer = {
                "ops.dedup.candidate_pairs": len(found),
                "ops.dedup.planted_recall": sum(p in found for p in planted) / len(planted),
                "ops.graph.clusters": (
                    clusters.filter("NOT is_survivor").select("cluster_id").distinct().count()),
            }
            return res
        finally:
            shutil.rmtree(out, ignore_errors=True)
            if tracer is not None:
                tracer.release()

    def _check(self, written: int, out: str, op_s: float) -> OpResult:
        L = self.ledger
        fails: list[str] = []
        ids = set(pads.dataset(out).to_table(columns=["doc_id"]).column("doc_id").to_pylist())
        expect(fails, "landed survivors", len(ids), written)
        expect(fails, "exact duplicates surviving", len(ids.intersection(L.exact_dup_ids)), 0)
        expect(fails, "originals dropped", len(self.originals - ids), 0)
        near = [b for _, b in L.near_dup_pairs]
        recall = sum(b not in ids for b in near) / len(near)
        if recall < NEAR_DUP_RECALL_FLOOR:
            fails.append(f"near-dup recall {recall:.3f} below {NEAR_DUP_RECALL_FLOOR}")
        digest = hashlib.sha256(",".join(map(str, sorted(ids))).encode()).hexdigest()
        if self.survivor_hash is None:
            self.survivor_hash = digest
        expect(fails, "survivor set hash", digest, self.survivor_hash)
        files, nbytes = landed(out)
        return OpResult(op_s=op_s, rows=L.n_docs, sink_bytes=nbytes, sink_files=files, failures=fails)


def make(name: str, scale: float):
    """Workload ``name`` at ``scale`` times its standard input size."""
    if name == "etl_dirty_ext":
        return EtlWorkload(scale, n_files=8, rows_per_file=8_000, invalid_frac=0.30,
                           multi_error_frac=0.3, dup_frac=0.03, unknown_operator_frac=0.02)
    if name == "corpus_dedup":
        return CorpusWorkload(scale, n_docs=5_000)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("etl_dirty_ext", "corpus_dedup")
