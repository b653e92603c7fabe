"""The three workloads: what one pass does, and how its outputs are checked.

Each workload is one client in a closed loop: the next pass (or request)
starts when the previous one has finished. A workload

* ``prepare``s its inputs for a seed (generated once and cached; not
  part of set-up time) and the oracle for them, before Spark starts;
* ``load``s them into a fresh session (part of set-up time);
* runs one ``run_pass``, optionally under a ``Tracer``, and checks every
  output of the pass against the oracle.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import inputs, stats
from perfbench.tracing import Tracer


@dataclass
class PassResult:
    seconds: float
    cpu_s: float  # CPU seconds of the driver, the JVM and its workers
    rows: int
    groups: list[str]  # Spark job groups the pass ran its jobs under
    requests: list[float] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    # CPU seconds the hypervisor took from the machine during the pass:
    # other guests' load, which slows wall time but not CPU time
    steal_s: float = 0.0


def _expect(errors: list, what: str, got, want) -> None:
    if got != want:
        errors.append(f"{what}: got {got}, expected {want}")


def _force(observed, obs: Observation) -> dict:
    """Run ``observed`` to completion through the noop sink and return
    the aggregates ``obs`` saw in the same job (absent sums read 0)."""
    observed.write.format("noop").mode("overwrite").save()
    return {k: (v or 0) for k, v in obs.get.items()}


# aggregates observed on each sink; functions, because making a Column
# needs the running JVM
def _count():
    return [F.count(F.lit(1)).alias("n")]


def _flag_totals():
    return [F.sum(c).alias(c) for c in ("n_rows", "n_valid", "n_invalid")]


def _by_keyword(keywords):
    exprs = [F.sum(F.when(F.col("keyword") == k, 1).otherwise(0)).alias(k) for k in keywords]
    return exprs + [F.count(F.lit(1)).alias("n")]


def _stats_totals():
    return [
        F.max("n_rows").alias("n_rows"),
        F.sum(F.when(F.col("column_name") == "transcript", F.col("n_nulls"))).alias("transcript_nulls"),
    ]


def _hist_totals():
    return [F.sum("count").alias("n")]


class ClipsAudio:
    """``run_validation`` with audio, transcripts and a drift baseline over
    the seed's block of audio clips; every output runs through a noop sink."""

    name = "clips_audio"
    ROWS = 5_000
    MAX_DUR_MS = 1500
    # a pass costs ~9 s on 4 cores; two measured passes keep a run short
    WARM_MIN_PASSES = 1
    MIN_PASSES = 2

    # (sink, layer it is timed into, output key, observed aggregates)
    SINKS = (
        ("flag", "output.flag", "flag", _flag_totals),
        ("violations", "output.violations", "violations", lambda: _by_keyword(inputs.ROW_KEYWORDS)),
        ("stats", "table_checks.stats", "stats", _stats_totals),
        ("histograms", "table_checks.histograms", "categorical_histograms", _hist_totals),
        ("duplicates", "table_checks.duplicates", "duplicates", _count),
        ("speaking_rate", "table_checks.speaking_rate", "speaking_rate", _count),
        ("audio_flag", "audio.exec", "audio_flag", _flag_totals),
        ("audio_violations", "output.violations", "audio_violations", lambda: _by_keyword(inputs.AUDIO_KEYWORDS)),
        ("missing", "table_checks.transcript_checks", "missing_transcripts", _count),
        ("orphans", "table_checks.transcript_checks", "orphan_transcripts", _count),
        ("mismatches", "table_checks.transcript_checks", "transcript_mismatches", _count),
    )

    def prepare(self, cache_dir: str, work_dir: str, seed: int, workers: int) -> dict:
        meta = inputs.clips_inputs(cache_dir, seed, self.ROWS, True, self.MAX_DUR_MS, workers)
        self.paths = meta
        self.oracle = inputs.clips_oracle(meta["offset"], self.ROWS, audio=True)
        return meta

    def load(self, spark) -> None:
        from jschon_spark import fixtures

        self.clips = spark.read.parquet(self.paths["clips"])
        self.transcripts = spark.read.parquet(self.paths["transcripts"])
        self.baseline = fixtures.baseline_snapshot()

    def source(self) -> str:
        return self.paths["clips"]

    def run_pass(self, spark, group: str, tracer: Optional[Tracer] = None) -> PassResult:
        from jschon_spark import pipeline
        from jschon_spark.compiler import CompiledSchema
        from jschon_spark.operators import table_checks

        sc = spark.sparkContext
        if tracer:
            tracer.wrap(pipeline, "compile_schema", "compiler.compile")
            tracer.wrap(CompiledSchema, "validate", "compiler.build", count_py4j=True)
            tracer.wrap(table_checks, "drift_check_distributed", "table_checks.drift")
        span = tracer.span if tracer else lambda *a, **k: contextlib.nullcontext()
        try:
            start = stats.clock()
            sc.setJobGroup(f"{group}/build", "run_validation")
            with span("pipeline.build", count_py4j=True):
                out = pipeline.run_validation(
                    spark, self.clips, transcripts=self.transcripts, baseline=self.baseline, audio=True
                )
            got = {}
            for sink, layer, key, exprs in self.SINKS:
                sc.setJobGroup(f"{group}/{sink}", sink)
                obs = Observation()
                observed = out[key].observe(obs, *exprs())
                if tracer:
                    tracer.catalyst(observed)  # the DataFrame the sink writes
                with span(layer):
                    got[sink] = _force(observed, obs)
            out["audio"].unpersist()
            out["transcript_checks"].unpersist()
            seconds, cpu_s = stats.since(start)
        finally:
            if tracer:
                tracer.unwrap()
        if tracer:
            # drift runs eagerly inside run_validation; keep build apart from it
            tracer.add("pipeline.build_s", -tracer.values["table_checks.drift_s"])
            tracer.add("output.violation_rows", got["violations"]["n"] + got["audio_violations"]["n"])
        groups = [f"{group}/build"] + [f"{group}/{sink[0]}" for sink in self.SINKS]
        return PassResult(seconds, cpu_s, self.ROWS, groups, errors=self.check(got, out["drift"]))

    def check(self, got: dict, drift: dict) -> list[str]:
        o, errors = self.oracle, []
        _expect(errors, "flag n_rows", got["flag"]["n_rows"], o["n_rows"])
        _expect(errors, "flag n_invalid", got["flag"]["n_invalid"], o["n_invalid"])
        for k in inputs.ROW_KEYWORDS:
            _expect(errors, f"violations[{k}]", got["violations"][k], o["keywords"][k])
        _expect(errors, "violation rows", got["violations"]["n"], sum(o["keywords"].values()))
        _expect(errors, "stats n_rows", got["stats"]["n_rows"], o["n_rows"])
        _expect(errors, "stats transcript nulls", got["stats"]["transcript_nulls"], o["n_null_transcripts"])
        _expect(errors, "histogram total", got["histograms"]["n"], 2 * o["n_rows"])
        _expect(errors, "duplicate keys", got["duplicates"]["n"], o["duplicates"])
        _expect(errors, "audio_flag n_rows", got["audio_flag"]["n_rows"], o["n_rows"])
        _expect(errors, "audio_flag n_invalid", got["audio_flag"]["n_invalid"], o["audio_invalid"])
        for k in inputs.AUDIO_KEYWORDS:
            _expect(errors, f"audio_violations[{k}]", got["audio_violations"][k], o["audio_keywords"][k])
        _expect(errors, "missing transcripts", got["missing"]["n"], o["missing_transcripts"])
        _expect(errors, "orphan transcripts", got["orphans"]["n"], o["orphan_transcripts"])
        _expect(errors, "transcript mismatches", got["mismatches"]["n"], o["transcript_mismatches"])
        if not (0.0 <= drift["ks_dur"] <= 1.0 and drift["psi_sr"] >= 0.0):
            errors.append(f"drift statistics out of range: {drift}")
        return errors


class ValidateMany:
    """Compile ``ORDERS_SCHEMA`` and ``CUSTOMER_SCHEMA`` once, then issue
    ``validate()`` requests alternating between them over cached tables.
    A request is ``validate()`` plus forcing its ``valid``/``violations``
    columns; a pass is one request per schema."""

    name = "validate_many"
    # passes still drop by a fifth from the second to the third
    WARM_MIN_PASSES = 3
    MIN_PASSES = 3

    def prepare(self, cache_dir: str, work_dir: str, seed: int, workers: int) -> dict:
        meta = inputs.tpch_inputs(cache_dir, seed)
        self.paths = meta
        self.oracle = meta["oracle"]
        return meta

    def load(self, spark) -> None:
        import __spark_entry__ as entry
        from jschon_spark.compiler import compile_schema

        self.requests = []
        self.compile_s = []
        for name, schema, cols in (
            ("orders", entry.ORDERS_SCHEMA, entry._ORDERS_COLS),
            ("customer", entry.CUSTOMER_SCHEMA, ["c_acctbal", "c_mktsegment", "c_nationkey"]),
        ):
            df = spark.read.parquet(self.paths[name]).cache()
            df.count()
            t0 = time.perf_counter()
            compiled = compile_schema(schema)
            self.compile_s.append(time.perf_counter() - t0)
            self.requests.append((name, compiled, df, cols))
        self.rows = inputs.ORDERS_ROWS + inputs.CUSTOMER_ROWS

    def source(self) -> str:
        return self.paths["orders"]

    def run_pass(self, spark, group: str, tracer: Optional[Tracer] = None) -> PassResult:
        sc = spark.sparkContext
        span = tracer.span if tracer else lambda *a, **k: contextlib.nullcontext()
        latencies, cpu_s, errors = [], 0.0, []
        if tracer:
            tracer.add("compiler.compile_s", sum(self.compile_s))
        for name, compiled, df, cols in self.requests:
            sc.setJobGroup(f"{group}/{name}", name)
            start = stats.clock()
            with span("compiler.build", count_py4j=True):
                v = compiled.validate(df, instance_columns=cols)
            verdicts = v.agg(
                F.sum(F.col("valid").cast("long")).alias("n_valid"),
                F.sum((~F.col("valid")).cast("long")).alias("n_invalid"),
                F.sum(F.size("violations")).alias("n_violations"),
            )
            if tracer:
                tracer.catalyst(verdicts)
            row = verdicts.collect()[0]
            wall, cpu = stats.since(start)
            latencies.append(wall)
            cpu_s += cpu
            if tracer:
                tracer.add("output.violation_rows", row["n_violations"])
            for k, want in self.oracle[name].items():
                _expect(errors, f"{name} {k}", row[k], want)
        groups = [f"{group}/{name}" for name, *_ in self.requests]
        return PassResult(sum(latencies), cpu_s, self.rows, groups, requests=latencies, errors=errors)


class ClipsResume:
    """``jobs/validate_clips.main --no-audio --manifest`` over a
    metadata-only clips table. Every pass starts from a fresh copy of a
    manifest that has the first half of the partitions committed."""

    name = "clips_resume"
    ROWS = 50_000
    # the first pass after the cold one can still be 20-60% slower than
    # the next; the median of three measured passes leaves it out
    WARM_MIN_PASSES = 1
    MIN_PASSES = 3
    COMMITTED = tuple(range(8))
    PENDING = tuple(range(8, 16))

    # output directory written by the job -> layer its write is timed into
    WRITE_LAYERS = {
        "violations": "output.violations",
        "flag": "output.flag",
        "column_stats": "table_checks.stats",
        "duplicate_clip_ids": "table_checks.duplicates",
        "missing_transcripts": "table_checks.transcript_checks",
        "orphan_transcripts": "table_checks.transcript_checks",
        "transcript_mismatches": "table_checks.transcript_checks",
    }

    def prepare(self, cache_dir: str, work_dir: str, seed: int, workers: int) -> dict:
        meta = inputs.clips_inputs(cache_dir, seed, self.ROWS, False, 4000, workers)
        self.paths = meta
        self.oracle = inputs.clips_oracle(meta["offset"], self.ROWS, pending_parts=self.PENDING, audio=False)
        self.work_dir = os.path.join(work_dir, "resume")
        self.template = os.path.join(self.work_dir, "manifest-template")
        self._write_template(meta["clips"])
        return meta

    def _write_template(self, clips_path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = len(self.COMMITTED)
        table = pa.table(
            {
                "part_id": pa.array(self.COMMITTED, pa.int32()),
                "run_id": pa.array(["seed-run"] * n),
                "completed_at": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
                "n_rows": pa.array([0] * n, pa.int64()),
                "n_valid": pa.array([0] * n, pa.int64()),
                "n_invalid": pa.array([0] * n, pa.int64()),
                "partition_valid": pa.array([True] * n),
                "source_path": pa.array([clips_path] * n),
            }
        )
        os.makedirs(self.template, exist_ok=True)
        pq.write_table(table, os.path.join(self.template, "part-00000.parquet"))

    def load(self, spark) -> None:
        # the job takes paths and reads them again in every pass; set-up
        # opens the same inputs, as clips_audio's does
        self.job = importlib.import_module("jobs.validate_clips")
        spark.read.parquet(self.paths["clips"])
        spark.read.parquet(self.paths["transcripts"])

    def source(self) -> str:
        return self.paths["clips"]

    def _trace_writes(self, tracer: Tracer) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        layers = self.WRITE_LAYERS

        def make(original):
            def parquet(writer, path, *args, **kwargs):
                layer = layers.get(os.path.basename(path.rstrip("/")))
                if layer is None:
                    return original(writer, path, *args, **kwargs)
                tracer.catalyst(writer._df)
                with tracer.span(layer):
                    return original(writer, path, *args, **kwargs)

            return parquet

        tracer.patch(DataFrameWriter, "parquet", make)

    def run_pass(self, spark, group: str, tracer: Optional[Tracer] = None) -> PassResult:
        from jschon_spark import manifest, pipeline
        from jschon_spark.compiler import CompiledSchema

        pass_dir = os.path.join(self.work_dir, group)
        manifest_path = os.path.join(pass_dir, "manifest")
        out_path = os.path.join(pass_dir, "out")
        shutil.copytree(self.template, manifest_path)
        run_id = f"bench-{group}"
        argv = [
            "--clips", self.paths["clips"], "--transcripts", self.paths["transcripts"],
            "--out", out_path, "--manifest", manifest_path, "--no-audio", "--run-id", run_id,
        ]
        if tracer:
            tracer.wrap(pipeline, "run_validation", "pipeline.build", count_py4j=True)
            tracer.wrap(pipeline, "select_pending", "manifest.pending")
            tracer.wrap(manifest, "pending_partitions", "manifest.pending")
            tracer.wrap(manifest, "append_results", "manifest.append")
            tracer.wrap(pipeline, "compile_schema", "compiler.compile")
            tracer.wrap(CompiledSchema, "validate", "compiler.build", count_py4j=True)
            self._trace_writes(tracer)
        spark.sparkContext.setJobGroup(group, "validate_clips")
        try:
            start = stats.clock()
            # the job reports progress with print(); keep stdout for results
            with contextlib.redirect_stdout(sys.stderr):
                rc = self.job.main(argv)
            seconds, cpu_s = stats.since(start)
        finally:
            if tracer:
                tracer.unwrap()
        errors = [] if rc == 0 else [f"validate_clips exited with {rc}"]
        errors += self.check(out_path, manifest_path, run_id, tracer)
        shutil.rmtree(pass_dir)
        return PassResult(seconds, cpu_s, self.oracle["n_rows"], [group], errors=errors)

    def check(self, out_path: str, manifest_path: str, run_id: str, tracer: Optional[Tracer]) -> list[str]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        o, errors = self.oracle, []

        def read(name):
            return pq.read_table(os.path.join(out_path, name))

        flag = read("flag")
        _expect(errors, "flag n_rows", pc.sum(flag["n_rows"]).as_py(), o["n_rows"])
        _expect(errors, "flag n_invalid", pc.sum(flag["n_invalid"]).as_py(), o["n_invalid"])
        keywords = read("violations")["keyword"].to_pylist()
        for k in inputs.ROW_KEYWORDS:
            _expect(errors, f"violations[{k}]", keywords.count(k), o["keywords"][k])
        _expect(errors, "violation rows", len(keywords), sum(o["keywords"].values()))
        if tracer:
            tracer.add("output.violation_rows", len(keywords))
        stats = read("column_stats").to_pandas().set_index("column_name")
        _expect(errors, "stats transcript nulls", int(stats.loc["transcript", "n_nulls"]), o["n_null_transcripts"])
        _expect(errors, "duplicate keys", read("duplicate_clip_ids").num_rows, o["duplicates"])
        _expect(errors, "missing transcripts", read("missing_transcripts").num_rows, o["missing_transcripts"])
        _expect(errors, "orphan transcripts", read("orphan_transcripts").num_rows, o["orphan_transcripts"])
        _expect(errors, "transcript mismatches", read("transcript_mismatches").num_rows, o["transcript_mismatches"])
        committed = pq.read_table(manifest_path)
        new = sorted(p for p, r in zip(committed["part_id"].to_pylist(), committed["run_id"].to_pylist()) if r == run_id)
        _expect(errors, "partitions committed by the pass", new, list(self.PENDING))
        return errors


WORKLOADS = {w.name: w for w in (ClipsAudio, ValidateMany, ClipsResume)}
