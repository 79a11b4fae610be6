"""The benchmark's workloads.

Each workload owns its inputs under a scratch directory and runs one
iteration per ``iterate`` call. The caller runs ``check`` after every
iteration and ``settle`` once the session has stopped, both outside every
timed region; each returns the failed operations.

- ``diary_etl`` is the paper's whole program through its CLI entry point:
  ingest, lattice, densify, EWMA, rolling strain, warehouse write and the
  weekly and monthly rollups. Its only Arrow crossing is the per-cell
  EWMA, so codec and Python-kernel changes should not move it.
- ``llm_curation`` is one pass of three curation entries of the query
  registry whose time goes to Python kernels behind the Arrow crossing
  (codecs, md5 LSH, tokenizer training).
"""

from __future__ import annotations

import contextlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

import training_datawarehouse_spark.__main__ as cli
from training_datawarehouse_spark import pipeline
from training_datawarehouse_spark.canon import dtype_drift
from training_datawarehouse_spark.operators import multimodal
from training_datawarehouse_spark.plans import QUERIES
from training_datawarehouse_spark.sources.tables import load_table

import inputs
import oracle

CELL_KEYS = pipeline.CELL_KEYS


class DiaryEtl:
    name = "diary_etl"
    ops_per_iteration = 1

    #: Span name -> (module, function). ``pipeline`` imports
    #: ``read_diary`` into its own namespace, so that is where it is wrapped.
    SPANS = {
        "sources.read_diary": (pipeline, "read_diary"),
        "pipeline.build_lattice": (pipeline, "build_lattice"),
        "pipeline.interpolated_physiology": (pipeline, "interpolated_physiology"),
        "pipeline.run_e1_ingest": (pipeline, "run_e1_ingest"),
        "pipeline.run_e2_tsb": (pipeline, "run_e2_tsb"),
        "pipeline.run_e3_strain": (pipeline, "run_e3_strain"),
        "pipeline.run_e4_rollup": (pipeline, "run_e4_rollup"),
        "pipeline.write_warehouse": (pipeline, "write_warehouse"),
    }
    MEASURES = {
        "sources.read_diary": ("s", "jobs"),
        "pipeline.build_lattice": ("s", "shuffle_write_bytes"),
        "pipeline.interpolated_physiology": ("s", "jobs"),
        "pipeline.run_e1_ingest": ("s", "self_s", "shuffle_write_bytes"),
        "pipeline.run_e2_tsb": ("s", "py_run_s", "py_bytes_out", "py_bytes_in"),
        "pipeline.run_e3_strain": ("s", "shuffle_write_bytes"),
        "pipeline.run_e4_rollup": ("s",),
        "pipeline.write_warehouse": ("s", "files_written", "bytes_written"),
        "warehouse": ("stored_bytes",),
    }

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.seed = seed
        self.diary = work / "input" / "diary.json"
        self.out = work / "warehouse"
        self.first_digest = None

    def prepare(self) -> None:
        self.diary.parent.mkdir(parents=True, exist_ok=True)
        doc = inputs.write_diary(self.diary, self.seed)
        self.workout_tss = sum(
            w["tss"] for day in doc["days"] for w in day.get("workouts", [])
        )

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def iterate(self, tracer=None) -> None:
        # The CLI reports its stage times on stdout; the result line must
        # stay the last line there.
        with contextlib.redirect_stdout(sys.stderr):
            cli.main([str(self.diary), str(self.out)])

    def instrument(self, tracer) -> None:
        def count_files(span, args, kwargs):
            path = Path(kwargs.get("path") or args[1])
            span.counts["files_written"] = float(len(list(path.rglob("*.parquet"))))

        for name, (module, attr) in self.SPANS.items():
            tracer.wrap(module, attr, name,
                        after=count_files if attr == "write_warehouse" else None)

    def stored_bytes(self) -> float:
        return float(sum(p.stat().st_size for p in self.out.rglob("*") if p.is_file()))

    def collect_payloads(self) -> None:
        """No kernels are timed on their own here."""

    def run_kernels(self, tracer) -> None:
        """No kernels are timed on their own here."""

    def settle(self) -> int:
        """Every check ran in ``check``."""
        return 0

    def check(self) -> set[str]:
        """The tests/test_pipeline.py invariants on the written warehouse,
        plus a rounded digest of the facts that must not change between
        iterations. Returns the failed operations."""
        spark = self.spark
        facts = spark.read.parquet(str(self.out / "facts"))
        all_cell = ((F.col("activity") == "All") & (F.col("activity_type") == "All")
                    & (F.col("equipment") == "All"))
        rounded = [
            F.round(f.name, 6) if isinstance(f.dataType, (T.DoubleType, T.FloatType))
            else F.col(f.name)
            for f in sorted(facts.schema.fields, key=lambda f: f.name)
        ]
        r = facts.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("date").alias("dates"),
            F.countDistinct(*CELL_KEYS).alias("cells"),
            F.countDistinct("date", *CELL_KEYS).alias("keys"),
            F.sum(F.when(F.abs(F.col("tsb") - (F.col("ctl") - F.col("atl"))) > 1e-9, 1)
                  .otherwise(0)).alias("bad_tsb"),
            F.sum(F.when(all_cell, F.col("tss"))).alias("all_tss"),
            F.countDistinct("year_week").alias("weeks"),
            F.countDistinct("year_month").alias("months"),
            F.bit_xor(F.xxhash64(*rounded)).alias("digest"),
        ).first()
        weekly = spark.read.parquet(str(self.out / "weekly")).count()
        monthly = spark.read.parquet(str(self.out / "monthly")).count()

        problems = []
        if r["dates"] != inputs.DIARY_DAYS or r["rows"] != r["cells"] * r["dates"]:
            problems.append(f"{r['rows']} rows for {r['cells']} cells x {r['dates']} dates")
        if r["keys"] != r["rows"]:
            problems.append(f"{r['rows'] - r['keys']} duplicate (date, cell) keys")
        if r["bad_tsb"]:
            problems.append(f"{r['bad_tsb']} rows break tsb = ctl - atl")
        if r["all_tss"] != self.workout_tss:
            problems.append(f"All-cell tss {r['all_tss']} != input {self.workout_tss}")
        if weekly != r["cells"] * r["weeks"] or monthly != r["cells"] * r["months"]:
            problems.append(f"rollup rows weekly={weekly} monthly={monthly}")
        if self.first_digest is None:
            self.first_digest = r["digest"]
        elif r["digest"] != self.first_digest:
            problems.append("facts digest changed between iterations")
        for p in problems:
            print(f"check failed: {self.name}: {p}", file=sys.stderr)
        return {self.name} if problems else set()


class LlmCuration:
    name = "llm_curation"
    ENTRIES = ("ns_multimodal_meta", "ns_dedup_lsh_cross_modal", "ns_text_profile")
    ops_per_iteration = len(ENTRIES)
    KERNELS = {
        "png": (multimodal.synthesize_png_payload, multimodal.png_decode_meta),
        "jpeg": (multimodal.synthesize_jpeg_payload, multimodal.jpeg_decode_meta),
        "webp": (multimodal.synthesize_webp_payload, multimodal.webp_decode_meta),
        "wav": (multimodal.synthesize_wav_payload, multimodal.wav_decode_meta),
    }
    MEASURES = {
        **{f"plans.{e}": ("s", "jobs", "py_run_s", "py_bytes_out", "py_bytes_in",
                          "spill_bytes", "gc_s") for e in ENTRIES},
        **{f"kernel.{k}_decode_meta": ("s",) for k in KERNELS},
    }

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.seed = seed
        self.sf_dir = work / "sf"
        self.results: dict = {}
        self.seen: list[tuple] = []
        self.payloads: dict[str, list[bytes]] = {}

    def prepare(self) -> None:
        inputs.write_curation_tables(self.sf_dir, self.seed)

    def reset(self) -> None:
        self.results = {}

    def iterate(self, tracer=None) -> None:
        for name in self.ENTRIES:
            with tracer.span(f"plans.{name}") if tracer else contextlib.nullcontext():
                sdf = QUERIES[name].builder(self.spark, str(self.sf_dir))
                self.results[name] = (sdf, sdf.toPandas())

    def instrument(self, tracer) -> None:
        """The entries are spanned in ``iterate``."""

    def stored_bytes(self) -> float:
        return 0.0

    def collect_payloads(self) -> None:
        docs = load_table(self.spark, str(self.sf_dir), "documents")
        for codec, (synthesize, _) in self.KERNELS.items():
            rows = synthesize(docs, "doc_id", "text").select("payload").collect()
            self.payloads[codec] = [bytes(r.payload) for r in rows]

    def run_kernels(self, tracer) -> None:
        """Each public decoder, single-threaded in this process, over the
        payloads ``collect_payloads`` gathered."""
        for codec, (_, decode) in self.KERNELS.items():
            with tracer.span(f"kernel.{codec}_decode_meta"):
                for p in self.payloads[codec]:
                    decode(p)

    def check(self) -> set[str]:
        """Digest each entry's result under ``canon``; ``settle``
        compares the digests with the DuckDB oracle's."""
        for name in self.ENTRIES:
            sdf, pdf = self.results[name]
            fields = [(f.name, f.dataType.simpleString()) for f in sdf.schema.fields]
            self.seen.append((name, fields, oracle.digest(pdf)))
        return set()

    def settle(self) -> int:
        """Failed operations: entry results that differ from the oracle's,
        or whose integral column types disagree with it. The oracle runs
        once per entry, in a process of its own, after the session stops."""
        queries = {name: QUERIES[name].oracle for name in self.ENTRIES}
        proc = subprocess.run(
            [sys.executable, oracle.__file__, str(self.sf_dir)], input=json.dumps(queries),
            capture_output=True, text=True, timeout=120, check=True)
        want = json.loads(proc.stdout.splitlines()[-1])
        failed = 0
        for name, fields, got in self.seen:
            drift = dtype_drift(fields, want[name]["types"])
            if drift or got != want[name]["digest"]:
                failed += 1
                print(f"check failed: {name}: drift={drift} spark={got[:2]} "
                      f"oracle={want[name]['digest'][:2]}", file=sys.stderr)
        return failed


WORKLOADS = {w.name: w for w in (DiaryEtl, LlmCuration)}

#: Measures of the whole traced iteration, reported on every workload.
WORKLOAD_MEASURES = (
    "jobs", "tasks", "exec_cpu_s", "gc_s", "driver_s", "py_run_s",
    "py_run_share", "unattributed_share", "trace_overhead_s",
)

UNITS = {"jobs": "count", "tasks": "count", "files_written": "count",
         "py_run_share": "ratio", "unattributed_share": "ratio"}


def unit(measure: str) -> str:
    if measure in UNITS:
        return UNITS[measure]
    return "bytes" if "bytes" in measure else "s"


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, on every workload.
    A workload reports 0 for the spans of the other workloads."""
    out = [(f"workload.{m}", unit(m)) for m in WORKLOAD_MEASURES]
    for w in WORKLOADS.values():
        for span, measures in w.MEASURES.items():
            out += [(f"{span}.{m}", unit(m)) for m in measures]
    return out

