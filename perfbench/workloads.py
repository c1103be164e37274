"""The benchmark workloads.

A workload is a closed loop with one client: a pass issues the
workload's operations one after another, each waiting for its output,
and ends when the last output is written.  A workload is made of legs
(device-bound extraction, checkpointed commit, status queries, curation
jobs) that run in sequence inside each pass and share the session, the
inputs and the warm-up.  ``check`` compares the outputs of every
measured pass with the repository's own oracles, outside the timed
region.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pero_ocr_api_spark import oracle
from pero_ocr_api_spark.compare import run_pair
from pero_ocr_api_spark.functions.cluster import REGISTRY as CLUSTER
from pero_ocr_api_spark.functions.curation import REGISTRY as CURATION
from pero_ocr_api_spark.functions.dedup import REGISTRY as DEDUP
from pero_ocr_api_spark.functions.similarity import REGISTRY as SIMILARITY
from pero_ocr_api_spark.functions.text import REGISTRY as TEXT
from pero_ocr_api_spark.operators.serialize import (
    serialize_alto,
    serialize_artifacts,
    serialize_txt,
)
from pero_ocr_api_spark.plans.checkpoint import CheckpointedExtractor
from pero_ocr_api_spark.plans.pipeline import extract
from pero_ocr_api_spark.queries.controlplane import REGISTRY as CONTROLPLANE
from pero_ocr_api_spark.queries.statemachine_q import REGISTRY as STATEMACHINE
from pero_ocr_api_spark.synth import interleaved_documents

import inputs

# The emulated device of bench.py's BENCH_ENGINE_CONFIG: 15 ms per
# single-page device call, micro-batched 16 pages / <= 40 MP per call.
DEVICE_ENGINE_CONFIG = {
    "engine": "stub-ocr", "version": 1,
    "work_iters": 2000, "work_sleep_ms": 15.0,
    "batch_pages": 16, "batch_megapixels": 40.0,
}
# the same plan shape at zero emulated cost, for the warm-up
WARM_ENGINE_CONFIG = {**DEVICE_ENGINE_CONFIG, "work_iters": 0, "work_sleep_ms": 0.0}

N_GROUPS = 4        # commit granularity of the checkpointed leg
WARMUP_GROUPS = 1   # every plan shape of a checkpointed run, once

STATUS_QUERIES = {
    **{n: CONTROLPLANE[n] for n in (
        "cp_a1_a3_request_status", "cp_p2_state_in_filter", "cp_a5_counts_24h",
        "cp_a7_median", "cp_w1_latest_per_group", "cp_j6_rank_fallback")},
    **{n: STATEMACHINE[n] for n in ("cp_sm_claim", "cp_sm_requeue")},
}
CURATION_JOBS = {
    "td_text_winnowing": TEXT["td_text_winnowing"],
    "td_decontam_winnow": CURATION["td_decontam_winnow"],
    "td_dedup_clusters": CLUSTER["td_dedup_clusters"],
    "td_dedup_minhash_lsh": DEDUP["td_dedup_minhash_lsh"],
    "td_sim_ivf_topk": SIMILARITY["td_sim_ivf_topk"],
}


@dataclass
class Op:
    """One operation: a call into the program and the output it wrote.
    Times are seconds from the start of the pass."""
    name: str
    start: float
    end: float
    error: str | None = None

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Pass:
    wall_s: float
    docs: int
    first_s: float           # first_commit_s of this pass
    ops: list[Op] = field(default_factory=list)
    latency_ops: list[Op] = field(default_factory=list)


@dataclass
class Inputs:
    dir: str
    rows: dict[str, int]
    interleaved: str = ""    # parquet of the interleaved documents table


def noop_sink(df) -> None:
    """Consume every column of every row without writing anything, so
    column pruning cannot skip work (unlike ``.count()``)."""
    df.write.format("noop").mode("overwrite").save()


class Leg:
    sizes: dict[str, int] = {}

    def __init__(self, ctx: "Workload"):
        self.ctx = ctx

    def warmup(self, work_dir: str) -> float:
        """Runs the leg once outside the measurement; returns the
        seconds that count as warm-up."""
        raise NotImplementedError

    def run(self, out_dir: str, t0: float) -> list[Op]:
        raise NotImplementedError

    def check(self) -> dict[str, str]:
        """{op name: first mismatch} over every measured run of the leg."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# query legs: registered (fn, oracle_sql) pairs sent to the noop sink
# --------------------------------------------------------------------------

class _QueryLeg(Leg):
    registry: dict[str, tuple] = {}
    layer = ""

    def __init__(self, ctx):
        super().__init__(ctx)
        self.problems: dict[str, str] = {}
        self.result_rows: dict[str, int] = {}
        self.order = sorted(self.registry)
        random.Random(ctx.seed).shuffle(self.order)

    def warmup(self, work_dir: str) -> float:
        """One round through ``compare.run_pair``, which is also the
        check: each query's result against its DuckDB twin, on the
        inputs every measured run reads (their results go to the noop
        sink).  Only the Spark side, the call and ``toPandas``, counts
        as warm-up time."""
        spark_s: list[float] = []
        for name in self.order:
            fn, sql = self.registry[name]
            result = _Timed(spark_s)

            def call(spark, sf, fn=fn, result=result):
                t = time.monotonic()
                result.df = fn(spark, sf)
                spark_s.append(time.monotonic() - t)
                return result

            problems = run_pair(self.ctx.spark, self.ctx.inputs.dir, call, sql)
            if problems:
                self.problems[name] = problems[0]
            self.result_rows[name] = result.rows
        return sum(spark_s)

    def run(self, out_dir: str, t0: float) -> list[Op]:
        tr, ops = self.ctx.tracer, []
        for name in self.order:
            start = time.monotonic() - t0
            error = None
            with tr.span(f"{self.layer}.{name}"):
                try:
                    # timed from the call: eager queries run Spark jobs
                    # while their plan is built
                    with tr.span(f"{self.layer}.plan"):
                        df = self.registry[name][0](self.ctx.spark, self.ctx.inputs.dir)
                    noop_sink(df)
                except Exception as e:  # noqa: BLE001 - counted as a failed op
                    error = f"{type(e).__name__}: {e}"
            ops.append(Op(name, start, time.monotonic() - t0, error))
        return ops

    def check(self) -> dict[str, str]:
        return self.problems


class _Timed:
    """Stands in for a query's DataFrame inside ``run_pair``: times its
    ``toPandas`` and keeps the result's row count."""

    def __init__(self, clock: list[float]):
        self.clock = clock
        self.df = None
        self.rows = 0

    def toPandas(self):
        t = time.monotonic()
        pdf = self.df.toPandas()
        self.clock.append(time.monotonic() - t)
        self.rows = len(pdf)
        return pdf


class StatusQueries(_QueryLeg):
    registry = STATUS_QUERIES
    layer = "status"
    sizes = {"orders": 15000, "events": 10000}


class CurationJobs(_QueryLeg):
    registry = CURATION_JOBS
    layer = "curation"
    sizes = {"documents": 80, "embeddings": 200}


# --------------------------------------------------------------------------
# extraction legs: the interleaved documents table
# --------------------------------------------------------------------------

class _ExtractionLeg(Leg):
    sizes = {"documents": 80}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.out_dirs: list[str] = []

    def documents(self):
        return self.ctx.spark.read.parquet(self.ctx.inputs.interleaved)


def _mismatch(want: dict, spans_path: str, docs_path: str) -> str | None:
    """First difference of one landed spans/docs output from
    ``oracle.extract_all``: span-sequence equality on (kind, text,
    media_ref, order) per doc, then score and status per doc."""
    got: dict[str, list] = {}
    for r in pq.read_table(spans_path).to_pylist():
        got.setdefault(r["doc_id"], []).append(
            (r["order"], r["kind"], r["text"], r["media_ref"]))
    for doc_id in sorted(set(want) | set(got)):
        if doc_id not in want or sorted(got.get(doc_id, [])) != want[doc_id].spans:
            return f"spans of {doc_id} differ from oracle.extract_all"
    docs = pq.read_table(docs_path).to_pylist()
    got_docs = {r["doc_id"]: (r["score"], r["status"]) for r in docs}
    if len(got_docs) != len(docs) or set(got_docs) != set(want):
        return f"docs: {len(docs)} rows for {len(want)} oracle docs"
    for doc_id, o in want.items():
        if got_docs[doc_id] != (o.score, o.status):
            return f"score/status of {doc_id}: {got_docs[doc_id]} vs {(o.score, o.status)}"
    return None


class ExtractDevice(_ExtractionLeg):
    """extract() on the emulated device, then spans, docs and the
    txt / ALTO / PAGE artifacts written to parquet."""

    def _extract_and_write(self, out_dir: str, config: dict, t0: float) -> list[Op]:
        tr, spark, ops = self.ctx.tracer, self.ctx.spark, []

        def write(name: str, df) -> None:
            start = time.monotonic() - t0
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
            ops.append(Op(name, start, time.monotonic() - t0))

        with tr.span("pipeline.extract"):
            res = extract(spark, self.documents(), engine_config=config,
                          with_metrics=False, persist_inference=True,
                          salt_partitions=4 * self.ctx.cores)
        with tr.span("sink.spans"):
            write("spans", res.spans)
        with tr.span("sink.docs"):
            write("docs", res.docs)
        with tr.span("serialize.txt"):
            write("txt", serialize_txt(res.spans))
        with tr.span("serialize.alto"):
            write("alto", serialize_alto(res.raw_spans))
        with tr.span("serialize.page"):
            write("page", serialize_artifacts(res.spans))
        res.unpersist()
        return ops

    def warmup(self, work_dir: str) -> float:
        t0 = time.monotonic()
        self._extract_and_write(work_dir, WARM_ENGINE_CONFIG, t0)
        return time.monotonic() - t0

    def run(self, out_dir: str, t0: float) -> list[Op]:
        self.out_dirs.append(out_dir)
        return self._extract_and_write(out_dir, DEVICE_ENGINE_CONFIG, t0)

    def check(self) -> dict[str, str]:
        want = self.ctx.expected()
        txt = {d: "\n".join(s[2] for s in o.spans) for d, o in want.items()}
        bad = {}
        for out in self.out_dirs:
            problem = _mismatch(want, os.path.join(out, "spans"), os.path.join(out, "docs"))
            if problem:
                bad.setdefault("spans", problem)
                bad.setdefault("docs", problem)
            for sink, col in (("txt", "txt"), ("page", "txt"), ("alto", "alto_xml")):
                rows = pq.read_table(os.path.join(out, sink)).to_pylist()
                got = {r["doc_id"]: r[col] for r in rows}
                if set(got) != set(want) or len(got) != len(rows):
                    bad.setdefault(sink, f"{sink}: {len(rows)} rows for {len(want)} docs")
                elif col == "txt" and got != txt:
                    bad.setdefault(sink, f"{sink}: text differs from the oracle spans")
        return bad


class TimedExtractor(CheckpointedExtractor):
    """Records when each group's manifest becomes visible, and traces
    the stage / write / commit seams (the override points
    plans/iceberg_backend.py uses)."""

    def __init__(self, output_dir: str, tracer, **kw):
        super().__init__(output_dir, **kw)
        self.tracer = tracer
        self.commit_times: list[float] = []

    def _stage_input(self, spark, documents):
        with self.tracer.span("checkpoint.stage"):
            return super()._stage_input(spark, documents)

    def _write_group(self, spark, g, res):
        with self.tracer.span("checkpoint.write_group"):
            return super()._write_group(spark, g, res)

    def _commit_group(self, group, lineage):
        with self.tracer.span("checkpoint.commit"):
            super()._commit_group(group, lineage)
        self.commit_times.append(time.monotonic())


class ExtractCommit(_ExtractionLeg):
    """CheckpointedExtractor(n_groups=4).run with the default zero-cost
    engine, then the committed spans and docs read back."""

    def _run(self, out_dir: str, n_groups: int) -> TimedExtractor:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        ex = TimedExtractor(os.path.join(out_dir, "ckpt"), tracer, n_groups=n_groups)
        with tracer.span("checkpoint.run"):
            ex.run(spark, self.documents())
        with tracer.span("checkpoint.readback"):
            noop_sink(ex.read_spans(spark))
            noop_sink(ex.read_docs(spark))
        return ex

    def warmup(self, work_dir: str) -> float:
        t0 = time.monotonic()
        self._run(work_dir, WARMUP_GROUPS)
        return time.monotonic() - t0

    def run(self, out_dir: str, t0: float) -> list[Op]:
        self.out_dirs.append(out_dir)
        prev = time.monotonic() - t0
        ex = self._run(out_dir, N_GROUPS)
        ops = []
        # group g's op: from the previous commit (or the leg's start)
        # until group g's manifest is visible
        for g, t in enumerate(ex.commit_times):
            ops.append(Op(f"group-{g}", prev, t - t0))
            prev = t - t0
        return ops

    def check(self) -> dict[str, str]:
        want = self.ctx.expected()
        for out in self.out_dirs:
            ckpt = os.path.join(out, "ckpt")
            manifests = [m for m in os.listdir(os.path.join(ckpt, "_manifest"))
                         if m.startswith("group-")]
            problem = (f"{len(manifests)} group manifests" if len(manifests) != N_GROUPS
                       else _mismatch(want, os.path.join(ckpt, "spans"),
                                      os.path.join(ckpt, "docs")))
            if problem:
                # a wrong committed table fails every group commit
                return {f"group-{g}": problem for g in range(N_GROUPS)}
        return {}


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Workload:
    """Legs run in sequence in every pass, sharing one session, one
    input directory and one warm-up."""
    name = ""
    legs: tuple[type, ...] = ()
    latency_legs: tuple[int, ...] = ()   # legs whose ops the latency metrics count

    def __init__(self, spark, tracer, seed: int, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.cores = cores
        self.inputs = Inputs("", {})
        self.parts = [leg(self) for leg in self.legs]
        self._want = None

    @property
    def sizes(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for leg in self.parts:
            out.update(leg.sizes)
        return out

    def materialize(self, in_dir: str) -> None:
        rows = inputs.write_tables(in_dir, self.seed, self.sizes)
        self.inputs = Inputs(in_dir, rows)
        if any(isinstance(leg, _ExtractionLeg) for leg in self.parts):
            # the interleaved table, documents in seed-permuted order
            path = os.path.join(in_dir, "interleaved.parquet")
            (interleaved_documents(self.spark, in_dir)
             .withColumn("_k", F.xxhash64("doc_id", F.lit(self.seed)))
             .repartitionByRange(2 * self.cores, "_k")
             .sortWithinPartitions("_k").drop("_k")
             .write.mode("overwrite").parquet(path))
            self.inputs.interleaved = path

    def input_bytes(self) -> int:
        path = self.inputs.interleaved
        return sum(os.path.getsize(os.path.join(path, f))
                   for f in os.listdir(path) if f.endswith(".parquet")) if path else 0

    def expected(self) -> dict:
        """``oracle.extract_all`` over the flat documents table."""
        if self._want is None:
            flat = inputs.flat_documents(os.path.join(self.inputs.dir, "documents.parquet"))
            self._want = oracle.extract_all(flat)
        return self._want

    def docs(self) -> int:
        return self.inputs.rows["documents"]

    def warmup(self, work_dir: str) -> float:
        return sum(leg.warmup(os.path.join(work_dir, str(i)))
                   for i, leg in enumerate(self.parts))

    def run_pass(self, out_dir: str) -> Pass:
        t0 = time.monotonic()
        per_leg = [leg.run(os.path.join(out_dir, str(i)), t0)
                   for i, leg in enumerate(self.parts)]
        wall = time.monotonic() - t0
        return Pass(
            wall_s=wall,
            docs=self.docs(),
            first_s=self.first_result(per_leg),
            ops=[op for ops in per_leg for op in ops],
            latency_ops=[op for i in self.latency_legs for op in per_leg[i]],
        )

    def first_result(self, per_leg: list[list[Op]]) -> float:
        raise NotImplementedError

    def check(self) -> dict[str, str]:
        bad: dict[str, str] = {}
        for leg in self.parts:
            bad.update(leg.check())
        return bad

    def result_rows(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for leg in self.parts:
            out.update(getattr(leg, "result_rows", {}))
        return out


class Extraction(Workload):
    """Device-bound extraction with its artifacts, then the checkpointed
    commit of the same documents."""
    name = "extraction"
    legs = (ExtractDevice, ExtractCommit)
    latency_legs = (0, 1)         # every write and every group commit

    def first_result(self, per_leg):
        # from the start of the commit leg to the first visible manifest
        return per_leg[1][0].latency


class ControlPlane(Workload):
    """The status questions of the reference API, then the text-plane
    curation jobs."""
    name = "control_plane"
    legs = (StatusQueries, CurationJobs)
    latency_legs = (0,)           # per-query status latency only

    def first_result(self, per_leg):
        # until every status question is answered (the seed permutes
        # their order, so the first single answer would depend on it)
        return per_leg[0][-1].end - per_leg[0][0].start


WORKLOADS = {w.name: w for w in (Extraction, ControlPlane)}
