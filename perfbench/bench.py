"""One benchmark run: session set-up, a closed loop of patient jobs
through the public haplorec_spark calls, output checks, metrics.

A job follows the user path: the lab's genotyping file goes to
``sources.variant_source``, then ``Pipeline.run_job``, then
``Pipeline.materialize`` of every stage table, then (where the workload
asks for them) both condensed reports, collected. One client sends the
next job when the previous one has finished.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import check
from perfbench.gen import (WORKLOADS, Job, Reference, Workload,
                           workload_job, workload_reference)
from perfbench.trace import NoTracer, Tracer, self_time

#: Stage tables in dependency order (``Pipeline.STAGE_DEPENDENCIES``).
STAGES = ["variant", "hetVariant", "geneHaplotype", "novelHaplotype",
          "genotype", "genePhenotype", "phenotypeDrugRecommendation",
          "genotypeDrugRecommendation"]
REPORTS = ["phenotype_drug_recommendation_report",
           "genotype_drug_recommendation_report"]
CALLS = (["sources.variant_source", "pipeline.run_job"]
         + [f"pipeline.{s}" for s in STAGES] + [f"report.{r}" for r in REPORTS])
QUANTITIES = ["wall_s", "spark_jobs", "spark_stages", "tasks",
              "failed_tasks", "rows_out"]
#: run_job returns lazy DataFrames: its rows show up under the stages.
NO_ROWS = {"pipeline.run_job"}
#: Calls whose rows_out is the row count of a written stage table.
ROWS_FROM_TABLE = {"sources.variant_source": "variant",
                   **{f"pipeline.{s}": s for s in STAGES}}

END_TO_END = {
    "job_latency_p50_s": "s",
    "variants_per_s": "rows/s",
    "setup_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"setup.{p}_s": "s" for p in ("session", "reference")}
    for call in CALLS:
        for q in QUANTITIES:
            if q == "rows_out" and call in NO_ROWS:
                continue
            units[f"{call}.{q}"] = "s" if q == "wall_s" else "count"
    units["job.wall_s"] = "s"
    units["job.self_s"] = "s"
    units["trace.bookkeeping_s"] = "s"
    # Peak RSS varied by about a sixth between runs of cohort_hom, too
    # much for an end-to-end bound.
    units["peak_rss_mb"] = "MB"
    return units


# ------------------------------------------------------------ processes

def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(pid: int) -> list[int]:
    children = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and its Python workers) on a background thread."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -------------------------------------------------------------- session

def session_confs(root: str, work: str) -> dict[str, str]:
    """Fit the engine's session to this host; everything else stays at
    the engine defaults of ``haplorec_spark.session``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        # The engine default (16g) is more than some hosts have.
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # Python workers import haplorec_spark (applyInPandas kernels).
        "spark.executorEnv.PYTHONPATH": root,
        # Keep scratch, warehouse and temp files inside the work dir, and
        # stop the JVM writing its perf-data file to /tmp.
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_spark(root: str, work: str):
    from haplorec_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_confs=session_confs(root, work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def load_reference(spark, ref: Reference):
    """The five reference tables, cached and materialized."""
    from haplorec_spark import schema as sch
    from haplorec_spark.pipeline import ReferenceTables

    def table(rows: list[tuple], name: str):
        df = spark.createDataFrame(rows, sch.SCHEMAS[name]).cache()
        df.count()
        return df

    return ReferenceTables(
        gene_haplotype_variant=table(ref.gene_haplotype_variant,
                                     "gene_haplotype_variant"),
        genotype_phenotype=table(ref.genotype_phenotype, "genotype_phenotype"),
        gene_phenotype_drug_recommendation=table(
            ref.gene_phenotype_drug_recommendation,
            "gene_phenotype_drug_recommendation"),
        genotype_drug_recommendation=table(
            ref.genotype_drug_recommendation, "genotype_drug_recommendation"),
        drug_recommendation=table(ref.drug_recommendation,
                                  "drug_recommendation"),
    )


# ----------------------------------------------------------------- jobs

@dataclass
class JobResult:
    job_id: int
    #: file handed to variant_source -> stage tables written and reports
    #: collected
    latency_s: float = 0.0
    #: file handed to variant_source -> last stage table written
    stages_s: float = 0.0
    variant_rows: int = 0
    report_rows: dict[str, list] = field(default_factory=dict)


def make_reports(tracer, out, ref_tables, job_id: int) -> dict[str, list]:
    """Both condensed reports of a job, collected."""
    from haplorec_spark import report

    rows = {}
    for name in REPORTS:
        with tracer.span(f"report.{name}", job_id) as span:
            rows[name] = getattr(report, name)(out, ref_tables,
                                               job_id).collect()
        if span is not None:
            span.rows_out = len(rows[name])
    return rows


def run_job(spark, pipe, ref_tables, job_id: int, path: str,
            warehouse: str, reports: bool, tracer) -> JobResult:
    from haplorec_spark.sources import variant_source

    res = JobResult(job_id)
    t0 = time.perf_counter()
    with tracer.span("job", job_id):
        with tracer.span("sources.variant_source", job_id):
            variants = variant_source(spark, path)
        with tracer.span("pipeline.run_job", job_id):
            out = pipe.run_job(job_id=job_id, variants=variants)
        # One stage per materialize call, in dependency order: what
        # materialize does with all of them, timed per stage.
        for stage in STAGES:
            with tracer.span(f"pipeline.{stage}", job_id):
                pipe.materialize({stage: out[stage]}, warehouse)
        res.stages_s = time.perf_counter() - t0
        if reports:
            res.report_rows = make_reports(tracer, out, ref_tables, job_id)
    res.latency_s = time.perf_counter() - t0
    return res


def _partition(warehouse: str, stage: str, job_id: int) -> str:
    from haplorec_spark.pipeline import STAGE_TABLE_NAMES

    return os.path.join(warehouse, STAGE_TABLE_NAMES[stage], f"job_id={job_id}")


def read_stage(warehouse: str, stage: str, job_id: int, columns: list[str]
               ) -> list[tuple]:
    """One job's partition of a written stage table, read back with
    pyarrow (no Spark job, so traced counts stay untouched)."""
    part = _partition(warehouse, stage, job_id)
    if not os.path.isdir(part):
        return []
    t = pq.read_table(part, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def stage_row_count(warehouse: str, stage: str, job_id: int) -> int:
    part = _partition(warehouse, stage, job_id)
    if not os.path.isdir(part):
        return 0
    return sum(pq.ParquetFile(os.path.join(part, f)).metadata.num_rows
               for f in os.listdir(part) if f.endswith(".parquet"))


def job_errors(res: JobResult, job: Job, ref: Reference, warehouse: str
               ) -> list[str]:
    errors = []
    written = stage_row_count(warehouse, "variant", res.job_id)
    if written != job.variant_rows:
        errors.append(f"variant: {written} rows written, "
                      f"{job.variant_rows} in the file")
    errors += check.genotype_errors(job, read_stage(
        warehouse, "genotype", res.job_id,
        ["patient_id", "gene_name", "haplotype_name1", "haplotype_name2"]))
    pheno, geno = check.expected_recommendations(job, ref)
    cols = ["patient_id", "drug_recommendation_id"]
    errors += check.recommendation_errors("phenotypeDrugRecommendation", pheno,
        read_stage(warehouse, "phenotypeDrugRecommendation", res.job_id, cols))
    errors += check.recommendation_errors("genotypeDrugRecommendation", geno,
        read_stage(warehouse, "genotypeDrugRecommendation", res.job_id, cols))
    if res.report_rows:
        for name, expected in zip(REPORTS, (pheno, geno)):
            errors += check.report_errors(
                name, job, expected,
                [r["SAMPLE_ID"] for r in res.report_rows[name]])
    return errors


# ------------------------------------------------------------------ run

def _median_low(xs: list[float]) -> float:
    return statistics.median_low(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, warehouse: str) -> dict[str, float]:
    """Per-call medians over the traced jobs."""
    by_call: dict[str, list] = {c: [] for c in CALLS}
    for s in tracer.spans:
        if s.name in ROWS_FROM_TABLE:
            s.rows_out = stage_row_count(warehouse, ROWS_FROM_TABLE[s.name],
                                         s.job)
        if s.name in by_call:
            by_call[s.name].append(s)
    out: dict[str, float] = {}
    for call, spans in by_call.items():
        out[f"{call}.wall_s"] = (statistics.median(s.wall_s for s in spans)
                                 if spans else 0.0)
        for q in QUANTITIES[1:]:
            if not (q == "rows_out" and call in NO_ROWS):
                out[f"{call}.{q}"] = _median_low([getattr(s, q) for s in spans])
    jobs = [s for s in tracer.spans if s.name == "job"]
    out["job.wall_s"] = statistics.median(s.wall_s for s in jobs)
    out["job.self_s"] = statistics.median(
        self_time(s, tracer.children(s)) for s in jobs)
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s / len(jobs)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool,
        root: str) -> dict:
    w: Workload = WORKLOADS[workload]
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    warehouse = os.path.join(work, "warehouse")
    ref = workload_reference(w, seed)
    attempted = failed = 0
    results: list[JobResult] = []
    try:
        # The sampler's /proc scans would compete with the timed calls
        # for the GIL, so only traced runs (which report it) start it.
        with RssSampler() if trace else contextlib.nullcontext() as rss:
            t0 = time.perf_counter()
            spark = start_spark(root, work)
            try:
                t1 = time.perf_counter()
                from haplorec_spark.pipeline import Pipeline

                ref_tables = load_reference(spark, ref)
                t2 = time.perf_counter()
                pipe = Pipeline(spark, ref_tables)
                tracer = Tracer(spark.sparkContext) if trace else NoTracer()
                loop_start = time.perf_counter()
                while True:
                    attempted += 1
                    job = workload_job(w, ref, seed, attempted)
                    path = os.path.join(work, f"job{attempted}.tsv")
                    job.write(path)
                    try:
                        res = run_job(spark, pipe, ref_tables, attempted, path,
                                      warehouse, w.reports, tracer)
                        res.variant_rows = job.variant_rows
                        errors = job_errors(res, job, ref, warehouse)
                    except Exception:  # a failed job is counted, the run goes on
                        traceback.print_exc()
                        errors = ["raised"]
                    if errors:
                        failed += 1
                        print(f"job {attempted} failed: {errors[:5]}",
                              file=sys.stderr)
                    else:
                        results.append(res)
                    if time.perf_counter() - loop_start >= seconds:
                        break
                if trace:
                    metrics = layer_metrics(tracer, warehouse)
                    tracer.write(os.path.join(
                        root, ".perfbench_work", f"spans-{workload}-{seed}.jsonl"))
            finally:
                stop_spark(spark)
        if trace:
            metrics["setup.session_s"] = t1 - t0
            metrics["setup.reference_s"] = t2 - t1
            metrics["peak_rss_mb"] = rss.peak_kb / 1024
            units = per_layer_units()
        else:
            # with no successful job (correct is false) the job
            # metrics read 0
            lat = [r.latency_s for r in results] or [0.0]
            stages_s = sum(r.stages_s for r in results)
            metrics = {
                "job_latency_p50_s": statistics.median(lat),
                "variants_per_s": (sum(r.variant_rows for r in results)
                                   / stages_s if results else 0.0),
                "setup_s": t2 - t0,
            }
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
