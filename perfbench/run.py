"""Repository benchmark: molecule ingest and the multi-stage query set.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload query_multistage --seed 1 --seconds 10 --trace 1

One process, one closed-loop client: a single ingest job or query runs at a
time through the engine's public entry points, on a ``local[nproc]``
session built by ``session.get_spark``. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer split (see README.md). The last
line of stdout is one JSON object; progress and failures go to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import spans as sp  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
DATA = str(BENCH_DIR / "data" / "sf0.01")

# Membership is fixed by name. Rule that produced the split: headliners
# (bench=True) that ran at least 8 Spark jobs per execution at sf0.1 on the
# commit that introduced this benchmark, plus the two stream twins. A later
# change to a query's job count does not move it between workloads.
MULTISTAGE = (
    "cdc_deletion_vectors",
    "dedup_clusters",
    "dedup_clusters_twostar",
    "dedup_prefix_filter_join",
    "graph_louvain_multilevel",
    "graph_louvain_singleton",
    "join_local_supplier_volume",
    "sim_ivf_sampled_quantizer",
    "sim_ivf_topk",
    "sim_ivfpq_adc_topk",
    "sim_pq_adc_topk",
    "stream_aspect_batch_twin",
    "stream_quality_gate_twin",
    "text_bpe_encode_apply",
    "text_bpe_train_batched",
    "text_hybrid_rrf_topk",
    "text_kn_fivegram_ppl",
)
WORKLOADS = ("ingest", "query_multistage")

INGEST_SIZES = {"sdf_records": 64_000, "sdf_files": 32, "zinc_rows": 200_000, "zinc_files": 8}
# Enough warm-up archives that Spark packs them into one task per core, so
# set-up starts every Python worker the measured rounds use.
WARM_SIZES = {"sdf_records": 800, "sdf_files": 8, "zinc_rows": 4_000, "zinc_files": 4}
WARM_QUERY = "agg_pricing_summary"
SETUP_REPEATS = 3
DRIVER_MEMORY = "4g"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


class Ops:
    """Counts attempted and failed operations; never swallows a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn):
        """Run one operation. Returns ``(ok, value)``; a raise is logged."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            self.failed += 1
            log(f"FAILED {label}:\n{traceback.format_exc()}")
            return False, None

    def check(self, label: str, ok: bool, detail: str) -> bool:
        """Count a completed operation whose output failed its check."""
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED {label}: {detail}")
        return ok


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, args, tracer) -> None:
        self.args = args
        self.tracer = tracer
        self.ops = Ops()
        self.spark = None
        self.specs = None
        self.setup_phases: dict[str, list[float]] = {}
        self.groups = sp.GroupLog()

    # -- session -----------------------------------------------------------

    def timed(self, phase: str, fn):
        with self.tracer.span(phase):
            t0 = time.perf_counter()
            value = fn()
            self.setup_phases.setdefault(phase, []).append(time.perf_counter() - t0)
        return value

    def start_session(self, event_log: Path | None = None):
        from open_molecule_data_pipeline_spark.session import get_spark

        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log.as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        spark = get_spark(app_name="perfbench", driver_memory=DRIVER_MEMORY, extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, warmup) -> float:
        """get_spark, registry.load_all, table touch and warm-up; returns seconds."""
        from open_molecule_data_pipeline_spark.catalog import TABLES, table
        from open_molecule_data_pipeline_spark.registry import LOAD_ERRORS, load_all

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.timed("session.get_spark", self.start_session)
        self.specs = self.timed("registry.load_all", load_all)
        if LOAD_ERRORS:
            raise RuntimeError(f"query modules failed to import: {LOAD_ERRORS}")

        def touch():
            for name in TABLES:
                table(self.spark, DATA, name).write.format("noop").mode("overwrite").save()

        if self.args.workload != "ingest":  # ingest reads no catalog table
            self.timed("catalog.table_touch", touch)
        self.timed("warmup", warmup)
        return time.perf_counter() - t0

    def group(self, name: str) -> None:
        self.groups.set(name)
        self.spark.sparkContext.setJobGroup(name, name)

    def driver_rss_mb(self) -> float:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the driver JVM status")

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM (and its workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- workloads ---------------------------------------------------------

    def measure(self, one_pass) -> list[dict]:
        """Whole passes until their timed walls add up to ``--seconds``.

        Output checks run between passes and do not count. The count is
        odd, so the median is one measured pass rather than the mean of a
        cold first pass and a warm one.
        """
        results, measured = [], 0.0
        while measured < self.args.seconds or len(results) % 2 == 0:
            results.append(one_pass(len(results)))
            measured += results[-1]["wall"]
        return results


class IngestWorkload:
    """SDF archives and ZINC tranches through ``plans.runner.run_ingestion``."""

    def __init__(self, bench: Bench) -> None:
        import gen

        self.b = bench
        self.gen = gen
        self.inputs = gen.make_inputs(WORK / "inputs", bench.args.seed, **INGEST_SIZES)
        self.warm = gen.make_inputs(WORK / "warm-inputs", 0, **WARM_SIZES, keep=1)
        log(f"inputs: sdf {self.inputs.sdf}, zinc {self.inputs.zinc}")
        self.probes = False

    def warmup(self) -> None:
        self.round(self.warm, "warm")

    def run_source(self, inputs, kind: str, tag: str) -> dict:
        from open_molecule_data_pipeline_spark.plans.config import IngestionJobConfig, SourceDefinition
        from open_molecule_data_pipeline_spark.plans.runner import run_ingestion

        gen = self.gen
        if kind == "sdf":
            name, glob, expected = gen.SDF_SOURCE, inputs.sdf_glob, inputs.sdf
        else:
            name, glob, expected = gen.SMILES_SOURCE, inputs.zinc_glob, inputs.zinc
        base = WORK / "ingest" / f"{kind}-{tag}"
        shutil.rmtree(base, ignore_errors=True)  # run_ingestion skips completed sources
        config = IngestionJobConfig(
            output_dir=str(base / "out"),
            checkpoint_dir=str(base / "ckpt"),
            sources=[SourceDefinition(type=name, name=name, options={"paths": glob})],
        )
        self.b.group(f"ingest.{kind}.{tag}")
        with self.b.tracer.span("plans.runner.run_ingestion", source=kind, tag=tag):
            t0 = time.perf_counter()
            ok, summaries = self.b.ops.run(f"ingest {kind} {tag}", lambda: run_ingestion(self.b.spark, config))
            wall = time.perf_counter() - t0
        out = {"wall": wall, "ok": ok}
        if ok:
            try:  # read back outside the timed region, without the engine
                digest, files, nbytes = gen.read_back(base / "out" / name)
            except Exception:
                out["ok"] = self.b.ops.check(f"ingest {kind} {tag}", False, traceback.format_exc())
                ok = False
        if ok:
            written = summaries[0].records_written
            problems = []
            if written != expected.records:
                problems.append(f"records_written {written} != {expected.records}")
            if expected.inputs - written != expected.rejected:
                problems.append(f"rejected {expected.inputs - written} != {expected.rejected}")
            if digest.hexdigest() != expected.digest:
                problems.append(f"digest {digest.hexdigest()} != {expected.digest}")
            out["ok"] = self.b.ops.check(f"ingest {kind} {tag}", not problems, "; ".join(problems))
            out.update(
                records=written,
                rejected=expected.inputs - written,
                files=files,
                bytes=nbytes,
                batch_count_error=summaries[0].total_batches - files,
            )
        shutil.rmtree(base, ignore_errors=True)
        return out

    def probe(self, tag: str) -> None:
        """Traced only: each read forced to the noop sink, outside the wall."""
        from open_molecule_data_pipeline_spark.sources.sdf import read_sdf, read_sdf_records
        from open_molecule_data_pipeline_spark.sources.smiles_table import read_smiles_table

        spark, inputs = self.b.spark, self.inputs
        for span, fn in (
            ("sources.sdf.read_sdf", lambda: read_sdf(spark, inputs.sdf_glob)),
            ("sources.sdf.read_sdf_records", lambda: read_sdf_records(spark, inputs.sdf_glob, source=self.gen.SDF_SOURCE)),
            ("sources.smiles_table.read_smiles_table", lambda: read_smiles_table(spark, inputs.zinc_glob, source=self.gen.SMILES_SOURCE)),
        ):
            self.b.group(f"probe.{span}.{tag}")
            with self.b.tracer.span(span, tag=tag):
                self.b.ops.run(f"{span} {tag}", lambda: fn().write.format("noop").mode("overwrite").save())

    def round(self, inputs, tag) -> dict:
        if self.probes:
            self.probe(tag)
        sdf = self.run_source(inputs, "sdf", tag)
        smiles = self.run_source(inputs, "smiles", tag)
        return {"sdf": sdf, "smiles": smiles, "wall": sdf["wall"] + smiles["wall"]}

    def one_pass(self, i: int) -> dict:
        return self.round(self.inputs, f"r{i}")

    def summarize(self, rounds: list[dict]) -> dict[str, float]:
        ok = [r for r in rounds if r["sdf"]["ok"] and r["smiles"]["ok"]]
        first = ok[0] if ok else None
        records = (first["sdf"]["records"] + first["smiles"]["records"]) if first else 0
        nbytes = (first["sdf"]["bytes"] + first["smiles"]["bytes"]) if first else 0
        return {
            "wall_s": median([r["wall"] for r in rounds]),
            "sdf_records_per_s": median([r["sdf"]["records"] / r["sdf"]["wall"] for r in ok]),
            "smiles_records_per_s": median([r["smiles"]["records"] / r["smiles"]["wall"] for r in ok]),
            "out_bytes_per_record": nbytes / records if records else 0.0,
            "sinks.ndjson.files": float(first["sdf"]["files"] + first["smiles"]["files"]) if first else 0.0,
            "sinks.ndjson.bytes": float(nbytes),
            "plans.runner.records_rejected": float(first["sdf"]["rejected"] + first["smiles"]["rejected"]) if first else 0.0,
            "sinks.report.batch_count_error": float(
                first["sdf"]["batch_count_error"] + first["smiles"]["batch_count_error"]
            ) if first else 0.0,
        }

    def layers(self, tracer, groups) -> dict[str, float]:
        def per_tag(name, **match):
            return {
                s.attrs["tag"]: s
                for s in tracer.named(name)
                if s.attrs.get("tag", "").startswith("r") and all(s.attrs.get(k) == v for k, v in match.items())
            }

        read_sdf = per_tag("sources.sdf.read_sdf")
        records = per_tag("sources.sdf.read_sdf_records")
        smiles_read = per_tag("sources.smiles_table.read_smiles_table")
        run = {k: per_tag("plans.runner.run_ingestion", source=k) for k in ("sdf", "smiles")}
        write = {
            k: {t: [c for c in tracer.spans if c.parent == s.id and c.name == "sinks.ndjson.write_ndjson"][0] for t, s in run[k].items()}
            for k in run
        }
        tags = sorted(run["sdf"])
        stats = {t: {k: groups.get(f"ingest.{k}.{t}", sp.GroupStats()) for k in run} for t in tags}
        out = {
            "sources.sdf.read_sdf_s": median([read_sdf[t].duration for t in tags]),
            "functions.molecule.normalize_s": median([records[t].duration - read_sdf[t].duration for t in tags]),
            "sources.sdf.python_run_s": median([stats[t]["sdf"].python_run_ms / 1e3 for t in tags]),
            "sources.sdf.python_bytes_sent": median([float(stats[t]["sdf"].python_sent_b) for t in tags]),
            "sources.smiles_table.read_s": median([smiles_read[t].duration for t in tags]),
            "sinks.ndjson.sdf_write_s": median([write["sdf"][t].duration - records[t].duration for t in tags]),
            "sinks.ndjson.smiles_write_s": median([write["smiles"][t].duration - smiles_read[t].duration for t in tags]),
            "plans.runner.sdf_overhead_s": median([tracer.self_time(run["sdf"][t]) for t in tags]),
            "plans.runner.smiles_overhead_s": median([tracer.self_time(run["smiles"][t]) for t in tags]),
        }
        out.update(spark_layers({t: [(run[k][t], stats[t][k]) for k in run] for t in tags}))
        return out


class MultistageWorkload:
    """The multi-stage headliners, one long-lived session, no cache sweeps."""

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.order = list(MULTISTAGE)
        random.Random(bench.args.seed).shuffle(self.order)

    def warmup(self) -> None:
        spec = self.b.specs[WARM_QUERY]
        self.b.group("warmup")
        self.b.ops.run(
            f"warm-up {WARM_QUERY}",
            lambda: spec.fn(self.b.spark, DATA).write.format("noop").mode("overwrite").save(),
        )

    def one_pass(self, i: int) -> dict:
        tracer, spark = self.b.tracer, self.b.spark
        results = {}
        t_pass = time.perf_counter()
        for name in self.order:
            spec = self.b.specs.get(name)
            self.b.group(f"query.{name}.p{i}")

            def execute(spec=spec, name=name):
                if spec is None:
                    raise KeyError(f"query {name} is not registered")
                with tracer.span("operators.build"):
                    df = spec.fn(spark, DATA)
                with tracer.span("operators.action"):
                    return df.toPandas()

            with tracer.span("query", query=name, tag=f"p{i}"):
                ok, pdf = self.b.ops.run(f"query {name} p{i}", execute)
            if ok:
                results[name] = pdf
        wall = time.perf_counter() - t_pass
        for name, pdf in results.items():  # outside the timed pass
            try:
                self.check(name, pdf, i)
            except Exception:
                self.b.ops.check(f"query {name} p{i}", False, traceback.format_exc())
        return {"wall": wall}

    def check(self, name: str, pdf, i: int) -> None:
        oracle = self.oracle(name)
        from tests._compare import canon

        cols = sorted(pdf.columns)
        if cols != oracle["columns"]:
            self.b.ops.check(f"query {name} p{i}", False, f"columns {cols} != {oracle['columns']}")
            return
        rows = [list(r) for r in canon(pdf)]
        detail = f"{len(rows)} rows vs oracle {len(oracle['rows'])}"
        self.b.ops.check(f"query {name} p{i}", rows == oracle["rows"], detail)

    def oracle(self, name: str) -> dict:
        """DuckDB oracle answer, canonicalized; cached per SQL text."""
        import hashlib

        from tests._compare import canon, run_oracle

        sql = self.b.specs[name].oracle
        key = hashlib.sha256(f"{DATA}\n{sql}".encode()).hexdigest()[:16]
        path = WORK / "oracle" / f"{name}-{key}.json"
        if not path.exists():
            pdf = run_oracle(sql, DATA)
            path.parent.mkdir(parents=True, exist_ok=True)
            tmp = path.with_suffix(".tmp")
            tmp.write_text(json.dumps({"columns": sorted(pdf.columns), "rows": [list(r) for r in canon(pdf)]}))
            tmp.replace(path)
        return json.loads(path.read_text())

    def summarize(self, passes: list[dict]) -> dict[str, float]:
        return {"wall_s": median([p["wall"] for p in passes])}

    def layers(self, tracer, groups) -> dict[str, float]:
        queries = [s for s in tracer.named("query") if s.attrs.get("tag", "").startswith("p")]
        tags = sorted({s.attrs["tag"] for s in queries})

        def kids(s, name):
            return sum(c.duration for c in tracer.spans if c.parent == s.id and c.name == name)

        out = {
            "operators.build_s": median([sum(kids(s, "operators.build") for s in queries if s.attrs["tag"] == t) for t in tags]),
            "operators.action_s": median([sum(kids(s, "operators.action") for s in queries if s.attrs["tag"] == t) for t in tags]),
        }
        for name in MULTISTAGE:
            mine = [s for s in queries if s.attrs["query"] == name]
            out[f"query.{name}.wall_s"] = median([s.duration for s in mine])
            out[f"query.{name}.jobs"] = median(
                [float(groups.get(f"query.{name}.{s.attrs['tag']}", sp.GroupStats()).jobs) for s in mine]
            )
        by_pass = {
            t: [(s, groups.get(f"query.{s.attrs['query']}.{t}", sp.GroupStats())) for s in queries if s.attrs["tag"] == t]
            for t in tags
        }
        out.update(spark_layers(by_pass))
        return out


def spark_layers(by_pass: dict[str, list]) -> dict[str, float]:
    """Per-pass medians of the event-log totals over ``(span, GroupStats)``."""
    def per_pass(fn):
        return median([sum(fn(s, g) for s, g in pairs) for pairs in by_pass.values()])

    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": per_pass(lambda s, g: g.jobs),
        "spark.stages": per_pass(lambda s, g: g.stages),
        "spark.tasks": per_pass(lambda s, g: g.tasks),
        "spark.driver_gap_s": per_pass(lambda s, g: sp.driver_gap_s(s, g)),
        "spark.exec_run_s": per_pass(lambda s, g: g.exec_run_ms / 1e3),
        "spark.exec_cpu_s": per_pass(lambda s, g: g.exec_cpu_ns / 1e9),
        "spark.shuffle_write_mb": per_pass(lambda s, g: g.shuffle_write_b / mb),
        "spark.shuffle_read_mb": per_pass(lambda s, g: g.shuffle_read_b / mb),
        "spark.spill_mb": per_pass(lambda s, g: g.spill_b / mb),
        "spark.python_run_s": per_pass(lambda s, g: g.python_run_ms / 1e3),
        "spark.python_bytes_sent": per_pass(lambda s, g: float(g.python_sent_b)),
    }


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, as declared."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    return {m["name"]: m["unit"] for m in spec[kind]}


def cached_mb(spark) -> float:
    """Storage memory held by persisted RDDs/relations right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / (1024.0 * 1024.0)


def run_workload(args, bench: Bench, tracer, runner) -> dict[str, float]:
    """Set up, measure and return the metrics for ``--trace``."""
    gen_t0 = time.perf_counter()
    workload = IngestWorkload(bench) if args.workload == "ingest" else MultistageWorkload(bench)
    gen_s = time.perf_counter() - gen_t0  # input generation is not set-up

    # set-up, several times; the first also pays interpreter imports and JVM start
    setups = []
    for i in range(SETUP_REPEATS):
        s = bench.setup(workload.warmup)
        setups.append(s + (gen_t0 - T_START if i == 0 else 0.0))
    log(f"setup_s runs {setups} (input generation {gen_s:.2f}s excluded)")

    # Untraced passes give the end-to-end metrics. A traced run reuses the
    # untraced wall times this checkout already recorded as its overhead
    # baseline, and measures them itself only when there are none.
    history = WORK / "untraced" / f"{args.workload}.jsonl"
    baseline = [json.loads(line)["wall_s"] for line in history.read_text().splitlines()] if history.exists() else []
    if not args.trace or not baseline:
        tracer.enabled = False
        untraced = bench.measure(workload.one_pass)
        summary = workload.summarize(untraced)
        log(f"{args.workload}: untraced pass walls {[p['wall'] for p in untraced]}, summary {summary}")
        baseline.append(summary["wall_s"])
        history.parent.mkdir(parents=True, exist_ok=True)
        with open(history, "a", encoding="utf-8") as fh:
            fh.write(json.dumps({"seed": args.seed, "wall_s": summary["wall_s"]}) + "\n")

    metrics: dict[str, float]
    if not args.trace:
        metrics = {
            "setup_s": median(setups),
            "wall_s": summary["wall_s"],
        }
    else:
        # Traced phase: a fresh context with the event log on, spans around
        # every call.
        run_dir = WORK / "trace" / args.workload
        shutil.rmtree(run_dir, ignore_errors=True)
        tracer.enabled = True
        workload.probes = True
        bench.spark.stop()
        bench.spark = bench.start_session(event_log=run_dir / "eventlog")
        workload.warmup()  # the new context starts its Python workers here
        write_ndjson = runner.write_ndjson

        def traced_write(*a, **kw):
            with tracer.span("sinks.ndjson.write_ndjson"):
                return write_ndjson(*a, **kw)

        runner.write_ndjson = traced_write
        try:
            traced = bench.measure(workload.one_pass)
        finally:
            runner.write_ndjson = write_ndjson
        cached_after = cached_mb(bench.spark) if args.workload != "ingest" else 0.0
        rss = bench.driver_rss_mb()
        bench.spark.stop()
        bench.spark = None
        logs = list((run_dir / "eventlog").iterdir())
        groups = sp.parse_event_log(logs[0], bench.groups)
        tracer.write(run_dir / "spans.jsonl")
        traced_summary = workload.summarize(traced)
        log(f"{args.workload}: traced pass walls {[p['wall'] for p in traced]}, summary {traced_summary}")
        # Every per-layer metric is printed for every workload; a layer the
        # workload does not run reads 0.
        metrics = dict.fromkeys(metric_units("per_layer"), 0.0)
        for phase, values in bench.setup_phases.items():
            metrics[f"{phase}_s"] = median(values)
        metrics.update({k: v for k, v in traced_summary.items() if k in metrics})
        metrics.update(workload.layers(tracer, groups))
        metrics["operators.cached_mb_after"] = cached_after
        metrics["driver_peak_rss_mb"] = rss
        metrics["trace.wall_s"] = traced_summary["wall_s"]
        metrics["trace.overhead_s"] = traced_summary["wall_s"] - median(baseline)
        metrics["failed_ops_ratio"] = bench.ops.failed / bench.ops.attempted

    return metrics


def main() -> int:
    """Run one workload; stop Spark and its JVM however the run ends."""
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    for sub in ("tmp", "spark-local"):  # what an earlier run (or its queries) left behind
        shutil.rmtree(WORK / sub, ignore_errors=True)
        (WORK / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, str(ROOT))

    # the engine must come from this checkout; fail fast without it
    import open_molecule_data_pipeline_spark as engine

    if not Path(engine.__file__).resolve().is_relative_to(ROOT):
        raise RuntimeError(f"engine imported from {engine.__file__}, not from {ROOT}")
    from open_molecule_data_pipeline_spark.plans import runner

    tracer = sp.Tracer(enabled=bool(args.trace))  # set-up spans, traced runs only
    bench = Bench(args, tracer)
    try:
        metrics = run_workload(args, bench, tracer, runner)
    finally:
        bench.stop()
    units = metric_units("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
    result = {
        "correct": bench.ops.failed == 0,
        "attempted": bench.ops.attempted,
        "failed": bench.ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
