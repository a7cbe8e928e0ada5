"""One benchmark run in one process.

Sets up Spark, generates the seeded inputs, runs one warm-up pass that
also checks every output, then times whole passes of the workload's
fixed work for about ``--seconds``.  With ``--trace 1`` it also probes
the lazy layers one at a time and folds Spark's event log onto the
spans.  The record goes to ``--out`` as JSON; ``run.py`` turns it into
the result line.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import re
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from spans import Tracer, fold_event_log, subtree_totals  # noqa: E402

#: The curation_batch mix: many-job, iterative curation queries whose
#: time is mostly eager work fired while the query is constructed.
#: ``sf`` sizes the generated tables (lineitem = 6M x sf rows).  Queries
#: whose round count depends on the data (connected components in
#: rel_entity_resolution ran 29 to 48 jobs across seeds) are left out so
#: that every seed does the same work.
CURATION = {"sf": 0.01, "queries": [
    "td_incremental_minhash", "td_setsim_prefix_join",
    "rel_pagerank_cosuppliers", "rel_triangle_count",
]}

#: Breadcrumb pipeline shape: the first ``streamed`` days go through the
#: stream + promote path, the rest through batch ``load_day``.
BREADCRUMB = {"days": 4, "streamed": 2, "trips_per_day": 1600,
              "files_per_day": 3, "max_files_per_trigger": 2}


def _load(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden and
    ``_``-prefixed bookkeeping files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Run:
    """Shared bookkeeping: operations attempted/failed, timed passes."""

    def __init__(self, spark, tracer: Tracer, args, work: str):
        self.spark, self.tracer, self.args, self.work = spark, tracer, args, work
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []   # timed pass spans

    def op(self, name: str, fn, **attrs):
        """One operation: counted, timed by its span, failure isolated.
        ``fn`` returns False when its output check fails."""
        self.attempted += 1
        with self.tracer.span(name, op=True, **attrs) as s:
            try:
                ok = fn() is not False
            except Exception as exc:  # noqa: BLE001 - counted, not fatal
                ok = False
                s["error"] = f"{type(exc).__name__}: {exc}"[:300]
        if not ok:
            self.failed += 1
            self.errors.append(f"{name} {attrs}: {s.get('error', 'output check failed')}")

    def measure(self) -> None:
        """One untimed warm-up pass that checks outputs, then whole timed
        passes while another one fits in ``--seconds``, at least two.  A
        second warm-up pass would steady the JIT further but does not fit
        the run budget."""
        self.run_pass(timed=False, check=True)
        t0 = time.perf_counter()
        while True:
            self.passes.append(self.run_pass(timed=True, check=False))
            left = self.args.seconds - (time.perf_counter() - t0)
            if len(self.passes) >= 2 and left < statistics.median(
                    q["dur"] for q in self.passes):
                break

    def run_pass(self, timed: bool, check: bool) -> dict:
        with self.tracer.span("pass", timed=timed) as p:
            self.one_pass(check)
        self.after_pass(p)
        return p

    def after_pass(self, p: dict) -> None:
        pass

    def op_latencies(self) -> list[float]:
        timed = {p["id"] for p in self.passes}
        return [s["dur"] for s in self.tracer.spans
                if s.get("op") and s.get("latency") and s["parent"] in timed]

    def per_pass(self, name: str, key: str = "dur") -> float:
        """Sum of ``key`` over spans called ``name`` inside timed passes,
        per timed pass."""
        inside = {p["id"] for p in self.passes}
        for s in self.tracer.spans:          # parents precede children
            if s["parent"] in inside:
                inside.add(s["id"])
        return sum(s.get(key, 0) for s in self.tracer.spans
                   if s["name"] == name and s["id"] in inside) / len(self.passes)

    def layer_metrics(self) -> dict[str, float]:
        """Workload-specific per-layer metrics (the rest stay 0)."""
        return {}


class CurationBatch(Run):
    """The :data:`CURATION` queries, each forced with the noop sink; the
    seed shuffles the order of every pass."""

    def prepare(self) -> None:
        from busdata_pipeline_spark.plans.registry import ORACLES, QUERIES
        from busdata_pipeline_spark.sources.tables import TABLE_NAMES

        self.sf_dir = os.path.join(self.work, "tables")
        rows = gen.write_tables(self.sf_dir, CURATION["sf"], self.args.seed)
        self.names = list(CURATION["queries"])
        self.queries, self.oracles = QUERIES, ORACLES
        # the tables a query reads, as named by its oracle SQL
        self.tables = {n: [t for t in TABLE_NAMES
                           if re.search(rf"\b{t}\b", ORACLES[n])]
                       for n in self.names}
        # no rows land anywhere: rows_per_s is the generated input per pass
        self.rows_per_pass = sum(rows.values())
        self.con = _load("tests/oracle_check.py", "oracle_check").duckdb_con(self.sf_dir)
        self.strict_compare = _load("tools/driver_hash.py", "driver_hash").strict_compare

    def one_pass(self, check: bool) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        for name in order:
            self.op("query", lambda n=name: self.run_query(n, check),
                    query=name, latency=True)

    def run_query(self, name: str, check: bool):
        with self.tracer.span("plans.construct", query=name):
            df = self.queries[name](self.spark, self.sf_dir)
        with self.tracer.span("plans.action", query=name):
            if check:
                ok, msg = self.strict_compare(df, self.con, self.oracles[name])
                if not ok:
                    raise AssertionError(msg)
            else:
                noop(df)

    def probe_layers(self) -> None:
        """Each ``sources.tables.table()`` call of one pass, in isolation."""
        from busdata_pipeline_spark.sources.tables import table

        with self.tracer.span("probe"):
            for name in self.names:
                for t in self.tables[name]:
                    with self.tracer.span("sources.table", table=t):
                        table(self.spark, self.sf_dir, t)

    def layer_metrics(self) -> dict[str, float]:
        spans = self.tracer.spans
        probes = [s for s in spans if s["name"] == "sources.table"]
        return {
            "sources.table_s": sum(s["dur"] for s in probes),
            "sources.table_jobs": sum(s["jobs"] for s in probes),
            "plans.construct_s": self.per_pass("plans.construct"),
            "plans.construct_jobs": self.per_pass("plans.construct", "jobs"),
            "plans.action_s": self.per_pass("plans.action"),
            "plans.action_jobs": self.per_pass("plans.action", "jobs"),
        }


class BreadcrumbPipeline(Run):
    """Stream some days into the warehouse, promote the stage, batch-load
    the other days, re-load one (streamed) day and audit every day.  Each
    pass starts from an empty warehouse."""

    def prepare(self) -> None:
        c = BREADCRUMB
        days = gen.breadcrumb_days(self.args.seed, c["days"], c["trips_per_day"],
                                   c["files_per_day"])
        self.expected = gen.expected_values([r for d in days for r in d["records"]])
        self.drop_dir = os.path.join(self.work, "drop")
        self.inputs: list[list[str]] = []   # each day's JSONL files
        for i, d in enumerate(days):
            target = self.drop_dir if i < c["streamed"] else os.path.join(
                self.work, "days", f"{d['day']:%Y%m%d}")
            self.inputs.append(gen.write_day(d, target))
        self.day_keys = [d["day"].isoformat() for d in days]
        size = [sum(os.path.getsize(p) for p in day) for day in self.inputs]
        # every day is read once, the re-loaded day twice
        self.input_bytes = sum(size) + size[0]
        self.lines = sum(1 for d in days for f in d["files"] for ln in f if ln.strip())
        self.rows_per_pass = sum(self.expected["per_day"].values())
        self.n_pass = 0

    def one_pass(self, check: bool) -> None:
        """Every pass is checked, by its audits and by ``after_pass``."""
        from busdata_pipeline_spark.operators.warehouse import (
            audit_day_count,
            load_day,
            promote_stage,
        )
        from busdata_pipeline_spark.sources.jsonl import read_breadcrumb_jsonl

        spark, streamed = self.spark, BREADCRUMB["streamed"]
        self.n_pass += 1
        self.wh = os.path.join(self.work, f"warehouse-{self.n_pass}")
        ckpt = os.path.join(self.work, f"checkpoint-{self.n_pass}")
        self.progress: list[dict] = []
        self.op("streaming.ingest", lambda: self.stream(ckpt))
        self.op("operators.warehouse.promote", lambda: promote_stage(spark, self.wh) > 0)
        for paths in self.inputs[streamed:]:
            self.op("operators.warehouse.load_day",
                    lambda p=paths: load_day(read_breadcrumb_jsonl(spark, p), self.wh),
                    latency=True)
        self.op("operators.warehouse.reload_day",
                lambda: load_day(read_breadcrumb_jsonl(spark, self.inputs[0]), self.wh),
                latency=True)
        for key in self.day_keys:
            self.op("operators.warehouse.audit",
                    lambda k=key: audit_day_count(spark, self.wh, k)
                    == self.expected["per_day"][k])

    def stream(self, ckpt: str) -> None:
        from busdata_pipeline_spark.streaming.ingest import (
            stream_breadcrumbs,
            stream_into_warehouse,
        )

        stream = stream_breadcrumbs(self.spark, self.drop_dir,
                                    BREADCRUMB["max_files_per_trigger"])
        q = stream_into_warehouse(stream, self.wh, ckpt, available_now=True,
                                  incremental=True)
        try:
            if not q.awaitTermination(120):
                raise TimeoutError("stream did not drain within 120 s")
        finally:
            q.stop()
        self.progress = q.recentProgress

    def after_pass(self, p: dict) -> None:
        """Check the whole warehouse against the generator's figures,
        record what the pass left on disk, then drop it."""
        from pyspark.sql import functions as F

        from busdata_pipeline_spark.operators.warehouse import read_dim, read_fact

        def check():
            speed = F.col("speed")
            got = read_fact(self.spark, self.wh).agg(
                F.count(F.lit(1)).alias("rows"),
                F.count_if(speed.isNull()).alias("null_speed"),
                F.sum(F.floor(speed * 1000)).alias("speed_checksum"),
            ).first().asDict()
            got["trips"] = read_dim(self.spark, self.wh).count()
            want = {k: v for k, v in self.expected.items() if k != "per_day"}
            want["rows"] = self.rows_per_pass
            if got != want:
                raise AssertionError(f"warehouse {got} != expected {want}")

        self.op("check.warehouse", check)
        p["written"] = dir_stats(self.wh)
        p["progress"] = [b["durationMs"] for b in self.progress
                         if "addBatch" in b.get("durationMs", {})]
        shutil.rmtree(self.wh, ignore_errors=True)

    def probe_layers(self) -> None:
        """Each lazy layer forced to the noop sink on its own, per day."""
        from busdata_pipeline_spark.functions.timestamps import breadcrumb_timestamp
        from busdata_pipeline_spark.operators.enrich import (
            enrich_breadcrumbs,
            trip_dimension,
        )
        from busdata_pipeline_spark.sources.jsonl import read_breadcrumb_jsonl

        self.kept = 0
        with self.tracer.span("probe"):
            for paths in self.inputs:
                raw = read_breadcrumb_jsonl(self.spark, paths)
                with self.tracer.span("sources.jsonl.scan"):
                    noop(raw)
                with self.tracer.span("functions.timestamps.parse"):
                    noop(raw.withColumn(
                        "tstamp", breadcrumb_timestamp("OPD_DATE", "ACT_TIME")))
                with self.tracer.span("operators.enrich.enrich"):
                    noop(enrich_breadcrumbs(raw))
                with self.tracer.span("operators.enrich.trip_dim"):
                    noop(trip_dimension(raw))
                self.kept += raw.count()

    def layer_metrics(self) -> dict[str, float]:
        n = len(self.passes)

        def probe(name: str) -> float:
            return sum(s["dur"] for s in self.tracer.spans if s["name"] == name)

        scan, parse = probe("sources.jsonl.scan"), probe("functions.timestamps.parse")
        batches = [b for p in self.passes for b in p["progress"]]
        trigger = sum(b["triggerExecution"] for b in batches) / 1000.0 / n
        add = sum(b["addBatch"] for b in batches) / 1000.0 / n
        m = {
            "sources.jsonl.scan_s": scan,
            "sources.jsonl.rows_kept_ratio": self.kept / self.lines,
            # a lazy layer's own time: its forced time minus its input's
            "functions.timestamps.parse_s": parse - scan,
            "operators.enrich.enrich_s": probe("operators.enrich.enrich") - parse,
            "operators.enrich.trip_dim_s": probe("operators.enrich.trip_dim") - scan,
            "operators.warehouse.bytes_written_per_input_byte": statistics.mean(
                p["written"][1] for p in self.passes) / self.input_bytes,
            "operators.warehouse.files_written": statistics.mean(
                p["written"][0] for p in self.passes),
            "streaming.ingest.batches": len(batches) / n,
            "streaming.ingest.batch_s": trigger,
            "streaming.ingest.add_batch_s": add,
            "streaming.ingest.overhead_s": trigger - add,
        }
        for name in ("load_day", "reload_day", "promote", "audit"):
            m[f"operators.warehouse.{name}_s"] = self.per_pass(
                f"operators.warehouse.{name}")
        return m


def layer_metrics(run: Run, names: list[str], cores: int) -> dict[str, float]:
    """Every per-layer metric in ``names`` for a traced run: per timed
    pass, 0 for layers the workload does not touch."""
    spans = run.tracer.spans
    m = dict.fromkeys(names, 0.0)
    for s in spans:
        if s["name"] in ("session.get_spark", "session.registry_import"):
            m[s["name"] + "_s"] = s["dur"]
    totals = [subtree_totals(spans, p["id"]) for p in run.passes]
    for c, v in totals[0].items():
        m[f"spark.{c}"] = sum(t[c] for t in totals) / len(totals)
    m["spark.idle_core_s"] = sum(
        p["dur"] * cores - t["executor_run_s"]
        for p, t in zip(run.passes, totals)) / len(totals)
    m["trace.run_s"] = statistics.median(p["dur"] for p in run.passes)
    m.update(run.layer_metrics())
    return m


def peak_rss_mb(spark) -> float:
    """JVM VmHWM + this process's ru_maxrss, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--layers", default="", help="comma-separated per-layer metric names")
    ap.add_argument("--spans", default=None, help="write the spans here (JSON)")
    args = ap.parse_args()

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", jobs=bool(args.trace))
    from busdata_pipeline_spark.session import get_spark

    with tracer.span("session.get_spark") as s_spark:
        spark = get_spark("perfbench")
    tracer.sc = spark.sparkContext
    with tracer.span("session.registry_import") as s_reg:
        import __spark_entry__  # noqa: F401
    spark.sparkContext.setLogLevel("ERROR")

    cls = {"breadcrumb_pipeline": BreadcrumbPipeline,
           "curation_batch": CurationBatch}[args.workload]
    run = cls(spark, tracer, args, args.work)
    with tracer.span("prepare") as s_prep:
        run.prepare()
    run.measure()
    if args.trace:
        run.probe_layers()
    rss = peak_rss_mb(spark)
    cores = spark.sparkContext.defaultParallelism
    spark.stop()

    run_s = statistics.median(p["dur"] for p in run.passes)
    lat = run.op_latencies()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors[:20],
        "passes": len(run.passes), "ops_timed": len(lat), "cores": cores,
        "prepare_s": s_prep["dur"],
        "pass_s": [p["dur"] for p in tracer.spans if p["name"] == "pass"],
        "setup_s": s_spark["dur"] + s_reg["dur"],
        "metrics": {
            "run_s": run_s,
            "op_p50_s": statistics.median(lat),
            "rows_per_s": run.rows_per_pass / run_s,
            "peak_rss_mb": rss,
        },
    }
    if args.trace:
        fold_event_log(os.path.join(args.work, "eventlog"), tracer.spans)
        record["layers"] = layer_metrics(run, args.layers.split(","), cores)
        record["layers"]["memory.peak_rss_mb"] = rss
    if args.spans:
        tracer.write(args.spans)
    with open(args.out, "w") as f:
        json.dump(record, f)


if __name__ == "__main__":
    main()
