"""Benchmark of record for go_mapreduce_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One driver process generates the
workload's inputs from the seed, starts ``local[nproc]``, warms up,
then runs passes over the workload's ops (in an order set by the seed)
for ``--seconds``.  Every op execution is checked against a reference
outside its timed window; a wrong result counts as failed.  The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  A traced run also writes
its spans to ``perfbench/.work/traces/`` for ``perfbench/report.py``.

Workloads (see BENCHMARK.json and perfbench/README.md):

- ``wordcount_mr``: the paper's job on a seeded Zipf corpus, through the
  RDD MapReduce shim and through the DataFrame word count.
- ``registry_mix``: registry queries on seeded tables.  A multi-way
  join is bound by execution; a checkpointed BFS loop and a micro-batch
  stream spend their time in build-time eager work; a lakehouse query
  reads the table it built in the first warm pass.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spark_probe  # noqa: E402
import stats  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
SF = 0.01  # registry tables: lineitem has 60k rows
CORPUS_TOKENS = 120_000  # about 1 MB of text
VOCAB_SIZE = 190_000
ZIPF_S = 1.05
N_MAP, N_REDUCE = 5, 3  # the reference's wc.go NMap / NReduce
# A small, fixed driver heap: the inputs are small, and with a heap that
# grows on demand the peak RSS of runs fell in two groups (2.4 or 4.2 GB).
DRIVER_HEAP = "2g"
# Op walls keep falling for a few executions after a session starts
# (JIT and Python worker warm-up), so set-up runs two passes before
# anything is timed.
WARM_PASSES = 2
# Whole passes stop short of the run's seconds, but never before two:
# a single pass follows every stall of the host, and a traced
# run needs one traced and one untraced pass for the tracing overhead.
MIN_PASSES = 2
IVF_CLUSTERED_RECALL_MIN = 1.0

WORDCOUNT_OPS = ("mr_shim", "mr_df")
WORKLOADS = {
    "wordcount_mr": WORDCOUNT_OPS,
    "registry_mix": (
        "q5_multiway_join",  # execution-bound
        # build-time eager work: loop, stream
        "x164_khop_reachability",
        "x89_stream_sliding",
        # builds its table once (in the first warm pass), then reads it
        "x149_lakehouse_merge",
    ),
}
# span layer -> the per-layer metric that sums its durations
SPAN_METRICS = {
    "queries.build": "queries.build_s",
    "exec": "exec.s",
    "mapreduce.call": "mapreduce.call_s",
    "mapreduce.write": "mapreduce.write_s",
    "wordcount.call": "wordcount.call_s",
    "wordcount.write": "wordcount.write_s",
}
# (per-layer metric, stage field summed over an op's stages, scale)
STAGE_METRICS = (
    ("exec.task_cpu_s", "cpu_s", 1),
    ("exec.gc_s", "gc_s", 1),
    ("exec.input_mb", "input_b", 1e-6),
    ("exec.shuffle_write_mb", "shuffle_write_b", 1e-6),
    ("exec.shuffle_read_mb", "shuffle_read_b", 1e-6),
    ("exec.spill_mb", "spill_b", 1e-6),
    ("exec.failed_tasks", "failed_tasks", 1),
)


class Failed(Exception):
    """An op ran but its output was wrong."""


def clustered_corpus() -> list[tuple[int, list[float]]]:
    """bench.py's fixed IVF gate corpus: 20 clusters of 25 noisy unit
    vectors in 64 dimensions."""
    rng = random.Random(7)
    vecs = []
    for _c in range(20):
        center = [rng.gauss(0, 1) for _ in range(64)]
        norm = sum(x * x for x in center) ** 0.5
        for _ in range(25):
            vecs.append((len(vecs), [c / norm + rng.gauss(0, 0.05) for c in center]))
    return vecs


def exact_topk(vecs, query_ids, k: int) -> set[tuple[int, int]]:
    """(query, neighbour) pairs of the exact cosine top-k, self excluded,
    ties to the lower id: the reference the IVF gate is measured against."""
    import numpy as np

    v = np.array([e for _i, e in vecs], dtype=np.float32).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out = set()
    for q in query_ids:
        sim = v @ v[q]
        sim[q] = -np.inf
        order = np.lexsort((np.arange(len(v)), -sim))[:k]
        out.update((q, int(j)) for j in order)
    return out


def isolate(run_dir: str) -> str:
    """Point every temp, spill and worker path of this process tree into
    ``run_dir`` and make the checkout's package importable by Python
    workers.  Returns the temp dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM (launcher and driver): temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return tmp


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.workload, self.seed = workload, seed
        self.trace_run = trace  # this run reports per-layer metrics
        self.tracing = False  # the current pass records spans
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.tmp = isolate(self.run_dir)
        self.data = os.path.join(self.run_dir, "data")
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
        }
        self.order = list(WORKLOADS[workload])
        random.Random(seed).shuffle(self.order)
        self.attempted = self.failed = 0
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self.peak_rss_mb = 0.0
        self.spark = None
        self.root = self.last_df = None
        self.distinct_words = 0  # wordcount_mr only

    # ---------------------------------------------------------- inputs
    def make_inputs(self) -> None:
        if self.workload == "wordcount_mr":
            os.makedirs(self.data)
            self.corpus = os.path.join(self.data, "corpus.txt")
            counts = gen.write_corpus(self.corpus, self.seed, CORPUS_TOKENS, VOCAB_SIZE, ZIPF_S)
            self.corpus_mb = os.path.getsize(self.corpus) / 1e6
            self.distinct_words = len(counts)
            self.expected_tsv = "".join(f"{w}\t{c}\n" for w, c in sorted(counts.items()))
            self.expected_tsv = self.expected_tsv.encode()
            return
        import oracle
        from go_mapreduce_spark.queries import ORACLE_SQL

        gen.write_tables(self.data, self.seed, SF)
        self.oracle = oracle.oracle_results(self.data, {n: ORACLE_SQL[n] for n in self.order})

    # ---------------------------------------------------------- session
    def start_session(self) -> float:
        from go_mapreduce_spark.session import ensure_package_on_executors, get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=CPUS, extra_conf=self.conf)
        ensure_package_on_executors(self.spark)
        self.spark.range(1).collect()
        return time.perf_counter() - t0

    def setup(self) -> None:
        self.session_start_s = self.start_session()
        self.sc = self.spark.sparkContext
        self.baseline_conf = dict(self.spark.conf.getAll)
        if self.trace_run:
            self.listener = spark_probe.StreamProgress()
            self.spark.streams.addListener(self.listener)
        before = spark_probe.files_under(self.tmp)
        t0 = time.perf_counter()
        for i in range(WARM_PASSES):
            self.run_pass(f"warm{i}")
        self.warm_s = time.perf_counter() - t0
        self.setup_s = self.session_start_s + self.warm_s
        self.warm_written = spark_probe.written(before, spark_probe.files_under(self.tmp),
                                                self.tmp)

    def stop(self) -> None:
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        except Py4JError:  # interrupted before the session finished starting
            pass
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # ---------------------------------------------------------- tracing
    @contextmanager
    def span(self, layer: str, op: str, tag: str):
        """A span around one call into a layer; traced runs also run the
        call's Spark jobs under their own job group."""
        if not self.tracing:
            yield
            return
        group = f"{tag}/{op}/{layer}"
        self.sc.setJobGroup(group, layer)
        s = self.new_span(self.root, layer, op, tag, time.time(), group=group)
        try:
            yield
        finally:
            s["end"] = time.time()
            self.sc.setJobGroup(f"{tag}/{op}", "op")

    def new_span(self, parent, layer, op, tag, start, end=None, group=None) -> dict:
        s = {"id": len(self.spans), "parent": parent, "layer": layer, "op": op, "tag": tag,
             "group": group, "start": start, "end": end}
        self.spans.append(s)
        return s

    # ---------------------------------------------------------- ops
    def run_op(self, op: str, tag: str):
        """Run one op; returns what its check needs."""
        if op in WORDCOUNT_OPS:
            out = os.path.join(self.tmp, "wc_out", op)
            if op == "mr_shim":
                from go_mapreduce_spark.mapreduce import word_count, write_merged_tsv

                with self.span("mapreduce.call", op, tag):
                    rdd = word_count(self.spark, self.corpus, n_map=N_MAP, n_reduce=N_REDUCE)
                with self.span("mapreduce.write", op, tag):
                    write_merged_tsv(rdd, out)
            else:
                from pyspark.sql import functions as F

                from go_mapreduce_spark.functions.tokenize import word_counts
                from go_mapreduce_spark.sources.sinks import write_sorted_tsv

                with self.span("wordcount.call", op, tag):
                    text = self.spark.read.text(self.corpus).withColumnRenamed("value", "text")
                    df = word_counts(text).select(F.col("word"), F.col("cnt").cast("string"))
                with self.span("wordcount.write", op, tag):
                    write_sorted_tsv(df, out, ["word"], single_file=True)
            return out
        from go_mapreduce_spark.queries import QUERIES

        with self.span("queries.build", op, tag):
            df = QUERIES[op](self.spark, self.data)
        with self.span("exec", op, tag):
            rows = df.collect()
        self.last_df = df
        return df.columns, rows

    def check(self, op: str, out) -> None:
        if op in WORDCOUNT_OPS:
            got = b""
            for name in sorted(f for f in os.listdir(out) if f.startswith("part-")):
                with open(os.path.join(out, name), "rb") as f:
                    got += f.read()
            if got != self.expected_tsv:
                raise Failed(f"{op}: TSV differs from the generator's counts")
            return
        import oracle

        cols, rows = out
        why = oracle.mismatch(self.oracle[op], cols, rows)
        if why:
            raise Failed(f"{op}: {why}")

    def restore(self) -> dict:
        """Count what the op left behind in the session, then undo it so
        one op cannot bill the next."""
        spark, jsc = self.spark, self.sc._jsc
        conf = dict(spark.conf.getAll)
        changed = [k for k in set(conf) | set(self.baseline_conf)
                   if conf.get(k) != self.baseline_conf.get(k)]
        for k in changed:
            if k in self.baseline_conf:
                spark.conf.set(k, self.baseline_conf[k])
            else:
                spark.conf.unset(k)
        persisted = list(jsc.getPersistentRDDs().values())
        for rdd in persisted:
            rdd.unpersist(True)
        streams = spark.streams.active
        for q in streams:
            q.stop()
        spark.catalog.clearCache()
        return {"leak.persisted_rdds": len(persisted), "leak.conf_changes": len(changed),
                "leak.active_streams": len(streams)}

    def execute(self, op: str, tag: str, traced: bool) -> tuple[float, float]:
        """One checked execution; returns (op wall, trace collection time)."""
        if op in WORDCOUNT_OPS:
            shutil.rmtree(os.path.join(self.tmp, "wc_out", op), ignore_errors=True)
        self.tracing = traced
        if traced:
            spark_probe.flush_listeners(self.sc)
            self.listener.drain()  # progress of earlier, untraced streams
            self.sc.setJobGroup(f"{tag}/{op}", "op")
            before = spark_probe.files_under(self.tmp)
            root = self.new_span(None, "op", op, tag, time.time(), group=f"{tag}/{op}")
            self.root = root["id"]
        self.attempted += 1
        out, error = None, None
        t0 = time.perf_counter()
        try:
            out = self.run_op(op, tag)
        except Exception:  # noqa: BLE001 - any op error counts as a failed op
            error = traceback.format_exc()
        wall = time.perf_counter() - t0
        collect_s = 0.0
        if traced:
            root["end"] = time.time()
            t1 = time.perf_counter()
            self.collect_trace(op, tag, root, wall, before)
            collect_s = time.perf_counter() - t1
            self.sc.setJobGroup("perfbench", "between ops")
        if error is None:
            try:
                self.check(op, out)
            except Failed as e:
                error = str(e)
        if error is not None:
            self.failed += 1
            print(f"FAILED {op} ({tag}): {error}", file=sys.stderr)
        leaks = self.restore()
        if traced:
            self.records[-1]["total"].update(leaks)
        self.peak_rss_mb = max(self.peak_rss_mb, spark_probe.process_tree_rss_mb(os.getpid()))
        return wall, collect_s

    def collect_trace(self, op: str, tag: str, root: dict, wall: float, before: dict) -> None:
        sc = self.sc
        spark_probe.flush_listeners(sc)
        tracker = sc.statusTracker()
        mine = [s for s in self.spans[root["id"]:] if s["group"]]
        jobs_by_span = {s["id"]: list(tracker.getJobIdsForGroup(s["group"])) for s in mine}
        batches = self.listener.drain()
        stream_jobs = [j for rid in {b["run_id"] for b in batches}
                       for j in tracker.getJobIdsForGroup(rid)]
        build_span = next((s for s in mine if s["layer"] in ("queries.build", "mapreduce.call",
                                                             "wordcount.call")), root)
        batch_spans = []
        for b in batches:
            start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
            batch_spans.append(self.new_span(
                build_span["id"], "streaming.batch", op, tag, start,
                start + b["ms"].get("triggerExecution", 0) / 1000.0))
        for _j, a, b in spark_probe.job_spans(sc, stream_jobs):
            parent = next((s["id"] for s in batch_spans if s["start"] <= a <= s["end"]),
                          build_span["id"])
            self.new_span(parent, "spark.job", op, tag, a, b)
        all_jobs = sorted({j for js in jobs_by_span.values() for j in js} | set(stream_jobs))
        for sid, js in jobs_by_span.items():
            for _j, a, b in spark_probe.job_spans(sc, js):
                self.new_span(sid, "spark.job", op, tag, a, b)
        stages = spark_probe.stage_metrics(sc, all_jobs)
        build_jobs = len(jobs_by_span.get(build_span["id"], []))
        total = {"queries.build_jobs": build_jobs if build_span["layer"] == "queries.build" else 0}
        for s in mine:
            if s["layer"] in SPAN_METRICS:
                name = SPAN_METRICS[s["layer"]]
                total[name] = total.get(name, 0.0) + s["end"] - s["start"]
        for name, field, scale in STAGE_METRICS:
            total[name] = sum(st[field] for st in stages) * scale
        if op in WORDCOUNT_OPS:
            layer = "mapreduce" if op == "mr_shim" else "wordcount"
            total[f"{layer}.shuffle_records"] = sum(st["shuffle_write_records"] for st in stages)
        write_span = next((s for s in mine if s["layer"] == "mapreduce.write"), None)
        write_stages = (spark_probe.stage_metrics(sc, jobs_by_span[write_span["id"]])
                        if write_span is not None else [])
        if write_stages:  # none when the op raised before its TSV write ran
            # map: the stage reading the corpus; merge: the last stage of
            # the TSV write; reduce: the rest (grouping, sortByKey sampling)
            merge = max(st["stage"] for st in write_stages)
            for st in stages:
                part = "map" if st["input_b"] > 0 else "merge" if st["stage"] == merge else "reduce"
                key = f"mapreduce.{part}_stage_s"
                total[key] = total.get(key, 0.0) + st["wall_s"]
        if self.last_df is not None:
            for phase, ms in spark_probe.plan_phases_ms(self.last_df).items():
                total[f"plan.{phase}_ms"] = ms
            self.last_df = None
        total["streaming.batches"] = len(batches)
        for key, field in (("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
                           ("query_planning_ms", "queryPlanning")):
            total[f"streaming.{key}"] = sum(b["ms"].get(field, 0) for b in batches)
        w = spark_probe.written(before, spark_probe.files_under(self.tmp), self.tmp)
        total.update({"lakehouse.commits": w["commits"], "lakehouse.mb_written": w["lake_mb"],
                      "sinks.mb_written": w["other_mb"]})
        self.records.append({
            "op": op, "tag": tag, "wall_s": wall, "total": total,
            "build_jobs": build_jobs, "jobs": len(all_jobs), "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages),
            "task_run_s": sum(st["run_s"] for st in stages),
            "stage_skew": (spark_probe.task_skew(sc, max(stages, key=lambda st: st["run_s"]))
                           if stages else 1.0),
            "triggers_ms": [b["ms"].get("triggerExecution", 0) for b in batches],
        })

    def run_pass(self, tag: str, traced: bool = False) -> tuple[dict[str, float], float]:
        """Every op once, in the seeded order; returns op walls and the
        trace collection time."""
        walls, collect_s = {}, 0.0
        for op in self.order:
            walls[op], c = self.execute(op, tag, traced)
            collect_s += c
        print(f"pass {tag}: " + " ".join(f"{op}={w:.2f}s" for op, w in walls.items()),
              file=sys.stderr)
        return walls, collect_s

    # ---------------------------------------------------------- gates
    def ivf_gate(self) -> dict[str, float]:
        """bench.py's IVF quality gate: ``ann_ivf_topk`` on its fixed
        clustered corpus must reach IVF_CLUSTERED_RECALL_MIN recall
        against the exact top-5.  It trains an index from cold (about
        10 s), so only traced registry_mix runs pay for it."""
        if self.workload != "registry_mix" or not self.trace_run:
            return {}
        from pyspark.sql import functions as F

        from go_mapreduce_spark.operators.similarity import ann_ivf_topk

        vecs = clustered_corpus()
        clustered = self.spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        probe = clustered.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
        truth = exact_topk(vecs, range(20), 5)
        ivf = {(r.query_id, r.neighbor_id) for r in ann_ivf_topk(clustered, probe).collect()}
        recall = len(ivf & truth) / len(truth)
        self.restore()
        self.attempted += 1
        if recall < IVF_CLUSTERED_RECALL_MIN:
            self.failed += 1
            print(f"FAILED gate ivf_recall_clustered: {recall:.4f}", file=sys.stderr)
        return {"ivf_recall_clustered": recall}

    # ---------------------------------------------------------- driver
    def measure(self, seconds: float) -> None:
        """Passes until the next would overrun ``seconds`` (at least
        MIN_PASSES).  Traced runs alternate traced and untraced passes so
        the difference is the tracing overhead."""
        self.pass_walls: list[float] = []
        self.traced_walls: list[float] = []
        self.op_walls: dict[str, list[float]] = {op: [] for op in self.order}
        t0 = time.perf_counter()
        i = 0
        while True:
            traced = self.trace_run and i % 2 == 0
            walls, collect_s = self.run_pass(f"p{i}", traced)
            total = sum(walls.values())
            (self.traced_walls if traced else self.pass_walls).append(total + collect_s)
            if not traced:
                for op, w in walls.items():
                    self.op_walls[op].append(w)
            i += 1
            elapsed = time.perf_counter() - t0
            if i >= MIN_PASSES and elapsed + elapsed / i > seconds:
                break

    def end_to_end(self) -> dict[str, float]:
        medians = [statistics.median(ws) for ws in self.op_walls.values()]
        return {
            "setup_s": self.setup_s,
            "wall_s": statistics.median(self.pass_walls),
            "query_geomean_s": stats.geomean(medians),
        }

    def workload_specific(self, gates: dict[str, float]) -> dict[str, float]:
        """Figures only some workloads have: word-count throughputs and IVF
        recall (zero where a workload has no such op), and the failed share."""
        out = {"mr_shim_mb_s": 0.0, "mr_df_mb_s": 0.0, "ivf_recall_clustered": 0.0}
        if self.workload == "wordcount_mr":
            for op in WORDCOUNT_OPS:
                out[f"{op}_mb_s"] = self.corpus_mb / statistics.median(self.op_walls[op])
        out.update(gates)
        out["failed_frac"] = stats.failed_frac(self.failed, self.attempted)
        return out

    def per_layer(self, names: list[str]) -> dict[str, float]:
        """Per-layer figures: the median over traced passes of each pass's
        total; ratios are taken within a pass."""
        by_pass: dict[str, list[dict]] = {}
        for r in self.records:
            by_pass.setdefault(r["tag"], []).append(r)
        per_pass = []
        for recs in by_pass.values():
            total: dict[str, float] = {}
            for r in recs:
                for k, v in r["total"].items():
                    total[k] = total.get(k, 0.0) + v
            wall = sum(r["wall_s"] for r in recs)
            triggers = [t for r in recs for t in r["triggers_ms"]]
            total.update({
                "spark.jobs": sum(r["jobs"] for r in recs),
                "spark.stages": sum(r["stages"] for r in recs),
                "spark.tasks": sum(r["tasks"] for r in recs),
                "spark.core_busy": sum(r["task_run_s"] for r in recs) / (wall * CPUS),
                "queries.build_share": total.get("queries.build_s", 0.0) / wall,
                "exec.stage_skew": max(r["stage_skew"] for r in recs),
                "streaming.trigger_ms_p50": statistics.median(triggers) if triggers else 0.0,
            })
            for layer in ("mapreduce", "wordcount"):
                n = total.pop(f"{layer}.shuffle_records", 0.0)
                total[f"{layer}.shuffle_records_per_word"] = (
                    n / self.distinct_words if self.distinct_words else 0.0)
            per_pass.append(total)
        out = {m: statistics.median(p.get(m, 0.0) for p in per_pass) for m in names}
        out.update({
            "session.start_s": self.session_start_s,
            "session.warm_s": self.warm_s,
            "session.peak_rss_mb": self.peak_rss_mb,
            "lakehouse.setup_commits": self.warm_written["commits"],
            "lakehouse.setup_mb_written": self.warm_written["lake_mb"],
            "trace.overhead_s": (statistics.median(self.traced_walls)
                                 - statistics.median(self.pass_walls)),
        })
        return out

    def write_trace(self) -> str:
        d = os.path.join(WORK, "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"trace-{self.workload}-s{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed, "cpus": CPUS,
                       "spans": self.spans, "records": self.records}, f)
        return path


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    sys.path.insert(0, ROOT)
    try:
        import go_mapreduce_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    bench = Bench(args.workload, args.seed, bool(args.trace))
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        print(f"[{time.perf_counter() - t0:7.2f} s] {name}", file=sys.stderr, flush=True)

    try:
        bench.make_inputs()
        phase("inputs made")
        bench.setup()
        phase("set up")
        bench.measure(args.seconds)
        phase("measured")
        gates = bench.ivf_gate()
        phase("gates checked")
        extra = bench.workload_specific(gates)
        if args.trace:
            metrics = bench.per_layer([m["name"] for m in spec["per_layer"]])
            metrics.update(extra)
            print(f"trace: {bench.write_trace()}", file=sys.stderr)
        else:
            metrics = bench.end_to_end()
            print("workload figures: " + json.dumps(extra), flush=True)
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(bench.run_dir, ignore_errors=True)
            phase("stopped")
    declared = spec["per_layer" if args.trace else "end_to_end"]
    if set(metrics) != {m["name"] for m in declared}:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(metrics)}")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
