#!/usr/bin/env python3
"""HTML->markdown extraction benchmark: docs/s end to end, plus a layer ledger.

Run from the repository root:

    python3 perfbench/run.py --workload extract_skewed --seed 1 \\
        --seconds 12 --trace 0

One Spark application at ``local[4]``.  The benchmark generates its corpus
from ``--seed`` (perfbench/corpus.py), drives the program only through
its public functions (``sources``, ``pipeline``, ``core.converter``,
``checkpoint``), checks the outputs (perfbench/checks.py) and prints, as
its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
describes the corpus and the checks (document counts, size classes,
output digest, failed share).

``--trace 0`` reports the end-to-end metrics (docs_per_s, setup_s,
peak_rss_mb, peak_worker_rss_mb).  ``--trace 1`` is a separate run with
Spark's event log on; it times each layer in passes of its own and
reports the per-layer metrics listed in perfbench/README.md.

Everything the run writes goes to ``.perfbench_work/`` under the
repository root and is removed at exit.  Without the program next to
``perfbench/`` the run exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import checks
import corpus as corpus_mod
from probes import RssSampler, cpu_steal, parse_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("extract_skewed", "extract_tiny")
CORES = 4
SETUP_REPEATS = 3
#: untimed extraction passes before the timed ones: the first pass in a
#: new JVM compiles the plan's code, the second runs in the new Python
#: workers of the last set-up restart
WARMUP_PASSES = 2
MIN_PASSES = 3
#: documents timed through convert_spans in this process and compared with
#: the Spark output (traced runs); untraced runs check every
#: CHECK_STRIDE-th of them
CONVERTER_SAMPLE = 500
CHECK_STRIDE = 10
#: passes per layer in a traced run; the layer's time is their median
LAYER_REPEATS = 3
#: the checkpoint layer runs on the first of the 4 corpus files, 4 buckets
#: in 2 waves, then resumes after losing 2 of the 4 manifests
CHECKPOINT_FILE = "part-000.parquet"
CHECKPOINT_BUCKETS = 4
CHECKPOINT_BUCKETS_PER_WAVE = 2
RESUME_BUCKETS = (1, 2)


def _load_program():
    """Import the program's public API from the repository root, or None."""
    sys.path.insert(0, ROOT)
    try:
        from html2text_spark import checkpoint, pipeline, sources
        from html2text_spark.core.config import Config
        from html2text_spark.core.converter import convert_spans
    except ImportError as exc:
        print("perfbench: cannot import html2text_spark from %s: %s" % (ROOT, exc),
              file=sys.stderr)
        return None
    return argparse.Namespace(
        Config=Config, convert_spans=convert_spans, pipeline=pipeline,
        sources=sources, checkpoint=checkpoint,
    )


class Spark:
    """The benchmark's Spark application: start, restart, and full shutdown."""

    def __init__(self, program):
        self.program = program
        self.session = None

    def start(self, event_log_dir: str = ""):
        builder = (
            SparkSession.Builder()
            .master("local[%d]" % CORES)
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(CORES))
            .config("spark.local.dir", os.path.join(WORK, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
            # C1 only.  With C2 the JVM side keeps speeding up for more
            # passes than a run can afford (extract_tiny: 5.7k -> 17k docs/s
            # over 10 passes on a busy host, still rising past 26k on a
            # quiet one), so timed passes would sample that ramp; C1 code
            # is settled after the first pass.  It costs the JVM layers
            # speed (see perfbench/README.md).  The heap is touched up
            # front so the JVM's resident size does not depend on when its
            # collector decides to grow the heap.
            .config("spark.driver.memory", "1g")
            .config("spark.driver.extraJavaOptions",
                    "-XX:TieredStopAtLevel=1 -Xms1g -XX:+AlwaysPreTouch "
                    "-XX:-UsePerfData -Djava.io.tmpdir=%s" % os.path.join(WORK, "tmp"))
            # workers import the program whatever the current directory is
            .config("spark.executorEnv.PYTHONPATH", ROOT)
        )
        for key, value in self.program.pipeline.recommended_session_conf().items():
            builder = builder.config(key, value)
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            builder = (
                builder.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", event_log_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.session = builder.getOrCreate()
        self.session.sparkContext.setLogLevel("ERROR")
        return self.session

    @property
    def jvm_pid(self) -> int:
        return self.session.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.session is not None:
            self.session.stop()
            self.session = None

    def close(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    """One workload on one corpus: passes, checks and their tallies."""

    def __init__(self, program, corpus, spark: Spark):
        self.p = program
        self.corpus = corpus
        self.spark = spark
        self.cfg = program.Config()
        self.n = len(corpus.docs)
        self.attempted = 0
        self.failed = 0
        self.notes = []
        self.digests = set()

    @property
    def session(self):
        return self.spark.session

    def group(self, name: str) -> None:
        self.session.sparkContext.setJobGroup(name, name)

    def scan(self, path: str = ""):
        """The corpus as documents(doc_id, spans), through ``sources``."""
        path = path or self.corpus.path
        src = self.p.sources
        if self.corpus.flat:
            return src.adapt_flat_documents(src.read_flat_documents(self.session, path))
        return src.read_documents(self.session, path)

    def _fail(self, count: int, note: str) -> None:
        if count:
            self.failed += count
            if note not in self.notes:
                self.notes.append(note)

    def _account(self, row, n_docs: int) -> None:
        """Tally one sink row: failed documents and the output digest."""
        self.attempted += n_docs
        self.digests.add(row["digest"])
        if len(self.digests) > 1:
            self._fail(n_docs, "output digest differs between passes")
        else:
            self._fail(checks.sink_failures(row, n_docs),
                       "missing, extra, malformed or media-count failures")

    # -- passes ---------------------------------------------------------

    def setup(self, event_log_dir: str = "") -> float:
        """(Re)start the session and run the default-config known answers,
        which start the Python workers and import the program in them;
        returns the wall seconds."""
        self.spark.stop()
        t0 = time.perf_counter()
        self.spark.start(event_log_dir)
        self.group("setup")
        self.known_answers(self.cfg, checks.DEFAULT_CASES)
        return time.perf_counter() - t0

    def known_answers(self, cfg, cases) -> None:
        # one task per core: every Python worker starts in the set-up
        bad = checks.known_answers(
            self.session, self.p.pipeline.extract, cfg, cases, CORES)
        self.attempted += len(cases)
        self._fail(len(bad), "known answers failed: %s" % ",".join(bad))

    def extract_pass(self) -> float:
        """One extraction over the corpus into the checked sink; returns
        its wall seconds."""
        t0 = time.perf_counter()
        row = checks.sink(self.p.pipeline.extract(self.scan(), self.cfg))
        wall = time.perf_counter() - t0
        self._account(row, self.n)
        return wall

    def checkpoint_pass(self, out: str) -> tuple:
        """A fresh checkpointed run over CHECKPOINT_FILE, then a resume of
        RESUME_BUCKETS; returns (run_s, resume_s)."""
        ck = self.p.checkpoint
        docs = self.scan(os.path.join(self.corpus.path, CHECKPOINT_FILE))
        kwargs = dict(cfg=self.cfg, num_buckets=CHECKPOINT_BUCKETS,
                      buckets_per_wave=CHECKPOINT_BUCKETS_PER_WAVE,
                      input_lineage=CHECKPOINT_FILE)
        shutil.rmtree(out, ignore_errors=True)
        self.group("checkpoint.run")
        t0 = time.perf_counter()
        ck.run_extraction_checkpointed(self.session, docs, out, **kwargs)
        run_s = time.perf_counter() - t0
        for b in RESUME_BUCKETS:
            os.remove(os.path.join(out, "_manifests", "part-%d.json" % b))
        self.group("checkpoint.resume")
        t0 = time.perf_counter()
        ck.run_extraction_checkpointed(self.session, docs, out, **kwargs)
        resume_s = time.perf_counter() - t0
        # the committed output holds every document exactly once
        self.group("check")
        row = checks.sink(ck.read_extracted(self.session, out))
        n_docs = self.corpus.per_file
        self.attempted += n_docs
        self._fail(checks.sink_failures(row, n_docs), "checkpoint output incomplete")
        self._fail(int(ck.completed_buckets(out) != list(range(CHECKPOINT_BUCKETS))),
                   "checkpoint manifests incomplete after resume")
        return run_s, resume_s

    # -- checks -----------------------------------------------------------

    def check_sample(self, docs) -> list:
        """Spark output must equal in-process convert_spans on ``docs``;
        returns the in-process milliseconds per document."""
        expected, ms = {}, []
        for doc in docs:
            t0 = time.perf_counter()
            expected[doc.doc_id] = self.p.convert_spans(doc.spans, self.cfg)
            ms.append((time.perf_counter() - t0) * 1000.0)
        self.group("check")
        rows = self.p.pipeline.extract(
            self.scan().filter(F.col("doc_id").isin(list(expected))), self.cfg).collect()
        bad = checks.compare_sample(rows, expected)
        self.attempted += len(expected)
        self._fail(len(bad), "sample differs from convert_spans: %s" % ",".join(bad[:5]))
        return ms


def _quantile(sorted_xs, q: float) -> float:
    return sorted_xs[min(len(sorted_xs) - 1, int(q * len(sorted_xs)))]


def _timed_passes(run_pass, seconds: float) -> list:
    """Run passes until ``seconds`` are spent, and at least MIN_PASSES."""
    out = []
    t_end = time.perf_counter() + seconds
    while len(out) < MIN_PASSES or time.perf_counter() < t_end:
        out.append(run_pass())
    return out


def run_untraced(bench: Bench, seconds: float) -> tuple:
    # the cold set-up launches the JVM; setup_s is the median of the
    # restarts in the same JVM.  WARMUP_PASSES untimed passes run before
    # the timed ones: the first after the cold set-up, the rest after the
    # last restart, so its fresh Python workers are warm too.
    cold = bench.setup()
    first_pass = bench.extract_pass()
    setup = [bench.setup() for _ in range(SETUP_REPEATS)]
    for _ in range(WARMUP_PASSES - 1):
        bench.extract_pass()
    steal0 = cpu_steal()
    with RssSampler(bench.spark.jvm_pid) as rss:
        walls = _timed_passes(bench.extract_pass, seconds)
    steal = cpu_steal(steal0)
    bench.check_sample(bench.corpus.sample[::CHECK_STRIDE])
    bench.known_answers(bench.p.Config(inline_links=False), checks.NO_INLINE_LINKS_CASES)
    rates = [bench.n / w for w in walls]
    metrics = {
        "docs_per_s": (statistics.median(rates), "docs/s"),
        "setup_s": (statistics.median(setup), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "peak_worker_rss_mb": (rss.peak_children_mb, "MB"),
    }
    info = {"setup_cold_s": round(cold, 3),
            "first_pass_s": round(first_pass, 3),
            "setup_samples_s": [round(s, 3) for s in setup],
            "docs_per_s_passes": [round(r, 1) for r in rates],
            "peak_rss_jvm_mb": round(rss.peak_root_mb, 1),
            "cpu_steal_share": round(steal, 4)}
    return metrics, info


def _scan_agg(df):
    """A built-in-only sink that reads every span text."""
    text_bytes = F.aggregate(
        F.transform("spans", lambda s: F.coalesce(F.length(s["text"]), F.lit(0))),
        F.lit(0), lambda acc, x: acc + x)
    return df.agg(F.count("*"), F.sum(F.length("doc_id")),
                  F.sum(F.size("spans")), F.sum(text_bytes)).collect()


def _identity(batches):
    yield from batches


def run_traced(bench: Bench, seconds: float, out_dir: str) -> tuple:
    """Per-layer ledger with the event log on: the extract passes timed as
    in run_untraced, then each other layer as LAYER_REPEATS passes of its
    own."""
    log_dir = os.path.join(WORK, "eventlog")
    bench.setup(event_log_dir=log_dir)
    # setup_s is not reported here, so no restarts; as many untimed passes
    # as in run_untraced
    for _ in range(WARMUP_PASSES):
        bench.extract_pass()
    bench.group("pipeline.extract")
    walls = _timed_passes(bench.extract_pass, seconds)
    pl = bench.p.pipeline

    def roundtrip():
        docs = bench.scan().select("doc_id", "spans")
        return _scan_agg(docs.mapInPandas(_identity, docs.schema))

    layers = {
        "sources.scan": lambda: _scan_agg(bench.scan()),
        "pipeline.arrow_roundtrip": roundtrip,
        "pipeline.metrics_only": lambda: pl.extract_metrics_only(
            bench.scan(), bench.cfg).agg(
                F.count("*"), F.sum(F.col("metrics.malformed").cast("int"))).collect(),
    }
    times = {}
    for name, run_layer in layers.items():
        bench.group(name)
        walls_layer = []
        for _ in range(LAYER_REPEATS):
            t0 = time.perf_counter()
            run_layer()
            walls_layer.append(time.perf_counter() - t0)
        times[name] = statistics.median(walls_layer)
    run_s, resume_s = bench.checkpoint_pass(out_dir)
    files, out_bytes = 0, 0
    for dirpath, _dirs, names in os.walk(out_dir):
        files += len(names)
        out_bytes += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    conv = sorted(bench.check_sample(bench.corpus.sample))
    bench.known_answers(bench.p.Config(inline_links=False), checks.NO_INLINE_LINKS_CASES)
    bench.spark.stop()  # completes the event log

    groups = parse_event_log(log_dir)
    ex = groups["pipeline.extract"]
    task_s = sorted(ex.python_task_s)
    p50 = _quantile(task_s, 0.5)
    extract_s = statistics.median(walls)
    passes = len(walls)
    ck_mb_in = bench.corpus.stats()["mb"] / bench.corpus.files
    metrics = {
        "sources.scan_s": (times["sources.scan"], "s"),
        "pipeline.arrow_roundtrip_s": (times["pipeline.arrow_roundtrip"], "s"),
        "pipeline.arrow_to_python_bytes": (ex.py_sent / passes, "bytes"),
        "pipeline.arrow_from_python_bytes": (ex.py_received / passes, "bytes"),
        "pipeline.metrics_only_s": (times["pipeline.metrics_only"], "s"),
        "pipeline.extract_s": (extract_s, "s"),
        "pipeline.extract_docs_per_s": (bench.n / extract_s, "docs/s"),
        "pipeline.task_s_p50": (p50, "s"),
        "pipeline.task_s_max": (task_s[-1], "s"),
        "pipeline.tail_ratio": (task_s[-1] / p50, "ratio"),
        "pipeline.gc_s": (ex.gc_s / passes, "s"),
        "pipeline.spill_bytes": (ex.spill_bytes / passes, "bytes"),
        "converter.docs_per_s_1core": (1000.0 * len(conv) / sum(conv), "docs/s"),
        "converter.ms_p50": (_quantile(conv, 0.5), "ms"),
        "converter.ms_p99": (_quantile(conv, 0.99), "ms"),
        "converter.ms_max": (conv[-1], "ms"),
        "checkpoint.run_s": (run_s, "s"),
        "checkpoint.resume_s": (resume_s, "s"),
        "checkpoint.jobs": (groups["checkpoint.run"].jobs, "count"),
        "checkpoint.files_written": (files, "count"),
        "checkpoint.bytes_written_per_mb_in": (out_bytes / ck_mb_in, "bytes/MB"),
    }
    info = {"extract_passes": passes,
            "python_tasks_per_extract_pass": len(task_s) // passes,
            "converter_sample": len(conv)}
    return metrics, info


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    program = _load_program()
    if program is None:
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    # the JVMs and the Python workers inherit these: temporary files stay
    # in the work directory (including those of the launcher JVM that
    # spark-submit runs first), and string hashing in the workers is fixed
    # so dict and set layouts repeat from run to run
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp
    os.environ["PYTHONHASHSEED"] = "0"
    tempfile.tempdir = None  # re-read TMPDIR

    t_run = t0 = time.perf_counter()
    # one corpus file per core: Spark reads the corpus as CORES tasks
    corpus = corpus_mod.build(args.workload, args.seed, CONVERTER_SAMPLE, CORES)
    corpus_mod.write(corpus, os.path.join(WORK, "corpus"))
    corpus_s = time.perf_counter() - t0

    spark = Spark(program)
    bench = Bench(program, corpus, spark)
    try:
        if args.trace:
            metrics, info = run_traced(bench, args.seconds, os.path.join(WORK, "checkpoint-out"))
        else:
            metrics, info = run_untraced(bench, args.seconds)
    finally:
        spark.close()
        shutil.rmtree(WORK, ignore_errors=True)

    info.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "corpus": corpus.stats(), "corpus_build_s": round(corpus_s, 3),
        "run_wall_s": round(time.perf_counter() - t_run, 1),
        "digest": ["%016x" % (d & (2 ** 64 - 1)) for d in sorted(bench.digests)],
        "failed_share": bench.failed / bench.attempted,
        "notes": bench.notes,
    })
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
