"""Contract-run benchmark for dcspark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload audio_pass --seed 1 --seconds 15 --trace 0

One run is one closed-loop client: after generating its tables and a timed
set-up it runs the workload's contract back to back on ``local[4]`` for
``--seconds`` seconds, through the calls ``dcspark.cli test`` makes
(contract parse, table load, ``engine.validate``, results and violations
sinks, JUnit XML, exit code), and checks every run's verdict, per-check
results and violation rows against what the workload's generator flags
predict (``gen.py``). The Python API is driven instead of a
``dcspark.cli test`` subprocess because only the API takes the SNR oracle
that the decode-conformance check needs.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end ones. With ``--trace 1`` the run splits ``--seconds`` between
the untraced loop and, after restarting the session with the Spark event log
on, a traced loop; it reports per-layer numbers (``evlog.py``) and the
tracing overhead. The line before it records the Spark configuration, the
host noise probe and every sample.

Every file a run writes, the generated tables included, goes to a
per-process directory under ``.perfbench_data/`` at the checkout root, which
is removed at exit. perfbench/README.md describes workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import evlog  # noqa: E402
import gen  # noqa: E402

DATA = os.path.join(ROOT, ".perfbench_data")
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
#: contract runs before timing, at least WARMUP_RUNS and at least WARMUP_S
#: seconds of them: the first run pays codegen and Python-worker start
#: (about twice a warm run), and JIT compilation keeps the next 15 s or so
#: of runs 5-25% slow
WARMUP_RUNS = 2
WARMUP_S = 15
MIN_TIMED_RUNS = 3
#: the program files a run needs; without them it fails before any work
REQUIRED = ("dcspark/cli.py", "dcspark/engine.py", "contracts/audio_clips.yaml")

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "clips_per_s": "1/s",
                    "cpu_s_per_kclip": "s", "peak_rss_mb": "MB",
                    "correct_rate": "ratio"}
PER_LAYER_UNITS = {
    "spec.parse_s": "s", "compile.create_checks_s": "s",
    "compile.checks": "count", "io.load_tables_s": "s",
    "drift.build_ref_stats_s": "s",
    "engine.validate_s": "s", "engine.compute_wall_s": "s",
    "engine.driver_s": "s", "engine.shared_scan_s": "s",
    "engine.unique_s": "s", "engine.reference_s": "s",
    "engine.join_eq_s": "s", "engine.violation_rows": "count",
    "io.write_results_s": "s", "io.write_violations_s": "s",
    "io.sink_bytes": "bytes", "output.junit_s": "s",
    "python.worker_s": "s", "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "scan.files_read": "count",
    "scan.input_bytes": "bytes", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.spill_bytes": "bytes", "spark.jobs": "count",
    "spark.tasks": "count",
    **{f"layer.{name}_cpu_s": "s" for name in evlog.LAYERS},
    "trace.overhead_s": "s", "host.steal_probe_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def steal_probe(n: int = 3_000_000) -> float:
    """Seconds for a fixed single-thread busy loop, the host-steal probe of
    scripts/scaling_bench.py at a smaller n: guest load average cannot see
    other tenants taking the host's cores, this loop's wall time can."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def use_scratch(scratch: str) -> None:
    """Set up this process's environment for Spark before the JVM starts:
    the checkout on the Python path (workers import dcspark from it) and
    every temporary file under ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


# ---------------------------------------------------------------------------
# process-tree CPU and memory (driver Python, JVM, Python workers)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _tree():
    """(pid, /proc/<pid>/stat fields after the command name) of this process
    and all its descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    children = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    # utime, stime, cutime, cstime: fields 14-17 of stat, 12-15 after the name
    return sum(sum(int(x) for x in st[11:15]) for _, st in _tree()) / _TICK


def tree_pss_mb() -> float:
    """Proportional set size of the tree: pages shared between the forked
    Python workers count once in total, not once per worker as in RSS."""
    kb = 0
    for pid, _ in _tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


class PeakMemory:
    """Samples the process tree's resident memory once a second: one PSS
    scan costs about 45 ms of CPU, which is counted in the tree's CPU."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_mb())
            self._stop.wait(1.0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# one contract run, as dcspark.cli test makes it
# ---------------------------------------------------------------------------

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


class Bench:
    def __init__(self, workload: str, seed: int, scratch: str):
        self.workload = workload
        self.w = gen.WORKLOADS[workload]
        self.seed = seed
        self.scratch = scratch
        self.data = os.path.join(scratch, "tables")
        self.expected_failed = gen.expected_failed(workload)
        self.expected_violation_rows = None
        self.n_sinks = 0
        self.spark = None
        self.layers = {}

    # -- set-up ------------------------------------------------------------
    def generate(self):
        """Write the seed's tables in a session of the benchmark's own, which
        is stopped before set-up starts the CLI's session in the same JVM."""
        from pyspark.sql import SparkSession

        spark = (SparkSession.builder.master(MASTER).appName("perfbench-gen")
                 .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        try:
            gen.generate(spark, self.workload, self.seed, self.data)
        finally:
            spark.stop()

    def start_session(self):
        from dcspark import cli

        self.spark = cli._build_spark(MASTER, SHUFFLE_PARTITIONS)
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self):
        """Session, contract, tables, reference stats and warm-up runs."""
        from pyspark.sql import functions as F

        from dcspark import audio, cli, compile as compile_mod, drift
        from dcspark.engine import ValidationConfig
        from dcspark.spec import DataContractSpecification

        self.start_session()
        t = time.perf_counter()
        self.spec = DataContractSpecification.from_file(
            os.path.join(ROOT, self.w["contract"]))
        self.layers["spec.parse_s"] = time.perf_counter() - t
        t = time.perf_counter()
        compiled = compile_mod.create_checks(self.spec)
        self.layers["compile.create_checks_s"] = time.perf_counter() - t
        self.layers["compile.checks"] = float(sum(len(c) for c in compiled.values()))
        t = time.perf_counter()
        self.load()
        self.layers["io.load_tables_s"] = time.perf_counter() - t
        clips = self.tables["audio_clips"]
        # untimed page-cache pre-read of the payload column (the whole
        # table when there is none), which also confirms the row count
        if "bytes" in clips.columns:
            rows = clips.select(F.count(F.lit(1)),
                                F.sum(F.length("bytes"))).collect()[0][0]
        else:
            rows = clips.count()
        if rows != self.w["rows"]:
            raise RuntimeError(f"{self.workload}: table has {rows} rows, "
                               f"expected {self.w['rows']}")
        t = time.perf_counter()
        ref = drift.build_ref_stats(clips.select("dur_ms", "sr_hz"),
                                    ["dur_ms", "sr_hz"])
        self.layers["drift.build_ref_stats_s"] = time.perf_counter() - t
        profile = argparse.Namespace(profile="certify")
        cli._resolve_mode_profile(profile)
        self.cfg = ValidationConfig(
            ref_stats={"audio_clips": ref},
            audio_snr_fn=(audio.synth_snr_oracle(self.seed, gen.DUR_LO, gen.DUR_HI)
                          if self.w["kind"] == "audio" else None),
            unique_mode=profile.unique_mode,
            reference_mode=profile.reference_mode,
            pctl_mode=profile.pctl_mode,
        )
        self.warm_up()
        self.config = self.spark_config()

    def load(self):
        """Open the tables as ``cli test --path`` does: the contract's
        ``prod`` Iceberg server, rooted at the generated tables."""
        from dcspark.io import load_tables

        self.tables = load_tables(self.spark, self.spec, server_name="prod",
                                  base_path=self.data)

    def warm_up(self):
        t_end = time.perf_counter() + WARMUP_S
        runs = 0
        while runs < WARMUP_RUNS or time.perf_counter() < t_end:
            runs += 1
            sample = self.contract_run()
            if self.expected_violation_rows is None and not sample["errors"]:
                self.expected_violation_rows = sample["violation_rows"]

    # -- one run -------------------------------------------------------------
    def contract_run(self) -> dict:
        """validate -> results sink -> violations sink -> JUnit + exit code,
        each call timed; then the outputs are checked and the sink removed."""
        from dcspark.engine import RESULTS_DDL, validate
        from dcspark.io import write_results
        from dcspark.output import exit_code, write_junit_xml

        sink = os.path.join(self.scratch, f"sink-{self.n_sinks}")
        self.n_sinks += 1
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        result = validate(self.spark, self.spec, self.tables, self.cfg)
        t1 = time.perf_counter()
        rows = self.spark.createDataFrame(result.results, schema=RESULTS_DDL)
        write_results(rows, os.path.join(sink, "results"))
        t2 = time.perf_counter()
        if result.violations is not None:
            write_results(result.violations, os.path.join(sink, "violations"))
        t3 = time.perf_counter()
        write_junit_xml(result.run, os.path.join(sink, "junit.xml"))
        code = exit_code(result.run)
        t4 = time.perf_counter()
        cpu = tree_cpu_s() - cpu0

        # job walls summed per check family over both models; the models'
        # compute phases run concurrently, so their wall is the longest one
        phases = {}
        for labels in result.phase_timings.values():
            for label, sec in labels.items():
                family = label.split(":", 1)[0].split("+", 1)[0]
                phases[family] = phases.get(family, 0.0) + sec
        sample = {
            "run_s": t4 - t0, "cpu_s": cpu, "validate_s": t1 - t0, "results_s": t2 - t1,
            "violations_s": t3 - t2, "junit_s": t4 - t3,
            "compute_wall_s": max((labels.get("compute_phase_wall", 0.0)
                                   for labels in result.phase_timings.values()),
                                  default=0.0),
            "shared_scan_s": phases.get("shared_scan", 0.0),
            "unique_s": phases.get("unique", 0.0),
            "reference_s": phases.get("reference", 0.0),
            "join_eq_s": phases.get("join_eq", 0.0),
            "sink_bytes": _dir_bytes(sink),
            "violation_rows": _parquet_rows(os.path.join(sink, "violations")),
        }
        sample["errors"] = self.check(result.run, code, sink, sample)
        shutil.rmtree(sink, ignore_errors=True)
        return sample

    def check(self, run, code: int, sink: str, sample: dict) -> list:
        """Differences from what the workload's generator flags predict."""
        import xml.etree.ElementTree as ET

        errors = []
        results = {c.key: (c.result.value if c.result else None)
                   for c in run.checks}
        failing = bool(self.expected_failed)
        verdict = run.result.value if run.result else None
        if verdict != ("failed" if failing else "passed"):
            errors.append(f"verdict {verdict}")
        if len(results) != self.w["checks"]:
            errors.append(f"{len(results)} checks, expected {self.w['checks']}")
        wrong = {k: v for k, v in results.items()
                 if v != ("failed" if k in self.expected_failed else "passed")}
        missing = self.expected_failed - set(results)
        if wrong or missing:
            errors.append(f"unexpected check results {wrong}, missing {missing}")
        if code != (1 if failing else 0):
            errors.append(f"exit code {code}")
        if _parquet_rows(os.path.join(sink, "results")) != len(results):
            errors.append("results sink row count")
        suite = ET.parse(os.path.join(sink, "junit.xml")).getroot()
        if int(suite.get("failures")) != len(self.expected_failed):
            errors.append(f"JUnit failures {suite.get('failures')}")
        vio = sample["violation_rows"]
        if (vio > 0) != failing:
            errors.append(f"{vio} violation rows")
        elif self.expected_violation_rows not in (None, vio):
            errors.append(f"{vio} violation rows, earlier runs "
                          f"{self.expected_violation_rows}")
        return errors

    def loop(self, seconds: float):
        """Contract runs back to back for ``seconds`` (at least MIN_TIMED_RUNS)."""
        samples, attempts, failed = [], 0, 0
        t_end = time.perf_counter() + seconds
        while attempts < MIN_TIMED_RUNS or time.perf_counter() < t_end:
            attempts += 1
            try:
                s = self.contract_run()
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            if s["errors"]:
                print(f"incorrect run: {s['errors']}", file=sys.stderr)
                failed += 1
            samples.append(s)
        return samples, attempts, failed

    def spark_config(self) -> dict:
        conf = self.spark.sparkContext.getConf()
        sql = self.spark.conf
        return {
            "master": self.spark.sparkContext.master,
            "reader_batch_rows": sql.get("spark.sql.parquet.columnarReaderBatchSize"),
            "driver_memory": conf.get("spark.driver.memory", "1g"),
            "shuffle_partitions": sql.get("spark.sql.shuffle.partitions"),
            "arrow_batch_rows": sql.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
            "engine_arrow_batch_rows": self.cfg.arrow_batch_rows,
            "profile": "certify",
        }

    def restart_traced(self, log_dir: str):
        """Stop the session and start the CLI's session again with the event
        log on; the JVM reads ``spark.*`` system properties as defaults."""
        jvm = self.spark._jvm
        self.spark.stop()
        os.makedirs(log_dir, exist_ok=True)
        for key, value in (("spark.eventLog.enabled", "true"),
                           ("spark.eventLog.dir", "file://" + log_dir),
                           ("spark.eventLog.compress", "false")):
            jvm.java.lang.System.setProperty(key, value)
        evlog.record_call_sites()
        self.start_session()
        self.load()
        self.contract_run()

    def shutdown(self):
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _median(samples, key):
    return statistics.median(s[key] for s in samples)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a dcspark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    probes = [steal_probe()]
    scratch = os.path.join(DATA, str(os.getpid()))
    use_scratch(scratch)
    bench = Bench(args.workload, args.seed, scratch)
    try:
        bench.generate()
        t0 = time.perf_counter()
        bench.setup()
        setup_s = time.perf_counter() - t0

        # a traced run splits its time between the untraced and traced loops
        seconds = args.seconds / 2 if args.trace else args.seconds
        with PeakMemory() as mem:
            samples, attempted, failed = bench.loop(seconds)
        probes.append(steal_probe())
        rows = bench.w["rows"]
        run_s = _median(samples, "run_s")
        metrics = {
            "setup_s": setup_s,
            "run_s": run_s,
            "clips_per_s": rows / run_s,
            "cpu_s_per_kclip": _median(samples, "cpu_s") / (rows / 1000),
            "peak_rss_mb": mem.peak,
            "correct_rate": 1.0 - failed / attempted,
        }
        units = END_TO_END_UNITS
        if args.trace:
            log_dir = os.path.join(scratch, "eventlog")
            bench.restart_traced(log_dir)
            t_lo = time.time() * 1000
            traced, traced_attempted, traced_failed = bench.loop(seconds)
            t_hi = time.time() * 1000
            bench.spark.stop()
            bench.spark = None
            attempted += traced_attempted
            failed += traced_failed
            n = len(traced)
            layers = {k: v / n for k, v in evlog.summarize(log_dir, t_lo, t_hi).items()}
            layers.update(bench.layers)
            vs = [s["validate_s"] for s in traced]
            cw = [s["compute_wall_s"] for s in traced]
            layers.update({
                "engine.validate_s": statistics.median(vs),
                "engine.compute_wall_s": statistics.median(cw),
                "engine.driver_s": statistics.median(v - c for v, c in zip(vs, cw)),
                "engine.shared_scan_s": _median(traced, "shared_scan_s"),
                "engine.unique_s": _median(traced, "unique_s"),
                "engine.reference_s": _median(traced, "reference_s"),
                "engine.join_eq_s": _median(traced, "join_eq_s"),
                "engine.violation_rows": _median(traced, "violation_rows"),
                "io.write_results_s": _median(traced, "results_s"),
                "io.write_violations_s": _median(traced, "violations_s"),
                "io.sink_bytes": _median(traced, "sink_bytes"),
                "output.junit_s": _median(traced, "junit_s"),
                "trace.overhead_s": _median(traced, "run_s") - run_s,
                "host.steal_probe_s": statistics.median(probes),
            })
            metrics, units = layers, PER_LAYER_UNITS
        print(json.dumps({"info": {
            "workload": args.workload, "seed": args.seed, "rows": rows,
            "config": bench.config, "steal_probe_s": probes,
            "timed_runs": attempted,
            "samples": [{k: v for k, v in s.items() if k != "errors"}
                        for s in samples],
        }}))
    finally:
        bench.shutdown()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
