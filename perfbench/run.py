#!/usr/bin/env python3
"""Sync-engine benchmark: ``info`` / ``sync`` through the CLI, in-process.

    python3 perfbench/run.py --workload bootstrap_fine --seed 1 --seconds 25 --trace 0

One closed-loop client drives ``cli.main([mode, "--config", job.yaml])``
against seeded parquet tables and waits for each op before sending the next.
A cycle is an untimed reset followed by the workload's timed ops
(``sync``/``info``/``resync``); every op's exit code,
verdicts and copied count are checked, and after every sync the
destination's table fingerprint must equal the source's in the
destination's type domain.

``--trace 0`` prints the end-to-end metrics; with ``--trace 1`` every cycle
runs its ops twice, once through the CLI with one Spark job group per op
and once as the layered composition in ``layered.py`` with one span per
layer, and the run prints the per-layer metrics. The last stdout line is
the JSON result; the line before it is a readable summary with sample
counts and ``op_fail_ratio``.

Noise controls: ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc`` (the CLI's
``get_spark`` would otherwise reset the shuffle partitions), console
progress off, one untimed warm-up cycle, a fixed number of measured cycles,
the same seeded state at the start of every cycle, and untimed
``System.gc()`` after each reset. Flush policy:
nothing is fsynced inside a timed op or set-up; ``os.sync()`` runs,
untimed, after every set-up, every reset and every sync op.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from contextlib import redirect_stderr, redirect_stdout
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import workloads  # noqa: E402
from tracing import GcClock, Tracer, group, job_group_counters  # noqa: E402

SETUP_REPS = 3
WARMUP_CYCLES = 1
# Every run measures the same samples, whatever the host speed: a fixed
# number of cycles per trace mode (a traced cycle runs every op twice).
MEASURED_CYCLES = {False: 2, True: 1}
DRIVER_MEMORY = "2g"

PARTITION_LINE = re.compile(r"partition=(\S+) src_rows=\S+ dest_rows=\S+ verdict=(\w+) action=\w+$")
COPIED_LINE = re.compile(r"copied_partitions=(\d+) deleted_partitions=\d+$")


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, workload, seed: int, trace: bool, work: Path) -> None:
        self.wl = workload
        self.seed = seed
        self.trace = trace
        self.work = work
        self.cfg = str(work / "job.yaml")
        self.t_process = time.perf_counter()
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.op_s: dict[str, list[float]] = defaultdict(list)
        self.gc_s: dict[str, list[float]] = defaultdict(list)
        self.cycles = 0
        self.last_s: dict[str, float] = {}
        self.traced: dict[str, list[dict]] = defaultdict(list)
        self.matched_files: dict | None = None
        self.src_fp = None
        self.spark = None

    # ---- set-up -------------------------------------------------------
    def _start_session(self):
        from clickhouse_table_copier_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{self.wl.name}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.get_spark_s.append(time.perf_counter() - t)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        """Session start, data generation and the initial destination state,
        ``SETUP_REPS`` times; the first one also launches the JVM. Stopping
        the previous session, removing its files and the flush are untimed."""
        import yaml

        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            for d in ("src", "dest", "drifted"):
                shutil.rmtree(self.work / d, ignore_errors=True)
            t = time.perf_counter()
            self.spark = self._start_session()
            self.wl.generate(self.work, self.seed)
            with open(self.cfg, "w") as f:
                yaml.safe_dump(self.wl.config(str(self.work / "src"), str(self.work / "dest")), f)
            self.wl.reset(self.work)
            self.setup_s.append(time.perf_counter() - t)
            os.sync()

    def _fingerprint(self, table: str):
        """(rows, fingerprint) of ``src`` or ``dest`` over the partition keys
        and data columns in the destination's types; None if ``dest`` stores
        other types than expected."""
        from pyspark.sql import functions as F

        from clickhouse_table_copier_spark.config import read_config, to_partition_spec
        from clickhouse_table_copier_spark.operators.fingerprint import table_fingerprint

        spec = to_partition_spec(read_config(self.cfg))
        src = self.spark.read.parquet(str(self.work / "src"))
        src_parts = spec.with_partition_columns(src)
        want = {c: self.wl.dest_types.get(c, t) for c, t in src.dtypes if c not in spec.names}
        if table == "src":
            df = src_parts.select(*spec.names, *[F.col(c).cast(t).alias(c) for c, t in want.items()])
        else:
            dest = self.spark.read.parquet(str(self.work / "dest"))
            if any(dict(dest.dtypes).get(c) != t for c, t in want.items()):
                return None
            src_types = dict(src_parts.dtypes)
            df = dest.select(*[F.col(n).cast(src_types[n]).alias(n) for n in spec.names], *want)
        r = table_fingerprint(df).collect()[0]
        return (r["rows"], r["fingerprint"])

    # ---- ops ----------------------------------------------------------
    def reset(self) -> None:
        self.wl.reset(self.work)
        os.sync()
        self.spark._jvm.java.lang.System.gc()

    def _verdicts_ok(self, op: str, verdicts: dict, copied) -> bool:
        _, want, want_copied = self.wl.expect[op]
        got = defaultdict(set)
        for part, v in verdicts.items():
            got[v].add(part)
        return dict(got) == want and (want_copied is None or copied == want_copied)

    def _fail(self, op: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench: {self.wl.name} {op} failed: {why}", file=sys.stderr)

    def cli_op(self, op: str, record: bool, tag: str | None = None) -> float:
        from clickhouse_table_copier_spark import cli

        mode = "info" if op == "info" else "sync"
        sc = self.spark.sparkContext
        out, err = io.StringIO(), io.StringIO()
        self.attempted += 1
        if tag:
            sc.setJobGroup(tag, op)
        gc0 = self.gc.seconds()
        t = time.perf_counter()
        try:
            with redirect_stdout(out), redirect_stderr(err):
                code = cli.main([mode, "--config", self.cfg])
        except Exception:
            code = None
            err.write(traceback.format_exc())
        dt = time.perf_counter() - t
        gc = self.gc.seconds() - gc0
        self.last_s[op] = dt
        if tag:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if mode == "sync":
            os.sync()
        if record:
            self.op_s[op].append(dt)
            self.gc_s[op].append(gc)

        verdicts, copied = {}, None
        for line in out.getvalue().splitlines():
            if m := PARTITION_LINE.match(line):
                verdicts[m[1]] = m[2]
            elif m := COPIED_LINE.match(line):
                copied = int(m[1])
        want_code = self.wl.expect[op][0]
        if code != want_code:
            self._fail(op, f"exit {code}, want {want_code}: {err.getvalue().strip()[-400:]}")
        elif not self._verdicts_ok(op, verdicts, copied):
            self._fail(op, f"verdicts/copied differ from the seeded drift (copied={copied})")
        elif mode == "sync" and record and not self._dest_matches_source():
            self._fail(op, "destination fingerprint differs from the source")
        return dt

    def _dest_matches_source(self) -> bool:
        """Fingerprint the destination unless no data file changed since the
        last destination that matched (a no-op resync rewrites nothing)."""
        files = {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in workloads.data_files(str(self.work / "dest"))
        }
        if files == self.matched_files:
            return True
        if self.src_fp is None:
            # after a CLI op, so the session has the ClickHouse dialect that
            # a partition key may use
            self.src_fp = self._fingerprint("src")
        if self._fingerprint("dest") != self.src_fp:
            return False
        self.matched_files = files
        return True

    def traced_op(self, op: str, op_id: str, record: bool) -> float:
        from layered import traced_op

        mode = "info" if op == "info" else "sync"
        self.attempted += 1
        t = time.perf_counter()
        try:
            res = traced_op(self.tracer, mode, op_id, self.cfg)
        except Exception:
            self._fail(op, "traced op raised:\n" + traceback.format_exc())
            return time.perf_counter() - t
        dt = time.perf_counter() - t
        if mode == "sync":
            os.sync()
        copied = None if mode == "info" else len(res["written"])
        if not self._verdicts_ok(op, res["verdicts"], copied):
            self._fail(op, f"traced verdicts differ from the seeded drift (copied={copied})")
        if record:
            self.traced[op].append({"id": op_id, "s": dt, **res})
        return dt

    def cycle(self, record: bool) -> None:
        """One reset plus the workload's ops; with ``--trace 1`` a second
        reset and the same ops, layered."""
        self.reset()
        n = self.cycles if record else "warm"
        for op in self.wl.order:
            self.cli_op(op, record, f"cli{n}.{op}" if self.trace and record else None)
        if self.trace:
            self.reset()
            for op in self.wl.order:
                self.traced_op(op, f"layer{n}.{op}", record)
        if record:
            self.cycles += 1
        print(
            f"perfbench: {'cycle' if record else 'warm-up'} "
            + " ".join(f"{op}={self.last_s[op]:.3f}" for op in self.wl.order),
            file=sys.stderr,
        )

    def run(self) -> None:
        self.setup()
        self._phase("set-up")
        self.gc = GcClock(self.spark)
        self.tracer = Tracer(self.spark.sparkContext)

        # The untimed warm-up cycle takes the first-execution cost (class
        # loading, code generation, JIT) of every op, layered ones too when
        # tracing: about twice a steady cycle.
        for _ in range(WARMUP_CYCLES):
            self.cycle(record=False)
        self.tracer.spans.clear()
        self._phase("warm-up")
        for _ in range(MEASURED_CYCLES[self.trace]):
            self.cycle(record=True)
        self._phase("measuring")
        self.dest_ratio = workloads.data_bytes(str(self.work / "dest")) / workloads.data_bytes(
            str(self.work / "src")
        )

    def _phase(self, name: str) -> None:
        print(f"perfbench: {name} done at {time.perf_counter() - self.t_process:.1f}s", file=sys.stderr)

    # ---- results ------------------------------------------------------
    def end_to_end(self) -> dict:
        return {
            "setup_s": (median(self.setup_s), "s"),
            "sync_s_p50": (median(self.op_s["sync"]), "s"),
            "info_s_p50": (median(self.op_s["info"]), "s"),
            "resync_s_p50": (median(self.op_s["resync"]), "s"),
            "dest_bytes_per_src_byte": (self.dest_ratio, "ratio"),
        }

    def per_layer(self) -> dict:
        counters = job_group_counters(self.spark.sparkContext)
        empty = {"jobs": 0, "tasks": 0, "input_records": 0, "output_records": 0}
        ops = self.wl.order

        def layer(op_id: str, name: str) -> dict:
            return counters.get(group(op_id, name), empty)

        def cli(op: str, key: str) -> float:
            return median([counters.get(f"cli{n}.{op}", empty)[key] for n in range(self.cycles)])

        m = {"session.get_spark_s": (median(self.get_spark_s), "s")}
        m["functions.register_s"] = (median(self.tracer.durations("functions.register")), "s")
        info = self.traced["info"]
        m["sources.load_dest_s"] = (median(self.tracer.durations("sources.load_dest")), "s")
        m["sources.dest_files"] = (median([r["dest_files"] for r in info]), "count")
        m["sources.listing_tasks"] = (
            median([layer(r["id"], "sources.load_dest")["tasks"] for r in info]),
            "count",
        )
        for op in ops:
            m[f"sources.rows_read_per_src_row.{op}"] = (
                cli(op, "input_records") / self.wl.src_rows,
                "ratio",
            )
        for layer_name in ("fingerprint.src", "fingerprint.dest", "diff.classify"):
            m[f"{layer_name}_s"] = (median(self.tracer.durations(layer_name)), "s")

        # only the sync op writes: the resync op finds nothing to rewrite
        syncs = self.traced["sync"]
        m["sync.write_s"] = (median(self.tracer.durations("sync.write")), "s")
        files = [self._files_in(r["written"]) / max(len(r["written"]), 1) for r in syncs]
        m["sync.files_per_written_partition"] = (median(files), "ratio")
        written_rows = [layer(r["id"], "sync.write")["output_records"] for r in syncs]
        m["sync.rows_written_per_drifted_row"] = (median(written_rows) / self.wl.drifted_rows, "ratio")
        m["sync.partitions_rewritten"] = (median([len(r["written"]) for r in syncs]), "count")
        for op in ops:
            m[f"spark.jobs_per_op.{op}"] = (cli(op, "jobs"), "count")
            m[f"spark.tasks_per_op.{op}"] = (cli(op, "tasks"), "count")
        for op in ops:
            m[f"jvm.gc_s_per_op.{op}"] = (median(self.gc_s[op]), "s")
        # the layered op minus the CLI op, both warm: span and job-group
        # bookkeeping plus the re-composition (separate collects and a
        # classify over local rows, no report printing or resync collects)
        overhead = sum(
            median([r["s"] for r in self.traced[op]]) - median(self.op_s[op]) for op in ops
        )
        m["trace.overhead_s"] = (overhead, "s")
        return m

    def _files_in(self, parts: list[str]) -> int:
        # counted after the last traced cycle's resync, which rewrites nothing
        dest = self.work / "dest"
        return sum(len(workloads.data_files(str(dest / p.replace(",", "/")))) for p in parts)

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside ``work``; pin the core count."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = str(tmp)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    tempfile.tempdir = str(tmp)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    # the measured work is fixed (MEASURED_CYCLES), so every run takes the
    # same samples; it lasts about BENCHMARK.json's run_seconds
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import clickhouse_table_copier_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    _prepare_env(work)
    bench = Bench(workloads.WORKLOADS[args.workload](), args.seed, bool(args.trace), work)
    try:
        bench.run()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        if args.trace:
            bench.tracer.write(ROOT / ".perfbench_out" / f"spans-{args.workload}-seed{args.seed}.jsonl")
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(
        f"# {args.workload} seed={args.seed} trace={args.trace} cycles={bench.cycles} "
        f"(samples per op; p50 only, too few for a tail percentile) "
        f"warmup_cycles={WARMUP_CYCLES} setup_reps={SETUP_REPS} "
        f"op_fail_ratio={bench.failed / max(bench.attempted, 1):.4f} "
        + " ".join(f"{k}={v:.4f}{u}" for k, (v, u) in metrics.items())
    )
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
