"""Benchmark harness for parquet_to_postgres_spark.

    python3 perfbench/run.py --workload {etl_copy,analytics_mix} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  One process is one closed-loop client on
``local[nproc]`` (at most nproc task slots and nproc Postgres connections):
it generates the workload's inputs from ``--seed``, sets the engine up
(timed as ``setup_s``), then calls the workload's operations back to back
for ``--seconds`` seconds, each a call into the package's public functions
timed from outside.  Outputs are checked outside the timed region; a
failure is an error, an oracle or checksum mismatch, or rows landed != rows
read.  The last stdout line is the result object ``{"correct",
"attempted", "failed", "metrics"}``; the line before it records the
environment, the inputs and the checks.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` is a separate run that records spans around every call,
enables Spark's event log, reads ``pg_stat_*`` and runs a few extra layer
probes after the timed loop; it reports the per-layer metrics, and writes
its spans and folded metrics to ``.perfbench_out/`` when the run ends.

Every figure is per pass: each operation's median over its samples in the
run, summed over the workload's operations.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Registry queries of the analytics mix, each written to the noop sink: a
# star join (scans, a shuffle join, broadcasts and an aggregate), the
# text-cleaning pipeline of the llm layer, and an availableNow streaming
# query whose state store is fed through applyInPandasWithState across the
# Arrow boundary.
# near_dedup_corpus is left out: its DuckDB oracle alone takes 10-25 s at
# these sizes, more than a run can spend; the MinHash kernel is probed in
# traced runs instead.  pricing_summary (scan + aggregate) is left out to
# keep a run near a minute: the star join scans and aggregates the same
# table.
MIX = (
    "join_star_revenue",
    "corpus_preprocess",
    "stream_user_totals",
)
DEFAULT_SCALE = {"analytics_mix": 0.02, "etl_copy": 0.05}
ETL_ROW_GROUP = 65_536
# timed passes per run, at least: the per-op median of three drops one
# sample that a burst of host load hit
MIN_PASSES = 3
ETL_TABLE = "lineitem_bench"

END_TO_END = {"setup_s": "s", "job_s": "s", "cpu_s": "s"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ workloads ----


class Workload:
    """One workload: its inputs, extra set-up, timed operations, output
    checks, and trace-only layer probes."""

    ops: tuple[str, ...] = ()
    shuffle_ops = True
    # Plain untimed passes after the checked warm-up pass.  JIT warmth keeps
    # building for many passes (after one plain pass, the mix's eighth
    # timed pass ran 22-31% faster than its first), and how far it has got
    # depends on the CPU the host gave set-up: timing the steep early passes
    # turned a contended set-up into a slower job_s.
    warm_passes = 1

    def __init__(self, run: "Run"):
        self.run = run
        # op -> False once a warm-up pass of it raised or gave a wrong output
        self.checks: dict[str, bool] = {}

    def prepare_inputs(self) -> dict: ...

    def start(self) -> None:
        """Set-up beyond the Spark session (timed in setup_s)."""

    def warmup(self) -> None:
        """One untimed pass; its Spark work is timed into setup_s."""

    def run_op(self, name: str) -> None: ...

    def op_ok(self, name: str) -> bool:
        """Check one timed operation's output (outside the timed region)."""
        return True

    def final_checks(self) -> dict[str, bool]:
        """Correctness per operation, checked after the timed loop (the
        warm-up pass records its own checks in ``checks``)."""
        return {}

    def probes(self) -> dict[str, float]:
        """Trace-only layer numbers measured after the timed loop."""
        return {}

    def stop(self) -> None:
        pass


class AnalyticsMix(Workload):
    ops = MIX
    warm_passes = 2

    def prepare_inputs(self) -> dict:
        import gen

        run = self.run
        rows = gen.write_catalog(run.data_dir, run.seed, run.scale)
        return {
            "scale": run.scale,
            "rows": rows,
            "bytes": {t: os.path.getsize(os.path.join(run.data_dir, f"{t}.parquet")) for t in rows},
            "row_groups": 1,
        }

    def start(self) -> None:
        from parquet_to_postgres_spark.queries import load_all

        self.specs = load_all()

    def warmup(self) -> None:
        """The warm-up pass is also the oracle pass: each query's Spark
        result is collected (timed into set-up) and compared with its
        DuckDB twin (not timed)."""
        import duckdb
        from check_oracle import canon

        from parquet_to_postgres_spark import TABLES

        run = self.run
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.data_dir}/{t}.parquet')")
        for name in self.ops:
            spec = self.specs[name]
            try:
                with run.setup_step(f"warmup.{name}"):
                    got = spec.builder(run.spark, run.data_dir).toPandas()
                run.release()
                want = con.sql(spec.oracle).df()
                if run.inject_failure == "output" and name == self.ops[0]:
                    got = got.iloc[:-1]
                ok = sorted(got.columns) == sorted(want.columns) and canon(got) == canon(want)
            except Exception:  # noqa: BLE001 — a broken query is a counted failure
                log(f"check {name} raised:\n{traceback.format_exc()}")
                ok = False
            if not ok:
                log(f"check {name}: Spark output differs from its DuckDB oracle")
            self.checks[name] = ok
        con.close()

    def run_op(self, name: str) -> None:
        run = self.run
        with run.tracer.span("queries.build"):
            df = self.specs[name].builder(run.spark, run.data_dir)
        run.materialize(df)

    def probes(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from parquet_to_postgres_spark import TABLES
        from parquet_to_postgres_spark.checkpoint import stable_checkpoint
        from parquet_to_postgres_spark.llm import dedup as D
        from parquet_to_postgres_spark.tables import load_table

        run, out = self.run, {}
        t0 = time.perf_counter()
        for t in TABLES:
            run.materialize(load_table(run.spark, run.data_dir, t))
        out["tables.scan_s"] = time.perf_counter() - t0
        docs = load_table(run.spark, run.data_dir, "documents")
        t0 = time.perf_counter()
        run.materialize(D.minhash_profiles_arrow(docs))
        out["llm.minhash_profiles_s"] = time.perf_counter() - t0
        profiles = stable_checkpoint(D.minhash_profiles_arrow(docs))
        pairs = D.minhash_band_pairs(profiles)
        cand = pairs.count()
        near = D.profile_jaccard(profiles, pairs).where(F.col("jaccard") >= 0.8).count()
        run.release()
        out["llm.lsh_candidate_pairs"] = cand
        out["llm.near_dup_pairs"] = near
        out["llm.lsh_useful_frac"] = near / cand if cand else 0.0
        return out


class EtlCopy(Workload):
    """parquet -> etl.etl -> PostgresCopySink -> pg.read_back, the
    reference program's path, against an embedded Postgres server.  Loads
    of 300k rows (~5 s a pass) leave time for the warm-up and three timed
    passes in a run of about a minute."""

    ops = ("load", "readback")
    shuffle_ops = False  # readback reads what load wrote

    def prepare_inputs(self) -> dict:
        import duckdb
        import gen

        run = self.run
        os.makedirs(run.data_dir, exist_ok=True)
        self.src = os.path.join(run.data_dir, "lineitem_etl.parquet")
        self.info = gen.write_etl_source(self.src, run.seed, run.scale, ETL_ROW_GROUP)
        self.want = [int(v) for v in duckdb.sql(
            self._checksum_sql("epoch(l_shipdate)", f"read_parquet('{self.src}')")
        ).fetchone()]
        return {"scale": run.scale, **self.info, "sink_partitions": run.nproc, "readback_partitions": run.nproc}

    def start(self) -> None:
        from parquet_to_postgres_spark.pg import EmbeddedPostgres

        run = self.run
        with run.setup_step("pg.server_start"):
            pg_dir = os.path.join(run.run_dir, "pg")
            os.makedirs(pg_dir)
            # the server runs as the postgres user, which must reach it
            os.chmod(pg_dir, 0o777)
            self.pg = EmbeddedPostgres(pg_dir).start()
        with open(os.path.join(self.pg.datadir, "postmaster.pid")) as f:
            run.tree.add_root(int(f.readline()))
        self.conninfo = self.pg.conninfo()
        self.schema = run.spark.read.parquet(self.src).schema

    def psql(self, sql: str) -> str:
        from parquet_to_postgres_spark.pg import run_psql

        return run_psql(self.conninfo, sql).strip()

    def warmup(self) -> None:
        """The warm-up pass is also the checked pass: the load's landed rows
        are counted, and the read-back folds its rows into the column
        checksums (timed into set-up) instead of the noop sink; they must
        equal DuckDB's over the parquet source."""
        run = self.run
        if run.warm_op("warmup.load", "load"):
            self.checks["load"] = run.op_ok("load")
        try:
            with run.setup_step("warmup.readback"):
                self._read_back().createOrReplaceTempView("perfbench_readback")
                back = [int(v) for v in run.spark.sql(
                    self._checksum_sql("unix_timestamp(l_shipdate)", "perfbench_readback")
                ).first()]
            if run.inject_failure == "output":
                back[0] += 1
            self.checks["readback"] = back == self.want
        except Exception:  # noqa: BLE001 — counted, like a wrong output
            log(f"warmup.readback raised:\n{traceback.format_exc()}")
            self.checks["readback"] = False
        finally:
            run.release()
        if not self.checks["readback"]:
            log("check readback: read-back checksums differ from the parquet source")

    def run_op(self, name: str) -> None:
        from parquet_to_postgres_spark.etl import etl
        from parquet_to_postgres_spark.pg import PostgresCopySink

        run = self.run
        if name == "load":
            sink = PostgresCopySink(self.conninfo, ETL_TABLE, mode="overwrite", num_partitions=run.nproc)
            etl(run.spark, self.src, sink)
        else:
            run.materialize(self._read_back())

    def _read_back(self):
        from parquet_to_postgres_spark.pg import read_back

        return read_back(
            self.run.spark, self.conninfo, ETL_TABLE, self.schema, partition_column="l_orderkey",
            lower=self.info["orderkey_lo"], upper=self.info["orderkey_hi"], num_partitions=self.run.nproc,
        )

    def op_ok(self, name: str) -> bool:
        if name != "load":
            return True
        landed = int(self.psql(f"SELECT count(*) FROM {ETL_TABLE}"))
        if landed != self.info["rows"]:
            log(f"load: {landed} rows landed, {self.info['rows']} read")
        return landed == self.info["rows"]

    # Exact column checksums, spelled per engine: integer columns summed,
    # cent-valued doubles summed as integer cents, flags by code point,
    # timestamps as epoch seconds.
    def _checksum_sql(self, epoch: str, table: str) -> str:
        cols = [f"SUM({c})" for c in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")]
        cols += [
            f"SUM(CAST(ROUND({c} * 100) AS BIGINT))"
            for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        ]
        cols += [f"SUM(ASCII({c}))" for c in ("l_returnflag", "l_linestatus")]
        cols += [f"SUM(CAST({epoch} AS BIGINT))", "COUNT(*)"]
        return f"SELECT {', '.join(cols)} FROM {table}"

    def final_checks(self) -> dict[str, bool]:
        """The table the last timed load left must match the source."""
        landed = [int(v) for v in self.psql(
            self._checksum_sql("EXTRACT(EPOCH FROM l_shipdate)", ETL_TABLE)
        ).split("|")]
        if landed != self.want:
            log("check load: landed checksums differ from the parquet source")
        return {"load": landed == self.want}

    def pg_stats(self) -> dict[str, float]:
        row = self.psql(
            "SELECT d.tup_inserted, d.xact_commit, w.wal_bytes FROM pg_stat_database d, pg_stat_wal w "
            "WHERE d.datname = current_database()"
        ).split("|")
        return dict(zip(("pg.tup_inserted", "pg.xact_commit", "pg.wal_bytes"), map(float, row)))

    def probes(self) -> dict[str, float]:
        from parquet_to_postgres_spark.etl import read_source

        run = self.run
        t0 = time.perf_counter()
        run.materialize(read_source(run.spark, self.src))
        out = {"tables.scan_s": time.perf_counter() - t0}
        loads = len(run.wall["load"])
        # counters over the whole timed loop, per load; xact_commit also
        # counts the readbacks' COPY-outs and the row-count checks
        for k, v in self.pg_stats().items():
            out[k] = (v - run.pg_before[k]) / loads
        size = float(self.psql(f"SELECT pg_total_relation_size('{ETL_TABLE}')"))
        out["pg.table_bytes_per_input_byte"] = size / self.info["bytes"]
        return out

    def stop(self) -> None:
        pg = getattr(self, "pg", None)
        if pg is not None:
            pg.stop()


WORKLOADS = {"etl_copy": EtlCopy, "analytics_mix": AnalyticsMix}


# ------------------------------------------------------------------ run ----


class Run:
    def __init__(self, args: argparse.Namespace):
        import layers

        self.seed, self.trace, self.seconds = args.seed, bool(args.trace), args.seconds
        self.scale = args.scale or DEFAULT_SCALE[args.workload]
        self.inject_failure = args.inject_failure
        self.nproc = len(os.sched_getaffinity(0))
        self.run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        self.run_dir = os.path.join(ROOT, ".perfbench_run", self.run_id)
        self.data_dir = os.path.join(self.run_dir, "data")
        self.tracer = layers.Tracer(self.run_id, self.trace)
        self.tree = layers.ProcTree()
        self.steps: dict[str, float] = {}
        self.spark = None
        self.workload: Workload = WORKLOADS[args.workload](self)

    @contextlib.contextmanager
    def setup_step(self, name: str):
        with self.tracer.span(name) as sp:
            yield
        self.steps[name] = sp.seconds
        log(f"{name}: {sp.seconds:.2f} s")

    def pin_env(self) -> None:
        for d in ("local", "tmp", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.run_dir, d), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)  # package default is 32
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        # every JVM (spark-submit's launcher and Spark's own) keeps its
        # temp files and perf counters out of /tmp
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:+PerfDisableSharedMem"
        )
        # Python workers unpickle closures that import the package
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    def spark_conf(self) -> dict[str, str]:
        conf = {"spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse")}
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def materialize(self, df) -> None:
        import bench

        with self.tracer.span("materialize"):
            bench.materialize(df)

    def release(self) -> None:
        from parquet_to_postgres_spark.checkpoint import persistent_rdd_ids, release_rdds

        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        release_rdds(sc, persistent_rdd_ids(sc) - self.pinned)

    def run_op(self, name: str) -> None:
        if self.inject_failure == "raise" and name == self.workload.ops[0]:
            raise RuntimeError(f"injected failure in {name}")
        self.workload.run_op(name)

    def warm_op(self, step: str, name: str) -> bool:
        """One untimed call of an op, timed into set-up.  An op that raises
        is marked failed for the run (every timed sample of it counts as
        failed) instead of ending the run."""
        try:
            with self.setup_step(step):
                self.run_op(name)
            return True
        except Exception:  # noqa: BLE001 — counted, like a wrong output
            log(f"{step} raised:\n{traceback.format_exc()}")
            self.workload.checks[name] = False
            return False
        finally:
            self.release()

    def cached_bytes(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return float(sum(i.memSize() + i.diskSize() for i in infos))

    def setup(self) -> float:
        """Session start, the workload's own set-up and its warm-up passes
        (the first also checks outputs), so JIT and Python-worker warmth
        land here rather than in job_s.  Returns set-up seconds less the
        harness-side checks.  Set-up is measured once per run: a second JVM
        start and warm-up would cost 30-50 s more per run."""
        from parquet_to_postgres_spark.checkpoint import persistent_rdd_ids
        from parquet_to_postgres_spark.session import get_spark

        t0 = time.perf_counter()
        with self.setup_step("session.get_spark"):
            self.spark = get_spark("perfbench", extra_conf=self.spark_conf())
            self.spark.sparkContext.setLogLevel("ERROR")
        self.pinned = persistent_rdd_ids(self.spark.sparkContext)
        self.workload.start()
        t1 = time.perf_counter()
        self.workload.warmup()
        check_wall = time.perf_counter() - t1
        checked_pass = sum(v for k, v in self.steps.items() if k.startswith("warmup."))
        for i in range(self.workload.warm_passes):
            for name in self.workload.ops:
                self.warm_op(f"warmup{i + 2}.{name}", name)
        self.steps["session.warm"] = sum(v for k, v in self.steps.items() if k.startswith("warmup"))
        return time.perf_counter() - t0 - check_wall + checked_pass

    def timed_loop(self) -> None:
        """Closed loop, one client: whole passes over the ops (in a
        seed-shuffled order where ops are independent) until a pass ends
        after the deadline, and at least MIN_PASSES, so every op has the
        same number of samples.  With run_seconds shorter than MIN_PASSES
        passes the count stays the same on a fast or a slow host alike, and
        so does the estimator."""
        ops = self.workload.ops
        rng = random.Random(self.seed)
        self.wall = {o: [] for o in ops}
        self.cpu = {o: [] for o in ops}
        self.ok = {o: [] for o in ops}
        self.spans = {o: [] for o in ops}
        deadline = time.perf_counter() + self.seconds
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() < deadline:
            passes += 1
            for name in rng.sample(ops, len(ops)) if self.workload.shuffle_ops else ops:
                c0 = self.tree.cpu_seconds()
                with self.tracer.span(f"op.{name}") as sp:
                    t0 = time.perf_counter()
                    try:
                        self.run_op(name)
                        ok = True
                    except Exception:  # noqa: BLE001 — counted; the loop goes on
                        log(f"op {name} raised:\n{traceback.format_exc()}")
                        ok = False
                    dt = time.perf_counter() - t0
                self.cpu[name].append(self.tree.cpu_seconds() - c0)
                self.wall[name].append(dt)
                if self.trace:
                    sp.attrs["cached_bytes"] = self.cached_bytes()
                self.spans[name].append(sp)
                self.ok[name].append(ok and self.op_ok(name))
                self.release()

    def op_ok(self, name: str) -> bool:
        try:
            return self.workload.op_ok(name)
        except Exception:  # noqa: BLE001 — a check that cannot run fails
            log(f"check of {name} raised:\n{traceback.format_exc()}")
            return False

    def final_checks(self) -> dict[str, bool]:
        """Every check of the run, per op: an op passes only if the warm-up
        pass and the checks after the timed loop all passed."""
        try:
            final = self.workload.final_checks()
        except Exception:  # noqa: BLE001
            log(f"final checks raised:\n{traceback.format_exc()}")
            final = {name: False for name in self.workload.ops}
        checks = dict(self.workload.checks)
        for name, ok in final.items():
            checks[name] = checks.get(name, True) and ok
        return checks

    def shutdown(self) -> None:
        try:
            self.workload.stop()
        finally:
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            pyspark = sys.modules.get("pyspark")
            gw = pyspark.SparkContext._gateway if pyspark else None
            if gw is not None:  # also when stopped mid-start-up
                gw.shutdown()
                # the JVM exits when its stdin closes
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)
                pyspark.SparkContext._gateway = pyspark.SparkContext._jvm = None


def per_pass(samples: dict[str, list[float]]) -> float:
    return sum(statistics.median(v) for v in samples.values())


def layer_metrics(run: Run, probes: dict, mem) -> dict[str, float]:
    """Fold the event log and spans of each timed op into layer counters,
    then aggregate like job_s: per-op median, summed over ops."""
    import layers

    evdir = os.path.join(run.run_dir, "eventlog")
    ev = layers.EventLog.read(os.path.join(evdir, os.listdir(evdir)[0]))
    per_op = {}
    for name, sps in run.spans.items():
        per_op[name] = []
        for sp in sps:
            m = layers.fold_interval(ev, sp.start, sp.end, run.nproc)
            m["spark.busy_s"] = m.pop("spark.slot_busy_frac") * run.nproc * sp.seconds
            inner = [s for s in run.tracer.spans if sp.start <= s.start and s.end <= sp.end]
            m["queries.build_s"] = sum(s.seconds for s in inner if s.name == "queries.build")
            per_op[name].append(m)
    out = {k: sum(statistics.median(m[k] for m in ms) for ms in per_op.values()) for k in next(iter(per_op.values()))[0]}
    job_s = per_pass(run.wall)
    out["spark.slot_busy_frac"] = out.pop("spark.busy_s") / (run.nproc * job_s)
    etl = isinstance(run.workload, EtlCopy)
    out["pg.write_s"] = statistics.median(run.wall["load"]) if etl else 0.0
    out["pg.readback_s"] = statistics.median(run.wall["readback"]) if etl else 0.0
    rows = run.workload.info["rows"] if etl else 0
    out["pg.load_rows_per_s"] = rows / out["pg.write_s"] if etl else 0.0
    out["pg.readback_rows_per_s"] = rows / out["pg.readback_s"] if etl else 0.0
    out["session.get_spark_s"] = run.steps["session.get_spark"]
    out["session.warm_s"] = run.steps["session.warm"]
    out["pg.server_start_s"] = run.steps.get("pg.server_start", 0.0)
    out["checkpoint.cached_bytes_peak"] = max(sp.attrs["cached_bytes"] for sps in run.spans.values() for sp in sps)
    out["proc.peak_rss_mb"] = mem.peak_total
    for kind in ("jvm", "py_worker", "postgres"):
        out[f"proc.{kind}_rss_mb"] = mem.peak_kind.get(kind, 0.0)
    for k in ("tables.scan_s", "llm.minhash_profiles_s", "llm.lsh_candidate_pairs", "llm.near_dup_pairs",
              "llm.lsh_useful_frac", "pg.tup_inserted", "pg.xact_commit", "pg.wal_bytes",
              "pg.table_bytes_per_input_byte"):
        out[k] = float(probes.get(k, 0.0))
    out["trace.job_s"] = job_s
    return out


def versions() -> dict[str, str]:
    import subprocess

    import duckdb
    import pyspark

    pg = subprocess.run(["postgres", "--version"], capture_output=True, text=True).stdout.strip()
    return {"spark": pyspark.__version__, "duckdb": duckdb.__version__, "postgres": pg,
            "python": sys.version.split()[0]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="parquet_to_postgres_spark benchmark harness")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="fixture scale of the generated tables (default per workload)")
    ap.add_argument("--inject-failure", choices=("output", "raise"), default=None,
                    help="corrupt one checked output, or make one op raise, to test that failures are counted")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "parquet_to_postgres_spark")):
        log(f"no parquet_to_postgres_spark package under {ROOT}: run from the root of a full checkout")
        return 2
    sys.path.insert(0, HERE)
    import layers

    run = Run(args)
    run.pin_env()
    # a terminated run still stops Spark and Postgres (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        info = {"run_id": run.run_id, "workload": args.workload, "seed": args.seed, "nproc": run.nproc,
                "versions": versions(), "inputs": run.workload.prepare_inputs()}
        probe0 = layers.cpu_probe_s()
        h0, own0 = layers.host_cpu(), run.tree.cpu_seconds()
        setup_s = run.setup()
        h1, own1 = layers.host_cpu(), run.tree.cpu_seconds()
        if run.trace and isinstance(run.workload, EtlCopy):
            run.pg_before = run.workload.pg_stats()
        # memory is sampled in traced runs only: reading a large JVM's
        # smaps_rollup takes ~20 ms and contends with its page faults
        mem = layers.MemSampler(run.tree) if run.trace else contextlib.nullcontext()
        with mem:
            run.timed_loop()
        h2, own = layers.host_cpu(), run.tree.cpu_seconds() - own1
        # host-wide CPU over set-up and the timed loop (/proc/stat: the whole
        # VM, other tenants included), so a slow run can be told apart from
        # one that shared the host with a burst of other load
        info["host"] = {"setup": layers.host_delta(h0, h1, own1 - own0), "timed": layers.host_delta(h1, h2, own),
                        "cpu_probe_s": [round(probe0, 4), round(layers.cpu_probe_s(), 4)]}
        checks = run.final_checks()
        # a failed check means every timed sample of that op was wrong
        failed = sum(
            len(oks) if not checks.get(name, True) else oks.count(False) for name, oks in run.ok.items()
        )
        attempted = sum(len(oks) for oks in run.ok.values())
        probes = run.workload.probes() if run.trace else {}
        run.shutdown()
        if run.trace:
            metrics = layer_metrics(run, probes, mem)
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
            out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(ROOT, ".perfbench_out", f"{run.run_id}.trace.json"), "w") as f:
                json.dump({**info, "spans": run.tracer.to_json(), "per_layer": metrics}, f)
        else:
            values = {"setup_s": setup_s, "job_s": per_pass(run.wall), "cpu_s": per_pass(run.cpu)}
            out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        info["op_seconds"] = run.wall
        info["checks"] = checks
        print(json.dumps({"run_info": info}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
        return 0
    finally:
        run.shutdown()
        shutil.rmtree(run.run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
