"""The benchmark's workloads and their output checks.

Every timed operation produces all of its output: registry queries
collect every row and column to the client, table reads write to
Spark's ``noop`` sink, write verbs commit, and stream drains write a
parquet sink.  Outputs are compared with DuckDB outside the timed
window, with the comparison semantics of ``tests/oracle_harness.py``.

A workload runs in three phases:

1. set-up (timed as ``setup_s``): session start, fixtures, and one
   untimed warm pass or cycle;
2. the measured window: one closed-loop client runs whole passes (or
   cycles), so every run measures the same mix of operations;
3. output checks and end-of-run measurements.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from probes import PYTHON_METRICS, STAGE_FIELDS, StatusProbe, Tracer, \
    jvm_peak_rss_mb, union_ms

#: i2b2/AKTIN analytics: JVM-only queries where the Spark driver's
#: control plane dominates and no Python runs
OLAP_CLINICAL = "jn_03 agg_02 coh_01 ont_02 eav_01 cor_01".split()

#: LLM-corpus operators: heavy on the Python/Arrow boundary and shuffle
LLM_CORPUS = "text_fp pii_01 qrep_01 kw_01 vq_01 mm_png".split()

#: the ``query_mix`` workload interleaves both sets in each pass
QUERY_MIX = OLAP_CLINICAL + LLM_CORPUS

KEY = "o_orderkey"
ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"

#: per-layer metrics that are sums over the measured window, reported
#: per pass (query workloads) or per cycle (txn_ingest)
SUMMED = ("registry.build_ms", "registry.build_jobs", "spark.jobs",
          "spark.driver_ms") + STAGE_FIELDS + tuple(PYTHON_METRICS.values()) \
    + ("txnlog.append_ms", "txnlog.merge_ms", "txnlog.apply_changes_ms",
       "txnlog.update_where_ms", "txnlog.delete_where_ms",
       "txnlog.compact_ms", "txnlog.snapshot_ms", "txnlog.files_added",
       "txnlog.files_removed", "txnlog.dv_files", "txnlog.bytes_staged",
       "txnlog.read_ms", "cdcstream.trigger_ms", "cdcstream.lifecycle_ms",
       "cdcstream.rows")

#: end-to-end metrics an untraced run reports
END_TO_END = ("setup_s", "throughput_qpm", "latency_p50_s")

#: span names whose self time is reported as ``self.<name>_ms``
SELF_LAYERS = ("op", "registry.build", "collect", "sink.noop", "spark.job",
               "txnlog.write", "txnlog.read", "txnlog.snapshot",
               "cdcstream.drain", "cdcstream.trigger")


def per_layer_names() -> list[str]:
    """Names of the per-layer metrics a traced run reports, in order."""
    return (["session.start_s", "jvm.peak_rss_mb"] + list(SUMMED)
            + ["python.offcpu_ms", "txnlog.jobs_per_commit",
               "txnlog.files_read_ratio", "txnlog.read_p50_s",
               "commit_p50_s", "commit_tail_s",
               "cdc_catchup_s", "space_amp", "failed_ratio"]
            + [f"self.{n}_ms" for n in SELF_LAYERS]
            + ["latency_tail_s", "latency.samples", "trace.throughput_qpm",
               "trace.latency_p50_s"])


def tail(samples: list[float]) -> float:
    """The p90 of ``samples`` (inclusive interpolation)."""
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


class Bench:
    """State of one benchmark run: the session, the closed-loop client's
    samples and, when tracing, the probes and per-layer sums."""

    def __init__(self, spark, sf_dir: str, work: str, seed: int,
                 trace: bool, cpus: int):
        self.spark, self.sf_dir, self.work = spark, sf_dir, work
        self.rng = random.Random(seed)
        self.seed, self.cpus = seed, cpus
        self.trace = trace
        self.probe = StatusProbe(spark) if trace else None
        self.tracer = Tracer() if trace else None
        self.layer: dict[str, float | None] = dict.fromkeys(SUMMED, 0.0)
        self.samples: dict[str, list[float]] = {
            "query": [], "read": [], "commit": [], "drain": []}
        self.attempted = self.failed = 0
        self.checks_failed: list[str] = []

    # -- tracing helpers (no-ops with tracing off) ------------------------
    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.trace \
            else contextlib.nullcontext()

    def add(self, name: str, value: float | None) -> None:
        """Accumulate a per-layer figure; a failed read (None) makes the
        metric null for the whole run."""
        cur = self.layer.get(name, 0.0)
        self.layer[name] = None if value is None or cur is None \
            else cur + value

    def mark(self):
        return self.probe.mark() if self.trace else None

    # -- the closed-loop client -------------------------------------------
    def op(self, kind: str, name: str, body) -> float | None:
        """Run one timed operation; record its latency under ``kind``,
        and its Spark work when tracing.  Returns the latency in ms, or
        None when the operation raised."""
        if self.trace:
            self.tracer.begin_op()
            m0 = self.probe.mark()
        self.attempted += 1
        ok = True
        t0 = time.perf_counter()
        with self.span("op", key=name, kind=kind) as root:
            try:
                body()
            except Exception as e:     # counted as failed, run continues
                ok = False
                self.failed += 1
                print(f"perfbench: {name} failed: {e!r}"[:2000],
                      file=sys.stderr)
        dt = time.perf_counter() - t0
        if ok:
            self.samples[kind].append(dt)
        if self.trace:
            self.probe.settle()
            self._attribute(m0, self.probe.mark(), root)
        return dt * 1e3 if ok else None

    def _attribute(self, m0, m1, root: int) -> None:
        jobs = self.probe.jobs(m0, m1)
        op_spans = [i for i, s in enumerate(self.tracer.spans)
                    if s.op == self.tracer.op]
        r = self.tracer.spans[root]
        if jobs is None:
            self.add("spark.driver_ms", None)
        else:
            ivals = []
            for jid, sub, done in jobs:
                lo, hi = max(sub, r.start_ms), min(done, r.end_ms)
                ivals.append((lo, max(lo, hi)))
                self.tracer.add("spark.job", lo, max(lo, hi),
                                self.tracer.enclosing(lo, op_spans),
                                job=jid)
            self.add("spark.driver_ms",
                     (r.end_ms - r.start_ms) - union_ms(ivals))
        self.add("spark.jobs", m1.job - m0.job)
        stages = self.probe.stages(m0, m1)
        for k in STAGE_FIELDS:
            self.add(k, None if stages is None else stages[k])
        py = self.probe.python(m0, m1)
        for k in PYTHON_METRICS.values():
            self.add(k, None if py is None else py[k])

    def measure(self, unit, seconds: float,
                min_units: int) -> tuple[int, float]:
        """Run whole units (passes or cycles), at least ``min_units`` and
        then another while less than ``seconds`` have elapsed, so that
        every run measures the same mix of operations."""
        t0 = time.perf_counter()
        n = 0
        while n < min_units or time.perf_counter() - t0 < seconds:
            t_unit = time.perf_counter()
            unit(n)
            n += 1
            print(f"perfbench: unit {n} took "
                  f"{time.perf_counter() - t_unit:.2f} s", file=sys.stderr)
        return n, time.perf_counter() - t0

    # -- results ----------------------------------------------------------
    def result(self, setup_s: float, session_s: float, units: int,
               elapsed: float, extra: dict) -> dict:
        lat = [x for v in self.samples.values() for x in v]
        ops = len(lat)
        if not self.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "throughput_qpm": (60.0 * ops / elapsed, "1/min"),
                "latency_p50_s": (statistics.median(lat), "s"),
            }
            assert tuple(metrics) == END_TO_END
        else:
            metrics = self._layer_metrics(session_s, units, elapsed, ops,
                                          lat, extra)
        attempted = self.attempted + extra.get("checks", 0)
        failed = self.failed + len(self.checks_failed)
        return {
            "correct": not self.checks_failed and self.failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": None if v is None else float(v),
                            "unit": u} for k, (v, u) in metrics.items()},
        }

    def _layer_metrics(self, session_s, units, elapsed, ops, lat, extra):
        per = {k: (None if v is None else v / units)
               for k, v in self.layer.items()}
        run_ms, cpu_ms = per["spark.run_ms"], per["spark.cpu_ms"]
        self_ms = self.tracer.self_ms()
        commits = self.samples["commit"]
        drains = self.samples["drain"]
        reads = self.samples["read"]
        attempted = self.attempted + extra.get("checks", 0)
        m = {"session.start_s": (session_s, "s"),
             "jvm.peak_rss_mb": (jvm_peak_rss_mb(self.spark), "MiB")}
        for k in SUMMED:
            unit = "ms" if k.endswith("_ms") else (
                "bytes" if k.endswith("_bytes") or k.endswith("bytes_staged")
                else "count")
            m[k] = (per[k], unit)
        m["python.offcpu_ms"] = (
            None if run_ms is None or cpu_ms is None else run_ms - cpu_ms,
            "ms")
        m["txnlog.jobs_per_commit"] = (extra.get("jobs_per_commit", 0.0),
                                       "count")
        m["txnlog.files_read_ratio"] = (extra.get("files_read_ratio", 0.0),
                                        "ratio")
        m["txnlog.read_p50_s"] = (statistics.median(reads) if reads else 0.0,
                                  "s")
        m["commit_p50_s"] = (statistics.median(commits) if commits else 0.0,
                             "s")
        m["commit_tail_s"] = (tail(commits) if commits else 0.0, "s")
        m["cdc_catchup_s"] = (statistics.median(drains) if drains else 0.0,
                              "s")
        m["space_amp"] = (extra.get("space_amp", 0.0), "ratio")
        m["failed_ratio"] = (
            (self.failed + len(self.checks_failed)) / attempted, "ratio")
        for name in SELF_LAYERS:
            m[f"self.{name}_ms"] = (self_ms.get(name, 0.0) / units, "ms")
        m["latency_tail_s"] = (tail(lat), "s")
        m["latency.samples"] = (len(lat), "count")
        m["trace.throughput_qpm"] = (60.0 * ops / elapsed, "1/min")
        m["trace.latency_p50_s"] = (statistics.median(lat), "s")
        self.tracer.write(os.path.join(
            os.path.dirname(self.work), "spans",
            f"{extra['workload']}-seed{self.seed}.jsonl"))
        assert list(m) == per_layer_names()
        return m


# -- query_mix ------------------------------------------------------------------

def query_workload(bench: Bench, keys: list[str], seconds: float,
                   t_setup0: float, session_s: float, name: str) -> dict:
    """Seeded permutations of ``keys``.  Each timed operation builds the
    key's DataFrame and collects every row and column to the client;
    after the measured window each collected output is compared with the
    key's DuckDB oracle, computed once per run."""
    import oracle_harness
    from docker_aktin_dwh_spark.registry import build_registry

    spark, sf = bench.spark, bench.sf_dir
    specs = build_registry()
    duck = oracle_harness.duck_connection(sf)
    expected: dict = {}

    def check(key, got) -> None:
        ok, msg = oracle_harness.compare(_Collected(got), expected[key])
        if not ok:
            bench.checks_failed.append(key)
            print(f"perfbench: {key} output mismatch: {msg}"[:2000],
                  file=sys.stderr)

    def warm(key):
        expected[key] = duck.cursor().execute(specs[key].oracle).df()
        return specs[key].fn(spark, sf).toPandas()

    # warm pass, part of set-up: every key once, outputs checked
    with ThreadPoolExecutor(max_workers=bench.cpus) as ex:
        futures = [(k, ex.submit(warm, k)) for k in keys]
        for key, fut in futures:
            try:
                check(key, fut.result())
            except Exception as e:       # reported as a failed check
                bench.checks_failed.append(key)
                print(f"perfbench: {key} failed in the warm pass: {e!r}"
                      [:2000], file=sys.stderr)
    duck.close()
    setup_s = time.perf_counter() - t_setup0

    outputs: list = []

    def run_key(key):
        def body():
            with bench.span("registry.build"):
                m0 = bench.mark()
                df = specs[key].fn(spark, sf)
                if bench.trace:
                    bench.add("registry.build_jobs",
                              bench.probe.mark().job - m0.job)
            with bench.span("collect"):
                outputs.append((key, df.toPandas()))
        bench.op("query", key, body)

    def one_pass(_n):
        order = list(keys)
        bench.rng.shuffle(order)
        for key in order:
            run_key(key)

    # the first pass after the warm pass still runs slower than later
    # ones; three passes are the least a run measures, for steadiness
    units, elapsed = bench.measure(one_pass, seconds, min_units=3)
    for key, got in outputs:
        check(key, got)
    if bench.trace:
        for s in bench.tracer.spans:
            if s.name == "registry.build":
                bench.add("registry.build_ms", s.end_ms - s.start_ms)
    return bench.result(setup_s, session_s, units, elapsed,
                        {"checks": len(keys) + len(outputs),
                         "workload": name})


class _Collected:
    """A collected output in the shape ``oracle_harness.compare`` takes."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


# -- txn_ingest ---------------------------------------------------------------

class TxnIngest:
    """Writes beside reads on one txnlog table made from ``orders``.
    Every batch is a SQL query over the ``orders5`` view, so DuckDB can
    replay the same op log for the output check."""

    def __init__(self, bench: Bench, n_orders: int):
        from docker_aktin_dwh_spark.sources import cdcstream, txnlog
        self.b, self.txnlog = bench, txnlog
        self.spark = bench.spark
        self.n = n_orders
        self.path = os.path.join(bench.work, "orders_txn")
        self.sink = os.path.join(bench.work, "cdc_sink")
        self.ckpt = os.path.join(bench.work, "cdc_ckpt")
        #: (version, DuckDB statements that replay the commit)
        self.replay: list[tuple[int, list[str]]] = []
        self.v_created = 0
        self.jobs_in_commits = 0
        self.commits = 0
        self.files_scanned = self.files_live = 0
        self.spark.read.parquet(os.path.join(bench.sf_dir, "orders.parquet")) \
            .selectExpr(*ORDER_COLS.split(", ")) \
            .createOrReplaceTempView("orders5")
        cdcstream.register(self.spark)

    def create(self) -> None:
        df = self.spark.table("orders5").repartitionByRange(8, KEY)
        self.v_created = self.txnlog.create_table(self.spark, df, self.path,
                                                  key=KEY).version
        self.replay.append((self.v_created,
                            [f"CREATE TABLE t AS SELECT {ORDER_COLS} "
                             f"FROM orders5"]))

    # -- timed verbs --------------------------------------------------------
    def _commit(self, verb: str, body, replay: list[str]) -> None:
        b = self.b
        v0 = self._versions()[-1] if b.trace else None
        m0 = b.mark()

        def timed():
            with b.span("txnlog.write", verb=verb):
                body()
        ms = b.op("commit", verb, timed)
        if ms is not None:
            self.replay.append((self.txnlog.snapshot(self.path).version,
                                replay))
        if b.trace:
            b.add(f"txnlog.{verb}_ms", ms)
            self.jobs_in_commits += b.probe.mark().job - m0.job
            self.commits += 1
            self._commit_stats(v0)

    def _versions(self) -> list[int]:
        log = os.path.join(self.path, "_txnlog")
        return sorted(int(n[:-5]) for n in os.listdir(log)
                      if n.endswith(".json") and n[:-5].isdigit())

    def _commit_stats(self, v0: int) -> None:
        log = os.path.join(self.path, "_txnlog")
        for v in self._versions():
            if v <= v0:
                continue
            with open(os.path.join(log, f"{v:020d}.json")) as f:
                c = json.load(f)
            adds = c.get("add", [])
            self.b.add("txnlog.files_added", len(adds))
            self.b.add("txnlog.files_removed", len(c.get("remove", [])))
            self.b.add("txnlog.dv_files", len(c.get("dv", [])))
            self.b.add("txnlog.bytes_staged", sum(
                os.path.getsize(os.path.join(self.path, a["file"]))
                for a in adds))

    def _read(self, name: str, df_fn) -> None:
        b = self.b

        def body():
            with b.span("txnlog.read", read=name):
                df = df_fn()
            with b.span("sink.noop"):
                df.write.format("noop").mode("overwrite").save()
        ms = b.op("read", name, body)
        if b.trace:
            b.add("txnlog.read_ms", ms)

    def _drain(self) -> None:
        b = self.b
        progress, span = [], []

        def body():
            with b.span("cdcstream.drain") as sid:
                span.append(sid)
                self._stream(progress)
        ms = b.op("drain", "cdc_drain", body)
        if b.trace:
            trig = 0.0
            for p in progress:
                t_ms = p.durationMs.get("triggerExecution", 0)
                start = _progress_ms(p.timestamp)
                b.tracer.add("cdcstream.trigger", start, start + t_ms,
                             span[0])
                trig += t_ms
                b.add("cdcstream.rows", p.numInputRows)
            b.add("cdcstream.trigger_ms", trig)
            b.add("cdcstream.lifecycle_ms", None if ms is None else ms - trig)

    def _stream(self, progress: list) -> None:
        """Drain the change feed written since the last drain into the
        parquet sink; the checkpoint makes each drain resume."""
        q = (self.spark.readStream.format("txnlog_cdc")
             .option("path", self.path).option("key", KEY)
             .option("startingVersion", str(self.v_created)).load()
             .writeStream.format("parquet")
             .option("path", self.sink)
             .option("checkpointLocation", self.ckpt)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        finally:
            progress.extend(q.recentProgress)

    def cycle(self, c: int) -> None:
        """One ingest cycle; ``c`` numbers cycles from the warm one."""
        from pyspark.sql import functions as F
        t, spark, rng, n = self.txnlog, self.spark, self.b.rng, self.n
        a = n * 2 // 15                    # 20k keys on 150k orders
        band = max(1, n // 300)
        with self.b.span("txnlog.snapshot"):
            t_snap = time.time() * 1e3
            v_start = t.snapshot(self.path).version
            if self.b.trace:
                self.b.add("txnlog.snapshot_ms", time.time() * 1e3 - t_snap)

        s = rng.randrange(n - a)
        sql = (f"SELECT o_orderkey + {n * (c + 1)} AS o_orderkey, o_custkey, "
               f"o_orderstatus, o_totalprice, o_orderdate FROM orders5 "
               f"WHERE o_orderkey >= {s} AND o_orderkey < {s + a}")
        self._commit("append",
                     lambda: t.append(spark, spark.sql(sql), self.path,
                                      key=KEY),
                     [f"INSERT INTO t {sql}"])

        mod = max(2, n // 100)             # ~100 scattered keys
        r = rng.randrange(mod)
        sql = (f"SELECT o_orderkey, o_custkey, o_orderstatus, "
               f"o_totalprice + CAST({c + 1} AS DOUBLE) AS o_totalprice, "
               f"o_orderdate FROM orders5 WHERE o_orderkey % {mod} = {r}")
        self._commit("merge",
                     lambda: t.merge(spark, self.path, spark.sql(sql),
                                     key=KEY),
                     [f"DELETE FROM t WHERE o_orderkey IN "
                      f"(SELECT o_orderkey FROM ({sql}))",
                      f"INSERT INTO t {sql}"])

        u = rng.randrange(n - band)
        d = (u + n // 2) % (n - band)
        sql = (f"SELECT o_orderkey, o_custkey, o_orderstatus, "
               f"o_totalprice + CAST(0.5 AS DOUBLE) AS o_totalprice, "
               f"o_orderdate, 'update' AS op FROM orders5 "
               f"WHERE o_orderkey >= {u} AND o_orderkey < {u + band} "
               f"UNION ALL SELECT {ORDER_COLS}, 'delete' AS op FROM orders5 "
               f"WHERE o_orderkey >= {d} AND o_orderkey < {d + band}")
        self._commit("apply_changes",
                     lambda: t.apply_changes(spark, self.path,
                                             spark.sql(sql), key=KEY),
                     [f"DELETE FROM t WHERE o_orderkey IN "
                      f"(SELECT o_orderkey FROM ({sql}))",
                      f"INSERT INTO t SELECT {ORDER_COLS} FROM ({sql}) "
                      f"WHERE op <> 'delete'"])

        w = rng.randrange(n - band)
        self._commit("update_where",
                     lambda: t.update_where(
                         spark, self.path, key=KEY,
                         filters=[(KEY, ">=", w), (KEY, "<", w + band)],
                         assignments={"o_totalprice":
                                      "o_totalprice + CAST(7 AS DOUBLE)"}),
                     [f"UPDATE t SET o_totalprice = o_totalprice + "
                      f"CAST(7 AS DOUBLE) WHERE o_orderkey >= {w} "
                      f"AND o_orderkey < {w + band}"])

        x = rng.randrange(n - band)
        hi = x + band // 2 + 1
        self._commit("delete_where",
                     lambda: t.delete_where(
                         spark, self.path, key=KEY,
                         filters=[(KEY, ">=", x), (KEY, "<", hi)]),
                     [f"DELETE FROM t WHERE o_orderkey >= {x} "
                      f"AND o_orderkey < {hi}"])

        if c % 4 == 1:
            self._commit("compact",
                         lambda: t.compact(spark, self.path, key=KEY,
                                           target_files=8),
                         [])

        lo = rng.randrange(n - n // 10)
        flt = [(KEY, ">=", lo), (KEY, "<", lo + n // 10)]
        if self.b.trace:
            snap = t.snapshot(self.path)
            self.files_scanned += len(t.prune_files(snap, flt))
            self.files_live += len(snap.files)
        self._read("read_filtered", lambda: t.read_table(
            spark, self.path, filters=flt)
            .filter((F.col(KEY) >= lo) & (F.col(KEY) < lo + n // 10)))
        self._read("read_aggregate", lambda: t.read_table(spark, self.path)
                   .groupBy("o_orderstatus")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum("o_totalprice").alias("total")))
        self._read("read_time_travel", lambda: t.read_table(
            spark, self.path, version=v_start))
        self._read("read_changes", lambda: t.table_changes(
            spark, self.path, v_start, key=KEY))
        self._drain()

    # -- outside the timed window -----------------------------------------
    def check(self) -> int:
        """Replay the op log in DuckDB, one snapshot per committed version.
        The final snapshot must equal the table, and the streamed change
        rows must equal the per-version differences of the replayed
        snapshots (deletes, inserts and pre/post images of changed rows;
        rows rewritten unchanged are no change).  Returns the number of
        checks made."""
        import duckdb
        import oracle_harness

        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders5 AS SELECT {ORDER_COLS} FROM "
                    f"'{self.b.sf_dir}/orders.parquet'")
        changes, prev = [], None
        for version, stmts in self.replay:
            for stmt in stmts:
                con.execute(stmt)
            if version == prev:       # the verb matched nothing: no commit
                continue
            con.execute(f"CREATE TABLE s{version} AS SELECT * FROM t")
            if prev is not None:
                changes.append(_diff_sql(f"s{prev}", f"s{version}", version))
            prev = version
        ok, msg = oracle_harness.compare(
            self.txnlog.read_table(self.spark, self.path),
            con.execute("SELECT * FROM t").df())
        if not ok:
            self.b.checks_failed.append("txn_final_snapshot")
            print(f"perfbench: final snapshot mismatch: {msg}",
                  file=sys.stderr)
        expected = con.execute(" UNION ALL ".join(changes)).df()
        con.close()
        streamed = self.spark.read.parquet(self.sink) \
            .withColumnRenamed("_commit_version", "commit_version")
        ok, msg = oracle_harness.compare(streamed, expected)
        if not ok:
            self.b.checks_failed.append("txn_cdc_stream")
            print(f"perfbench: cdc stream mismatch: {msg}", file=sys.stderr)
        return 2

    def space_amp(self) -> float:
        plain = os.path.join(self.b.work, "plain_snapshot")
        self.txnlog.read_table(self.spark, self.path).write.parquet(plain)
        return _tree_bytes(self.path) / _tree_bytes(plain)


def _diff_sql(old: str, new: str, version: int) -> str:
    """DuckDB query for the classified change rows between two snapshot
    tables, tagged with ``version``."""
    cols = ORDER_COLS.split(", ")
    changed = " OR ".join(f"o.{c} IS DISTINCT FROM n.{c}" for c in cols[1:])
    sel = ", ".join(f"{{side}}.{c}" for c in cols)

    def rows(side: str, kind: str, where: str) -> str:
        return (f"SELECT {sel.format(side=side)}, '{kind}' AS change_type, "
                f"CAST({version} AS BIGINT) AS commit_version "
                f"FROM {old} o FULL JOIN {new} n USING ({KEY}) WHERE {where}")
    return " UNION ALL ".join([
        rows("o", "delete", f"n.{KEY} IS NULL"),
        rows("n", "insert", f"o.{KEY} IS NULL"),
        rows("o", "update_preimage",
             f"o.{KEY} IS NOT NULL AND n.{KEY} IS NOT NULL AND ({changed})"),
        rows("n", "update_postimage",
             f"o.{KEY} IS NOT NULL AND n.{KEY} IS NOT NULL AND ({changed})"),
    ])


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def _progress_ms(ts: str) -> float:
    from datetime import datetime, timezone
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1e3


def txn_workload(bench: Bench, seconds: float, t_setup0: float,
                 session_s: float, n_orders: int) -> dict:
    txn = TxnIngest(bench, n_orders)
    t_create = time.perf_counter()
    txn.create()
    t_warm = time.perf_counter()
    txn.cycle(0)                      # warm cycle, part of set-up
    setup_s = time.perf_counter() - t_setup0
    print(f"perfbench: set-up: create {t_warm - t_create:.2f} s, warm "
          f"cycle {time.perf_counter() - t_warm:.2f} s", file=sys.stderr)
    if bench.failed:
        bench.checks_failed.append("txn_warm_cycle")
    # the warm cycle's operations are set-up: drop what they recorded
    bench.attempted = bench.failed = 0
    for k in bench.samples:
        bench.samples[k].clear()
    bench.layer = dict.fromkeys(SUMMED, 0.0)
    if bench.trace:
        bench.tracer.spans.clear()
        txn.jobs_in_commits = txn.commits = 0
        txn.files_scanned = txn.files_live = 0
    units, elapsed = bench.measure(lambda c: txn.cycle(c + 1), seconds,
                                   min_units=2)
    checks = txn.check()
    extra = {"checks": checks, "workload": "txn_ingest"}
    if bench.trace:
        extra["space_amp"] = txn.space_amp()
        extra["jobs_per_commit"] = txn.jobs_in_commits / max(1, txn.commits)
        extra["files_read_ratio"] = (txn.files_scanned
                                     / max(1, txn.files_live))
    return bench.result(setup_s, session_s, units, elapsed, extra)
