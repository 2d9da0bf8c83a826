"""The two benchmark workloads.

- ``daily_etl``: consecutive simulated days through ``pipeline.run_daily``,
  each into the warehouse the days before it built: day 1 (the initial
  load) is the warm-up, day 2 is measured. The paper's write path:
  sources, SCD merges, the stg/dwh/rep warehouse with its commit
  protocol, the watermark/run-log state and the fraud report. It touches
  none of dedup/ann/corpus, so it is the bypass workload for build-layer
  work.
- ``catalog_stream``: a read-path catalog query whose operators fire
  eager jobs while building its plan (near-dup clusters), and an
  AvailableNow drain of a stateful fraud stream — the only workload
  through ``streaming.rules`` and the state store.

An operation is one day, one query or one drain. Each query/drain is
timed as plan build (the query function) plus one aggregate over every
output column that yields the row count and an order-insensitive value
hash, so the output is checked without running the plan twice. Query
and drain digests are compared with ``goldens.json``; the daily
warehouse is compared with what the generator says it must hold.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

import gen
import layers
import spans

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")

# query -> (plan-build group, input table): the near-dup clusters, whose
# operators fire about 60 jobs while building the plan, and one drain of
# the custom ordered-replay state operator (applyInPandasWithState). The
# OPQ-IVF index probe was measured too, but its cold first run added
# about 11 s to every run, more than the run budget holds. The seed
# picks which of the two runs first.
QUERIES = {
    "q_stream_rule4": ("stream", "events"),
    "q_dedup_clusters": ("dedup", "documents"),
}
BUILD_GROUPS = ("dedup",)


def digest_frame(df):
    """One-row frame: row count and the sum of a 64-bit hash of each
    row's JSON rendering (exact decimal sum, so order-insensitive)."""
    cols = [f"c{i}" for i in range(len(df.columns))]
    h = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")
    return df.toDF(*cols).agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))


def read_digest(row) -> list:
    return [int(row["n"]), str(row["h"])]


class Workload:
    name = ""
    warmup_passes = 1  # untimed passes before measuring
    measured_passes = None  # None: whole passes until --seconds have passed

    def __init__(self, spark, work: str, seed: int, trace: bool, record_goldens: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.record_goldens = record_goldens
        self.tracer = spans.Tracer() if trace else None
        self.status = spans.StatusReader(spark) if trace else None
        self.listener = None
        self.tracing = False
        self.all_passes: list[dict] = []
        self.extra_ops: list[dict] = []
        with open(GOLDENS) as fh:
            self.goldens = json.load(fh)
        self.seen: dict[str, list] = {}

    # -- lifecycle ------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def _pass(self) -> dict:
        raise NotImplementedError

    def instrument(self) -> None:
        """Install the workload's layer wrappers (traced run only)."""

    def start_tracing(self) -> None:
        self.tracing = True
        self.instrument()

    def run_pass(self, warmup: bool = False) -> dict:
        mark = (len(self.tracer.spans) if self.tracer else 0,
                len(self.listener.progress) if self.listener else 0)
        cost = self.tracer.cost_s if self.tracer else 0.0
        p = self._pass()
        if self.tracer:
            p["trace_cost_s"] = self.tracer.cost_s - cost
        if self.tracing:
            self.status.drain()
        p["warmup"] = warmup
        p["marks"] = (mark, (len(self.tracer.spans) if self.tracer else 0,
                             len(self.listener.progress) if self.listener else 0))
        self.all_passes.append(p)
        return p

    def finish(self) -> None:
        if self.tracer:
            self.tracer.uninstall()
        if self.record_goldens:
            self.goldens.setdefault(self.name, {}).update(self.seen)
            with open(GOLDENS, "w") as fh:
                json.dump(self.goldens, fh, indent=1, sort_keys=True)
                fh.write("\n")

    # -- operations -----------------------------------------------------
    def check_digest(self, rec: dict, key: str, digest: list) -> None:
        """Fail ``rec`` if ``digest`` differs from the recorded golden or
        if there is none. When recording, every pass must agree with the
        run's first value instead."""
        if self.record_goldens:
            want = self.seen.setdefault(key, digest)
        else:
            want = self.goldens.get(self.name, {}).get(key)
        if want is None:
            self.fail(rec, f"{key}: no golden digest recorded")
        elif digest != want:
            self.fail(rec, f"{key}: digest {digest} != expected {want}")

    @staticmethod
    def fail(rec: dict, msg: str) -> None:
        if rec["ok"]:
            rec["ok"], rec["error"] = False, msg

    def timed(self, name: str, body) -> dict:
        """Run ``body(rec)`` as one operation; exceptions fail the op.
        Garbage the operations before left behind is collected first, so
        no operation pays for another's."""
        rec = {"name": name, "ok": True, "error": None}
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        if self.tracing:
            rec["job0"] = self.status.last_job_id()
        self.spark.sparkContext.setJobGroup(name, name)
        span = self.tracer.begin(f"op.{name}") if self.tracing else None
        w0, t0 = time.time(), time.perf_counter()
        try:
            body(rec)
        except Exception as e:  # an operation failure is a measured outcome
            traceback.print_exc(file=sys.stderr)
            self.fail(rec, f"{type(e).__name__}: {e}")
        rec["seconds"] = time.perf_counter() - t0
        rec["wall"] = (w0, time.time())
        if span is not None:
            self.tracer.end(span)
            rec["jobs"] = self.status.jobs(rec["job0"])
        return rec

    def query_op(self, qname: str, data_dir: str) -> dict:
        """Time one catalog query or stream drain: build, then the digest
        action; check the digest after the clock stops."""
        from etl_fraud_detection_spark.operators import dedup, sampling
        from etl_fraud_detection_spark.plans.queries import QUERIES

        for release in (getattr(dedup, "release_shingles", None),
                        getattr(sampling, "release_ranked", None)):
            if release is not None:
                release()
        self.spark.catalog.clearCache()
        out = {}
        mark = len(self.listener.progress) if self.listener else 0

        def body(rec):
            t0 = time.perf_counter()
            s = self.tracer.begin("build") if self.tracing else None
            df = QUERIES[qname].fn(self.spark, data_dir)
            if s:
                self.tracer.end(s)
            t1 = time.perf_counter()
            rec["build_s"], rec["build_end"] = t1 - t0, time.time()
            s = self.tracer.begin("execute") if self.tracing else None
            agg = digest_frame(df)
            out["row"] = agg.collect()[0]
            if s:
                self.tracer.end(s)
            rec["exec_s"] = time.perf_counter() - t1
            if self.tracing:
                rec["catalyst"] = spans.catalyst_phases_ms(agg)

        rec = self.timed(qname, body)
        # memory-sink views of drained streams pin their rows on the Spark driver
        for t in self.spark.catalog.listTables():
            if t.isTemporary:
                self.spark.catalog.dropTempView(t.name)
        if "row" in out:
            rec["digest"] = read_digest(out["row"])
            self.check_digest(rec, qname, rec["digest"])
        if self.listener:
            spans.wait_listener_bus(self.spark)
            rec["input_rows"] = sum(ev.get("numInputRows", 0) for ev in self.listener.progress[mark:])
        return rec

    # -- per-layer metrics (traced run) -------------------------------------
    def layer_metrics(self, passes: list[dict]) -> dict[str, float]:
        per = [self._pass_layers(p) for p in passes]
        return {k: float(statistics.median(m[k] for m in per)) for k in layers.PER_LAYER
                if k != "driver.peak_rss_mb"}

    def _pass_layers(self, p: dict) -> dict[str, float]:
        m = dict.fromkeys(layers.PER_LAYER, 0.0)
        ops = p["ops"]
        jobs = [j for o in ops for j in o.get("jobs", [])]
        st = self.status.stage_totals(jobs)
        m["execute.jobs"] = len(jobs)
        for k, v in st.items():
            m[f"execute.{k}"] = v
        cores = self.spark.sparkContext.defaultParallelism
        m["execute.core_busy"] = st["task_s"] / (p["seconds"] * cores)
        m["trace.overhead_s"] = p["trace_cost_s"]
        for o in ops:
            w0, w1 = o["wall"]
            busy = spans.union_length([(max(j["start"], w0), min(j["end"], w1)) for j in o.get("jobs", [])
                                       if j["start"] and j["end"] and j["end"] > w0 and j["start"] < w1])
            m["driver.no_job_s"] += max(0.0, (w1 - w0) - busy)
            if "build_s" not in o:
                continue
            n_build = sum(1 for j in o.get("jobs", []) if j["start"] and j["start"] <= o["build_end"])
            m["plans.queries.build_s"] += o["build_s"]
            m["plans.queries.exec_s"] += o["exec_s"]
            m["plans.queries.build_jobs"] += n_build
            for ph, v in o.get("catalyst", {}).items():
                m[f"catalyst.{ph}_ms"] += v
            grp = QUERIES[o["name"]][0]
            if grp in BUILD_GROUPS:
                m[f"plans.queries.build_s.{grp}"] += o["build_s"]
                m[f"plans.queries.build_jobs.{grp}"] += n_build
        (s0, l0), (s1, l1) = p["marks"]
        self._span_layers(m, spans.summarize(self.tracer.spans[s0:s1]), p)
        if self.listener:
            self._stream_layers(m, self.listener.progress[l0:l1], jobs, ops)
        return m

    def _span_layers(self, m, summary, p) -> None:
        pass

    def _stream_layers(self, m, progress, jobs, ops) -> None:
        pass

    def trace_dump(self) -> dict:
        t0 = self.tracer.spans[0].start if self.tracer.spans else 0.0
        return {"span_summary": spans.summarize(self.tracer.spans),
                "spans": self.tracer.to_json(t0),
                "stream_progress": self.listener.progress if self.listener else []}


# ---------------------------------------------------------------------------
# daily_etl
# ---------------------------------------------------------------------------


class DailyEtl(Workload):
    name = "daily_etl"
    # one day costs more than --seconds, and each day runs on a bigger
    # warehouse than the one before: a fixed day count keeps runs comparable
    measured_passes = 1
    SPANS = {  # span name -> per-layer metric (inclusive seconds)
        "sources.read": "sources.read_s",
        "pipeline.ingest_file": "pipeline.ingest_file_s",
        "pipeline.ingest_snapshot": "pipeline.ingest_snapshot_s",
        "pipeline.mart_update": "pipeline.mart_update_s",
        "pipeline.commit": "pipeline.commit_s",
        "pipeline.stg_write": "pipeline.stg_write_s",
        "pipeline.dwh_write": "pipeline.dwh_write_s",
        "pipeline.rep_append": "pipeline.rep_append_s",
        "state.watermark": "state.watermark_s",
        "state.runlog": "state.runlog_s",
        "operators.scd": "operators.scd.build_s",
        "plans.fraud": "plans.fraud.build_s",
    }
    TABLES = {
        "stg": ("transactions", "passport_blacklist", "terminals", "clients", "accounts", "cards"),
        "dwh": ("fact_transaction", "fact_passport_blacklist", "dim_terminals_hist",
                "dim_clients_hist", "dim_accounts_hist", "dim_cards_hist"),
        "rep": ("rep_fraud",),
    }

    def setup(self) -> None:
        self.sim = gen.EtlSim(self.seed)
        self.etl_dir = os.path.join(self.work, "etl")
        self.expect_dir = os.path.join(self.work, "expect")
        os.makedirs(os.path.join(self.etl_dir, "in"))
        os.makedirs(self.expect_dir)
        # SCD2 versions per dimension; the fact table's rows are checked by digest
        self.want = {"dim_terminals_hist": self.sim.n_terminals,
                     "dim_clients_hist": len(self.sim.clients),
                     "dim_accounts_hist": len(self.sim.accounts),
                     "dim_cards_hist": len(self.sim.cards)}
        self.expected_report = []  # (report_dt, event_type, event_dt, passport)
        self.input_bytes = 0
        self.last_day = None

    def instrument(self) -> None:
        from etl_fraud_detection_spark import pipeline, state
        from etl_fraud_detection_spark.operators import scd
        from etl_fraud_detection_spark.plans import fraud
        from etl_fraud_detection_spark.sources import files

        t = self.tracer
        targets = [
            (files, "read_any", "sources.read"),
            (pipeline, "ingest_file", "pipeline.ingest_file"),
            (pipeline, "ingest_table_snapshot", "pipeline.ingest_snapshot"),
            (pipeline, "mart_update", "pipeline.mart_update"),
            (pipeline.Warehouse, "overwrite", lambda wh, layer, *a, **k: f"pipeline.{layer}_write"),
            (pipeline.Warehouse, "append", lambda wh, layer, *a, **k: f"pipeline.{layer}_append"),
            (pipeline.Warehouse, "begin_run", "pipeline.commit"),
            (pipeline.Warehouse, "commit_run", "pipeline.commit"),
            (pipeline.Warehouse, "recover", "pipeline.commit"),
            (scd, "scd1_merge", "operators.scd"),
            (scd, "scd2_merge", "operators.scd"),
            (fraud, "fraud_report", "plans.fraud"),
        ]
        targets += [(state.WatermarkStore, a, "state.watermark")
                    for a in ("get", "should_load", "advance")]
        targets += [(state.RunLog, a, "state.runlog") for a in ("next_run_id", "append")]
        for owner, attr, name in targets:
            if hasattr(owner, attr):  # a renamed layer reads 0, it does not crash the run
                t.instrument(owner, attr, name)

    def _run_day(self, name, day, hour=3):
        """``run_daily`` over the day's files and snapshots, archiving
        each consumed file as the production job does."""
        from etl_fraud_detection_spark import pipeline

        data_dir = os.path.join(self.etl_dir, "in")
        for fname, content in day.files.items():
            with open(os.path.join(data_dir, fname), "wb") as fh:
                fh.write(content)
        paths = gen.write_snapshots(day, os.path.join(self.etl_dir, "snapshots", f"day{day.day}"))
        snaps = {name: self.spark.read.schema(gen.SNAPSHOT_SCHEMAS[name]).parquet(path)
                 for name, path in paths.items()}
        now = F.expr(f"TIMESTAMP_NTZ '{day.date:%Y-%m-%d} {hour:02d}:30:00'")
        today = F.expr(f"TIMESTAMP_NTZ '{day.date:%Y-%m-%d} 00:00:00'")
        return self.timed(name, lambda rec: pipeline.run_daily(
            self.spark, data_dir, os.path.join(self.etl_dir, "wh"), db_tables=snaps,
            now=now, today=today, do_archive=True))

    def _warehouse(self):
        from etl_fraud_detection_spark import pipeline

        return pipeline.Warehouse(self.spark, os.path.join(self.etl_dir, "wh"))

    def _state(self) -> dict[str, list]:
        wh = self._warehouse()
        out = {}
        for layer in ("dwh", "rep"):
            for t in self.TABLES[layer]:
                df = wh.read(layer, t)
                out[t] = read_digest(digest_frame(df).collect()[0]) if df is not None else None
        return out

    def _check(self, rec) -> None:
        """The warehouse after the days so far, against the generator.
        Every changed SCD2 key adds exactly one version. The report holds
        exactly the injected fraud, day by day. Every dwh table's values
        match: all fact rows (so every transaction lands once), the
        blacklist and the current version of every dimension key, as a
        count and an order-insensitive digest of their business columns
        joined into tab-separated lines. The expected lines are files the
        benchmark writes, read back as plain text."""
        from etl_fraud_detection_spark.functions.core import sentinel_ts
        from etl_fraud_detection_spark.mapping import MAPPINGS

        wh = self._warehouse()
        rows = wh.read("rep", "rep_fraud").select(
            "report_dt", "event_type", "event_dt", "passport").collect()
        got = sorted(tuple(r) for r in rows)
        if got != sorted(self.expected_report):
            self.fail(rec, f"rep_fraud: {len(got)} rows != {len(self.expected_report)} expected")
        for table, rows in self.sim.expected_tables().items():
            with open(os.path.join(self.expect_dir, f"{table}.tsv"), "w") as fh:
                fh.writelines("\t".join(r) + "\n" for r in rows)
        got = want = None
        for m in MAPPINGS.values():
            t = F.lit(m.dwh_table).alias("t")
            df = wh.read("dwh", m.dwh_table)
            current = (~F.col("deleted_flg") & (F.col("effective_to") == sentinel_ts())
                       if m.scd == 2 else F.lit(True))
            line = F.concat_ws("\t", *[F.col(c).cast("string") for c in m.dwh_columns])
            g = df.select(t, F.when(current, line).alias("line"))
            w = self.spark.read.text(os.path.join(self.expect_dir, f"{m.dwh_table}.tsv")).select(
                t, F.col("value").alias("line"))
            got, want = (g, w) if got is None else (got.unionByName(g), want.unionByName(w))

        def digests(df):  # table -> (rows, current rows, digest of the current rows)
            # xxhash64 of a null is its seed, not null: hash current lines only
            h = F.when(F.col("line").isNotNull(), F.xxhash64("line")).cast("decimal(38,0)")
            agg = df.groupBy("t").agg(F.count(F.lit(1)).alias("rows"), F.count("line").alias("n"),
                                      F.sum(h).alias("h"))
            return {r["t"]: (r["rows"], r["n"], str(r["h"])) for r in agg.collect()}

        got, want = digests(got), digests(want)
        for t, (_, n, h) in want.items():
            versions, got_n, got_h = got.get(t, (0, 0, None))
            if (got_n, got_h) != (n, h):
                self.fail(rec, f"{t}: {got_n} current rows, digest {got_h} != generated {n}, {h}")
            if t in self.want and versions != self.want[t]:
                self.fail(rec, f"{t}: {versions} versions != {self.want[t]} expected")

    def _pass(self) -> dict:
        """One new day into the warehouse the run keeps growing."""
        day = self.sim.next_day()
        self.input_bytes += sum(len(b) for b in day.files.values())
        self.want["dim_terminals_hist"] += day.changed_terminals
        self.want["dim_clients_hist"] += day.changed_clients
        self.expected_report += [(day.date.date(), *r) for r in day.expected_report]
        with open(os.path.join(self.expect_dir, "fact_transaction.tsv"), "ab") as fh:
            fh.write(day.fact_tsv)
        rec = self._run_day(f"day{day.day}", day)
        self.last_day = (day, rec)
        return {"ops": [rec], "seconds": rec["seconds"],
                "rows": day.n_tx if rec["ok"] else 0, "rows_s": rec["seconds"],
                "stored_bytes": self._stored_bytes()}

    def _stored_bytes(self) -> int:
        wh = self._warehouse()
        return sum(wh.table_bytes(layer, t) or 0 for layer, ts in self.TABLES.items() for t in ts)

    def finish(self) -> None:
        """Check the final warehouse against the generator; a failure fails
        the last day. The traced run then re-runs the last day, which must
        change no dwh or rep table (the untraced run skips it: one re-run
        costs most of a day's time, so only the traced run pays for it)."""
        day, last = self.last_day
        if last["ok"]:
            try:
                self._check(last)
            except Exception as e:  # a check that cannot run fails the day
                self.fail(last, f"check: {type(e).__name__}: {e}")
        if last["ok"] and self.tracer:
            self.tracing = False
            self.tracer.uninstall()
            before = self._state()
            rec = self._run_day("rerun_last_day", day, hour=4)
            if rec["ok"]:
                after = self._state()
                for t in before:
                    if after[t] != before[t]:
                        self.fail(rec, f"re-run changed {t}: {before[t]} -> {after[t]}")
            self.extra_ops.append(rec)
        super().finish()

    def _span_layers(self, m, summary, p) -> None:
        for span, metric in self.SPANS.items():
            m[metric] = summary.get(span, {}).get("total_s", 0.0)
        m["pipeline.jobs_per_day"] = m["execute.jobs"]
        m["pipeline.stored_bytes_per_input_byte"] = p["stored_bytes"] / self.input_bytes


# ---------------------------------------------------------------------------
# catalog_stream
# ---------------------------------------------------------------------------


class CatalogStream(Workload):
    name = "catalog_stream"

    def setup(self) -> None:
        self.data_dir = os.path.join(self.work, "data")
        self.rows = gen.write_catalog(self.data_dir)
        names = list(QUERIES)
        k = self.seed % len(names)
        self.order = names[k:] + names[:k]
        # drained rows per stream query come from its progress events
        self.listener = spans.stream_listener(self.spark)

    def _pass(self) -> dict:
        ops = [self.query_op(q, self.data_dir) for q in self.order]
        drains = [o for o in ops if QUERIES[o["name"]][0] == "stream"]
        for o in drains:  # an AvailableNow drain reads every event (the
            # program may add flush rows of its own)
            want = self.rows[QUERIES[o["name"]][1]]
            if o["input_rows"] < want:
                self.fail(o, f"drained {o['input_rows']} rows < {want} events")
        return {"ops": ops, "seconds": sum(o["seconds"] for o in ops),
                "rows": sum(o["input_rows"] for o in drains if o["ok"]),
                "rows_s": sum(o["seconds"] for o in drains)}

    def _stream_layers(self, m, progress, jobs, ops) -> None:
        runs: set[str] = set()
        trigger_ms = 0.0
        for ev in progress:
            runs.add(ev["runId"])
            d = ev.get("durationMs", {})
            m["streaming.micro_batches"] += 1
            m["streaming.add_batch_ms"] += d.get("addBatch", 0)
            m["streaming.get_batch_ms"] += d.get("getBatch", 0)
            m["streaming.latest_offset_ms"] += d.get("latestOffset", 0)
            m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            m["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            trigger_ms += d.get("triggerExecution", 0)
            state_ops = ev.get("stateOperators", [])
            m["streaming.state_commit_ms"] += sum(s.get("commitTimeMs", 0) for s in state_ops)
            # peak state held by any one micro-batch
            m["streaming.state_memory_bytes"] = max(m["streaming.state_memory_bytes"],
                                                    sum(s.get("memoryUsedBytes", 0) for s in state_ops))
        m["streaming.drain_overhead_s"] = sum(o["build_s"] for o in ops if o["name"].startswith("q_stream")
                                              and "build_s" in o) - trigger_ms / 1e3
        run_jobs = [j for j in jobs if j["group"] in runs]
        m["streaming.run_group_jobs"] = len(run_jobs)
        m["streaming.run_group_task_s"] = self.status.stage_totals(run_jobs)["task_s"]


def make(name: str, spark, work: str, seed: int, trace: bool, record_goldens: bool) -> Workload:
    cls = {"daily_etl": DailyEtl, "catalog_stream": CatalogStream}[name]
    return cls(spark, work, seed, trace, record_goldens)
