"""The benchmark's workloads: one closed-loop client calling kapra_spark's
public entry points, each call starting after the previous one returns.

Each workload has the same shape:

- ``setup``: seeded inputs (generated and hashed three times: the
  hashes must agree and the median round counts toward ``setup_s``;
  then written once as parquet and digested), then one untimed warm-up
  whose result is gated like a measured call;
- ``measure``: repeat the workload's unit of work until ``--seconds``
  would be exceeded (at least one unit), gating every call; returns the
  workload's named metrics, and ``ROLES`` maps each gated end-to-end
  metric of ``BENCHMARK.json`` to one of them;
- ``layer_pass`` (traced runs only): direct calls into single layers'
  public functions on the same inputs, each inside its own span;
- ``layers``: the per-layer ledger from the traced loop and layer pass.
"""

from __future__ import annotations

import contextlib
import functools
import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kapra_spark import datagen
from kapra_spark.operators import lineage as lineage_ops
from kapra_spark.operators.compress import (compress_and_cascade,
                                            compress_tokens, decompress_tokens)
from kapra_spark.operators.grouping import kp_anonymize
from kapra_spark.operators.metrics_ops import (global_pattern_loss,
                                               global_value_loss)
from kapra_spark.operators.rollup import (EPOCH_SECONDS, apply_retention,
                                          cascade_declarative, cascade_fast)
from kapra_spark.plans import rollup_plan
from kapra_spark.plans.anonymize_plan import run_kp_anonymity

from . import inputs, ledger as L

#: pinned retention horizon: the data spans two days from the epoch;
#: with 47 hours of 1h retention the first hour of the 1h tier expires
#: and the rest is kept, the 1d tier is kept forever
NOW = EPOCH_SECONDS + 2 * 86400
RETENTION = {"1m": 7 * 1440, "1h": 47, "1d": None}
STAGES = ("blocks_1m", "tier_1h", "tier_1d")
PARTITION_COLS = ["source", "day"]

#: per readback session; the replay is repeated so its throughput is a
#: median rather than one sample of a one-second call
REPLAYS = 3
LOOKUPS = 20
DASHBOARDS = 40
K, P, PAA, L_DIV = 8, 4, 4, 2
#: relative tolerance for pinned anonymization losses (floating sums
#: over Spark partials may differ in the last bits)
LOSS_RTOL = 1e-9
#: the input is generated this many times at set-up (the median counts)
INPUT_ROUNDS = 3


def dashboard_aggs() -> list:
    return [F.sum("cnt").alias("cnt"), F.sum("sum").alias("sum"),
            F.min("min").alias("min"), F.max("max").alias("max")]


@dataclass
class Run:
    """State shared by the workload and the launcher for one run."""
    spark: SparkSession
    seed: int
    seconds: float
    workdir: str
    trace: L.Ledger
    attempted: int = 0
    failed: int = 0
    setup_ok: bool = True
    failures: list[str] = field(default_factory=list)

    def gate(self, ok: bool, what: str) -> None:
        """Count one operation; a failed gate is a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def setup_gate(self, ok: bool, what: str) -> None:
        if not ok:
            self.setup_ok = False
            self.failures.append(f"setup: {what}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def run_units(run: Run, unit) -> list[float]:
    """Call ``unit(i)`` until the next call would end after
    ``run.seconds`` (predicted from the median so far); at least once.
    Returns the unit wall times."""
    times: list[float] = []
    start = time.perf_counter()
    while not times or (time.perf_counter() - start
                        + statistics.median(times) <= run.seconds):
        t0 = time.perf_counter()
        unit(len(times))
        times.append(time.perf_counter() - t0)
    return times


def setup_inputs(run: Run, generate, name: str) -> tuple[dict, DataFrame, dict]:
    """Generate and hash the input ``INPUT_ROUNDS`` times (the hashes
    must agree: the generator is seeded), then write it once and digest
    the written table. Returns the setup times (median generation round;
    write and digest), the table the program reads and its digest."""
    times, hashes = [], []
    for _ in range(INPUT_ROUNDS):
        t, h = timed(lambda: inputs.row_hash(generate()))
        times.append(t)
        hashes.append(h)
    run.setup_gate(len(set(hashes)) == 1, "input hashes differ between generation rounds")
    t0 = time.perf_counter()
    table = inputs.materialize(generate(), run.path(name))
    dg = inputs.digest(table)
    return ({"input_s": statistics.median(times),
             "input_write_s": time.perf_counter() - t0}, table, dg)


def stored_bytes(root: str) -> int:
    """Bytes of the parquet data files of every stage under ``root``."""
    total = 0
    for stage in STAGES:
        for dirpath, _, files in os.walk(os.path.join(root, stage)):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files if f.endswith(".parquet"))
    return total


def ingest(run: Run, tokens: DataFrame, base: str, run_id: str) -> dict:
    return rollup_plan.run_rollup_pipeline(
        run.spark, tokens, base, run_id,
        now_bucket_seconds=NOW, retention=RETENTION)


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """Highest nearest-rank percentile with at least ten samples beyond
    it: (value, percentile). Needs at least eleven samples."""
    xs = sorted(values)
    i = len(xs) - 11
    if i < 0:
        raise ValueError(f"{len(xs)} samples: a tail needs at least 11")
    return xs[i], 100.0 * (i + 1) / len(xs)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def loop_metrics(execs: list[L.Execution], units: int) -> dict[str, float]:
    """Scan, Arrow boundary and aggregate metrics of the traced loop,
    per unit of work."""
    totals = {**L.scan_metrics(execs), **L.arrow_metrics(execs),
              **L.aggregate_metrics(execs), "trace.sql_executions": len(execs)}
    return {k: v / units for k, v in totals.items()}


# ---------------------------------------------------------------------------
# ingest: a production ingest killed after phase A and resumed by phase B
# ---------------------------------------------------------------------------

class IngestWorkload:
    #: gated end-to-end metric -> the named metric that fills it
    ROLES = {"throughput": "ingest_points_per_s", "p50_s": "resume_s",
             "round_s": "cycle_s", "stored_bits_per_point": "stored_bits_per_point"}

    def setup(self, run: Run) -> dict:
        input_s, self.tokens, self.digest = setup_inputs(
            run, lambda: inputs.tokens_table(run.spark, run.seed), "tokens")
        # warm-up: a one-shot ingest of the full table, whose per-stage
        # row counts every resumed store must reproduce
        warm_s, self.ref_rows = timed(self._reference, run)
        run.setup_gate(all(self.ref_rows.values()), "one-shot ingest wrote no rows")
        self.store = run.path("store")
        return {**input_s, "warmup_s": warm_s}

    def _reference(self, run: Run) -> dict[str, int]:
        ref = run.path("reference")
        ingest(run, self.tokens, ref, "reference")
        return {s: run.spark.read.parquet(f"{ref}/{s}").count() for s in STAGES}

    def _cycle(self, run: Run, i: int) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        phase_a = self.tokens.filter(F.col("source") != "economy")
        with run.trace.span("ingest.phase_a"):
            t_a, stats_a = timed(ingest, run, phase_a, self.store, f"a{i}")
        run.gate(all(stats_a[s]["written_partitions"] > 0
                     and stats_a[s]["skipped_partitions"] == 0 for s in STAGES),
                 f"phase A stats {stats_a}")
        with run.trace.span("ingest.phase_b"):
            t_b, stats_b = timed(ingest, run, self.tokens, self.store, f"b{i}")
        self.a_times.append(t_a)
        self.b_times.append(t_b)
        self.b_stats.append(stats_b)
        run.gate(self._verify(run, stats_b), f"phase B cycle {i}")

    def _verify(self, run: Run, stats_b: dict) -> bool:
        """Every stage verifies against lineage and holds exactly the
        rows of the one-shot ingest; phase B skipped committed work."""
        checks = functools.reduce(DataFrame.unionByName, [
            lineage_ops.verify_against_lineage(
                run.spark, f"{self.store}/{stage}", PARTITION_COLS,
                f"{self.store}/_lineage", stage).withColumn("stage", F.lit(stage))
            for stage in STAGES])
        rows = checks.collect()
        return all(
            all(r["ok"] for r in rows if r["stage"] == stage)
            and sum(r["row_count"] or 0 for r in rows if r["stage"] == stage)
            == self.ref_rows[stage]
            and stats_b[stage]["skipped_partitions"] > 0
            for stage in STAGES)

    def measure(self, run: Run) -> dict:
        self.a_times, self.b_times, self.b_stats = [], [], []
        with lineage_spans(run.trace):
            self.unit_times = run_units(run, lambda i: self._cycle(run, i))
        a_s = statistics.median(self.a_times)
        b_s = statistics.median(self.b_times)
        bits = stored_bytes(self.store) * 8 / self.digest["points"]
        return {"ingest_points_per_s": self.digest["points_a"] / a_s,
                "resume_s": b_s, "cycle_s": statistics.median(self.unit_times),
                "stored_bits_per_point": bits, "cycles": len(self.unit_times)}

    def layer_pass(self, run: Run) -> None:
        for layer, df in (("rollup.cascade_fast", cascade_fast(self.tokens, ("1h", "1d"))),
                          ("compress.compress_tokens", compress_tokens(self.tokens)),
                          ("compress.compress_and_cascade",
                           compress_and_cascade(self.tokens, ("1h", "1d")))):
            with run.trace.span(layer):
                noop(df)

    def layers(self, run: Run, execs: list[L.Execution]) -> dict:
        tr = run.trace
        cycles = len(self.unit_times)
        loop_ids = tr.descendants("ingest.phase_a") | tr.descendants("ingest.phase_b")
        loop = [e for e in execs if e.span_id in loop_ids]
        lin_ids = set().union(*(tr.descendants(f"lineage.{s}") for s in STAGES))
        lin = [e for e in execs if e.span_id in lin_ids]
        b_ids = tr.descendants("ingest.phase_b")
        b_execs = [e for e in execs if e.span_id in b_ids]
        computed = sum(m.get("number of output rows", (0,))[0]
                       for _, m in L.python_nodes(b_execs))
        written = L.partitioned_rows_written(b_execs)
        out = loop_metrics(loop, cycles)
        lineage = {
            **{f"lineage.{s}.s": tr.seconds(f"lineage.{s}") for s in STAGES},
            "lineage.metrics_s": sum(e.seconds for e in lin if not L.is_write(e)),
            "lineage.write_s": sum(e.seconds for e in lin if L.is_write(e)),
            "lineage.bytes_written": sum(e.total("written output") for e in lin),
            "lineage.files_written": sum(e.total("number of written files") for e in lin),
            "lineage.written_partitions": sum(st[s]["written_partitions"]
                                              for st in self.b_stats for s in STAGES),
            "lineage.skipped_partitions": sum(st[s]["skipped_partitions"]
                                              for st in self.b_stats for s in STAGES),
        }
        out.update({k: v / cycles for k, v in lineage.items()})
        out["lineage.rows_computed_per_row_written"] = computed / written if written else 0.0
        for layer in ("rollup.cascade_fast", "compress.compress_tokens",
                      "compress.compress_and_cascade"):
            out[f"{layer}.s"] = tr.seconds(layer)
        return out


@contextlib.contextmanager
def lineage_spans(trace: L.Ledger):
    """While tracing, open a ``lineage.<stage>`` span around each
    ``write_with_lineage`` call ``run_rollup_pipeline`` makes. The module
    attribute is restored afterwards; behaviour does not change."""
    if not trace.enabled:
        yield
        return
    orig = rollup_plan.write_with_lineage

    def spanned(df, path, partition_cols, lineage_path, run_id, stage, **kwargs):
        with trace.span(f"lineage.{stage}"):
            return orig(df, path, partition_cols, lineage_path, run_id, stage, **kwargs)

    rollup_plan.write_with_lineage = spanned
    try:
        yield
    finally:
        rollup_plan.write_with_lineage = orig


# ---------------------------------------------------------------------------
# readback: consumers of a store built at setup
# ---------------------------------------------------------------------------

class ReadbackWorkload:
    ROLES = {"throughput": "replay_points_per_s", "p50_s": "lookup_p50_s",
             "round_s": "session_s", "stored_bits_per_point": "stored_bits_per_point"}

    def setup(self, run: Run) -> dict:
        input_s, self.tokens, self.digest = setup_inputs(
            run, lambda: inputs.tokens_table(run.spark, run.seed), "tokens")
        build_s, _ = timed(self._build_store, run)
        expect_s, _ = timed(self._expectations, run)
        # warm-up: one call of each kind, gated like a measured call
        t0 = time.perf_counter()
        run.setup_gate(self._replay(), "warm-up replay")
        run.setup_gate(self._lookup(self.lookup_ids[0]), "warm-up lookup")
        run.setup_gate(self._dashboard(*self.dashboards[0]), "warm-up dashboard")
        return {**input_s, "store_build_s": build_s, "expectations_s": expect_s,
                "warmup_s": time.perf_counter() - t0}

    def _build_store(self, run: Run) -> None:
        store = run.path("store")
        ingest(run, self.tokens, store, "build")
        spark = run.spark
        self.blocks = (spark.read.parquet(f"{store}/blocks_1m")
                       .withColumnRenamed("day", "bucket_day"))
        self.tiers = {t: spark.read.parquet(f"{store}/tier_{t}") for t in ("1h", "1d")}
        self.bits = stored_bytes(store) * 8 / self.digest["points"]

    def _expectations(self, run: Run) -> None:
        """Expected results from the input alone: the lookup arrays and
        the dashboard aggregates over the certificate cascade (a full
        replay must reproduce the input digest)."""
        rng = random.Random(run.seed)
        ids = ([f"d{i:08d}" for i in rng.sample(range(inputs.SERIES), LOOKUPS - 4)]
               + [f"md{i:08d}" for i in rng.sample(range(inputs.MULTI_DAY_SERIES), 4)])
        rng.shuffle(ids)
        self.lookup_ids = ids
        self.expect_lookup = {r["doc_id"]: list(r["tokens"]) for r in
                              self.tokens.filter(F.col("doc_id").isin(ids))
                              .select("doc_id", "tokens").collect()}
        run.setup_gate(len(self.expect_lookup) == LOOKUPS, "lookup ids missing from input")

        combos = [(s, t) for s in datagen.SOURCES for t in ("1h", "1d")]
        self.dashboards = [combos[i % len(combos)] for i in range(DASHBOARDS)]
        rng.shuffle(self.dashboards)
        # certificate: the declarative long-form cascade shares no kernel
        # with the production tiers; its 1d tier derives from the cached 1h
        cert = cascade_declarative(self.tokens, tiers=("1h", "1d"))
        cert["1h"].cache()
        self.expect_dash = {}
        for tier in ("1h", "1d"):
            rows = (apply_retention(cert[tier], tier, NOW, RETENTION)
                    .groupBy("source", F.unix_timestamp("bucket").alias("bucket"))
                    .agg(*dashboard_aggs()).collect())
            for s in datagen.SOURCES:
                self.expect_dash[(s, tier)] = sorted(
                    tuple(r[c] for c in ("bucket", "cnt", "sum", "min", "max"))
                    for r in rows if r["source"] == s)
        cert["1h"].unpersist()

    def _replay(self) -> bool:
        """A full replay reproduces the input's day-chunk digest."""
        got = decompress_tokens(self.blocks).agg(inputs.chunk_hash()).collect()[0][0]
        return inputs.hex_digest(got) == self.digest["digest"]

    def _lookup(self, doc_id: str) -> bool:
        rows = decompress_tokens(self.blocks.filter(F.col("doc_id") == doc_id)).collect()
        got = [v for r in sorted(rows, key=lambda r: r["t0"]) for v in r["tokens"]]
        return got == self.expect_lookup[doc_id]

    def _dashboard(self, source: str, tier: str) -> bool:
        rows = (apply_retention(self.tiers[tier].filter(F.col("source") == source),
                                tier, NOW, RETENTION)
                .groupBy("bucket").agg(*dashboard_aggs()).collect())
        got = sorted(tuple(r[c] for c in ("bucket", "cnt", "sum", "min", "max"))
                     for r in rows)
        return got == self.expect_dash[(source, tier)]

    def _session(self, run: Run, i: int) -> None:
        """One consumer session: the full replays, the seeded lookups and
        the dashboard refreshes, in a seeded interleaving."""
        ops = ([("replay", None)] * REPLAYS + [("lookup", d) for d in self.lookup_ids]
               + [("dashboard", q) for q in self.dashboards])
        random.Random(run.seed * 1000 + i).shuffle(ops)
        for kind, arg in ops:
            with run.trace.span(f"readback.{kind}"):
                if kind == "replay":
                    t, ok = timed(self._replay)
                elif kind == "lookup":
                    t, ok = timed(self._lookup, arg)
                else:
                    t, ok = timed(self._dashboard, *arg)
            self.times[kind].append(t)
            run.gate(ok, f"{kind} {arg}")

    def measure(self, run: Run) -> dict:
        self.times = {"replay": [], "lookup": [], "dashboard": []}
        self.unit_times = run_units(run, lambda i: self._session(run, i))
        replay_pps = self.digest["points"] / statistics.median(self.times["replay"])
        lookup_p50 = statistics.median(self.times["lookup"])
        tail, pct = percentile_tail(self.times["dashboard"])
        return {"replay_points_per_s": replay_pps, "lookup_p50_s": lookup_p50,
                "dashboard_p50_s": statistics.median(self.times["dashboard"]),
                "dashboard_tail_s": {"value": tail, "percentile": pct,
                                     "samples": len(self.times["dashboard"])},
                "session_s": statistics.median(self.unit_times),
                "stored_bits_per_point": self.bits, "sessions": len(self.unit_times)}

    def layer_pass(self, run: Run) -> None:
        with run.trace.span("compress.decompress"):
            noop(decompress_tokens(self.blocks))

    def layers(self, run: Run, execs: list[L.Execution]) -> dict:
        tr = run.trace
        sessions = len(self.unit_times)
        ids = set().union(*(tr.descendants(f"readback.{k}")
                            for k in ("replay", "lookup", "dashboard")))
        loop = [e for e in execs if e.span_id in ids]
        dec = [e for e in execs if e.span_id in tr.descendants("compress.decompress")]
        out = loop_metrics(loop, sessions)
        out["compress.decompress.s"] = tr.seconds("compress.decompress")
        out["compress.decompress.python_run_s"] = L.arrow_metrics(dec)["arrow.python_run_s"]
        lookups = [e for e in execs if e.span_id in tr.descendants("readback.lookup")]
        out["scan.bytes_per_lookup"] = (L.scan_metrics(lookups)["scan.bytes_read"]
                                        / max(1, tr.count("readback.lookup")))
        return out


# ---------------------------------------------------------------------------
# anonymize: the paper's (k,P)-anonymity with kapra grouping
# ---------------------------------------------------------------------------

class AnonymizeWorkload:
    ROLES = {"throughput": "anonymize_records_per_s", "p50_s": "call_s",
             "round_s": "call_s", "stored_bits_per_point": "stored_bits_per_point"}

    def __init__(self, pins: dict):
        self.pins = pins

    def setup(self, run: Run) -> dict:
        input_s, self.tokens, self.digest = setup_inputs(
            run, lambda: inputs.anon_table(run.spark, run.seed), "anon_in")
        self.out = run.path("anon_out")
        pin = self.pins.get(str(run.seed))
        self.pinned = pin is not None and pin["digest"] == self.digest["digest"]
        if pin is not None:
            run.setup_gate(self.pinned, "input digest differs from the pinned one")
        warm_s, row = timed(self._call, run)
        self.ref = pin if self.pinned else {k: row[k] for k in
                                            ("avg_value_loss", "avg_pattern_loss")}
        problems = self._problems(row)
        run.setup_gate(not problems, f"warm-up: {problems}")
        return {**input_s, "warmup_s": warm_s}

    def _call(self, run: Run) -> dict:
        # without an output path run_kp_anonymity caches its result and
        # never unpersists it; clearing Spark's cache before every call
        # keeps repetitions independent of each other on either path
        run.spark.catalog.clearCache()
        return run_kp_anonymity(run.spark, "kapra", K, P, PAA, L_DIV, self.tokens,
                                output_path=self.out)

    def _problems(self, row: dict) -> list[str]:
        """Empty when the losses equal the pinned (or warm-up) values,
        every input record appears once in the output (grouped or
        suppressed) and every group that is not suppressed has at least
        k records; otherwise what failed."""
        problems = [f"{k} {row[k]!r} != {self.ref[k]!r}"
                    for k in ("avg_value_loss", "avg_pattern_loss")
                    if not math.isclose(row[k], self.ref[k], rel_tol=LOSS_RTOL)]
        anon = self.tokens.sparkSession.read.parquet(self.out)
        rows, ids = anon.agg(F.count("*"), F.countDistinct("doc_id")).collect()[0]
        if not rows == ids == self.digest["rows"]:
            problems.append(f"{rows} output rows, {ids} doc_ids for "
                            f"{self.digest['rows']} input records")
        small = (anon.filter(~F.col("suppressed"))
                 .groupBy("source", "group_id").count()
                 .filter(F.col("count") < K).count())
        if small:
            problems.append(f"{small} groups with fewer than k={K} records")
        return problems

    def measure(self, run: Run) -> dict:
        self.rows = []

        def unit(i):
            with run.trace.span("anonymize.call"):
                row = self._call(run)
            self.rows.append(row)
            problems = self._problems(row)
            run.gate(not problems, f"call {i}: {problems}")

        self.unit_times = run_units(run, unit)
        call_s = statistics.median(self.unit_times)
        bits = self._out_bytes() * 8 / self.digest["points"]
        last = self.rows[-1]
        return {"anonymize_records_per_s": inputs.ANON_SERIES / call_s,
                "call_s": call_s, "stored_bits_per_point": bits,
                "avg_value_loss": last["avg_value_loss"],
                "avg_pattern_loss": last["avg_pattern_loss"],
                "pinned": self.pinned, "calls": len(self.unit_times)}

    def _out_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(self.out, f))
                   for f in os.listdir(self.out) if f.endswith(".parquet"))

    def layer_pass(self, run: Run) -> None:
        with run.trace.span("grouping.kp_anonymize"):
            noop(kp_anonymize(self.tokens, k=K, p=P, paa=PAA, l=L_DIV))
        anon = run.spark.read.parquet(self.out)
        with run.trace.span("metrics_ops.value_loss"):
            global_value_loss(anon).collect()
        with run.trace.span("metrics_ops.pattern_loss"):
            global_pattern_loss(self.tokens, anon).collect()

    def layers(self, run: Run, execs: list[L.Execution]) -> dict:
        tr = run.trace
        calls = len(self.unit_times)
        loop = [e for e in execs if e.span_id in tr.descendants("anonymize.call")]
        grp = [e for e in execs if e.span_id in tr.descendants("grouping.kp_anonymize")]
        out = loop_metrics(loop, calls)
        runs = [m[L.PY_RUN] for _, m in L.python_nodes(grp) if L.PY_RUN in m]
        out["grouping.python_run_s"] = sum(r[0] for r in runs)
        skew = [r[2] / r[1] for r in runs if r[1]]
        out["grouping.task_max_over_median"] = max(skew, default=1.0)
        out["metrics_ops.value_loss_s"] = tr.seconds("metrics_ops.value_loss")
        out["metrics_ops.pattern_loss_s"] = tr.seconds("metrics_ops.pattern_loss")
        return out

