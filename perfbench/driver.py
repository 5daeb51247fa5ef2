"""One benchmark run of one workload, in its own driver process.

Started by ``run.py``, which owns the process tree and prints the result.
The run builds its inputs from the seed, starts Spark at ``local[4]``,
warms up until two consecutive units of work agree within the ``pass_s``
bound (with a cap), then times units until ``--seconds`` have passed and
the minimum count is reached, checks the outputs and writes the metrics
as JSON to ``--result``.

A unit is one pass over the query list (``query_mix``) or a chunk of
consecutive triggers (``cdc_drain``). With ``--trace 1`` the timed units
alternate between untraced and traced; traced units wrap the program's
public functions in spans and read Spark's counters after every trigger
or query, and the run reports per-layer figures plus the traced units'
slowdown against the untraced ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from counters import JvmMemory, SparkCounters, StageTotals, TriggerLog  # noqa: E402
from probe import TreeProbe, host_ticks  # noqa: E402
from stats import agree, fail_ratio, median, percentile, self_time, steal_share  # noqa: E402
from trace import Tracer  # noqa: E402

CORES = 4
WARM_MIN = 2  # the first unit is cold, so the gate compares from the second on
WARM_CAP = 4
MB = 1 << 20

# query_mix: catalog queries with a DuckDB oracle, one per family the
# engine serves: TPC-H aggregate and join, CDC latest-wins, JSON, exact
# dedup, BM25 retrieval (a multi-job plan), PQ vector encode (the Arrow
# boundary). Seven queries times the minimum three passes give 21
# samples, over the 20 the median of query times needs.
QUERY_MIX = [
    "q03_agg_tpch_q1",
    "q34_tpch_q3",
    "q12_cdc_latest_wins",
    "q23_json_extract",
    "ns_dedup_exact",
    "ns_bm25_topk",
    "ns_pq_encode",
]

CDC_COLUMNS = {
    "user_id": "uuid",
    "email": "text",
    "phone": "text",
    "first_name": "text",
    "last_name": "text",
    "age": "int",
    "city": "text",
    "created_at": "timestamp",
}
SINKS = ("postgres", "clickhouse", "timescaledb")


class Exhausted(Exception):
    """The workload ran out of generated input."""


def start_spark(work: Path):
    from hybrid_cdc_demo_spark.session import get_spark

    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    # The heap keeps the package's default size. The JVM compiles with C1
    # only: under the default tiered compiler, C2 keeps recompiling Spark's
    # planner and scheduler for minutes, and time per unit was still
    # falling by a quarter across the timed units of a run. C1 alone also
    # shrinks the code cache to 48 MB, which Spark's code fills about a
    # minute in: the JVM then throws away every compiled method at once
    # and recompiles them, doubling CPU for a few seconds. The code cache
    # is kept at the tiered compiler's default size, as a deployed JVM
    # has it. The heap log gives the heap's address range, so JvmMemory
    # can leave its pages out.
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.local.dir": str(local),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                "-XX:ReservedCodeCacheSize=240m "
                f"-Xlog:gc+heap+coops=debug:file={work / 'heap.log'}"
            ),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_to_end_bounds() -> dict[str, float]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


class Run:
    """What every workload shares: the session, the process-tree probe,
    the counters and tracer, the unit loop and the failure count."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.t0 = args.t0
        self.ticks0 = tuple(int(x) for x in args.ticks0.split(","))
        self.work = Path(args.work)
        # consecutive warm units must agree to within the regression bound
        # on pass_s
        self.gate_bound = end_to_end_bounds()["pass_s"]
        self.spark = start_spark(self.work)
        self.jvm_memory = JvmMemory(self.spark, str(self.work / "heap.log"))
        self.probe = TreeProbe(os.getpid(), skip=self.jvm_memory.pid)
        self.counters = SparkCounters(self.spark) if self.traced else None
        self.tracer = Tracer()
        self.units: list[dict] = []
        self.warm_units = 0
        self.setup_s = 0.0
        self.live_heap = 0
        self.attempted = 0
        self.failed = 0

    def note(self, message: str) -> None:
        print(f"perfbench: {time.monotonic() - self.t0:7.2f} s {message}", file=sys.stderr)

    def fail(self, message: str, count: int = 1) -> None:
        self.failed += count
        print(f"perfbench: FAILED {message}", file=sys.stderr)

    def _unit(self, fn, traced: bool) -> dict:
        if traced:
            self.counters.read()  # absorb jobs of earlier untraced units
            gc0 = self.counters.gc_ms()
            self.tracer.enabled = True
        cpu0 = self.probe.cpu()
        ticks = host_ticks()
        t = time.perf_counter()
        try:
            detail = fn(traced)
        finally:
            wall = time.perf_counter() - t
            self.tracer.enabled = False
        steal = steal_share(ticks, host_ticks())
        unit = {
            "wall": wall,
            "net": wall * (1 - steal),
            "steal": steal,
            "cpu": self.probe.cpu() - cpu0,
            "traced": traced,
            **detail,
        }
        unit["jvm_outside_heap"] = self.jvm_memory.outside_heap()
        if traced:
            unit["gc_ms"] = self.counters.gc_ms() - gc0
        return unit

    def measure(self, fn, min_units: int, warm=None) -> None:
        """Warm-up gate over untimed ``warm`` units (default: ``fn``),
        then the timed ``fn`` units."""
        nets: list[float] = []
        while len(nets) < WARM_CAP:
            u = self._unit(warm or fn, traced=False)
            nets.append(u["net"])
            self.note(f"warm unit {len(nets)}: {u['wall']:.3f} s, "
                      f"{u['steal']:.1%} stolen, net {u['net']:.3f} s")
            if len(nets) >= WARM_MIN and agree(nets[-1], nets[-2], self.gate_bound):
                break
        self.warm_units = len(nets)
        self.setup_s = (time.monotonic() - self.t0) * (1 - steal_share(self.ticks0, host_ticks()))
        self.probe.arm()
        start = time.monotonic()
        try:
            while time.monotonic() - start < self.seconds or len(self.units) < min_units:
                traced = self.traced and len(self.units) % 2 == 1
                try:
                    self.units.append(self._unit(fn, traced))
                    u = self.units[-1]
                    self.note(f"unit {len(self.units)}{' traced' if traced else ''}: "
                              f"{u['wall']:.3f} s, {u['steal']:.1%} stolen, "
                              f"net {u['net']:.3f} s, cpu {u['cpu']:.2f} s, "
                              f"JVM outside heap {u['jvm_outside_heap'] / MB:.0f} MB")
                except Exhausted:
                    if len(self.units) < min_units:
                        raise
                    break
        finally:
            self.probe.disarm()
        # a full collection leaves only the live objects; it runs once,
        # after the timed units, so it disturbs none of them
        self.live_heap = self.jvm_memory.live_heap()
        self.note(f"peak rss outside the JVM {self.probe.peak_rss / MB:.0f} MB; "
                  f"live heap {self.live_heap / MB:.0f} MB; rss now "
                  + ", ".join(f"{c} {r / MB:.0f}" for c, r in self.probe.resident()))

    # -- figures over the timed units --------------------------------

    def plain_units(self) -> list[dict]:
        return [u for u in self.units if not u["traced"]]

    def traced_units(self) -> list[dict]:
        return [u for u in self.units if u["traced"]]

    def common_end_to_end(self) -> dict[str, float]:
        units = self.plain_units()
        return {
            "pass_s": median([u["net"] for u in units]),
            "cpu_s": median([u["cpu"] for u in units]),
            "setup_s": self.setup_s,
            "rss_peak_mb": (
                self.probe.peak_rss
                + max(u["jvm_outside_heap"] for u in self.units)
                + self.live_heap
            ) / MB,
        }

    def common_per_layer(self) -> dict[str, float]:
        traced = self.traced_units()
        totals = [u["totals"] for u in traced]
        plain = median([u["net"] for u in self.plain_units()])

        def med(f):
            return median([f(t) for t in totals])

        return {
            "scheduler.jobs": med(lambda t: t.jobs),
            "scheduler.stages": med(lambda t: t.stages),
            "scheduler.tasks": med(lambda t: t.tasks),
            "scheduler.slot_use": median(
                [u["totals"].run_ms / 1e3 / (u["wall"] * CORES) for u in traced]
            ),
            "tasks.run_s": med(lambda t: t.run_ms / 1e3),
            "tasks.cpu_s": med(lambda t: t.cpu_ms / 1e3),
            "tasks.offcpu_s": med(lambda t: (t.run_ms - t.cpu_ms) / 1e3),
            "tasks.gc_s": med(lambda t: t.gc_ms / 1e3),
            "shuffle.write_mb": med(lambda t: t.shuffle_write_bytes / MB),
            "shuffle.read_mb": med(lambda t: t.shuffle_read_bytes / MB),
            "shuffle.spill_mb": med(lambda t: t.spill_bytes / MB),
            "driver.gc_s": median([u["gc_ms"] / 1e3 for u in traced]),
            "cache.rdd_blocks_held": max(u["blocks"] for u in traced),
            "cache.held_mb": max(u["held_bytes"] for u in traced) / MB,
            "setup.warm_units": self.warm_units,
            "trace.overhead_pct": (
                median([u["net"] for u in traced]) / plain - 1
            ) * 100,
            "host.steal_pct": median([u["steal"] for u in self.units]) * 100,
        }

    def read_blocks(self, unit: dict) -> None:
        blocks, held = self.counters.blocks_held()
        unit["blocks"] = max(unit.get("blocks", 0), blocks)
        unit["held_bytes"] = max(unit.get("held_bytes", 0), held)


# -- cdc_drain -------------------------------------------------------------


def expected_state(paths: list[str]) -> tuple[set[str], int]:
    """Latest-wins key set after replaying ``paths`` (duplicates removed
    by event id, DELETEs dropping keys) as the sinks' ``key_hash`` values,
    and the number of malformed lines. Recomputed here, without Spark,
    from the same files the pipeline read."""
    events: dict[str, dict] = {}
    malformed = 0
    for p in paths:
        with open(p) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    malformed += 1
                    continue
                events.setdefault(ev["event_id"], ev)
    latest: dict[str, dict] = {}
    for ev in events.values():
        uid = ev["partition_key"]["user_id"]
        cur = latest.get(uid)
        rank = (ev["timestamp_micros"], ev["event_id"])
        if cur is None or rank > (cur["timestamp_micros"], cur["event_id"]):
            latest[uid] = ev
    keys = {
        hashlib.sha256(
            json.dumps({"user_id": uid}, separators=(",", ":")).encode()
        ).hexdigest()
        for uid, ev in latest.items()
        if ev["event_type"] != "DELETE"
    }
    return keys, malformed


def json_lines(root: str) -> int:
    n = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(dirpath, f)) as fh:
                    n += sum(1 for line in fh if line.strip())
    return n


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


class CdcDrain:
    """Closed loop, one stream: the next CDC segment lands in the source
    directory only after the previous trigger has committed, one file per
    trigger, into all three sinks."""

    FILES = 64  # over the 8 warm-up and ~4 x 8 timed triggers a run drains
    EVENTS_PER_FILE = 150
    # Each upsert sink folds its deltas in the background once 8 segments
    # have piled up, so 8 triggers hold exactly one compaction of each:
    # every timed unit carries the same share of background work.
    CHUNK = 8
    WARM_CHUNK = 2  # warm-up units only need to show the run has levelled off
    MIN_TRIGGERS = 24  # three units; p50 needs 20

    def __init__(self, run: Run):
        from hybrid_cdc_demo_spark.schema.evolution import SchemaRegistry, TableSchema
        from hybrid_cdc_demo_spark.streaming.pipeline import CDCPipeline, PipelineConfig

        self.run = run
        staged = run.work / "cdc-staged"
        self.source = run.work / "cdc-source"
        self.source.mkdir(parents=True)
        self.paths = datagen.cdc_backlog(str(staged), run.seed, self.FILES, self.EVENTS_PER_FILE)
        self.fed: list[str] = []
        registry = SchemaRegistry()
        registry.register(TableSchema("ecommerce", "users", dict(CDC_COLUMNS), ["user_id"]))
        self.config = PipelineConfig(
            source_dir=str(self.source),
            target_dir=str(run.work / "cdc-target"),
            max_files_per_trigger=1,
            # all three sinks share DELETE semantics, so one expected
            # state holds for each of them
            delete_policy_append="tombstone",
            processing_interval="0 seconds",
        )
        self.pipeline = CDCPipeline(run.spark, self.config, registry)
        self.triggers: list[dict] = []
        if run.traced:
            self._instrument()
        self.log = TriggerLog()
        run.spark.streams.addListener(self.log)
        self.query = self.pipeline.start()

    def _instrument(self) -> None:
        from hybrid_cdc_demo_spark.streaming import pipeline as pipeline_mod
        from hybrid_cdc_demo_spark.streaming import sinks as sinks_mod

        t = self.run.tracer
        t.wrap(self.pipeline, "process_batch", "pipeline.process_batch", trace_arg=1, root=True)
        for name, sink in self.pipeline.sinks.items():
            t.wrap(sink, "write_batch", f"sinks.{name}.write")
            t.wrap(sink, "flush", f"sinks.{name}.flush")
        t.wrap(sinks_mod.BatchLedger, "commit", "sinks.ledger.commit")
        t.wrap(self.pipeline.evolution, "observe_batch", "evolution.observe_batch", always=True)
        t.wrap(pipeline_mod, "write_dlq", "dlq.write")

    def trigger(self, unit: dict, traced: bool) -> None:
        if len(self.fed) == len(self.paths):
            raise Exhausted
        src = self.paths[len(self.fed)]
        dst = str(self.source / os.path.basename(src))
        ticks = host_ticks()
        os.rename(src, dst)
        self.fed.append(dst)
        self.run.attempted += 1
        ev = self.log.next(timeout=120)
        ev["steal"] = steal_share(ticks, host_ticks())
        self.triggers.append(ev)
        unit["triggers"].append(ev)
        if traced:
            ev["totals"] = self.run.counters.read()
            unit["totals"].add(ev["totals"])
            self.run.read_blocks(unit)

    def unit(self, traced: bool, n: int = CHUNK) -> dict:
        unit = {"triggers": [], "totals": StageTotals()}
        for _ in range(n):
            self.trigger(unit, traced)
        return unit

    def warm_unit(self, traced: bool) -> dict:
        return self.unit(traced, self.WARM_CHUNK)

    def execute(self) -> None:
        run = self.run
        try:
            run.measure(
                self.unit, min_units=self.MIN_TRIGGERS // self.CHUNK, warm=self.warm_unit
            )
        finally:
            run.tracer.enabled = run.traced
            self.pipeline.stop(self.query)
            run.tracer.enabled = False
            run.spark.streams.removeListener(self.log)
        errors = sum(self.pipeline.sink_errors.values())
        if errors:
            run.fail(f"{errors} sink writes failed")
        self.check()

    def check(self) -> None:
        run = self.run
        expected, malformed = expected_state(self.fed)
        unlogged: set[int] = set()
        for name, sink in self.pipeline.sinks.items():
            keys = [r[0] for r in sink.read().select("key_hash").collect()]
            if set(keys) != expected:
                run.fail(
                    f"{name}: {len(set(keys) - expected)} phantom and "
                    f"{len(expected - set(keys))} lost keys"
                )
            if len(keys) != len(set(keys)):
                run.fail(f"{name}: {len(keys) - len(set(keys))} duplicated keys")
            committed = {int(b["batch_id"]) for b in sink.ledger.committed_batches()}
            missing = {t["batch"] for t in self.triggers} - committed
            if missing:
                print(f"perfbench: {name}: batches {sorted(missing)} not in the ledger",
                      file=sys.stderr)
            unlogged |= missing
        if unlogged:
            run.fail(f"{len(unlogged)} triggers not committed in every ledger", len(unlogged))
        self.dlq_rows = json_lines(self.config.dlq_path)
        if self.dlq_rows != malformed:
            run.fail(f"DLQ holds {self.dlq_rows} rows for {malformed} malformed lines")

    def _timed_triggers(self, traced: bool) -> list[dict]:
        return [t for u in self.run.units if u["traced"] == traced for t in u["triggers"]]

    def end_to_end(self) -> dict[str, float]:
        run = self.run
        timed = self._timed_triggers(False)
        out = run.common_end_to_end()
        out["ops_per_s"] = median(
            [sum(t["rows"] for t in u["triggers"]) / u["net"] for u in run.plain_units()]
        )
        out["batch_p50_s"] = percentile(
            [t["ms"]["triggerExecution"] / 1e3 * (1 - t["steal"]) for t in timed], 0.5
        )
        return out

    def per_layer(self) -> dict[str, float]:
        run, tracer = self.run, self.run.tracer
        traced = self._timed_triggers(True)
        by_trace: dict[str, list] = {}
        for s in tracer.spans:
            by_trace.setdefault(s.trace, []).append(s)
        serial, writes, ledger = [], {n: [] for n in SINKS}, []
        for t in traced:
            spans = by_trace.get(f"pipeline.process_batch:{t['batch']}", [])
            roots = [s for s in spans if s.name == "pipeline.process_batch"]
            sink_spans = [
                s for s in spans if s.name.startswith("sinks.") and s.name.endswith(".write")
            ]
            if roots:
                serial.append(
                    self_time(roots[0].interval, [s.interval for s in sink_spans]) * 1e3
                )
            for s in sink_spans:
                writes[s.name.split(".")[1]].append((s.end - s.start) * 1e3)
            ledger.append(
                sum(s.end - s.start for s in spans if s.name == "sinks.ledger.commit") * 1e3
            )
        observe = tracer.named("evolution.observe_batch")
        fed_rows = sum(t["rows"] for t in self.triggers)
        retries = sum(
            v
            for k, v in self.pipeline.metrics.snapshot()["counters"].items()
            if k.startswith("cdc_retry_attempts_total")
        )

        def ms(t, *keys):
            return sum(t["ms"].get(k, 0) for k in keys)

        out = run.common_per_layer()
        out.update(
            {
                "sources.offset_ms": median([ms(t, "latestOffset", "getBatch") for t in traced]),
                "streaming.commit_ms": median([ms(t, "walCommit", "commitOffsets") for t in traced]),
                "pipeline.serial_ms": median(serial),
                "pipeline.jobs": median([t["totals"].jobs for t in traced]),
                "pipeline.tasks": median([t["totals"].tasks for t in traced]),
                "sinks.ledger_ms": median(ledger),
                "sinks.flush_s": sum(
                    s.end - s.start for s in tracer.spans if s.name.endswith(".flush")
                ),
                "sinks.bytes_per_event": sum(
                    dir_bytes(os.path.join(self.config.target_dir, n)) for n in SINKS
                ) / fed_rows,
                "sinks.retries": retries,
                "evolution.observe_ms": sum(s.end - s.start for s in observe) * 1e3,
                "evolution.drift_batches": len(observe),
                "dlq.rows": self.dlq_rows,
                "batch.samples": len(traced),
            }
        )
        for name in SINKS:
            out[f"sinks.{name}_write_ms"] = median(writes[name])
        return out


# -- query_mix -------------------------------------------------------------


class QueryMix:
    """Catalog queries run one at a time, each collected to pandas, each
    pass in an order shuffled by the seed. After the timed passes every
    result of every pass, warm-up included, is checked against its DuckDB
    oracle on the same tables."""

    MIN_PASSES = 3

    def __init__(self, run: Run):
        from hybrid_cdc_demo_spark.plans import ORACLE_SQL, QUERIES

        self.run = run
        self.queries = QUERIES
        self.oracle = ORACLE_SQL
        self.names = list(QUERY_MIX)
        random.Random(run.seed).shuffle(self.names)
        self.data = datagen.write_query_tables(str(run.work / "tables"), run.seed)
        self.results: dict[str, list] = {name: [] for name in self.names}

    def one(self, name: str, unit: dict, traced: bool) -> None:
        run = self.run
        run.attempted += 1
        ticks = host_ticks()
        t = time.perf_counter()
        try:
            with run.tracer.span("plans.build"):
                df = self.queries[name](run.spark, self.data)
            with run.tracer.span("plans.exec"):
                self.results[name].append(df.toPandas())
        except Exception as exc:  # noqa: BLE001 — count it and keep the run going
            run.fail(f"{name} raised {type(exc).__name__}: {str(exc)[:300]}")
        unit["queries"][name] = (time.perf_counter() - t) * (1 - steal_share(ticks, host_ticks()))
        run.spark.catalog.clearCache()
        if traced:
            unit["totals"].add(run.counters.read())
            run.read_blocks(unit)

    def unit(self, traced: bool) -> dict:
        unit = {"queries": {}, "totals": StageTotals()}
        for name in self.names:
            self.one(name, unit, traced)
        return unit

    def execute(self) -> None:
        run = self.run
        run.measure(self.unit, min_units=self.MIN_PASSES + run.traced)
        self.check()

    def check(self) -> None:
        from hybrid_cdc_demo_spark.testing import assert_frames_match, duck_connection

        con = duck_connection(self.data)
        try:
            for name in self.names:
                expected = con.execute(self.oracle[name]).df()
                # a run that raised has no result and is already counted
                for i, result in enumerate(self.results[name]):
                    try:
                        assert_frames_match(result, expected, name)
                    except AssertionError as exc:
                        self.run.fail(f"oracle mismatch in pass {i + 1}: {exc}")
        finally:
            con.close()

    def end_to_end(self) -> dict[str, float]:
        run = self.run
        plain = run.plain_units()
        out = run.common_end_to_end()
        out["ops_per_s"] = median([len(u["queries"]) / u["net"] for u in plain])
        out["batch_p50_s"] = percentile(
            [s for u in plain for s in u["queries"].values()], 0.5
        )
        return out

    def per_layer(self) -> dict[str, float]:
        run, tracer = self.run, self.run.tracer
        traced = run.traced_units()
        out = run.common_per_layer()
        # spans of one pass: they fall inside the pass's wall interval
        # and each pass has one build and one exec span per query
        k = len(self.names)
        builds = [s.end - s.start for s in tracer.named("plans.build")]
        execs = [s.end - s.start for s in tracer.named("plans.exec")]
        out["plans.build_ms"] = median(
            [sum(builds[i : i + k]) * 1e3 for i in range(0, len(builds), k)]
        )
        out["plans.exec_ms"] = median(
            [sum(execs[i : i + k]) * 1e3 for i in range(0, len(execs), k)]
        )
        out["batch.samples"] = sum(len(u["queries"]) for u in traced)
        for name in QUERY_MIX:
            times = [u["queries"][name] for u in traced if name in u["queries"]]
            out[f"q.{name}_s"] = median(times) if times else 0.0
        return out


WORKLOADS = {"cdc_drain": CdcDrain, "query_mix": QueryMix}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--ticks0", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()

    run = Run(args)
    run.note("spark up")
    workload = WORKLOADS[args.workload](run)
    run.note("inputs ready")
    workload.execute()
    run.note(f"checked; fail ratio {fail_ratio(run.failed, run.attempted):.3f} "
             f"({run.failed} of {run.attempted})")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        # every declared layer metric, 0 where this workload does not
        # exercise the layer (no sink writes in query_mix, no queries in
        # cdc_drain)
        values = workload.per_layer()
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        if args.spans:
            run.tracer.dump(args.spans)
    else:
        values = workload.end_to_end()
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    Path(args.result).write_text(json.dumps(result))
    run.probe.close()
    run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
