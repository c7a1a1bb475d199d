"""Telco streaming benchmark: the 4-topic TrafficPipeline over seeded
micro-batch backlogs.

One run generates a seeded backlog (``gen.py``), starts ``local[N]``
(N = min(4, cores) - 1), and drains the backlog through the production
path in a real ``foreachBatch`` file-stream query, one file per
trigger, closed loop:

    decode_json_stream -> KeyedUpsertStore.upsert/.join
      -> TrafficPipeline.process_batch -> payloads.* -> per-batch text sink

The four text sinks stand in for the reference's Kafka topics.  Every
batch's per-topic message counts are then checked against the
generator's own Spark-free computation.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ref_sliding --seed 1 --seconds 8 --trace 0

The last line of stdout is one JSON object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``.  See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
import types  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
from gen import TOPICS  # noqa: E402
from spans import Tracer  # noqa: E402

# local[N] leaves one core of at most four to the driver thread, the JIT
# and GC: at N = cores, batch times swung about 20% from run to run
THREADS = max(1, min(4, os.cpu_count() or 1) - 1)
# set-ups per run; setup_s takes their median.  A set-up costs about
# 8 s; two keep a run near one minute
SETUPS = 2
WARMUP = 1  # untimed batches at the end of every set-up
MIN_TIMED = 2  # timed batches per run, even past the deadline (a traced run needs both kinds)
HEAP = "3g"  # driver JVM heap
# The backlog holds enough batches for batches this fast; a run whose
# backlog drains early reports on what it processed.
FLOOR_BATCH_S = 2.0
STATS_TOPICS = TOPICS[:2]
COUNT_RE = re.compile(rb'"count":(\d+)')

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "cpu_s_per_kevent": "s",
    "peak_rss_mb": "MB",
}


class Failed(Exception):
    """A micro-batch failed or the run could not measure anything."""


def load_program() -> types.SimpleNamespace:
    """The program under test, imported from the checkout root."""
    sys.path.insert(0, os.getcwd())
    from pyspark.sql import functions as F

    from botkop_telcotraffic_spark_spark.schemas import ATTACH_EVENT, CELLTOWER_EVENT
    from botkop_telcotraffic_spark_spark.session import get_spark
    from botkop_telcotraffic_spark_spark.streaming import payloads
    from botkop_telcotraffic_spark_spark.streaming.json_stream import decode_json_stream
    from botkop_telcotraffic_spark_spark.streaming.pipeline import TrafficPipeline, read_geofences
    from botkop_telcotraffic_spark_spark.streaming.upsert_join import KeyedUpsertStore

    return types.SimpleNamespace(**locals())


# --- process-tree accounting (/proc) ------------------------------------

def _tree_pids() -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the given live processes."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def tree_peak_rss_mb() -> float:
    total_kb = 0
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def percentile(sorted_xs: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (q in [0, 100])."""
    pos = q / 100 * (len(sorted_xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(sorted_xs) - 1)
    return sorted_xs[lo] + (sorted_xs[hi] - sorted_xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it; never
    below the median, which is all a run of under 20 batches supports."""
    return max(50.0, math.floor(100 * (1 - 10 / n))) if n else 50.0


# --- output check (independent of Spark) ---------------------------------

def read_topic(sink_dir: str, topic: str, batch_id: int) -> bytes:
    d = os.path.join(sink_dir, topic, f"b{batch_id:05d}")
    parts = sorted(f for f in os.listdir(d) if f.startswith("part-"))
    chunks = []
    for f in parts:
        with open(os.path.join(d, f), "rb") as fh:
            chunks.append(fh.read())
    return b"".join(chunks)


def observed(sink_dir: str, batch_id: int) -> dict:
    """Per-topic message counts, bytes, stats count sums and points of
    one batch, read back from the text sinks."""
    got: dict = {}
    for topic in TOPICS:
        data = read_topic(sink_dir, topic, batch_id)
        got[topic] = data.count(b"\n")
        got[f"{topic}.bytes"] = len(data)
        if topic in STATS_TOPICS:
            got[f"{topic}.count_sum"] = sum(int(x) for x in COUNT_RE.findall(data))
        if topic == "kmeans_points":
            got["points"] = data.count(b'"prediction":')
            got["outliers"] = data.count(b'"outlier": true')
    return got


def mismatches(got: dict, want: dict) -> list[str]:
    bad = [
        f"{t}: {got[t]} messages, expected {want[t]}" for t in TOPICS if got[t] != want[t]
    ]
    for t in STATS_TOPICS:
        if got[f"{t}.count_sum"] != want["stats_count_sum"]:
            bad.append(f"{t}: count sum {got[f'{t}.count_sum']}, expected {want['stats_count_sum']}")
    if got["points"] != want["points"]:
        bad.append(f"kmeans_points: {got['points']} points, expected {want['points']}")
    return bad


# --- one set-up + drain of the backlog ------------------------------------

class Drain:
    """A fresh store copy, checkpoint, sink dirs and pipeline, one
    foreachBatch query over the backlog.  ``seconds=None`` stops after
    the warm-up batches (a set-up only); otherwise the timed phase runs
    until ``seconds`` have passed since the warm-up ended."""

    def __init__(self, bench: Bench, name: str, seconds: float | None, traced: bool):
        self.b, self.P = bench, bench.P
        self.seconds, self.traced = seconds, traced
        self.dir = os.path.join(bench.work, name)
        self.sinks = os.path.join(self.dir, "sinks")
        self.done = threading.Event()
        self.error: str | None = None
        self.batches: list[int] = []  # processed batch ids
        self.timed: list[int] = []
        self.setup_end = self.deadline = None
        self.timed_end = None
        self.cpu0 = self.cpu1 = None
        self.pids: list[int] = []
        self.probes: dict[int, dict] = {}
        self.tracer = Tracer(bench.spark.sparkContext)

    def _sink(self, topic: str, payload, span: str):
        path = os.path.join(self.sinks, topic)

        def sink(df, batch_id: int) -> None:
            with self.tracer.span(span):
                payload(df).write.mode("overwrite").text(os.path.join(path, f"b{batch_id:05d}"))
            if self.tracer.enabled and topic in STATS_TOPICS:
                with self.tracer.span("probe.stats_rows"):
                    rows = df.count()
                self.probes[batch_id]["stats_rows_out"] += rows

        return sink

    def _build(self) -> None:
        P, b = self.P, self.b
        t = self.tracer
        store_path = os.path.join(self.dir, "store")
        shutil.copytree(b.seed_store, store_path)
        self.store = P.KeyedUpsertStore(b.spark, store_path, key_col="bearerId", order_col="ts")
        fences = P.read_geofences(b.spark, b.fences)
        pay = P.payloads
        self.pipe = P.TrafficPipeline(
            metric_names=list(gen.METRICS),
            kmeans_dims=list(gen.KMEANS_DIMS),
            geofence_path=b.fences,
            k=3,
            decay=1.0,
            window="30 seconds",
            slide=f"{b.profile.slide_ms // 1000} seconds" if b.profile.slide_ms else None,
            stats_sink=self._sink(
                "celltower_stats", lambda df: pay.metric_stats_payload(df, "celltower"),
                "window_stats.exec"),
            subscriber_stats_sink=self._sink(
                "subscriber_stats", lambda df: pay.metric_stats_payload(df, "subscriber"),
                "window_stats.exec"),
            geofence_sink=self._sink(
                "geofence", lambda df: pay.geofence_payload(df, fences), "geofence.exec"),
            outlier_sink=self._sink("kmeans_points", pay.cluster_points_payload, "anomaly.exec"),
            publish_all_points=True,
        )
        if self.traced:
            for obj, meth, name in (
                (self.pipe, "process_batch", "pipeline.process_batch"),
                (self.pipe, "metric_stats_fused", "window_stats.build"),
                (self.pipe, "geofence_matches", "geofence.build"),
                (self.pipe, "anomalies", "anomaly.build"),
                (self.pipe.model, "update", "anomaly.update"),
                (self.store, "upsert", "upsert_join.upsert"),
                (self.store, "join", "upsert_join.join"),
            ):
                setattr(obj, meth, t.wrap(name, getattr(obj, meth)))

    def _bucket_files(self) -> dict[str, set[str]]:
        out = {}
        for d in os.listdir(self.store.path):
            if d.startswith("_bucket="):
                out[d] = {
                    f for f in os.listdir(os.path.join(self.store.path, d))
                    if f.startswith("part-")
                }
        return out

    def _process(self, batch, batch_id: int) -> None:
        P, t = self.P, self.tracer
        probe = self.probes.setdefault(batch_id, {"stats_rows_out": 0}) if t.enabled else None
        with t.span("batch"):
            with t.span("json_stream.decode"):
                cells = P.decode_json_stream(batch, P.CELLTOWER_EVENT)
                attaches = (
                    P.decode_json_stream(batch, P.ATTACH_EVENT) if self.b.profile.attaches else None
                )
            if probe is not None:
                with t.span("probe.decoded_rows"):
                    probe["lines"] = batch.count()
                    probe["cells"] = cells.count()
                    probe["attaches"] = attaches.count() if attaches is not None else 0
                probe["source_scans"] = 2 if attaches is None else 3
            if attaches is not None:
                before = self._bucket_files() if probe is not None else None
                self.store.upsert(attaches)
                if probe is not None:
                    with t.span("probe.store_files"):
                        self._probe_store(probe, before)
            enriched = self.store.join(cells, fact_key="bearerId").select(
                "subscriber", "celltower", "metrics", "event_time"
            )
            if probe is not None:
                with t.span("pipeline.enrich"):
                    enriched.persist()
                    probe["enriched"] = enriched.count()
                with t.span("probe.metric_rows"):
                    probe["metric_rows"] = enriched.select(
                        P.F.sum(P.F.size("metrics"))
                    ).first()[0] or 0
            self.pipe.process_batch(enriched, batch_id)

    def _probe_store(self, probe: dict, before: dict[str, set[str]]) -> None:
        import pyarrow.parquet as pq

        after = self._bucket_files()
        rewritten = [d for d, files in after.items() if files != before.get(d)]
        probe["buckets_rewritten"] = len(rewritten)
        probe["rows_rewritten"] = sum(
            pq.read_metadata(os.path.join(self.store.path, d, f)).num_rows
            for d in rewritten for f in after[d]
        )
        probe["store_files"] = sum(len(f) for f in after.values())

    def on_batch(self, batch, batch_id: int) -> None:
        if self.done.is_set():
            return
        warm = batch_id < WARMUP
        if not warm and (
            self.seconds is None
            or (time.perf_counter() >= self.deadline and len(self.timed) >= MIN_TIMED)
            or batch_id >= self.b.n_batches
        ):
            self.done.set()  # later triggers are no-ops until the query stops
            return
        # trace every other timed batch; the rest measure the tracing cost
        self.tracer.enabled = self.traced and not warm and (batch_id - WARMUP) % 2 == 0
        self.tracer.batch = batch_id
        try:
            self._process(batch, batch_id)
        except Exception:
            self.error = f"batch {batch_id}:\n{traceback.format_exc()}"
            self.done.set()
            raise
        finally:
            self.tracer.enabled = False
        now = time.perf_counter()
        self.batches.append(batch_id)
        if warm:
            if batch_id == WARMUP - 1:
                self.setup_end = now
                if self.seconds is not None:
                    self.deadline = now + self.seconds
                    self.pids = _tree_pids()
                    self.cpu0 = tree_cpu_s(self.pids)
        else:
            self.timed.append(batch_id)
            self.timed_end = now
            self.cpu1 = tree_cpu_s(self.pids)
        if batch_id == self.b.n_batches - 1:
            self.done.set()  # backlog drained

    def run(self) -> float:
        """Run the query; return the set-up time (start to warm-up end)."""
        t0 = time.perf_counter()
        self._build()
        os.makedirs(self.sinks, exist_ok=True)
        raw = (
            self.b.spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(self.b.backlog)
        )
        q = (
            raw.writeStream.foreachBatch(self.on_batch)
            .option("checkpointLocation", os.path.join(self.dir, "checkpoint"))
            .start()
        )
        try:
            while not self.done.wait(0.05):
                if not q.isActive:
                    break
            last = self.batches[-1] if self.batches else -1
            if self.error is None and last == self.b.n_batches - 1:
                # drained: let the last trigger finish before stopping
                t_wait = time.perf_counter() + 30
                while time.perf_counter() < t_wait:
                    p = q.lastProgress
                    if p is not None and p.batchId >= last:
                        break
                    time.sleep(0.02)
        finally:
            q.stop()
        if self.error is None and q.exception() is not None:
            self.error = str(q.exception())
        self.progress = {p.batchId: p for p in q.recentProgress}
        if self.error is None and not set(self.timed) <= set(self.progress):
            self.error = "a timed batch reported no query progress"
        if self.error is not None:
            raise Failed(self.error)
        if self.setup_end is None:
            raise Failed("the query ended before its warm-up batches")
        return self.setup_end - t0

    def check(self) -> None:
        """Read back every processed batch's outputs; keep the batches
        that match the generator's counts in ``passed``."""
        self.seen, self.bad = {}, {}
        for bid in self.batches:
            self.seen[bid] = observed(self.sinks, bid)
            bad = mismatches(self.seen[bid], self.b.expected[bid])
            if bad:
                self.bad[bid] = bad
        self.passed = set(self.batches) - set(self.bad)

    def latencies(self, ids: list[int]) -> list[float]:
        return [self.progress[i].durationMs["triggerExecution"] / 1000 for i in ids]


# --- the run -----------------------------------------------------------------

class Bench:
    def __init__(self, args, work: str, program):
        self.a, self.work, self.P = args, work, program
        self.inputs = os.path.join(work, "inputs")
        self.backlog = os.path.join(self.inputs, "backlog")
        self.fences = os.path.join(self.inputs, "fences.json")
        self.seed_store = os.path.join(work, "seed_store")
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def start_session(self, threads: int):
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # A fixed-size heap: G1 never resizes it, so the JVM's resident
        # size does not depend on when its resizing heuristics fire.
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
            f"-Xms{HEAP} -XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing"
        )
        # every JVM, the launcher's too, keeps its files in the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        spark = self.P.get_spark(
            app_name="perfbench",
            master=f"local[{threads}]",
            shuffle_partitions=threads,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedStages": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def seed(self) -> None:
        """Build the bearer store once; every set-up starts from a copy."""
        P = self.P
        raw = self.spark.read.text(os.path.join(self.inputs, "seed.jsonl"))
        store = P.KeyedUpsertStore(self.spark, self.seed_store, key_col="bearerId", order_col="ts")
        store.upsert(P.decode_json_stream(raw, P.ATTACH_EVENT))

    def drain(self, name: str, seconds: float | None, traced: bool = False) -> tuple[Drain, float]:
        d = Drain(self, name, seconds, traced)
        try:
            setup = d.run()
            d.check()
        except Failed:
            self.attempted += len(d.batches) + 1
            self.failed += 1
            raise
        finally:
            shutil.rmtree(d.dir, ignore_errors=True)
        self.attempted += len(d.batches)
        self.failed += len(d.bad)
        self.problems += [f"{name} batch {b}: {m}" for b, ms in d.bad.items() for m in ms]
        return d, setup

    def run(self) -> int:
        a = self.a
        t = time.perf_counter()
        n_timed = a.max_batches or max(MIN_TIMED, math.ceil(a.seconds / FLOOR_BATCH_S))
        self.n_batches = WARMUP + n_timed
        exp = gen.generate(a.workload, a.seed, self.inputs, self.n_batches, a.scale)
        self.expected = exp["batches"]
        self.profile = gen.Profile(**exp["profile"])
        gen_s = time.perf_counter() - t
        self.log(f"generated {self.n_batches} batches in {gen_s:.2f} s")

        self.spark = self.start_session(THREADS)
        try:
            startup_s = time.perf_counter() - T_START - gen_s
            t = time.perf_counter()
            self.seed()
            seed_s = time.perf_counter() - t
            setups = []
            for i in range(SETUPS - 1):
                _, s = self.drain(f"setup{i}", None)
                setups.append(s)
            final, s = self.drain("timed", a.seconds, traced=bool(a.trace))
            setups.append(s)
            setup_s = startup_s + seed_s + statistics.median(setups)
            self.log(
                f"set-up: startup {startup_s:.2f} s, seed {seed_s:.2f} s, "
                f"set-ups {', '.join(f'{x:.2f}' for x in setups)} s"
            )
            timed = [b for b in final.timed if b in final.passed]
            if not timed:
                raise Failed("no timed batch passed the output check")
            if a.trace:
                metrics = self.traced_metrics(final, timed)
            else:
                metrics = self.end_to_end(final, timed, setup_s)
        except Failed as e:
            self.problems.append(str(e))
            metrics = {}
        finally:
            stop_session(self.spark)
        for p in self.problems:
            self.log(f"FAILED {p}")
        correct = not self.problems and self.failed == 0
        self.log(
            f"batches attempted {self.attempted}, failed {self.failed}, "
            f"failed_batch_frac {self.failed / max(1, self.attempted):.4f}"
        )
        for k, v in metrics.items():
            self.log(f"{k} = {v['value']:.6g} {v['unit']}")
        print(json.dumps({
            "correct": correct,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": metrics,
        }))
        return 0 if correct else 1

    def end_to_end(self, d: Drain, timed: list[int], setup_s: float) -> dict:
        lat = sorted(d.latencies(timed))
        events = sum(self.expected[b]["valid_events"] for b in timed)
        wall = d.timed_end - d.setup_end
        q = tail_percentile(len(lat))
        self.log(
            f"timed: {len(timed)} batches, {events} events, {wall:.2f} s; tail = p{q:g} of {len(lat)}; "
            f"latencies {', '.join(f'{x:.2f}' for x in d.latencies(timed))} s"
        )
        values = {
            "setup_s": setup_s,
            "events_per_s": events / wall,
            "batch_p50_s": statistics.median(lat),
            "batch_tail_s": percentile(lat, q),
            "cpu_s_per_kevent": (d.cpu1 - d.cpu0) / (events / 1000),
            "peak_rss_mb": tree_peak_rss_mb(),
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    def traced_metrics(self, d: Drain, timed: list[int]) -> dict:
        """Per-layer metrics; spans and a summary go to .bench_out/."""
        from layers import layer_metrics

        if not {s[4] for s in d.tracer.spans} & set(timed):
            raise Failed("no traced batch passed the output check")
        metrics = layer_metrics(d, timed, self.expected)
        out_dir = os.path.join(os.getcwd(), ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"trace-{self.a.workload}-{self.a.seed}")
        spans = d.tracer.dump(stem + ".spans.jsonl")
        n = len({s[4] for s in d.tracer.spans})
        for name, s in sorted(spans.items()):
            self.log(f"span {name:26s} per traced batch: incl {s['incl_s'] / n:.3f} s, self {s['self_s'] / n:.3f} s")
        baseline = self.single_thread_baseline() if self.a.workload == "ref_sliding" else None
        with open(stem + ".summary.json", "w") as fh:
            json.dump({"spans": spans, "metrics": metrics, "local1_baseline": baseline}, fh, indent=1)
        return metrics

    def single_thread_baseline(self) -> dict | None:
        """Informational, ungated local[1] pass of the same workload."""
        self.spark.stop()
        self.spark = self.start_session(1)
        base, _ = self.drain("local1", self.a.seconds / 2)
        ok = [b for b in base.timed if b in base.passed]
        if not ok:
            return None
        out = {
            "events_per_s": sum(self.expected[b]["valid_events"] for b in ok)
            / (base.timed_end - base.setup_end),
            "batch_p50_s": statistics.median(base.latencies(ok)),
            "batches": len(ok),
        }
        self.log(f"single-thread baseline local[1]: {out}")
        return out


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Telco streaming benchmark (see perfbench/NOTES.md)")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke test)")
    ap.add_argument("--max-batches", type=int, default=None, help="cap on timed batches (smoke test)")
    a = ap.parse_args(argv)
    try:
        program = load_program()
    except ImportError as e:
        print(f"[perfbench] cannot import the program from {os.getcwd()}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return Bench(a, work, program).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
