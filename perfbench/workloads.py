"""The benchmark workloads.

Each workload drives the program only through its public functions:

- ``generate`` writes the seeded inputs (not timed, not a metric);
- ``warm`` runs one untimed iteration;
- ``measure`` loops for the given seconds and returns the CPU cost per
  1,000 messages, the wall-clock throughput and the latency samples;
- ``check`` compares the recorded outputs with what the generator
  planted, outside the timed region;
- ``layers`` (traced runs only) times growing prefixes of the
  workload's pipeline and reads per-layer counters.

Every call into the program goes through ``Ops.run``, so one failure
is counted against the workload and the run goes on.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import threading
import time
import traceback
from contextlib import contextmanager

import gen
from engine import median, quantile


class Ops:
    """Attempted and failed operations and output checks of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            print(f"perfbench: operation {label} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return False, None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check {label} failed: {detail}", file=sys.stderr)


class Tracer:
    """Spans kept in memory; when enabled, each span also sets the
    Spark job group so the event log attributes its jobs."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(name, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append({"name": name, "start": t0, "end": t1, "parent": parent})
            if sc is not None:
                outer = self._stack[-1] if self._stack else None
                if outer:
                    sc.setJobGroup(outer, outer)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def last(self, name: str) -> float:
        for s in reversed(self.spans):
            if s["name"] == name:
                return s["end"] - s["start"]
        return 0.0


def _timed_prefix(tr: Tracer, name: str, build, reps: int = 3) -> float:
    """Median time of building ``build()`` -- a DataFrame or a list of
    them -- and materialising it with the ``noop`` sink, ``reps``
    times, under job group ``name``."""
    times = []
    for _ in range(reps):
        with tr.span(name):
            frames = build()
            for df in frames if isinstance(frames, list) else [frames]:
                df.write.format("noop").mode("overwrite").save()
        times.append(tr.last(name))
    return median(times)


def _dir_files(root: str, suffix: str = ".parquet") -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(suffix) and not f.startswith((".", "_"))
    ]


# --------------------------------------------------------------------------
# lake_ingest
# --------------------------------------------------------------------------


class LakeIngest:
    """Generated JSON lines for the 8 reference topics ->
    ``cli.run_ingest_config`` -> parquet lake, then the lake is read
    back: one camera-month and counts per entity-month."""

    corrupt = False  # self-test switch: damage the output before checks

    MSGS = 60_000
    READS_PER_LAKE = 1
    WARM_INGESTS = 3  # untimed; the JIT is still settling during the first ones
    CAMERA_MONTH = (gen.CAMERAS[0], 2024, 2)

    def __init__(self, work: str, seed: int, cpu, scale: float = 1.0):
        self.work = work
        self.seed = seed
        self.cpu = cpu  # () -> CPU seconds used so far by the driver processes
        self.n = max(200, int(self.MSGS * scale))
        self.inp = os.path.join(work, "incoming")
        self.cfg = os.path.join(work, "config.yaml")
        self.reads: list = []
        self.routes: list = []
        self.warm_cpu: list[float] = []

    def generate(self, seconds: float) -> dict:
        msgs = gen.iot_messages(self.seed, self.n)
        self.input_bytes = gen.write_topics(self.inp, msgs["lines"])
        with open(self.cfg, "w") as fh:
            fh.write(gen.config_yaml())
        self.expected = msgs["expected"]
        return msgs["planted"]

    def _ingest(self, spark, out: str):
        from utc_cuip_kafka_aws_connector_spark import cli

        return cli.run_ingest_config(spark, self.cfg, self.inp, out)

    def _read_back(self, spark, out: str):
        from pyspark.sql import functions as F

        cam, y, m = self.CAMERA_MONTH
        vis = spark.read.parquet(f"{out}/vision")
        one = (
            vis.filter((F.col("camera_id") == cam) & (F.col("year") == y) & (F.col("month") == m))
            .agg(F.count("*").alias("n"), F.sum("hit_counts").alias("hits"))
            .collect()[0]
        )
        counts = {}
        for family, sub, entity in (("vision", "vision", "camera_id"), ("air", "air_quality", "nicename")):
            for r in spark.read.parquet(f"{out}/{sub}").groupBy(entity, "year", "month").count().collect():
                counts[(family, r[entity], r["year"], r["month"])] = r["count"]
        return one["n"], counts

    def warm(self, spark, ops: Ops) -> None:
        for k in range(self.WARM_INGESTS):
            out = os.path.join(self.work, f"lake-warm-{k}")
            c0 = self.cpu()
            ok, routes = ops.run("run_ingest_config", self._ingest, spark, out)
            if ok:
                self.warm_cpu.append(self.cpu() - c0)
                self.routes.append(routes)
                ops.run("lake_read", self._read_back, spark, out)
            shutil.rmtree(out, ignore_errors=True)

    def measure(self, spark, seconds: float, ops: Ops, tr: Tracer) -> dict:
        ingest_s, ingest_cpu, read_s = [], [], []
        t_end = time.perf_counter() + seconds
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            out = os.path.join(self.work, f"lake-{i}")
            c0 = self.cpu()
            with tr.span("measure.run_ingest_config"):
                ok, routes = ops.run("run_ingest_config", self._ingest, spark, out)
            if ok:
                ingest_cpu.append(self.cpu() - c0)
                ingest_s.append(tr.last("measure.run_ingest_config"))
                self.routes.append(routes)
                if self.corrupt:  # self-test: lose one file of the lake
                    os.remove(sorted(_dir_files(os.path.join(out, "vision")))[0])
                for _ in range(self.READS_PER_LAKE):
                    with tr.span("measure.lake_read"):
                        ok, res = ops.run("lake_read", self._read_back, spark, out)
                    if ok:
                        read_s.append(tr.last("measure.lake_read"))
                        self.reads.append(res)
            shutil.rmtree(out, ignore_errors=True)
            i += 1
        print(f"perfbench: lake_ingest {len(ingest_s)} ingests, {len(read_s)} read-backs; CPU s per "
              f"ingest, warm-up {[round(c, 2) for c in self.warm_cpu]}, timed {[round(c, 2) for c in ingest_cpu]}",
              file=sys.stderr)
        return {
            "cpu_ms_per_kmsg": median(ingest_cpu) * 1e6 / self.n,
            "throughput_per_s": self.n / median(ingest_s) if ingest_s else 0.0,
            "latencies_ms": [s * 1000 for s in read_s],
        }

    def check(self, ops: Ops, spark=None) -> None:
        cam, y, m = self.CAMERA_MONTH
        want_one = self.expected.get(("vision", cam, y, m), 0)
        want = dict(self.expected)
        ops.check("lake_ingest.read_backs", bool(self.reads), "no lake was read back")
        for n_one, counts in self.reads:
            ops.check("lake_ingest.camera_month", n_one == want_one, f"{n_one} rows, want {want_one}")
            bad = {k: (counts.get(k), want.get(k)) for k in set(counts) | set(want)
                   if counts.get(k) != want.get(k)}
            ops.check("lake_ingest.entity_month_rows", not bad, f"{len(bad)} differ, e.g. {list(bad.items())[:3]}")
        for routes in self.routes:
            ops.check("lake_ingest.routes", set(routes.values()) == {"vision", "air"} and len(routes) == 8,
                      str(routes))

    def layers(self, spark, tr: Tracer) -> dict:
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        from utc_cuip_kafka_aws_connector_spark.pipeline import (
            AIR_SCHEMA,
            VISION_SCHEMA,
            normalize_air,
            normalize_vision,
        )
        from utc_cuip_kafka_aws_connector_spark.sources.batch import read_json_lines

        fams = [
            ([gen.VISION_TOPIC], VISION_SCHEMA, normalize_vision),
            (gen.AIR_TOPICS, AIR_SCHEMA, normalize_air),
        ]

        def raw(topics, schema):
            return reduce(DataFrame.unionByName,
                          [read_json_lines(spark, f"{self.inp}/{t}.jsonl", schema) for t in topics])

        def prefix(stage):
            def build():
                return [norm(raw(topics, schema)) if stage == "normalize" else raw(topics, schema)
                        for topics, schema, norm in fams]
            return build

        p_read = _timed_prefix(tr, "prefix.read_json_lines", prefix("read"))
        p_norm = _timed_prefix(tr, "prefix.normalize", prefix("normalize"))
        write_s = []
        for k in range(3):
            out = os.path.join(self.work, f"lake-prefix-{k}")
            with tr.span("prefix.write_partitioned"):
                self._ingest(spark, out)
            write_s.append(tr.last("prefix.write_partitioned"))
            if k < 2:
                shutil.rmtree(out, ignore_errors=True)
        files = _dir_files(out)
        lake_bytes = sum(os.path.getsize(f) for f in files)
        shutil.rmtree(out, ignore_errors=True)

        n_read = n_kept = n_corrupt = 0
        for topics, schema, norm in fams:
            df = raw(topics, schema)
            n_read += df.count()
            n_kept += norm(df).count()
            with_corrupt = T.StructType(schema.fields + [T.StructField("_corrupt_record", T.StringType())])
            # Spark refuses a raw JSON query that references only the
            # corrupt-record column; its documented way round is a cache.
            df = reduce(DataFrame.unionByName,
                        [read_json_lines(spark, f"{self.inp}/{t}.jsonl", with_corrupt) for t in topics]).cache()
            n_corrupt += df.filter(F.col("_corrupt_record").isNotNull()).count()
            df.unpersist()
        return {
            "sources.batch.read_json_lines.self_s": p_read,
            "sources.batch.corrupt_records": n_corrupt,
            "pipeline.normalize.self_s": p_norm - p_read,
            "pipeline.normalize.rows_kept_ratio": n_kept / n_read if n_read else 0.0,
            "sources.sinks.write_partitioned.self_s": median(write_s) - p_norm,
            "sources.sinks.write_partitioned.files_written": len(files),
            "sources.sinks.write_partitioned.bytes_per_input_byte": lake_bytes / self.input_bytes,
        }

    def layers_from_log(self, groups) -> dict:
        read = groups.get("prefix.read_json_lines")
        write = groups.get("prefix.write_partitioned")
        return {
            "sources.batch.read_json_lines.input_bytes": read.input_bytes / 3 if read else 0,
            "sources.sinks.write_partitioned.shuffle_write_bytes": write.shuffle_write / 3 if write else 0,
            "sources.sinks.write_partitioned.task_skew": write.skew() if write else 0.0,
        }


# --------------------------------------------------------------------------
# stream_offload
# --------------------------------------------------------------------------


class StreamOffload:
    """Open loop: a generator thread drops JSON-lines files on a fixed
    schedule into the directory a ``file_message_reader`` ->
    ``decode_json_payload`` -> ``normalize_vision`` ->
    ``streaming_dedup`` -> ``idempotent_batch_writer`` query reads,
    with the default trigger."""

    corrupt = False  # self-test switch: damage the output before checks

    # 2,500 messages a file: two such files a second were measured to
    # keep up with the default trigger on a 4-core machine. At 0.8 files
    # a second a file's batch (about 0.65 s there, up to about 1 s when
    # the host is busy) ends before the next drop, 1.25 s later.
    RATE = 0.8  # files per second
    MSGS_PER_FILE = 2500
    WARM_FILES = 10  # untimed, two a second

    def __init__(self, work: str, seed: int, cpu, scale: float = 1.0):
        self.work = work
        self.seed = seed
        self.cpu = cpu  # () -> CPU seconds used so far by the driver processes
        self.msgs = max(20, int(self.MSGS_PER_FILE * scale))
        self.inp = os.path.join(work, "stream-in")
        self.staging = os.path.join(work, "stream-staging")
        self.out = os.path.join(work, "stream-out")
        self.ckpt = os.path.join(work, "stream-ckpt")
        self.commits: dict[int, float] = {}
        self.write_ms: dict[int, float] = {}
        self.progress: list = []
        self.sink_keys = None

    def generate(self, seconds: float) -> dict:
        self.n_timed = max(4, int(seconds * self.RATE))
        sched = gen.stream_schedule(self.seed, self.WARM_FILES + self.n_timed, self.RATE, self.msgs)
        os.makedirs(self.inp, exist_ok=True)
        os.makedirs(self.staging, exist_ok=True)
        self.files, self.lines = [], []
        for i, (_, rows) in enumerate(sched["files"]):
            name = f"part-{i:05d}.jsonl"
            with open(os.path.join(self.staging, name), "w") as fh:
                fh.write("\n".join(rows) + "\n")
            self.files.append(name)
            self.lines.append(len(rows))
        self.distinct, self.late = sched["distinct"], sched["late"]
        return sched["planted"]

    def _drop(self, i: int) -> None:
        os.rename(os.path.join(self.staging, self.files[i]), os.path.join(self.inp, self.files[i]))

    def _start(self, spark):
        from utc_cuip_kafka_aws_connector_spark.pipeline import VISION_SCHEMA, normalize_vision
        from utc_cuip_kafka_aws_connector_spark.sources.kafka import (
            decode_json_payload,
            file_message_reader,
        )
        from utc_cuip_kafka_aws_connector_spark.sources.sinks import idempotent_batch_writer
        from utc_cuip_kafka_aws_connector_spark.streaming.ops import streaming_dedup

        writer = idempotent_batch_writer(self.out, entity_col="camera_id")

        def on_batch(df, epoch_id):
            t0 = time.perf_counter()
            writer(df, epoch_id)
            self.write_ms[epoch_id] = (time.perf_counter() - t0) * 1000
            self.commits[epoch_id] = time.time()

        src = file_message_reader(spark, self.inp, gen.VISION_TOPIC)
        deduped = streaming_dedup(
            normalize_vision(decode_json_payload(src, VISION_SCHEMA)),
            "timestamp_iso",
            gen.STREAM_WATERMARK,
            ["camera_id", "timestamp"],
        )
        return (
            deduped.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", self.ckpt)
            .start()
        )

    def warm(self, spark, ops: Ops) -> None:
        ok, self.query = ops.run("stream_start", self._start, spark)
        if not ok:
            return
        for i in range(self.WARM_FILES):
            self._drop(i)
            time.sleep(0.5)
        ops.run("stream_warm_drain", self.query.processAllAvailable)
        self.warm_batches = set(self.commits)

    def _file_batches(self) -> dict[str, int]:
        """file name -> id of the query batch that read it. The source
        log (per-batch files and ``.compact`` ones) maps each file to a
        source offset; the offsets log maps each query batch to the
        source offset it read up to (no-data batches read none)."""
        offset_of: dict[str, int] = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        name = os.path.basename(e["path"])
                        offset_of[name] = min(offset_of.get(name, e["batchId"]), e["batchId"])
        upto = []
        for path in glob.glob(os.path.join(self.ckpt, "offsets", "*")):
            name = os.path.basename(path)
            if name.isdigit():
                with open(path) as fh:
                    last = fh.read().strip().splitlines()[-1]
                upto.append((json.loads(last)["logOffset"], int(name)))
        upto.sort()
        out = {}
        for name, off in offset_of.items():
            # the first query batch whose source offset reaches the file's
            out[name] = next((b for o, b in upto if o >= off), None)
        return out

    def measure(self, spark, seconds: float, ops: Ops, tr: Tracer) -> dict:
        self.latencies: list[float] = []
        if getattr(self, "query", None) is None:
            return {"cpu_ms_per_kmsg": 0.0, "throughput_per_s": 0.0, "latencies_ms": []}
        timed = range(self.WARM_FILES, len(self.files))
        due: dict[int, float] = {}
        self.late_ms: list[float] = []

        cpu_at: list[float] = []

        def generator():
            t0 = time.time() + 0.05
            for k, i in enumerate(timed):
                due[i] = t0 + k / self.RATE
                wait = due[i] - time.time()
                if wait > 0:
                    time.sleep(wait)
                cpu_at.append(self.cpu())
                self._drop(i)
                self.late_ms.append((time.time() - due[i]) * 1000)
            time.sleep(max(0.0, t0 + len(timed) / self.RATE - time.time()))

        # CPU per drop interval: from a file's drop to the next one's (for
        # the last file, to the end of the interval or of the drain,
        # whichever is later). An interval holds every trigger phase of
        # the file's batches (offsets, planning, the batch, the logs'
        # commits) and the file-source polling between them, whose cost
        # the fixed open-loop schedule keeps alike from run to run. The
        # median interval is reported, so one GC or JIT burst does not
        # set the figure.
        with tr.span("measure.stream"):
            th = threading.Thread(target=generator, name="perfbench-generator")
            th.start()
            th.join()
            ops.run("stream_drain", self.query.processAllAvailable)
        cpu_at.append(self.cpu())
        self.progress = [p for p in self.query.recentProgress if p.get("numInputRows", 0) > 0]
        ops.run("stream_stop", self.query.stop)
        self.query = None

        batch_of = self._file_batches()
        self.missing_files = 0
        for i in timed:
            b = batch_of.get(self.files[i])
            if b is None or b not in self.commits:
                self.missing_files += 1
                continue
            self.latencies.append((self.commits[b] - due[i]) * 1000)
        tail = self.latencies[-max(1, len(self.latencies) // 4):]
        self.lag_end_s = median(tail) / 1000
        timed_progress = [p for p in self.progress if p["batchId"] not in self.warm_batches]
        rows = sum(p["numInputRows"] for p in timed_progress)
        busy_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in timed_progress)
        per_kmsg = [(cpu_at[k + 1] - cpu_at[k]) * 1e6 / self.lines[i] for k, i in enumerate(timed)]
        print(f"perfbench: stream_offload {len(self.latencies)} files timed over "
              f"{len(timed_progress)} batches; CPU ms per 1,000 messages by drop interval "
              f"{[round(c) for c in per_kmsg]}", file=sys.stderr)
        return {
            "cpu_ms_per_kmsg": median(per_kmsg),
            "throughput_per_s": rows / (busy_ms / 1000) if busy_ms else 0.0,
            "latencies_ms": self.latencies,
        }

    def read_sink(self, spark) -> list[tuple[str, int]]:
        return [(r["camera_id"], r["timestamp"])
                for r in spark.read.parquet(self.out).select("camera_id", "timestamp").collect()]

    def check(self, ops: Ops, spark=None) -> None:
        ops.check("stream_offload.files_committed", getattr(self, "missing_files", 1) == 0,
                  f"{getattr(self, 'missing_files', 'all')} files never committed")
        if self.corrupt:  # self-test: one sink file written twice
            first = sorted(_dir_files(self.out))[0]
            shutil.copy(first, first.replace(".parquet", "-copy.parquet"))
        ok, keys = ops.run("stream_read_sink", self.read_sink, spark)
        if not ok:
            return
        self.sink_keys = keys
        uniq = set(keys)
        ops.check("stream_offload.no_duplicates", len(uniq) == len(keys),
                  f"{len(keys) - len(uniq)} duplicate rows in the sink")
        missing = self.distinct - uniq
        ops.check("stream_offload.all_distinct_arrive", not missing, f"{len(missing)} distinct messages missing")
        extra = uniq - self.distinct - self.late
        ops.check("stream_offload.nothing_unplanted", not extra, f"{len(extra)} unexpected rows")

    def layers(self, spark, tr: Tracer) -> dict:
        from pyspark.sql import functions as F
        from utc_cuip_kafka_aws_connector_spark.pipeline import VISION_SCHEMA, normalize_vision
        from utc_cuip_kafka_aws_connector_spark.sources.kafka import decode_json_payload

        prog = [p for p in self.progress if p["batchId"] not in self.warm_batches]
        out = {}
        for phase in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
                      "triggerExecution"):
            out[f"streaming.trigger.{phase}_ms"] = median([p["durationMs"].get(phase, 0) for p in prog])
        out["streaming.batches"] = len(prog)
        out["streaming.rows_per_batch"] = median([p["numInputRows"] for p in prog])
        out["streaming.lag_end_s"] = self.lag_end_s
        out["streaming.generator_late_ms"] = quantile(self.late_ms, 0.9)
        states = [p["stateOperators"][0] for p in self.progress if p.get("stateOperators")]
        if states:
            out["streaming.ops.streaming_dedup.state_rows"] = states[-1].get("numRowsTotal", 0)
            out["streaming.ops.streaming_dedup.state_memory_bytes"] = states[-1].get("memoryUsedBytes", 0)
        late = sum(s.get("numRowsDroppedByWatermark", 0) for s in states)
        out["streaming.ops.streaming_dedup.late_rows_dropped"] = late
        rows_in = sum(p["numInputRows"] for p in self.progress)
        out["streaming.ops.streaming_dedup.dups_removed"] = rows_in - len(self.sink_keys or []) - late
        tb = [b for b in self.write_ms if b not in self.warm_batches]
        out["sources.sinks.idempotent_batch_writer.self_ms"] = median([self.write_ms[b] for b in tb])
        out["sources.sinks.idempotent_batch_writer.files_per_batch"] = median(
            [len(_dir_files(os.path.join(self.out, f"batch_id={b}"))) for b in tb])

        # decode and normalize self time on one batch-sized chunk of input
        per_batch = max(1, round(len(self.files) / max(1, len(self.progress))))
        chunk = [os.path.join(self.inp, f) for f in self.files[:per_batch]]

        def source():
            return spark.read.text(chunk).select(F.lit(gen.VISION_TOPIC).alias("topic"), F.col("value"))

        p_src = _timed_prefix(tr, "prefix.stream_source", source, reps=5)
        p_dec = _timed_prefix(tr, "prefix.decode_json_payload",
                              lambda: decode_json_payload(source(), VISION_SCHEMA), reps=5)
        p_norm = _timed_prefix(tr, "prefix.stream_normalize",
                               lambda: normalize_vision(decode_json_payload(source(), VISION_SCHEMA)), reps=5)
        out["sources.kafka.decode_json_payload.self_ms"] = (p_dec - p_src) * 1000
        out["pipeline.normalize.self_s"] = p_norm - p_dec
        return out

    def layers_from_log(self, groups) -> dict:
        return {}


WORKLOADS = {
    "lake_ingest": LakeIngest,
    "stream_offload": StreamOffload,
}
