"""The benchmark's workloads. Each runs closed loop with one client: the next
call into the engine starts when the previous one returned.

A workload builds its inputs in `setup` (timed as set-up, never in the
window), runs timed operations in `window`, verifies every operation's output
in `check` after the window, and derives per-layer numbers in `layers` from a
traced window plus engine-exposed surfaces (MergeResult, on_batch timestamps,
files_df, bloom_health) and the Spark event log.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from perfbench.host import Clock

N_BUCKETS = 64
BASE_TS = dt.datetime(2024, 1, 1)  # generator.BASE_TS
TEXT_SAMPLE = 64  # 1 in 64 urls gets the per-url text byte comparison


@dataclass
class Ctx:
    spark: object
    cores: int
    seed: int
    work: str
    tracer: object


@dataclass
class Window:
    """One timed window: per-operation samples plus what the check needs."""
    tag: str
    ops: list = field(default_factory=list)
    failures: list = field(default_factory=list)
    attempted: int = 0
    wall: float = 0.0
    epochs: list = field(default_factory=list)  # (start, end) epoch seconds


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples beyond it: (value,
    percentile, sample count). Below 21 samples that percentile would not
    lie above the median, and the maximum is reported instead."""
    s = sorted(samples)
    n = len(s)
    if n < 21:
        return (s[-1] if s else 0.0), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def bloom_bits(events: int, buckets: int) -> int:
    """16 bits per key. bloom_health counts every row a bloom absorbed (all
    generations, duplicates included) as a key, so size by rows."""
    return 8 * -(-2 * events // buckets)


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under `path`, counting names ending in `suffix`."""
    files = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, name))
    return files, size


def write_changelog(spark, path: str, n_events: int, seed: int, cores: int) -> None:
    """`n_events` generated change events (one url per 20 events, as
    bench.py) as parquet at `path`."""
    from embulk_input_marketo_spark import generator

    generator.changelog(
        spark, n_events, max(n_events // 20, 1000), seed=seed,
        partitions=4 * cores,
    ).write.parquet(path)


def user_schema(log, drop=("lsn", "op", "schema_version")):
    from pyspark.sql import types as T

    return T.StructType([f for f in log.schema.fields if f.name not in drop])


class Workload:
    name = ""
    metrics_e2e: dict[str, str] = {}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.windows: list[Window] = []

    @property
    def spark(self):
        return self.ctx.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, "data", *parts)


# ---------------------------------------------------------------------------
# ingest: bulk_backfill and trickle_tail share the replay loop
# ---------------------------------------------------------------------------

class Ingest(Workload):
    """Replays whole changelogs into fresh tables, one replay() per
    operation. Subclasses fix the slice shape and the replay driver."""

    events = 0
    slices = 0
    warm_batches = 0
    n_buckets = N_BUCKETS
    replay_kwargs: dict = {}
    metrics_e2e = {"setup_s": "s", "events_per_s": "1/s",
                   "commit_p50_s": "s", "peak_rss_mb": "MB"}

    def schema(self, log):
        return user_schema(log)

    def registry(self):
        return None

    def setup(self) -> float:
        """One changelog, then `warm_batches` slices of it replayed into a
        throwaway table, so the window runs on a JIT-warm replay path with
        live Python workers. A second build would cost a fifth of the run, so
        set-up runs once."""
        from embulk_input_marketo_spark.lake import LakeTable
        from embulk_input_marketo_spark.replay import replay

        self.log_path = self.path("changelog")
        t0 = time.perf_counter()
        write_changelog(self.spark, self.log_path, self.events, self.ctx.seed,
                        self.ctx.cores)
        log = self.spark.read.parquet(self.log_path)
        table = LakeTable.create(self.path("warm-table"), self.schema(log),
                                 key_col="url", lww_major="warc_ts",
                                 n_buckets=self.n_buckets)
        replay(self.spark, log, table, n_slices=self.slices,
               max_batches=self.warm_batches, registry=self.registry(),
               **self.replay_kwargs)
        return time.perf_counter() - t0

    def replay_once(self, w: Window, k: int) -> None:
        from embulk_input_marketo_spark.lake import LakeTable
        from embulk_input_marketo_spark.replay import replay

        log = self.spark.read.parquet(self.log_path)
        tpath = self.path(f"table-{w.tag}-{k}")
        table = LakeTable.create(tpath, self.schema(log), key_col="url",
                                 lww_major="warc_ts", n_buckets=self.n_buckets)
        marks: list[float] = []
        results = []

        def on_batch(r):
            marks.append(time.perf_counter())
            results.append(r)

        op = {"table": tpath}
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span("replay"):
                rep = replay(self.spark, log, table, n_slices=self.slices,
                             registry=self.registry(), on_batch=on_batch,
                             **self.replay_kwargs)
        except Exception as exc:  # a failed operation, reported by name
            w.failures.append(f"replay {k}: {type(exc).__name__}: {exc}")
            return
        wall = time.perf_counter() - t0
        w.epochs.append((e0, time.time()))
        op.update(wall=wall, events=rep.events_applied,
                  slices=[b - a for a, b in zip([t0] + marks, marks)],
                  compacted=[r.compacted_buckets > 0 for r in results])
        w.ops.append(op)

    def window(self, seconds: float, tag: str) -> Window:
        w = Window(tag)
        clock = Clock(seconds)
        k = 0
        while clock.left() > 0:
            w.attempted += 1
            self.replay_once(w, k)
            k += 1
        w.wall = clock.elapsed()
        self.windows.append(w)
        return w

    def e2e(self, w: Window) -> dict:
        return {
            "events_per_s": median([o["events"] / o["wall"] for o in w.ops]),
            "commit_p50_s": median([s for o in w.ops for s in o["slices"]]),
        }

    def check(self) -> None:
        """Final state of every replayed table equals the generator's oracle
        as (count, content hash); the last table's text is also compared
        byte for byte per url."""
        from pyspark.sql import functions as F

        from embulk_input_marketo_spark import generator
        from embulk_input_marketo_spark.functions.compare import (
            content_hash, text_bytes_comparator,
        )
        from embulk_input_marketo_spark.lake import LakeTable

        exp = generator.expected_final_state(
            self.spark.read.parquet(self.log_path)).cache()
        cols = sorted(exp.columns)
        ops = [(w, k, op) for w in self.windows for k, op in enumerate(w.ops)]
        cached = []
        try:
            want = content_hash(exp, cols)
            for i, (w, k, op) in enumerate(ops):
                got_df = LakeTable(op["table"]).read(self.spark)
                last = i == len(ops) - 1
                if last:  # read again by the text comparison below
                    cached.append(got_df.cache())
                got = content_hash(got_df, cols)
                if got != want:
                    w.failures.append(
                        f"replay {w.tag}-{k}: final state {got} != oracle {want}")
                    continue
                if not last:
                    continue
                # one pandas call per url makes the full comparison cost
                # more than the window; a seeded 1/64 of the urls is compared
                # (the content hash already covers every url's text bytes)
                pick = F.pmod(F.xxhash64("url", F.lit(self.ctx.seed)),
                              F.lit(TEXT_SAMPLE)) == 0
                if text_bytes_comparator(got_df.where(pick),
                                         exp.where(pick)).limit(1).count():
                    w.failures.append(f"replay {w.tag}-{k}: text bytes differ")
        finally:
            for df in [exp, *cached]:
                df.unpersist()

    def standalone_probes(self) -> dict:
        """Single-layer timings on the changelog's first slice, outside
        replay: the bounded scan and the Arrow text kernel, median of 3."""
        from pyspark.sql import functions as F

        from embulk_input_marketo_spark.functions.textops import (
            extract_text_arrow,
        )
        from embulk_input_marketo_spark.operators.windows import bounded_scan

        log = self.spark.read.parquet(self.log_path)
        hi = self.events // self.slices

        def timed(name, df):
            ts = []
            for _ in range(3):
                t0 = time.perf_counter()
                with self.ctx.tracer.span(name):
                    df.agg(F.count(F.lit(1)), F.sum(F.length("x"))).collect()
                ts.append(time.perf_counter() - t0)
            return median(ts)

        scan = bounded_scan(log, -1, hi - 1)
        return {
            "windows.scan_s": timed(
                "windows.bounded_scan",
                scan.select(F.concat_ws("|", *[F.col(c).cast("string")
                                              for c in log.columns]).alias("x"))),
            "textops.extract_s": timed(
                "textops.extract_text_arrow",
                scan.where(F.col("html").isNotNull())
                .select(extract_text_arrow(F.col("html")).alias("x"))),
        }

    def layers(self, w: Window, fold: dict) -> dict:
        from embulk_input_marketo_spark.lake import LakeTable

        n = max(len(w.ops), 1)
        n_slices = max(sum(len(o["slices"]) for o in w.ops), 1)
        pairs = [(s, c) for o in w.ops for s, c in zip(o["slices"], o["compacted"])]
        written = [dir_stats(os.path.join(o["table"], "data"), ".parquet") for o in w.ops]
        log_bytes = dir_stats(self.log_path, ".parquet")[1] * n
        meta = [dir_stats(os.path.join(o["table"], "_meta"))[1] for o in w.ops]
        versions = [LakeTable(o["table"]).current_version() for o in w.ops]
        out = {
            "replay.slice_s": median([s for o in w.ops for s in o["slices"]]),
            "replay.gap_s": fold["gap_s"] / n_slices,
            "replay.jobs_per_slice": fold["jobs"] / n_slices,
            "replay.occupancy": fold["occupancy"],
            "replay.slice_cover": median(
                [sum(o["slices"]) / o["wall"] for o in w.ops]),
            "merge.commit_s": median([s for s, c in pairs if not c]),
            "merge.compactions": sum(c for _, c in pairs) / n,
            "merge.files_written": sum(f for f, _ in written) / n,
            "merge.bytes_written": sum(b for _, b in written) / n,
            "merge.write_amp": sum(b for _, b in written) / max(log_bytes, 1),
            "table.manifest_bytes": median(meta),
            "table.versions": median(versions),
        }
        compacting = [s for s, c in pairs if c]
        if compacting:  # a time of 0 would read the same on every run
            out["merge.compact_commit_s"] = median(compacting)
        out.update(self.standalone_probes())
        return out

    def reader_layers(self, w: Window) -> dict:
        """The reader side, per layer: key blooms enabled on the window's
        last table, then one read of each lake_reads kind, each answer
        checked against the changelog. The timings are single samples."""
        from embulk_input_marketo_spark.lake import LakeTable

        reader = LakeReads(self.ctx)
        reader.table_path = w.ops[-1]["table"]
        reader.log_path = self.log_path
        reader.events = self.events
        log = self.spark.read.parquet(self.log_path)
        reader.urls = sorted(r[0] for r in log.select("url").distinct().collect())
        LakeTable(reader.table_path).enable_key_blooms(
            self.spark, m_bits=bloom_bits(self.events, self.n_buckets))
        pw = reader.probe_pass(f"{w.tag}-reads")
        reader.check()
        w.attempted += pw.attempted
        w.failures += pw.failures
        return reader.read_layers(pw)


class BulkBackfill(Ingest):
    """The throughput case: few large slices through the pipelined replay
    driver with the html->text derive, into a 64-bucket MoR table. Its
    traced run also times one read of each lake_reads kind on its table and
    a replay of the same changelog on one core."""

    name = "bulk_backfill"
    events = 150_000
    slices = 3
    warm_batches = 1
    replay_kwargs = {"pipeline": True, "extract_text_from_html": True}

    def single_core(self, work: str) -> float:
        """events/s of one replay of the changelog on local[1]."""
        from embulk_input_marketo_spark.lake import LakeTable
        from embulk_input_marketo_spark.replay import replay

        log = self.spark.read.parquet(self.log_path)
        table = LakeTable.create(os.path.join(work, "data", "table-1core"),
                                 self.schema(log), key_col="url",
                                 lww_major="warc_ts", n_buckets=self.n_buckets)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("replay.1core"):
            rep = replay(self.spark, log, table, n_slices=self.slices,
                         **self.replay_kwargs)
        return rep.events_applied / (time.perf_counter() - t0)

    def layers(self, w: Window, fold: dict) -> dict:
        return {**super().layers(w, fold), **self.reader_layers(w)}


class BackfillSequential(BulkBackfill):
    """The same backfill through the default sequential replay driver, so a
    change that helps one replay driver and hurts the other shows."""

    name = "backfill_sequential"
    replay_kwargs = {"extract_text_from_html": True}


class TrickleTail(Ingest):
    """The freshness case: many small slices through the default sequential
    replay driver; a registry adds `text_encoding` halfway, and commits reach
    the default compaction threshold inside the run."""

    name = "trickle_tail"
    events = 48_000
    # the first and the schema-change commit are each slower; with 8 slices
    # commit_p50_s spread three times as wide between runs
    slices = 12
    warm_batches = 2
    # ~150 urls per bucket. Each commit fsyncs a side file per touched
    # bucket; with 64 buckets commit_p50_s spread twice as wide between runs
    n_buckets = 16
    replay_kwargs = {}

    def schema(self, log):
        return user_schema(log, drop=("lsn", "op", "schema_version",
                                      "text_encoding"))

    def registry(self):
        from embulk_input_marketo_spark.generator import SCHEMA_V2_FRACTION
        from embulk_input_marketo_spark.registry import (
            RegistryEntry, SchemaRegistry,
        )

        # the generator's v2 point for a log of `events`
        evo = int(self.events * (1 - SCHEMA_V2_FRACTION))
        return SchemaRegistry(
            [RegistryEntry(2, "text_encoding", "string", "add", evo)])

# ---------------------------------------------------------------------------
# lake_reads: the reader side of lake.table and lake.bloom; no writes
# ---------------------------------------------------------------------------

# One cycle of the closed-loop read mix: 8 point lookups and 5 scans or
# probes, so the median falls among the lookups with one to spare. The
# window runs whole cycles, so every run measures the same mix; the seed
# picks keys, probes and ranges.
READ_CYCLE = [
    "exists_join", "lookup_hit", "lookup_miss", "read_narrow", "lookup_hit",
    "lookup_miss", "changes", "lookup_hit", "lookup_miss", "read_full",
    "lookup_hit", "range_scan", "lookup_miss",
]
FRONTIER = 400  # probes per exists_join, 90% of them urls the table lacks


class LakeReads(Workload):
    """Reads one table built in set-up by a sequential multi-slice replay
    (so buckets hold several merge-on-read generations), with key blooms.
    The window makes no writes."""

    name = "lake_reads"
    events = 40_000
    build_slices = 3
    n_buckets = 16  # ~125 urls per bucket at this size; 64 would be ~30
    metrics_e2e = {"setup_s": "s", "read_p50_s": "s", "read_tail_s": "s",
                   "reads_per_s": "1/s", "peak_rss_mb": "MB"}

    def setup(self) -> float:
        """One table build (changelog, replay, blooms): a build costs about a
        third of the run, so it is not repeated."""
        from embulk_input_marketo_spark.lake import LakeTable
        from embulk_input_marketo_spark.replay import replay

        t0 = time.perf_counter()
        self.log_path, self.table_path = self.path("changelog"), self.path("table")
        write_changelog(self.spark, self.log_path, self.events, self.ctx.seed,
                        self.ctx.cores)
        log = self.spark.read.parquet(self.log_path)
        table = LakeTable.create(self.table_path, user_schema(log), key_col="url",
                                 lww_major="warc_ts", n_buckets=self.n_buckets)
        marks = [time.perf_counter()]
        replay(self.spark, log, table, n_slices=self.build_slices,
               on_batch=lambda r: marks.append(time.perf_counter()))
        self.build_commits = [b - a for a, b in zip(marks, marks[1:])]
        table.enable_key_blooms(self.spark,
                                m_bits=bloom_bits(self.events, self.n_buckets))
        self.urls = sorted(r[0] for r in log.select("url").distinct().collect())
        # warm-up: one read of each kind (the JIT, and the Python workers the
        # bloom probe's UDF needs)
        rng = random.Random(-self.ctx.seed)
        for op in dict.fromkeys(READ_CYCLE):
            self.run_op(op, rng)
        return time.perf_counter() - t0

    def run_op(self, op: str, rng: random.Random):
        """One read; returns (answer, spec). The answer is fully consumed:
        rows collected, or (count, content hash) over every column."""
        from embulk_input_marketo_spark.functions.compare import content_hash
        from embulk_input_marketo_spark.lake import LakeTable

        spark, table = self.spark, LakeTable(self.table_path)
        if op in ("lookup_hit", "lookup_miss"):
            key = (rng.choice(self.urls) if op == "lookup_hit"
                   else f"https://absent-{rng.randrange(10**9)}.org/page/0")
            return [tuple(r) for r in table.lookup(spark, key).collect()], key
        if op == "exists_join":
            known = rng.sample(self.urls, FRONTIER // 10)
            new = [f"https://new-{rng.randrange(10**9)}.org/p/{j}"
                   for j in range(FRONTIER - len(known))]
            probes = spark.createDataFrame([(u,) for u in known + new], "u string")
            rows = table.exists_join(spark, probes, "u").collect()
            return sorted((r["u"], r["exists"]) for r in rows), None
        if op == "read_narrow":
            df = table.read(spark, columns=["url", "lang"])
            return content_hash(df, ["url", "lang"]), None
        if op == "read_full":
            df = table.read(spark)
            return content_hash(df, sorted(df.columns)), None
        if op == "changes":
            v = self.base_version(table)
            df = table.changes(spark, v, include_preimage=True)
            return content_hash(df, sorted(df.columns)), v
        if op == "range_scan":
            # the generator stamps event lsn at BASE_TS + lsn seconds
            lo = BASE_TS + dt.timedelta(seconds=rng.randrange(self.events // 2))
            span = (lo, lo + dt.timedelta(seconds=self.events // 4))
            df = table.read(spark, major_range=span)
            return content_hash(df, sorted(df.columns)), span
        raise ValueError(op)

    @staticmethod
    def base_version(table) -> int:
        """The snapshot after the build's second slice: the changes feed
        spans the later slices' inserts, updates and deletes."""
        merges = sorted(m.version for m in table.history()
                        if m.summary.get("operation") == "merge")
        return merges[1]

    def timed_op(self, w: Window, op: str, rng: random.Random) -> None:
        w.attempted += 1
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span(f"table.{op}"):
                answer, spec = self.run_op(op, rng)
        except Exception as exc:  # a failed operation, reported by name
            w.failures.append(f"{op} {w.tag}-{len(w.ops)}: "
                              f"{type(exc).__name__}: {exc}")
            answer = spec = None
        w.ops.append({"op": op, "s": time.perf_counter() - t0,
                      "answer": answer, "spec": spec})
        w.epochs.append((e0, time.time()))

    def window(self, seconds: float, tag: str) -> Window:
        w = Window(tag)
        rng = random.Random(self.ctx.seed * 7919 + len(self.windows))
        clock = Clock(seconds)
        while clock.left() > 0 or len(w.ops) % len(READ_CYCLE):
            self.timed_op(w, READ_CYCLE[len(w.ops) % len(READ_CYCLE)], rng)
        w.wall = clock.elapsed()
        self.windows.append(w)
        return w

    def probe_pass(self, tag: str) -> Window:
        """One read of each kind, for per-layer numbers on another
        workload's table."""
        w = Window(tag)
        rng = random.Random(self.ctx.seed * 7919 - 1)
        for op in dict.fromkeys(READ_CYCLE):
            self.timed_op(w, op, rng)
        self.windows.append(w)
        return w

    def e2e(self, w: Window) -> dict:
        ts = [o["s"] for o in w.ops]
        value, pct, n = tail(ts)
        self.tail_info = {"percentile": round(pct, 1), "samples": n}
        by: dict[str, list[float]] = {}
        for o in w.ops:
            by.setdefault(o["op"], []).append(round(o["s"], 3))
        self.op_s = by
        return {"read_p50_s": median(ts), "read_tail_s": value,
                "reads_per_s": len(ts) / w.wall}

    # ---- oracle: every answer derived from the changelog, not the table ----
    def expected_answer(self, op: str, spec, log, exp_df, exp: dict):
        """`exp_df` is the generator's expected final state of `log`, and
        `exp` the same rows by url."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from embulk_input_marketo_spark.functions.compare import content_hash
        from embulk_input_marketo_spark.lake import LakeTable

        if op in ("lookup_hit", "lookup_miss"):
            return [exp[spec]] if spec in exp else []
        if op == "exists_join":
            return sorted((u, u in exp) for u, _ in spec)
        if op == "read_narrow":
            return content_hash(exp_df, ["url", "lang"])
        if op == "read_full":
            return content_hash(exp_df, sorted(exp_df.columns))
        if op == "range_scan":
            lo, hi = spec
            df = exp_df.where(F.col("warc_ts").between(F.lit(lo), F.lit(hi)))
            return content_hash(df, sorted(df.columns))
        if op == "changes":
            # per url, the winning event up to the base snapshot's hwm and
            # up to the end; classify as the change feed defines it
            h = LakeTable(self.table_path).manifest(spec).checkpoint["hwm_lsn"]
            cols = exp_df.columns
            order = W.partitionBy("url").orderBy(F.desc("warc_ts"), F.desc("lsn"))

            def winners(df, tag):
                return (df.dropDuplicates(["lsn"])
                        .withColumn("_rn", F.row_number().over(order))
                        .where("_rn = 1")
                        .select("url",
                                *[F.col(c).alias(f"{c}_{tag}") for c in cols],
                                F.col("lsn").alias(f"lsn_{tag}"),
                                (F.col("op") != "D").alias(f"live_{tag}")))

            j = winners(log.where(F.col("lsn") <= h), "a").join(
                winners(log, "b"), "url", "full_outer")
            live_a = F.coalesce(F.col("live_a"), F.lit(False))
            live_b = F.coalesce(F.col("live_b"), F.lit(False))

            def row(kind, tag):
                return F.struct(*[F.col(f"{c}_{tag}").alias(c) for c in cols],
                                F.lit(kind).alias("_change"))

            rows = (F.when(live_b & ~live_a, F.array(row("insert", "b")))
                    .when(live_a & ~live_b, F.array(row("delete", "a")))
                    .when(live_a & live_b & (F.col("lsn_a") != F.col("lsn_b")),
                          F.array(row("update_preimage", "a"),
                                  row("update_postimage", "b"))))
            out = j.select(F.explode(rows).alias("e")).select("e.*")
            return content_hash(out, sorted(out.columns))
        raise ValueError(op)

    def check(self) -> None:
        """Every answer equals the one derived from the expected state."""
        from embulk_input_marketo_spark import generator

        log = self.spark.read.parquet(self.log_path)
        exp_df = generator.expected_final_state(log).cache()
        exp = {r["url"]: tuple(r) for r in exp_df.collect()}
        cache: dict = {}
        try:
            for w in self.windows:
                for k, o in enumerate(w.ops):
                    if o["answer"] is None:
                        continue
                    spec = o["answer"] if o["op"] == "exists_join" else o["spec"]
                    key = (o["op"], repr(spec))
                    if key not in cache:
                        cache[key] = self.expected_answer(o["op"], spec, log,
                                                          exp_df, exp)
                    if o["answer"] != cache[key]:
                        w.failures.append(f"{o['op']} {w.tag}-{k}: answer "
                                          "differs from the expected state")
        finally:
            exp_df.unpersist()

    def layers(self, w: Window, fold: dict) -> dict:
        return {**self.read_layers(w),
                "merge.commit_s": median(self.build_commits)}

    def read_layers(self, w: Window) -> dict:
        from pyspark.sql import functions as F

        from embulk_input_marketo_spark.lake import LakeTable
        from embulk_input_marketo_spark.lake.bloom import bloom_health

        by: dict[str, list[float]] = {}
        for o in w.ops:
            by.setdefault(o["op"], []).append(o["s"])
        table = LakeTable(self.table_path)
        per_bucket = table.files_df(self.spark).groupBy("bucket").count()
        return {
            "table.lookup_hit_s": median(by.get("lookup_hit", [])),
            "table.lookup_miss_s": median(by.get("lookup_miss", [])),
            "table.read_narrow_s": median(by.get("read_narrow", [])),
            "table.read_full_s": median(by.get("read_full", [])),
            "table.changes_s": median(by.get("changes", [])),
            "table.range_scan_s": median(by.get("range_scan", [])),
            "table.generations_per_bucket":
                per_bucket.agg(F.avg("count")).collect()[0][0],
            "bloom.exists_join_s": median(by.get("exists_join", [])),
            "bloom.est_fpr": bloom_health(table)["worst_est_fpr"],
        }


# ---------------------------------------------------------------------------
# corpus_ops: the document operators, checked against the DuckDB oracles
# ---------------------------------------------------------------------------

CORPUS_QUERIES = [
    "minhash_dedup_pairs", "simhash_hamming_pairs", "near_dup_survivors",
    "boilerplate_passages", "remove_repeated_lines", "lang_id",
    "gopher_quality", "quality_classifier", "semantic_dedup",
    "incremental_dedup", "extract_text", "coerce_props",
]
CORPUS_TABLES = ["events", "documents", "embeddings"]


class CorpusOps(Workload):
    """One pass = every corpus operator once over a fixed test-data
    directory, each output consumed by a content hash."""

    name = "corpus_ops"
    metrics_e2e = {"setup_s": "s", "corpus_pass_s": "s", "peak_rss_mb": "MB"}
    corpus_dir: str | None = None  # set from --corpus-dir

    def one_pass(self, w: Window | None) -> dict[str, float]:
        from embulk_input_marketo_spark.functions.compare import content_hash
        from embulk_input_marketo_spark.plans.queries import QUERIES

        times = {}
        for q in CORPUS_QUERIES:
            t0 = time.perf_counter()
            try:
                with self.ctx.tracer.span(f"corpus.{q}"):
                    df = QUERIES[q](self.spark, self.corpus_dir)
                    content_hash(df, df.columns)
            except Exception as exc:
                if w is None:
                    raise
                w.failures.append(f"{q}: {type(exc).__name__}: {exc}")
            times[q] = time.perf_counter() - t0
        return times

    def setup(self) -> float:
        if not self.corpus_dir:
            raise ValueError("corpus_ops needs --corpus-dir")
        missing = [t for t in CORPUS_TABLES if not os.path.exists(
            os.path.join(self.corpus_dir, f"{t}.parquet"))]
        if missing:
            raise FileNotFoundError(f"corpus tables missing: {missing}")
        t0 = time.perf_counter()
        self.one_pass(None)  # the cold pass belongs to set-up
        return time.perf_counter() - t0

    def window(self, seconds: float, tag: str) -> Window:
        w = Window(tag)
        clock = Clock(seconds)
        while clock.left() > 0:
            w.attempted += len(CORPUS_QUERIES)
            e0 = time.time()
            times = self.one_pass(w)
            w.epochs.append((e0, time.time()))
            w.ops.append({"pass": sum(times.values()), "times": times})
        w.wall = clock.elapsed()
        self.windows.append(w)
        return w

    def e2e(self, w: Window) -> dict:
        return {"corpus_pass_s": median([o["pass"] for o in w.ops])}

    def check(self) -> None:
        """Every query's rows equal its DuckDB oracle under the parity test's
        canonicalisation; a mismatch is a failed operation named by query."""
        import duckdb

        from embulk_input_marketo_spark.plans.queries import ORACLES, QUERIES
        from tests.test_oracle_parity import TABLES, _canon

        con = duckdb.connect()
        try:
            for t in TABLES:
                p = os.path.join(self.corpus_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            w = self.windows[-1]
            for q in CORPUS_QUERIES:
                sdf = QUERIES[q](self.spark, self.corpus_dir)
                cols = sorted(sdf.columns)
                s_rows = sorted(tuple(_canon(r[c]) for c in cols)
                                for r in sdf.collect())
                res = con.execute(ORACLES[q])
                dcols = [d[0] for d in res.description]
                idx = {c: i for i, c in enumerate(dcols)}
                d_rows = sorted(tuple(_canon(r[idx[c]]) for c in cols)
                                for r in res.fetchall()) if sorted(dcols) == cols else None
                if s_rows != d_rows:
                    detail = ("columns differ" if d_rows is None else
                              f"{len(s_rows)} rows vs oracle {len(d_rows)}")
                    w.failures.append(f"{q}: oracle mismatch ({detail})")
        finally:
            con.close()

    def layers(self, w: Window, fold: dict) -> dict:
        return {f"corpus.{q}_s": median([o["times"][q] for o in w.ops])
                for q in CORPUS_QUERIES}


WORKLOADS = {c.name: c for c in (
    BulkBackfill, BackfillSequential, TrickleTail, LakeReads, CorpusOps)}
