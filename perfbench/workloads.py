"""The benchmark's four workloads, driven through each layer's public calls.

Every workload is closed-loop with one caller: the next operation starts
only after the previous one returned, the way cron and a report requester
each wait for a reply.  A workload object has

- `setup_pass(k)`: write the generated inputs into a fresh directory and
  make the program calls that build the starting state.  The run makes
  `passes` of them and reports their median; the first one runs on a cold
  JVM and brings the code paths into use;
- `op(i)`: one measured operation; returns its wall and CPU time, the
  input items it handled and whether its own output check passed;
- `verify()`: the end-of-run checks against the generator's ground truth;
- `storage_ratio()`: bytes the program stored per input byte.

With `ctx.tracing` set, a call into the program also records a span, its
Spark job counts and the layer's counters into `ctx`; the extra probes
(listing, standalone parse, file counts) run outside the timed section.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realparse_spark.operators.dedup import (
    canonical_docs,
    dup_clusters,
    minhash_dedup_e2e,
    minhash_lsh_pairs,
    minhash_signatures,
)
from realparse_spark.operators.load import load_style5, load_weblog, read_warehouse_table
from realparse_spark.operators.log_report import pull_report
from realparse_spark.operators.parse import parse_style5, parse_weblog
from realparse_spark.sources.logs import latest_files, list_log_files, read_log_lines

import gen
from gen import STYLE5, WEB
from probes import JobCounts, JobGroups, data_files, plan_seconds
from tracing import Tracer

clock = time.perf_counter

LOADERS = {STYLE5: load_style5, WEB: load_weblog}
PARSERS = {STYLE5: parse_style5, WEB: parse_weblog}
SERVER_TYPE = {STYLE5: 1, WEB: 0}

# Input sizes.  They are fixed, so every seed does the same amount of work;
# the seed changes only the content.
CRON_LINES = 1000  # lines per cron rotation
BACKFILL_FILES, BACKFILL_LINES = 4, 6000  # rotations per family, lines each
REPORT_TICKS, REPORT_LINES = 1, 2000  # cron runs (style-5 + web) building the report warehouse
REPORT_CUSTOMERS = 24
PRIME_REPORTS = 8  # requests at the end of each report set-up pass
DEDUP_SINGLETONS, DEDUP_GROUPS, DEDUP_BOILERPLATE = 1500, 150, 1050


@dataclass
class Timing:
    wall: float = 0.0
    cpu: float = 0.0  # see probes.Jvm.cpu_seconds

    def __add__(self, other: Timing) -> Timing:
        return Timing(self.wall + other.wall, self.cpu + other.cpu)


@dataclass
class Ctx:
    spark: SparkSession
    tmp: str
    seed: int
    cores: int
    tracer: Tracer
    groups: JobGroups
    cpu_clock: Callable[[], float]
    acc: dict[str, float] = field(default_factory=dict)  # layer counters, summed over traced calls
    checks: list[tuple[str, bool, str]] = field(default_factory=list)

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    @tracing.setter
    def tracing(self, on: bool) -> None:
        self.tracer.enabled = on

    def add(self, key: str, value: float) -> None:
        self.acc[key] = self.acc.get(key, 0.0) + value

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        return bool(ok)

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.tmp, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    @contextmanager
    def timed(self):
        """Wall and CPU time of the block: the timed section of an op."""
        t = Timing()
        c0, w0 = self.cpu_clock(), clock()
        try:
            yield t
        finally:
            t.wall, t.cpu = clock() - w0, self.cpu_clock() - c0

    def rng(self, stream: str) -> random.Random:
        return random.Random(f"{self.seed}/{stream}")

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        """Call into the program; when tracing, inside a span and a job group.
        Returns (result, seconds, job counts)."""
        if not self.tracing:
            t0 = clock()
            out = fn(*args, **kwargs)
            return out, clock() - t0, JobCounts()
        with self.tracer.span(name, layer), self.groups.group(name) as jc:
            t0 = clock()
            out = fn(*args, **kwargs)
            dt = clock() - t0
        self.add(f"{layer}.calls", 1)
        return out, dt, jc


@dataclass
class OpResult:
    time: Timing
    items: int
    ok: bool


def hash_parse(df: DataFrame) -> tuple[int, int]:
    """Materialize a parse with a hash over every column (a bare count would
    let Catalyst prune the regexes); returns (lines, lines with no epoch)."""
    row = df.agg(
        F.max(F.hash(*df.columns)).alias("h"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("epoch").isNull().cast("int")).alias("bad"),
    ).collect()[0]
    return row.n, row.bad or 0


def parse_probe(ctx: Ctx, log_dir: str, family: str, latest: int | None) -> None:
    """Standalone parse of the file set a load reads, timed on its own."""
    lines = read_log_lines(ctx.spark, log_dir, gen.PREFIX[family], latest)
    parser = PARSERS[family]
    (n, bad), dt, _ = ctx.call(f"operators.parse.{parser.__name__}", "operators.parse",
                               lambda: hash_parse(parser(lines, line_col="value")))
    ctx.add("parse.s", dt)
    ctx.add("parse.lines", n)
    ctx.add("parse.quarantined", bad)


def list_probe(ctx: Ctx, log_dir: str, family: str, latest: int | None) -> None:
    prefix = gen.PREFIX[family]
    with ctx.tracer.span("sources.logs.list", "sources.logs"):
        t0 = clock()
        files = list_log_files(log_dir, prefix) if latest is None else latest_files(log_dir, prefix, latest)
        dt = clock() - t0
    ctx.add("sources.logs.calls", 1)
    ctx.add("logs.list_s", dt)
    ctx.add("logs.files_read", len(files))
    ctx.add("logs.bytes_read", sum(os.path.getsize(f) for f in files))


def load(ctx: Ctx, family: str, log_dir: str, wh: str, latest: int | None) -> tuple[dict[str, int], Timing]:
    """One timed loader call.  When tracing, also its listing probe, job
    counts, the files it wrote, and a standalone parse of what it read."""
    if ctx.tracing:
        list_probe(ctx, log_dir, family, latest)
        before = data_files(wh)
    loader = LOADERS[family]
    with ctx.timed() as t:
        counts, dt, jc = ctx.call(f"operators.load.{loader.__name__}", "operators.load",
                                  loader, ctx.spark, log_dir, wh, latest=latest)
    if ctx.tracing:
        after = data_files(wh)
        ctx.add("load.s", dt)
        ctx.add("load.jobs", jc.jobs)
        ctx.add("load.stages", jc.stages)
        ctx.add("load.tasks", jc.tasks)
        ctx.add("load.rows_written", sum(counts.values()))
        ctx.add("load.access_rows", counts.get("access", 0))
        ctx.add("load.files_written", after[0] - before[0])
        ctx.add("load.bytes_written", after[1] - before[1])
        parse_probe(ctx, log_dir, family, latest)
    return counts, t


def verify_warehouse(ctx: Ctx, label: str, wh: str, truth: dict) -> None:
    """Rows per family, sum(bytes_sent) per family, distinct quarantined
    lines and access_id uniqueness, all against the ground truth."""
    spark = ctx.spark
    access = read_warehouse_table(spark, wh, "access")
    file = read_warehouse_table(spark, wh, "file")
    got_rows = {r.server_type: r.n for r in access.groupBy("server_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    got_bytes = {
        r.server_type: r.b
        for r in file.join(access.select("access_id", "server_type"), "access_id")
        .groupBy("server_type").agg(F.sum("bytes_sent").alias("b")).collect()
    }
    for fam, st in SERVER_TYPE.items():
        ctx.check(f"{label}.rows.{fam}", got_rows.get(st, 0) == truth["rows"][fam],
                  f"{got_rows.get(st, 0)} != {truth['rows'][fam]}")
        ctx.check(f"{label}.bytes_sent.{fam}", (got_bytes.get(st) or 0) == truth["bytes_sent"][fam],
                  f"{got_bytes.get(st)} != {truth['bytes_sent'][fam]}")
    n, distinct = access.agg(F.count(F.lit(1)), F.countDistinct("access_id")).collect()[0]
    ctx.check(f"{label}.access_id_unique", n == distinct, f"{n} rows, {distinct} distinct ids")
    quarantine = read_warehouse_table(spark, wh, "quarantine")
    got_q = set() if quarantine is None else {r.value for r in quarantine.select("value").distinct().collect()}
    want_q = set(truth["quarantined"])
    ctx.check(f"{label}.quarantine", got_q == want_q,
              f"{len(got_q - want_q)} unexpected, {len(want_q - got_q)} missing")


def _land_and_load(ctx: Ctx, ticks: list[gen.CronTick], log_dir: str, wh: str) -> tuple[bool, Timing, int]:
    """For each tick in turn, land its rotation and run its loader; returns
    (all counts as expected, time in the loaders, new lines landed)."""
    ok, total, lines = True, Timing(), 0
    for tick in ticks:
        if tick.rotation is not None:
            gen.write_rotation(log_dir, tick.rotation)
            lines += len(tick.rotation.hits)
        counts, t = load(ctx, tick.family, log_dir, wh, latest=2)
        total += t
        ok &= counts.get("access", 0) == tick.expect["loaded"]
        ok &= counts.get("quarantine", 0) == tick.expect["quarantined"]
    return ok, total, lines


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, n)) for n in os.listdir(path))


class CronIngest:
    """Rotations land one at a time; each cron run loads the newest style-5
    and web rotations (latest=2) into one shared warehouse."""

    name = "cron_ingest"
    passes = 1  # a pass makes two cron loads, and the first pass runs cold

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup_pass(self, k: int) -> None:
        d = self.ctx.fresh_dir(f"cron{k}")
        self.logs, self.wh = os.path.join(d, "logs"), os.path.join(d, "wh")
        os.makedirs(self.logs)
        self.feed = gen.CronFeed(self.ctx.rng("cron"), CRON_LINES)
        ok, _, _ = _land_and_load(self.ctx, self.feed.ticks(2), self.logs, self.wh)
        self.ctx.check(f"cron.setup{k}", ok)

    def op(self, i: int) -> OpResult:
        ticks = self.feed.ticks(2)  # one style-5 and one web run
        with self.ctx.tracer.span("cron_run", "bench", request=f"cron-{i}"):
            ok, t, lines = _land_and_load(self.ctx, ticks, self.logs, self.wh)
        return OpResult(t, lines, ok)

    def verify(self) -> None:
        verify_warehouse(self.ctx, "cron", self.wh, self.feed.model.truth())

    def storage_ratio(self) -> float:
        return data_files(self.wh)[1] / _dir_bytes(self.logs)


class Backfill:
    """A few large rotations per family loaded into an empty warehouse in
    one run (every file of each family, latest=None)."""

    name = "backfill"
    passes = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.wh = None

    def setup_pass(self, k: int) -> None:
        d = self.ctx.fresh_dir(f"backfill{k}")
        self.logs = os.path.join(d, "logs")
        os.makedirs(self.logs)
        rots, self.truth = gen.backfill_rotations(self.ctx.rng("backfill"), BACKFILL_FILES, BACKFILL_LINES)
        for rot in rots:
            gen.write_rotation(self.logs, rot)
        self.lines = sum(len(r.hits) for r in rots)
        # bring the loaders into use on one small rotation per family
        prime = os.path.join(d, "prime")
        os.makedirs(prime)
        prime_rots, prime_truth = gen.backfill_rotations(self.ctx.rng("backfill-prime"), 1, CRON_LINES)
        for rot in prime_rots:
            gen.write_rotation(prime, rot)
        for fam in (STYLE5, WEB):
            counts, _ = load(self.ctx, fam, prime, os.path.join(d, "prime-wh"), None)
            self.ctx.check(f"backfill.prime{k}.{fam}", counts.get("access", 0) == prime_truth["expect"][fam]["loaded"])

    def op(self, i: int) -> OpResult:
        ctx = self.ctx
        if self.wh:
            shutil.rmtree(self.wh)  # keep only the newest warehouse on disk
        self.wh = ctx.fresh_dir(f"backfill-wh{i}")
        ok, total = True, Timing()
        with ctx.tracer.span("backfill_run", "bench", request=f"backfill-{i}"):
            for fam in (STYLE5, WEB):
                counts, t = load(ctx, fam, self.logs, self.wh, latest=None)
                total += t
                want = self.truth["expect"][fam]
                ok &= counts.get("access", 0) == want["loaded"] and counts.get("quarantine", 0) == want["quarantined"]
        return OpResult(total, self.lines, ok)

    def verify(self) -> None:
        verify_warehouse(self.ctx, "backfill", self.wh, self.truth)

    def storage_ratio(self) -> float:
        return data_files(self.wh)[1] / _dir_bytes(self.logs)


class CustomerReports:
    """A warehouse built by small cron loads, then back-to-back report
    requests, each `pull_report` with `customers` filtered to one id, the
    way pull_report.pl serves one customer.  Each request reads the tables
    afresh, so it pays for the file layout the loads left behind."""

    name = "customer_reports"
    passes = 1  # a pass makes 2 * REPORT_TICKS cron loads, and the first pass runs cold

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup_pass(self, k: int) -> None:
        ctx = self.ctx
        d = ctx.fresh_dir(f"reports{k}")
        self.logs, self.wh = os.path.join(d, "logs"), os.path.join(d, "wh")
        os.makedirs(self.logs)
        self.feed = gen.CronFeed(ctx.rng("reports"), REPORT_LINES)
        with ctx.tracer.span("setup_pass", "bench", request=f"setup-{k}"):
            ok, _, _ = _land_and_load(ctx, self.feed.ticks(2 * REPORT_TICKS), self.logs, self.wh)
        ctx.check(f"reports.setup{k}", ok)
        self.loaded = self.feed.model.rows[STYLE5] + self.feed.model.rows[WEB]
        self.dims = gen.report_dims(ctx.rng("dims"), REPORT_CUSTOMERS)
        self.dim_paths = gen.write_dims(os.path.join(d, "dims"), self.dims, ctx.cores)
        self.order = [c[0] for c in self.dims.customers]
        ctx.rng("order").shuffle(self.order)
        for j in range(PRIME_REPORTS):
            cid, rows, _ = self.request(self.order[-1 - j], f"setup-{k}-report-{j}")
            ctx.check(f"reports.setup{k}.report{j}", self.matches(cid, rows))

    def request(self, cid: int, request: str) -> tuple[int, list, Timing]:
        ctx, spark = self.ctx, self.ctx.spark

        def build():
            access = read_warehouse_table(spark, self.wh, "access")
            file = read_warehouse_table(spark, self.wh, "file")
            customers = spark.read.parquet(self.dim_paths["customers"]).filter(F.col("id") == cid)
            project = spark.read.parquet(self.dim_paths["project"])
            project_file = spark.read.parquet(self.dim_paths["project_file"])
            return pull_report(access, file, customers, project, project_file)

        with ctx.tracer.span("report_request", "bench", request=request), ctx.timed() as t:
            df, _, _ = ctx.call("operators.log_report.pull_report", "operators.log_report", build)
            rows, _, jc = ctx.call("operators.log_report.collect", "operators.log_report", df.collect)
        if ctx.tracing:
            ctx.add("report.requests", 1)
            ctx.add("report.s", t.wall)
            ctx.add("report.plan_s", plan_seconds(df))
            ctx.add("report.jobs", jc.jobs)
            ctx.add("report.stages", jc.stages)
            ctx.add("report.files_scanned", len(df.inputFiles()))
            ctx.add("report.rows_out", len(rows))
        return cid, rows, t

    def matches(self, cid: int, rows: list) -> bool:
        """Every row's n_views and times, the N/A gating included, equal the
        truth computed from the rows the model says are loaded."""
        got = {(r.customer_id, r.project_id, r.pattern, r.company_name):
               (r.n_views, r.clip_length, r.avg_view_time, r.longest_view_time) for r in rows}
        return len(got) == len(rows) and got == gen.report_truth(self.loaded, self.dims, cid)

    def op(self, i: int) -> OpResult:
        cid, rows, t = self.request(self.order[i % len(self.order)], f"report-{i}")
        return OpResult(t, 1, self.matches(cid, rows))

    def verify(self) -> None:
        """The inputs exercise what the per-request checks compare: every
        hosting=Yes customer has rows, and some rows are N/A-gated.  (The
        loads are checked call by call; the whole-warehouse checks belong
        to cron_ingest and backfill.)"""
        truth = {c[0]: gen.report_truth(self.loaded, self.dims, c[0]) for c in self.dims.customers}
        yes = [c[0] for c in self.dims.customers if c[2] == "Yes"]
        self.ctx.check("reports.truth_nonempty", all(truth[c] for c in yes),
                       "every hosting=Yes customer has report rows")
        gated = [k for t in truth.values() for k in t if gen.REPORT_GATE_RE.search(k[2])]
        self.ctx.check("reports.truth_has_gated_rows", bool(gated))

    def storage_ratio(self) -> float:
        return data_files(self.wh)[1] / _dir_bytes(self.logs)


class NearDupDocs:
    """A seeded corpus through `minhash_dedup_e2e` to a keep-list."""

    name = "near_dup_docs"
    passes = 3  # a pass writes the corpus and dedups it once

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.out = None

    def setup_pass(self, k: int) -> None:
        ctx = self.ctx
        d = ctx.fresh_dir(f"dedup{k}")
        self.corpus = gen.near_dup_corpus(ctx.rng("dedup"), DEDUP_SINGLETONS, DEDUP_GROUPS, DEDUP_BOILERPLATE)
        self.corpus_dir = os.path.join(d, "corpus")
        self.corpus_bytes = gen.write_corpus(self.corpus_dir, self.corpus, ctx.cores)
        out = os.path.join(d, "keep")
        minhash_dedup_e2e(ctx.spark.read.parquet(self.corpus_dir)).write.parquet(out)
        ctx.check(f"dedup.setup{k}", self._check(out)[0])

    def op(self, i: int) -> OpResult:
        ctx = self.ctx
        if self.out:
            shutil.rmtree(self.out)
        self.out = os.path.join(ctx.tmp, f"keep{i}")
        with ctx.tracer.span("dedup_run", "bench", request=f"dedup-{i}"), ctx.timed() as t:
            docs = ctx.spark.read.parquet(self.corpus_dir)
            if ctx.tracing:
                self._staged(docs)
            else:
                minhash_dedup_e2e(docs).write.parquet(self.out)
        ok, recall = self._check(self.out)
        if ctx.tracing:
            ctx.add("dedup.runs", 1)
            ctx.add("dedup.planted_recall", recall)
        return OpResult(t, len(self.corpus.docs), ok)

    def _staged(self, docs: DataFrame) -> None:
        """The `minhash_dedup_e2e` composition with each stage materialized,
        so its time can be charged to the stage."""
        ctx = self.ctx
        sig, dt, jc1 = ctx.call("operators.dedup.minhash_signatures", "operators.dedup",
                                lambda: minhash_signatures(docs).localCheckpoint())
        ctx.add("dedup.signatures_s", dt)
        pairs, dt, jc2 = ctx.call("operators.dedup.minhash_lsh_pairs", "operators.dedup",
                                  lambda: minhash_lsh_pairs(None, sig=sig).localCheckpoint())
        ctx.add("dedup.pairs_s", dt)
        clusters, dt, jc3 = ctx.call("operators.dedup.dup_clusters", "operators.dedup",
                                     lambda: dup_clusters(pairs).localCheckpoint())
        ctx.add("dedup.clusters_s", dt)
        _, dt, jc4 = ctx.call("operators.dedup.canonical_docs", "operators.dedup",
                              lambda: canonical_docs(docs, pairs=None, clusters=clusters).write.parquet(self.out))
        ctx.add("dedup.canonical_s", dt)
        ctx.add("dedup.jobs", jc1.jobs + jc2.jobs + jc3.jobs + jc4.jobs)
        ctx.add("dedup.pairs", pairs.count())

    def _check(self, out: str) -> tuple[bool, float]:
        """The keep-list partitions the corpus; each planted group is one
        cluster with exactly one canonical member; singletons stay alone.
        Returns (all hold, share of planted groups recovered)."""
        corpus = self.corpus
        rows = self.ctx.spark.read.parquet(out).select("doc_id", "cluster_id", "is_canonical").collect()
        ids = [r.doc_id for r in rows]
        partition = len(ids) == len(set(ids)) and set(ids) == {d for d, _ in corpus.docs}
        members: dict[int, set[int]] = {}
        canon: dict[int, int] = {}
        cluster_of = {}
        for r in rows:
            members.setdefault(r.cluster_id, set()).add(r.doc_id)
            canon[r.cluster_id] = canon.get(r.cluster_id, 0) + bool(r.is_canonical)
            cluster_of[r.doc_id] = r.cluster_id

        def whole(group) -> bool:
            c = cluster_of.get(group[0])
            return members.get(c) == set(group) and canon.get(c) == 1

        recall = sum(map(whole, corpus.groups)) / len(corpus.groups)
        alone = all(whole([s]) for s in corpus.singletons)
        return partition and alone and recall == 1.0, recall

    def verify(self) -> None:
        big = max(len(g) for g in self.corpus.groups)
        self.ctx.check("dedup.star_bucket_planted", big > 1000, f"largest planted group {big}")

    def storage_ratio(self) -> float:
        return data_files(self.out)[1] / self.corpus_bytes


WORKLOADS = {w.name: w for w in (CronIngest, Backfill, CustomerReports, NearDupDocs)}
