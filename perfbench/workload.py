"""One benchmark run of one workload, in its own process and session.

Started by ``run.py``, which owns the process tree. This process builds the
Spark session, sets up the inputs from the seed, runs a fixed number of ops
in a closed loop (one client, one op at a time), checks every op's outputs,
stops the session and writes its result as JSON.

With ``--trace 1`` the run makes three ops, untraced, traced, untraced,
and after the last one replays the checks the runner composes one by one
over the traced op's partitions, so every aggregation layer gets its own
time, job and task counts.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procs  # noqa: E402
from tracer import Tracer, union_s  # noqa: E402

# The one stated exception to building the session exactly as the CLI
# does: a fixed driver heap. At the engine's default (2g on a 15 GiB host)
# two known clip-table shapes die with OutOfMemoryError (see README.md).
DRIVER_MEM = "4g"
OP_TIMEOUT_S = 90.0
# no new op starts this long after process start, so the run ends in time
LAST_OP_START_S = 110.0

SIZES = {
    "full": {
        "clip_pass": {"rows": 2000, "parts": 8, "dur": (500, 2000)},
        "incremental": {"rows": 2000, "parts": 8, "dur_a": (20, 60), "dur_b": (25, 65)},
    },
    "smoke": {
        "clip_pass": {"rows": 400, "parts": 4, "dur": (50, 100)},
        "incremental": {"rows": 400, "parts": 4, "dur_a": (20, 60), "dur_b": (25, 65)},
    },
}

META_COLS = ["part_id", "clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
HASH_COLS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
SINKS = ("violations", "stats", "verdicts", "states")
KERNEL_SAMPLE = 512
WARM_ROWS = 200  # clip_pass warm-up table
SCREENS = ("audio_loudness_stats", "audio_spectral_features", "audio_dc_offset",
           "audio_bandwidth", "audio_vad_stats", "audio_pitch_period")

# -- the metrics, as BENCHMARK.json lists them --------------------------------

END_TO_END = {"setup_s": "s", "wall_s": "s", "clips_per_s": "1/s", "op_p50_s": "s",
              "op_tail_s": "s", "ops_ok": "ratio"}
# layers with time, job and task counts
COUNTED_LAYERS = (
    "checks.invariants.audio_invariant",
    "checks.stats.column_stats",
    "checks.uniqueness.uniqueness_violations",
    "checks.referential.ref_integrity_violations",
    "checks.schema_check.pattern_violations",
    "checks.drift.capture_baseline",
    "checks.drift.drift_verdicts",
    "checks.drift.chi2_homogeneity",
    "checks.drift.mutual_info",
    "checks.drift.spearman_corr",
    "checks.stats.benford_digits",
    "checks.stats_state.stats_state",
    "checks.snapshot.partitions_to_revalidate",
    "runtime.runner.table_stats_from_states",
)
# layers with time only
TIMED_LAYERS = tuple(f"functions.audio_quality.{s}" for s in SCREENS) + (
    "runtime.runner.slim_projection",)
MANIFEST_LAYERS = ("runtime.manifest.done_partitions", "runtime.manifest.commit_partition",
                   "runtime.manifest.invalidate_partitions")
PER_LAYER = {
    **{f"audio.{k}.us_per_clip": "us" for k in ("decode", "synth_pcm_n", "snr_db")},
    "checks.invariants.transfer_s": "s",
    **{f"{n}.{k}": u for n in COUNTED_LAYERS
       for k, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"))},
    **{f"{n}.s": "s" for n in TIMED_LAYERS},
    "runtime.runner.run_resumable.s": "s",
    **{f"runtime.runner.run_resumable.{k}": "count"
       for k in ("jobs", "stages", "tasks", "failed_tasks")},
    "runtime.runner.overhead_s": "s",
    "runtime.runner.tasks_per_pending_partition": "ratio",
    "runtime.runner.sink_write.s": "s",
    "runtime.runner.sink_files": "count",
    "runtime.runner.sink_bytes_per_clip": "B",
    **{f"{n}.ms": "ms" for n in MANIFEST_LAYERS},
    "session.peak_rss_mb": "MB",
    "generator.write_clips.s": "s",
    "generator.write_transcript_ref.s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}


class Ctx:
    """Per-run state shared by set-up, ops, checks and the trace."""

    def __init__(self, spark, workdir: str, seed: int, size: dict, tracer):
        self.spark = spark
        self.wd = workdir
        self.rng = random.Random(seed)
        self.size = size
        self.tracer = tracer
        self.cores = int(spark.sparkContext.master[6:-1])
        self.setup_spans: dict[str, list[float]] = {}
        self.info: dict = {}

    def layer(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def setup_step(self, name: str):
        """Set-up calls into the generator are timed in every run."""
        t0 = time.perf_counter()
        with self.layer(name):
            yield
        self.setup_spans.setdefault(name, []).append(time.perf_counter() - t0)

    def path(self, *parts: str) -> str:
        return os.path.join(self.wd, *parts)


def _noop(df) -> None:
    """Run a plan to completion without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _verdict_rows(spark, out_dir: str):
    from pyspark.sql import functions as F

    return [
        tuple(r)
        for r in spark.read.parquet(f"{out_dir}/verdicts")
        .select(
            F.col("part_id").cast("int"), "check_name", "passed", "n_violations", "n_rows"
        )
        .collect()
    ]


def _grid(verdicts):
    """The whole verdict grid, metric rounded like the q95 gate."""
    from pyspark.sql import functions as F

    rows = verdicts.select(
        F.col("part_id").cast("int"),
        "check_name",
        "passed",
        F.round("metric_value", 6),
        "threshold",
        F.col("n_rows").cast("long"),
        F.col("n_violations").cast("long"),
    ).collect()
    return sorted((tuple(r) for r in rows), key=repr)


def _sink_footprint(out_dir: str, parts) -> tuple[int, int]:
    files = size = 0
    for sink in SINKS:
        for p in parts:
            d = os.path.join(out_dir, sink, f"part_id={p}")
            if not os.path.isdir(d):
                continue
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
    return files, size


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


class ClipPass:
    """A fresh resumable validation of the whole table with the audio
    invariant on, then the six audio-QA screens over the same table."""

    name = "clip_pass"
    nominal_op_s = 11.0  # one op at 4 cores on the reference box

    def __init__(self, ctx: Ctx):
        from baskerville_spark.generator import GenConfig
        from baskerville_spark.runtime.runner import ValidationConfig

        s = ctx.size
        # GenConfig has no seed: the seed moves the table size by up to 1%
        rows = s["rows"] + ctx.rng.randrange(s["rows"] // 100 + 1)
        self.ctx = ctx
        self.cfg = GenConfig(n_rows=rows, n_parts=s["parts"],
                             dur_min_ms=s["dur"][0], dur_max_ms=s["dur"][1])
        self.vcfg = ValidationConfig()
        self.table = ctx.path("clips")
        self.tref = ctx.path("tref")
        # the warm-up validates a small table of the same clips: it starts
        # the Python workers and compiles the plans, and costs little set-up
        self.warm_cfg = GenConfig(n_rows=WARM_ROWS, n_parts=2,
                                  dur_min_ms=s["dur"][0], dur_max_ms=s["dur"][1])
        self.op_ids = 0

    def setup(self) -> None:
        from baskerville_spark.generator import write_clips, write_transcript_ref

        c = self.ctx
        for cfg, table, tref in ((self.cfg, self.table, self.tref),
                                 (self.warm_cfg, c.path("warm_clips"), c.path("warm_tref"))):
            with c.setup_step("generator.write_clips"):
                write_clips(c.spark, table, cfg)
            with c.setup_step("generator.write_transcript_ref"):
                write_transcript_ref(c.spark, tref, cfg)

    def warm(self) -> list[str]:
        c = self.ctx
        r = self.prepare(self.warm_cfg, c.path("warm_clips"), c.path("warm_tref"))
        self.op(r)
        problems = self.check(r)
        self.release(r)
        return problems

    def prepare(self, cfg=None, table: str | None = None, tref: str | None = None) -> dict:
        cfg = cfg or self.cfg
        k = self.op_ids
        self.op_ids += 1
        return {"out": self.ctx.path(f"out{k}"), "man": self.ctx.path(f"man{k}"),
                "cfg": cfg, "table": table or self.table, "tref": tref or self.tref,
                "pending": list(range(cfg.n_parts)), "clips": cfg.n_rows}

    def op(self, r: dict) -> None:
        from pyspark.sql import functions as F

        from baskerville_spark.functions import audio_quality as aq
        from baskerville_spark.runtime.runner import run_resumable

        c = self.ctx
        with c.layer("runtime.runner.run_resumable"):
            r["processed"] = run_resumable(c.spark, r["table"], r["man"], r["out"], r["tref"],
                                           cfg=self.vcfg)
        r["screens"] = {}
        for name in SCREENS:
            with c.layer(f"functions.audio_quality.{name}"):
                clips = c.spark.read.parquet(r["table"])
                screen = getattr(aq, name)(clips)
                row = screen.agg(F.count(F.lit(1)), F.count_if("decode_ok")).collect()[0]
            r["screens"][name] = (row[0], row[1])

    def check(self, r: dict) -> list[str]:
        import expect

        cfg = r["cfg"]
        problems = []
        if r["processed"] != r["pending"]:
            problems.append(f"run_resumable returned {r['processed']}, want {r['pending']}")
        want = expect.expected_verdicts(cfg)
        problems += expect.verdict_mismatches(
            _verdict_rows(self.ctx.spark, r["out"]), want, r["pending"])
        ok = cfg.n_rows - expect.decode_errors(cfg)
        for name, got in r["screens"].items():
            if got != (cfg.n_rows, ok):
                problems.append(f"{name}: (rows, decode_ok) {got}, want {(cfg.n_rows, ok)}")
        return problems

    def release(self, r: dict) -> None:
        shutil.rmtree(r["out"], ignore_errors=True)
        shutil.rmtree(r["man"], ignore_errors=True)

    def final_check(self) -> list[str]:
        return []


class Incremental:
    """One ingest event per op: a partition is re-ingested, then the diff,
    invalidation, resumable run over the pending partitions, table stats
    from the state rows and an idle resumable run."""

    name = "incremental"
    nominal_op_s = 5.0

    def __init__(self, ctx: Ctx):
        from baskerville_spark.generator import GenConfig
        from baskerville_spark.runtime.runner import ValidationConfig

        s = ctx.size
        rows = s["rows"] + ctx.rng.randrange(s["rows"] // 100 + 1)
        parts = s["parts"]
        self.ctx = ctx
        # two versions of every partition: same rows, same injected
        # violations, different clip durations, so payloads (and partition
        # signatures) differ while the expected verdicts stay the same
        self.cfg = GenConfig(n_rows=rows, n_parts=parts,
                               dur_min_ms=s["dur_a"][0], dur_max_ms=s["dur_a"][1])
        self.cfg_b = GenConfig(n_rows=rows, n_parts=parts,
                               dur_min_ms=s["dur_b"][0], dur_max_ms=s["dur_b"][1])
        self.vcfg = ValidationConfig(emit_states=True)
        self.version = ["a"] * parts
        self.src = {"a": ctx.path("version_a"), "b": ctx.path("version_b")}
        self.cfgs = {"a": self.cfg, "b": self.cfg_b}
        # the current snapshot is the table the ops validate
        self.table, self.prev = ctx.path("snapshot_cur"), ctx.path("snapshot_prev")
        self.tref = ctx.path("tref")
        self.man, self.out = ctx.path("manifest"), ctx.path("out")
        self.events = iter(self._schedule(parts))

    def _schedule(self, parts: int):
        last = None
        while True:
            p = self.ctx.rng.randrange(parts)
            if p != last:
                yield p
                last = p

    def _copy_part(self, src: str, dst: str, part: int) -> None:
        d = os.path.join(dst, f"part_id={part}")
        shutil.rmtree(d)
        shutil.copytree(os.path.join(src, f"part_id={part}"), d)

    def setup(self) -> None:
        from baskerville_spark.checks.snapshot import partitions_to_revalidate
        from baskerville_spark.generator import write_clips, write_transcript_ref
        from baskerville_spark.runtime.runner import run_resumable, table_stats_from_states

        c = self.ctx
        for v, cfg in self.cfgs.items():
            with c.setup_step("generator.write_clips"):
                write_clips(c.spark, self.src[v], cfg)
        with c.setup_step("generator.write_transcript_ref"):
            write_transcript_ref(c.spark, self.tref, self.cfg)
        shutil.copytree(self.src["a"], self.table)
        shutil.copytree(self.src["a"], self.prev)
        parts = list(range(self.cfg.n_parts))
        t0 = time.perf_counter()
        processed = run_resumable(c.spark, self.table, self.man, self.out, self.tref, cfg=self.vcfg)
        if processed != parts:
            raise RuntimeError(f"initial validation processed {processed}, want {parts}")
        c.info["initial_validation_s"] = time.perf_counter() - t0
        # warm the diff and the state fold before any timed op
        read = c.spark.read.parquet
        if partitions_to_revalidate(read(self.prev), read(self.table), "part_id", HASH_COLS):
            raise RuntimeError("identical snapshots reported a changed partition")
        table_stats_from_states(c.spark, self.out, self.vcfg).collect()

    def warm(self) -> list[str]:
        """Check the initial validation, then run one untimed event: the
        first event still pays cold-start costs the timed ones must not."""
        import expect

        want = expect.expected_verdicts(self.cfg)
        problems = expect.verdict_mismatches(
            _verdict_rows(self.ctx.spark, self.out), want, range(self.cfg.n_parts))
        r = self.prepare()
        self.op(r)
        problems += self.check(r)
        self.release(r)
        return problems

    def prepare(self) -> dict:
        """The ingest event: re-ingest one partition as its other version.
        Swapping its files is not engine work, so it runs before the clock."""
        part = next(self.events)
        self.version[part] = "b" if self.version[part] == "a" else "a"
        self._copy_part(self.src[self.version[part]], self.table, part)
        clips = sum(1 for i in range(self.cfg.n_rows) if self._part_of(i) == part)
        return {"part": part, "pending": [part], "clips": clips, "out": self.out}

    def op(self, r: dict) -> None:
        from baskerville_spark.checks.snapshot import partitions_to_revalidate
        from baskerville_spark.runtime import manifest
        from baskerville_spark.runtime.runner import run_resumable, table_stats_from_states

        c = self.ctx
        read = c.spark.read.parquet
        with c.layer("checks.snapshot.partitions_to_revalidate"):
            r["affected"] = partitions_to_revalidate(
                read(self.prev), read(self.table), "part_id", HASH_COLS)
        with c.layer("runtime.manifest.invalidate_partitions"):
            manifest.invalidate_partitions(self.man, r["affected"])
        with c.layer("runtime.runner.run_resumable"):
            r["processed"] = run_resumable(c.spark, self.table, self.man, self.out, self.tref,
                                           cfg=self.vcfg)
        with c.layer("runtime.runner.table_stats_from_states"):
            r["table_stats"] = table_stats_from_states(c.spark, self.out, self.vcfg).collect()
        with c.layer("runtime.runner.run_resumable_idle"):
            r["idle"] = run_resumable(c.spark, self.table, self.man, self.out, self.tref,
                                      cfg=self.vcfg)

    def _part_of(self, i: int) -> int:
        from baskerville_spark.generator import part_of

        return part_of(i, self.cfg)

    def check(self, r: dict) -> list[str]:
        import expect

        want = [r["part"]]
        problems = []
        for key in ("affected", "processed"):
            if r[key] != want:
                problems.append(f"{key} {r[key]}, want {want}")
        if r["idle"] != []:
            problems.append(f"second run_resumable processed {r['idle']}, want []")
        ts = r["table_stats"]
        nulls = expect.null_durations(self.cfg)
        if len(ts) != 1 or ts[0]["n_rows"] != self.cfg.n_rows or ts[0]["dur_ms_nulls"] != nulls:
            problems.append(f"table stats {ts}, want n_rows={self.cfg.n_rows} nulls={nulls}")
        grid = expect.expected_verdicts(self.cfg)
        problems += expect.verdict_mismatches(_verdict_rows(self.ctx.spark, self.out), grid, want)
        return problems

    def release(self, r: dict) -> None:
        # the validated snapshot catches up with the current one
        self._copy_part(self.src[self.version[r["part"]]], self.prev, r["part"])

    def final_check(self) -> list[str]:
        """The q95 protocol: the grid built event by event equals a
        from-scratch validation of the final snapshot."""
        from baskerville_spark.runtime.runner import run_validation

        c = self.ctx
        read = c.spark.read.parquet
        res = run_validation(c.spark, read(self.table), read(self.tref), cfg=self.vcfg)
        try:
            fresh = _grid(res.verdicts)
        finally:
            res.unpersist()
        inc = _grid(read(f"{self.out}/verdicts"))
        if inc == fresh:
            return []
        diff = sorted(set(inc) ^ set(fresh), key=repr)
        return [f"incremental grid differs from a from-scratch run in {len(diff)} rows: {diff[:6]}"]


WORKLOADS = {w.name: w for w in (ClipPass, Incremental)}


def run_op(wl) -> tuple[dict, float]:
    """Run one op; return its result and its latency. Preparing the event
    and checking the outputs stay outside the clock."""
    r = wl.prepare()
    t0 = time.perf_counter()
    wl.op(r)
    return r, time.perf_counter() - t0


# --------------------------------------------------------------------------
# trace-only measurements
# --------------------------------------------------------------------------


def _us_per_call(fn, calls: list[tuple]) -> float:
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        for args in calls:
            fn(*args)
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs) / len(calls) * 1e6


def time_kernels(cfg, rng: random.Random) -> dict[str, float]:
    """In-process cost of the per-clip kernels the audio invariant runs, on
    a seeded sample of payloads drawn like the generator draws them."""
    from baskerville_spark import audio
    from baskerville_spark.generator import (
        CODEC_WEIGHTS, CODECS, SR_CHOICES, SR_WEIGHTS, canonical_clip_id)

    clips = []
    for _ in range(KERNEL_SAMPLE):
        cid = canonical_clip_id(rng.randrange(cfg.n_rows))
        sr = int(rng.choices(SR_CHOICES, SR_WEIGHTS)[0])
        codec = str(rng.choices(CODECS, CODEC_WEIGHTS)[0])
        pcm = audio.synth_pcm(cid, sr, rng.randint(cfg.dur_min_ms, cfg.dur_max_ms))
        clips.append((cid, sr, codec, audio.encode(pcm, codec)))
    decode_calls = [(payload, codec) for _, _, codec, payload in clips]
    pcms = [audio.decode(*c) for c in decode_calls]
    synth_calls = [(cid, sr, len(pcm)) for (cid, sr, _, _), pcm in zip(clips, pcms)]
    snr_calls = [(audio.synth_pcm_n(*c), pcm) for c, pcm in zip(synth_calls, pcms)]
    return {
        "audio.decode.us_per_clip": _us_per_call(audio.decode, decode_calls),
        "audio.synth_pcm_n.us_per_clip": _us_per_call(audio.synth_pcm_n, synth_calls),
        "audio.snr_db.us_per_clip": _us_per_call(audio.snr_db, snr_calls),
    }


# checks run_validation composes for the workloads' configs (plus
# stats_state when emit_states is on); their replay spans are what
# ``overhead_s`` subtracts from the traced run_resumable
IN_RUNNER = (
    "runtime.runner.slim_projection",
    "checks.stats.column_stats",
    "checks.uniqueness.uniqueness_violations",
    "checks.referential.ref_integrity_violations",
    "checks.schema_check.pattern_violations",
    "checks.invariants.audio_invariant",
)


def replay(ctx: Ctx, vcfg, clips_path: str, tref_path: str, pending: list[int]) -> None:
    """Each check the runner composes, plus the metadata screens, called on
    its own over the op's pending partitions and run to completion."""
    from pyspark.sql import functions as F

    from baskerville_spark.checks import drift, invariants, referential, stats, uniqueness
    from baskerville_spark.checks import stats_state as stats_state_mod
    from baskerville_spark.checks.schema_check import pattern_violations
    from baskerville_spark.runtime.runner import CLIP_SPECS

    spark = ctx.spark
    numeric = list(vcfg.numeric_cols)
    clips = spark.read.parquet(clips_path).where(F.col("part_id").isin(pending))
    tref = spark.read.parquet(tref_path)
    with ctx.layer("runtime.runner.slim_projection"):
        slim = clips.select(*META_COLS).persist()
        slim.count()
    try:
        with ctx.layer("checks.stats.column_stats"):
            _noop(stats.column_stats(slim, numeric_cols=numeric,
                                     other_cols=["clip_id", "codec", "transcript"]))
        with ctx.layer("checks.uniqueness.uniqueness_violations"):
            _noop(uniqueness.uniqueness_violations(slim, n_salt=vcfg.n_salt))
        with ctx.layer("checks.referential.ref_integrity_violations"):
            _noop(referential.ref_integrity_violations(slim, tref, strategy=vcfg.ri_strategy))
        with ctx.layer("checks.schema_check.pattern_violations"):
            _noop(pattern_violations(slim, CLIP_SPECS))
        with ctx.layer("checks.invariants.audio_invariant"):
            _noop(invariants.audio_invariant(clips, tref))
        with ctx.layer("checks.drift.capture_baseline"):
            baseline = drift.capture_baseline(slim, numeric, list(vcfg.categorical_cols))
        with ctx.layer("checks.drift.drift_verdicts"):
            _noop(drift.drift_verdicts(slim, baseline, psi_threshold=vcfg.psi_threshold,
                                       ks_threshold=vcfg.ks_threshold))
        with ctx.layer("checks.drift.chi2_homogeneity"):
            _noop(drift.chi2_homogeneity(slim, "part_id", "codec"))
        with ctx.layer("checks.drift.mutual_info"):
            _noop(drift.mutual_info(slim, "codec", "sr_hz"))
        with ctx.layer("checks.drift.spearman_corr"):
            _noop(drift.spearman_corr(slim, "sr_hz", "dur_ms"))
        with ctx.layer("checks.stats.benford_digits"):
            _noop(stats.benford_digits(slim, "dur_ms"))
        with ctx.layer("checks.stats_state.stats_state"):
            _noop(stats_state_mod.stats_state(slim, ["part_id"], numeric,
                                              list(vcfg.state_distinct_cols)))
    finally:
        slim.unpersist()


def install_wrappers(tracer) -> list:
    """Spans inside run_resumable, by patching the names it looks up at
    call time. Returns the undo functions."""
    from pyspark.sql.readwriter import DataFrameWriter

    from baskerville_spark.runtime import manifest, runner

    return [
        tracer.wrap(manifest, "done_partitions", "runtime.manifest.done_partitions"),
        tracer.wrap(manifest, "commit_partition", "runtime.manifest.commit_partition"),
        tracer.wrap(runner, "run_validation", "runtime.runner.run_validation"),
        tracer.wrap(DataFrameWriter, "parquet", "runtime.runner.sink_write"),
    ]


def per_layer(tracer, ops: list[dict], vcfg, kernels: dict, cores: int,
              setup_spans: dict) -> dict[str, float]:
    """Per-layer metrics: per traced op, then the median over ops."""
    per_op: dict[str, list[float]] = {}

    def put(name: str, value: float) -> None:
        per_op.setdefault(name, []).append(value)

    in_runner = IN_RUNNER + (("checks.stats_state.stats_state",) if vcfg.emit_states else ())
    for rec in ops:
        op = rec["op"]

        def one(name: str) -> dict | None:
            spans = tracer.named(name, op)
            return spans[0] if spans else None

        for name in COUNTED_LAYERS:
            s = one(name)
            if s is not None:
                put(f"{name}.s", s["end"] - s["start"])
                put(f"{name}.jobs", s["jobs"])
                put(f"{name}.tasks", s["tasks"])
        for name in TIMED_LAYERS:
            s = one(name)
            if s is not None:
                put(f"{name}.s", s["end"] - s["start"])
        rr = one("runtime.runner.run_resumable")
        rr_s = rr["end"] - rr["start"]
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            put(f"runtime.runner.run_resumable.{k}", rr[k])
        put("runtime.runner.run_resumable.s", rr_s)
        replayed = [one(n) for n in in_runner]
        put("runtime.runner.overhead_s",
            rr_s - sum(s["end"] - s["start"] for s in replayed if s is not None))
        put("runtime.runner.tasks_per_pending_partition", rr["tasks"] / len(rec["pending"]))
        put("runtime.runner.sink_write.s", union_s(tracer.named("runtime.runner.sink_write", op)))
        put("runtime.runner.sink_files", rec["sink_files"])
        put("runtime.runner.sink_bytes_per_clip", rec["sink_bytes"] / rec["clips"])
        for name in MANIFEST_LAYERS:
            spans = tracer.named(name, op)
            if spans:
                put(f"{name}.ms", statistics.median(
                    (s["end"] - s["start"]) * 1e3 for s in spans))
        inv = one("checks.invariants.audio_invariant")
        if inv is not None:
            kernel_s = sum(kernels.values()) * 1e-6 * rec["clips"] / cores
            put("checks.invariants.transfer_s", (inv["end"] - inv["start"]) - kernel_s)
        put("trace.spans", len([s for s in tracer.spans if s["op"] == op]))

    out = {name: statistics.median(v) for name, v in per_op.items()}
    out.update(kernels)
    for name, runs in setup_spans.items():
        out[f"{name}.s"] = statistics.median(runs)
    return out


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least 10 ops beyond it, as
    (value, percentile, ops). With 10 ops or fewer no percentile has 10
    beyond it, and the slowest op is reported as p100."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n, n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--fault", choices=("none", "kill-jvm"), default="none")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    t_start = time.perf_counter()
    wd = args.workdir
    for d in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(wd, d), exist_ok=True)
    # executors' Python workers import the engine from this checkout, and
    # every temp file stays inside it
    os.environ["PYTHONPATH"] = ROOT
    os.environ["TMPDIR"] = os.path.join(wd, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # without this, each JVM (spark-submit's launcher too) writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cores = len(os.sched_getaffinity(0))

    result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}, "info": {}}
    spark = None
    try:
        from baskerville_spark.session import get_session

        spark = get_session(
            "perfbench",
            master=f"local[{cores}]",
            extra_conf={
                "spark.local.dir": os.path.join(wd, "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(wd, 'jvm-tmp')} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(wd, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_start
        result = run(spark, args, wd, session_s, t_start)
    except Exception:  # the run's boundary: report, never hang
        traceback.print_exc()
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception:  # a JVM that already died cannot be stopped
                traceback.print_exc()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def run(spark, args, wd: str, session_s: float, t_start: float) -> dict:
    tracer = Tracer(spark) if args.trace else None
    ctx = Ctx(spark, wd, args.seed, SIZES[args.size][args.workload], tracer)
    wl = WORKLOADS[args.workload](ctx)
    sid = os.getsid(0)

    t0 = time.perf_counter()
    wl.setup()
    t_warm = time.perf_counter()
    warm_problems = wl.warm()
    t_ready = time.perf_counter()
    setup_s = session_s + (t_ready - t0)
    phases = {"session_s": session_s, "data_s": t_warm - t0, "warm_s": t_ready - t_warm}
    if warm_problems:
        raise RuntimeError(f"warm-up op failed its output check: {warm_problems[:4]}")

    latencies: list[float] = []
    untraced_lat: list[float] = []
    traced_ops: list[dict] = []
    clips = 0
    attempted = failed = 0
    kernels = time_kernels(wl.cfg, ctx.rng) if tracer else {}
    sc = spark.sparkContext

    def attempt() -> tuple[dict | None, float]:
        nonlocal attempted, failed
        attempted += 1
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        if rss:
            rss.active.set()
        try:
            r, lat = run_op(wl)
        except Exception:
            traceback.print_exc()
            failed += 1
            return None, 0.0
        finally:
            if rss:
                rss.active.clear()
            timer.cancel()
        problems = wl.check(r)
        if lat > OP_TIMEOUT_S:
            problems.append(f"op took {lat:.1f} s, over the {OP_TIMEOUT_S} s limit")
        if problems:
            print(f"op {attempted} failed its output check: {problems[:8]}", file=sys.stderr)
            failed += 1
        return r, lat

    def traced_op() -> None:
        tracer.op = attempted + 1
        undo = install_wrappers(tracer)
        try:
            r, lat = attempt()
        finally:
            for u in undo:
                u()
        if r is not None:
            latencies.append(lat)
            files, size = _sink_footprint(r["out"], r["pending"])
            traced_ops.append({"op": tracer.op, "pending": r["pending"], "clips": r["clips"],
                               "sink_files": files, "sink_bytes": size})
            wl.release(r)
        tracer.op = None

    # a fixed number of ops per run, not a time box: a faster engine does
    # the same work in less time. A traced run makes an untraced op, the
    # traced op, and an untraced op it is compared with. The first timed op
    # of a run is slower than the rest (1-3 s on clip_pass), so it only
    # warms up; later ops still get a little faster, so traced minus the
    # last untraced op bounds the tracing overhead from above.
    schedule = (False, True, False) if tracer else \
        (False,) * max(1, round(args.seconds / wl.nominal_op_s))
    # memory is a per-layer metric: sampling it in untraced runs would only
    # add its cost to the timed ops
    with procs.RssSampler(sid) if tracer else nullcontext() as rss:
        t_loop = time.perf_counter()
        for traced in schedule:
            if attempted and time.perf_counter() - t_start >= LAST_OP_START_S:
                break
            if args.fault == "kill-jvm" and attempted == 0:
                for pid in procs.session_pids(sid):
                    if "java" in " ".join(procs.describe([pid])):
                        os.kill(pid, 9)
            if traced:
                traced_op()
                continue
            r, lat = attempt()
            if r is not None:
                (untraced_lat if tracer else latencies).append(lat)
                clips += r["clips"]
                wl.release(r)
        peak_rss = rss.peak_bytes if rss else 0
    phases["ops_s"] = time.perf_counter() - t_loop
    # the replay runs after the last op, so it cannot slow an op it precedes
    for rec in traced_ops:
        tracer.op = rec["op"]
        replay(ctx, wl.vcfg, wl.table, wl.tref, rec["pending"])
        tracer.op = None

    t_final = time.perf_counter()
    final = wl.final_check() if attempted > failed else []
    phases["final_s"] = time.perf_counter() - t_final
    if final:
        print(f"final check failed: {final}", file=sys.stderr)
        failed = max(failed, 1)

    info = {"ops": attempted, "table_rows": wl.cfg.n_rows,
            "phases": {k: round(v, 2) for k, v in phases.items()},
            "setup_steps": {k: [round(x, 2) for x in v] for k, v in ctx.setup_spans.items()},
            **ctx.info}
    info["op_latencies_s"] = [round(x, 3) for x in latencies]
    if tracer is None:
        value, pct, n = tail(latencies) if latencies else (0.0, 100.0, 0)
        info["op_tail"] = f"p{pct:g} of {n} ops"
        wall_s = sum(latencies)
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "clips_per_s": clips / wall_s if latencies else 0.0,
            "op_p50_s": statistics.median(latencies) if latencies else 0.0,
            "op_tail_s": value,
            "ops_ok": (attempted - failed) / attempted,
        }
        metrics = {name: (values[name], unit) for name, unit in END_TO_END.items()}
    else:
        values = per_layer(tracer, traced_ops, wl.vcfg, kernels, ctx.cores, ctx.setup_spans) \
            if traced_ops else {}
        values["session.peak_rss_mb"] = peak_rss / 2**20
        info["untraced_op_latencies_s"] = [round(x, 3) for x in untraced_lat]
        if latencies and len(untraced_lat) == 2:
            base = untraced_lat[-1]
            values["trace.overhead_s"] = latencies[0] - base
            values["trace.overhead_frac"] = values["trace.overhead_s"] / base
        # a layer the workload never calls reads 0
        metrics = {name: (values.get(name, 0.0), unit) for name, unit in PER_LAYER.items()}
        if args.trace_out:
            tracer.dump(args.trace_out)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "info": info,
    }


if __name__ == "__main__":
    sys.exit(main())
