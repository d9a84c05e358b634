"""The benchmark's three closed-loop workloads.

One client runs one op at a time against one local Spark session with a
fixed thread count, so a slower engine simply completes fewer ops per
second. Every run has the same shape:

1. set-up (timed as ``setup_s``): import the package, start the session
   through ``session.get_spark``, stage inputs, check results against
   the oracle fingerprints, and warm up until per-pass time stops
   improving;
2. a fixed number of timed passes. The number of passes is set by
   ``--seconds`` alone, never by how fast the passes run, and every pass
   holds the same ops, so per-type op counts are identical in every run;
   the seed changes only op order and key ranges.

With tracing on, untraced and traced passes alternate, so the traced
run also measures what tracing costs.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from functools import reduce

import procfs
import tracer as tr
from fingerprint import fingerprint, matches

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_DATA = "/root/testdata/sf0.1"
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
THREADS = 4  # fixed Spark thread count (local[4]), at most nproc of the reference box
DRIVER_MEM = "2g"

REGISTRY_OPS = {
    "stocks_scan": [
        "filter_ge",
        "filter_and",
        "agg_stats",
        "window_moving_avg",
        "range_scan_price",
        "topk_orders",
        "groupby_q1",
    ],
    "llm_dedup": ["dedup_exact", "sim_cosine_topk", "dedup_simhash"],
}

# Warm-up stops when a pass is no longer PLATEAU_TOL faster than the best
# earlier pass, after at least two and at most WARM_MAX passes. The caps
# keep a whole run inside the benchmark's time budget; DESIGN.md records
# how far each workload is from its plateau when they bind.
PLATEAU_TOL = 0.08
WARM_MAX = {"stocks_scan": 3, "llm_dedup": 3, "txlog_ingest": 2}


# Extra JVM flags per workload. Every txlog op carries new key literals,
# which Spark inlines into freshly generated classes, so the C2 compiler
# never runs dry: in a default JVM it burned about one core through the
# whole timed region, and op latency then tracked how much idle CPU the
# host had left (two competing busy processes: +50% op_p50_s). With the
# C1 compiler only, compilation settles within the warm-up and the same
# two processes moved op_p50_s by under 1%; see DESIGN.md.
JVM_FLAGS = {"txlog_ingest": "-XX:TieredStopAtLevel=1"}


def spark_session(work_dir: str, workload: str | None = None):
    """The package's own session factory with the harness's fixed knobs:
    thread count, no console progress bars, JVM flags, and every scratch
    directory inside the run's work directory."""
    from stockify_spark.session import get_spark

    local = os.path.join(work_dir, "local")
    os.makedirs(local, exist_ok=True)
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.environ[var] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python UDF workers import stockify_spark too, so the package root
    # goes on PYTHONPATH for every process the session starts
    root = os.path.dirname(HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return get_spark(
        "perfbench",
        cpus=THREADS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # a fixed heap: growing it is a GC-timing decision that made
            # the JVM's peak RSS differ by 20% between identical runs
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Xms{DRIVER_MEM} {JVM_FLAGS.get(workload, '')}".strip(),
        },
    )


def _force(df) -> None:
    """Run the whole plan without collecting rows (as bench.py does)."""
    df.write.format("noop").mode("overwrite").save()


class Harness:
    """Runs ops, times them, and records what the traced passes see."""

    def __init__(self, spark, tracer: tr.Tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.rng = random.Random(seed)
        self.pid = os.getpid()
        self.ops: list[dict] = []
        self.setup_ops: list[dict] = []
        self.passes: list[dict] = []
        self.checks: list[dict] = []
        self.warmup: list[float] = []
        self.verify_s = 0.0
        self.pass_no: int | None = None  # None during set-up
        self._rec: dict | None = None

    # -- inside an op -------------------------------------------------
    def group(self, phase: str) -> None:
        """Tag the Spark jobs that follow with this op's ``phase``."""
        if self.tracer.active:
            gid = f"pb{self._rec['id']}-{phase}"
            self.spark.sparkContext.setJobGroup(gid, self._rec["kind"])
            self._rec["trace"]["groups"][phase] = gid

    def note_df(self, df) -> None:
        """Remember the op's DataFrame for the Catalyst phase read-out."""
        self._rec["_df"] = df

    # -- op and pass boundaries ---------------------------------------
    def op(self, kind: str, body) -> dict:
        timed = self.pass_no is not None
        traced = self.tracer.active
        rec = {"id": len(self.ops) + len(self.setup_ops), "kind": kind, "pass": self.pass_no, "traced": traced, "ok": True}
        self._rec = rec
        if traced:
            rec["trace"] = {"groups": {}}
            cpu0 = procfs.tree_cpu(self.pid)
            gc0 = tr.gc_s(self.spark)
            self.tracer.op_id = rec["id"]
        self.group("exec")
        st0 = procfs.cpu_times()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", kind=kind):
                body()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        rec["latency_s"] = time.perf_counter() - t0
        rec["steal_frac"] = procfs.steal_frac(st0, procfs.cpu_times())
        if traced:
            t = rec["trace"]
            t["cpu_s"] = procfs.tree_cpu(self.pid).minus(cpu0)
            t["gc_s"] = tr.gc_s(self.spark) - gc0
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            tr.drain(self.spark)
            t["jobs"] = {ph: tr.job_stats(self.spark, g) for ph, g in t["groups"].items()}
            df = rec.get("_df")
            if df is not None and rec["ok"]:
                t["phases"] = tr.catalyst_phases(df)
            self.tracer.op_id = None
        rec.pop("_df", None)
        (self.ops if timed else self.setup_ops).append(rec)
        return rec

    def start_timed(self) -> None:
        """Re-seed, so the timed plan does not depend on how many
        warm-up passes the plateau rule took."""
        self.rng = random.Random(f"{self.seed}/timed")

    def timed_pass(self, body, traced: bool) -> None:
        self.pass_no = len(self.passes)
        self.tracer.active = traced
        cpu0 = procfs.tree_cpu(self.pid)
        t0 = time.perf_counter()
        body()
        wall = time.perf_counter() - t0
        self.tracer.active = False
        self.passes.append(
            {"traced": traced, "wall_s": wall, "cpu_s": procfs.tree_cpu(self.pid).total - cpu0.total}
        )
        self.pass_no = None

    def warm_until_plateau(self, body, max_passes: int) -> None:
        for _ in range(max_passes):
            t0 = time.perf_counter()
            body()
            self.warmup.append(time.perf_counter() - t0)
            w = self.warmup
            if len(w) >= 2 and w[-1] > (1 - PLATEAU_TOL) * min(w[:-1]):
                return

    def check(self, what: str, compute, want: dict | None) -> None:
        """Compare ``compute()`` with ``want``; an exception is a failed check."""
        try:
            got = compute()
        except Exception as e:  # noqa: BLE001 - counted as a failure, never skipped
            got = {"error": f"{type(e).__name__}: {e}"[:500]}
        ok = want is not None and matches(got, want)
        self.checks.append({"what": what, "ok": ok, "got": got, "want": want})


class RegistryWorkload:
    """Registry queries built with ``registry.QUERIES[name]`` and forced
    with a noop write; one pass runs each op once, in seeded order."""

    def __init__(self, name: str, h: Harness, data: str):
        from stockify_spark.registry import QUERIES

        self.h, self.data, self.queries = h, data, QUERIES
        self.names = REGISTRY_OPS[name]
        self.warm_max = WARM_MAX[name]
        with open(FINGERPRINTS) as f:
            self.want = json.load(f)

    def run(self, name: str) -> None:
        h = self.h

        def body():
            with h.tracer.span("registry.build"):
                h.group("build")
                df = self.queries[name](h.spark, self.data)
            h.note_df(df)
            h.group("exec")
            with h.tracer.span("exec.force"):
                _force(df)

        h.op(name, body)

    def one_pass(self) -> None:
        for name in next(self.todo):
            self.run(name)

    def setup(self) -> None:
        # the oracle check executes every op once: it is the first
        # warm-up pass as well
        t0 = time.perf_counter()
        for name in self.names:
            self.h.check(name, lambda: fingerprint(self.queries[name](self.h.spark, self.data)), self.want.get(name))
        self.h.verify_s = time.perf_counter() - t0
        self.start(self.warm_max, random.Random(f"{self.h.seed}/warm"))
        self.h.warm_until_plateau(self.one_pass, self.warm_max)

    def start(self, passes: int, rng: random.Random | None = None) -> None:
        self.todo = iter(registry_plan(self.names, rng or self.h.rng, passes))

    def finish(self) -> dict:
        return {}


def registry_plan(names: list[str], rng: random.Random, passes: int) -> list[list[str]]:
    """Every pass runs each op once; only the order is seeded."""
    return [rng.sample(names, len(names)) for _ in range(passes)]


def txlog_plan(blocks: list[tuple], rng: random.Random, passes: int) -> dict:
    """The txlog op sequence, as data: which block each append writes,
    which key range each probe reads, which block each merge updates
    and inserts, and where checkpoints fall. Depends only on ``blocks``
    (a seeded permutation of the key space), ``rng`` and ``passes``."""
    fresh = iter(blocks)
    live = [next(fresh) for _ in range(TxlogIngest.BASE_BLOCKS)]
    base = list(live)
    updated: list[tuple] = []
    commits = 1  # the create that stages the base
    steps: list[list[tuple]] = []

    def commit(step: list, op: tuple) -> None:
        nonlocal commits
        step.append(op)
        commits += 1
        if commits % TxlogIngest.CHECKPOINT_EVERY == 0:
            step.append(("checkpoint_log",))

    for _ in range(passes):
        step: list[tuple] = []
        for _ in range(TxlogIngest.MERGE_EVERY):
            block = next(fresh)
            commit(step, ("append", block))
            live.append(block)
            for _ in range(TxlogIngest.PROBES_PER_APPEND):
                lo, hi = rng.choice(live)
                width = (hi - lo) * TxlogIngest.PROBE_KEYS // TxlogIngest.BLOCK
                start = rng.randint(lo, hi - width)
                step.append(("snapshot_pruned", (start, start + width)))
        target = rng.choice([b for b in live if b not in updated])
        insert = next(fresh)
        commit(step, ("merge_upsert", target, insert))
        updated.append(target)
        live.append(insert)
        steps.append(step)
    return {"base": base, "passes": steps, "live": live, "updated": updated}


def key_blocks(keys: list[int], rng: random.Random) -> list[tuple]:
    """Split sorted unique keys into ``BLOCK``-row ranges, in seeded order."""
    b = TxlogIngest.BLOCK
    blocks = [(keys[i], keys[i + b - 1]) for i in range(0, len(keys) - b + 1, b)]
    rng.shuffle(blocks)
    return blocks


class TxlogIngest:
    """The write path, through the public ``sources.txlog`` API.

    Set-up stages a base table of ``BASE_BLOCKS`` seeded key blocks of
    ``orders``. One pass is ``MERGE_EVERY`` cycles of (append one fresh
    block, probe ``PROBES_PER_APPEND`` seeded key ranges with
    ``snapshot_pruned``) followed by
    one ``merge_upsert`` that updates a live block and inserts a fresh
    one; ``checkpoint_log`` runs after every ``CHECKPOINT_EVERY``-th
    commit. A warm-up table takes the same ops until they plateau, so
    the measured table's log always grows by the same commits.
    """

    BLOCK = 1000  # rows per append batch
    BASE_BLOCKS = 20
    MERGE_EVERY = 4
    CHECKPOINT_EVERY = 8
    PROBE_KEYS = 250
    # probes are the fastest op after checkpoints and outnumber every
    # other op together, so the run's median is a probe latency and not
    # the boundary between the probe and the (slower) append band
    PROBES_PER_APPEND = 3
    warm_max = WARM_MAX["txlog_ingest"]

    def __init__(self, h: Harness, data: str, work: str):
        from pyspark.sql import functions as F

        from stockify_spark.sources import io, txlog

        self.h, self.F, self.txlog, self.work = h, F, txlog, work
        self.orders = io.load_table(h.spark, data, "orders")
        keys = sorted(self.orders.select("o_orderkey").toPandas()["o_orderkey"].tolist())
        self.blocks = key_blocks(keys, h.rng)

    def _rows(self, block):
        return self.orders.filter(self.F.col("o_orderkey").between(*block))

    def _traced(self, name, fn, *args):
        with self.h.tracer.span(f"sources.txlog.{name}"):
            return fn(*args)

    def _stage(self, name: str, rng: random.Random, passes: int) -> None:
        self.path = os.path.join(self.work, name)
        self.plan = txlog_plan(self.blocks, rng, passes)
        self.todo = iter(self.plan["passes"])
        base = reduce(lambda a, b: a.unionByName(b), (self._rows(b) for b in self.plan["base"]))
        self.txlog.create(base, self.path)

    def one_pass(self) -> None:
        for step in next(self.todo):
            getattr(self, "_" + step[0])(*step[1:])

    def _append(self, block) -> None:
        self.h.op("append", lambda: self._traced("append", self.txlog.append, self._rows(block), self.path))

    def _merge_upsert(self, target, insert) -> None:
        F = self.F
        src = self._rows(target).withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        src = src.unionByName(self._rows(insert))
        self.h.op(
            "merge_upsert",
            lambda: self._traced(
                "merge_upsert", self.txlog.merge_upsert, self.h.spark, self.path, src, ["o_orderkey"]
            ),
        )

    def _checkpoint_log(self) -> None:
        self.h.op("checkpoint_log", lambda: self._traced("checkpoint_log", self.txlog.checkpoint_log, self.path))

    def _snapshot_pruned(self, key_range) -> None:
        h = self.h
        probed = []

        def body():
            df = self._traced(
                "snapshot_pruned", self.txlog.snapshot_pruned, h.spark, self.path, "o_orderkey", *key_range
            )
            probed.append(df)
            h.note_df(df)
            with h.tracer.span("exec.force"):
                _force(df)

        rec = h.op("snapshot_pruned", body)
        if "trace" in rec and probed:
            # read after the op's latency is taken
            opened = len(probed[0].inputFiles())
            rec["trace"]["files_opened_frac"] = opened / len(self.txlog.live_files(self.path))

    def setup(self) -> None:
        self._stage("txlog_warm", random.Random(f"{self.h.seed}/warm"), self.warm_max)
        self.h.warm_until_plateau(self.one_pass, self.warm_max)

    def start(self, passes: int) -> None:
        """Stage the measured table; it is part of set-up."""
        self._stage("txlog", self.h.rng, passes)

    def finish(self) -> dict:
        """Check the final snapshot against the rows the run staged."""
        F = self.F

        def any_of(blocks):
            return reduce(lambda a, b: a | b, (F.col("o_orderkey").between(*b) for b in blocks))

        expected = self.orders.filter(any_of(self.plan["live"])).withColumn(
            "o_totalprice",
            F.when(any_of(self.plan["updated"]), F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")),
        )
        self.h.check(
            "txlog final snapshot",
            lambda: fingerprint(self.txlog.snapshot(self.h.spark, self.path)),
            fingerprint(expected),
        )
        files = self.txlog.live_files(self.path)
        return {"table_bytes": sum(os.path.getsize(f) for f in files), "live_files": len(files)}


# Nominal seconds per pass on 4 vCPUs: turns --seconds into a fixed pass
# count. Chosen once; the count never depends on measured speed.
NOMINAL_PASS_S = {"stocks_scan": 2.5, "llm_dedup": 2.2, "txlog_ingest": 4.7}
WORKLOADS = tuple(NOMINAL_PASS_S)


def make(name: str, h: Harness, data: str, work: str):
    if name == "txlog_ingest":
        return TxlogIngest(h, data, work)
    return RegistryWorkload(name, h, data)


def passes_for(name: str, seconds: float) -> int:
    return max(2, round(seconds / NOMINAL_PASS_S[name]))
