"""Minimal ACID table format: parquet data files + JSON commit log.

The lakehouse primitive the engine needs at 100 TB: concurrent
appends, copy-on-write deletes, compaction, and time travel — all
WITHOUT rewriting or even listing the whole table. The design is the
public Delta-/Iceberg-style log-structured scheme (add/remove file
actions, monotonically-versioned commits, optimistic concurrency via
atomic create-exclusive on the next version's file); implementation
is from scratch on stdlib + Spark.

Layout:
    <table>/data/<uuid>.parquet         immutable data files
    <table>/_txlog/<%016d>.json         one JSON commit per version

A commit is ``{"version": N, "actions": [{"add": {"path": p}} |
{"remove": {"path": p}}]}``; paths are stored RELATIVE to the table
root (like Delta), so a table directory can be renamed or relocated
wholesale without invalidating its log. The live file set at
version V is adds minus removes over commits 0..V; a snapshot read
is ``spark.read.parquet(*live_files)`` — file-level pruning for
free, no directory listing of data/.

Scale notes: the log is O(#commits) tiny JSON files read on the
DRIVER (Delta does the same; checkpointing the log is the known
extension once commits number in the millions). Data operations are
full Spark jobs; per-FILE driver loops (delete's copy-on-write file
rewrite selection) iterate over the file LIST, never rows.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _log_dir(path: str) -> str:
    return os.path.join(path, "_txlog")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _commit_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:016d}.json")


def _checkpoint_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"checkpoint.{version:016d}.json")


def _latest_checkpoint(path: str, version: int | None = None) -> dict | None:
    """Newest checkpoint at or below ``version`` (if any)."""
    best = None
    try:
        names = os.listdir(_log_dir(path))
    except FileNotFoundError:
        return None
    for name in names:
        # exact shape only — never parse tmp/partial names
        if not (name.startswith("checkpoint.") and name.endswith(".json")):
            continue
        v = int(name.split(".")[1])
        if version is not None and v > version:
            continue
        if best is None or v > best[0]:
            best = (v, name)
    if best is None:
        return None
    with open(os.path.join(_log_dir(path), best[1])) as f:
        return json.load(f)


def _read_log(path: str, version: int | None = None) -> list[dict]:
    """Commits up to ``version`` (inclusive), in order — starting from
    the newest checkpoint at or below it, so replay cost is
    O(commits since checkpoint), not O(table lifetime). The
    checkpoint is returned as a synthetic first commit whose actions
    are the checkpointed live-adds set."""
    commits = []
    ckpt = _latest_checkpoint(path, version)
    v = 0
    if ckpt is not None:
        commits.append(
            {"version": ckpt["version"], "actions": ckpt["actions"]}
        )
        v = ckpt["version"] + 1
    while True:
        p = _commit_path(path, v)
        if not os.path.exists(p) or (version is not None and v > version):
            break
        with open(p) as f:
            commits.append(json.load(f))
        v += 1
    if not commits:
        # no checkpoint at/below `version` and no commit 0: either no
        # table (callers' documented FileNotFoundError path) or the
        # requested version's replay base was removed by expire_log
        try:
            e = earliest_version(path)
        except FileNotFoundError:
            return commits
        raise VersionExpired(
            f"version {version} at {path} predates the log retention "
            f"horizon (earliest readable version: {e})"
        )
    return commits


def checkpoint_log(path: str) -> int:
    """Write a log checkpoint at the current version: the full
    live-adds set (with stats) in one file. Subsequent reads replay
    from here; all commit files are left in place so time travel to
    pre-checkpoint versions still works (those reads ignore the
    checkpoint because it is above their version). Trimming the
    pre-checkpoint prefix is a separate, explicit act —
    :func:`expire_log` — so checkpointing alone never shrinks the
    time-travel window."""
    commits = _read_log(path)
    version = commits[-1]["version"]
    adds = _live_adds(path)
    # non-file metadata (CHECK constraints) must survive the collapse:
    # a reader replaying from this checkpoint would otherwise lose
    # enforcement registered before it
    cons = [
        {"constraint": c}
        for commit in commits
        for a in commit["actions"]
        if "constraint" in a
        for c in [a["constraint"]]
    ]
    # deletion vectors are metadata too: dropping add_dv actions at
    # the collapse would silently UNDELETE every MOR-deleted row for
    # readers replaying from the checkpoint. The LIVE set (add_dv
    # minus remove_dv) is carried, so a restore-retired sidecar does
    # not resurrect through the collapse either.
    dvs = [{"add_dv": a} for a in _live_dv_adds(path)]
    # column renames/drops are metadata too: dropping them at the
    # collapse would silently revert every logical name to its
    # physical one (and resurrect dropped columns) for readers
    # replaying from the checkpoint. Order is preserved — the fold
    # is order-sensitive across both action kinds.
    rens = list(_renames(path))
    # bloom indexes are metadata too: dropping ``index`` actions at
    # the collapse silently degrades snapshot_point from skip-by-
    # filter to open-every-file (results stay correct, skipping is
    # lost). Latest entry per (file, column) wins, mirroring
    # _bloom_indexes' replay rule.
    blooms: dict[tuple, dict] = {}
    for commit in commits:
        for a in commit["actions"]:
            if "index" in a:
                idx = a["index"]
                blooms[(idx["path"], idx["column"])] = idx
    live_paths = {a["path"] for a in adds}
    idxs = [
        {"index": idx}
        for (p, _), idx in sorted(blooms.items())
        if p in live_paths  # an index on a removed file is dead metadata
    ]
    # idempotency markers are metadata too: dropping txn actions at
    # the collapse would let a replayed streaming batch (append_
    # idempotent) re-apply and duplicate rows. Latest version per app
    # suffices — replays are monotone.
    txns: dict[str, int] = {}
    for commit in commits:
        for a in commit["actions"]:
            t = a.get("txn")
            if t:
                txns[t["app"]] = max(txns.get(t["app"], t["version"]), t["version"])
    txn_actions = [
        {"txn": {"app": app, "version": v}} for app, v in sorted(txns.items())
    ]
    # multi-table manifest markers are idempotency metadata too:
    # recover_multi probes the log for them, and a collapse that
    # dropped one would let recovery RE-APPLY a completed transaction
    mtxns = sorted(
        {a["mtxn"] for commit in commits for a in commit["actions"] if "mtxn" in a}
    )
    txn_actions += [{"mtxn": m} for m in mtxns]
    # the partition spec is metadata too: a reader replaying from the
    # checkpoint must still know to reconstitute partition columns
    partmeta = _partitioning(path)
    part_actions = [{"partitioning": partmeta}] if partmeta else []
    ck = {
        "version": version,
        "actions": part_actions
        + cons
        + dvs
        + rens
        + idxs
        + txn_actions
        + [{"add": a} for a in adds],
    }
    # tmp name must NOT match the reader's checkpoint pattern: a
    # concurrent _latest_checkpoint listing the log dir mid-write
    # would otherwise json.load a half-written file (the same
    # partial-file race link-publication closes for commit files)
    tmp = os.path.join(
        _log_dir(path), f"_ckpt_tmp_{uuid.uuid4().hex}"
    )
    with open(tmp, "w") as f:
        json.dump(ck, f)
    os.rename(tmp, _checkpoint_path(path, version))
    return version


def current_version(path: str) -> int:
    commits = _read_log(path)
    if not commits:
        raise FileNotFoundError(f"no txlog table at {path}")
    return commits[-1]["version"]


class VersionExpired(LookupError):
    """A read (time travel, history, timestamp resolution) addressed
    a version whose commit files were removed by :func:`expire_log`.
    The message names the earliest readable version — the retention
    horizon's replay base."""


def earliest_version(path: str) -> int:
    """Oldest version with a surviving commit file — the earliest
    readable version. 0 until :func:`expire_log` removes a prefix;
    afterwards the retained replay-base checkpoint's version. One
    log-dir listing, no file reads."""
    try:
        names = os.listdir(_log_dir(path))
    except FileNotFoundError:
        raise FileNotFoundError(f"no txlog table at {path}")
    vs = [int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()]
    if not vs:
        raise FileNotFoundError(f"no txlog table at {path}")
    return min(vs)


def _load_commit(path: str, version: int) -> dict:
    """Read one commit file, distinguishing the three absence cases:
    expired below the retention horizon (VersionExpired), never
    committed (FileNotFoundError), no table at all."""
    p = _commit_path(path, version)
    if not os.path.exists(p):
        e = earliest_version(path)  # raises FileNotFoundError: no table
        if version < e:
            raise VersionExpired(
                f"version {version} at {path} was removed by log "
                f"retention (earliest readable version: {e})"
            )
        raise FileNotFoundError(f"no committed version {version} at {path}")
    with open(p) as f:
        return json.load(f)


def expire_log(
    path: str,
    keep_versions: int | None = None,
    max_age_ms: int | None = None,
    now_ms: int | None = None,
) -> list[str]:
    """Log retention (Delta's ``logRetentionDuration``): physically
    delete commit files — and superseded checkpoints — below the
    newest checkpoint at or below the retention horizon. That
    checkpoint stays as the replay base, so every version from it to
    head remains fully readable (time travel, CDF, timestamp
    resolution included); versions below it raise
    :class:`VersionExpired` afterwards. Without a checkpoint at or
    below the horizon NOTHING is deleted (the checkpoint contract is
    never broken — run :func:`checkpoint_log` first, or let
    :func:`maintain` order the two).

    The horizon comes from either or both bounds (most-retentive
    wins when both are given):

    - ``keep_versions``: the last N versions stay readable.
    - ``max_age_ms``: every version readable at any timestamp within
      the age window stays — the horizon is the version a TIMESTAMP
      AS OF read at ``now - max_age_ms`` resolves to (Delta's
      semantics: the resolved version itself must survive, or the
      oldest in-window read would break). Legacy ts-less prefixes
      count as infinitely old. ``now_ms`` is a test seam.

    Rationale at scale: a 10⁶-commit streaming table otherwise
    accumulates 10⁶ JSON files forever, and every un-paged
    :func:`history` call walks all of them driver-side. Retention
    bounds the log dir at O(window); DATA files are untouched
    (that is :func:`vacuum`'s job — the two horizons compose but are
    independent, exactly as in Delta).

    Returns the log-dir file names deleted, sorted."""
    if keep_versions is None and max_age_ms is None:
        raise ValueError("pass keep_versions and/or max_age_ms")
    head = current_version(path)
    horizons = []
    if keep_versions is not None:
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        horizons.append(head - keep_versions + 1)
    if max_age_ms is not None:
        if max_age_ms < 0:
            raise ValueError("max_age_ms must be >= 0")
        cutoff = (_now_ms() if now_ms is None else now_ms) - max_age_ms
        try:
            horizons.append(version_at_timestamp(path, cutoff))
        except FileNotFoundError:
            return []  # the whole log is inside the age window
        except VersionExpired:
            return []  # everything below the cutoff is already gone
    horizon = min(horizons)
    if horizon <= 0:
        return []
    ck = _latest_checkpoint(path, horizon)
    if ck is None:
        return []  # no replay base at/below the horizon: expire nothing
    base = ck["version"]
    removed = []
    for name in sorted(os.listdir(_log_dir(path))):
        if name.endswith(".json") and name[:-5].isdigit():
            if int(name[:-5]) >= base:
                continue
        elif name.startswith("checkpoint.") and name.endswith(".json"):
            # a checkpoint below the base can no longer anchor a full
            # replay of any retained version — dead metadata
            if int(name.split(".")[1]) >= base:
                continue
        else:
            continue  # tmp debris is vacuum_orphans' job
        os.remove(os.path.join(_log_dir(path), name))
        removed.append(name)
    return sorted(removed)


def maintain(spark: SparkSession, path: str, policy: dict) -> list[dict]:
    """Threshold-driven table maintenance — the operational loop that
    turns the manual primitives (:func:`checkpoint_log`,
    :func:`compact_small`, :func:`expire_log`,
    :func:`vacuum_orphans`, :func:`stockify_spark.llm.pca.
    compact_gram`) into a policy a scheduler can run after every
    ingest cycle, the way Delta's auto-compaction / log cleanup do.
    Each action runs only if its policy key is present AND its metric
    crosses the threshold, so a converged table is a no-op: calling
    ``maintain`` twice in a row performs no state change on the
    second call (every decision reports ``triggered=False``).

    Policy keys (all optional):

    - ``checkpoint_commits``: N — write a log checkpoint when commits
      since the newest checkpoint exceed N (metric: that count;
      head+1 when no checkpoint exists).
    - ``small_file_bytes``: B (+ ``small_file_fraction``: f, default
      0.5; ``compact_target_partitions``, default 1) — selective
      small-file compaction when the fraction of live files under B
      bytes exceeds f, at least two fragments exist, and no deletion
      vectors are active (MOR sidecars block rewrites — materialize
      first; the decision then reports triggered=False rather than
      raising, so the rest of the policy still runs). With
      ``compact_sort_by`` (a column) or ``compact_zorder_by`` (2-4
      columns), the SAME trigger runs the clustered full rewrite
      instead — Delta's OPTIMIZE [ZORDER BY] semantics: ingest
      fragmentation destroys the data-skipping layout, so the repair
      restores clustering, not just file sizes. The rewrite is
      O(live set) where bin-packing is O(fragments) — at 100 TB
      scope the table (or run this policy per partition of a
      partitioned layout); the decision row is ``compact_cluster``.
    - ``gram_partial_rows``: B — fold the incremental-PCA stats table
      to one row when its partial-row count exceeds B (the table must
      have the gram schema; see llm/pca.compact_gram).
    - ``log_keep_versions``: K — expire commit files below the
      retention horizon (metric: commit files removed; a no-op until
      a checkpoint at/below the horizon exists, which the checkpoint
      step above supplies over successive calls).
    - ``log_max_age_ms``: A — the age form of the same expiry
      (Delta's logRetentionDuration proper), its own decision row
      ``expire_log_age``; both forms may be active at once.
    - ``vacuum_keep_last``: N — physically reclaim data files no
      retained version references (:func:`vacuum`; metric: files
      deleted). Runs AFTER compaction, so fragments a rewrite
      retired become reclaimable as soon as they leave the N-version
      window (immediately, at N=1).
    - ``orphan_age_seconds``: A — sweep never-referenced data/dv/log
      debris older than A seconds (metric: files removed).

    Actions run in that fixed order — checkpoint BEFORE retention, so
    the expiry's replay base exists; compaction before retention, so
    its remove-actions land above the base and stay replayable.

    Returns the decision table, one dict per policy key:
    ``{"action", "metric", "threshold", "triggered", "result"}`` —
    ``result`` is the commit version an action produced (-1 when not
    triggered) for checkpoint/compact actions, and the count of files
    removed for expire/vacuum. Cost: driver-side log reads plus only
    the Spark jobs of the actions actually triggered."""
    known = {
        "checkpoint_commits",
        "small_file_bytes",
        "small_file_fraction",
        "compact_target_partitions",
        "compact_sort_by",
        "compact_zorder_by",
        "gram_partial_rows",
        "log_keep_versions",
        "log_max_age_ms",
        "vacuum_keep_last",
        "orphan_age_seconds",
    }
    if "compact_sort_by" in policy and "compact_zorder_by" in policy:
        raise ValueError("compact_sort_by and compact_zorder_by are mutually exclusive")
    unknown = set(policy) - known
    if unknown:
        raise ValueError(f"unknown maintain policy keys: {sorted(unknown)}")
    decisions: list[dict] = []

    def record(action: str, metric, threshold, triggered: bool, result) -> None:
        decisions.append(
            {
                "action": action,
                "metric": float(metric),
                "threshold": float(threshold),
                "triggered": bool(triggered),
                "result": int(result),
            }
        )

    if "checkpoint_commits" in policy:
        n = int(policy["checkpoint_commits"])
        head = current_version(path)
        ck = _latest_checkpoint(path)
        since = head - ck["version"] if ck is not None else head + 1
        trig = since > n
        record("checkpoint", since, n, trig, checkpoint_log(path) if trig else -1)

    if "small_file_bytes" in policy:
        b = int(policy["small_file_bytes"])
        f_thr = float(policy.get("small_file_fraction", 0.5))
        rels = _live_rel(path)
        small = [r for r in rels if os.path.getsize(_abs(path, r)) < b]
        frac = len(small) / len(rels) if rels else 0.0
        tp = int(policy.get("compact_target_partitions", 1))
        clustered = "compact_sort_by" in policy or "compact_zorder_by" in policy
        trig = frac > f_thr and len(small) >= 2 and not _has_active_dvs(path)
        if clustered:
            # convergence gate for the full rewrite: once the table is
            # at (or under) the target layout width, re-clustering the
            # same file set is a no-gain rewrite — the policy must be
            # a fixpoint at any scale, incl. toy tables whose
            # compacted files never outgrow small_file_bytes
            trig = trig and len(rels) > tp
        part = _partitioning(path)
        if part is not None and "compact_zorder_by" in policy:
            raise NotImplementedError(
                "z-ordered compaction on partitioned tables is not supported"
            )
        if part is not None:
            # a partitioned table converges when no PARTITION is wider
            # than the target — the table-wide width gate would loop
            trig = trig and any(
                len(v) > tp
                for v in _group_adds_by_partition(_live_adds(path)).values()
            )
        res = -1
        if trig:
            if part is not None:
                # partitioned tables compact PER PARTITION (the unit
                # compact_partition defines); only fragmented
                # partitions are rewritten, so the cost tracks the
                # fragmentation exactly as in the flat case
                for key, adds in sorted(
                    _group_adds_by_partition(_live_adds(path)).items(),
                    key=lambda kv: [(c, v is None, v or "") for c, v in kv[0]],
                ):
                    if len(adds) > tp:
                        res = compact_partition(
                            spark,
                            path,
                            dict(key),
                            target_partitions=tp,
                            sort_by=policy.get("compact_sort_by"),
                        )
            else:
                res = (
                    compact(
                        spark,
                        path,
                        target_partitions=tp,
                        sort_by=policy.get("compact_sort_by"),
                        zorder_by=policy.get("compact_zorder_by"),
                    )
                    if clustered
                    else compact_small(spark, path, min_bytes=b, target_partitions=tp)
                )
        record("compact_cluster" if clustered else "compact_small", frac, f_thr, trig, res)

    if "gram_partial_rows" in policy:
        b = int(policy["gram_partial_rows"])
        # lazy import: llm.pca imports this module
        from stockify_spark.llm.pca import compact_gram

        rows = snapshot(spark, path).count()
        trig = rows > b
        record(
            "compact_gram", rows, b, trig, compact_gram(spark, path) if trig else -1
        )

    if "log_keep_versions" in policy:
        k = int(policy["log_keep_versions"])
        removed = expire_log(path, k)
        n_commits = sum(1 for name in removed if name[:-5].isdigit())
        record("expire_log", n_commits, k, bool(removed), len(removed))

    if "log_max_age_ms" in policy:
        age = int(policy["log_max_age_ms"])
        removed = expire_log(path, max_age_ms=age)
        n_commits = sum(1 for name in removed if name[:-5].isdigit())
        record("expire_log_age", n_commits, age, bool(removed), len(removed))

    if "vacuum_keep_last" in policy:
        n = int(policy["vacuum_keep_last"])
        deleted = vacuum(path, keep_last=n)
        record("vacuum", len(deleted), n, bool(deleted), len(deleted))

    if "orphan_age_seconds" in policy:
        a = float(policy["orphan_age_seconds"])
        deleted = vacuum_orphans(path, min_age_seconds=a)
        record("vacuum_orphans", len(deleted), a, bool(deleted), len(deleted))

    return decisions


def maintained_sink(sink, spark: SparkSession, path: str, policy: dict, every: int = 10):
    """Wrap a ``foreachBatch`` sink so :func:`maintain` runs after
    every ``every``-th batch — the shape that keeps a streaming
    destination healthy WITHOUT an external scheduler: the same
    process that fragments the table (one small commit per
    micro-batch) amortizes its repair. The cadence keys on
    ``batch_id`` (deterministic under replay), and maintain itself is
    an idempotent fixpoint, so a replayed maintenance batch re-runs a
    converged policy and changes nothing — exactly-once data, at-
    least-once maintenance, which is safe BECAUSE maintenance is
    idempotent. Threshold gating means off-cadence fragmentation just
    waits for the next cadence point; thresholds, not the cadence,
    decide the work."""
    if every < 1:
        raise ValueError("every must be >= 1")

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df, batch_id)
        if (batch_id + 1) % every == 0:
            maintain(spark, path, policy)

    return wrapped


def _abs(path: str, p: str) -> str:
    """Resolve a logged (relative) file path against the table root.
    Absolute paths (pre-relative-log tables) pass through; the
    normpath collapses the ``../`` segments a shallow clone's
    foreign references carry."""
    return p if os.path.isabs(p) else os.path.normpath(os.path.join(path, p))


def _live_rel(path: str, version: int | None = None) -> list[str]:
    """Live file set as CANONICAL (log-form, table-relative) paths —
    the form remove actions must use to match their adds."""
    files: list[str] = []
    for c in _read_log(path, version):
        for a in c["actions"]:
            if "add" in a:
                files.append(a["add"]["path"])
            elif "remove" in a:
                files.remove(a["remove"]["path"])
    return files


def live_files(path: str, version: int | None = None) -> list[str]:
    return [_abs(path, p) for p in _live_rel(path, version)]


def _file_stats(fpath: str) -> dict:
    """Per-file column min/max from the parquet footer (one local
    metadata read at WRITE time — readers then prune from the log
    alone, no footer fetches; at 100 TB on object storage that is
    the difference between one log read and a GET per file)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(fpath)
    schema = md.schema.to_arrow_schema()
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if "." in name:  # nested columns: skip stats
                continue
            import datetime

            mn, mx = st.min, st.max
            if isinstance(mn, (bytes, datetime.date, datetime.datetime)):
                continue  # keep the log JSON-serializable and simple
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    return {"min": mins, "max": maxs, "rows": md.num_rows}


def _write_data_files(df: DataFrame, path: str) -> list[dict]:
    """Write df's partitions as immutable files; return add actions
    carrying per-file column stats for log-level data skipping."""
    staging = os.path.join(_data_dir(path), f"_staging_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    adds = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        rel = os.path.join("data", f"{uuid.uuid4().hex}.parquet")
        final = os.path.join(path, rel)
        os.rename(os.path.join(staging, name), final)
        # byte size in the log: stream admission (max_bytes_per_
        # trigger) and maintenance planning read it from the commit
        # alone — no per-file stat/GET at plan time (same rationale
        # as the min/max stats; Delta's add.size field)
        adds.append(
            {
                "add": {
                    "path": rel,
                    "size": os.path.getsize(final),
                    "stats": _file_stats(final),
                }
            }
        )
    # best-effort staging cleanup (only non-data markers remain)
    for name in os.listdir(staging):
        os.remove(os.path.join(staging, name))
    os.rmdir(staging)
    return adds


def _now_ms() -> int:
    """Wall clock in epoch millis — a seam so tests can simulate a
    backwards-stepping clock without patching the time module."""
    return int(time.time() * 1000)


def _try_commit(path: str, version: int, actions: list[dict]) -> bool:
    """Atomically publish the version file — the optimistic
    concurrency point: two writers racing to version N, one wins,
    the loser re-reads the log and retries at N+1.

    Publication is write-tmp + ``os.link`` (hard-link refuses to
    overwrite, atomically), so the winner is decided in the same
    instant the FULL body becomes visible. The previous shape
    (O_EXCL create, then write the body into the open fd) left a
    window where a concurrent loser's log re-read — or a concurrent
    reader — could observe an empty/partial commit file and die on
    JSONDecodeError; with link-publication a commit file either does
    not exist or is complete. (Delta's rename-without-overwrite
    contract, expressed with link because POSIX rename overwrites.)
    """
    # in-commit timestamp (Delta's In-Commit Timestamps shape):
    # strictly monotone across versions even when the wall clock
    # steps backwards, so timestamp time travel is well-defined.
    # version-1 is already durable when we attempt version (the
    # caller just replayed it), so reading it here is race-free.
    prev_ts = 0
    if version > 0:
        try:
            with open(_commit_path(path, version - 1)) as pf:
                prev_ts = json.load(pf).get("ts", 0)
        except FileNotFoundError:
            prev_ts = 0
    ts = max(_now_ms(), prev_ts + 1)
    body = json.dumps({"version": version, "actions": actions, "ts": ts})
    final = _commit_path(path, version)
    tmp = f"{final}.{uuid.uuid4().hex}.tmp"
    # the tmp write sits INSIDE the try/finally: a failed write (disk
    # full) must not strand the partial tmp file. A hard crash between
    # link and unlink still can — vacuum_orphans sweeps aged *.tmp
    # debris from the log dir for exactly that case.
    try:
        with open(tmp, "w") as f:
            f.write(body)
        os.link(tmp, final)  # atomic publish: fails if version exists
        return True
    except FileExistsError:
        return False
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass  # open() itself failed — nothing staged


class CommitConflict(RuntimeError):
    """A concurrent commit invalidated this transaction's actions
    (e.g. it removed a file this transaction also removes). The caller
    must re-derive its actions from the new snapshot and retry — the
    version-number race alone is NOT sufficient validation."""


def _commit(path: str, actions: list[dict]) -> int:
    removes = [a["remove"]["path"] for a in actions if "remove" in a]
    while True:
        commits = _read_log(path)
        version = commits[-1]["version"] + 1 if commits else 0
        if removes:
            # Re-validate against the log we just read: after losing a
            # race, blindly retrying remove actions for files another
            # writer already removed (concurrent compaction/delete)
            # would double-remove and permanently corrupt the live set.
            live: set[str] = set()
            for c in commits:
                for a in c["actions"]:
                    if "add" in a:
                        live.add(a["add"]["path"])
                    elif "remove" in a:
                        live.discard(a["remove"]["path"])
            gone = [p for p in removes if p not in live]
            if gone:
                raise CommitConflict(
                    f"concurrent commit removed {len(gone)} file(s) this "
                    f"transaction also removes (first: {gone[0]}); "
                    "re-derive actions from the current snapshot and retry"
                )
        if _try_commit(path, version, actions):
            return version


def create(df: DataFrame, path: str) -> int:
    os.makedirs(_log_dir(path), exist_ok=True)
    os.makedirs(_data_dir(path), exist_ok=True)
    return _commit(path, _write_data_files(df, path))


def append(df: DataFrame, path: str) -> int:
    # constraints validate on the LOGICAL batch (renaming a
    # constrained column is rejected, so constraint names are always
    # identity-mapped); files are written with PHYSICAL names so
    # every file of the table shares one footer naming scheme
    _validate_constraints(df, path)
    _reject_tombstoned(df, path)
    part = _partitioning(path)
    if part is not None:
        missing = [c for c in part["cols"] if c not in df.columns]
        if missing:
            raise ValueError(f"append missing partition columns: {missing}")
        return _commit(
            path,
            _write_data_files_partitioned(
                _to_physical(df, _mapping(path)), path, part["cols"]
            ),
        )
    return _commit(path, _write_data_files(_to_physical(df, _mapping(path)), path))


class ConstraintViolation(RuntimeError):
    """A write whose rows violate a table CHECK constraint."""


def set_constraint(path: str, name: str, predicate_sql: str) -> int:
    """Register a CHECK constraint (Delta's ALTER TABLE ADD
    CONSTRAINT): a SQL predicate every FUTURE write must satisfy
    row-wise. Stored as a metadata action in the log — enforcement
    happens at write validation, existing data is not re-checked
    (the Delta semantics; run a validation query first if you need
    the history clean)."""
    return _commit(path, [{"constraint": {"name": name, "predicate": predicate_sql}}])


def _constraints(path: str, version: int | None = None) -> list[dict]:
    out = []
    for c in _read_log(path, version):
        for a in c["actions"]:
            if "constraint" in a:
                out.append(a["constraint"])
    return out


def _validate_constraints(df: DataFrame, path: str) -> None:
    """Raise ConstraintViolation if df has any row violating a
    registered constraint. One aggregate job over the WRITE batch
    (never the table) per write — the standard enforcement cost."""
    cons = _constraints(path)
    if not cons:
        return
    checks = [
        F.sum(F.when(~F.expr(c["predicate"]), 1).otherwise(0)).alias(c["name"])
        for c in cons
    ]
    row = df.agg(*checks).collect()[0]
    bad = [(c["name"], row[c["name"]]) for c in cons if row[c["name"]]]
    if bad:
        raise ConstraintViolation(
            "; ".join(f"constraint {n!r} violated by {v} row(s)" for n, v in bad)
        )


# ---------------------------------------------------------------------------
# Hive-style partition columns (Delta's partitionValues)
# ---------------------------------------------------------------------------

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _partition_marker(path: str) -> str:
    """Fast-path marker written by create_partitioned next to the
    commits. The LOG action remains the source of truth (it must
    survive checkpoint collapse and version replay); the marker is a
    pure denormalization so the guard on every raw-read face — and
    the presence probe every snapshot of an UNPARTITIONED table pays
    — is one os.path.exists, not an O(commits) log walk. (The first
    guard draft walked the log; the bench caught it immediately: the
    ingest sinks call guarded faces per batch, and the near-dup sink
    doubled its wall-clock on log re-reads alone.)"""
    return os.path.join(_log_dir(path), "_partitioning.json")


def _partitioning(path: str, version: int | None = None) -> dict | None:
    """The table's partition spec ({"cols": [...], "types": {...}}),
    or None for an unpartitioned table. Recorded once at create; the
    last action wins (there is no ALTER face, but replay order is the
    contract everywhere else in this log)."""
    if not os.path.exists(_partition_marker(path)):
        return None  # the common (unpartitioned) case: zero log IO
    part = None
    for c in _read_log(path, version):
        for a in c["actions"]:
            if "partitioning" in a:
                part = a["partitioning"]
    return part


def _require_not_partitioned(path: str, op: str) -> None:
    """Faces that read data files RAW (and would therefore silently
    drop the partition columns, which live only in the log's
    partitionValues) or rewrite files without re-deriving those
    values must refuse partitioned tables until taught about them —
    a loud NotImplementedError beats a silently narrower schema."""
    if os.path.exists(_partition_marker(path)):
        raise NotImplementedError(f"{op} does not support partitioned tables yet")


def _group_adds_by_partition(adds: list[dict]) -> dict[tuple, list[dict]]:
    """Live add actions keyed by their partitionValues tuple — the
    grouping both the partitioned read path and per-partition
    maintenance share."""
    groups: dict[tuple, list[dict]] = {}
    for a in adds:
        key = tuple(sorted(a.get("partitionValues", {}).items()))
        groups.setdefault(key, []).append(a)
    return groups


def _write_data_files_partitioned(
    df: DataFrame, path: str, cols: list[str]
) -> list[dict]:
    """Partitioned variant of _write_data_files: stage with Spark's
    hive-layout writer, then lift each leaf file out of its
    ``col=value`` directory chain into flat data/ — the values move
    INTO the add action (Delta's partitionValues), not the file path,
    so the log stays the single source of partition truth and file
    names stay uniform."""
    import shutil
    import urllib.parse

    staging = os.path.join(_data_dir(path), f"_staging_{uuid.uuid4().hex}")
    df.write.mode("overwrite").partitionBy(*cols).parquet(staging)
    adds = []
    for root, dirs, files in os.walk(staging):
        dirs.sort()
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            pvals: dict[str, str | None] = {}
            rel_dir = os.path.relpath(root, staging)
            for seg in () if rel_dir == "." else rel_dir.split(os.sep):
                k, _, v = seg.partition("=")
                pvals[k] = None if v == _HIVE_NULL else urllib.parse.unquote(v)
            rel = os.path.join("data", f"{uuid.uuid4().hex}.parquet")
            final = os.path.join(path, rel)
            os.rename(os.path.join(root, name), final)
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "size": os.path.getsize(final),
                        "stats": _file_stats(final),
                        "partitionValues": pvals,
                    }
                }
            )
    shutil.rmtree(staging, ignore_errors=True)
    return adds


def create_partitioned(df: DataFrame, path: str, partition_by: list[str]) -> int:
    """Create a table partitioned by ``partition_by`` (Delta's
    partitionValues design): partition column values are stored in
    the LOG, not in the data files, so a reader prunes partitions
    from the commit metadata alone — zero file opens for pruned
    partitions — and reconstitutes the columns as literals per file
    group at read time. Column types are recorded so the literals
    come back with the writer's dtypes."""
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns not in DataFrame: {missing}")
    os.makedirs(_log_dir(path), exist_ok=True)
    os.makedirs(_data_dir(path), exist_ok=True)
    types = {c: df.schema[c].dataType.simpleString() for c in partition_by}
    spec = {"cols": list(partition_by), "types": types}
    with open(_partition_marker(path), "w") as f:
        json.dump(spec, f)  # O(1) presence probe; the log action rules
    actions: list[dict] = [{"partitioning": spec}]
    actions += _write_data_files_partitioned(df, path, list(partition_by))
    return _commit(path, actions)


def _read_partitioned(
    spark: SparkSession, path: str, adds: list[dict], part: dict
) -> DataFrame:
    """Union-by-name read of add actions grouped by partitionValues,
    with the partition columns re-attached as typed literals — the
    Delta read path for partitioned tables. Group count = partition
    count; each group is ONE multi-file parquet scan, so the plan
    stays a union of scans, not a per-file loop."""
    groups: dict[tuple, list[str]] = {}
    for a in adds:
        key = tuple(sorted(a.get("partitionValues", {}).items()))
        groups.setdefault(key, []).append(_abs(path, a["path"]))
    pieces = []
    # nulls (hive default partition) sort last within each column
    order = lambda key: [(c, v is None, v or "") for c, v in key]  # noqa: E731
    for key, files in sorted(groups.items(), key=lambda kv: order(kv[0])):
        df = spark.read.option("mergeSchema", "true").parquet(*files)
        for col, val in key:
            typ = part.get("types", {}).get(col, "string")
            df = df.withColumn(col, F.lit(val).cast(typ))
        pieces.append(df)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _normalize_partition_equals(
    path: str, equals: dict, version: int | None = None
) -> dict:
    """Caller-supplied partition predicate -> the exact strings
    Spark's hive writer recorded in partitionValues. ``str(v)`` alone
    is wrong for booleans (directories say "true"/"false" while
    str(True) is "True" — r13 ADVICE item 3) and unreliable for
    float/decimal/timestamp/date formatting, where a formatting
    mismatch would silently return an EMPTY result instead of the
    partition. Booleans are normalized through the recorded type;
    the float/temporal types must be passed as the stored directory
    string (take one from :func:`partition_files`) — anything else
    raises loudly instead of matching nothing."""
    part = _partitioning(path, version)
    if part is None:
        raise ValueError(f"table at {path} is not partitioned")
    unknown = [k for k in equals if k not in part["cols"]]
    if unknown:
        raise ValueError(f"not partition columns: {unknown}")
    types = part.get("types", {})
    want: dict[str, str | None] = {}
    for k, v in equals.items():
        typ = types.get(k, "string")
        if v is None:
            want[k] = None
        elif typ == "boolean":
            if isinstance(v, bool):
                want[k] = "true" if v else "false"
            elif isinstance(v, str) and v.lower() in ("true", "false"):
                want[k] = v.lower()
            else:
                raise ValueError(
                    f"{v!r} is not a boolean partition value for {k!r}"
                )
        elif isinstance(v, bool):
            raise ValueError(
                f"boolean value for non-boolean partition column {k!r} "
                f"(recorded type {typ})"
            )
        elif typ in ("float", "double") or typ.startswith(
            ("decimal", "timestamp", "date")
        ):
            if not isinstance(v, str):
                raise ValueError(
                    f"pass {typ} partition values for {k!r} as the stored "
                    f"directory string (see partition_files) — "
                    f"{type(v).__name__} does not round-trip str() reliably"
                )
            want[k] = v
        else:
            want[k] = str(v)
    return want


def snapshot_partition_pruned(
    spark: SparkSession,
    path: str,
    equals: dict,
    version: int | None = None,
) -> DataFrame:
    """Snapshot restricted to the partitions whose values equal
    ``equals`` (column -> value), decided ENTIRELY from the log:
    files in other partitions are never listed, opened, or planned —
    the partition-pruning contract that makes a 100 TB table behave
    like its matching slice. Complement to snapshot_pruned's
    stats-based skipping (which still opens nothing but must keep
    stats-less files; partition pruning is exact by construction)."""
    part = _partitioning(path, version)
    if part is None:
        raise ValueError(f"table at {path} is not partitioned")
    want = _normalize_partition_equals(path, equals, version)
    adds = [
        a
        for a in _live_adds(path, version)
        if all(a.get("partitionValues", {}).get(k) == v for k, v in want.items())
    ]
    if not adds:
        return snapshot(spark, path, version).filter(F.lit(False))
    m, dropped = _fold_schema(path, version)
    return _to_logical(_read_partitioned(spark, path, adds, part), m, dropped)


def compact_partition(
    spark: SparkSession,
    path: str,
    equals: dict,
    target_partitions: int = 1,
    sort_by: str | None = None,
) -> int:
    """Partition-scoped compaction — the maintenance face partitioned
    tables need (table-wide compact_small refuses them): rewrite ONE
    partition's files as ``target_partitions`` new files carrying the
    SAME partitionValues, in one atomic commit. Files of every other
    partition are untouched and stay shared with prior snapshots, so
    the rewrite cost tracks the fragmented partition, never the
    table — the per-partition OPTIMIZE loop Delta runs after
    streaming ingest into a partitioned layout.

    ``equals`` must name every partition column: a partial key would
    merge files whose remaining partition values differ, and the
    rewrite could no longer carry well-defined partitionValues."""
    part = _partitioning(path)
    if part is None:
        raise ValueError(f"table at {path} is not partitioned")
    if set(equals) != set(part["cols"]):
        raise ValueError(
            f"compact_partition needs the FULL partition key {part['cols']}"
        )
    want = _normalize_partition_equals(path, equals)
    adds = [
        a
        for a in _live_adds(path)
        if all(a.get("partitionValues", {}).get(k) == v for k, v in want.items())
    ]
    if len(adds) <= target_partitions:
        return current_version(path)
    df = spark.read.option("mergeSchema", "true").parquet(
        *[_abs(path, a["path"]) for a in adds]
    )
    if sort_by is not None:
        if sort_by in part["cols"]:
            raise ValueError(
                f"sort_by {sort_by!r} is a partition column — it is constant "
                "within the partition; cluster on a data column"
            )
        # clustered per-partition OPTIMIZE: range-partition + local
        # sort on the data column, so the rewritten files carry tight
        # min/max boxes for snapshot_pruned-style skipping WITHIN the
        # partition (the compact(sort_by=...) contract, scoped here)
        df = df.repartitionByRange(target_partitions, sort_by).sortWithinPartitions(
            sort_by
        )
    else:
        df = df.coalesce(target_partitions)
    new_adds = _write_data_files(df, path)
    for a in new_adds:
        a["add"]["partitionValues"] = dict(want)
    actions = [{"remove": {"path": a["path"]}} for a in adds] + new_adds
    return _commit(path, actions)


def partition_files(path: str, equals: dict, version: int | None = None) -> list[str]:
    """The file list a partition-pruned read would open — the
    observability hook tests and benchmarks assert IO bounds on."""
    want = _normalize_partition_equals(path, equals, version)
    return [
        a["path"]
        for a in _live_adds(path, version)
        if all(a.get("partitionValues", {}).get(k) == v for k, v in want.items())
    ]


def history(
    spark: SparkSession,
    path: str,
    start: int | None = None,
    end: int | None = None,
) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit, straight off the commit
    files (never the checkpoint collapse — history is the thing a
    checkpoint deliberately summarizes away). ``start``/``end``
    (inclusive) page the walk: default is every SURVIVING commit —
    earliest readable (0 until :func:`expire_log` trims the prefix)
    through head. Explicitly asking below the retention horizon
    raises VersionExpired; past head raises FileNotFoundError.
    Columns: version, ts_ms (in-commit timestamp, strictly monotone;
    NULL for legacy pre-timestamp commits), per-action-kind counts,
    add_bytes (sum of logged file sizes; NULL when any add predates
    size logging), is_change_commit (the stream's skip/refuse rule),
    and a derived operation kind — 'create' / 'append' / 'rewrite'
    (adds+removes) / 'delete' (removes or DV adds, no data adds) /
    'metadata' (constraint/rename/index/txn-only commits).

    Driver-side cost: one small JSON read per commit IN THE RANGE —
    paging is what keeps the observability face usable on a
    long-lived stream table (a 10⁶-commit log is not a 10⁶-file walk
    per look; pair with :func:`expire_log` to bound the log itself)."""
    head = current_version(path)
    if end is None:
        end = head
    elif end > head:
        raise FileNotFoundError(f"no committed version {end} at {path}")
    if start is None:
        start = earliest_version(path)
    if start < 0 or start > end:
        raise ValueError(f"bad history range [{start}, {end}]")
    rows = []
    for v in range(start, end + 1):
        c = _load_commit(path, v)
        acts = c["actions"]
        n_add = sum(1 for a in acts if "add" in a)
        n_remove = sum(1 for a in acts if "remove" in a)
        n_add_dv = sum(1 for a in acts if "add_dv" in a)
        n_remove_dv = sum(1 for a in acts if "remove_dv" in a)
        n_txn = sum(1 for a in acts if "txn" in a or "mtxn" in a)
        n_schema = sum(1 for a in acts if "rename" in a or "drop" in a)
        n_constraint = sum(1 for a in acts if "constraint" in a)
        n_index = sum(1 for a in acts if "index" in a)
        sizes = [a["add"].get("size") for a in acts if "add" in a]
        add_bytes = sum(sizes) if sizes and all(s is not None for s in sizes) else None
        is_change = n_remove > 0 or n_add_dv > 0 or n_remove_dv > 0
        if v == 0 and n_add:
            op = "create"
        elif n_add and is_change:
            op = "rewrite"
        elif is_change:
            op = "delete"
        elif n_add:
            op = "append"
        else:
            op = "metadata"
        rows.append(
            (
                v,
                c.get("ts"),
                n_add,
                n_remove,
                n_add_dv,
                n_remove_dv,
                n_txn,
                n_schema,
                n_constraint,
                n_index,
                add_bytes,
                is_change,
                op,
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, ts_ms long, n_add long, n_remove long,"
        " n_add_dv long, n_remove_dv long, n_txn long, n_schema long,"
        " n_constraint long, n_index long, add_bytes long,"
        " is_change_commit boolean, operation string",
    )


def table_stats(path: str, version: int | None = None) -> dict:
    """Metadata-only table statistics as of ``version``: exact row
    count plus per-column min/max, folded from the per-file stats the
    log already carries (Delta's SELECT COUNT(*) optimization). Zero
    data files are opened — at 100 TB this answers COUNT/MIN/MAX
    from one driver-side log read instead of a full scan. Only
    columns with stats in EVERY live file report min/max (a file
    without stats could hide the true extremum).

    With active deletion vectors the row count subtracts the DV
    cardinality (exact — the sidecars, sized by deleted rows, are
    read driver-side); min/max stay footer-derived and become
    conservative BOUNDS, since a MOR-deleted row may have held the
    true extremum (Delta's stats carry the same caveat under DVs)."""
    adds = _live_adds(path, version)
    rows = sum(a["stats"]["rows"] for a in adds)
    # merge-on-read deletes: the per-file footer counts still include
    # MOR-deleted rows, so subtract the ACTIVE deletion-vector
    # cardinality — (file, pos) pairs deduped across sidecars and
    # restricted to live target files, exactly the set the read
    # path's anti-join removes. Sidecars are small (proportional to
    # deleted rows) and read driver-side with pyarrow; the common
    # no-DV case stays a pure log read.
    dv_rels = _live_dvs(path, version)
    if dv_rels:
        # distinct-(file,pos) count WITHOUT a Python set of tuples —
        # a set costs ~150 B/pair, so a large MOR backlog could
        # exhaust driver memory for a "metadata read" (r9 advisor
        # finding). Two tiers:
        #   * sidecars ≤ 256 MB on disk: pyarrow concat + columnar
        #     group-by (dictionary-encoded file names + int64
        #     positions, ~10-20 B/pair — an order of magnitude under
        #     the set, still driver-side and fast);
        #   * larger backlogs: delegate the distinct count to Spark
        #     (executor-side shuffle, O(1) driver memory). Such a
        #     table has GBs of deletions — a cluster job is the only
        #     honest answer, and materialize_dvs is overdue anyway.
        import pyarrow as pa
        import pyarrow.parquet as pq

        live_names = {os.path.basename(a["path"]) for a in adds}
        abs_rels = [_abs(path, rel) for rel in dv_rels]
        total_bytes = sum(os.path.getsize(p) for p in abs_rels)
        if total_bytes <= 256 * 1024 * 1024:
            t = pa.concat_tables(
                pq.read_table(p, columns=["_dv_file", "_dv_pos"])
                for p in abs_rels
            )
            t = t.filter(
                pa.compute.is_in(
                    t.column("_dv_file"),
                    value_set=pa.array(sorted(live_names)),
                )
            )
            rows -= t.group_by(["_dv_file", "_dv_pos"]).aggregate([]).num_rows
        else:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "table_stats: DV sidecars exceed the driver-side "
                    "budget and no active SparkSession is available "
                    "for the distributed distinct count"
                )
            dv = spark.read.parquet(*abs_rels).where(
                F.col("_dv_file").isin(*sorted(live_names))
            )
            rows -= dv.select("_dv_file", "_dv_pos").distinct().count()
    mins: dict = {}
    maxs: dict = {}
    common: set | None = None
    for a in adds:
        cols = set(a["stats"].get("min", {})) & set(a["stats"].get("max", {}))
        common = cols if common is None else (common & cols)
    for a in adds:
        for name in common or ():
            mn = a["stats"]["min"][name]
            mx = a["stats"]["max"][name]
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    m, dropped = _fold_schema(path, version)
    rev = {p: lg for lg, p in m.items()}
    return {
        "rows": rows,
        "min": {rev.get(k, k): v for k, v in mins.items() if k not in dropped},
        "max": {rev.get(k, k): v for k, v in maxs.items() if k not in dropped},
    }


def clone(src: str, dst: str, version: int | None = None) -> int:
    """Zero-copy shallow clone (Delta's SHALLOW CLONE): commit 0 of
    ``dst`` references ``src``'s live files AS OF ``version`` — no
    data is read, copied, or moved; the clone is O(live-file-count)
    metadata. References are stored RELATIVE to the clone's root
    (``../``-traversal form) so a parent directory holding both
    tables stays relocatable as a unit; ``_abs`` normalizes the dots
    at read time. Afterwards the two tables diverge freely:
    appends/deletes/compactions on the clone land in its own log and
    data dir, and the source never observes them. ``vacuum`` on
    either table cannot touch the other's files: the clone's vacuum
    skips foreign (root-escaping) references by rule, and the
    source's vacuum only consults its own log."""
    _require_not_partitioned(src, "clone")
    adds = _live_adds(src, version)  # inner add dicts (path + stats)

    def _rebase(p: str) -> str:
        return os.path.relpath(_abs(src, p), dst)

    actions = [{"add": {**a, "path": _rebase(a["path"])}} for a in adds]
    # non-file metadata must survive the clone, exactly as it must
    # survive a checkpoint collapse: dropping active add_dv actions
    # would silently RESURRECT every MOR-deleted row in the clone
    # (its reads would never anti-join the DVs), and dropping
    # constraints would let writes to the clone skip enforcement.
    # DV sidecar paths are rebased like data paths (read-only foreign
    # references — the clone's vacuum never deletes root-escaping
    # paths, and materialize_dvs on the clone writes new files into
    # the CLONE's data dir, leaving the source untouched).
    actions += [
        {"add_dv": {**d, "path": _rebase(d["path"])}}
        for d in _live_dv_adds(src, version)
    ]
    actions += [{"constraint": c} for c in _constraints(src, version)]
    # idempotency markers survive the clone too (same rule as
    # checkpoint_log): an exactly-once ingest resumed against a clone
    # that dropped them would see last_txn_version()=None and
    # re-apply every committed batch, duplicating rows (r9 advisor
    # finding). Latest version per app suffices — replays are
    # monotone.
    txns: dict[str, int] = {}
    for c in _read_log(src, version):
        for a in c["actions"]:
            t = a.get("txn")
            if t:
                txns[t["app"]] = max(txns.get(t["app"], t["version"]), t["version"])
    actions += [
        {"txn": {"app": app, "version": v}} for app, v in sorted(txns.items())
    ]
    # column renames/drops carry over IN ORDER (the fold is
    # order-sensitive); physical file names are shared with the
    # source, so the clone must translate identically
    actions += list(_renames(src, version))
    # bloom indexes key on the add's logged path — rebase to match
    clone_paths = {a["add"]["path"] for a in actions if "add" in a}
    seen_idx: dict[tuple, dict] = {}
    for c in _read_log(src, version):
        for a in c["actions"]:
            if "index" in a:
                idx = {**a["index"], "path": _rebase(a["index"]["path"])}
                seen_idx[(idx["path"], idx["column"])] = idx
    actions += [
        {"index": idx}
        for (p, _), idx in sorted(seen_idx.items())
        if p in clone_paths
    ]
    os.makedirs(_log_dir(dst), exist_ok=True)
    os.makedirs(_data_dir(dst), exist_ok=True)
    return _commit(dst, actions)


# ---------------------------------------------------------------------------
# Column mapping — rename without rewrite (Delta's column-mapping mode)
# ---------------------------------------------------------------------------
#
# Files keep their ORIGINAL ("physical") column names forever; a
# ``rename`` log action only changes the logical name readers see.
# A rename is therefore one tiny log write — never a 100 TB rewrite —
# and every historical file stays readable. Translation happens at
# exactly two boundaries: physical→logical when a snapshot leaves the
# scan (``_to_logical``), logical→physical when a write batch enters
# the file layer (``_to_physical``). Stats skipping keeps working
# because per-file min/max are keyed by physical names and the pruned
# read translates its column argument before consulting them.
# Mirroring Delta, renaming a column referenced by an active CHECK
# constraint is REJECTED (constraints therefore always bind to stable
# names and need no translation).


def _renames(path: str, version: int | None = None) -> list[dict]:
    """Schema-evolution actions (rename + drop_column) in log order —
    order matters: the fold below is order-sensitive across BOTH
    action kinds (checkpoint-aware via _read_log; checkpoints carry
    the combined ordered list)."""
    out = []
    for c in _read_log(path, version):
        for a in c["actions"]:
            if "rename" in a:
                out.append({"rename": a["rename"]})
            elif "drop_column" in a:
                out.append({"drop_column": a["drop_column"]})
    return out


def _fold_schema(path: str, version: int | None = None) -> tuple[dict, set]:
    """Fold the ordered rename/drop stream into (logical -> physical
    mapping, tombstoned physical names). A dropped column's physical
    name is TOMBSTONED: its bytes stay in old files (time travel
    still sees them pre-drop) but current reads exclude it and
    re-adding a column with that physical name is rejected — without
    unique column ids, re-adding would resurrect the old values on
    old files (Delta solves this with field ids; the tombstone is
    the honest no-ids equivalent)."""
    m: dict[str, str] = {}
    dropped: set = set()
    for a in _renames(path, version):
        if "rename" in a:
            r = a["rename"]
            physical = m.pop(r["from"], r["from"])
            m[r["to"]] = physical
        else:
            d = a["drop_column"]
            m.pop(d["logical"], None)
            dropped.add(d["physical"])
    return {k: v for k, v in m.items() if k != v}, dropped


def _mapping(path: str, version: int | None = None) -> dict:
    """logical name -> physical name for every column whose names
    differ (identity columns are omitted)."""
    return _fold_schema(path, version)[0]


def _to_logical(df: DataFrame, m: dict, dropped: set | frozenset = frozenset()) -> DataFrame:
    """Rename physical columns to their logical names in ONE select —
    sequential withColumnRenamed could collide when one column's
    logical name equals another's physical name. Tombstoned physical
    columns (dropped) are excluded; everything else (including _dv_*
    tags) passes through unchanged."""
    if not m and not dropped:
        return df
    rev = {p: lg for lg, p in m.items()}
    return df.select(
        *[F.col(c).alias(rev.get(c, c)) for c in df.columns if c not in dropped]
    )


def _to_physical(df: DataFrame, m: dict) -> DataFrame:
    """Inverse of :func:`_to_logical` for write batches."""
    if not m:
        return df
    return df.select(*[F.col(c).alias(m.get(c, c)) for c in df.columns])


def rename_column(path: str, old: str, new: str) -> int:
    """Rename a column WITHOUT rewriting any data file: commits one
    ``rename`` action; all reads from this version translate the
    file-level (physical) name to ``new`` and writes translate back.
    Raises if ``old`` doesn't exist, ``new`` collides with a current
    logical name, or an active CHECK constraint references ``old``
    (Delta's rule — constraints bind by name and a silent retarget
    would change what they enforce)."""
    import pyarrow.parquet as pq
    import re

    files = live_files(path)
    if not files:
        raise FileNotFoundError(f"empty txlog table at {path}")
    # fold drops too (like drop_column): a tombstoned physical must
    # neither be renameable (its logical name no longer exists) nor
    # block a rename TO its name (logical names are free once the
    # column is dropped — the physical tombstone still protects the
    # file layer via _reject_tombstoned)
    m, dropped = _fold_schema(path)
    physical_cols: set = set()
    for f in files:
        physical_cols.update(pq.read_schema(f).names)
    rev = {p: lg for lg, p in m.items()}
    logical_cols = {rev.get(p, p) for p in physical_cols if p not in dropped}
    if old not in logical_cols:
        raise ValueError(f"column {old!r} does not exist (have {sorted(logical_cols)})")
    if new in logical_cols:
        raise ValueError(f"column {new!r} already exists")
    for c in _constraints(path):
        if re.search(rf"\b{re.escape(old)}\b", c["predicate"]):
            raise ValueError(
                f"cannot rename {old!r}: CHECK constraint {c['name']!r} "
                f"references it ({c['predicate']!r}); drop or rewrite the "
                "constraint first"
            )
    return _commit(path, [{"rename": {"from": old, "to": new}}])


def drop_column(path: str, name: str) -> int:
    """Drop a column WITHOUT rewriting any data file: commits one
    ``drop_column`` action tombstoning the physical name. Reads from
    this version exclude it; time travel below still sees it; a
    later column with the SAME physical name is rejected at write
    time (no field ids — re-adding would resurrect the old bytes on
    old files). Dropping a CHECK-constrained column is rejected,
    mirroring :func:`rename_column`."""
    import re

    import pyarrow.parquet as pq

    files = live_files(path)
    if not files:
        raise FileNotFoundError(f"empty txlog table at {path}")
    m, dropped = _fold_schema(path)
    physical_cols: set = set()
    for f in files:
        physical_cols.update(pq.read_schema(f).names)
    rev = {p: lg for lg, p in m.items()}
    logical_cols = {rev.get(p, p) for p in physical_cols if p not in dropped}
    if name not in logical_cols:
        raise ValueError(f"column {name!r} does not exist (have {sorted(logical_cols)})")
    if len(logical_cols) == 1:
        raise ValueError("cannot drop the table's last column")
    for c in _constraints(path):
        if re.search(rf"\b{re.escape(name)}\b", c["predicate"]):
            raise ValueError(
                f"cannot drop {name!r}: CHECK constraint {c['name']!r} "
                f"references it ({c['predicate']!r}); drop the constraint first"
            )
    physical = m.get(name, name)
    return _commit(
        path, [{"drop_column": {"logical": name, "physical": physical}}]
    )


def _reject_tombstoned(df: DataFrame, path: str) -> None:
    """Write-side guard (the no-field-ids analog of Delta's field-id
    protection), two hazards:

    1. a batch column whose PHYSICAL name (after rename translation)
       collides with a tombstoned dropped column would resurrect the
       dropped bytes on old files at read time;
    2. a batch column named like the IN-USE physical name of a
       *different* logical column (e.g. after rename a->b, a new
       column literally named 'a') would be written as physical 'a'
       and silently read back as logical 'b' on every snapshot —
       data mis-attribution. Only names that pass through
       untranslated are hazards: a name that is itself a logical
       name in the mapping translates away before hitting the file.
    """
    m, dropped = _fold_schema(path)
    if not m and not dropped:
        return
    bad = [c for c in df.columns if m.get(c, c) in dropped]
    if bad:
        raise ValueError(
            f"column(s) {bad} were dropped from this table; re-adding a "
            "column with a tombstoned physical name requires a table "
            "rewrite (no field ids to disambiguate the old bytes)"
        )
    phys_in_use = set(m.values())
    aliased = [c for c in df.columns if c in phys_in_use and c not in m]
    if aliased:
        owners = {p: lg for lg, p in m.items()}
        raise ValueError(
            f"column(s) {aliased} collide with the physical storage name "
            f"of renamed column(s) "
            f"{[owners[c] for c in aliased]}; writing them would alias the "
            "new values into the renamed column on read. Pick a different "
            "name (no field ids to disambiguate physical storage)"
        )


def commit_timestamp(path: str, version: int) -> int:
    """The in-commit timestamp (epoch millis) of ``version``. Raises
    for unknown versions (FileNotFoundError), versions expired by log
    retention (VersionExpired), and commits written before timestamps
    existed (legacy logs have no "ts" field)."""
    ts = _load_commit(path, version).get("ts")
    if ts is None:
        raise ValueError(
            f"version {version} at {path} predates in-commit timestamps"
        )
    return int(ts)


def version_at_timestamp(path: str, ts_ms: int) -> int:
    """Latest version whose in-commit timestamp is <= ``ts_ms`` —
    Delta's TIMESTAMP AS OF resolution rule. Binary search over the
    dense SURVIVING version range (timestamps are strictly monotone;
    commits from before timestamps existed sort as older than every
    timestamped one; :func:`expire_log` only ever removes a prefix,
    so the range stays dense). Raises VersionExpired when ``ts_ms``
    lands below the retention horizon, FileNotFoundError when it is
    earlier than the first commit of an unexpired log."""

    def _ts(v: int) -> int:
        with open(_commit_path(path, v)) as f:
            return json.load(f).get("ts", -1)

    lo, hi = earliest_version(path), current_version(path)
    if _ts(lo) > ts_ms:
        if lo > 0:
            raise VersionExpired(
                f"timestamp {ts_ms} at {path} predates the log retention "
                f"horizon (earliest readable version {lo} is at {_ts(lo)})"
            )
        raise FileNotFoundError(
            f"no commit at or before timestamp {ts_ms} at {path} "
            f"(first commit is at {_ts(lo)})"
        )
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if _ts(mid) <= ts_ms:
            lo = mid
        else:
            hi = mid - 1
    return lo


def snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """Read the table as of ``version`` (default: latest) — time
    travel is just replaying less of the log. ``mergeSchema`` unions
    the file schemas, so columns added by later appends read as NULL
    on older files (additive schema evolution; parquet's footer
    schema per immutable file is the source of truth). Active
    deletion vectors (merge-on-read deletes) are applied as one
    anti-join on (file name, row position). Column renames active at
    ``version`` translate physical file names to logical ones —
    time travel to a pre-rename version sees the old names.
    ``timestamp_ms`` resolves to a version via the in-commit
    timestamps (TIMESTAMP AS OF); passing both is rejected."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp_ms, not both")
        version = version_at_timestamp(path, timestamp_ms)
    part = _partitioning(path, version)
    if part is not None:
        if _live_dvs(path, version):
            raise NotImplementedError(
                "deletion vectors on partitioned tables are not supported"
            )
        adds = _live_adds(path, version)
        if not adds:
            raise FileNotFoundError(f"empty txlog table at {path}")
        m, dropped = _fold_schema(path, version)
        return _to_logical(_read_partitioned(spark, path, adds, part), m, dropped)
    files = live_files(path, version)
    if not files:
        raise FileNotFoundError(f"empty txlog table at {path}")
    base = spark.read.option("mergeSchema", "true").parquet(*files)
    m, dropped = _fold_schema(path, version)
    return _to_logical(_with_dvs(spark, path, base, version), m, dropped)


def _dv_pair_df(
    spark: SparkSession, path: str, version: int | None
) -> DataFrame | None:
    """ACTIVE deletion pairs as of ``version``: distinct (file name,
    row position) rows from every live sidecar, restricted to live
    target files — the single definition of "which rows are MOR-
    deleted" that every consumer (reads, CDF, new deletes,
    materialize) must share, or the read paths diverge (r9 review:
    this was five inline copies). None when no DVs are active.

    A DV row is active only while its target file is live; a later
    materialize/COW rewrite removed the file and the rewrite already
    applied the deletions."""
    dvs = _live_dvs(path, version)
    if not dvs:
        return None
    live_names = {os.path.basename(f) for f in live_files(path, version)}
    if not live_names:
        return None
    return (
        spark.read.parquet(*[_abs(path, p) for p in dvs])
        .filter(F.col("_dv_file").isin(*sorted(live_names)))
        .select("_dv_file", "_dv_pos")
        .distinct()
    )


def _tag_positions(base: DataFrame) -> DataFrame:
    """Prefix a parquet-read DataFrame with the (_dv_file, _dv_pos)
    identity columns DV pairs join on, from the scan's own
    ``_metadata`` — no data column is touched."""
    return base.select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "_dv_file"
        ),
        F.col("_metadata.row_index").alias("_dv_pos"),
        "*",
    )


def _with_dvs(
    spark: SparkSession, path: str, base: DataFrame, version: int | None
) -> DataFrame:
    """Apply active deletion vectors to a DataFrame read from (any
    subset of) the live files — EVERY txlog read path must route
    through this, including the pruned/point readers: a raw read of
    a DV'd table resurrects deleted rows. Pruning composes freely:
    DV rows for files a reader skipped simply never match."""
    dv = _dv_pair_df(spark, path, version)
    if dv is None:
        return base
    return _tag_positions(base).join(
        F.broadcast(dv), ["_dv_file", "_dv_pos"], "left_anti"
    ).drop("_dv_file", "_dv_pos")


def _live_adds(path: str, version: int | None = None) -> list[dict]:
    adds: dict[str, dict] = {}
    for c in _read_log(path, version):
        for a in c["actions"]:
            if "add" in a:
                adds[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                adds.pop(a["remove"]["path"], None)
    return list(adds.values())


def snapshot_pruned(
    spark: SparkSession,
    path: str,
    column: str,
    lower,
    upper,
    version: int | None = None,
) -> DataFrame:
    """Snapshot restricted to ``lower <= column <= upper``, pruning
    files from the LOG's stored min/max before Spark ever lists them
    — the Delta/Iceberg data-skipping read path. Files without stats
    for the column are conservatively kept; the residual filter is
    still applied, so the result is exact regardless of stats."""
    _require_not_partitioned(path, "snapshot_pruned")
    from pyspark.sql import functions as F

    m, dropped = _fold_schema(path, version)
    column = m.get(column, column)  # stats are keyed by PHYSICAL name
    if column in dropped:
        raise ValueError(f"column {column!r} was dropped")
    keep = []
    for a in _live_adds(path, version):
        st = a.get("stats", {})
        mn = st.get("min", {}).get(column)
        mx = st.get("max", {}).get(column)
        if mn is not None and mx is not None and (mx < lower or mn > upper):
            continue  # provably disjoint — never opened
        keep.append(_abs(path, a["path"]))
    if not keep:
        return snapshot(spark, path, version).filter(F.lit(False))
    df = _with_dvs(
        spark,
        path,
        spark.read.option("mergeSchema", "true").parquet(*keep),
        version,
    )
    return _to_logical(
        df.filter((F.col(column) >= lower) & (F.col(column) <= upper)), m, dropped
    )


def delete_where(spark: SparkSession, path: str, predicate) -> int:
    """Copy-on-write delete: only files that actually contain
    matching rows are rewritten; untouched files stay shared between
    the old and new snapshots."""
    _require_not_partitioned(path, "delete_where")
    _require_no_dvs(path, "delete_where")
    m, dropped = _fold_schema(path)
    actions: list[dict] = []
    for rel in _live_rel(path):
        part = spark.read.parquet(_abs(path, rel))
        # predicate binds LOGICAL names; files carry physical ones.
        # NOTE: the rewrite drops tombstoned physical columns, so a
        # pre-drop time travel over rewritten rows reads them as NULL
        # (same caveat class as vacuum breaking old time travel).
        keep = _to_physical(_to_logical(part, m, dropped).filter(~predicate), m)
        if keep.count() == part.count():
            continue  # file untouched — shared with prior versions
        actions.append({"remove": {"path": rel}})
        actions.extend(_write_data_files(keep, path))
    if not actions:
        return current_version(path)
    return _commit(path, actions)


def merge_upsert(
    spark: SparkSession, path: str, source: DataFrame, key_cols: list[str]
) -> int:
    """Delta-style MERGE: WHEN MATCHED UPDATE (all columns) + WHEN NOT
    MATCHED INSERT, as one atomic commit.

    Touched-file discovery is ONE distributed job, not a per-file
    loop: the snapshot is scanned with its provenance column
    (``input_file_name``), semi-joined against the (broadcast) source
    keys, and the distinct file list collected — bounded by file
    count, never row count. Only files that actually contain matched
    keys are rewritten (their non-matched rows survive via an
    anti-join); every other file stays shared with prior versions.
    The source rows (updates' new values + inserts) land as new
    files. The change feed of the commit is then exactly: deletes =
    old values of updated rows, inserts = source rows — the
    add/remove multiset difference cancels the copy-on-write
    survivors, same as delete_where.
    """
    _require_not_partitioned(path, "merge_upsert")
    _require_no_dvs(path, "merge_upsert")
    from pyspark.sql import functions as F

    from urllib.parse import unquote, urlparse

    m, dropped = _fold_schema(path)
    # source arrives in LOGICAL names; the whole merge runs physical
    _reject_tombstoned(source, path)
    source = _to_physical(source, m)
    key_cols = [m.get(k, k) for k in key_cols]
    rels = _live_rel(path)
    src = source.localCheckpoint()  # read twice: key probe + data write
    snap = spark.read.option("mergeSchema", "true").parquet(
        *[_abs(path, r) for r in rels]
    )
    hit = (
        snap.withColumn("_file", F.input_file_name())
        .join(F.broadcast(src.select(*key_cols)), key_cols, "leftsemi")
        .select("_file")
        .distinct()
        .collect()
    )  # bounded: one row per touched FILE
    # Map provenance URIs back to the LOG-FORM path of the live set
    # (never os.path.relpath against the table root: remove actions
    # must string-match their adds, which may be legacy ABSOLUTE
    # paths, and input_file_name() percent-encodes special chars).
    rel_by_abs = {os.path.realpath(_abs(path, r)): r for r in rels}
    touched = set()
    for r in hit:
        u = urlparse(r["_file"])
        p = os.path.realpath(unquote(u.path) if u.scheme else r["_file"])
        touched.add(rel_by_abs[p])  # unknown file = corrupt log; fail loud
    # the write schema excludes tombstoned (dropped) physical columns:
    # the source batch cannot carry them, and rewritten survivors drop
    # them — same pre-drop time-travel caveat as delete_where's rewrite
    write_cols = [c for c in snap.columns if c not in dropped]
    actions: list[dict] = []
    if touched:
        keep = spark.read.option("mergeSchema", "true").parquet(
            *[_abs(path, t) for t in sorted(touched)]
        ).join(F.broadcast(src.select(*key_cols)), key_cols, "leftanti")
        actions.extend({"remove": {"path": t}} for t in sorted(touched))
        actions.extend(_write_data_files(keep.select(*write_cols), path))
    actions.extend(_write_data_files(src.select(*write_cols), path))
    return _commit(path, actions)


def _zorder_column(spark: SparkSession, df, cols: list[str], bits: int = 8):
    """Morton/Z-order key over 2-4 numeric columns: each column is
    rank-bucketized to ``2**bits`` quantile buckets (equal-population,
    so skew cannot collapse the curve the way equal-WIDTH buckets
    would), then the bucket bits are interleaved. Bucket boundaries
    come from approxQuantile — bounded driver-side model state (2^bits
    doubles per column, the centroid/seed precedent), computed in one
    pass. The whole key is a closed-form column expression: the
    rewrite stays one repartitionByRange + local sort, no UDF."""
    from pyspark.sql import functions as F

    if not 2 <= len(cols) <= 4:
        raise ValueError("z-order wants 2-4 columns")
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    z = F.lit(0)
    for ci, c in enumerate(cols):
        cuts = df.approxQuantile(c, probs, 0.001)
        # bucket index = count of cut points <= value (monotone
        # when-chain would be 255 branches; a literal array + a
        # filtered size is one vectorized expression)
        arr = F.array(*[F.lit(float(x)) for x in cuts])
        bucket = F.size(F.filter(arr, lambda b: b <= F.col(c).cast("double")))
        for bit in range(bits):
            z = z + F.shiftright(bucket, bit).bitwiseAND(1).cast("long") * (
                1 << (bit * len(cols) + ci)
            )
    return z


def compact_small(
    spark: SparkSession,
    path: str,
    min_bytes: int = 8 << 20,
    target_partitions: int = 1,
) -> int:
    """Selective small-file compaction — the real OPTIMIZE semantics:
    only files under ``min_bytes`` are rewritten (bin-packed into
    ``target_partitions`` new files); every file already at a healthy
    size keeps its PATH, stays shared with older snapshots, and costs
    nothing to "compact". A streaming sink or trickle of appends
    produces thousands of KB-scale files; full-table compaction would
    rewrite 100 TB to fix 100 MB — this rewrites only the fragments,
    so the maintenance cost tracks the fragmentation, not the table.
    Returns the commit version (unchanged if nothing qualifies)."""
    _require_not_partitioned(path, "compact_small")
    _require_no_dvs(path, "compact_small")
    small = [
        rel
        for rel in _live_rel(path)
        if os.path.getsize(_abs(path, rel)) < min_bytes
    ]
    if len(small) < 2:
        return current_version(path)  # nothing worth packing
    df = spark.read.option("mergeSchema", "true").parquet(
        *[_abs(path, r) for r in small]
    )
    actions: list[dict] = [{"remove": {"path": r}} for r in small]
    actions.extend(_write_data_files(df.coalesce(target_partitions), path))
    return _commit(path, actions)


def compact(
    spark: SparkSession,
    path: str,
    target_partitions: int = 1,
    sort_by: str | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite the live set as ``target_partitions`` files (small-file
    compaction); readers of old versions still see the old files.
    ``sort_by`` range-partitions and sorts the rewrite on that column
    (the OPTIMIZE-with-clustering form): each output file then covers
    a disjoint value range, so parquet footer min/max skips whole
    files on range probes — the same physics as
    sources/io.write_sorted_layout, applied through the log.
    ``zorder_by`` clusters on the Morton interleave of 2-4 columns
    instead (the OPTIMIZE ZORDER BY form): a 1-D sort gives perfect
    min/max boxes on ONE column and useless ones on every other,
    while the Z-curve gives every listed column boxes ~sqrt-as-tight
    — the multi-dimensional data-skipping trade, measured in
    bench.py's layout experiment."""
    _require_not_partitioned(path, "compact")
    _require_no_dvs(path, "compact")
    if sort_by is not None and zorder_by is not None:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    m = _mapping(path)
    if sort_by is not None:
        sort_by = m.get(sort_by, sort_by)  # files carry physical names
    if zorder_by is not None:
        zorder_by = [m.get(c, c) for c in zorder_by]
    rels = _live_rel(path)
    df = spark.read.option("mergeSchema", "true").parquet(*[_abs(path, r) for r in rels])
    if zorder_by is not None:
        zcol = _zorder_column(spark, df, zorder_by)
        df = (
            df.withColumn("__z", zcol)
            .repartitionByRange(target_partitions, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    elif sort_by is not None:
        df = df.repartitionByRange(target_partitions, sort_by).sortWithinPartitions(
            sort_by
        )
    else:
        df = df.coalesce(target_partitions)
    actions: list[dict] = [{"remove": {"path": r}} for r in rels]
    actions.extend(_write_data_files(df, path))
    return _commit(path, actions)


def snapshot_pruned_multi(
    spark: SparkSession,
    path: str,
    preds: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Multi-column log-level data skipping: ``preds`` is a list of
    (column, lower, upper); a file is opened only if its stored
    min/max box intersects EVERY range. On a z-ordered table all
    listed columns prune; on a 1-D-sorted table only the sort column
    does — same exact result either way (the residual filter runs
    regardless), different files_read."""
    _require_not_partitioned(path, "snapshot_pruned_multi")
    from pyspark.sql import functions as F

    m, dropped = _fold_schema(path, version)
    preds = [(m.get(c, c), lo, hi) for c, lo, hi in preds]  # physical stats keys
    if any(c in dropped for c, _, _ in preds):
        raise ValueError("predicate references a dropped column")
    residual = None
    keep = []
    for a in _live_adds(path, version):
        st = a.get("stats", {})
        ok = True
        for column, lower, upper in preds:
            mn = st.get("min", {}).get(column)
            mx = st.get("max", {}).get(column)
            if mn is not None and mx is not None and (mx < lower or mn > upper):
                ok = False
                break
        if ok:
            keep.append(_abs(path, a["path"]))
    for column, lower, upper in preds:
        cond = (F.col(column) >= lower) & (F.col(column) <= upper)
        residual = cond if residual is None else (residual & cond)
    if not keep:
        return snapshot(spark, path, version).filter(F.lit(False))
    return _to_logical(
        _with_dvs(
            spark,
            path,
            spark.read.option("mergeSchema", "true").parquet(*keep),
            version,
        ).filter(residual),
        m,
        dropped,
    )


def changes(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Row-level change data feed for one commit: what ``version``
    inserted and deleted relative to ``version - 1``.

    Computed from the commit's own file actions — NOT a full
    snapshot diff: inserts are rows of added files minus rows of
    removed files (copy-on-write rewrites re-add surviving rows, so
    the multiset difference cancels them), deletes the reverse. A
    pure append therefore yields only inserts; a compaction yields
    an EMPTY feed (same rows on both sides); a COW delete yields
    exactly the deleted rows. Cost is proportional to the files the
    commit touched, never to table size.

    Deletion vectors are first-class in the feed: a merge-on-read
    delete commit (``add_dv``, no file actions) emits exactly the
    newly-DV'd rows as deletes; a ``remove_dv`` (committed by
    restore) emits the resurrected rows as inserts; and the file-
    level diff reads each side THROUGH the DV set active at its
    version, so a ``materialize_dvs`` commit — which rewrites a
    DV'd file with the deletions applied — correctly yields an
    EMPTY feed instead of re-emitting rows the earlier add_dv
    commit already reported deleted.

    Returns the table schema plus a ``_change_type`` column
    ('insert' | 'delete').
    """
    _require_not_partitioned(path, "changes")
    from pyspark.sql import functions as F

    # read the commit FILE directly: _read_log may substitute a
    # synthetic checkpoint commit at this version, whose actions are
    # the full live set, not this commit's delta. Expired versions
    # raise VersionExpired (their file-level delta is gone for good).
    try:
        commit = _load_commit(path, version)
    except FileNotFoundError:
        raise ValueError(f"version {version} not found at {path}")
    added = [_abs(path, a["add"]["path"]) for a in commit["actions"] if "add" in a]
    removed = [_abs(path, a["remove"]["path"]) for a in commit["actions"] if "remove" in a]
    has_dv_actions = any(
        "add_dv" in a or "remove_dv" in a for a in commit["actions"]
    )
    if not added and not removed and not has_dv_actions:
        raise ValueError(f"commit {version} touched no files")

    dv_before = _dv_pair_df(spark, path, version - 1) if version > 0 else None
    dv_after = _dv_pair_df(spark, path, version)

    def _tagged(files: list[str]) -> DataFrame:
        return _tag_positions(
            spark.read.option("mergeSchema", "true").parquet(*files)
        )

    def _minus_dvs(files: list[str], dv: DataFrame | None) -> DataFrame | None:
        """Rows of ``files`` as the snapshot at that side saw them —
        raw rows minus the side's active DV pairs."""
        if not files:
            return None
        t = _tagged(files)
        if dv is not None:
            t = t.join(F.broadcast(dv), ["_dv_file", "_dv_pos"], "left_anti")
        return t.drop("_dv_file", "_dv_pos")

    # file-level diff, each side read through ITS version's DVs
    a_df = _minus_dvs(added, dv_after)
    r_df = _minus_dvs(removed, dv_before)
    inserts = a_df.exceptAll(r_df) if (a_df is not None and r_df is not None) else a_df
    deletes = r_df.exceptAll(a_df) if (a_df is not None and r_df is not None) else r_df

    # DV-level diff on files live at BOTH versions: pairs newly
    # active are row deletes, pairs newly retired are row inserts.
    # Only files the commit's own sidecars TARGET can carry a delta,
    # so read the sidecars' file names driver-side (sidecars are
    # deleted-rows-sized) and open just those data files — the CDF
    # stays O(commit), never O(table).
    if has_dv_actions:
        import pyarrow.parquet as pq

        touched: set = set()
        for a in commit["actions"]:
            dv = a.get("add_dv") or a.get("remove_dv")
            if dv:
                # fail LOUDLY on a vacuumed sidecar, mirroring
                # restore()'s contract: silently skipping it would
                # omit the MOR-deleted/resurrected rows from a
                # historical feed — an incremental consumer would
                # record the commit as applied while missing its
                # deletes (r9 advisor finding)
                if not os.path.exists(_abs(path, dv["path"])):
                    raise FileNotFoundError(
                        f"DV sidecar vacuumed: {dv['path']} (commit "
                        f"{version}); historical change feed for this "
                        "version is unrecoverable"
                    )
                names = pq.read_table(
                    _abs(path, dv["path"]), columns=["_dv_file"]
                ).column("_dv_file").to_pylist()
                touched.update(names)
        prev_live = set(_live_rel(path, version - 1))
        both = [
            p
            for p in _live_rel(path, version)
            if p in prev_live and os.path.basename(p) in touched
        ]
        if both:
            empty = None
            t = _tagged([_abs(path, p) for p in both])

            def _match(dv_in: DataFrame | None, dv_not: DataFrame | None):
                if dv_in is None:
                    return empty
                delta = (
                    dv_in.exceptAll(dv_not) if dv_not is not None else dv_in
                )
                return t.join(
                    F.broadcast(delta), ["_dv_file", "_dv_pos"], "semi"
                ).drop("_dv_file", "_dv_pos")

            new_deletes = _match(dv_after, dv_before)
            new_inserts = _match(dv_before, dv_after)
            if new_deletes is not None:
                deletes = (
                    deletes.unionByName(new_deletes)
                    if deletes is not None
                    else new_deletes
                )
            if new_inserts is not None:
                inserts = (
                    inserts.unionByName(new_inserts)
                    if inserts is not None
                    else new_inserts
                )

    parts = []
    if inserts is not None:
        parts.append(inserts.withColumn("_change_type", F.lit("insert")))
    if deletes is not None:
        parts.append(deletes.withColumn("_change_type", F.lit("delete")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # feed rows surface the LOGICAL names active at this version
    m, dropped = _fold_schema(path, version)
    return _to_logical(out, m, dropped)


def attach_bloom(
    spark: SparkSession,
    path: str,
    column: str,
    bits: int | None = None,
    k: int = 6,
    missing_only: bool = False,
) -> int:
    """Per-file Bloom filter index on ``column``, committed to the
    LOG (a new action type older readers ignore). Min/max stats
    answer RANGE probes on the clustered column; a Bloom bitset
    answers POINT-membership probes on ANY column — the Delta
    bloom-index use case: ingest dedup and CDC anti-joins ask "does
    this id exist?" against keys that are mostly ABSENT, and a
    2^13-bit filter per file turns each such probe into zero file
    opens (false positives only cost a wasted open; the residual
    filter keeps results exact). Build shape: each file's k hash
    positions are aggregated IN the executors and only the <= bits
    distinct positions per file reach the driver — bounded index
    state, never row-scale. Hashing is md5-based (the cross-engine
    hash discipline, though the index is engine-internal). Returns
    the commit version; re-attaching replaces the index (latest
    entry per (file, column) wins at read time). ``bits=None``
    auto-sizes PER FILE to the next power of two >= 10 bits per
    distinct key (>= 8192): a fixed size silently saturates once a
    file's cardinality outgrows it — every bit set, every probe a
    false positive, the index worse than useless — measured exactly
    that way at sf0.1 before auto-sizing.

    ``missing_only=True`` indexes only live files that have NO bloom
    entry for ``column`` yet — the incremental form a per-batch
    ingest sink needs: each append blooms just the files it added
    (batch-sized work), instead of re-scanning the whole table per
    batch. A compaction's new files are picked up the same way on
    the next call."""
    _require_not_partitioned(path, "attach_bloom")
    from pyspark.sql import functions as F

    if bits is not None and bits & (bits - 1):
        raise ValueError("bits must be a power of two")
    column = _mapping(path).get(column, column)  # index keys physical names
    have = set(_bloom_indexes(path, column)) if missing_only else set()
    actions = []
    for rel in _live_rel(path):
        if rel in have:
            continue
        df = spark.read.parquet(_abs(path, rel)).select(
            F.col(column).cast("string").alias("_v")
        )
        file_bits = bits
        if file_bits is None:
            n_distinct = df.filter(F.col("_v").isNotNull()).distinct().count()
            file_bits = 8192
            while file_bits < 10 * max(n_distinct, 1):
                file_bits <<= 1
        pos_cols = [
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col("_v"))), 1, 8),
                    16,
                    10,
                )
                .cast("long")
                % file_bits
            ).alias(f"_p{i}")
            for i in range(k)
        ]
        rows = (
            df.filter(F.col("_v").isNotNull())
            .select(F.explode(F.array(*pos_cols)).alias("_p"))
            .distinct()
            .collect()
        )  # bounded: <= file_bits distinct positions per file
        bitset = bytearray(file_bits // 8)
        for r in rows:
            p = int(r["_p"])
            bitset[p >> 3] |= 1 << (p & 7)
        import base64

        actions.append(
            {
                "index": {
                    "path": rel,
                    "column": column,
                    "bits": file_bits,
                    "k": k,
                    "bloom": base64.b64encode(bytes(bitset)).decode(),
                }
            }
        )
    if not actions:
        return current_version(path)
    return _commit(path, actions)


def _bloom_indexes(path: str, column: str, version: int | None = None) -> dict:
    """Latest bloom entry per file for ``column`` (log replay order)."""
    out: dict[str, dict] = {}
    for c in _read_log(path, version):
        for a in c["actions"]:
            idx = a.get("index")
            if idx and idx["column"] == column:
                out[idx["path"]] = idx
    return out


def snapshot_point(
    spark: SparkSession,
    path: str,
    column: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point lookup through the log-stored Bloom index: a file opens
    only if its filter says ``value`` MIGHT be present (or it has no
    filter — conservatively kept). Exact regardless: the residual
    equality filter always runs; the bloom can only skip files where
    the value is provably absent."""
    _require_not_partitioned(path, "snapshot_point")
    import base64

    from pyspark.sql import functions as F

    m, dropped = _fold_schema(path, version)
    column = m.get(column, column)  # bloom indexes key physical names
    if column in dropped:
        raise ValueError(f"column {column!r} was dropped")
    blooms = _bloom_indexes(path, column, version)
    import hashlib as _hashlib

    keep = []
    for a in _live_adds(path, version):
        idx = blooms.get(a["path"])
        if idx is not None:
            bitset = base64.b64decode(idx["bloom"])
            bits, kk = idx["bits"], idx["k"]
            sval = str(value)
            hit = True
            for i in range(kk):
                h = _hashlib.md5(f"{i}|{sval}".encode()).hexdigest()[:8]
                p = int(h, 16) % bits
                if not bitset[p >> 3] & (1 << (p & 7)):
                    hit = False
                    break
            if not hit:
                continue  # provably absent — never opened
        keep.append(_abs(path, a["path"]))
    if not keep:
        return snapshot(spark, path, version).filter(F.lit(False))
    return _to_logical(
        _with_dvs(
            spark,
            path,
            spark.read.option("mergeSchema", "true").parquet(*keep),
            version,
        ).filter(F.col(column) == value),
        m,
        dropped,
    )


def snapshot_point_any(
    spark: SparkSession,
    path: str,
    column: str,
    values,
    version: int | None = None,
) -> DataFrame:
    """Multi-key point lookup through the log-stored Bloom index: a
    file opens only if its filter admits AT LEAST ONE of ``values``
    (or it has no filter — conservatively kept). The batch form of
    :func:`snapshot_point`, built for ingest-dedup probes where a
    micro-batch carries thousands of keys that are mostly ABSENT
    from the table: the driver-side cost is pure bit tests —
    each value's k md5 digests are computed ONCE (file-independent;
    only the modulo is per-file) and tested against every file's
    bitset, O(files × values) with no IO — and the Spark job then
    opens only files that might contain a colliding key. Results are
    exact: the residual IN filter always runs."""
    _require_not_partitioned(path, "snapshot_point_any")
    import base64
    import hashlib as _hashlib

    from pyspark.sql import functions as F

    vals = list(values)
    m, dropped = _fold_schema(path, version)
    column = m.get(column, column)  # bloom indexes key physical names
    if column in dropped:
        raise ValueError(f"column {column!r} was dropped")
    if not vals:
        return snapshot(spark, path, version).filter(F.lit(False))
    blooms = _bloom_indexes(path, column, version)
    svals = [str(v) for v in vals]
    hmemo: dict[tuple[int, str], int] = {}

    def _h(i: int, sval: str) -> int:
        key = (i, sval)
        if key not in hmemo:
            hmemo[key] = int(
                _hashlib.md5(f"{i}|{sval}".encode()).hexdigest()[:8], 16
            )
        return hmemo[key]

    keep = []
    for a in _live_adds(path, version):
        idx = blooms.get(a["path"])
        if idx is not None:
            bitset = base64.b64decode(idx["bloom"])
            bits, kk = idx["bits"], idx["k"]
            admit = False
            for sval in svals:
                hit = True
                for i in range(kk):
                    p = _h(i, sval) % bits
                    if not bitset[p >> 3] & (1 << (p & 7)):
                        hit = False
                        break
                if hit:
                    admit = True
                    break
            if not admit:
                continue  # every probed key provably absent
        keep.append(_abs(path, a["path"]))
    if not keep:
        return snapshot(spark, path, version).filter(F.lit(False))
    return _to_logical(
        _with_dvs(
            spark,
            path,
            spark.read.option("mergeSchema", "true").parquet(*keep),
            version,
        ).filter(F.col(column).isin(vals)),
        m,
        dropped,
    )


def restore(path: str, version: int) -> int:
    """Delta-style RESTORE TO VERSION — roll the table back to an
    earlier snapshot AS A NEW COMMIT (history is append-only: the
    rollback itself is auditable and can itself be time-traveled or
    restored away). The commit removes files live now but not at
    ``version`` and re-adds files live at ``version`` but not now,
    carrying their ORIGINAL add entries so file stats keep powering
    log-level data skipping after the rollback. No data is copied or
    rewritten — a restore is O(log), never O(table): the old files
    still exist because only VACUUM deletes data, which is exactly
    why a vacuum past ``version`` makes this raise instead of
    committing a snapshot with dangling files. The change feed of
    the restore commit is the rollback's CDF: deletes of the
    rolled-back rows, inserts of the resurrected ones."""
    cur = current_version(path)
    if not 0 <= version <= cur:
        raise FileNotFoundError(
            f"no committed version {version} at {path} (latest is {cur})"
        )
    target = {a["path"]: a for a in _live_adds(path, version)}
    current = {a["path"]: a for a in _live_adds(path)}
    missing = sorted(p for p in target if not os.path.exists(_abs(path, p)))
    if missing:
        raise FileNotFoundError(
            f"cannot restore {path} to version {version}: "
            f"{len(missing)} data file(s) vacuumed (e.g. {missing[0]})"
        )
    # sidecars the restore would re-register must exist too — vacuum
    # reclaims retired ones below the retention window, same contract
    # as data files
    missing_dv = sorted(
        d["path"]
        for d in _live_dv_adds(path, version)
        if not os.path.exists(_abs(path, d["path"]))
    )
    if missing_dv:
        raise FileNotFoundError(
            f"cannot restore {path} to version {version}: "
            f"{len(missing_dv)} DV sidecar(s) vacuumed (e.g. {missing_dv[0]})"
        )
    actions: list[dict] = [
        {"remove": {"path": p}} for p in sorted(current) if p not in target
    ]
    actions += [
        {"add": target[p]} for p in sorted(target) if p not in current
    ]
    # deletion vectors are part of the snapshot: a delete_where_dv
    # commit changes NO files, so a files-only diff would report
    # "already at that snapshot" while the head still applies the
    # DVs. Retire sidecars active now but not at ``version``
    # (remove_dv), and re-register sidecars active at ``version``
    # but retired since (a prior restore) — after this commit the
    # active-DV set equals the target's, so snapshot(head) ==
    # snapshot(target) exactly.
    dv_target = {d["path"]: d for d in _live_dv_adds(path, version)}
    dv_current = {d["path"]: d for d in _live_dv_adds(path)}
    actions += [
        {"remove_dv": {"path": p}} for p in sorted(dv_current) if p not in dv_target
    ]
    actions += [
        {"add_dv": dv_target[p]} for p in sorted(dv_target) if p not in dv_current
    ]
    if not actions:
        return current_version(path)  # already at that snapshot
    return _commit(path, actions)


def vacuum(path: str, keep_last: int = 1) -> list[str]:
    """Physically delete data files no retained version references —
    the Delta/Iceberg VACUUM. ``keep_last`` versions (counting back
    from the current one) stay fully readable; time travel below the
    retention window is no longer guaranteed after a vacuum.

    Only files the LOG records as removed are candidates: a file the
    log has never seen is either an in-flight writer's staging output
    or foreign data, and deleting it would race the commit protocol
    (Delta solves the same problem with a modification-time horizon;
    the log-derived candidate set needs no clock at all). The live
    set of every retained version is untouched by construction, so
    vacuum never needs a table lock: it reads the log once, driver-
    side, and unlinks — O(files removed), never O(table).

    Returns the table-relative paths actually deleted, sorted.
    """
    current = current_version(path)
    cutoff = max(current - keep_last + 1, 0)
    added_at: dict[str, int] = {}
    removed_at: dict[str, int] = {}
    for c in _read_log(path):
        for a in c["actions"]:
            if "add" in a:
                added_at.setdefault(a["add"]["path"], c["version"])
                removed_at.pop(a["add"]["path"], None)
            elif "remove" in a:
                removed_at[a["remove"]["path"]] = c["version"]
            # DV sidecars follow the same retention rule: a sidecar
            # retired (remove_dv, from restore) before the retention
            # window can never be read by a retained version, and a
            # restore below the window already raises on missing
            # files — so it is reclaimable exactly like a removed
            # data file. REGISTERED-ness is the criterion (not
            # live-target activity, which would need sidecar reads):
            # conservative, keeps strictly more.
            elif "add_dv" in a:
                added_at.setdefault(a["add_dv"]["path"], c["version"])
                removed_at.pop(a["add_dv"]["path"], None)
            elif "remove_dv" in a:
                removed_at[a["remove_dv"]["path"]] = c["version"]
    deleted = []
    for rel, rv in removed_at.items():
        # referenced by some retained version v in [cutoff, current]
        # iff added_at <= v < removed_at for that v
        if rv > cutoff:
            continue
        # foreign reference (shallow clone of another table): the
        # file belongs to the SOURCE table's log, which may still
        # reference it — never physically delete across table roots
        # (the documented Delta shallow-clone vacuum rule). Foreign =
        # absolute (pre-relative-log) or escaping the table root.
        if os.path.isabs(rel) or rel.split(os.sep, 1)[0] == "..":
            continue
        fpath = _abs(path, rel)
        if os.path.exists(fpath):
            os.remove(fpath)
            deleted.append(rel)
    return sorted(deleted)


# ---------------------------------------------------------------------------
# Deletion vectors — merge-on-read deletes
# ---------------------------------------------------------------------------

def _live_dv_adds(path: str, version: int | None = None) -> list[dict]:
    """Active ``add_dv`` entries (path + n) as of ``version``:
    ``add_dv`` registers a sidecar, ``remove_dv`` (committed by
    :func:`restore` when rolling back past a MOR delete) retires it.
    Staleness (DVs whose target file has since been rewritten) is
    filtered at READ time against the live file set, not here — the
    log itself stays append-only."""
    out: dict[str, dict] = {}
    for c in _read_log(path, version):
        for a in c["actions"]:
            if "add_dv" in a:
                out[a["add_dv"]["path"]] = a["add_dv"]
            elif "remove_dv" in a:
                out.pop(a["remove_dv"]["path"], None)
    return list(out.values())


def _live_dvs(path: str, version: int | None = None) -> list[str]:
    return [a["path"] for a in _live_dv_adds(path, version)]


def delete_where_dv(spark: SparkSession, path: str, predicate) -> int:
    """Merge-on-read delete: instead of rewriting every touched file
    (copy-on-write — :func:`delete_where`), record the matching rows'
    (file, position) pairs in a deletion-vector sidecar and log one
    ``add_dv`` action. The write cost is proportional to the DELETED
    rows, not the touched files — the reason Delta/Iceberg grew DV
    support: a one-row delete in a 1 GB file costs bytes, not a
    gigabyte rewrite. Readers apply active DVs as an anti-join on
    (file name, row position) from parquet's ``_metadata.row_index``;
    at 100 TB a production reader pushes per-file position bitmaps
    into the scan instead of the broadcast anti-join, same contract.

    Returns the commit version (unchanged if nothing matched)."""
    _require_not_partitioned(path, "delete_where_dv")
    files = live_files(path)
    if not files:
        raise FileNotFoundError(f"empty txlog table at {path}")
    base = spark.read.option("mergeSchema", "true").parquet(*files)
    m, dropped = _fold_schema(path)
    hits = (
        _to_logical(_tag_positions(base), m, dropped)
        .filter(predicate)  # predicate binds LOGICAL names
        .select("_dv_file", "_dv_pos")
    )
    # rows already MOR-deleted by an earlier sidecar must not be
    # recorded again: the read path's distinct() would keep results
    # correct anyway, but the sidecar's cardinality (and the change
    # feed's add_dv delta) should describe NEWLY deleted rows only
    prev = _dv_pair_df(spark, path, None)
    if prev is not None:
        hits = hits.join(F.broadcast(prev), ["_dv_file", "_dv_pos"], "left_anti")
    n = hits.count()
    if n == 0:
        return current_version(path)
    rel = os.path.join("dv", f"{uuid.uuid4().hex}.parquet")
    final = _abs(path, rel)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    staging = os.path.join(_data_dir(path), f"_staging_{uuid.uuid4().hex}")
    hits.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        name for name in sorted(os.listdir(staging)) if name.endswith(".parquet")
    )
    os.rename(os.path.join(staging, part), final)
    for name in os.listdir(staging):
        os.remove(os.path.join(staging, name))
    os.rmdir(staging)
    return _commit(path, [{"add_dv": {"path": rel, "n": n}}])


def materialize_dvs(spark: SparkSession, path: str) -> int:
    """Fold active deletion vectors into the data: rewrite each
    DV-touched live file with its deletions applied (COW), after
    which the old files — and with them the DVs' relevance — leave
    the live set. This is the maintenance op that must run before
    file-rewriting operations (compact/z-order/COW-delete/merge),
    which read raw files and would otherwise RESURRECT DV-deleted
    rows; those ops refuse while DVs are active (_require_no_dvs).

    Returns the commit version (unchanged if no DVs are active)."""
    dv = _dv_pair_df(spark, path, None)
    if dv is None:
        return current_version(path)
    live_names = {os.path.basename(p): p for p in _live_rel(path)}
    # bounded collect: one file NAME per DV-touched file
    touched = sorted({r["_dv_file"] for r in dv.select("_dv_file").distinct().collect()})
    if not touched:
        # sidecars are registered but none targets a live file (all
        # targets already rewritten away — e.g. a COW delete emptied
        # the table after the MOR delete): nothing to fold
        return current_version(path)
    # rewrite every touched file in ONE job (read together, one
    # anti-join, one write) instead of a read+write job pair PER
    # file — the per-file loop cost 16 sequential jobs on a 16-file
    # table (14.7 s in the bench's E2d extra) for work that is a
    # single scan's worth of data. Untouched files are never read.
    keep = _with_dvs(
        spark,
        path,
        spark.read.option("mergeSchema", "true").parquet(
            *[_abs(path, live_names[f]) for f in touched]
        ),
        None,
    )
    actions: list[dict] = [
        {"remove": {"path": live_names[f]}} for f in touched
    ]
    actions.extend(_write_data_files(keep, path))
    return _commit(path, actions)


def _has_active_dvs(path: str) -> bool:
    """True if any deletion-vector sidecar still targets a LIVE file
    (a sidecar whose targets were all rewritten is stale metadata).
    Cheap driver probe: sidecars are deleted-row-sized."""
    live = {os.path.basename(p) for p in _live_rel(path)}
    for rel in _live_dvs(path):
        if os.path.exists(_abs(path, rel)):
            import pyarrow.parquet as pq

            t = pq.read_table(_abs(path, rel), columns=["_dv_file"])
            if any(f in live for f in t.column("_dv_file").to_pylist()):
                return True
    return False


def _require_no_dvs(path: str, op: str) -> None:
    """File-rewriting ops read raw parquet; running them over a table
    with active DVs would resurrect deleted rows. Refuse loudly."""
    if _has_active_dvs(path):
        raise RuntimeError(
            f"{op}: table at {path} has active deletion vectors; "
            "run materialize_dvs() first (file-rewriting ops over "
            "raw files would resurrect DV-deleted rows)"
        )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance over the change feed
# ---------------------------------------------------------------------------

def incremental_mv(
    spark: SparkSession,
    path: str,
    keys: list[str],
    value_col: str,
    from_version: int,
    to_version: int,
    mv: DataFrame | None = None,
) -> DataFrame:
    """Maintain a COUNT/SUM-per-key materialized view across commits
    ``(from_version, to_version]`` by applying each commit's change
    feed as a group delta — classic incremental view maintenance:
    inserts add (+1, +value), deletes subtract, and a group whose
    count reaches zero leaves the view. COUNT and SUM are
    self-maintainable, so no commit ever triggers a base-table
    rescan; cost per commit is O(rows the commit changed), which is
    the entire point versus recomputing an aggregate over 100 TB
    after every write.

    ``value_col`` must be an EXACT (integer) column — incremental
    subtraction re-orders float reductions, so callers aggregate
    cents/micros, not doubles (the repo's float policy applied to
    maintenance).

    ``mv`` seeds the view (default: computed from the snapshot at
    ``from_version`` — schema ``keys + [n_rows, total]``). ``keys``/
    ``value_col`` bind the names active over the WHOLE range: a
    column rename inside (from_version, to_version] changes the
    per-commit feed's names mid-range and the delta aggregation
    fails loudly on the missing column — re-seed the view at the
    rename boundary (one snapshot aggregate) and continue under the
    new names. Works
    through every commit type because changes() is DV-aware: COW and
    MOR deletes emit delete rows, restores emit the resurrection,
    compaction and materialize_dvs emit EMPTY feeds (no-op deltas),
    and metadata-only commits (constraints, bloom indexes) are
    skipped. The view is checkpointed per applied commit — its size
    is the group count, i.e. the view itself, never the base table.
    At production scale the view lives as its own txlog table and
    the merge step is merge_upsert keyed on ``keys``; the algebra
    here is identical.
    """
    _require_not_partitioned(path, "incremental_mv")
    if mv is None:
        mv = (
            snapshot(spark, path, from_version)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(value_col).cast("long").alias("total"),
            )
        )
    for v in range(from_version + 1, to_version + 1):
        # a MISSING version must fail loudly (a silent skip would
        # return a view labeled as maintained through to_version that
        # actually stopped at the head — r9 review finding); only
        # metadata-only commits (constraints, bloom indexes) are
        # legitimate no-ops
        if not os.path.exists(_commit_path(path, v)):
            raise ValueError(f"version {v} not found at {path}")
        # decide "metadata-only" by INSPECTING the commit's actions,
        # not by catching ValueError around changes(): JSONDecodeError
        # subclasses ValueError, so a try/except here would silently
        # skip a CORRUPT commit file and return a view labeled as
        # maintained through to_version that missed a data commit —
        # the exact failure the missing-version check above exists to
        # prevent (r9 advisor finding). A malformed commit now raises.
        with open(_commit_path(path, v)) as f:
            acts = json.load(f)["actions"]
        if not any(
            k in a for a in acts for k in ("add", "remove", "add_dv", "remove_dv")
        ):
            continue  # metadata-only commit: nothing to maintain
        cdf = changes(spark, path, v)
        ins = F.col("_change_type") == "insert"
        delta = cdf.groupBy(*keys).agg(
            F.sum(F.when(ins, 1).otherwise(-1)).cast("long").alias("_d_n"),
            F.sum(
                F.when(ins, F.col(value_col)).otherwise(-F.col(value_col))
            ).cast("long").alias("_d_t"),
        )
        mv = (
            mv.join(delta, keys, "full_outer")
            .select(
                *keys,
                (
                    F.coalesce(F.col("n_rows"), F.lit(0))
                    + F.coalesce(F.col("_d_n"), F.lit(0))
                ).alias("n_rows"),
                (
                    F.coalesce(F.col("total"), F.lit(0))
                    + F.coalesce(F.col("_d_t"), F.lit(0))
                ).alias("total"),
            )
            .filter(F.col("n_rows") > 0)
            .localCheckpoint()  # view-sized, keeps lineage O(1) per commit
        )
    return mv


# ---------------------------------------------------------------------------
# Idempotent appends — the exactly-once streaming sink contract
# ---------------------------------------------------------------------------

def last_txn_version(path: str, app_id: str) -> int | None:
    """Highest transaction version committed by ``app_id`` (None if
    the app never wrote). One driver-side log replay — the same read
    the snapshot already does."""
    best: int | None = None
    for c in _read_log(path):
        for a in c["actions"]:
            t = a.get("txn")
            if t and t["app"] == app_id:
                best = t["version"] if best is None else max(best, t["version"])
    return best


def append_idempotent(
    df: DataFrame, path: str, app_id: str, txn_version: int
) -> int:
    """Append that commits AT MOST ONCE per (app_id, txn_version) —
    the Delta txnAppId/txnVersion idempotent-writes contract that
    makes a Structured Streaming ``foreachBatch`` sink exactly-once:
    the batch id is the transaction version, so a replayed batch
    (failure between the sink write and the checkpoint commit — the
    classic at-least-once window) sees its version already in the
    log and becomes a no-op instead of duplicate rows.

    The ``txn`` action rides the SAME commit as the file adds, so
    the data and the idempotency marker are atomic: a crash before
    the commit leaves neither, a crash after leaves both. Replays
    must be monotone per app (Structured Streaming batch ids are);
    one active writer per app_id is the streaming engine's own
    guarantee, which is what makes check-then-commit sufficient.

    Returns the commit version (current version unchanged when the
    batch was already applied)."""
    # bootstrap: a foreachBatch sink's FIRST batch may target a table
    # that doesn't exist yet — commit 0 is then that batch plus its
    # marker, still one atomic commit
    os.makedirs(_log_dir(path), exist_ok=True)
    os.makedirs(_data_dir(path), exist_ok=True)
    known = last_txn_version(path, app_id)
    if known is not None and txn_version <= known:
        return current_version(path)
    _validate_constraints(df, path)
    _reject_tombstoned(df, path)
    # partitioned tables route through the partitioned writer exactly
    # like append() — without this, a streaming sink pointed at a
    # partitioned table would commit partition-LESS adds that every
    # pruned read silently misses (r13 ADVICE item 1)
    part = _partitioning(path)
    if part is not None:
        missing = [c for c in part["cols"] if c not in df.columns]
        if missing:
            raise ValueError(
                f"append_idempotent missing partition columns: {missing}"
            )
        actions = _write_data_files_partitioned(
            _to_physical(df, _mapping(path)), path, part["cols"]
        )
    else:
        actions = _write_data_files(_to_physical(df, _mapping(path)), path)
    actions.append({"txn": {"app": app_id, "version": int(txn_version)}})
    return _commit(path, actions)


def foreach_batch_sink(path: str, app_id: str):
    """Adapter for ``writeStream.foreachBatch``: routes every micro-
    batch through :func:`append_idempotent` keyed on the engine's
    batch id, turning the at-least-once foreachBatch contract into
    exactly-once table state."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_idempotent(batch_df, path, app_id, batch_id)

    return sink


def create_empty(path: str) -> int:
    """Table birth as a metadata-only commit 0 (no data files) — the
    seed for pipelines whose FIRST batch must already be atomic with
    an idempotency marker (:func:`replicate_changes`): data+marker
    ride commit 1+, so a crash between table creation and the first
    delivery leaves a clean resume point instead of a half-applied
    batch. Reading an empty table raises (same contract as a missing
    table) until the first data commit lands."""
    if os.path.exists(_log_dir(path)) and _read_log(path):
        raise FileExistsError(f"txlog table already exists at {path}")
    os.makedirs(_log_dir(path), exist_ok=True)
    os.makedirs(_data_dir(path), exist_ok=True)
    return _commit(path, [])


def replicate_changes(
    spark: SparkSession,
    src: str,
    dst: str,
    app_id: str,
    to_version: int | None = None,
) -> int:
    """Exactly-once change-feed replication — the end-to-end pipeline
    the streaming CDF source + idempotent sink compose into: every
    unprocessed commit of ``src`` is delivered to ``dst`` as one
    atomic batch of audit rows (src schema + ``_change_type`` +
    ``_src_version``), keyed idempotently on (``app_id``, src
    version).

    Resume is pure log metadata: the last delivered src version IS
    ``last_txn_version(dst, app_id)``, so a crashed or replayed run
    re-derives its position from ``dst``'s own log — no side channel,
    and a re-delivery of an already-committed version is a no-op
    (the at-least-once window closes exactly as in
    :func:`append_idempotent`). Metadata-only src commits deliver no
    rows but still advance the marker with a metadata-only commit,
    so progress is monotone across them.

    Audit rows carry the LOGICAL column names active at each source
    version (changes() is version-faithful), so a rename inside the
    replicated range widens the destination schema: pre-rename rows
    keep the old column, post-rename rows the new one, NULLs across —
    a faithful audit of what each version actually published.
    Downstream consumers wanting one column coalesce the pair.

    Per-call cost: O(commits delivered) driver log reads + each
    commit's :func:`changes` feed (proportional to rows the commit
    touched, never table size). At 100 TB this is the tail-the-table
    loop a scheduler runs per trigger; the same call is directly
    usable inside ``foreachBatch``.

    Returns the src version delivered through (= the new marker)."""
    _require_not_partitioned(src, "replicate_changes")
    if to_version is None:
        to_version = current_version(src)
    done = last_txn_version(dst, app_id)
    start = 0 if done is None else done + 1
    if to_version < start:
        # nothing new below the marker: report the TRUE position, not
        # the smaller requested bound (a caller persisting the return
        # as its cursor must never move backwards)
        return done
    if not os.path.exists(_log_dir(dst)):
        create_empty(dst)
    for v in range(start, to_version + 1):
        if not os.path.exists(_commit_path(src, v)):
            raise ValueError(f"version {v} not found at {src}")
        with open(_commit_path(src, v)) as f:
            acts = json.load(f)["actions"]
        has_data = any(
            k in a for a in acts for k in ("add", "remove", "add_dv", "remove_dv")
        )
        if has_data:
            batch = changes(spark, src, v).withColumn(
                "_src_version", F.lit(v).cast("long")
            )
            append_idempotent(batch, dst, app_id, v)
        else:
            # metadata-only commit: advance the marker atomically so
            # resume never re-inspects it (an idle marker commit is
            # one tiny log write)
            known = last_txn_version(dst, app_id)
            if known is None or v > known:
                _commit(dst, [{"txn": {"app": app_id, "version": int(v)}}])
    return to_version


# ---------------------------------------------------------------------------
# Multi-table atomic transactions — WAL/redo two-phase commit
# ---------------------------------------------------------------------------
#
# Neither Delta nor Iceberg offers multi-table transactions in the
# open format; the standard production answer (and the shape Delta's
# coordinated-commits work standardizes) is an OUTER write-ahead
# manifest plus per-table redo. A pipeline's "write features AND
# update the index" becomes all-or-nothing:
#
#   phase 1  stage every table's data files (invisible until a
#            commit references them);
#   phase 2  atomically publish ONE manifest listing every intended
#            per-table commit — this rename is the transaction's
#            commit point;
#   phase 3  apply each table's commit, tagged with the manifest id;
#   phase 4  mark the manifest done.
#
# A crash before phase 2 leaves only orphaned staged files (vacuum
# fodder) — the transaction never happened. A crash during phase 3/4
# leaves a pending manifest; :func:`recover_multi` REDOES the missing
# per-table commits idempotently (each table's log is checked for the
# manifest id before re-applying), after which every table contains
# the transaction. Readers get eventual all-or-nothing: the manifest
# directory is the source of truth for transaction completeness, and
# `pending_multi` exposes in-doubt transactions for barriers.


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "_mtxn")


def commit_multi(
    appends: list[tuple[DataFrame, str]],
    txn_root: str,
    _fail_after: int | None = None,
) -> str:
    """Atomically append one batch to EACH listed table. ``txn_root``
    hosts the manifest directory (typically the tables' common
    parent). Returns the manifest id.

    ``_fail_after`` is a fault-injection hook for tests: crash after
    applying that many per-table commits (phases 1-2 complete), so
    recovery paths are provable — the Delta fault-injection testing
    pattern."""
    import uuid as _uuid

    mdir = _manifest_dir(txn_root)
    os.makedirs(mdir, exist_ok=True)
    mid = _uuid.uuid4().hex
    # phase 1: stage data files per table (no table-log commits yet)
    entries = []
    for df, path in appends:
        os.makedirs(_log_dir(path), exist_ok=True)
        os.makedirs(_data_dir(path), exist_ok=True)
        _validate_constraints(df, path)
        _reject_tombstoned(df, path)
        # same partitioned-table routing as append()/append_idempotent:
        # a partitioned member of a multi-table transaction must stage
        # adds that carry partitionValues (r13 ADVICE item 2)
        part = _partitioning(path)
        if part is not None:
            missing = [c for c in part["cols"] if c not in df.columns]
            if missing:
                raise ValueError(
                    f"commit_multi missing partition columns for "
                    f"{path}: {missing}"
                )
            actions = _write_data_files_partitioned(
                _to_physical(df, _mapping(path)), path, part["cols"]
            )
        else:
            actions = _write_data_files(
                _to_physical(df, _mapping(path)), path
            )
        entries.append({"table": os.path.abspath(path), "actions": actions})
    # phase 2: publish the manifest — THE atomic commit point
    tmp = os.path.join(mdir, f".{mid}.tmp")
    with open(tmp, "w") as f:
        json.dump({"id": mid, "entries": entries}, f)
    os.rename(tmp, os.path.join(mdir, f"{mid}.json"))
    # phase 3: per-table redo (identical to what recover_multi replays;
    # the marker-checked commit loop makes writer/recoverer races safe)
    for i, e in enumerate(entries):
        if _fail_after is not None and i >= _fail_after:
            return mid  # simulated crash mid-redo; manifest stays pending
        _commit_mtxn(e["table"], e["actions"] + [{"mtxn": mid}], mid)
    # phase 4: done marker (idempotent flag file, not a rename — a
    # recovering process may race the original writer harmlessly)
    with open(os.path.join(mdir, f"{mid}.done"), "w") as f:
        f.write("")
    return mid


def _commit_mtxn(path: str, actions: list[dict], mid: str) -> None:
    """Commit a manifest entry AT MOST ONCE, race-free: a recoverer
    may run while the original writer is still alive (or two
    recoverers may race), and a plain check-then-commit would
    double-apply in that window. The O_EXCL version file makes each
    version single-winner, so looping read→check-mid→try gives the
    loser a fresh log that already CONTAINS the winner's marker —
    the standard optimistic-commit shape, specialized to the
    marker predicate. Entries are pure adds + marker (no removes),
    so _commit's stale-remove validation is not needed."""
    while True:
        commits = _read_log(path)
        if any(a.get("mtxn") == mid for c in commits for a in c["actions"]):
            return  # already applied by the writer or another recoverer
        version = commits[-1]["version"] + 1 if commits else 0
        if _try_commit(path, version, actions):
            return


def pending_multi(txn_root: str) -> list[str]:
    """Manifest ids published but not marked done — in-doubt
    transactions a barrier should resolve via :func:`recover_multi`."""
    mdir = _manifest_dir(txn_root)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json") and not name.startswith("."):
            mid = name[: -len(".json")]
            if not os.path.exists(os.path.join(mdir, f"{mid}.done")):
                out.append(mid)
    return out


def recover_multi(txn_root: str) -> list[str]:
    """Redo every pending transaction: apply each manifest entry
    whose table log does not yet carry the manifest id, then mark the
    manifest done. Idempotent and crash-safe — rerunning after any
    partial recovery converges to every table containing every
    published transaction. Returns the recovered manifest ids."""
    mdir = _manifest_dir(txn_root)
    done = []
    for mid in pending_multi(txn_root):
        with open(os.path.join(mdir, f"{mid}.json")) as f:
            manifest = json.load(f)
        for e in manifest["entries"]:
            _commit_mtxn(e["table"], e["actions"] + [{"mtxn": mid}], mid)
        with open(os.path.join(mdir, f"{mid}.done"), "w") as f:
            f.write("")
        done.append(mid)
    return done


def vacuum_orphans(
    path: str, min_age_seconds: float = 3600.0, txn_root: str | None = None
) -> list[str]:
    """Delete data-dir files the log has NEVER referenced and whose
    mtime is older than ``min_age_seconds`` — the debris of crashed
    writers (a :func:`commit_multi` that died in phase 1, an append
    killed between staging rename and commit). Regular :func:`vacuum`
    deliberately refuses these (it is clock-free and only reclaims
    log-recorded removals); orphan reclamation is inherently
    clock-based, exactly like Delta's modification-time horizon: the
    age gate is what keeps an IN-FLIGHT writer's freshly renamed
    file safe, so the horizon must exceed the longest plausible
    stage→commit window. Sidecar (dv/) orphans from aborted MOR
    deletes are reclaimed by the same rule.

    Files staged by a PENDING multi-table transaction are not yet in
    the table's log but ARE referenced by a published manifest that
    :func:`recover_multi` will redo — deleting them would corrupt
    recovery. Manifests are discovered via ``txn_root`` (default:
    the table's parent directory, :func:`commit_multi`'s typical
    root) and their entries for this table count as referenced,
    whether pending or done. Returns the table-relative paths
    deleted, sorted."""
    import time

    # compare by REAL ABSOLUTE path: legacy logs may record absolute
    # add paths, and a relative-string comparison against them would
    # classify a LIVE file as an orphan and delete it
    referenced: set = set()
    for c in _read_log(path):
        for a in c["actions"]:
            for k in ("add", "remove", "add_dv", "remove_dv"):
                if k in a:
                    referenced.add(os.path.realpath(_abs(path, a[k]["path"])))
    if txn_root is None:
        txn_root = os.path.dirname(os.path.abspath(path))
    mdir = _manifest_dir(txn_root)
    if os.path.isdir(mdir):
        me = os.path.abspath(path)
        for name in os.listdir(mdir):
            if not name.endswith(".json") or name.startswith("."):
                continue
            with open(os.path.join(mdir, name)) as f:
                for e in json.load(f)["entries"]:
                    if os.path.abspath(e["table"]) == me:
                        referenced.update(
                            os.path.realpath(_abs(path, a["add"]["path"]))
                            for a in e["actions"]
                            if "add" in a
                        )
    now = time.time()
    deleted = []
    for sub in ("data", "dv"):
        d = os.path.join(path, sub)
        if not os.path.isdir(d):
            continue
        for name in sorted(os.listdir(d)):
            full = os.path.join(d, name)
            rel = os.path.join(sub, name)
            if os.path.isdir(full):
                # a _staging_<uuid> directory is never referenced by
                # any log or manifest (files are renamed OUT of it
                # before commit), so one left behind is a writer that
                # crashed mid-phase-1 — reclaimable once its NEWEST
                # mtime (the dir itself or any file still inside)
                # clears the same in-flight horizon as loose files
                if not name.startswith("_staging_"):
                    continue  # unknown dirs are not ours to delete
                try:
                    mtimes = [os.path.getmtime(full)] + [
                        os.path.getmtime(os.path.join(root, fn))
                        for root, _, fns in os.walk(full)
                        for fn in fns
                    ]
                except OSError:
                    # a LIVE writer renamed a file out from under the
                    # walk — by definition inside the in-flight
                    # horizon, so keep the dir and keep vacuuming
                    continue
                if now - max(mtimes) < min_age_seconds:
                    continue  # a live writer may still be staging
                import shutil

                shutil.rmtree(full)
                deleted.append(rel)
                continue
            if os.path.realpath(full) in referenced:
                continue
            if now - os.path.getmtime(full) < min_age_seconds:
                continue  # inside the in-flight horizon
            os.remove(full)
            deleted.append(rel)
    # log-dir debris: a writer that crashed between os.link and the
    # tmp unlink (_try_commit) strands '<version>.json.<hex>.tmp'; a
    # checkpoint_log killed mid-write strands '_ckpt_tmp_<hex>'.
    # Readers never match these names, but no other path reclaims
    # them. Name-gated (never anything a reader could be using) and
    # age-gated like data orphans — a LIVE writer's tmp is seconds old.
    ld = _log_dir(path)
    if os.path.isdir(ld):
        for name in sorted(os.listdir(ld)):
            if not (name.endswith(".tmp") or name.startswith("_ckpt_tmp_")):
                continue
            full = os.path.join(ld, name)
            if not os.path.isfile(full):
                continue
            if now - os.path.getmtime(full) < min_age_seconds:
                continue
            os.remove(full)
            deleted.append(os.path.join("_txlog", name))
    return sorted(deleted)
