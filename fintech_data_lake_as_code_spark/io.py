"""Table loaders over the driver-materialized parquet test data.

Spark analog of the reference's sources: the full-load scan of the OLTP
table (reference lib/fin-transactions-stack.ts:161) becomes a columnar
parquet scan with pushdown; everything downstream is a DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Scratch space for queries that need a sink side (partitioned writes,
# json/text round-trips, streaming sources). Never under /root/testdata.
# Must stay HOST-LOCAL: pid_scratch_dir's dead-owner sweep assumes one
# PID namespace (see its docstring) — never point this at a shared mount.
SCRATCH_ROOT = os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/spark_graft_scratch")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    # All event-time semantics are UTC (the reference lake is UTC-hour
    # bucketed; the DuckDB oracle is TZ-naive). Pin the session so results
    # don't depend on the caller's JVM default timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize `events.ts` to a proper TimestampType (UTC) regardless of
    how the generator wrote it:
    - TIMESTAMP(NANOS): Spark's reader rejects it ([PARQUET_TYPE_ILLEGAL]);
      read nanos as int64 and convert (integer DIV, not `/` — nanos since
      epoch ~1.7e18 exceed double's 53-bit mantissa);
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as TIMESTAMP_NTZ,
      which strict functions like `unix_micros` reject — cast to TIMESTAMP
      (session tz is pinned UTC above, so the wall clock IS the instant,
      matching the TZ-naive DuckDB oracle)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def cpu_spread(
    df: DataFrame, *keys: str, keep_exchange: bool = False
) -> DataFrame:
    """Spread a scan-rooted, CPU-bound relation over the core budget,
    but only when its scan layout cannot already do so.

    This module owns the spread policy: call sites pick `cpu_spread`
    (scan-rooted input) or `width_preserving_spread` (mid-plan input)
    and never size a spread themselves. Why spread at all: the lake's
    inputs are byte-small files of one or a few row groups, so parquet's
    byte-based splits hand a whole table to 1-2 tasks, while the
    consumers (shingling, gram explosion, cosines over higher-order
    functions, profile stacks) are CPU-bound. Why gate it: the same
    `repartition(cores, key)` on a wide production scan would coalesce
    thousands of splits down to the core count and shuffle a corpus that
    byte splitting already parallelized. So the spread runs only when
    the scan has fewer files than cores AND fewer estimated bytes than
    cores x maxPartitionBytes. Both probes are metadata-only (the cached
    file index, the optimizer's size estimate); no job runs. Otherwise
    the input passes through unchanged: a spread never narrows.

    A probe that raises (a non-file source, drift in Spark internals)
    leaves the layout unknown, and an unknown layout counts as wide:
    passing through can cost local parallelism, narrowing can cost a
    production scan its width.

    `keep_exchange=True` is for callers whose repartition also replaces
    a heavier downstream shuffle (e.g. one carrying exploded grams): on
    the wide path the exchange stays, with its width left to
    shuffle.partitions and AQE coalescing (`repartition(*keys)`).

    The spread hash-partitions on the given keys, which is deterministic
    under task retry, and callers use floats per row or integer-exactly
    before any cross-row reduce, so partitioning cannot move a result."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
        # py4j converts the scala BigInt to a Python int; str() round-trip
        # keeps this working if a future build hands back a JavaObject
        est_bytes = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        max_split = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        already_wide = n_files >= cores or est_bytes >= cores * max_split
    except Exception:  # non-file plan, internals drift: layout unknown
        already_wide = True
    if not already_wide:
        return df.repartition(cores, *keys)
    if keep_exchange:
        return df.repartition(*keys)
    return df


def width_preserving_spread(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a mid-plan relation to max(cores, shuffle.partitions).

    The input sits above an exchange, so a layout probe would have to
    run the plan; the width comes from configuration instead. An
    explicit partition count is the point: AQE sizes partitions by
    shuffle bytes and would coalesce a small but CPU-bound relation
    (verify pairs, a micro-batch, a window's input) to one task, and it
    never re-coalesces an explicit count. Taking the max with
    shuffle.partitions keeps the spread from narrowing a relation below
    the width its producing shuffle was configured for. Locally the two
    are equal, so this is `repartition(cores, *keys)`."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        width = max(cores, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):  # pragma: no cover — exotic conf value
        width = cores
    return df.repartition(width, *keys)


def sf_tag(sf_dir: str) -> str:
    """Collision-safe scratch tag for a dataset root: its basename (human-
    readable) plus a short hash of the ABSOLUTE path. Basename alone
    collided two datasets whose paths share a final component (e.g.
    /a/sf0.1 and /b/sf0.1), and every marker-guarded reuse (the
    `seeded_landing` artifacts) would then serve one dataset's files to
    the other."""
    import hashlib

    norm = os.path.normpath(os.path.abspath(sf_dir))
    base = os.path.basename(norm) or "sf"
    return f"{base}-{hashlib.sha256(norm.encode()).hexdigest()[:8]}"


def scratch_dir(sf_dir: str, key: str) -> str:
    """Per-(scale-factor, query) scratch directory."""
    path = os.path.join(SCRATCH_ROOT, sf_tag(sf_dir), key)
    os.makedirs(path, exist_ok=True)
    return path


def pid_scratch_path(sf_dir: str, key: str) -> str:
    """This process's pid-keyed scratch path, WITHOUT the clear-on-entry
    side effect of `pid_scratch_dir` — for inspectors (tests, audits)
    that need to look at what a just-run key left behind. Calling
    `pid_scratch_dir` to 'find' the dir would wipe it first."""
    return os.path.join(scratch_dir(sf_dir, key), f"pid{os.getpid()}")


def pid_scratch_dir(sf_dir: str, key: str, clear: bool = True) -> str:
    """Per-PROCESS scratch subdir `<scratch>/<key>/pid<N>`, cleared on
    entry so a rerun within one process is deterministic. Pass
    ``clear=False`` for per-process state that must SURVIVE re-entry
    within one process (a marker-guarded per-process seed: the Derby
    database) — dead peers' dirs are still swept, only the
    clear-on-entry side effect is skipped. A single
    shared dir raced concurrent sessions over the same sf_dir (one
    process rmtree'd the sink/checkpoint/source a peer's RUNNING
    streaming query was using — ADVICE r14 on stream_watermark_late; the
    same hazard applies to every streaming key that clears its scratch
    up front), while a uuid-per-run dir leaked a full copy per
    invocation with nothing ever reclaiming it. PID keying gives each
    process its own dir; dirs left by DEAD processes are swept here so
    growth stays bounded (kill-0 probe: within ONE host's PID namespace
    a PID is never shared by two live processes, so a live peer's dir
    cannot be swept); non-pid entries are not ours to sweep.

    SAME-HOST ASSUMPTION: the kill-0 probe is only sound when every
    process sharing the scratch root shares one PID namespace. Pointing
    SPARK_GRAFT_SCRATCH at a mount shared across containers/hosts would
    make a live REMOTE peer's pid dir probe as dead (ProcessLookupError)
    and get swept — reintroducing the race this helper closes. Keep the
    scratch root host-local (the default under /tmp is)."""
    import shutil

    base = scratch_dir(sf_dir, key)
    for d in os.listdir(base):
        if not d.startswith("pid"):
            continue
        try:
            owner = int(d[3:])
        except ValueError:
            continue
        if owner == os.getpid():
            continue
        try:
            os.kill(owner, 0)  # signal 0: existence probe, no delivery
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        except PermissionError:
            pass  # alive under another uid — a live peer, leave it
    mine = pid_scratch_path(sf_dir, key)
    if clear:
        shutil.rmtree(mine, ignore_errors=True)
    return mine


def write_marker(path: str, text: str) -> None:
    """Write a small marker file so it is always ABSENT or COMPLETE,
    never empty/torn: temp sibling + fsync + atomic os.replace. A bare
    open(w)+write leaves an empty marker on a crash between the two
    calls, and an empty marker reads as a MISMATCHED fingerprint —
    forcing a silent full rebuild every later session (self-healing,
    but defeats the pay-once layout). The fsync before the rename
    extends the guarantee from process crashes to power loss: without
    it, common filesystems may replay the rename before the data blocks
    land and surface an empty renamed file (the failure direction would
    still be the safe forced rebuild, but the contract says COMPLETE).
    `seeded_landing` writes every local `_SEED` marker through it; the
    lake-scheme analog is streaming.queries._fs_write_text."""
    import time
    import uuid

    # sweep orphaned temp siblings a crashed writer left behind — but
    # ONLY stale ones (a live peer's in-flight temp is milliseconds old;
    # unlinking it would break the peer's os.replace), and never this
    # write's own temp
    d, base = os.path.split(path)
    cutoff = time.time() - 3600
    try:
        for f in os.listdir(d or "."):
            if not f.startswith(base + ".tmp."):
                continue
            p = os.path.join(d, f)
            try:
                if os.path.getmtime(p) < cutoff:
                    os.unlink(p)
            except OSError:
                pass  # raced with a peer's sweep/replace — already gone
    except OSError:
        pass  # unreadable dir: the marker write below will raise anyway

    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(text if text.endswith("\n") else text + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def source_fingerprint(*paths: str) -> str:
    """Cheap identity of source data: sha256 over each file's
    (relative-name, size, mtime_ns), recursing into directories.
    Layout/seed markers fold this in so REGENERATING the source (same
    path, new rows) invalidates derived artifacts instead of silently
    serving rows computed from the old data. mtime is deliberately part
    of the identity: a touch forces one rebuild (safe direction), a
    content change never goes unnoticed (the unsafe one)."""
    import hashlib

    h = hashlib.sha256()
    for root in sorted(paths):
        if os.path.isdir(root):
            for dirpath, dirnames, filenames in os.walk(root):
                dirnames.sort()
                for f in sorted(filenames):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    rel = os.path.relpath(p, root)
                    h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
        else:
            st = os.stat(root)
            h.update(
                f"{os.path.basename(root)}:{st.st_size}:{st.st_mtime_ns};".encode()
            )
    return h.hexdigest()[:16]


def module_fingerprint(*modules, sources=()) -> str | None:
    """sha256 of each module's source file, joined with ':' in argument
    order, then the `source_fingerprint` of `sources` if any; None when
    any can't be read (bytecode-only install, zipimport, missing source).
    Seed/landing markers record this so a derivation-code change or a
    source rewritten in place reseeds instead of serving stale rows;
    None means "unverifiable — always reseed"."""
    import hashlib

    digests = []
    try:
        for module in modules:
            with open(module.__file__, "rb") as fh:
                digests.append(hashlib.sha256(fh.read()).hexdigest())
        if sources:
            digests.append(source_fingerprint(*sources))
    except (OSError, TypeError, AttributeError):
        return None
    return ":".join(digests)


# (applicationId, name, sources) -> (source fingerprint, value)
_SESSION_MEMO: dict[tuple, tuple[str, object]] = {}


def session_memo(spark: SparkSession, name: str, sources, build):
    """The one in-session reuse mechanism: `build()`'s value, kept per
    (applicationId, name, sources) while the `source_fingerprint` of
    `sources` is unchanged. applicationId, not id(sparkContext): CPython
    reuses ids, which could hand a new session a stale value. When the
    sources change (rows appended, regenerated in place) a superseded
    cached DataFrame is unpersisted BEFORE the rebuild, so the session
    never holds two copies. `sources=()` means once per application."""
    key = (spark.sparkContext.applicationId, name, tuple(sources))
    fp = source_fingerprint(*sources)
    old_fp, old = _SESSION_MEMO.get(key, (None, None))
    if old_fp == fp:
        return old
    if isinstance(old, DataFrame) and old.is_cached:
        old.unpersist()
    _SESSION_MEMO[key] = (fp, build())
    return _SESSION_MEMO[key][1]


def landing_lock(out: str):
    """Same-host advisory writer lock for a shared landing/layout dir.

    The `_SEED` marker makes REUSE safe, but the initial seeding has a
    window: two sessions that both observe a missing/mismatched marker
    both run a mode-overwrite Spark job into the SAME directory — the
    jobs share the `_temporary` commit dir and one job's cleanup can eat
    the other's task output, after which a `_SUCCESS` + matching marker
    can sit over mixed-job debris that every later session trusts. An
    exclusive flock serializes writers; blocked peers re-check the
    marker on wake and skip the redundant reseed (double-checked
    locking). Called only by `seeded_landing`.

    The lock file is a SIBLING (`<out>.lock`), never inside `out`: the
    overwrite job clears `out` itself, and re-creating the lock file
    there would hand a second writer a fresh inode — two holders of
    "the" lock. flock is advisory and same-host, exactly the
    SAME-HOST ASSUMPTION `pid_scratch_dir` already documents for this
    scratch root."""
    import contextlib
    import fcntl

    @contextlib.contextmanager
    def _held():
        os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
        fh = open(out.rstrip(os.sep) + ".lock", "a")
        try:
            fcntl.flock(fh, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)
            fh.close()

    return _held()


def seeded_landing(
    out: str, fingerprint: str | None, write, committed=None
) -> str:
    """The one guard for write-once scratch artifacts (landings, the
    bucketed layouts, the BMP directory, the Derby seed): the existing
    contents of `out` are trusted only when BOTH the prior write COMPLETED
    (`committed()` — default: the parquet/json job-commit `_SUCCESS`
    file in `out`; bare data files may be the debris of an aborted
    write) AND the recorded `_SEED` fingerprint matches the derivation
    code that would write them today. Any mismatch — or an unverifiable
    fingerprint (None) — reseeds via `write()` (an idempotent
    mode-overwrite job) under `landing_lock`, so concurrent sessions
    racing the first seed serialize instead of interleaving two
    overwrite jobs in one directory. The reseed costs one landing
    write; trusting a stale or truncated seed costs a silently wrong
    graded result every round after.

    `committed`: zero-arg completion predicate for seeds without the
    `_SUCCESS` convention (the Derby JDBC seed checks its database
    directory). `write()` must leave `out` holding only its own output
    (clear it first, as a mode-overwrite job does), and must make the
    completion check true only once everything is written. Keeping
    every artifact on THIS function keeps the marker discipline in one
    copy: a fix to a hand-rolled clone can miss the others."""
    marker = os.path.join(out, "_SEED")

    def _ok() -> bool:
        done = (
            committed()
            if committed is not None
            else os.path.exists(os.path.join(out, "_SUCCESS"))
        )
        ok = fingerprint is not None and done
        if ok and os.path.exists(marker):
            with open(marker) as fh:
                return fh.read().strip() == fingerprint
        return False

    # unlocked fast path: a complete, fingerprint-matching seed is
    # immutable (writers only ever act on a MISMATCH, and the match is
    # deterministic given this module's code), so readers skip the lock
    if _ok():
        return out
    with landing_lock(out):
        # re-check on wake: the peer that held the lock may have seeded
        # exactly what this session was about to write
        if not _ok():
            write()
            if fingerprint is not None:
                write_marker(marker, fingerprint)
            elif os.path.exists(marker):
                os.remove(marker)
    return out


def release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort, immediate release of a localCheckpoint'd DataFrame's
    storage blocks.

    `localCheckpoint` truncates lineage by pinning the computed
    partitions as storage blocks of an internal RDD; those blocks are
    normally freed only when BOTH the Python handle and the JVM Dataset
    are garbage-collected and the ContextCleaner gets around to them.
    In iterative loops (connected components, PageRank) that lazy
    lifecycle accumulates a rounds-deep pile of dead checkpoints whose
    eviction timing is GC luck — measured as bimodal 1.2 s vs 2.8 s
    wall times for the SAME query in one session (BENCH r8/r9). Freeing
    the superseded round's blocks as soon as the next round is
    materialized keeps loop storage bounded at two rounds,
    deterministically.

    Only call this when NOTHING will read `df` again: a checkpoint has
    no lineage to recompute from, so a post-release action on `df`
    would fail. Reaches through the internal LogicalRDD (py4j ignores
    the `private[sql]` on `Dataset.logicalPlan`); a logged no-op if the
    internals ever move — tests/test_properties.py fails loudly on THIS
    Spark build, but a production session on a different build has only
    the warning to reveal it regressed to GC-timed eviction."""
    try:
        df._jdf.logicalPlan().rdd().unpersist(False)
    except Exception as ex:  # pragma: no cover — Spark-internals drift
        import logging

        logging.getLogger(__name__).warning(
            "release_local_checkpoint is a no-op on this Spark build "
            "(%s: %s) — checkpoint blocks will free at GC/ContextCleaner "
            "convenience instead of deterministically",
            type(ex).__name__,
            ex,
        )
