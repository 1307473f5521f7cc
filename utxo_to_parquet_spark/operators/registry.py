"""Query registry backing the driver contract (__spark_entry__.py).

Every operator registers a name, a Spark callable ``(spark, sf_dir) ->
DataFrame``, and (when SQL-expressible) a DuckDB oracle SQL string over
the pre-registered views ``region nation customer supplier part orders
lineitem events documents embeddings``. Column names must match between
the two — the driver's comparator sorts columns by name before hashing.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import functools
import hashlib
import os
import shutil
import threading
import time
from collections.abc import Callable
from typing import Any

_QUERIES: dict[str, Callable[[Any, str], Any]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a query under ``name`` with an optional oracle."""

    def deco(fn):
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, Callable[[Any, str], Any]]:
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    return dict(_ORACLES)


_VALIDATED_DIRS: set[str] = set()

# The session memo (see memo below): (applicationId, name, sf_dir) ->
# (input fingerprint, value, fragment dir). Dict order is use order.
_FRAGMENT_CACHE: dict = {}
_FRAGMENT_CACHE_MAX = 48
_MEMO_LOCK = threading.RLock()
# seconds of the builds nested in each open build, innermost last
_NESTED_BUILD_S: list[float] = []

# append-only ledger of (memo name, build seconds): bench.py snapshots it
# around each timed query so a memo build is reported as its own labeled
# cell instead of silently inflating whichever query runs first
_MEMO_BUILD_LOG: list = []


def memo_build_log() -> list:
    """The (name, seconds) build ledger — see _MEMO_BUILD_LOG above."""
    return list(_MEMO_BUILD_LOG)


def range_parts(df) -> int:
    """Partition count for the two-pass range-partition recipes
    (global_ntile / global_cumsum / global_midrank2 and their inlined
    twins). Round 14 (guide §2): this was a hard-coded 32 — a constant
    tuned to neither the local bench (where it merely matched the core
    count by coincidence) nor a cluster (where 32 partitions of a 100 TB
    relation would be ~3 TB each). Deriving it from the session's
    ``spark.sql.shuffle.partitions`` makes the recipes scale with the
    deployment exactly like every other exchange, while the results stay
    partition-count-independent by construction (each recipe computes
    global offsets from per-partition totals)."""
    try:
        return max(1, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        # e.g. 'auto' on platforms that plug in their own coordinator —
        # warn instead of silently pinning the round-14 constant
        import warnings

        warnings.warn(
            "range_parts: spark.sql.shuffle.partitions is not an integer;"
            " falling back to 32 range partitions",
            stacklevel=2,
        )
        return 32


def _parquet_fingerprint(sf_dir: str) -> tuple:
    """(relpath, mtime_ns, size) for every parquet part under ``sf_dir``,
    recursively — directory-style Spark-written tables change their
    part-files, not the directory mtime, so a flat listdir would serve a
    stale memo after an in-place overwrite (round-14 advice item)."""

    def _raise(exc: OSError):
        raise exc

    entries = []
    # onerror: os.walk swallows listdir errors by default, which would
    # silently yield fprint=() for an unlistable path — the exact
    # never-invalidated-memo hazard this fingerprint exists to prevent
    for root, _dirs, files in os.walk(sf_dir, onerror=_raise):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, sf_dir), int(st.st_mtime_ns), st.st_size)
                )
    return tuple(sorted(entries))


_FRAGMENT_SESSION_DIRS: set[str] = set()  # claimed by this process


def _fragment_base_dir() -> str:
    """Root for materialized fragments. Local default: /dev/shm (this
    host's virtual disk stalls unpredictably — bench.py documents 1-13 s
    swings for one 79 MB write) falling back to the system temp dir; on
    a cluster set SPARK_GRAFT_FRAGMENT_DIR to a shared scratch path
    (HDFS/object store) — the fragment then survives any executor loss,
    which is the whole point of the write-once form."""
    import tempfile

    env = os.environ.get("SPARK_GRAFT_FRAGMENT_DIR")
    if env:
        return env
    return "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def _fragment_path(app_id: str, name: str, sf_dir: str) -> str:
    """One fragment dir per (session, name, sf_dir): distinct corpora
    never overwrite each other's materialization."""
    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(
        _fragment_base_dir(), "spark_graft_fragments", app_id, f"{name}-{sfx}"
    )


def _lock_is_at(fd: int, path: str) -> bool:
    """True while ``path`` still names the file ``fd`` has open."""
    with contextlib.suppress(FileNotFoundError):
        st, own = os.stat(path), os.fstat(fd)
        return (st.st_dev, st.st_ino) == (own.st_dev, own.st_ino)
    return False


def _remove_session_dir(session_dir: str) -> None:
    """Remove a session dir, then its lock file (the caller holds it)."""
    shutil.rmtree(session_dir, ignore_errors=True)
    with contextlib.suppress(FileNotFoundError):
        os.unlink(session_dir + ".lock")


def _claim_session_dir(session_dir: str) -> None:
    """Once per session dir, before its first fragment write: flock
    ``<appId>.lock`` for the life of the process, remove every sibling
    session dir whose lock can be taken, and remove this one at exit.
    atexit does not run on SIGTERM/SIGKILL (``timeout -k``), so a killed
    session's dir would otherwise stay in RAM-backed /dev/shm; a live
    owner's dir is never touched, as its lock is held. A sweeper unlinks
    the lock file of the dir it removes, so both sides trust a lock only
    while its file is still the one at the path."""
    if session_dir in _FRAGMENT_SESSION_DIRS:
        return
    base = os.path.dirname(session_dir)
    os.makedirs(base, exist_ok=True)
    while True:
        fd = os.open(session_dir + ".lock", os.O_RDWR | os.O_CREAT, 0o644)
        fcntl.flock(fd, fcntl.LOCK_EX)
        if _lock_is_at(fd, session_dir + ".lock"):
            break
        os.close(fd)  # swept between open and flock: lock a new file
    _FRAGMENT_SESSION_DIRS.add(session_dir)
    atexit.register(_remove_session_dir, session_dir)
    for entry in os.listdir(base):
        other = os.path.join(base, entry.removesuffix(".lock"))
        if not entry.endswith(".lock") or other == session_dir:
            continue
        try:
            ofd = os.open(other + ".lock", os.O_RDWR)
        except FileNotFoundError:
            continue  # swept meanwhile by another session
        try:
            fcntl.flock(ofd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            if _lock_is_at(ofd, other + ".lock"):
                _remove_session_dir(other)
        except BlockingIOError:
            pass  # its owner is alive
        finally:
            os.close(ofd)


def memo(spark, name: str, sf_dir: str, build):
    """The engine's one per-session memo: ``build()``'s value for the
    parquet inputs under ``sf_dir``, built once and returned as the
    identical object on every hit. Every shared derived relation goes
    through it: memo_fragment's fragments and the trainers. The policy:

    - key ``(applicationId, name, sf_dir)``: applicationId is unique per
      SparkContext (never id(spark), reused after GC), so a restarted
      session rebuilds and checkpointed values never outlive their
      context. Nothing is keyed on query results.
    - the recursive parquet fingerprint of ``sf_dir`` is stored with the
      entry: a part file rewritten in place rebuilds it, and an
      unlistable path raises instead of memoizing what cannot be
      invalidated.
    - at most ``_FRAGMENT_CACHE_MAX`` entries, the least recently used
      evicted first: its fragment dir is deleted at once and its value
      dropped, so the checkpointed blocks it held can be released. A
      caller must not hold a fragment DataFrame across
      ``_FRAGMENT_CACHE_MAX`` other memo builds.
    - one reentrant lock around lookup and build: builds nest (the
      ladder inside sa_perpos, trade_pairs_cs inside trade_edges), and
      concurrent callers wait for one build.
    - each build runs under the job description ``memo: <name>`` (the
      caller's is restored after) and logs ``(name, seconds)`` in the
      build ledger, exclusive of the builds nested in it, so the ledger
      sums to wall time."""
    try:
        fprint = _parquet_fingerprint(sf_dir)
    except OSError as exc:
        raise RuntimeError(
            f"memo({name!r}): cannot fingerprint inputs under {sf_dir!r}"
            f" ({exc}); refusing to memoize what cannot be invalidated —"
            " build without the memo or make the path listable"
        ) from exc
    sc = spark.sparkContext
    key = (sc.applicationId, name, sf_dir)
    with _MEMO_LOCK:
        hit = _FRAGMENT_CACHE.pop(key, None)
        if hit is not None and hit[0] == fprint:
            _FRAGMENT_CACHE[key] = hit  # re-insert: most recently used
            return hit[1]
        # a stale hit (inputs changed in place) stays popped: its dir is
        # the path rebuilt below
        caller_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"memo: {name}")
        _NESTED_BUILD_S.append(0.0)
        t0 = time.time()
        try:
            value = build()
        finally:
            wall = time.time() - t0
            nested = _NESTED_BUILD_S.pop()
            if _NESTED_BUILD_S:
                _NESTED_BUILD_S[-1] += wall
            sc.setJobDescription(caller_desc)
        _MEMO_BUILD_LOG.append((name, round(wall - nested, 3)))
        # evict after the build: builds nested in it have inserted theirs
        while len(_FRAGMENT_CACHE) >= _FRAGMENT_CACHE_MAX:
            oldest = _FRAGMENT_CACHE.pop(next(iter(_FRAGMENT_CACHE)))
            shutil.rmtree(oldest[2], ignore_errors=True)
        _FRAGMENT_CACHE[key] = (
            fprint,
            value,
            _fragment_path(sc.applicationId, name, sf_dir),
        )
        return value


def memoized(name: str):
    """Decorator: ``fn(spark, sf_dir, *args)`` through :func:`memo`, under
    ``name`` joined with ``args`` (so each parameter set is its own
    entry)."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, sf_dir, *args):
            entry = "_".join([name, *map(str, args)])
            return memo(spark, entry, sf_dir, lambda: fn(spark, sf_dir, *args))

        return wrapper

    return deco


def memo_drop(*names: str) -> None:
    """Drop every entry of the named memos (a :func:`memoized` name
    covers each of its parameter sets) and their fragment dirs, so the
    next call rebuilds — for timing tools whose reps must stay cold."""
    with _MEMO_LOCK:
        for key in list(_FRAGMENT_CACHE):
            if any(key[1] == n or key[1].startswith(n + "_") for n in names):
                shutil.rmtree(_FRAGMENT_CACHE.pop(key)[2], ignore_errors=True)


def memo_fragment(spark, name: str, sf_dir: str, build):
    """:func:`memo` of a shared derived relation (the trade-graph edge
    list, the shingle index, the MinHash tables, the synthesized utxos
    view) that several queries would otherwise re-derive per call. The
    build's DataFrame is written ONCE as parquet under the session dir
    and read back. Versus ``localCheckpoint``: nothing is pinned in the
    block manager, an executor loss cannot orphan the data, consumers
    get a pruned/pushdown-capable parquet scan, and measured locally the
    write+read round trip builds ~30% faster and reads ~30% faster than
    the checkpointed RDD it replaced (persist(MEMORY_AND_DISK) measured
    2.5x slower on warm reads than either — rejected). The write is the
    eager materialization, so the multi-consumer first-materialization
    race that bimodalized the WL/HITS loops cannot occur."""

    def write_read():
        path = _fragment_path(spark.sparkContext.applicationId, name, sf_dir)
        _claim_session_dir(os.path.dirname(path))
        build().write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return memo(spark, name, sf_dir, write_read)


def load(spark, sf_dir: str, table: str):
    """Read one driver fixture table (TESTDATA.md).

    First touch of a fixture directory validates EVERY table's parquet
    footer against the expected schema (fixtures.py) — the round-2 ts
    ns→us drift broke 26 queries with an opaque mid-plan
    AnalysisException; this turns the next drift into an immediate error
    naming table, column, and actual-vs-expected type. One footer pass
    per directory per process (memoized), so the guard costs nothing in
    steady state."""
    if sf_dir not in _VALIDATED_DIRS:
        from ..fixtures import EXPECTED_SCHEMAS, validate_fixtures

        try:
            validate_fixtures(sf_dir)
        except FileNotFoundError:
            # partial layouts (tests pointing at a tmp dir with one
            # table) validate only what exists
            import os

            present = [
                t
                for t in EXPECTED_SCHEMAS
                if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
            ]
            validate_fixtures(sf_dir, tables=present)
        _VALIDATED_DIRS.add(sf_dir)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def global_ntile(df, bins: int, order_cols, ntile_name: str = "bin"):
    """Exact global NTILE over an arbitrary DataFrame WITHOUT a
    single-partition window — the distributed form of
    ``NTILE(bins) OVER (ORDER BY order_cols)``.

    Two-pass scheme (shared with q_utxo_balance_gini /
    q_pipeline_sequence_pack): (1) range-partition on the ordering key
    (range partition p holds keys strictly below partition p+1 — the
    key must be UNIQUE per row, e.g. end with an id tiebreak) and
    row_number WITHIN each partition; (2) the per-partition counts — a
    |partitions|-row relation — prefix-sum into offsets and a global
    total n, so global rank r = offset + local rank. The NTILE bin then
    follows in closed form: with q = n div bins and rem = n mod bins,
    SQL NTILE gives the first rem bins q+1 rows, so
    bin(r) = ceil(r/(q+1)) while r <= rem*(q+1),
    else rem + ceil((r - rem*(q+1))/q).

    localCheckpoint pins the sampled range boundaries: the rank branch
    and the offset branch must see the SAME pid assignment, and two
    executions of a range exchange may sample different split points.
    Every per-row stage is partition-parallel; the only unpartitioned
    windows run over the |partitions| count relation."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    part = (
        df.repartitionByRange(range_parts(df), *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = W.partitionBy("__pid").orderBy(*order_cols)
    local = part.withColumn("__li", F.row_number().over(wloc))
    woff = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    wall = W.orderBy("__pid").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    offsets = (
        part.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            "__pid",
            F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias("__off"),
            F.sum("__cnt").over(wall).alias("__n"),
        )
    )
    B = F.lit(bins).cast("long")
    r = F.col("__off") + F.col("__li")
    qq = F.floor(F.col("__n") / B).cast("long")
    rem = (F.col("__n") % B).cast("long")
    big = rem * (qq + 1)
    binc = F.when(r <= big, F.ceil(r / (qq + 1))).otherwise(
        rem + F.ceil((r - big) / qq)
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(ntile_name, binc.cast("long"))
        .drop("__pid", "__li", "__off", "__n")
    )


def global_midrank2(df, value_col: str, cnt_col: str = "cnt", rank_name: str = "rank2"):
    """Distributed exact DOUBLED midranks over a (value, count) distinct
    aggregate — the tie-aware global rank behind rank statistics
    (Spearman, Kruskal-Wallis): for each distinct value,
    ``rank2 = 2*cnt_less + cnt + 1`` (twice the average rank of its tie
    group, kept integer so no engine can round it).

    Same two-pass scheme as global_ntile above, but prefix-summing
    COUNTS instead of row numbers: (1) range-partition the distinct
    relation on the value (unique per row by construction, so no
    tiebreak column is needed) and cumulative-sum counts within each
    partition; (2) prefix-sum the 32-row per-partition count relation
    into offsets, so ``cnt_less = offset + local_cum - cnt``. Every
    per-row stage is partition-parallel; the only unpartitioned window
    runs over the |partitions| relation. localCheckpoint pins the
    sampled range boundaries for the same reason as global_ntile."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    part = (
        df.repartitionByRange(range_parts(df), value_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = (
        W.partitionBy("__pid")
        .orderBy(value_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = part.withColumn("__cum", F.sum(cnt_col).over(wloc))
    woff = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        part.groupBy("__pid")
        .agg(F.sum(cnt_col).alias("__c"))
        .select(
            "__pid",
            F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            rank_name,
            2 * (F.col("__off") + F.col("__cum") - F.col(cnt_col))
            + F.col(cnt_col)
            + 1,
        )
        .drop("__pid", "__cum", "__off")
    )


def global_cumsum(df, order_col: str, val_cols: list[str]):
    """Distributed exact running sums of ``val_cols`` over ``df`` ordered
    by the UNIQUE key ``order_col`` — the generic third member of the
    two-pass family (global_ntile ranks rows, global_midrank2 ranks
    distinct values, this prefix-sums measures): (1) range-partition on
    the key and cumulative-sum each measure within its partition;
    (2) prefix-sum the 32-row per-partition totals into offsets and add
    them back via a broadcast join. Output = input columns plus
    ``cum_<col>`` for each measure, all exact BIGINTs. The only
    unpartitioned window runs over the |partitions| relation;
    localCheckpoint pins the sampled range boundaries so both branches
    see the same pid assignment (same reason as global_ntile)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    part = (
        df.repartitionByRange(range_parts(df), order_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = (
        W.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = part
    for c in val_cols:
        local = local.withColumn(f"__cum_{c}", F.sum(c).over(wloc))
    woff = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = part.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in val_cols]
    )
    for c in val_cols:
        offsets = offsets.withColumn(
            f"__off_{c}",
            F.coalesce(F.sum(f"__t_{c}").over(woff), F.lit(0)),
        )
    out = local.join(
        F.broadcast(offsets.select("__pid", *[f"__off_{c}" for c in val_cols])),
        "__pid",
    )
    for c in val_cols:
        out = out.withColumn(
            f"cum_{c}", (F.col(f"__off_{c}") + F.col(f"__cum_{c}")).cast("long")
        )
    return out.drop(
        "__pid", *[f"__cum_{c}" for c in val_cols], *[f"__off_{c}" for c in val_cols]
    )
