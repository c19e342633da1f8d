"""One way to run a staged stream.

Every streamed entry in the engine has the same lifecycle: stage an
arrival split once per process, start an availableNow query into a memory
sink or a ``foreachBatch`` function under a checkpoint and a
state-partition count, drain it, and read the result. ``staged`` owns the
first step and ``run_stream`` the rest, so the entries cannot drift apart.
``binmatrix_stream_scan`` (sources/datasource.py) is the one stream that
stays outside: the default trigger polled by row count.
"""

from __future__ import annotations

import contextlib
import uuid
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

from flink_mm_spark.session import scratch_dir

_STAGED: dict[tuple[str, Hashable], str] = {}  # (prefix, key) -> arrival dir
_SINKS: dict[str, str] = {}  # sink name prefix -> live memory-sink table


def staged(key: Hashable, prefix: str, write: Callable[[str], None]) -> str:
    """The arrival dir for ``(prefix, key)``: on first use a fresh
    ``scratch_dir(prefix)`` filled by ``write(dir)``, afterwards the same
    dir for the life of the process. Repeated invocations (bench medians,
    grading after tests) then stream IDENTICAL files instead of
    re-writing the split. ``key`` must name everything the files depend on
    (the sf dir, plus any batch count); every consumer of a cached split
    is arrival-order independent or reads a content-determined order, so
    reuse changes cost, not semantics."""
    src = _STAGED.get((prefix, key))
    if src is None:
        src = scratch_dir(prefix)
        write(src)
        _STAGED[(prefix, key)] = src
    return src


# State-store partitions for the engine's stateful streams. A stateful
# streaming stage loads/commits a state store for EVERY shuffle partition
# EVERY micro-batch — even empty ones — so partitions beyond what the
# stream can use are pure constant overhead. Two r13 measurements set the
# policy:
# - partitions ≫ CORES is always waste: the plain local[8] grading
#   session inherited 32-partition streams and paid 4-8× (band store
#   62.8→8.0 s, ingest gate 31.8→9.9 s once cores-matched);
# - partitions ≪ cores hurts streams with REAL per-key work: the band
#   stores at sf0.1 on local[32] lost 1.5-2× when forced to 8 (thousands
#   of live buckets want the parallelism), while small-key streams
#   (16-cell ANN index, sketch cells, the ingest gates) measured FASTER
#   at 8 even with 32 cores.
# Default therefore: min(cores, 32) — cores-matched; streams with a
# known-small key space pass an explicit ``n``. Per-STREAM (pinned into
# the checkpoint at stream start), not session state; a cluster
# deployment sizes it to keys × executors instead. The r13 per-partition
# costs behind this policy were taken under the FileContext checkpoint
# manager, whose `readlink` fork per rename inflated every store commit
# (session.py module docstring): re-measure before re-sizing.
STREAM_STATE_PARTS_SMALL = 8  # explicit n for known-small key spaces
CORES = 0  # the default n: cores-matched


@contextlib.contextmanager
def stream_state_parts(spark: SparkSession, n: int = CORES):
    """Run a stream (start → drain) under ``n`` shuffle partitions
    (``CORES``: cores-matched, capped at 32), restoring the session conf
    afterwards. foreachBatch inner jobs launched while the stream runs
    inherit the same setting — intended: per-batch jobs in these streams
    are state-/batch-sized, not corpus-sized."""
    parts = n or min(spark.sparkContext.defaultParallelism, 32)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream(
    df: DataFrame,
    name: str,
    *,
    foreach: Callable[[DataFrame, int], None] | None = None,
    mode: str = "append",
    ckpt: str | None = None,
    state_parts: int | None = CORES,
    expected_batches: int | None = None,
) -> str | None:
    """Run ``df`` as an availableNow stream to completion.

    - Sink: ``foreach`` as a ``foreachBatch`` function, or else a memory
      sink named ``{name}_{uuid}``, whose table name is returned. Before
      the start the previous memory sink of the same ``name`` is dropped:
      each sink pins its rows in driver memory for the session, and bench
      medians and grading call an entry many times per session.
    - Checkpoint: a fresh ``scratch_dir`` unless the caller owns one
      (resume pinning, or a checkpoint read back after the drain).
    - ``state_parts``: ``CORES`` or an explicit count for
      ``stream_state_parts``, or None to keep the session's shuffle
      partitions (the stateless ``foreachBatch`` streams).
    - Drain: ``awaitTermination()``, or with ``expected_batches``
      ``drain_with_timers`` — the TTL tier's ProcessingTimeTimeout timers
      keep an availableNow query alive past its data.
    """
    spark = df.sparkSession
    w = df.writeStream.outputMode(mode).trigger(availableNow=True)
    table = None
    if foreach is not None:
        w = w.foreachBatch(foreach)
    else:
        old = _SINKS.pop(name, None)
        if old is not None:
            spark.catalog.dropTempView(old)
        table = _SINKS[name] = f"{name}_{uuid.uuid4().hex[:8]}"
        w = w.format("memory").queryName(table)
    w = w.option("checkpointLocation", ckpt or scratch_dir(f"{name}_ckpt_"))
    parts = (
        contextlib.nullcontext()
        if state_parts is None
        else stream_state_parts(spark, state_parts)
    )
    with parts:
        q = w.start()
        if expected_batches is None:
            q.awaitTermination()
        else:
            drain_with_timers(q, expected_batches=expected_batches)
    return table


def _between_batches(q) -> bool:
    """Whether ``q`` runs no batch's jobs now: it is idle between triggers,
    or its trigger is still in the offset phase, before the batch plans or
    runs anything. With timers pending, availableNow runs empty timer-check
    batches back to back and ``isTriggerActive`` stays true across them,
    so the offset phase is the only gap; a stop outside it interrupts the
    running batch's jobs (killed tasks, ``ERROR TorrentBroadcast: Store
    broadcast ... fail``)."""
    st = q.status
    return not st["isTriggerActive"] or st["message"].startswith(
        ("Getting offsets", "Writing offsets")
    )


def drain_with_timers(
    q,
    poll_s: float = 0.25,
    min_elapsed_s: float = 0.0,
    max_wall_s: float = 300.0,
    expected_batches: int | None = None,
) -> None:
    """Drain an availableNow stream whose stateful operator arms
    ProcessingTimeTimeout timers. With such timers pending, availableNow
    NEVER self-terminates: after the data batches it keeps scheduling
    empty timer-check batches ~2 s apart until every timer has fired
    (measured r10 — 28 empty batches and counting on a 4-file source).
    Drained-ness is detected from source OFFSETS, not row counts (review
    r10): a batch whose source endOffset equals its startOffset consumed
    no file — whereas a zero-ROW batch can also be an EMPTY arrival file,
    and stopping there would silently truncate the stream. One no-file
    batch is still not proof: a checkpoint RESTART first replays the last
    planned timer batch (no-file) even when new files are pending. Two
    CONSECUTIVE no-file batches are — if a file were available, the batch
    after a no-file batch would consume it. ``min_elapsed_s`` keeps the
    timer batches running past a TTL deadline before stopping (the
    eviction test's life 1 passes its TTL here so the sweep commits
    deterministically in-life). ``max_wall_s`` is the overall deadline
    (ADVICE r10 #3): a query that stalls without ever producing two
    consecutive no-file progress entries is stopped and raised on loudly
    instead of hanging the bench/driver run forever; it also bounds the
    wait, once drained, for the query to sit between batches
    (``_between_batches``) before the stop.

    ``expected_batches`` (r14, VERDICT r13 #1): when the caller KNOWS how
    many file-consuming batches the run must commit (a FRESH checkpoint
    over a staged arrival dir with ``maxFilesPerTrigger=1`` commits
    exactly one per file), the stream is provably drained as soon as that
    many consuming progress entries exist — a progress entry is posted
    only after its batch commits, so stopping there cannot truncate data,
    and the pending TTL timers are safety machinery with nothing left to
    evict inside the run. This skips the ~2 s × 2 empty timer-check
    batches the conservative offset rule waits out (~4-5 s of
    ``minhash_dedup_streamed_capped``'s wall was that wait). The offset
    rule stays as fallback — and is the ONLY rule when
    ``expected_batches`` is None, which every checkpoint-RESUMING caller
    must keep using (a restart replays the last planned timer batch
    first, so the consumed count under-runs there; the two-life
    restart/eviction tests all use the default)."""
    import time

    def no_file(p) -> bool:
        srcs = p.get("sources", [])
        return bool(srcs) and all(s["startOffset"] == s["endOffset"] for s in srcs)

    t0 = time.monotonic()
    # batchIds of the file-consuming batches seen so far, kept across polls:
    # recentProgress holds only the last numRecentProgressUpdates entries
    consumed: set[int] = set()
    while q.isActive:
        progress = q.recentProgress
        drained = len(progress) >= 2 and no_file(progress[-1]) and no_file(
            progress[-2]
        )
        if expected_batches is not None and not drained:
            consumed.update(
                p["batchId"] for p in progress if p.get("sources") and not no_file(p)
            )
            drained = len(consumed) >= expected_batches
        if drained and time.monotonic() - t0 >= min_elapsed_s:
            while not _between_batches(q) and time.monotonic() - t0 <= max_wall_s:
                time.sleep(0.005)  # the offset phase lasts ~10-30 ms a batch
            q.stop()
            break
        if time.monotonic() - t0 > max_wall_s:
            q.stop()
            q.awaitTermination()
            raise TimeoutError(
                f"drain_with_timers: no drained state after {max_wall_s:.0f}s "
                f"({len(q.recentProgress)} progress entries)"
            )
        time.sleep(poll_s)
    q.awaitTermination()
