"""Materialization barrier for subtrees consumed by racing consumers.

Several operators feed one computed frame into both sides of a
self-join (LSH band buckets, shingle sets) or into a sink that
overwrites its own input (partition-scoped upsert).  A lazy
``persist()`` is NOT a barrier there: when both consumers sit in one
job, the sides race and each computes the subtree before either
populates the cache (measured: the signature subtree ran twice).

``materialize`` is the single switch point for that barrier:

- local / tests: eager ``localCheckpoint()`` — truncates lineage and
  pins the partitions on the executors.
- real cluster: swap the body for ``persist(StorageLevel.DISK_ONLY)``
  + ``count()``, or a write to a Delta/parquet scratch table, so the
  barrier survives executor loss (localCheckpoint does not) and is not
  bounded by executor storage memory.  The call sites don't change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly compute ``df`` once; return a frame reading the result."""
    return df.localCheckpoint()


def spread(df: DataFrame, *by: str) -> DataFrame:
    """Widen a NARROW scan to the session's core count (r15, guide
    §2.5 "input skew: one small unsplittable file → one task"): the
    driver fixtures are single parquet files, so every scan stage —
    and the tokenize/shingle/codec work fused into it — runs on ONE
    core unless an exchange intervenes.  When the upstream has fewer
    partitions than ``defaultParallelism``, repartition (round-robin,
    or hash on ``by`` so a following groupBy on the same key reuses
    the exchange instead of adding one — guide §2.4); when the scan is
    already at least core-wide (the 100 TB case: thousands of input
    splits), this is a NO-OP — no shuffle is added at scale, and the
    decision derives from input size, not a tuned constant.  Streaming
    frames pass through untouched (no partition introspection there).
    """
    if not scan_is_narrow(df):
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p, *by) if by else df.repartition(p)


def _parse_bytes(raw: str) -> int:
    """Parse a Spark byte-size string — plain digits, or a value with
    a b/k/m/g/t/p (or kb/mb/...) suffix, case-insensitive, binary
    multiples like Spark's JavaUtils.byteStringAsBytes — into bytes.
    Returns 0 on anything unparseable (ADVICE r15: the old digit-strip
    parse read '128m' as 128 BYTES, silently collapsing the narrow
    threshold and disabling spread() under a legitimate config)."""
    s = (raw or "").strip().lower()
    mult = 1
    for suf, m in (("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30),
                   ("mb", 1 << 20), ("kb", 1 << 10), ("p", 1 << 50),
                   ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20),
                   ("k", 1 << 10), ("b", 1)):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = m
            break
    try:
        return int(s) * mult
    except ValueError:
        return 0


def scan_is_narrow(df: DataFrame) -> bool:
    """True when ``df``'s file inputs are too small to fill the
    session's cores with scan splits — the single-small-file fixture
    shape: total input bytes below defaultParallelism ×
    maxPartitionBytes means the scan yields fewer than core-count
    tasks, so the per-row work fused into it (tokenize, shingle,
    codec) underuses the machine.  Callers use the flag to spread the
    scan and to pre-partition a downstream Python-heavy aggregation by
    its group key (an explicit user repartition, which AQE will not
    coalesce back to one byte-sized task the way it does a plain
    groupBy exchange under ``parallelismFirst=false``).

    Decided from FILE SIZES (`inputFiles()` — FileIndex metadata, no
    job, no RDD planning: a `.rdd.getNumPartitions()` probe measured
    +0.5 s of duplicated physical planning on the pipe_03 subtree),
    so the decision scales with input size, not a tuned constant: a
    100 TB table reports wide and the helpers are no-ops.  Streaming
    frames and frames with no file provenance (in-memory, checkpoints,
    Python data sources) report wide — never touched: ``inputFiles()``
    returns no files for them, so an error it raises is a real one and
    propagates."""
    if df.isStreaming:
        return False
    files = df.inputFiles()
    if not files:
        return False
    import os
    from urllib.parse import unquote, urlparse

    sess = df.sparkSession
    p = sess.sparkContext.defaultParallelism
    # VERDICT r15 item 5: bound the driver-side stat loop.  A table
    # with more than 4×cores files can fill the machine with scan
    # tasks anyway (each file is charged openCostInBytes when packing
    # splits), so give up early and report wide WITHOUT statting a
    # million files on an NFS/Lustre-visible cluster path.
    if len(files) > 4 * p:
        return False
    max_pb = _parse_bytes(
        sess.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    threshold = p * (max_pb or 128 * 1024 * 1024)
    total = 0
    for f in files:
        local = unquote(urlparse(f).path) or f
        try:
            total += os.path.getsize(local)
        except OSError:
            return False
        if total >= threshold:
            # already provably wide: stop statting (early exit — the
            # common wide case terminates after a handful of files)
            return False
    return total < threshold
