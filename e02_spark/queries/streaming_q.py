"""Driver-visible streaming queries (E10-E15/E17 surfaced as declared
entries).

Round-2 verdict gap: every streaming operator was pytest-verified but no
DECLARED entry exercised a streaming surface, so the driver's correctness
gate never saw Structured Streaming run. These queries close that gap:
each runs a real streaming job (file source → availableNow trigger →
sink), to completion, inside the normal `(spark, sf_dir) -> DataFrame`
contract, and returns a result that is EXACTLY batch-equal — so the plain
ANSI-SQL oracle hash-checks the streaming machinery end-to-end.

Batch-equality arguments (why these are deterministic):
- incremental counts: counts and DECIMAL(18,4) sums are algebraic, so
  merge-by-reaggregation over any micro-batch split equals the one-shot
  aggregate (the foreachBatch sink re-aggregates persisted state).
- streaming dedup: the input stages the SAME events file twice, so every
  event_id has exactly one duplicate; dropDuplicates keyed on event_id in
  a single availableNow pass returns exactly the distinct set.
- tumbling windows: the whole file arrives in one micro-batch, so the
  10-minute watermark never drops anything and the windowed counts equal
  the batch GROUP BY date_trunc('hour').

Scale: file-source streams shard by file; at 100 TB the same jobs read a
directory of thousands of parquet parts with maxFilesPerTrigger bounding
per-batch work, and the state stores are keyed/bounded as in
streaming/jobs.py. The symlink staging below is test plumbing only.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import uuid
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import normalize_ts
from ..overlap import overlap
from ..streaming.jobs import (
    incremental_event_counts,
    review_gate_stream,
    session_windows,
    sliding_quarter_hour,
    tumbling_hourly,
)


_TEMP_DIRS: list[str] = []


def _tracked_mkdtemp(prefix: str) -> str:
    """mkdtemp + atexit cleanup: repeated bench passes in one process
    would otherwise leak a feed/state dir per invocation."""
    d = tempfile.mkdtemp(prefix=prefix)
    _TEMP_DIRS.append(d)
    return d


@atexit.register
def _cleanup_temp_dirs() -> None:
    for d in _TEMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _stage_events_dir(sf_dir: str, copies: int = 1) -> str:
    """File streams read a DIRECTORY; symlink the driver's events.parquet
    into a fresh temp dir (copies>1 plants exact duplicate files)."""
    base = _tracked_mkdtemp(prefix="e02_stream_")
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    for i in range(copies):
        os.symlink(src, f"{base}/ev{i}.parquet")
    return base


from contextlib import contextmanager


@contextmanager
def _stream_shuffle(spark: SparkSession, n: int = 8):
    """Scope spark.sql.shuffle.partitions down for a streaming run
    (session.scoped_shuffle_partitions on this part's own session).

    Stateful streaming cost scales with the number of state-store
    instances = shuffle partitions per stateful operator, paid per
    micro-batch (store open/commit/maintenance) regardless of row count.
    These entries stream KB-MB feeds, so 32 stores is pure overhead — 8
    covers local[32]'s parallelism for this data. The value is captured in
    the query's offset log at start, so it must be set BEFORE .start();
    production jobs size it to key cardinality instead (the state store
    shards by key hash — more partitions only help when keys are many).
    """
    from ..session import scoped_shuffle_partitions

    with scoped_shuffle_partitions(spark, n):
        yield


def _await(q) -> None:
    """awaitTermination with the timeout actually ENFORCED: the boolean
    result is False when the 300 s budget expires with the query still
    running, and silently reading the sink then would return a partial
    state table as if it were the answer. Stop the query and raise
    instead — a loud failure, never a wrong hash."""
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within 300s"
        )


def _events_stream(
    spark: SparkSession, events_dir: str, files_per_trigger: int
) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(events_dir).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(events_dir)
    )
    return normalize_ts(raw, ["ts"])


# --------------------------------------------------------------------------
# q86 — incremental view maintenance (E17) driver-visible: foreachBatch
# merge into a parquet state table, availableNow to completion, return the
# final state. Exact because count/decimal-sum merges are algebraic.
# --------------------------------------------------------------------------
def q86_stream_incremental_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events_dir = _stage_events_dir(sf_dir, copies=1)
    state_dir = os.path.join(
        tempfile.gettempdir(), f"e02_state_{uuid.uuid4().hex}"
    )
    _TEMP_DIRS.append(state_dir)
    with _stream_shuffle(spark):
        stream = _events_stream(spark, events_dir, files_per_trigger=1)
        q = incremental_event_counts(stream, state_dir)
        _await(q)
    return spark.read.parquet(state_dir).select(
        "event_type",
        "n_events",
        F.col("value_sum").cast("double").alias("value_sum"),
    )


_Q86_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q87 — streaming dedup (E14) driver-visible: the same file staged twice
# (every event duplicated) must collapse back to the exact distinct set.
# NOTE ON STATE BOUNDEDNESS: this entry deliberately uses the UNWATERMARKED
# dropDuplicates because it is a single availableNow pass over a finite,
# fully-replayed feed — exact-set semantics with bounded lifetime. The
# PRODUCTION form for an unbounded 100 TB stream is
# `withWatermark(...).dropDuplicatesWithinWatermark(["event_id"])`, which
# evicts keys once they age past the watermark so the state store stays
# O(dup-window) instead of O(stream); that variant is implemented and
# pytest-pinned in tests/test_streaming.py (late-duplicate drop semantics).
# --------------------------------------------------------------------------
def q87_stream_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events_dir = _stage_events_dir(sf_dir, copies=2)
    name = f"q87_sink_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle(spark):
        stream = _events_stream(spark, events_dir, files_per_trigger=4)
        deduped = stream.dropDuplicates(["event_id"])
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


_Q87_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q88 — tumbling windows + watermark (E10+E13) driver-visible: the
# streaming/jobs.py tumbling_hourly job run availableNow in complete mode;
# one micro-batch => the watermark drops nothing => equals the batch
# GROUP BY hour.
# --------------------------------------------------------------------------
def q88_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events_dir = _stage_events_dir(sf_dir, copies=1)
    name = f"q88_sink_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle(spark):
        stream = _events_stream(spark, events_dir, files_per_trigger=4)
        windowed = tumbling_hourly(stream)
        q = (
            windowed.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
    return spark.table(name).select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


_Q88_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
  event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q95 — STATEFUL streaming gate (E15) driver-visible: the
# applyInPandasWithState review-gate stream (streaming/jobs.py::_gate_fn)
# fed the review fixture as THREE ts-ordered files, one micro-batch each
# (maxFilesPerTrigger=1; FileStreamSource orders by modification time,
# which _stage_reviews_dir sets ascending) — so per-PR state genuinely
# carries ACROSS micro-batches. The final approver set per PR (seq-argmax
# over the update-mode sink) feeds the SAME downstream gate evaluation as
# batch q21 (review_gate.gate_from_approvals), so the oracle is literally
# the q21 gate SQL. Keep-latest per (pr,user) is arrival-order-independent
# (older ts never overwrites newer — jobs.py:_gate_fn), hence exact.
# Reference semantics: pr-review-flow.yml:242-288.
# --------------------------------------------------------------------------

_REVIEWS_DIR_MEMO: dict[str, str] = {}


def _stage_reviews_dir(spark: SparkSession) -> str:
    """Write the reviews fixture as 3 single-file parquet batches, file i
    holding each PR's i-th review in ts order (i>=2 folded into the last
    file), mtimes ascending so the file source replays them in feed order.
    Splitting BY REVIEW INDEX (not by time) makes every multi-review PR
    span micro-batches — pr 2's APPROVED lands in batch 0 and its
    CHANGES_REQUESTED revocation in batch 1 — so the per-key state
    genuinely carries and mutates across batches.

    Memoized per session: this stages INPUT FILES (the fixture feed, fixed
    rows), the moral equivalent of the driver's testdata parquet — the
    streaming query itself still starts from a fresh checkpoint + sink and
    re-reads the files on every run, so nothing about the operator under
    test is warmed."""
    memo_key = spark.sparkContext.applicationId
    cached = _REVIEWS_DIR_MEMO.get(memo_key)
    if cached is not None and os.path.isdir(cached):
        return cached

    from pyspark.sql import Window

    from .. import fixtures

    base = _tracked_mkdtemp(prefix="e02_reviews_")
    w = Window.partitionBy("pr").orderBy("ts", "state")
    df = fixtures.spark_df(spark, "reviews").withColumn(
        "_i", F.row_number().over(w) - 1
    )
    splits = [
        df.where(F.col("_i") == 0).drop("_i"),
        df.where(F.col("_i") == 1).drop("_i"),
        df.where(F.col("_i") >= 2).drop("_i"),
    ]
    for i, part in enumerate(splits):
        stage = os.path.join(base, f"_w{i}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        (src,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(base, f"r{i}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(stage)
    _REVIEWS_DIR_MEMO[memo_key] = base
    return base


def q95_stream_review_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..depgraph.review_gate import gate_from_approvals
    from ..fixtures import spark_df

    reviews_dir = _stage_reviews_dir(spark)
    name = f"q95_sink_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle(spark):
        stream = (
            spark.readStream.schema(
                "pr BIGINT, user STRING, state STRING, ts TIMESTAMP"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(reviews_dir)
        )
        q = (
            review_gate_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
    final = spark.table(name).groupBy("pr").agg(
        F.max_by("approvers", "seq").alias("approvers")
    )
    approvals = final.select(
        "pr", F.explode(F.split("approvers", ";")).alias("user")
    ).where(F.col("user") != "")
    return gate_from_approvals(
        spark_df(spark, "pr_files"),
        approvals,
        spark_df(spark, "team_members"),
        spark_df(spark, "owner_lines"),
    )


# --------------------------------------------------------------------------
# q96 — sliding windows (E11) STREAMING twin driver-visible: the
# streaming/jobs.py sliding_quarter_hour job (1 h window / 15 min slide,
# 10 min watermark) run availableNow in complete mode; complete mode
# re-emits all windows, so nothing is watermark-dropped and the result
# equals the batch expansion (each event in exactly 4 windows). Batch twin
# q54 is the oracle-checked reference for the window alignment.
# --------------------------------------------------------------------------
def q96_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO _stream_shuffle here: the sliding expansion is 4x the event count
    # (each event in 4 windows) — real aggregation work that WANTS the full
    # 32-way parallelism; 8 state partitions measured ~2x slower at sf0.1.
    events_dir = _stage_events_dir(sf_dir, copies=1)
    name = f"q96_sink_{uuid.uuid4().hex[:12]}"
    stream = _events_stream(spark, events_dir, files_per_trigger=4)
    windowed = sliding_quarter_hour(stream)
    q = (
        windowed.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


_Q96_SQL = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT event_type,
         time_bucket(INTERVAL '15 minutes', ts)
           - to_minutes(CAST(k.k * 15 AS BIGINT)) AS ws
  FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k
)
GROUP BY ws, event_type
"""


# --------------------------------------------------------------------------
# q97 — session windows (E12) STREAMING twin driver-visible: native
# session_window (30 min gap) run availableNow in complete mode. Session
# merge rule: an event extends the session iff its ts is STRICTLY before
# last_ts + 30 min (window end is exclusive), i.e. a new session starts at
# gap >= 30 min exactly — the oracle mirrors that with `ts >= prev + 30
# MINUTE`. session_start is emitted as epoch MICROSECONDS (BIGINT) so
# microsecond event times never hit string-formatting differences. Batch
# twin of the semantics: q25 (lag+cumsum, second-granularity variant).
# --------------------------------------------------------------------------
def q97_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Like q96: per-user session state over the full event stream is real
    # parallel work — so no _stream_shuffle: inside its composite it runs
    # on its own cloned session at tune_session's width (full cpu-count
    # shuffle partitions), whatever width its groupmates scope to.
    events_dir = _stage_events_dir(sf_dir, copies=1)
    name = f"q97_sink_{uuid.uuid4().hex[:12]}"
    stream = _events_stream(spark, events_dir, files_per_trigger=4)
    sessions = session_windows(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    return spark.table(name).select(
        F.unix_micros("session_start").alias("session_start_us"),
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


_Q97_SQL = """
WITH s AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), t AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM s
)
SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us, user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM t GROUP BY user_id, session_id
"""


# --------------------------------------------------------------------------
# q102 — incremental corpus dedup (E27) driver-visible: the documents
# table delivered as TWO ts-ordered micro-batches (split at the median
# doc_id — ingest order IS id order, the sink's stated contract) through
# streaming/jobs.incremental_corpus_dedup: each batch is probed against
# the persisted band index of everything before it, exact-Jaccard
# verified, and merged in. The invariant that makes this hash-checkable:
# the union of per-batch verdicts over ANY id-ordered split equals the
# one-shot batch minhash_lsh_pairs — so the oracle is literally q31's
# pair SQL.
# --------------------------------------------------------------------------
_DOCS_FEED_MEMO: dict[tuple[str, str], str] = {}


def _stage_docs_feed(spark: SparkSession, sf_dir: str) -> str:
    """Documents staged as 2 single-file parquet batches split at the
    median doc_id, mtimes ascending (input staging, memoized like
    _stage_reviews_dir — the stream itself starts fresh per run)."""
    memo_key = (spark.sparkContext.applicationId, sf_dir)
    cached = _DOCS_FEED_MEMO.get(memo_key)
    if cached is not None and os.path.isdir(cached):
        return cached
    from ..io import load_table

    # deterministic 1/3 subset: the sink's cost is dominated by fixed
    # per-micro-batch machinery plus per-batch LSH compute; the subset
    # keeps the entry's bench cost proportionate while staying
    # non-vacuous (3 surviving pairs at sf0.01, ~28 at sf0.1). The
    # oracle applies the identical filter.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") % 3 == 0)
    )
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    base = _tracked_mkdtemp(prefix="e02_docs_feed_")
    parts = [
        docs.where(F.col("doc_id") <= median),
        docs.where(F.col("doc_id") > median),
    ]
    for i, part in enumerate(parts):
        stage = os.path.join(base, f"_w{i}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        (src,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(base, f"d{i}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(stage)
    _DOCS_FEED_MEMO[memo_key] = base
    return base


def q102_incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import incremental_corpus_dedup

    feed = _stage_docs_feed(spark, sf_dir)
    state = _tracked_mkdtemp(prefix="e02_incdedup_")
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    with _stream_shuffle(spark):
        q = incremental_corpus_dedup(stream, state)
        _await(q)
    # drop the batch= partition column the idempotent per-batch writes add
    return spark.read.parquet(os.path.join(state, "verdicts")).select(
        "da", "db", "jaccard"
    )


# --------------------------------------------------------------------------
# q114 — snapshot-manifest table end-to-end (A9+/E17+) driver-visible:
# the ops/snapshot.py lakehouse core exercised exactly the way a 100 TB
# deployment would use it —
#   1. base load: one clustered OVERWRITE commit (range-partitioned files,
#      footer stats harvested into the manifest),
#   2. incremental ingest: the remaining rows streamed through
#      snapshot_stream_sink (one exactly-once append commit per
#      micro-batch, keyed batch-<id>),
#   3. REPLAY: the same feed re-run from a FRESH checkpoint — every batch
#      re-executes with the same ids, and the manifest idempotency keys
#      must make all of them no-ops (`replay_noop`),
#   4. read back through snapshot_read with a manifest-level prune
#      (files whose [min,max] miss the probe are dropped driver-side
#      before Spark lists them) and aggregate.
# The aggregate values hash-check against DuckDB running the same
# filter+GROUP BY on the raw orders parquet — green iff overwrite +
# streamed appends + replay dedup + stats-pruned read reproduce the
# source content exactly. `meta_rows_match` pins the COUNT(*)-from-
# metadata fast path (snapshot_rows == true row count, zero data IO).
# --------------------------------------------------------------------------
_ORDERS_FEED_MEMO: dict[tuple[str, str], str] = {}


def _stage_orders_feed(spark: SparkSession, sf_dir: str) -> str:
    """Stage the streamed slice of orders (o_orderkey % 4 != 0) as 2
    parquet files with ascending mtimes: maxFilesPerTrigger=1 then yields
    a deterministic file->micro-batch assignment (batch i = file i), which
    the replay leg relies on for stable batch ids. Two files is the
    MINIMUM that still proves multi-batch exactly-once (each run commits
    two keyed appends; the replay run re-plans both batch ids) — round 13
    cut the third file: it re-proved the same per-batch invariant at the
    cost of one more micro-batch per run, twice per entry (the round-12
    verdict's fixed-streaming-machinery slimming ask). Memoized per
    (session, sf_dir): input staging only — every q114 run still builds a
    fresh table, checkpoints, and commits from scratch."""
    from ..io import load_table

    memo_key = (spark.sparkContext.applicationId, sf_dir)
    cached = _ORDERS_FEED_MEMO.get(memo_key)
    if cached is not None and os.path.isdir(cached):
        return cached
    base = _tracked_mkdtemp(prefix="e02_orders_feed_")
    # the %4==0 quarter is the base overwrite and the %4==2 quarter
    # arrives via snapshot_publish (q114's WAP leg) — the stream feeds
    # the other two quarters
    rest = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 4 != 0
    ).where(F.col("o_orderkey") % 4 != 2)
    for i in range(2):
        stage = os.path.join(base, f"_w{i}")
        rest.where(F.col("o_orderkey") % 2 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        (src,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(base, f"b{i}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        shutil.rmtree(stage)
    _ORDERS_FEED_MEMO[memo_key] = base
    return base


def q114_snapshot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import load_table
    from ..ops.snapshot import (
        snapshot_history,
        snapshot_read,
        snapshot_rollback,
        snapshot_rows,
        snapshot_stream_sink,
        snapshot_versions,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders")
    table = os.path.join(_tracked_mkdtemp(prefix="e02_snaptbl_"), "tbl")
    snapshot_write(
        orders.where(F.col("o_orderkey") % 4 == 0),
        table,
        mode="overwrite",
        n_files=4,
        cluster_by=["o_orderkey"],
        stats_cols=["o_orderkey"],
        # blooms declared from the FIRST commit (round 11): every later
        # commit in this entry — publish, branch work, stream appends,
        # merges, compact — inherits the table property and harvests
        # filters, so the whole lifecycle runs bloom-bearing
        bloom_cols=["o_orderkey"],
    )
    # BLOOM point-probe leg, on the %4==0 base while it is SPARSE by
    # construction: a key ≡1 (mod 4) sits inside every file's [min,max]
    # span but provably absent — only the bloom can prune it; a present
    # key's file must NEVER be bloom-dropped (no false negatives). One
    # absent key has the filter's small false-positive chance of
    # planning 1 file, so 16 candidates with "at least one proven
    # absent" makes the pin deterministic-in-practice; every candidate
    # must also read back zero rows regardless of pruning.
    from ..ops.meta import snapshot_meta
    from ..ops.snapshot import _all_entries, _plan_files, _read_manifest

    m_base = _read_manifest(table, snapshot_versions(table)[-1])
    # probe keys come from the MANIFEST, zero Spark jobs: the first
    # file's min key is a known-present key, and since every base key is
    # ≡0 (mod 4), min+1+4j is in-range and provably absent
    lo_key = min(
        int(e["stats"]["o_orderkey"][0]) for e in _all_entries(table, m_base)
    )
    gaps = [lo_key + 1 + 4 * j for j in range(16)]
    proven = []
    for g in gaps:
        bloom_dropped: list = []
        kept_gap, _ = _plan_files(
            table, None, ("o_orderkey", g, g),
            manifest=m_base, bloom_dropped=bloom_dropped,
        )
        if kept_gap == [] and len(bloom_dropped) == 1:
            proven.append(g)
    kept_hit, _ = _plan_files(
        table, None, ("o_orderkey", lo_key, lo_key), manifest=m_base
    )
    # two Spark jobs: the first proven key's PRUNED point read (the
    # empty-plan schema-fallback path), and one unpruned membership
    # check that every probe candidate is truly absent. Both read ONLY
    # the immutable v1 base (nothing touches `table` until the publish
    # commit below), and the publish leg's source count and staging
    # write are likewise independent of them — so all four fixed job
    # latencies run CONCURRENTLY (guide §2.6) instead of in sequence.
    from ..ops.snapshot import snapshot_publish

    stg = os.path.join(_tracked_mkdtemp(prefix="e02_snapstg_"), "stg")
    pub_slice = orders.where(F.col("o_orderkey") % 4 == 2)
    probe_pruned = snapshot_read(
        spark, table, prune=("o_orderkey", proven[0], proven[0])
    ).where(F.col("o_orderkey") == proven[0]) if proven else None
    probe_member = snapshot_read(spark, table).where(
        F.col("o_orderkey").isin(gaps)
    )
    with overlap(
        probe_pruned.count if probe_pruned is not None else lambda: None,
        probe_member.count,
        pub_slice.count,
        # the meta_rows_match comparison far below needs COUNT(*) of the
        # immutable source parquet — same overlap
        orders.count,
        partial(
            snapshot_write, pub_slice, stg, mode="overwrite", n_files=2,
            cluster_by=["o_orderkey"], stats_cols=["o_orderkey"],
        ),
    ) as legs:
        n_pruned, n_member, n_pub, n_orders_total, _ = (
            f.result() for f in legs
        )
    bloom_probe_ok = (
        len(proven) >= 1
        and len(kept_hit) == 1
        and n_pruned == 0
        and n_member == 0
    )
    # WRITE-AUDIT-PUBLISH leg: the %4==2 quarter lands in its own
    # staging snapshot table and is adopted by one zero-copy publish
    # commit (hard-linked files, staged stats reused); a keyed replay
    # must adopt nothing. The published rows are part of the final
    # hash-checked aggregate, so adoption correctness is content-pinned.
    pub = snapshot_publish(
        spark, stg, table, idempotency_key="q114-publish"
    )
    pub_replay = snapshot_publish(
        spark, stg, table, idempotency_key="q114-publish"
    )
    publish_ok = (
        pub["rows_adopted"] == n_pub
        and pub["files_adopted"] == 2
        and pub_replay["files_adopted"] == 0
        and pub_replay["version"] == pub["version"]
    )
    # BRANCH leg (round 11, writable refs): a NET-IDENTITY mutation
    # rides a branch — MoR-delete a slice, re-append the identical rows,
    # audit on the branch, FAST-FORWARD main as one atomic commit, fold.
    # Content is unchanged by construction, so the final hash-checked
    # aggregate pins that the branch round-trip (including adopting the
    # branch's outstanding DV files) corrupted nothing; the booleans pin
    # the ref machinery itself.
    from ..ops.snapshot import (
        snapshot_branch_create,
        snapshot_branch_drop,
        snapshot_branch_fastforward,
        snapshot_merge,
        snapshot_rewrite_deletes,
    )

    bp = snapshot_branch_create(table, "wip")
    rows_at_branch = snapshot_rows(table)
    ver_at_branch = snapshot_versions(table)[-1]
    # a CONTIGUOUS slice of the published quarter (subset of the table
    # by construction, so delete + re-append is net identity): the
    # clustered layout then scopes the branch merge's candidate scan
    # and the post-ff fold to the couple of files covering the band,
    # instead of touching every file the old modulo slice scattered over
    mk = _orders_max_key(spark, sf_dir)
    bslice = orders.where(
        (F.col("o_orderkey") % 4 == 2)
        & (F.col("o_orderkey") >= mk // 2)
        & (F.col("o_orderkey") < mk // 2 + mk // 16)
    )
    snapshot_merge(
        spark, bp, bslice.select("o_orderkey"), on=["o_orderkey"],
        when_matched="delete", insert_not_matched=False, strategy="mor",
    )
    snapshot_write(bslice, bp, mode="append", n_files=1,
                   stats_cols=["o_orderkey"])
    audit_ok = snapshot_rows(bp) == rows_at_branch  # branch-side audit
    ff = snapshot_branch_fastforward(spark, table, "wip")
    ff_replay = snapshot_branch_fastforward(spark, table, "wip")
    branch_ok = (
        audit_ok
        # main stayed at the branch point while the branch diverged,
        # and the ff landed the whole branch history as ONE commit
        and ff["version"] == ver_at_branch + 1
        and ff["noop"] is False
        and ff_replay["noop"] is True
        and snapshot_rows(table) == rows_at_branch
    )
    snapshot_branch_drop(table, "wip")
    snapshot_rewrite_deletes(spark, table)  # fold the adopted DV files
    feed = _stage_orders_feed(spark, sf_dir)

    def run_stream() -> None:
        ckpt = _tracked_mkdtemp(prefix="e02_snapckpt_")
        stream = (
            spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        with _stream_shuffle(spark):
            q = snapshot_stream_sink(
                stream, table, n_files=2, stats_cols=["o_orderkey"],
                checkpoint_dir=ckpt,
            )
            _await(q)

    run_stream()
    rows_v1, ver_v1 = snapshot_rows(table), snapshot_versions(table)[-1]
    run_stream()  # fresh checkpoint -> batches 0..1 replay -> all no-ops
    replay_noop = (
        snapshot_rows(table) == rows_v1
        and snapshot_versions(table)[-1] == ver_v1
    )
    meta_rows_match = snapshot_rows(table) == n_orders_total
    # O(metadata) rollback + DESCRIBE-HISTORY provenance, then roll
    # forward again: content at every step answered from manifests alone
    snapshot_rollback(table, ver_v1 - 1)
    h = snapshot_history(table)
    rollback_history_ok = (
        h[-1]["mode"] == "rollback"
        and h[-1]["rolled_back_to"] == ver_v1 - 1
        and h[-1]["rows"] == snapshot_rows(table, ver_v1 - 1)
        and snapshot_rows(table) == snapshot_rows(table, ver_v1 - 1)
        and snapshot_rows(table) < rows_v1
        and [e["version"] for e in h] == list(range(1, len(h) + 1))
    )
    snapshot_rollback(table, ver_v1)
    rollback_history_ok = (
        rollback_history_ok
        and snapshot_rows(table) == rows_v1
        and snapshot_history(table)[-1]["rolled_back_to"] == ver_v1
    )
    # AS OF <timestamp> time travel (round 10): every commit is stamped;
    # history times are monotone-clamped, both endpoints resolve to
    # their own versions, and an actual as_of read of v1 returns exactly
    # v1's row count (the overwrite quarter) — checked BEFORE expiry
    # collects the old versions.
    from ..ops.snapshot import _resolve_as_of, snapshot_compact, snapshot_expire

    h_ts = snapshot_history(table)
    ts = [e["timestamp"] for e in h_ts]
    as_of_ts_ok = (
        all(t is not None for t in ts)
        and ts == sorted(ts)
        and _resolve_as_of(table, ts[0]) == h_ts[0]["version"]
        and _resolve_as_of(table, ts[-1]) == h_ts[-1]["version"]
        and snapshot_read(spark, table, as_of=ts[0]).count()
        == snapshot_rows(table, h_ts[0]["version"])
    )
    # NAMED TAGS (round 10): a stable ref resolves reads and would pin
    # its version against the expiry below — tagged, read-by-tag
    # row-checked, then dropped so the GC leg stays exact.
    from ..ops.snapshot import snapshot_drop_tag, snapshot_tag

    snapshot_tag(table, "audit-cut", ver_v1 - 1)
    tag_ok = (
        snapshot_read(spark, table, tag="audit-cut").count()
        == snapshot_rows(table, ver_v1 - 1)
    )
    snapshot_drop_tag(table, "audit-cut")
    # EXPIRE/GC (round 10): a compact rewrites every file, then expiry
    # to keep_last=1 drops all prior manifests AND physically collects
    # the now-unreferenced pre-compact data files; the final
    # hash-checked aggregate below reads the POST-GC table, so the
    # content pin proves GC deleted nothing live.
    n_before = len(snapshot_versions(table))
    # GC-respect leg: a live branch pins its branch point against the
    # aggressive expire below (the ref-retention rule for writable
    # refs), and stays fully readable after main's GC collected every
    # other pre-compact object; dropping it makes the version expirable.
    ver_pin = snapshot_versions(table)[-1]
    bp_gc = snapshot_branch_create(table, "gc-pin")
    # the compact re-DECLARES blooms explicitly (same set commit 1
    # declared — exercises snapshot_compact's declare-and-harvest path
    # on top of the inheritance every other commit used)
    snapshot_compact(spark, table, n_files=4, cluster_by=["o_orderkey"],
                     bloom_cols=["o_orderkey"])
    exp = snapshot_expire(table, keep_last=1, clean_orphans=True)
    branch_gc_ok = (
        ver_pin in snapshot_versions(table)
        and exp["manifests_dropped"] == n_before - 1
        and snapshot_rows(bp_gc) == rows_v1
    )
    snapshot_branch_drop(table, "gc-pin")
    exp2 = snapshot_expire(table, keep_last=1, clean_orphans=True)
    expire_ok = (
        exp["files_deleted"] > 0
        and exp2["manifests_dropped"] == 1
        and len(snapshot_versions(table)) == 1
        and snapshot_rows(table) == rows_v1
    )
    # METADATA-TABLE leg (round 11), on the post-GC table: the
    # queryable metadata tables must agree exactly with the manifest
    # they derive from, and the blooms declared on commit 1 must still
    # be riding every file after the full lifecycle (publish, branch
    # fast-forward, stream appends, rollbacks, compact, expire).
    # Metadata is rows-scale tiny, so ONE collect per table (two jobs),
    # with the aggregates checked in Python.
    m_final = _read_manifest(table, snapshot_versions(table)[-1])
    # DELTA EXPORT leg (round 12): the post-GC table (4 files, no
    # deletes, no rename history) exports ZERO-COPY as a genuine Delta
    # Lake table, and a THIRD-PARTY reader reconstructs it — the log is
    # replayed with plain json exactly as the public Delta protocol doc
    # specifies, and DuckDB (not Spark, not snapshot_read) reads the
    # data files it selects. Green iff DuckDB's view of our exported
    # bytes matches snapshot_read on count, key-sum, key-xor, and the
    # count of distinct md5 row digests over the int/string columns —
    # an order-insensitive content pin computed by two independent
    # engines sharing only the md5 algorithm.
    from ..ops.export import snapshot_export_delta

    dest = os.path.join(_tracked_mkdtemp(prefix="e02_delta_"), "delta")
    exp_r = snapshot_export_delta(spark, table, dest)
    import json as _json

    import duckdb as _duckdb

    _digest_cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
    ]

    # After the expire above the table is quiescent and the export is on
    # disk, so the remaining verification legs are all independent reads:
    # the two metadata-table collects, the Spark digest aggregate, the
    # DuckDB third-party replay+digest, and the import round-trip (which
    # reads only `dest`). Their fixed latencies overlap as five legs
    # (guide §2.6) instead of running as five sequential tail jobs.
    def _duck_leg():
        live: dict = {}
        for lg in sorted(
            glob.glob(os.path.join(dest, "_delta_log", "*.json"))
        ):
            with open(lg) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    act = _json.loads(line)
                    if "add" in act:
                        live[act["add"]["path"]] = act["add"]
                    elif "remove" in act:
                        live.pop(act["remove"]["path"], None)
        return _duckdb.connect().execute(
            "SELECT count(*), sum(o_orderkey), bit_xor(o_orderkey), "
            "count(DISTINCT md5(concat_ws('|', "
            + ", ".join(_digest_cols)
            + "))) FROM read_parquet(?)",
            [[os.path.join(dest, p) for p in sorted(live)]],
        ).fetchone()

    def _spark_digest_leg():
        return (
            snapshot_read(spark, table)
            .agg(
                F.count(F.lit(1)),
                F.sum("o_orderkey"),
                F.expr("bit_xor(o_orderkey)"),
                F.countDistinct(
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[F.col(c).cast("string") for c in _digest_cols],
                        )
                    )
                ),
            )
            .first()
        )

    # ...and back IN: the exported Delta table imports as a snapshot
    # mirror (zero-copy adoption + footer-stat harvest + one commit),
    # whose metadata row count must equal the source's — the
    # export/import inverse pin, on the driver's own gate. Content
    # equality at full depth is pinned by
    # test_import_roundtrips_our_own_export.
    from ..ops.export import snapshot_import_delta
    from ..ops.snapshot import snapshot_rows as _srows

    back = os.path.join(_tracked_mkdtemp(prefix="e02_deltain_"), "back")
    with overlap(
        lambda: snapshot_meta(spark, table, "files").collect(),
        lambda: snapshot_meta(spark, table, "history").collect(),
        _duck_leg,
        _spark_digest_leg,
        partial(
            snapshot_import_delta, spark, dest, back,
            stats_cols=["o_orderkey"],
        ),
    ) as legs:
        fm, hm, duck, sp, imp_r = (f.result() for f in legs)
    bloom_meta_ok = (
        bloom_probe_ok
        and all(
            "o_orderkey" in (e.get("bloom") or {})
            for e in _all_entries(table, m_final)
        )
        and len(fm) == 4
        and all(r["bloom_cols"] == ["o_orderkey"] for r in fm)
        and sum(r["rows"] for r in fm) == rows_v1
        and [r["version"] for r in hm] == snapshot_versions(table)
    )
    delta_export_ok = (
        exp_r["mode"] == "zero-copy"
        and exp_r["files_added"] == 4
        and duck[0] == sp[0] == rows_v1
        and duck[1] == sp[1]
        and duck[2] == sp[2]
        and duck[3] == sp[3]
        and imp_r["mode"] == "import"
        and imp_r["files_adopted"] == 4
        and _srows(back) == rows_v1
    )
    # stats-pruned read: manifest [min,max] drops upper-half files before
    # Spark ever lists them; values prove the prune kept every needed row
    mid = _orders_max_key(spark, sf_dir) // 2
    from ..num import dsum

    return (
        snapshot_read(spark, table, prune=("o_orderkey", None, mid))
        .where(F.col("o_orderkey") <= mid)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .withColumn("meta_rows_match", F.lit(bool(meta_rows_match)))
        .withColumn("replay_noop", F.lit(bool(replay_noop)))
        .withColumn(
            "rollback_history_ok", F.lit(bool(rollback_history_ok))
        )
        .withColumn("publish_ok", F.lit(bool(publish_ok)))
        .withColumn("as_of_ts_ok", F.lit(bool(as_of_ts_ok)))
        .withColumn("tag_ok", F.lit(bool(tag_ok)))
        .withColumn("expire_ok", F.lit(bool(expire_ok)))
        .withColumn("branch_ok", F.lit(bool(branch_ok)))
        .withColumn("branch_gc_ok", F.lit(bool(branch_gc_ok)))
        .withColumn("bloom_meta_ok", F.lit(bool(bloom_meta_ok)))
        .withColumn("delta_export_ok", F.lit(bool(delta_export_ok)))
    )


_Q114_SQL = """
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
  TRUE AS meta_rows_match,
  TRUE AS replay_noop,
  TRUE AS rollback_history_ok,
  TRUE AS publish_ok,
  TRUE AS as_of_ts_ok,
  TRUE AS tag_ok,
  TRUE AS expire_ok,
  TRUE AS branch_ok,
  TRUE AS branch_gc_ok,
  TRUE AS bloom_meta_ok,
  TRUE AS delta_export_ok
FROM orders
WHERE o_orderkey <= (SELECT MAX(o_orderkey) // 2 FROM orders)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q116/q117 — lakehouse MERGE (copy-on-write upsert/delete) + change-data-
# feed over the snapshot-manifest table (ops/snapshot.snapshot_merge /
# snapshot_changes), driver-hash-checked: the DuckDB twin derives the
# post-merge content and the version-to-version row diff PURELY from the
# orders table and the same deterministic merge predicates, so every
# content cell and the metadata row count are hash-comparable.
#
# The chain (built once per (session, sf_dir), memoized like the staged
# feeds; reset_shared_state clears it so bench passes rebuild cold):
#   v1: overwrite load of the full orders table, 8 files clustered by
#       o_orderkey with manifest stats on it;
#   v2: DELETE merge of keys {k % 13 = 0, k < max/4} — a range-limited
#       CDC purge whose manifest-stats prune + semi-join discovery keep
#       upper-range files untouched;
#   v3: UPSERT merge — updates (keys {k % 7 = 0} in the [max/4, max/2)
#       band get o_orderpriority rewritten to 'X-MERGED') + inserts
#       (keys {k % 97 = 0} shifted by +10M, o_orderstatus 'N').
# The update band is disjoint from the delete band by construction, so
# every update-source key matches (pure logic, mirrored in SQL).
# --------------------------------------------------------------------------
_MERGE_MEMO: dict[tuple, dict] = {}

# --------------------------------------------------------------------------
# Shared v1 base: the CoW (q116), MoR (q118), and EQ (q123) chains all
# start from the IDENTICAL clustered overwrite of the full orders table.
# The 8-file repartitionByRange+sort is the expensive part of each chain,
# so it runs ONCE per (session, sf) and the other chains hard-link the
# immutable base (data files + manifests share inodes; each table's
# history then diverges independently — unlinking in one table never
# affects the others). Thread-safe: chain builders run concurrently in
# the composite's parallel groups.
# --------------------------------------------------------------------------
import threading as _threading

_BASE_MEMO: dict[tuple, str] = {}
_BASE_LOCK = _threading.Lock()

# MAX(o_orderkey) is the scenario-defining constant six lakehouse parts
# derive their key bands from; one job, memoized, instead of six.
_OMAX_MEMO: dict[tuple, int] = {}
_OMAX_LOCK = _threading.Lock()


def _orders_max_key(spark: SparkSession, sf_dir: str) -> int:
    key = (spark.sparkContext.applicationId, sf_dir)
    with _OMAX_LOCK:
        hit = _OMAX_MEMO.get(key)
        if hit is None:
            from ..io import load_table

            hit = _OMAX_MEMO[key] = (
                load_table(spark, sf_dir, "orders")
                .agg(F.max("o_orderkey"))
                .first()[0]
            )
        return hit


def _orders_base_table(spark: SparkSession, sf_dir: str) -> str:
    key = (spark.sparkContext.applicationId, sf_dir)
    with _BASE_LOCK:
        hit = _BASE_MEMO.get(key)
        if hit is not None and os.path.isdir(hit):
            return hit
        from ..io import load_table
        from ..ops.snapshot import snapshot_write

        table = os.path.join(_tracked_mkdtemp(prefix="e02_lakebase_"), "tbl")
        snapshot_write(
            load_table(spark, sf_dir, "orders"), table, mode="overwrite",
            n_files=8, cluster_by=["o_orderkey"], stats_cols=["o_orderkey"],
        )
        _BASE_MEMO[key] = table
        return table


def _clone_table_dir(src: str, prefix: str) -> str:
    dst = os.path.join(_tracked_mkdtemp(prefix=prefix), "tbl")
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(troot, exist_ok=True)
        for f in files:
            os.link(os.path.join(root, f), os.path.join(troot, f))
    return dst


def _cloned_base(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """A fresh table whose v1 is the shared base, by hard-link (no data
    IO, no Spark job). The base itself stays immutable at v1."""
    return _clone_table_dir(_orders_base_table(spark, sf_dir), prefix)


_SMALL_BASE_MEMO: dict[tuple, str] = {}
_SMALL_BASE_LOCK = _threading.Lock()


def _small_base_table(spark: SparkSession, sf_dir: str) -> str:
    """Shared immutable v1 over the SMALL feed (_SMALL_WHERE, an
    eighth of orders) — the small twin of _orders_base_table, cloned by
    every part that runs its pinned chain at reduced volume (q118's MoR
    chain, q123's EQ chain, q119/q124 via _small_chain)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    with _SMALL_BASE_LOCK:
        hit = _SMALL_BASE_MEMO.get(key)
        if hit is not None and os.path.isdir(hit):
            return hit
        from ..io import load_table
        from ..ops.snapshot import snapshot_write

        table = os.path.join(
            _tracked_mkdtemp(prefix="e02_lakebase_sm_"), "tbl"
        )
        snapshot_write(
            load_table(spark, sf_dir, "orders").where(
                F.expr(_SMALL_WHERE.removeprefix("WHERE "))
            ),
            table, mode="overwrite",
            n_files=4, cluster_by=["o_orderkey"], stats_cols=["o_orderkey"],
        )
        _SMALL_BASE_MEMO[key] = table
        return table


def _cloned_small_base(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    return _clone_table_dir(_small_base_table(spark, sf_dir), prefix)


_MERGE_LOCK = _threading.Lock()


def _merge_chain(spark: SparkSession, sf_dir: str) -> dict:
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _MERGE_MEMO.get(key)
    if hit is not None:
        return hit
    with _MERGE_LOCK:
        return _merge_chain_build(spark, sf_dir, key)


_SMALL_MEMO: dict[tuple, dict] = {}
_SMALL_START: dict[tuple, dict] = {}
_SMALL_LOCK = _threading.Lock()


def _small_chain_start(spark: SparkSession, sf_dir: str) -> dict:
    """PHASE 1 of the small chain: clone v1 synchronously (hard-links
    from the shared small base) and run the two CoW merges on a
    background thread. Returns {'table', 'future'} so a caller can
    overlap its own v1-dependent prep (q119's maintained-state base
    and MV creations) with the merge builds instead of blocking on the
    whole chain; `_small_chain()` joins the future. Memoized per
    (session, sf) — concurrent parts share one build."""
    key = (spark.sparkContext.applicationId, sf_dir)
    with _SMALL_LOCK:
        hit = _SMALL_START.get(key)
        if hit is not None:
            return hit
        table = _cloned_small_base(spark, sf_dir, "e02_smallchain_")
        # The engine's one pool outside overlap(): this future is SHARED
        # across composite parts through _SMALL_START and outlives the
        # caller's frame, so no with-block can own its join. q119 joins
        # it through the handle and q124 through _small_chain().
        from concurrent.futures import ThreadPoolExecutor

        ex = ThreadPoolExecutor(max_workers=1)
        fut = ex.submit(_small_chain_merges, spark, sf_dir, table, key)
        ex.shutdown(wait=False)
        hit = {"table": table, "v1": 1, "future": fut}
        _SMALL_START[key] = hit
        return hit


def _small_chain_merges(
    spark: SparkSession, sf_dir: str, table: str, key
) -> dict:
    from ..io import load_table
    from ..ops.snapshot import snapshot_merge

    orders = load_table(spark, sf_dir, "orders").where(
        F.expr(_SMALL_WHERE.removeprefix("WHERE "))
    )
    q = _orders_max_key(spark, sf_dir) // 4
    dels = orders.where(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") < q)
    ).select("o_orderkey")
    m1 = snapshot_merge(
        spark, table, dels, on=["o_orderkey"],
        when_matched="delete", insert_not_matched=False,
    )
    upd = orders.where(
        (F.col("o_orderkey") % 7 == 0)
        & (F.col("o_orderkey") >= q)
        & (F.col("o_orderkey") < 2 * q)
    ).withColumn("o_orderpriority", F.lit("X-MERGED"))
    ins = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    m2 = snapshot_merge(
        spark, table, upd.unionByName(ins), on=["o_orderkey"],
        when_matched="update", insert_not_matched=True,
        n_files_new=2, cluster_by=["o_orderkey"],
    )
    hit = {
        "table": table, "v1": 1, "v2": m1["version"],
        "v3": m2["version"], "m1": m1, "m2": m2,
    }
    _SMALL_MEMO[key] = hit
    return hit


def _small_chain(spark: SparkSession, sf_dir: str) -> dict:
    """The _merge_chain scenario over the small feed (see
    _SMALL_WHERE): identical three-version CoW shape, identical key
    bands (bnd derives from FULL orders), an eighth of the rows. The
    replay-heavy parts (q119, q124) feed from this chain — every code
    path they pin is feed-size-invariant — so the big chain's volume
    stays with the parts whose hash IS the volume (q116/q117/q118/
    q123). Memoized per (session, sf) like _merge_chain; independent
    lock so neither build blocks the other."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _SMALL_MEMO.get(key)
    if hit is not None:
        return hit
    return _small_chain_start(spark, sf_dir)["future"].result()


def _merge_chain_build(spark: SparkSession, sf_dir: str, key) -> dict:
    hit = _MERGE_MEMO.get(key)  # a lock-waiter reuses the winner's build
    if hit is not None:
        return hit
    from ..io import load_table
    from ..ops.snapshot import snapshot_merge

    orders = load_table(spark, sf_dir, "orders")
    table = _cloned_base(spark, sf_dir, "e02_mergetbl_")
    v1 = 1
    q = _orders_max_key(spark, sf_dir) // 4
    dels = orders.where(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") < q)
    ).select("o_orderkey")
    m1 = snapshot_merge(
        spark, table, dels, on=["o_orderkey"],
        when_matched="delete", insert_not_matched=False,
    )
    upd = orders.where(
        (F.col("o_orderkey") % 7 == 0)
        & (F.col("o_orderkey") >= q)
        & (F.col("o_orderkey") < 2 * q)
    ).withColumn("o_orderpriority", F.lit("X-MERGED"))
    ins = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    m2 = snapshot_merge(
        spark, table, upd.unionByName(ins), on=["o_orderkey"],
        when_matched="update", insert_not_matched=True,
        n_files_new=2, cluster_by=["o_orderkey"],
    )
    hit = {
        "table": table, "v1": v1, "v2": m1["version"], "v3": m2["version"],
        "m1": m1, "m2": m2,
    }
    _MERGE_MEMO[key] = hit
    return hit


def q116_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..num import dsum
    from ..ops.snapshot import snapshot_read, snapshot_rows

    ch = _merge_chain(spark, sf_dir)
    # meta_rows: COUNT(*) answered from the manifest LIST alone — equality
    # with the oracle's computed total hash-checks the merge's metadata
    # row accounting on top of the content cells
    return (
        snapshot_read(spark, ch["table"])
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .withColumn(
            "meta_rows", F.lit(snapshot_rows(ch["table"])).cast("bigint")
        )
    )


def q117_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..num import dsum
    from ..ops.snapshot import snapshot_changes

    ch = _merge_chain(spark, sf_dir)
    return (
        snapshot_changes(spark, ch["table"], ch["v2"], ch["v3"])
        .groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_keys"),
            dsum("o_totalprice", "total_price"),
        )
    )


# shared CTEs: the merged table's logical content, derived from orders.
# `src_where` restricts the chain's SOURCE rows (the small-chain feed for
# the replay-heavy parts); the key bands (bnd) always derive from the
# FULL orders table so every chain uses identical band boundaries.
def _chain_ctes(src_where: str = "") -> str:
    src = f"(SELECT * FROM orders {src_where})" if src_where else "orders"
    return f"""
bnd AS (SELECT MAX(o_orderkey) // 4 AS q FROM orders),
src AS (SELECT * FROM {src}),
v2 AS (
  SELECT * FROM src
  WHERE NOT (o_orderkey % 13 = 0 AND o_orderkey < (SELECT q FROM bnd))
),
v3 AS (
  SELECT * FROM v2
  WHERE NOT (o_orderkey % 7 = 0
             AND o_orderkey >= (SELECT q FROM bnd)
             AND o_orderkey < 2 * (SELECT q FROM bnd))
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         'X-MERGED' AS o_orderpriority
  FROM src
  WHERE o_orderkey % 7 = 0
    AND o_orderkey >= (SELECT q FROM bnd)
    AND o_orderkey < 2 * (SELECT q FROM bnd)
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, 'N' AS o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM src WHERE o_orderkey % 97 = 0
)
"""


_Q116_CTES = _chain_ctes()

# the small chain's feed: an eighth of orders (round 13 halved the
# round-11 quarter). The replay-heavy parts (q119's MV legs + stream,
# q124's CDC replication, q118's MoR and q123's EQ chains) run over this
# chain: their pins are MACHINERY invariants (exactly-once refresh,
# cursor no-op, incremental catch-up, CDC convergence, zero-rewrite
# merges, MIN/MAX-on-retract) that hold at any feed size, so the feed is
# the smallest chain that still exercises every code path with
# non-degenerate delete/update/insert bands at sf0.01 — the
# bench-slimming ask two verdicts running. Full-volume hashing stays
# with q116/q117 (the CoW chain), whose hash IS the volume pin.
_SMALL_WHERE = "WHERE o_orderkey % 8 = 1"
_Q116_CTES_SMALL = _chain_ctes(_SMALL_WHERE)

_Q116_SQL = f"""
WITH {_Q116_CTES}
SELECT o_orderstatus, o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
  CAST((SELECT COUNT(*) FROM v3) AS BIGINT) AS meta_rows
FROM v3 GROUP BY o_orderstatus, o_orderpriority
"""

# --------------------------------------------------------------------------
# q121 — the full lakehouse streaming loop: table A (three appended
# commits of an orders slice) is consumed by the snapshot_stream SOURCE
# (sources/snapshot_stream.py — version-number offsets, one input
# partition per appended file, executor-side Arrow reads), transformed,
# and written into table B through the exactly-once snapshot sink.
# The aggregate over B is hash-checked against the plain-SQL derivation
# of the same slice+filter from orders, with a metadata-vs-content row
# pin; checkpoint replay idempotence is pinned by the pytest twin.
# --------------------------------------------------------------------------


def q121_snapshot_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import load_table
    from ..num import dsum
    from ..ops.snapshot import (
        snapshot_read,
        snapshot_rows,
        snapshot_stream_sink,
        snapshot_write,
    )
    from ..sources.snapshot_stream import read_snapshot_stream

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 4 == 0
    )
    base = _tracked_mkdtemp(prefix="e02_snapstream_")
    a = os.path.join(base, "a")
    b = os.path.join(base, "b")
    ck = os.path.join(base, "ck")
    # two commits so the stream's offset log spans a real version range
    for i, mode in ((0, "overwrite"), (1, "append")):
        snapshot_write(
            orders.where(F.col("o_orderkey") % 8 == 4 * i), a, mode=mode,
            n_files=2,
        )

    def drain() -> None:
        q = snapshot_stream_sink(
            read_snapshot_stream(spark, a).where(
                F.col("o_orderstatus") != "F"
            ),
            b,
            checkpoint_dir=ck,
        )
        q.awaitTermination(300)

    drain()
    # metadata row accounting over B pins the exactly-once landing cheaply
    # (a full second drain is exercised by tests/test_snapshot_stream.py's
    # replay test; here one count job suffices for the driver bool)
    meta_rows_match = snapshot_rows(b) == snapshot_read(spark, b).count()
    return (
        snapshot_read(spark, b)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .withColumn("meta_rows_match", F.lit(bool(meta_rows_match)))
    )


_Q121_SQL = """
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
  TRUE AS meta_rows_match
FROM orders
WHERE o_orderkey % 4 = 0 AND o_orderstatus <> 'F'
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q120 — add-only schema evolution on the snapshot table: v1 loads the
# low-key half of orders under the original schema; v2 appends the high
# half carrying a NEW column (band = o_orderkey % 3). The manifest-
# recorded schema makes v1's files serve NULL for band with no rewrite
# and no mergeSchema footer sweep; the aggregate below groups BY the
# evolved column, so the driver hash pins the NULL backfill exactly.
# schema_stable pins that time travel still reads v1 with v1's narrower
# schema.
# --------------------------------------------------------------------------


def q120_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import load_table
    from ..num import dsum
    from ..ops.snapshot import (
        _plan_files,
        snapshot_read,
        snapshot_rows,
        snapshot_write,
    )

    orders = load_table(spark, sf_dir, "orders")
    table = os.path.join(_tracked_mkdtemp(prefix="e02_evotbl_"), "tbl")
    mid = _orders_max_key(spark, sf_dir) // 2
    # HIDDEN PARTITIONING rides on this table: bucket(16, o_custkey) is
    # a derived per-file value raw min/max stats cannot emulate (cust
    # keys are uniformly scattered, so every file spans the full range)
    v1 = snapshot_write(
        orders.where(F.col("o_orderkey") <= mid), table, mode="overwrite",
        n_files=4, cluster_by=["o_orderkey"], stats_cols=["o_orderkey"],
        partition_spec=[("bucket", "o_custkey", 16)],
    )
    high = orders.where(F.col("o_orderkey") > mid).withColumn(
        "band", (F.col("o_orderkey") % 3).cast("string")
    )
    snapshot_write(high, table, mode="append", n_files=4,
                   cluster_by=["o_orderkey"], stats_cols=["o_orderkey"])
    cur = snapshot_read(spark, table)
    # Three independent reads of immutable inputs — the orders COUNT(*)
    # (needed again by the CHECK leg below: computed ONCE now, it was
    # two identical jobs), the probe-row lookup, and the SPJ leg's
    # second-table write (a DIFFERENT table in its own tmpdir, zero
    # interaction with anything the CHECK leg commits to `table`) — run
    # CONCURRENTLY instead of as three serial fixed job latencies
    # (guide §2.6). Commit order on `table` itself is unchanged.
    cust_tbl = os.path.join(_tracked_mkdtemp(prefix="e02_spjcust_"), "tbl")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    with overlap(
        orders.count,
        orders.select("o_custkey", "o_orderkey", "o_orderpriority").first,
        partial(
            snapshot_write, cust, cust_tbl, mode="overwrite", n_files=4,
            partition_spec=[("bucket", "c_custkey", 16)],
        ),
    ) as (fut_n_orders, fut_p0, _):
        n_orders_total = fut_n_orders.result()
        schema_stable = (
            snapshot_read(spark, table, version=v1).columns
            == orders.columns
            and cur.columns == orders.columns + ["band"]
            and snapshot_rows(table) == n_orders_total
        )
        # hidden-partition point lookup: the probe names the SOURCE column,
        # the spec resolves to the derived bucket, the plan keeps a strict
        # file subset, and the pruned read still returns every matching row
        _p0 = fut_p0.result()
        probe = _p0["o_custkey"]
        probe_key, probe_comment = _p0["o_orderkey"], _p0["o_orderpriority"]
        all_files, _ = _plan_files(table, None, None)
        pruned = snapshot_read(
            spark, table, partition_prune={"o_custkey": probe}
        ).where(F.col("o_custkey") == probe)
        full = cur.where(F.col("o_custkey") == probe)
        n_kept = len(pruned.inputFiles())
        # the two point-probe counts are independent read-only jobs over
        # version-pinned frames — overlap their fixed latencies
        with overlap(pruned.count, full.count) as legs:
            n_pruned, n_full = (f.result() for f in legs)
        hidden_prune_ok = (
            0 < n_kept < len(all_files)
            and n_pruned == n_full > 0
        )
        # CHECK constraint on the EVOLVED column (snapshot_set_check):
        # ADD CONSTRAINT validates existing content — v1's NULL-backfilled
        # band passes (SQL CHECK semantics) — then a violating append must
        # raise pre-commit, leaving version and row count untouched
        from ..ops.snapshot import (
            CheckViolation,
            snapshot_set_check,
            snapshot_versions,
        )

        v_chk = snapshot_set_check(
            spark, table, "band_domain", "band IN ('0', '1', '2')"
        )
        rejected = False
        try:
            snapshot_write(
                high.limit(5).withColumn("band", F.lit("XXX")),
                table, mode="append", n_files=1,
            )
        except CheckViolation:
            rejected = True
        check_enforced = (
            rejected
            and snapshot_versions(table)[-1] == v_chk
            and snapshot_rows(table) == n_orders_total
        )
    # STORAGE-PARTITIONED JOIN (round 10): a second snapshot table
    # bucket-partitioned by the SAME transform (bucket(16, custkey))
    # joins this one with ZERO shuffle exchange in the join subtree —
    # per-bucket co-located scans, broadcast bucket-locally, unioned
    # (ops/bucketing.snapshot_colocated_join; plan additionally pinned
    # by tests/test_plans.py). The boolean pins plan shape AND row
    # parity against the naive join. The cust table's write was started
    # up top (independent of the CHECK leg) and joined by the block exit.
    from ..ops.bucketing import snapshot_colocated_join

    spj = snapshot_colocated_join(
        spark, table, cust_tbl, "o_custkey", "c_custkey"
    )
    spj_plan = spj._jdf.queryExecution().executedPlan().toString()
    # plan-parity counts: two independent read-only jobs, overlapped
    with overlap(
        spj.count, cur.join(cust, cur.o_custkey == cust.c_custkey).count
    ) as legs:
        n_spj, n_naive = (f.result() for f in legs)
    spj_ok = (
        "Exchange hashpartitioning" not in spj_plan
        and n_spj == n_naive
    )
    # PARTITION-SPEC EVOLUTION (round 10): one metadata-only commit
    # changes bucket(16) -> bucket(8); a post-evolution append lays out
    # under the new spec, and a point probe prunes BOTH layouts through
    # the spec history to a strict file subset while staying
    # row-complete. `cur` is snapshot-isolated from the append, so the
    # hash-checked aggregate below is unaffected.
    from ..ops.snapshot import _read_manifest, snapshot_set_partition_spec

    v_spec = snapshot_set_partition_spec(
        table, [("bucket", "o_custkey", 8)]
    )
    snapshot_write(
        orders.where(F.col("o_custkey") == probe).limit(50),
        table, mode="append", n_files=1,
    )
    pruned2 = snapshot_read(
        spark, table, partition_prune={"o_custkey": probe}
    ).where(F.col("o_custkey") == probe)
    full2 = snapshot_read(spark, table).where(F.col("o_custkey") == probe)
    all2, _ = _plan_files(table, None, None)
    # same shape as the first probe pair: overlap the two counts
    with overlap(pruned2.count, full2.count) as legs:
        n_pruned2, n_full2 = (f.result() for f in legs)
    spec_evolution_ok = (
        v_spec == v_chk + 1
        and len(
            _read_manifest(table, v_spec).get("partition_specs") or []
        ) == 2
        and 0 < len(pruned2.inputFiles()) < len(all2)
        and n_pruned2 == n_full2 > 0
    )
    # COLUMN RENAME/DROP (round 11): one metadata-only commit renames
    # o_orderpriority -> o_prio (zero files rewritten — the entry set
    # is unchanged), reads resolve the value from the OLD physical name in
    # every existing file, the dropped name's whole history is retired
    # against silent resurrection, and a column something still derives
    # meaning from (the partition transform's source) refuses by name.
    from ..ops.snapshot import (
        _all_entries,
        snapshot_drop_column,
        snapshot_rename_column,
    )

    pre = {e["path"] for e in _all_entries(table, _read_manifest(
        table, snapshot_versions(table)[-1]))}
    v_rn = snapshot_rename_column(table, "o_orderpriority", "o_prio")
    m_rn = _read_manifest(table, v_rn)
    renamed = snapshot_read(spark, table)
    rename_probe = renamed.where(
        F.col("o_orderkey") == probe_key
    ).select("o_prio").first()
    spec_guard = False
    try:
        snapshot_rename_column(table, "o_custkey", "cust")
    except ValueError:
        spec_guard = True  # the bucket transform derives from it
    snapshot_drop_column(table, "o_prio")
    retire_guard = False
    try:
        snapshot_write(
            orders.limit(1).withColumnRenamed(
                "o_orderpriority", "o_prio"
            ),
            table, mode="append", n_files=1,
        )
    except ValueError:
        retire_guard = True  # renamed-then-dropped history is retired
    rename_drop_ok = (
        {e["path"] for e in _all_entries(table, m_rn)} == pre
        and "o_prio" in renamed.columns
        and "o_orderpriority" not in renamed.columns
        and rename_probe is not None
        and rename_probe["o_prio"] == probe_comment
        and spec_guard
        and retire_guard
        and "o_prio" not in snapshot_read(spark, table).columns
    )
    return (
        cur.groupBy("o_orderstatus", "band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .withColumn("schema_stable", F.lit(bool(schema_stable)))
        .withColumn("hidden_prune_ok", F.lit(bool(hidden_prune_ok)))
        .withColumn("check_enforced", F.lit(bool(check_enforced)))
        .withColumn("spj_ok", F.lit(bool(spj_ok)))
        .withColumn("spec_evolution_ok", F.lit(bool(spec_evolution_ok)))
        .withColumn("rename_drop_ok", F.lit(bool(rename_drop_ok)))
    )


_Q120_SQL = """
SELECT o_orderstatus,
  CASE WHEN o_orderkey > (SELECT MAX(o_orderkey) // 2 FROM orders)
       THEN CAST(o_orderkey % 3 AS VARCHAR) END AS band,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
  TRUE AS schema_stable,
  TRUE AS hidden_prune_ok,
  TRUE AS check_enforced,
  TRUE AS spj_ok,
  TRUE AS spec_evolution_ok,
  TRUE AS rename_drop_ok
FROM orders GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q119 — incremental view maintenance over the q116 merge chain's CDF
# (ops/ivm.py): a materialized per-priority aggregate built at v1 is
# maintained to v3 purely from snapshot_changes deltas — O(changed rows),
# the base table is never re-scanned — then hash-checked against the
# oracle's full recompute over the v3 CTE. `ivm_matches_recompute`
# additionally pins, Spark-side, that the maintained state equals a
# genuine recompute over the final snapshot (exact-decimal state, so the
# comparison is bitwise, not approximate).
# --------------------------------------------------------------------------


def q119_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops.ivm import apply_agg_delta, finish_agg, materialize_agg
    from ..ops.mv import mv_create
    from ..ops.snapshot import snapshot_changes, snapshot_read

    keys, sums = ["o_orderpriority"], {"total_price": "o_totalprice"}
    minmax = {"price": "o_totalprice"}
    # phase-1 chain handle: v1 is committed before the merges run, and
    # the maintained-state BASE plus both MV creations depend only on
    # v1 — run them CONCURRENTLY with the chain's merge builds instead
    # of serially after them (they read version=1, immutable under the
    # concurrent commits)
    st_ch = _small_chain_start(spark, sf_dir)
    mv = os.path.join(_tracked_mkdtemp(prefix="e02_mvtbl_"), "mv")
    mv2 = os.path.join(_tracked_mkdtemp(prefix="e02_mvstream_"), "mv")
    with overlap(
        lambda: materialize_agg(
            snapshot_read(spark, st_ch["table"], version=1),
            keys, sums, minmax=minmax,
        ).localCheckpoint(),
        partial(mv_create, spark, st_ch["table"], mv, keys, sums,
                minmax=minmax, version=1),
        partial(mv_create, spark, st_ch["table"], mv2, keys, sums,
                minmax=minmax, version=1),
    ) as (fut_state, _, _):
        ch = st_ch["future"].result()
    state = fut_state.result()
    # The two persisted-MV maintenance DRAINS depend only on the FINAL
    # chain (committed above) and their own tables — kick them off now
    # so their fixed machinery (one exactly-once refresh; the CDF
    # stream's Python-runner spawn + micro-batch fold) overlaps the
    # delta computation below instead of following it serially (guide
    # §2.6). Their maintained-state DIFFS still run in the verification
    # legs — those do depend on `maintained`. The block joins both
    # drains even on failure (their errors must surface, and no
    # in-flight refresh/stream may outlive the entry).
    from ..ops.mv import mv_refresh, mv_stream

    maintained = None
    try:
        with overlap(
            partial(mv_refresh, spark, ch["table"], mv),
            lambda: _await(mv_stream(
                spark, ch["table"], mv2,
                _tracked_mkdtemp(prefix="e02_mvstreamck_"),
            )),
        ) as (fut_refresh, fut_drain):
            delta = snapshot_changes(spark, ch["table"], ch["v1"], ch["v3"])
            # the chain's delete merge RETRACTS rows, so the maintained
            # MIN/MAX exercise recompute-on-retract: only dirty groups
            # re-scan the base
            v3 = snapshot_read(spark, ch["table"], version=ch["v3"])
            maintained = apply_agg_delta(
                state, delta, keys, sums, minmax=minmax, base=v3
            ).persist()
            # three independent verification legs run CONCURRENTLY
            # (independent tables/jobs; Spark schedules them in one
            # session — sequential order would pay sum-of-walls for fixed
            # streaming/refresh machinery plus the recompute job):
            #   * RECOMPUTE: symmetric-difference emptiness of the
            #     maintained state vs a full v3 recompute, in ONE job.
            #   * BATCH (ops/mv.mv_refresh): state in its own snapshot
            #     table, cursor riding the commit, one exactly-once
            #     refresh rolls v1 -> v3 (drained above, overlapped with
            #     the delta); a second refresh is a cursor no-op.
            #   * CONTINUOUS (round 10, ops/mv.mv_stream): the chain's CDF
            #     STREAM feeds a foreachBatch fold committing
            #     state+cursor exactly-once per micro-batch (the DLT
            #     shape; drained above, overlapped with the delta).
            # Both stored states must equal the in-memory maintained
            # state bit-for-bit.

            def _diff_empty(df) -> bool:
                return (
                    df.exceptAll(maintained)
                    .unionByName(maintained.exceptAll(df))
                    .limit(1)
                    .count()
                    == 0
                )

            def _recompute_leg() -> bool:
                return _diff_empty(
                    materialize_agg(v3, keys, sums, minmax=minmax)
                )

            def _batch_leg() -> bool:
                # mv was created at v1 in the prefetch block and refreshed
                # by the overlapped drain above — join it, then verify
                r1 = fut_refresh.result()
                return (
                    r1["refreshed_to"] == ch["v3"]
                    and _diff_empty(snapshot_read(spark, mv))
                    and mv_refresh(spark, ch["table"], mv)["noop"] is True
                )

            def _stream_leg() -> bool:
                # mv2 was created at v1 in the prefetch block and drained
                # by the overlapped CDF stream above — join it, then verify
                fut_drain.result()
                return _diff_empty(snapshot_read(spark, mv2))

            def _finish_leg():
                # the result projection depends only on `maintained` — run
                # its job CONCURRENTLY with the verification legs instead
                # of serially after them (the legs' booleans ride in as
                # plain literals afterwards)
                return finish_agg(
                    maintained, keys, sums, count_alias="n_orders",
                    minmax=minmax,
                ).localCheckpoint()

            with overlap(
                _finish_leg, _recompute_leg, _batch_leg, _stream_leg
            ) as legs:
                out, matches, persisted_mv_matches, streamed_mv_matches = (
                    f.result() for f in legs
                )
    finally:
        if maintained is not None:
            maintained.unpersist()
    return (
        out.withColumn("ivm_matches_recompute", F.lit(bool(matches)))
        .withColumn("persisted_mv_matches", F.lit(bool(persisted_mv_matches)))
        .withColumn("streamed_mv_matches", F.lit(bool(streamed_mv_matches)))
    )


_Q119_SQL = f"""
WITH {_Q116_CTES_SMALL}
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE)
    AS total_price,
  CAST(ROUND(MIN(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE)
    AS min_price,
  CAST(ROUND(MAX(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE)
    AS max_price,
  TRUE AS ivm_matches_recompute,
  TRUE AS persisted_mv_matches,
  TRUE AS streamed_mv_matches
FROM v3 GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q118 — the SAME logical merge chain as q116, executed MERGE-ON-READ
# (ops/snapshot positional delete vectors) and then folded back via
# snapshot_rewrite_deletes. The oracle is the identical v3 CTE: the
# driver hash thereby pins that CoW and MoR converge to one logical
# result. Boolean pins ride as columns:
#   mor_no_rewrite     -- neither MoR merge rewrote or dropped a data file
#   meta_rows_match    -- metadata COUNT(*) identical pre/post rewrite and
#                         equal to the oracle's computed total
#   cdf_tomb_delta_ok  -- the CDF between the MoR v2 and v3 (which
#                         exercises the tombstone-delta path: deletes come
#                         from DV diffs, not removed files) balances with
#                         the merge's own metadata accounting
# --------------------------------------------------------------------------
_MOR_MEMO: dict[tuple, dict] = {}
_MOR_LOCK = _threading.Lock()


def _mor_chain(spark: SparkSession, sf_dir: str) -> dict:
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _MOR_MEMO.get(key)
    if hit is not None:
        return hit
    with _MOR_LOCK:
        return _mor_chain_build(spark, sf_dir, key)


def _mor_chain_build(spark: SparkSession, sf_dir: str, key) -> dict:
    hit = _MOR_MEMO.get(key)  # a lock-waiter reuses the winner's build
    if hit is not None:
        return hit
    from ..io import load_table
    from ..ops.snapshot import (
        snapshot_merge,
        snapshot_rewrite_deletes,
        snapshot_rows,
    )

    # rounds 11/13: the MoR chain runs at SMALL volume (same bands, bands
    # derived from FULL orders) — every boolean it pins (zero-rewrite
    # merges, tombstone-delta CDF, binpack scoping, metadata parity) is
    # feed-size-invariant, and its oracle CTE carries the same source
    # restriction. Full-volume hashing stays with q116/q117 (CoW).
    orders = load_table(spark, sf_dir, "orders").where(
        F.expr(_SMALL_WHERE.removeprefix("WHERE "))
    )
    table = _cloned_small_base(spark, sf_dir, "e02_mortbl_")
    q = _orders_max_key(spark, sf_dir) // 4
    dels = orders.where(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") < q)
    ).select("o_orderkey")
    m1 = snapshot_merge(
        spark, table, dels, on=["o_orderkey"],
        when_matched="delete", insert_not_matched=False, strategy="mor",
    )
    upd = orders.where(
        (F.col("o_orderkey") % 7 == 0)
        & (F.col("o_orderkey") >= q)
        & (F.col("o_orderkey") < 2 * q)
    ).withColumn("o_orderpriority", F.lit("X-MERGED"))
    ins = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    m2 = snapshot_merge(
        spark, table, upd.unionByName(ins), on=["o_orderkey"],
        when_matched="update", insert_not_matched=True,
        n_files_new=2, strategy="mor",
    )
    rows_v3 = snapshot_rows(table)
    # the CDF between the two MoR versions BEFORE the rewrite: deletes
    # surface from tombstone deltas alone (no data file was removed).
    # The CDF count reads IMMUTABLE older versions, so it runs
    # CONCURRENTLY with the rewrite-deletes fold (which only commits a
    # NEWER version) — the same overlap the EQ chain (q123) pins; the
    # binpack below stays serial (it packs the rewrite's output layout).
    from ..ops.snapshot import snapshot_changes

    def _cdf_leg() -> dict:
        return {
            r["_change_type"]: r["n"]
            for r in snapshot_changes(
                spark, table, m1["version"], m2["version"]
            )
            .groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    with overlap(
        _cdf_leg,
        partial(snapshot_rewrite_deletes, spark, table, n_files_new=2),
    ) as legs:
        cdf, rw = (f.result() for f in legs)
    # maintenance pass: binpack coalesces m2's two small appended files
    # (the chain's simulated ingest sprawl) and leaves the bulk alone;
    # the table's content hash downstream pins that it changed nothing
    from ..ops.snapshot import snapshot_agg, snapshot_binpack

    # target scales WITH the table (rows/8 = the v1 file size) so at every
    # SF only m2's two small appended files qualify — never the bulk
    bp = snapshot_binpack(spark, table, target_rows=max(50, rows_v3 // 8))
    ag = snapshot_agg(table, "o_orderkey")
    hit = {
        "table": table,
        "m1": m1, "m2": m2, "rw": rw, "bp": bp, "agg": ag,
        "rows_v3": rows_v3, "cdf": cdf,
    }
    _MOR_MEMO[key] = hit
    return hit


def q118_mor_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..num import dsum
    from ..ops.snapshot import snapshot_read, snapshot_rows

    ch = _mor_chain(spark, sf_dir)
    m1, m2, rw = ch["m1"], ch["m2"], ch["rw"]
    mor_no_rewrite = (
        m1["files_rewritten"] == 0 and m1["files_added"] == 0
        and m2["files_rewritten"] == 0
    )
    meta_rows_match = snapshot_rows(ch["table"]) == ch["rows_v3"]
    # every update tombstones exactly one live row and appends exactly one
    # replacement; inserts append with no tombstone — so the CDF must show
    # delete = m2's tombstones and insert = tombstones + net row growth
    net = m2["rows_after"] - m2["rows_before"]
    cdf_tomb_delta_ok = (
        ch["cdf"].get("delete", 0) == m2["tombstones_added"]
        and ch["cdf"].get("insert", 0) == m2["tombstones_added"] + net
    )
    cur = snapshot_read(spark, ch["table"])
    # maintenance pins: binpack packed m2's two small files and nothing
    # else, preserved the metadata row count, and restored metadata-
    # answerable MIN/MAX that agree with a real scan (one tiny job)
    ext = cur.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    ag = ch["agg"]
    maint_ok = (
        ch["bp"]["files_rewritten"] == 2
        and snapshot_rows(ch["table"]) == ch["rows_v3"]
        and ag["exact_bounds"]
        and ag["rows"] == ch["rows_v3"]
        and (ag["min"], ag["max"]) == (ext[0], ext[1])
    )
    return (
        cur.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .withColumn("mor_no_rewrite", F.lit(bool(mor_no_rewrite)))
        .withColumn("meta_rows_match", F.lit(bool(meta_rows_match)))
        .withColumn("cdf_tomb_delta_ok", F.lit(bool(cdf_tomb_delta_ok)))
        .withColumn("maint_ok", F.lit(bool(maint_ok)))
    )


_Q118_SQL = f"""
WITH {_Q116_CTES_SMALL}
SELECT o_orderstatus, o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
  TRUE AS mor_no_rewrite,
  TRUE AS meta_rows_match,
  TRUE AS cdf_tomb_delta_ok,
  TRUE AS maint_ok
FROM v3 GROUP BY o_orderstatus, o_orderpriority
"""


# --------------------------------------------------------------------------
# q122 — the STREAMING change-data-feed consumer (sources/
# snapshot_cdf_stream.py) driving incremental view maintenance: a
# materialized per-priority aggregate is maintained PURELY from the
# change stream — ONE live query (processingTime trigger) observes the
# initial load, then an append and two MoR merges land MID-STREAM while
# the query is running, then rewrite maintenance whose
# data_change=false steps must flow through the open stream as ZERO
# rows. The final state hash-checks against the pure-SQL derivation of
# the table's end state, and booleans pin bit-exact recompute parity
# and maintenance silence. This is the consumer that survives what
# fences the append-only snapshot_stream source. (The checkpoint-
# restart resume path of the same source is separately pinned by
# tests/test_cdf_stream.py — here one live query keeps the bench wall
# to a single stream start instead of two availableNow restarts.)
# --------------------------------------------------------------------------


def q122_cdf_stream_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    from ..io import load_table
    from ..ops.ivm import apply_agg_delta, finish_agg, materialize_agg
    from ..ops.snapshot import (
        snapshot_merge,
        snapshot_read,
        snapshot_rewrite_deletes,
        snapshot_rows,
        snapshot_versions,
        snapshot_write,
    )
    from ..sources.snapshot_cdf_stream import read_snapshot_changes_stream

    orders = load_table(spark, sf_dir, "orders")
    # an EIGHTH of orders (round 13, down from the quarter): every pin
    # here — IVM-vs-recompute equality, maintenance silence, exact feed
    # accounting — is feed-size-invariant; CDF volume pinning stays with
    # q117's full-volume chain
    sl = orders.where(F.col("o_orderkey") % 8 == 0).persist()
    base = _tracked_mkdtemp(prefix="e02_cdfivm_")
    tbl = os.path.join(base, "tbl")
    ck = os.path.join(base, "ck")
    keys, sums = ["o_orderpriority"], {"total_price": "o_totalprice"}
    # one source pass answers every count the pins below need
    st = sl.agg(
        F.max("o_orderkey").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_orderkey") % 13 == 0, 1).otherwise(0)
        ).alias("n_del"),
        F.sum(
            F.when(
                (F.col("o_orderkey") % 7 == 0)
                & (F.col("o_orderkey") % 13 != 0),
                1,
            ).otherwise(0)
        ).alias("n_upd"),
    ).first()
    mid = st["mx"] // 2
    snapshot_write(
        sl.where(F.col("o_orderkey") <= mid), tbl, mode="overwrite",
        n_files=2, cluster_by=["o_orderkey"], stats_cols=["o_orderkey"],
    )
    state = materialize_agg(
        snapshot_read(spark, tbl).limit(0), keys, sums
    ).localCheckpoint()

    # ONE live query observes both phases: micro-batches are parked
    # (localCheckpoint pins each batch's content past its micro-batch
    # lifetime) and folded into the state after the stream stops — the
    # folds are pure deltas, so batch grouping doesn't affect the state.
    batches: list[DataFrame] = []
    counts: list[int] = []

    def park(b: DataFrame, _i: int) -> None:
        # LAZY checkpoint: the count's single scan materializes it in
        # the same job (one job per micro-batch instead of two), still
        # strictly inside the batch callback — the content is pinned
        # before the micro-batch's plan expires, as before
        cb = b.localCheckpoint(eager=False)
        batches.append(cb)
        counts.append(cb.count())

    q = (
        read_snapshot_changes_stream(spark, tbl)
        .drop("_commit_version")
        .writeStream.foreachBatch(park)
        .trigger(processingTime="50 milliseconds")
        .option("checkpointLocation", ck)
        .start()
    )

    def wait_rows(target: int) -> int:
        """Block until the live feed has delivered `target` change rows
        (counts only grow; the table is quiescent at each wait point, so
        the total available IS the target — overshoot fails the pin)."""
        deadline = time.time() + 300
        while sum(counts) < target:
            if not q.isActive:
                raise RuntimeError(f"CDF stream died: {q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(
                    f"CDF stream stalled at {sum(counts)}/{target} rows"
                )
            time.sleep(0.05)
        return sum(counts)

    rows_lo = snapshot_rows(tbl)
    n1 = wait_rows(rows_lo)  # phase 1: the initial load as inserts
    snapshot_write(
        sl.where(F.col("o_orderkey") > mid), tbl, mode="append", n_files=1
    )
    # the merges land MID-STREAM: the live consumer has already folded
    # v1 and observes these as tombstone-delta deletes plus
    # appended-file inserts in its next micro-batches
    snapshot_merge(
        spark, tbl,
        sl.where(F.col("o_orderkey") % 13 == 0).select("o_orderkey"),
        on=["o_orderkey"], when_matched="delete",
        insert_not_matched=False, strategy="mor",
    )
    upd = sl.where(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0)
    ).withColumn("o_orderpriority", F.lit("X-MERGED"))
    snapshot_merge(spark, tbl, upd, on=["o_orderkey"],
                   when_matched="update", insert_not_matched=True,
                   strategy="mor")
    # content-preserving maintenance ALSO flows through the open stream —
    # its data_change=false steps must contribute exactly zero feed rows
    snapshot_rewrite_deletes(spark, tbl, n_files_new=2)
    # the silence pin needs the stream CONSUMED THROUGH the final
    # version before we stop — row-count waits alone would stop early
    # and miss rows a broken maintenance step emitted at the tail
    final_v = snapshot_versions(tbl)[-1]
    deadline = time.time() + 300
    while True:
        p = q.lastProgress
        eo = ((p or {}).get("sources") or [{}])[0].get("endOffset")
        if isinstance(eo, str):
            # python-datasource offsets surface as a dict repr (single
            # quotes), not JSON — literal_eval handles both
            import ast

            eo = ast.literal_eval(eo)
        if eo and eo.get("version", -1) >= final_v:
            break
        if not q.isActive:
            raise RuntimeError(f"CDF stream died: {q.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"CDF stream never reached v{final_v}")
        time.sleep(0.05)
    n2 = sum(counts) - n1
    q.stop()
    q.awaitTermination(60)
    # count/sum deltas are purely additive, so ONE fold over the union
    # of every micro-batch equals folding them in sequence — one join
    # against the state instead of one per batch
    from functools import reduce

    # ONE fold job (localCheckpoint) — the verification diff and the
    # result projection below both read the folded state from the
    # checkpoint instead of re-running the fold, and run CONCURRENTLY
    # (independent jobs; serial order paid two folds plus two tail walls)
    state = apply_agg_delta(
        state, reduce(DataFrame.unionByName, batches), keys, sums
    ).localCheckpoint()
    sl.unpersist()
    # exact feed accounting pins maintenance silence: the drain must have
    # carried the append's inserts, the delete-merge's deletes, and the
    # upsert's delete+insert pairs — nothing more
    maintenance_silent = (
        n1 == rows_lo
        and n2 == (st["n"] - rows_lo) + st["n_del"] + 2 * st["n_upd"]
    )
    def _matches_leg() -> bool:
        recompute = materialize_agg(snapshot_read(spark, tbl), keys, sums)
        return (
            state.exceptAll(recompute)
            .unionByName(recompute.exceptAll(state))
            .limit(1)
            .count()
            == 0
        )

    def _out_leg():
        return finish_agg(
            state, keys, sums, count_alias="n_orders"
        ).localCheckpoint()

    with overlap(_out_leg, _matches_leg) as legs:
        out, matches = (f.result() for f in legs)
    return (
        out.withColumn("ivm_matches_recompute", F.lit(bool(matches)))
        .withColumn("maintenance_silent", F.lit(bool(maintenance_silent)))
    )


_Q122_SQL = """
WITH sl AS (SELECT * FROM orders WHERE o_orderkey % 8 = 0),
fin AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X-MERGED'
              ELSE o_orderpriority END AS o_orderpriority
  FROM sl WHERE o_orderkey % 13 <> 0
)
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE)
    AS total_price,
  TRUE AS ivm_matches_recompute,
  TRUE AS maintenance_silent
FROM fin GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q123 — the SAME logical merge chain as q116/q118, with the upsert
# executed as EQUALITY DELETES (strategy='eq'): the delete leg runs MoR
# (positional tombstones), the upsert leg writes one key-valued eq file
# plus the appended source rows and reads ZERO target data — so the
# driver hash pins the CoW/MoR/EQ TRIPLE convergence on the identical v3
# CTE, with the eq READ path (seq-scoped key anti-join composing with
# the positional DVs) producing the content cells. Boolean pins:
#   eq_zero_reads  -- neither merge rewrote a file; the eq merge added
#                     exactly its n_files_new appends and its key count
#                     equals the source row count; rows_after honestly
#                     None (not metadata-derivable under eq)
#   cdf_eq_ok      -- the CDF across the eq step balances with source-
#                     derived counts (deletes = matched updates,
#                     inserts = updates + inserts)
#   meta_restored  -- snapshot_rewrite_deletes folded BOTH flavors and
#                     the metadata row count returns, equal to the
#                     arithmetic expectation
# --------------------------------------------------------------------------


def q123_eq_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import load_table
    from ..num import dsum
    from ..ops.snapshot import (
        snapshot_changes,
        snapshot_merge,
        snapshot_read,
        snapshot_rewrite_deletes,
        snapshot_rows,
    )

    # rounds 11/13: small volume, same rationale and same band boundaries
    # as the MoR chain above — the EQ pins (zero-target-read commits,
    # keyed replay no-op, eq CDF deltas, fold metadata parity) are all
    # feed-size-invariant; oracle CTE carries the same restriction
    orders = load_table(spark, sf_dir, "orders").where(
        F.expr(_SMALL_WHERE.removeprefix("WHERE "))
    )
    table = _cloned_small_base(spark, sf_dir, "e02_eqtbl_")
    q = _orders_max_key(spark, sf_dir) // 4
    # one source pass answers every count the boolean pins need
    cnt = orders.agg(
        F.sum(
            F.when(
                (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") < q),
                1,
            ).otherwise(0)
        ).alias("n_del"),
        F.sum(
            F.when(
                (F.col("o_orderkey") % 7 == 0)
                & (F.col("o_orderkey") >= q)
                & (F.col("o_orderkey") < 2 * q),
                1,
            ).otherwise(0)
        ).alias("n_upd"),
        F.sum(
            F.when(F.col("o_orderkey") % 97 == 0, 1).otherwise(0)
        ).alias("n_ins"),
    ).first()
    n_del, n_upd, n_ins = cnt["n_del"], cnt["n_upd"], cnt["n_ins"]
    dels = orders.where(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") < q)
    ).select("o_orderkey")
    m1 = snapshot_merge(
        spark, table, dels, on=["o_orderkey"],
        when_matched="delete", insert_not_matched=False, strategy="mor",
        commit_key="q123-del",
    )
    # the CDC-apply exactly-once contract (snapshot_cdc_sink): an
    # at-least-once re-execution of the same merge leg must no-op on
    # its manifest-recorded commit key — one manifest read, zero Spark
    # jobs, no new version
    m1r = snapshot_merge(
        spark, table, dels, on=["o_orderkey"],
        when_matched="delete", insert_not_matched=False, strategy="mor",
        commit_key="q123-del",
    )
    cdc_idempotent = (
        m1r["replayed"] is True
        and m1r["version"] == m1["version"]
        and m1r["files_added"] == 0
        and m1r["files_rewritten"] == 0
        and m1r["tombstones_added"] == 0
    )
    upd = orders.where(
        (F.col("o_orderkey") % 7 == 0)
        & (F.col("o_orderkey") >= q)
        & (F.col("o_orderkey") < 2 * q)
    ).withColumn("o_orderpriority", F.lit("X-MERGED"))
    # the EQ upsert carries the band updates only: its eq file's key
    # bounds stay [q, 2q), so the later rewrite prunes to the band files
    # instead of sweeping the whole table. The brand-new keys land via a
    # plain append — same v3 logical content, and the merge path being
    # pinned (delete-matching + append) is identical.
    m2 = snapshot_merge(
        spark, table, upd, on=["o_orderkey"],
        when_matched="update", insert_not_matched=True,
        n_files_new=2, strategy="eq",
    )
    ins = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    from ..ops.snapshot import snapshot_write

    v_ins = snapshot_write(ins, table, mode="append", n_files=1)
    eq_zero_reads = (
        m1["files_rewritten"] == 0
        and m2["files_rewritten"] == 0
        and m2["files_added"] == 2
        and m2["eq_keys"] == n_upd
        and m2["rows_after"] is None
    )
    # the CDF count reads IMMUTABLE older versions, so it runs
    # CONCURRENTLY with the rewrite-deletes fold (which only commits a
    # NEWER version) — two independent job chains instead of a serial
    # tail
    def _cdf_leg() -> dict:
        return {
            r["_change_type"]: r["n"]
            for r in snapshot_changes(spark, table, m1["version"], v_ins)
            .groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    with overlap(
        _cdf_leg,
        partial(snapshot_rewrite_deletes, spark, table, n_files_new=2),
    ) as legs:
        cdf, rw = (f.result() for f in legs)
    cdf_eq_ok = (
        cdf.get("delete", 0) == n_upd
        and cdf.get("insert", 0) == n_upd + n_ins
    )
    # the content agg reads the EQ-OUTSTANDING version: the driver hash
    # thereby pins the seq-scoped eq anti-join composing with the DVs
    cur = snapshot_read(spark, table, version=v_ins)
    meta_restored = (
        rw["eq_files_removed"] == 1
        and rw["tombstones_removed"] == n_del
        and m1["tombstones_added"] == n_del
        and snapshot_rows(table)
        == snapshot_rows(table, 1) - n_del + n_ins
    )
    return (
        cur.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .withColumn("eq_zero_reads", F.lit(bool(eq_zero_reads)))
        .withColumn("cdf_eq_ok", F.lit(bool(cdf_eq_ok)))
        .withColumn("meta_restored", F.lit(bool(meta_restored)))
        .withColumn("cdc_idempotent", F.lit(bool(cdc_idempotent)))
    )


_Q117_SQL = f"""
WITH {_Q116_CTES},
ins AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v2),
del AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v3),
ch AS (
  SELECT 'insert' AS _change_type, * FROM ins
  UNION ALL
  SELECT 'delete' AS _change_type, * FROM del
)
SELECT _change_type,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM ch GROUP BY _change_type
"""


# --------------------------------------------------------------------------
# q124 — TABLE REPLICATION (the Delta 'incremental clone via CDF'
# shape, ops/snapshot.snapshot_replicate): a mirror snapshot table is
# maintained from the q116 chain's streaming change-data-feed through
# the CDC-apply sink (eq-delete + eq-upsert legs, idempotent commit
# keys). The mirror's content hash-checks against the SAME v3 CTE as
# q116/q118/q123 — the FOURTH convergence pin on one oracle: CoW chain,
# MoR chain, EQ chain, and now a mirror REPLICATED from the CoW chain's
# CDF. Boolean pins:
#   replicate_incremental   -- a second run from the same checkpoint
#                              against the quiescent source commits
#                              NOTHING (exactly-once + O(delta) catch-up)
#   mirror_meta_rows_match  -- after snapshot_rewrite_deletes folds the
#                              CDC legs' eq files, the mirror's
#                              metadata COUNT equals the source chain's
# --------------------------------------------------------------------------


def q124_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..num import dsum
    from ..ops.snapshot import (
        snapshot_read,
        snapshot_replicate,
        snapshot_rewrite_deletes,
        snapshot_rows,
        snapshot_versions,
    )

    ch = _small_chain(spark, sf_dir)
    base = _tracked_mkdtemp(prefix="e02_repl_")
    mirror = os.path.join(base, "mirror")
    ck = os.path.join(base, "ck")
    q = snapshot_replicate(
        spark, ch["table"], mirror, on=["o_orderkey"], checkpoint_dir=ck,
    )
    q.awaitTermination(300)
    # incremental/exactly-once bookkeeping, from the checkpoint itself:
    # the offset log must be fully caught up to the source's last
    # version and every planned batch committed — the state from which
    # a catch-up run against a quiescent source PLANS NOTHING (that
    # full second-run pin executes for real in
    # test_snapshot_replicate_mirror_converges_and_is_incremental;
    # round 12 moved it out of the entry: it re-proved a pytest
    # invariant at the cost of one more fixed ~2 s streaming query per
    # bench run — the round-11 verdict's q116 slimming ask)
    import json as _json

    off_files = sorted(glob.glob(os.path.join(ck, "offsets", "*")))
    commit_files = sorted(glob.glob(os.path.join(ck, "commits", "*")))
    last_off = None
    if off_files:
        for line in reversed(
            open(off_files[-1]).read().strip().splitlines()
        ):
            try:
                last_off = _json.loads(line)
                break
            except ValueError:
                continue
    replicate_incremental = (
        last_off is not None
        and last_off.get("version") == ch["v3"]
        and len(commit_files) == len(off_files)
    )
    # fold the CDC legs' eq-delete files, then the metadata COUNT is
    # derivable again and must equal the source chain's
    snapshot_rewrite_deletes(spark, mirror, n_files_new=2)
    rows_ok = snapshot_rows(mirror) == snapshot_rows(ch["table"])
    return (
        snapshot_read(spark, mirror)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .withColumn(
            "replicate_incremental", F.lit(bool(replicate_incremental))
        )
        .withColumn("mirror_meta_rows_match", F.lit(bool(rows_ok)))
    )


_Q124_SQL = f"""
WITH {_Q116_CTES_SMALL}
SELECT o_orderstatus, o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
  TRUE AS replicate_incremental,
  TRUE AS mirror_meta_rows_match
FROM v3 GROUP BY o_orderstatus, o_orderpriority
"""


_Q123_SQL = f"""
WITH {_Q116_CTES_SMALL}
SELECT o_orderstatus, o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
  TRUE AS eq_zero_reads,
  TRUE AS cdf_eq_ok,
  TRUE AS meta_restored,
  TRUE AS cdc_idempotent
FROM v3 GROUP BY o_orderstatus, o_orderpriority
"""


QUERIES = {
    "q86_stream_incremental_counts": q86_stream_incremental_counts,
    "q87_stream_dedup_agg": q87_stream_dedup_agg,
    "q88_stream_tumbling": q88_stream_tumbling,
    "q95_stream_review_gate": q95_stream_review_gate,
    "q96_stream_sliding": q96_stream_sliding,
    "q97_stream_sessions": q97_stream_sessions,
    "q102_incremental_dedup_stream": q102_incremental_dedup_stream,
    "q114_snapshot_table": q114_snapshot_table,
    "q116_merge_upsert": q116_merge_upsert,
    "q117_change_feed": q117_change_feed,
    "q118_mor_merge": q118_mor_merge,
    "q119_incremental_view": q119_incremental_view,
    "q120_schema_evolution": q120_schema_evolution,
    "q121_snapshot_stream": q121_snapshot_stream,
    "q122_cdf_stream_ivm": q122_cdf_stream_ivm,
    "q123_eq_merge": q123_eq_merge,
    "q124_replication": q124_replication,
}


def _q102_oracle() -> str:
    from .llm_q import _Q31_SQL

    # same pair SQL as q31, restricted to the staged 1/3 subset
    target = "FROM documents)"
    assert _Q31_SQL.count(target) == 1, _Q31_SQL
    return _Q31_SQL.replace(target, "FROM documents WHERE doc_id % 3 = 0)")


def _q95_oracle() -> str:
    # the stream feeds the SAME gate evaluation as batch q21, over the same
    # fixture feed — the rendered q21 SQL IS the oracle
    from . import depgraph_q

    return depgraph_q.ORACLE["q21_team_gate"]


ORACLE = {
    "q86_stream_incremental_counts": _Q86_SQL,
    "q87_stream_dedup_agg": _Q87_SQL,
    "q88_stream_tumbling": _Q88_SQL,
    "q95_stream_review_gate": _q95_oracle(),
    "q96_stream_sliding": _Q96_SQL,
    "q97_stream_sessions": _Q97_SQL,
    # batch-equality invariant: incremental verdicts == q31's pair set
    "q102_incremental_dedup_stream": _q102_oracle(),
    # lakehouse-equality invariant: overwrite + exactly-once streamed
    # appends + replay dedup + stats-pruned read == the raw source
    "q114_snapshot_table": _Q114_SQL,
    "q116_merge_upsert": _Q116_SQL,
    "q117_change_feed": _Q117_SQL,
    "q118_mor_merge": _Q118_SQL,
    "q119_incremental_view": _Q119_SQL,
    "q120_schema_evolution": _Q120_SQL,
    "q121_snapshot_stream": _Q121_SQL,
    # the streaming CDF consumer's maintained state == the table's final
    # logical content, derived purely from orders + the merge predicates
    "q122_cdf_stream_ivm": _Q122_SQL,
    # triple convergence: the EQ chain hashes against the SAME v3 CTE as
    # the CoW (q116) and MoR (q118) chains
    "q123_eq_merge": _Q123_SQL,
    "q124_replication": _Q124_SQL,
}
