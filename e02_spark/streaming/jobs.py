"""Streaming jobs over the events stream and the review-event stream.

Each job's aggregation logic is the SAME expression tree as its
oracle-checked batch twin (q24 tumbling, q25 sessions, B11/B15 gate) —
streaming adds only watermarks/output-mode/state plumbing. That keeps the
correctness surface batch-tested while the streaming path stays thin
(SURVEY.md §7.4 item 6).

Scale: file-source streams shard by file; state stores (dedup, session
windows, the gate's per-PR state) are keyed by high-cardinality keys and
sized by the watermark horizon, so state is bounded regardless of total
stream length.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream of event parquet files dropped into events_dir.

    A file stream needs a declared schema; rather than hard-coding one (a
    second copy of io.py's encoding assumptions — the round-2 regression),
    we take the schema from a one-file batch read of the same directory and
    reuse io.normalize_ts, so batch and stream always agree on how ts is
    decoded whatever parquet encoding the data arrived in.
    """
    from e02_spark.io import normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(events_dir).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )
    return normalize_ts(raw, ["ts"])


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """E10+E13: 1-hour tumbling counts with a 10-minute watermark (late
    events beyond the watermark are dropped). Same agg as batch q24."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events")
    )


def sliding_quarter_hour(events: DataFrame) -> DataFrame:
    """E11: 1-hour windows sliding every 15 minutes."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """E14: drop duplicate event_ids within the watermark horizon."""
    return events.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])


def session_windows(events: DataFrame) -> DataFrame:
    """E12 (streaming form): native session_window with a 30-minute gap —
    the batch twin (q25, lag+cumsum) is the oracle-checked semantics."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


# --- E15: the review gate as a stateful stream -----------------------------

GATE_OUTPUT_SCHEMA = StructType(
    [
        StructField("pr", LongType()),
        StructField("n_approvers", LongType()),
        StructField("last_ts", TimestampType()),
        StructField("seq", LongType()),
        StructField("approvers", StringType()),
    ]
)
GATE_STATE_SCHEMA = StructType([StructField("state_json", StringType())])


def _gate_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-PR state: {"u": {user: (ts_iso, review_state)}, "seq": n} —
    Map-overwrite keep-latest exactly like the reference
    (pr-review-flow.yml:100-103). After each batch emits the approver
    count, the sorted approver set (';'-joined — downstream gate
    evaluation explodes it back to (pr, user) rows), and `seq`, the
    cumulative number of updates this key has received: in update mode
    the sink accumulates one row per key per batch, so the FINAL state
    row is the seq-argmax, selectable without knowing the batch split."""
    import json

    if state.exists:
        st = json.loads(state.get[0])
        latest: dict[str, Any] = st["u"]
        seq: int = st["seq"]
    else:
        latest, seq = {}, 0
    last_ts = None
    # itertuples is deliberate here (unlike the vectorized multimodal
    # paths): this is an ordered fold into keyed state — each row's effect
    # depends on the state left by the previous one — and the per-key
    # batch is a handful of reviews at any corpus scale (the state op
    # shards by PR; total volume parallelizes across keys, not rows).
    for pdf in pdfs:
        for row in pdf.sort_values("ts").itertuples():
            prev = latest.get(row.user)
            ts_iso = row.ts.isoformat()
            if prev is None or prev[0] <= ts_iso:
                latest[row.user] = (ts_iso, row.state)
            last_ts = row.ts if last_ts is None or row.ts > last_ts else last_ts
    seq += 1
    state.update((json.dumps({"u": latest, "seq": seq}),))
    approved = sorted(u for u, v in latest.items() if v[1] == "APPROVED")
    yield pd.DataFrame(
        {
            "pr": [key[0]],
            "n_approvers": [len(approved)],
            "last_ts": [last_ts],
            "seq": [seq],
            "approvers": [";".join(approved)],
        }
    )


def review_gate_stream(reviews: DataFrame) -> DataFrame:
    """E15: applyInPandasWithState over review events keyed by PR."""
    return reviews.groupBy("pr").applyInPandasWithState(
        _gate_fn,
        outputStructType=GATE_OUTPUT_SCHEMA,
        stateStructType=GATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def label_mutation_sink(
    gate_updates: DataFrame,
    pr_files: DataFrame,
    team_members: DataFrame,
    owner_lines: DataFrame,
    state_dir: str,
):
    """The reference's WRITE side as a sink: label add/remove +
    requestReviewers (pr-review-flow.yml:242-288, :317-324) modeled as an
    idempotent foreachBatch merge into a `pr_labels` state table.

    Each micro-batch of gate-state updates (the review_gate_stream
    output) is reduced to the latest approver set per PR (seq argmax),
    run through the SAME gate evaluation as batch q21
    (review_gate.gate_from_approvals), and the reference's mutation rules
    are applied to the persisted state table (pr, kind, name):

      owners✓ ∧ ¬fac          → add  label 'ready-for-facilitators-review'
      owners✓ ∧ fac✓ ∧ ¬tech  → remove that label, add
                                 'ready-for-tech-review', and request the
                                 'tech-team' reviewer (:317-324)
      owners✓ ∧ fac✓ ∧ tech✓  → remove 'ready-for-tech-review'

    Reference quirks kept bug-for-bug: a status REGRESSION (approval
    revoked, stage falls back to 'owners') removes nothing — stale labels
    persist, exactly like the workflow, which only mutates on the three
    conditions above; and a PR that jumps straight past a stage in one
    batch never receives that stage's label. addLabels/removeLabel are
    idempotent in the API (add existing = no-op, remove absent = caught
    error), which the set-union/anti-join merge reproduces — so REPLAYING
    a feed leaves the table byte-identical (the test's invariant).
    Reviewer requests are add-only (the reference never un-requests).

    The parquet-overwrite swap stands in for a transactional MERGE INTO,
    same as incremental_event_counts. Returns the started StreamingQuery.
    """

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        latest = batch.groupBy("pr").agg(
            F.max_by("approvers", "seq").alias("approvers")
        )
        approvals = latest.select(
            "pr", F.explode(F.split("approvers", ";")).alias("user")
        ).where(F.col("user") != "")
        from e02_spark.depgraph.review_gate import gate_from_approvals

        batch_prs = latest.select("pr").distinct()
        status = gate_from_approvals(
            pr_files.join(batch_prs, "pr", "left_semi"),
            approvals,
            team_members,
            owner_lines,
        )
        c, f, t = (
            F.col("codeowners_approved"),
            F.col("facilitators_approved"),
            F.col("tech_approved"),
        )
        fac, tech = "ready-for-facilitators-review", "ready-for-tech-review"

        def _rows(cond, kind: str, name: str) -> DataFrame:
            return status.where(cond).select(
                "pr", F.lit(kind).alias("kind"), F.lit(name).alias("name")
            )

        adds = (
            _rows(c & ~f, "label", fac)
            .unionByName(_rows(c & f & ~t, "label", tech))
            .unionByName(_rows(c & f & ~t, "reviewer", "tech-team"))
        )
        removes = _rows(c & f & ~t, "label", fac).unionByName(
            _rows(c & f & t, "label", tech)
        )
        try:
            # explicit schema: the state layout is exactly adds' shape,
            # so skip the per-batch footer schema-inference pass
            existing = spark.read.schema(adds.schema).parquet(state_dir)
        except Exception as e:
            # ONLY a missing path means "no state yet". A transient or
            # torn-directory read failure must re-raise: mapping it to
            # empty state and then overwriting would permanently wipe
            # every previously accumulated label.
            msg = str(e)
            if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
                raise
            existing = adds.limit(0)
        merged = (
            existing.join(removes, ["pr", "kind", "name"], "left_anti")
            .unionByName(adds)
            .distinct()
        )
        merged.localCheckpoint(eager=True).coalesce(1).write.mode(
            "overwrite"
        ).parquet(state_dir)

    return (
        gate_updates.writeStream.foreachBatch(_apply)
        .outputMode("update")  # the stateful gate upstream emits updates
        .trigger(availableNow=True)
        .start()
    )


def view_click_attribution(events: DataFrame) -> DataFrame:
    """E16: stream-stream join — attribute each click to the view(s) by the
    same user in the preceding 10 minutes.

    Both sides carry a watermark and the join condition bounds event time
    on both sides, so Spark can expire join state: a buffered view is
    dropped once the click-side watermark passes v_ts + 10 minutes. State
    is therefore O(events within the horizon), not O(stream length) —
    the property that makes stream-stream joins viable at 100 TB/day.

    Batch twin: queries/relational3.py::q68_view_click_attribution
    (oracle-checked); the streaming test asserts set-equality vs it.
    """
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND c_ts > v_ts "
            "AND c_ts <= v_ts + interval 10 minutes"
        ),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )


def incremental_event_counts(events: DataFrame, state_dir: str):
    """E17: incremental view maintenance — a foreachBatch sink that keeps a
    per-event_type aggregate table up to date as micro-batches arrive.

    Each batch is pre-aggregated (map-side partials: the batch shuffle is
    on event_type only), merged with the persisted state by re-aggregation,
    and atomically swapped in. Counts and decimal-exact value sums are
    algebraic, so merge-by-re-aggregation is exact regardless of how rows
    split across batches — the invariant the test asserts (final state ==
    one-shot batch aggregate).

    The parquet-overwrite swap (materialize → overwrite) stands in for a
    transactional table format; on a real cluster this merge is a Delta/
    Iceberg MERGE INTO, same dataflow.

    Returns the started StreamingQuery.
    """

    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        agg = batch.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        try:
            # explicit schema (the persisted state is exactly the merged
            # shape below): skips the per-batch footer schema inference
            existing = spark.read.schema(
                "event_type string, n_events bigint, value_sum decimal(18,4)"
            ).parquet(state_dir)
            merged = (
                existing.unionByName(agg)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").cast("bigint").alias("n_events"),
                    F.sum("value_sum")
                    .cast("decimal(18,4)")
                    .alias("value_sum"),
                )
            )
        except Exception as e:
            # missing path only — a transient read failure must re-raise,
            # or this batch's overwrite would reset the accumulated counts
            msg = str(e)
            if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
                raise
            merged = agg.select(
                "event_type",
                "n_events",
                F.col("value_sum").cast("decimal(18,4)").alias("value_sum"),
            )
        # localCheckpoint materializes the merge (executor-side, no driver
        # collect) before we overwrite the directory it was read from
        merged.localCheckpoint(eager=True).coalesce(1).write.mode(
            "overwrite"
        ).parquet(state_dir)

    return (
        events.writeStream.foreachBatch(_merge)
        .trigger(availableNow=True)
        .start()
    )


def partitioned_layout_sink(events: DataFrame, table_dir: str):
    """Streaming ingest into the hive-partitioned lakehouse layout:
    each micro-batch APPENDS its rows to the (event_type, day)
    directories it touches, as files named with the batch id.

    Why not dynamic partition overwrite per batch: a partition that
    straddles two micro-batches (any feed of more files than
    maxFilesPerTrigger) would have its earlier rows silently replaced by
    the later batch's overwrite — data loss within a single healthy run.
    Instead the sink writes the batch to a sibling `.staging_batch_<id>`
    directory outside the table (same repartition/cluster discipline as
    ops/layout.write_partitioned, so file counts and row-group stats are
    identical), then MOVES the files into the final partition
    directories under a `b<batch_id>-` name prefix. Appending by move is
    a metadata-only commit — exactly what a FileOutputCommitter does.

    Replay idempotence: before moving, any existing `b<batch_id>-*`
    files in the destination (leftovers of a crashed or replayed
    execution of THIS batch) are deleted, so an at-least-once
    re-execution replaces its own files and never duplicates rows.
    Other batches' files are never touched. availableNow file batching
    is deterministic (ordered file list), so a replay regenerates the
    same partition set and cleans up completely.

    Returns the started StreamingQuery.
    """
    import glob as _glob
    import os
    import shutil

    from e02_spark.ops.layout import write_partitioned

    def _write(batch: DataFrame, batch_id: int) -> None:
        staged = batch.withColumn("day", F.to_date("ts"))
        # staging lives OUTSIDE the table: Spark's partition discovery
        # does not skip `_`-prefixed directories, so an in-table staging
        # dir would break concurrent/crash-window reads with
        # CONFLICTING_PARTITION_COLUMN_NAMES
        stage_dir = table_dir.rstrip("/") + f".staging_batch_{batch_id}"
        write_partitioned(
            staged,
            stage_dir,
            ["event_type", "day"],
            cluster_by=["ts"],
        )
        prefix = f"b{batch_id:06d}-"
        for pdir in _glob.glob(
            os.path.join(stage_dir, "event_type=*", "day=*")
        ):
            rel = os.path.relpath(pdir, stage_dir)
            dest = os.path.join(table_dir, rel)
            os.makedirs(dest, exist_ok=True)
            for stale in _glob.glob(os.path.join(dest, prefix + "*")):
                os.remove(stale)
            for f in _glob.glob(os.path.join(pdir, "*.parquet")):
                os.replace(f, os.path.join(dest, prefix + os.path.basename(f)))
        shutil.rmtree(stage_dir)

    return (
        events.writeStream.foreachBatch(_write)
        .trigger(availableNow=True)
        .start()
    )


def incremental_corpus_dedup(
    docs_stream: DataFrame,
    state_dir: str,
    k: int = 4,
    bands: int = 2,
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    state_writers: int = 4,
    broadcast_pair_limit: int = 1_000_000,
    index_buckets: int = 0,
):
    """E27: incremental near-dup detection — dedup each micro-batch of
    documents against EVERYTHING ingested before it.

    This is the production shape of LSH dedup at 100 TB: the corpus
    arrives continuously, and re-running the all-pairs batch job per
    delivery is quadratic in deliveries. Instead the sink maintains three
    state tables under state_dir:
      band_index/   (doc_id, band_idx, band_key) — the LSH probe index
      shingles/     (doc_id, shingle)            — the exact-verify corpus
      doc_sizes_tbl (doc_id, n_sh, batch)        — |shingles(doc)|, written
                                                   ONCE when the doc
                                                   arrives — a SNAPSHOT
                                                   TABLE (atomic keyed
                                                   commits, time travel),
                                                   see below
    Per batch: shingle + sign the new docs (the SAME ops/text and
    ops/dedup.band_keys code the batch detector uses), probe new band
    keys against old ∪ new keys, SEMI-JOIN the shingle corpus down to the
    colliding doc_ids, exact-verify those candidates' Jaccard using the
    persisted per-doc sizes (never re-counting the corpus), append
    (da, db, jaccard) verdicts for da < db (doc_ids are ingest-ordered,
    so 'earlier' is 'smaller'), then merge the new keys/shingles/sizes
    into the state.

    Per-batch cost: the probe join is O(batch keys × colliding state
    keys); the exact-verify joins touch only candidate docs' shingles
    (the left-semi against the candidate id set prunes the corpus scan's
    shuffle to O(collisions)); doc sizes are incremental state, NOT a
    per-batch groupBy over the accumulated corpus. Nothing per-batch
    aggregates the whole corpus.

    Ingest-order contract (ENFORCED, not just documented): a batch whose
    min doc_id is <= the max doc_id already present in the doc_sizes
    state raises ValueError instead of silently missing
    (old_doc > new_doc) pairs.

    Replay idempotence: every output lands in its own batch=<id>
    subdirectory with mode=overwrite, and state READS filter
    `batch < batch_id` — so an at-least-once re-execution of batch N
    (crash after N's state writes but before the streaming commit) sees
    exactly the pre-N state (its own half-written partitions are pruned
    out) and rewrites the same directories. Without the read filter a
    replay would double-count N's shingles (Jaccard > 1 artifacts).

    state_writers sizes the parquet writer parallelism for the per-batch
    state appends; at 100 TB set it proportional to batch bytes
    (target ~128 MB per output file), not a fixed small constant.

    Bucket-pruned probe (index_buckets > 0 — the scale path, off by
    default because a toy batch touches every bucket and pays pure
    overhead): the band index is stored hash-bucketed on band_key
    (batch=<id>/bucket=<hash(band_key) % index_buckets>), and each batch
    reads ONLY the buckets its own keys hash into — any old key that can
    collide with a batch key shares its band_key, hence its bucket, so
    the pruning is lossless. When the corpus dwarfs the batch (the
    100 TB steady state: thousands of buckets, batches touching few)
    this turns the per-batch index read from an O(corpus) scan into
    partition-pruned O(corpus × touched/index_buckets) — the file-layout
    stand-in for the key-value store a production probe would use.
    index_buckets must stay constant for a state_dir's lifetime: mixing
    bucketed and unbucketed batch directories gives the reader
    inconsistent partition depths. ENFORCED (round 8): the chosen value
    is persisted atomically to `<state_dir>/_index_meta.json` at sink
    construction; reattaching with a different value raises a named
    ValueError up front, before any batch can interleave layouts —
    instead of the accidental (and layout-dependent) partition-discovery
    error it used to rely on. Unchanged restarts validate and resume.

    Invariant (pinned by tests/test_streaming.py): the union of per-batch
    verdicts over any batch split equals the one-shot batch
    minhash_lsh_pairs over the full corpus — within-batch pairs surface
    as new-vs-new, cross-batch pairs as old-vs-new.

    Returns the started StreamingQuery.
    """
    import json
    import os
    import uuid

    from e02_spark.ops.dedup import band_keys
    from e02_spark.ops.text import minhash_signature, shingles

    index_dir = os.path.join(state_dir, "band_index")
    shingle_dir = os.path.join(state_dir, "shingles")
    # doc_sizes state lives in a SNAPSHOT TABLE (ops/snapshot.py), not a
    # raw parquet dir: each batch appends through one atomic manifest
    # commit keyed by the batch id, so exactly-once needs no
    # per-batch-directory overwrite dance for this table (a replayed
    # batch's append is a structural no-op), and the state's history is
    # time-travelable for audit. Reads still filter `batch < batch_id` —
    # a replayed batch whose append DID commit before the crash must see
    # exactly the pre-batch state. The other two state tables keep the
    # directory layout (band_index for its bucket-partition pruning).
    sizes_tbl = os.path.join(state_dir, "doc_sizes_tbl")
    out_dir = os.path.join(state_dir, "verdicts")

    # index_buckets lifetime marker: written once (atomic tmp+replace) when
    # the state_dir is first attached, validated on every reattach. A
    # mismatch is a config error the operator must resolve (resume with
    # the recorded value, or clear the state_dir) — never a silent
    # re-layout of the band index.
    meta_path = os.path.join(state_dir, "_index_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            recorded = json.load(f)["index_buckets"]
        if recorded != index_buckets:
            raise ValueError(
                "incremental_corpus_dedup index_buckets mismatch: state dir "
                f"{state_dir!r} was created with index_buckets={recorded}, "
                f"reattached with index_buckets={index_buckets}. The band "
                "index layout is fixed for a state dir's lifetime — resume "
                f"with index_buckets={recorded} or start a fresh state dir."
            )
    else:
        os.makedirs(state_dir, exist_ok=True)
        tmp = meta_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"index_buckets": index_buckets}, f)
        os.replace(tmp, meta_path)

    def _read_state(
        spark, path: str, schema: str, batch_id: int, extra=None
    ) -> DataFrame:
        """Pre-batch state only: `batch < batch_id` prunes the partition
        directories of this batch's own (possibly half-written, replayed)
        output, making at-least-once re-execution read exactly the state
        the first execution saw. `extra` adds a further partition filter
        (the band_key bucket pruning). Missing path -> empty state. Any
        OTHER read failure re-raises: treating a transient/corrupt read
        as 'no state yet' would silently drop every cross-batch
        candidate."""
        cols = [c.strip().split()[0] for c in schema.split(",")]
        try:
            # explicit schema (data cols + the batch partition column):
            # without it every micro-batch pays a footer-sampling schema
            # inference pass over the accumulated state files before the
            # real read — pure per-batch overhead at any state size
            df = spark.read.schema(f"{schema}, batch INT").parquet(path).where(
                F.col("batch") < F.lit(batch_id)
            )
            if extra is not None:
                df = df.where(extra)
            return df.select(*cols)
        except Exception as e:
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return spark.createDataFrame([], schema=schema)
            raise

    # Ingest-order watermark cache: read from the doc_sizes state only on
    # the FIRST batch this sink instance processes (covers restarts — a
    # fresh closure re-reads pre-batch state), then carried in-process.
    # A failed batch never updates it (the update is the last line).
    _wm = {"max": None}

    def _read_sizes_state(spark, batch_id: int) -> DataFrame:
        """Pre-batch doc_sizes from the snapshot table: manifest-resolved
        file list (no directory discovery), `batch < batch_id` for the
        replay window. No committed snapshot yet -> empty state."""
        from e02_spark.ops.snapshot import snapshot_read

        try:
            df = snapshot_read(spark, sizes_tbl)
        except FileNotFoundError:
            return spark.createDataFrame(
                [], schema="doc_id BIGINT, n_sh BIGINT"
            )
        return df.where(F.col("batch") < F.lit(batch_id)).select(
            "doc_id", "n_sh"
        )

    def _batch(batch: DataFrame, batch_id: int) -> None:
        from e02_spark.overlap import overlap

        spark = batch.sparkSession
        sizes_old = _read_sizes_state(spark, batch_id)
        # Ingest-order watermark = max doc_id already in the doc_sizes
        # state (no separate watermark table — one tiny agg over the
        # per-doc state, not a per-batch single-row write, which profiled
        # at ~4 s/batch of pure job overhead). Shingle-less docs are
        # absent from doc_sizes, which only weakens detection for docs
        # that cannot produce pairs anyway.
        #
        # The bounds agg and the (first-batch) watermark lookup are
        # independent of the candidate build below, so their fixed job
        # latencies run as an overlap leg beside the candidate
        # materialization instead of preceding it serially. The contract
        # check happens after the join — still strictly before any
        # state write, which is all the ordering the replay/abort
        # semantics need (an aborted batch must write nothing).
        def _bounds_and_wm():
            bounds = batch.agg(
                F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
            ).first()
            prev_max = _wm["max"]
            if bounds["lo"] is not None and prev_max is None:
                from e02_spark.ops.snapshot import snapshot_versions

                # a FRESH state dir (no committed doc_sizes snapshot)
                # has no watermark by construction — the versions() file
                # listing answers that without scheduling a Spark job
                # over an empty frame (~0.4 s of batch-0 machinery)
                if snapshot_versions(sizes_tbl):
                    prev_max = sizes_old.agg(F.max("doc_id")).first()[0]
            return bounds, prev_max

        with overlap(_bounds_and_wm) as (bw_fut,):
            # persisted (not eagerly checkpointed — the eager job was pure
            # scheduling overhead; lineage never leaves this batch closure):
            # computed once on first use, reused by sizes_new, keys_new, the
            # exact-verify corpus, and the state write
            sh_new = shingles(batch).persist()
            # persisted: feeds both the Jaccard denominators and its own
            # doc_sizes state write
            sizes_new = sh_new.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_sh")
            ).persist()
            # keys_new feeds both sides of the probe join and the state
            # append; persist so the k-digest signature runs once per batch
            keys_new = band_keys(minhash_signature(sh_new, k=k), k, bands).persist()
            # bucket-pruned index read: only the buckets this batch's keys
            # hash into can hold colliding old keys (lossless — equal
            # band_key => equal bucket)
            bucket_filter = None
            if index_buckets > 0:
                touched = [
                    r[0]
                    for r in keys_new.select(
                        F.pmod(
                            F.xxhash64("band_key"), F.lit(index_buckets)
                        ).alias("b")
                    )
                    .distinct()
                    .collect()
                ]
                bucket_filter = F.col("bucket").isin(touched)
            idx_old = _read_state(
                spark, index_dir, "doc_id BIGINT, band_idx INT, band_key STRING",
                batch_id,
                extra=bucket_filter,
            )
            sh_old = _read_state(
                spark, shingle_dir, "doc_id BIGINT, shingle STRING", batch_id
            )

            # BROADCAST the batch-sized probe against the corpus-sized state
            # index: the big side is then scanned map-side with NO exchange —
            # per-batch shuffle volume stays O(batch + collisions) even though
            # the state read is O(corpus) IO. (A real deployment additionally
            # turns the index scan into a point lookup via a key-value store
            # or band_key-bucketed table; the dataflow is identical.)
            probe = keys_new.select(
                F.col("doc_id").alias("db"), "band_idx", "band_key"
            )
            earlier = (
                idx_old.unionByName(keys_new)
                .select(F.col("doc_id").alias("da"), "band_idx", "band_key")
            )
            cand = (
                earlier.join(F.broadcast(probe), ["band_idx", "band_key"])
                .where(F.col("da") < F.col("db"))
                .select("da", "db")
                .distinct()
                .persist()
            )
            # The collision side is UNBOUNDED (a hot batch can collide with
            # the whole corpus), so unlike the batch-bounded probe it is only
            # broadcast while it is verifiably small — the count is free-ish
            # (it materializes the persisted cand, which every later stage
            # reuses); past the limit the joins fall back to shuffles, which
            # is the right plan at that size.
            n_cand = cand.count()
        # the overlapped bounds/watermark job is joined: enforce the
        # ingest-order contract (and the empty-batch no-op) BEFORE any
        # state write, exactly as the serial form did
        bounds, prev_max = bw_fut.result()
        lo = bounds["lo"]
        if lo is None:
            # empty micro-batch: nothing to probe, no state to write
            for df_ in (keys_new, sizes_new, sh_new, cand):
                df_.unpersist()
            return
        if prev_max is not None and lo <= prev_max:
            raise ValueError(
                "incremental_corpus_dedup ingest-order contract violated: "
                f"batch {batch_id} contains doc_id {lo} <= previously "
                "ingested max "
                f"{prev_max}; 'earlier doc == smaller id' no longer "
                "holds, (old>new) pairs would be silently dropped"
            )
        maybe_bc = F.broadcast if n_cand <= broadcast_pair_limit else (lambda d: d)
        # Exact-verify touches ONLY colliding docs: (broadcast-)semi-join
        # the corpus to the candidate id set before the intersection
        # joins — a map-side filter over the big side, so the only
        # shuffled shingles are the candidates'.
        cand_ids = (
            cand.select(F.col("da").alias("doc_id"))
            .unionByName(cand.select(F.col("db").alias("doc_id")))
            .distinct()
        )
        corpus = (
            sh_old.unionByName(sh_new)
            .join(maybe_bc(cand_ids), "doc_id", "left_semi")
            .persist()
        )
        # persisted: the doc_sizes state feeds BOTH denominator joins
        # (na and nb) of the same verdict job — cached on the first scan
        # instead of re-reading the O(#docs-ever) state parquet twice per
        # batch (the round-7 advice: cache state reads across the
        # probe/verify joins)
        sizes = sizes_old.unionByName(sizes_new).persist()
        inter = (
            corpus.select(F.col("doc_id").alias("da"), "shingle")
            .join(maybe_bc(cand), "da")
            .join(
                corpus.select(F.col("doc_id").alias("db"), "shingle"),
                ["db", "shingle"],
            )
            .groupBy("da", "db")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        # inter is O(collisions) — under the limit, broadcasting it (and
        # the first join's equally small result) keeps both O(#docs)
        # sizes scans exchange-free too
        with_na = maybe_bc(inter).join(
            sizes.select(F.col("doc_id").alias("da"), F.col("n_sh").alias("na")),
            "da",
        )
        jac = (
            maybe_bc(with_na)
            .join(
                sizes.select(F.col("doc_id").alias("db"), F.col("n_sh").alias("nb")),
                "db",
            )
            .select(
                "da",
                "db",
                (
                    F.col("inter").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("inter"))
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )

        def _bdir(base: str) -> str:
            return os.path.join(base, f"batch={batch_id}")

        def _write_index() -> None:
            if index_buckets > 0:
                keys_new.withColumn(
                    "bucket",
                    F.pmod(F.xxhash64("band_key"), F.lit(index_buckets)),
                ).coalesce(state_writers).write.partitionBy("bucket").mode(
                    "overwrite"
                ).parquet(_bdir(index_dir))
            else:
                keys_new.coalesce(state_writers).write.mode(
                    "overwrite"
                ).parquet(_bdir(index_dir))

        # The four per-batch outputs (verdicts + 3 state tables) are
        # independent jobs over already-persisted inputs — run them as
        # overlap legs so their fixed job-scheduling latencies
        # overlap instead of summing (Spark's scheduler interleaves
        # concurrent jobs; per-batch replay safety is unchanged — each
        # lands in its own batch=<id> dir with mode=overwrite, and state
        # READS filter batch < batch_id regardless of write order).
        def _write_sizes() -> None:
            # exactly-once by manifest idempotency key: a replayed
            # batch's append commits nothing twice, structurally
            from e02_spark.ops.snapshot import snapshot_write

            snapshot_write(
                sizes_new.withColumn("batch", F.lit(batch_id)),
                sizes_tbl,
                mode="append",
                n_files=1,
                stats_cols=["doc_id", "batch"],
                idempotency_key=f"batch-{batch_id}",
            )

        with overlap(
            # verdicts are O(surviving pairs) — one task/file instead of
            # shuffle-width files of a handful of rows each (the map side
            # keeps its parallelism; coalesce only narrows the tail stage)
            lambda: jac.coalesce(1).write.mode("overwrite").parquet(
                _bdir(out_dir)
            ),
            _write_index,
            lambda: sh_new.coalesce(state_writers)
            .write.mode("overwrite")
            .parquet(_bdir(shingle_dir)),
            _write_sizes,
        ):
            pass
        keys_new.unpersist()
        sizes_new.unpersist()
        sizes.unpersist()
        sh_new.unpersist()
        cand.unpersist()
        corpus.unpersist()
        _wm["max"] = int(bounds["hi"])

    writer = docs_stream.writeStream.foreachBatch(_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        # durable offset log: a restarted stream resumes from the last
        # committed batch instead of reprocessing the whole feed — the
        # exactly-once-per-file contract the restart test pins
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def user_sessions_ttl(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """E15 with EVENT-TIME TIMEOUT: keyed session state that is closed by
    WATERMARK-DRIVEN EVICTION, not only by a later in-key event.

    The plain session_windows operator (and the q25 batch twin) can only
    close a session when the same user produces a later event; a user who
    goes quiet holds state forever. Here each user's open session arms an
    event-time timer at session_end + gap; when the stream's watermark
    passes it, Spark invokes the function with state.hasTimedOut=True and
    NO rows, and the session is emitted as closed and its state REMOVED —
    the bounded-state contract an unbounded 100 TB stream needs
    (state size tracks ACTIVE users, not all users ever seen).

    Event-time timeouts are deterministic (the watermark derives from
    data, not wall clock) — unlike ProcessingTimeTimeout, which can never
    be hash-checked. Emission: a session row also closes eagerly when a
    same-user event arrives past the gap (exactly session_windows'
    semantics); `closed_by_timeout` records which path fired.

    Output: (user_id, session_start, session_end, n_events,
    closed_by_timeout). Sessions still open when the stream ends are
    deliberately NOT emitted (their timer has not fired) — the
    at-the-horizon tail every watermarked operator withholds.
    """
    from datetime import timedelta

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("closed_by_timeout", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_iso", StringType()),
            StructField("end_iso", StringType()),
            StructField("n", LongType()),
        ]
    )
    gap = timedelta(minutes=gap_minutes)

    def _fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        closed: list[tuple] = []
        if state.hasTimedOut:
            start_iso, end_iso, n = state.get
            closed.append((key[0], start_iso, end_iso, n, True))
            state.remove()
        else:
            if state.exists:
                start_iso, end_iso, n = state.get
                cur = [pd.Timestamp(start_iso), pd.Timestamp(end_iso), int(n)]
            else:
                cur = None
            for pdf in pdfs:
                for row in pdf.sort_values("ts").itertuples():
                    ts = row.ts
                    if cur is None:
                        cur = [ts, ts, 1]
                    elif ts - cur[1] <= gap:
                        cur[1] = max(cur[1], ts)
                        cur[2] += 1
                    else:
                        closed.append(
                            (key[0], cur[0].isoformat(), cur[1].isoformat(),
                             cur[2], False)
                        )
                        cur = [ts, ts, 1]
            if cur is not None:
                state.update(
                    (cur[0].isoformat(), cur[1].isoformat(), int(cur[2]))
                )
                # arm the event-time timer: evict when the watermark
                # passes session_end + gap. The naive pandas timestamp is
                # epoch-converted as UTC, which matches Spark's event-time
                # domain when spark.sql.session.timeZone is UTC (this
                # engine's sessions; a non-UTC deployment must localize
                # before the epoch conversion).
                state.setTimeoutTimestamp(
                    int((cur[1] + gap).timestamp() * 1000)
                )
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1]) for c in closed],
                    "session_end": [pd.Timestamp(c[2]) for c in closed],
                    "n_events": [c[3] for c in closed],
                    "closed_by_timeout": [c[4] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def tws_runtime_available() -> bool:
    """transformWithStateInPandas needs protobuf in the Python worker
    runtime (its state-server protocol) — absent in some environments.
    The plan CONSTRUCTION below works either way; only execution needs
    the dependency, so callers/tests gate on this."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_sessions_ttl_tws(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """user_sessions_ttl re-expressed on transformWithStateInPandas —
    Spark 4's arbitrary-state API (the successor to
    applyInPandasWithState): typed state handles (ValueState) instead of
    one monolithic state tuple, EXPLICIT named timers
    (registerTimer/deleteTimer, many per key) instead of the single
    implicit timeout slot, and a separate handleExpiredTimer callback
    instead of a hasTimedOut flag threaded through the row path.

    Semantics are IDENTICAL to user_sessions_ttl by construction (the
    equivalence is pinned by test): same gap rule, same eager close on a
    late same-user event, same watermark-driven eviction with
    closed_by_timeout=True, same horizon withholding. On session extension
    the stale timer is deleted and a new one registered at end+gap —
    replicating the old API's replace-on-set timeout slot; a stale timer
    that fires anyway (belt-and-braces) is ignored unless its expiry
    matches the live session's end+gap.

    Same session-timezone assumption as user_sessions_ttl: naive pandas
    timestamps are epoch-converted as UTC, matching Spark's event-time
    domain when spark.sql.session.timeZone is UTC.
    """
    from datetime import timedelta

    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("closed_by_timeout", BooleanType()),
        ]
    )
    gap = timedelta(minutes=gap_minutes)
    gap_ms = int(gap.total_seconds() * 1000)

    def _expiry_ms(end_iso: str) -> int:
        return int(pd.Timestamp(end_iso).timestamp() * 1000) + gap_ms

    def _frame(closed: list[tuple]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": [pd.Timestamp(c[1]) for c in closed],
                "session_end": [pd.Timestamp(c[2]) for c in closed],
                "n_events": [c[3] for c in closed],
                "closed_by_timeout": [c[4] for c in closed],
            }
        )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.sess = handle.getValueState(
                "sess", "start_iso STRING, end_iso STRING, n BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            closed: list[tuple] = []
            if self.sess.exists():
                start_iso, end_iso, n = self.sess.get()
                cur = [pd.Timestamp(start_iso), pd.Timestamp(end_iso), int(n)]
                old_expiry = _expiry_ms(end_iso)
            else:
                cur, old_expiry = None, None
            for pdf in rows:
                for row in pdf.sort_values("ts").itertuples():
                    ts = row.ts
                    if cur is None:
                        cur = [ts, ts, 1]
                    elif ts - cur[1] <= gap:
                        cur[1] = max(cur[1], ts)
                        cur[2] += 1
                    else:
                        closed.append(
                            (key[0], cur[0].isoformat(), cur[1].isoformat(),
                             cur[2], False)
                        )
                        cur = [ts, ts, 1]
            if cur is not None:
                self.sess.update(
                    (cur[0].isoformat(), cur[1].isoformat(), int(cur[2]))
                )
                new_expiry = int(cur[1].timestamp() * 1000) + gap_ms
                if old_expiry is not None and old_expiry != new_expiry:
                    self.handle.deleteTimer(old_expiry)
                self.handle.registerTimer(new_expiry)
            if closed:
                yield _frame(closed)

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):
            if not self.sess.exists():
                return
            start_iso, end_iso, n = self.sess.get()
            if expiredTimerInfo.getExpiryTimeInMs() != _expiry_ms(end_iso):
                return  # stale timer for an already-extended session
            self.sess.clear()
            yield _frame([(key[0], start_iso, end_iso, int(n), True)])

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="eventTime",
        )
    )
