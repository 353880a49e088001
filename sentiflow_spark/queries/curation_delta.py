"""The INCREMENTAL (delta-batch) form of the ten-stage curation DAG —
the steady-state production arrangement: a corpus is never re-curated
from scratch; crawl batches arrive and are admitted against STANDING
manifest-backed state, and a release ("publish") derives the training
set from the manifests without re-touching corpus text.

Reference shape: the steady-state ingest loop the reference runs
(``cmd/producer/main.go:43-49`` — fetch every 300 s, admit against the
Valkey dedup marks, persist) lifted to curation-DAG fidelity: the
standing state here plays the role of the reference's dedup-mark /
stored-topic stores, and each delta batch is one fetch round.

Why this converges EXACTLY to the one-shot ``txt_curation_dag`` (and is
therefore provable against the same DuckDB oracle):

* The only cross-doc state that feeds a document's TEXT-derived
  features is (a) the boilerplate segment set (segments in >=
  BP_MIN_DOCS distinct docs) and (b) the benchmark winnow-hash set.
  Both are MONOTONE GROWING unions over batches — a segment that
  crosses the threshold never uncrosses, a bench hash never leaves.
* Per-doc features (post-boilerplate text, Gopher flags, exact-dedup
  fingerprint, MinHash signature, winnow fingerprints, token counts)
  are pure functions of (raw text, boilerplate set). When a batch
  makes segments CROSS the threshold, exactly the prior docs
  CONTAINING a crossing segment are invalidated — no cascade, because
  no other doc's features read those docs' features. Each batch
  recomputes features for (delta ∪ stale) only and MERGEs them into
  the feature manifest, so after the last batch every stored feature
  row equals the one-shot value computed against the FINAL sets.
* The decision layer is derived AT PUBLISH from the manifests —
  narrow columns, no raw text except re-cutting the contaminated docs.
  First-wins exact winners, LSH near-dup losers and the
  decontamination spans come from stored fingerprints, signatures and
  winnow keys; the gate, the post-cut accounting, the cap → grouped
  split → packing tail and the stage label are the one-shot DAG's own
  functions (curation_dag.dag_gate / cut_accounting / cap / clusters /
  dispose),
  so the two agree by construction over the same features.

Cost shape at 100 TB: per-batch work is O(delta + stale) corpus text
(normalize/segment/hash/sign/winnow only the affected docs) plus
O(delta) APPENDS to every store — all state is generation-partitioned
LSM/merge-on-read (v3): the per-doc FEATURE store resolves latest-wins
at publish (a keyed bucket-merge there would be O(manifest) per batch
because uniformly-hashed doc_ids touch every bucket — measured by the
probe's steady-state leg under the v1 layout, and the reason
Delta/Iceberg deployments run merge-on-read for exactly this table);
segment COUNTS sum-aggregate across generations at read; bench hashes
are a distinct-at-read set. Publish touches raw text ONLY for
span-cut docs and otherwise runs on manifest-resident metadata
(fingerprints, signatures, token counts); the latest-wins resolution
is a narrow-column aggregate + semi-join (stale recomputes are the
only superseded rows). Because every store is append-only and
generation-addressed, ``publish(as_of_gen=G)`` reconstructs the exact
release after batch G — reproducible dataset releases with
partition-pruned time travel, no snapshot copies. The one-shot DAG by
contrast re-hashes the entire corpus every run. The ``--curate-delta``
scale probe measures all of it, including the fixed-size steady-state
delta leg; ``jobs.py compact`` is the compaction story.

Convergence is proved the way ``sim_ivf_upsert`` proved index upserts:
``txt_curation_delta`` pushes the whole corpus through as
DELTA_BATCHES ascending-doc_id batches against initially-empty state
and must hash-match the ONE-SHOT DAG oracle row-for-row.

SINGLE-WRITER PER STATE ROOT: generation allocation is a driver-side
max+1 listing, so admissions and compactions take a kernel-flock
writer fence on the root (crash release is the kernel's — no stale
locks; a LIVE concurrent writer gets ConcurrentWriterError).
Run one admitting process per state root — the batch job and the
streaming twin must not share one.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sentiflow_spark.functions.text import fingerprint, token_count
from sentiflow_spark.operators.dedup import (
    BP_MIN_DOCS,
    NUM_PERM,
    SPAN_MIN_FPS,
    _position_islands,
    boiler_segments,
    lsh_candidate_pairs,
    minhash_signatures,
    strip_with_boiler,
    unpack_winnow_key,
    winnow_fingerprints,
)
from sentiflow_spark.queries.curation_dag import (
    NEAR_DUP_JACCARD,
    _duck_dag_oracle,
    cap,
    clusters,
    cut_accounting,
    dag_gate,
    dispose,
)
from sentiflow_spark.queries.curation_queries import gopher_flags, nfc_norm_expr
from sentiflow_spark.queries.dedup_queries import DECON_SPAN_MOD
from sentiflow_spark.queries.registry import register
from sentiflow_spark.tables import load

DELTA_BATCHES = 3
# segdocs hash-bucket count (the only remaining bucket-clustered
# store; its reads prune to the crossing segments' buckets)
N_STATE_BUCKETS = 16
# Bump when manifest CONTENT changes for the same corpus (stored
# columns, bucket layout): the state root carries it, so a code change
# can never silently serve manifests written by old code.
# v2: the features store became APPEND-ONLY generation-partitioned
# (latest-wins at publish) instead of bucket-merged.
# v3: ALL stores are generation-partitioned appends (LSM/merge-on-read
# throughout: counts sum-aggregate at read, bench hashes distinct at
# read) — per-batch writes are O(delta) everywhere, and publish gains
# as-of-generation time travel.
# v4: retention-horizon compaction (compact_state(horizon=H)) — the
# managed sweep state is horizon-compacted at H=1, so the registered
# queries prove publishes survive it; layout differs from v3 for the
# same corpus.
_STATE_VERSION = 4

_SIG_COLS = [f"sig_{i}" for i in range(NUM_PERM)]


def _state_root(sf_dir: str) -> str:
    """Managed state location under the repo's gitignored .tmp/ scratch
    root (the sim_ivf pattern): keyed by source dir + version so SFs /
    probe replicas never collide and mkdtemp never accumulates."""
    import re

    key = re.sub(r"\W+", "_", sf_dir.strip("/"))
    return os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        ".tmp",
        f"curation_state_v{_STATE_VERSION}_{key}",
    )


def _paths(root: str) -> dict[str, str]:
    return {
        "seg_counts": os.path.join(root, "seg_counts"),
        "segdocs": os.path.join(root, "segdocs"),
        "bench_hashes": os.path.join(root, "bench_hashes"),
        "features": os.path.join(root, "features"),
    }


def _seg_bucket():
    return F.pmod(F.hash(F.col("seg")), F.lit(N_STATE_BUCKETS))


def _append_seg_counts(
    spark: SparkSession, delta_pairs: DataFrame, path: str, gen: int
) -> DataFrame:
    """Append this batch's distinct (seg, doc) counts to the standing
    segment-count store as a new generation (LSM shape: totals are
    SUM-aggregated at read, never rewritten in place); returns the
    segments that CROSSED the boilerplate threshold with this delta
    (old < MIN <= old + delta) — the invalidation events that drive
    stale-doc recompute. Additive is exact because batches partition
    docs (a doc is counted by exactly one batch; stale feature
    recompute never re-counts). Per-batch WRITE cost is O(delta
    segments) regardless of store size; the crosser check is a
    read-only narrow-column semi-join + sum over prior generations."""
    delta_counts = (
        delta_pairs.groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .localCheckpoint(eager=False)
    )
    if os.path.isdir(path):
        cur = spark.read.parquet(path)
        old = (
            cur.join(delta_counts.select("seg"), "seg", "left_semi")
            .groupBy("seg")
            .agg(F.sum("nd").cast("long").alias("nd_old"))
        )
        crossers = (
            delta_counts.join(old, "seg", "left")
            .filter(
                (F.coalesce("nd_old", F.lit(0)) < BP_MIN_DOCS)
                & (
                    F.coalesce("nd_old", F.lit(0)) + F.col("nd")
                    >= BP_MIN_DOCS
                )
            )
            .select("seg")
        )
    else:
        crossers = delta_counts.filter(
            F.col("nd") >= BP_MIN_DOCS
        ).select("seg")
    # EAGER before the append: crossers reads the store's prior
    # generations, and a lazy plan evaluated after the append could
    # relist the directory and see the new files (old would then
    # include the delta and crossings would be missed)
    crossers = crossers.localCheckpoint(eager=True)
    (
        delta_counts.withColumn("_gen", F.lit(gen))
        .write.mode("append")
        .partitionBy("_gen")
        .parquet(path)
    )
    return crossers


def _boiler_set(spark: SparkSession, path: str) -> DataFrame:
    """The current boilerplate segment set: totals aggregated across
    the count store's generations (narrow columns), thresholded."""
    return (
        spark.read.parquet(path)
        .groupBy("seg")
        .agg(F.sum("nd").alias("nd"))
        .filter(F.col("nd") >= BP_MIN_DOCS)
        .select("seg")
    )


class ConcurrentWriterError(RuntimeError):
    """A second writer tried to admit (or compact) against a state
    root that another LIVE process currently holds. The state is
    SINGLE-WRITER by contract: two concurrent admits — an orchestrator
    retry racing the next scheduled batch, or the batch job racing the
    streaming twin on shared state — would allocate the same
    generation (_next_gen is max+1 over a directory listing) and
    interleave appends that the per-generation purge-on-retry could
    then mix. Serialize writers externally, or point them at separate
    state roots."""


_LOCK_FILE = "_writer.lock"


def _proc_start(pid: int) -> str | None:
    """The process's kernel start time (clock ticks since boot,
    /proc/<pid>/stat field 22) — recorded in the lock file purely as
    DIAGNOSTIC identity for the refusal message (mutual exclusion
    itself is the kernel flock below, which neither pid liveness nor
    start times can race). None when unreadable (non-Linux, or the
    process vanished between checks)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read().decode("ascii", "replace")
        # comm (field 2) may itself contain spaces/parens: split after
        # the LAST ')' — field 3 (state) is then index 0, field 22
        # (starttime) index 19
        return stat.rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


@contextmanager
def _writer_fence(state_root: str):
    """Single-writer fence for a state root: an EXCLUSIVE KERNEL LOCK
    (flock LOCK_EX | LOCK_NB) on a permanent lock file, held for the
    duration of one admission or compaction. flock is the right
    altitude for the fence's declared single-host contract — it
    removes every failure mode the earlier hand-rolled designs had to
    patch one by one (r11's O_EXCL-then-write empty-read TOCTOU; the
    r12 review's two-stealers race, where the loser of a stale-steal
    unlinked the winner's freshly-created LIVE lock; pid-reuse
    ambiguity; cross-build lock-format skew):

    - CRASH RECOVERY is the kernel's: a holder that dies releases the
      lock with its last fd — there is no stale-lock state, no
      staleness heuristic, no steal path, and no manual unlock, ever.
    - A live concurrent writer raises ConcurrentWriterError naming the
      recorded holder (pid + kernel start time, written into the file
      as diagnostics after acquisition — contenders decide by the
      LOCK, never by parsing content, so torn/empty/legacy content
      cannot confuse anyone).
    - Same-process re-entry also refuses: flock locks attach to the
      open file description, and a second open() of the same file
      conflicts even within one process.

    SINGLE-HOST scope by contract (unchanged): flock, like the pid
    liveness it replaces, does not coordinate across hosts on shared
    storage — one writer process per state root means one process on
    ONE host; serialize cross-host writers externally. The lock file
    persists empty-or-stale-content between runs by design; its
    content is advisory diagnostics only. Driver-side like the
    generation allocator it protects — not a distributed lock. Pinned
    by test_admit_batch_concurrent_writer_fence,
    test_writer_fence_crash_releases_lock,
    test_writer_fence_content_is_diagnostic and
    test_writer_fence_multiprocess_race."""
    import fcntl

    os.makedirs(state_root, exist_ok=True)
    path = os.path.join(state_root, _LOCK_FILE)
    fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            holder = "unknown"
            try:
                with open(path) as fh:
                    holder = fh.read().strip() or "unknown"
            except OSError:
                pass
            raise ConcurrentWriterError(
                f"state root {state_root} is held by a live writer "
                f"(recorded holder: {holder}); the curation state is "
                "single-writer (one process, one host) — wait for the "
                "holder or point this writer at a separate state root"
            ) from None
        # acquired: record identity for the refusal message above
        os.ftruncate(fd, 0)
        os.write(
            fd,
            f"pid {os.getpid()} start {_proc_start(os.getpid()) or '-'}\n"
            .encode(),
        )
        yield
    finally:
        # closing the fd releases the flock (the kernel also releases
        # it if the process dies first); the file itself persists
        os.close(fd)


def _next_gen(features_path: str) -> int:
    """Next admission-generation id = max existing _gen partition + 1
    (a driver-side listing — the append-only store's only metadata
    read). Max+1 rather than dir count so compaction (which collapses
    earlier generations into the latest) never re-issues an id."""
    if not os.path.isdir(features_path):
        return 0
    gens = [
        int(d.split("=", 1)[1])
        for d in os.listdir(features_path)
        if d.startswith("_gen=")
    ]
    return max(gens) + 1 if gens else 0


class VacuumedGenerationError(ValueError):
    """publish(as_of_gen=G) (or a re-compaction) addressed a generation
    BELOW the compaction horizon: those generations were collapsed into
    the base and are no longer reconstructable — the retention trade a
    horizon makes explicit (Delta VACUUM's retention window applied to
    the LSM state; reference TTL semantics: internal/db/dynamodb.go:34,
    201)."""


_HORIZON_FILE = "_horizon"


def _read_horizon(state_root: str) -> int | None:
    """The state's compaction horizon: the OLDEST generation still
    addressable by publish(as_of_gen=...); None if never compacted."""
    path = os.path.join(state_root, _HORIZON_FILE)
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return int(fh.read().strip())


def compact_state(
    spark: SparkSession, state_root: str, horizon: int | None = None
) -> dict[str, int]:
    """LSM compaction closing the append-only loop: materialize each
    store's resolved view (features latest-wins, segment counts
    sum-aggregated, bench hashes distinct) over generations <= the
    retention HORIZON and rewrite them as ONE base generation carrying
    id = horizon; generations ABOVE the horizon are untouched and stay
    as-of addressable. ``horizon=None`` compacts everything (the
    horizon becomes the latest generation — no as-of history survives,
    the pre-r11 behavior). Either way the horizon is recorded in the
    state root and publish(as_of_gen=G) keeps working for every
    retained G >= horizon and refuses (VacuumedGenerationError) below
    it; subsequent admissions continue the id sequence (_next_gen is
    max+1). This is how bounded state and reproducible releases
    coexist: run it on a schedule with the horizon at the audit
    window's edge. Returns per-store row counts. Runs under the state
    root's single-writer fence (a live concurrent admit raises
    ConcurrentWriterError). Proved by
    test_compact_state_preserves_publish and
    test_horizon_compaction_retains_asof_history."""
    with _writer_fence(state_root):
        return _compact_state_locked(spark, state_root, horizon)


def _compact_state_locked(
    spark: SparkSession, state_root: str, horizon: int | None
) -> dict[str, int]:
    import shutil

    p = _paths(state_root)
    max_gen = _next_gen(p["features"]) - 1
    if max_gen < 0:
        raise ValueError(f"no generations to compact under {state_root}")
    keep = max_gen if horizon is None else min(horizon, max_gen)
    prior = _read_horizon(state_root)
    if prior is not None and keep < prior:
        raise VacuumedGenerationError(
            f"compaction horizon {keep} is below the existing horizon "
            f"{prior}: generations < {prior} are already vacuumed"
        )
    counts: dict[str, int] = {}

    def _rewrite(path: str, resolved: DataFrame) -> int:
        # eager: the resolved view reads the very files removed below
        out = resolved.withColumn("_gen", F.lit(keep)).localCheckpoint(
            eager=True
        )
        n = out.count()
        for d in os.listdir(path):
            if d.startswith("_gen=") and int(d.split("=", 1)[1]) <= keep:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        out.write.mode("append").partitionBy("_gen").parquet(path)
        return n

    upto = F.col("_gen") <= keep
    counts["features"] = _rewrite(
        p["features"],
        _latest_features(spark, p["features"], as_of_gen=keep),
    )
    counts["seg_counts"] = _rewrite(
        p["seg_counts"],
        spark.read.parquet(p["seg_counts"])
        .filter(upto)
        .groupBy("seg")
        .agg(F.sum("nd").cast("long").alias("nd")),
    )
    counts["bench_hashes"] = _rewrite(
        p["bench_hashes"],
        spark.read.parquet(p["bench_hashes"])
        .filter(upto)
        .select("h")
        .distinct(),
    )
    with open(os.path.join(state_root, _HORIZON_FILE), "w") as fh:
        fh.write(f"{keep}\n")
    return counts


def _latest_features(
    spark: SparkSession, features_path: str, as_of_gen: int | None = None
) -> DataFrame:
    """Latest-wins view over the append-only generation-partitioned
    feature store: a doc has >1 row only if a later batch recomputed it
    as boilerplate-stale, and the winner is the highest generation.
    Resolution is a NARROW-column aggregate (doc_id, _gen) plus a
    semi-join — the wide text column is filtered in place, never
    shuffled by the resolution itself. ``as_of_gen`` restricts the view
    to generations <= G (partition-pruned) — the time-travel read
    behind reproducible releases."""
    feat = spark.read.parquet(features_path)
    if as_of_gen is not None:
        feat = feat.filter(F.col("_gen") <= as_of_gen)
    winners = feat.select("doc_id", "_gen").groupBy("doc_id").agg(
        F.max("_gen").alias("_gen")
    )
    return feat.join(winners, ["doc_id", "_gen"], "left_semi").drop("_gen")


def _stale_docs(
    spark: SparkSession, crossers: DataFrame, segdocs_path: str
) -> DataFrame:
    """PRIOR-batch docs containing a threshold-crossing segment — the
    exact set whose post-boilerplate text changes. Partition-pruned to
    the crossing segments' buckets."""
    if not os.path.isdir(segdocs_path):
        return spark.range(0).select(F.col("id").alias("doc_id"))
    cb = crossers.withColumn("_bucket", _seg_bucket())
    buckets = sorted(
        r["_bucket"] for r in cb.select("_bucket").distinct().collect()
    )
    if not buckets:
        return spark.range(0).select(F.col("id").alias("doc_id"))
    prior = spark.read.parquet(segdocs_path).filter(
        F.col("_bucket").isin(buckets)
    )
    return prior.join(cb.select("seg"), "seg").select("doc_id").distinct()


def _append_bench_hashes(
    spark: SparkSession, bench_n: DataFrame, path: str, gen: int
) -> None:
    """Append this batch's benchmark winnow-hash set to the standing
    store (set semantics restored by DISTINCT at read — the hash rows
    are tiny, and append-only keeps the write O(delta) and the store
    generation-addressable for as-of reads). Bench docs winnow their
    RAW normalized text (one-shot parity: wsrc's bench side is
    docs_n)."""
    fps = winnow_fingerprints(bench_n)
    h, _ = unpack_winnow_key("_key")
    hs = (
        fps.select(F.explode("fps").alias("_key"))
        .select(h.alias("h"))
        .distinct()
    )
    (
        hs.withColumn("_gen", F.lit(gen))
        .write.mode("append")
        .partitionBy("_gen")
        .parquet(path)
    )


def _recompute_features(
    spark: SparkSession, aff_n: DataFrame, seg_counts_path: str
) -> DataFrame:
    """Per-doc feature rows for the affected set, computed against the
    CURRENT (post-merge) boilerplate set — every column the publish
    pass needs, so publish never re-hashes text:
    (doc_id, lang, bp_kept, passes_all, fp, sig_0..15, wfps,
    text_bp, len_bp, n_tokens_bp)."""
    boiler = _boiler_set(spark, seg_counts_path)
    # narrow pin: only (doc_id, text_clean, doc_kept) are consumed below
    bp = (
        strip_with_boiler(aff_n, boiler)
        .select("doc_id", "text_clean", "doc_kept")
        .localCheckpoint(eager=False)
    )
    kept = (
        bp.filter(F.col("doc_kept"))
        .select("doc_id", F.col("text_clean").alias("text"))
        .join(aff_n.select("doc_id", "lang"), "doc_id")
        .localCheckpoint(eager=False)
    )
    gq = gopher_flags(kept).select("doc_id", dag_gate().alias("passes_all"))
    sigs = minhash_signatures(kept)
    wfps = winnow_fingerprints(kept).select(
        "doc_id", F.col("fps").alias("wfps")
    )
    per_doc = kept.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        F.col("text").alias("text_bp"),
        F.length("text").cast("long").alias("len_bp"),
        token_count(F.col("text")).cast("long").alias("n_tokens_bp"),
    )
    return (
        bp.select("doc_id", F.col("doc_kept").alias("bp_kept"))
        .join(aff_n.select("doc_id", "lang"), "doc_id")
        .join(per_doc, "doc_id", "left")
        .join(gq, "doc_id", "left")
        .join(sigs, "doc_id", "left")
        .join(wfps, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "bp_kept",
            "passes_all",
            "fp",
            *_SIG_COLS,
            "wfps",
            "text_bp",
            "len_bp",
            "n_tokens_bp",
        )
    )


def run_delta_batches(
    spark: SparkSession,
    sf_dir: str,
    state_root: str,
    n_batches: int = DELTA_BATCHES,
    collect_stats: bool = False,
    auto_compact_gens: int | None = None,
) -> list[dict]:
    """Admit the corpus as ``n_batches`` ascending-doc_id delta batches
    against the standing state under ``state_root``; with
    ``collect_stats`` returns per-batch admission stats (extra count
    jobs — the job/probe path wants them, the registered query skips
    them). Idempotent per whole run only (state must start empty for
    the one-shot-equivalence claim; callers own the lifecycle).

    ``auto_compact_gens=K`` is the LSM L0-trigger policy the r11
    generation-count probe motivates (steady-state admission cost
    grows with generation count, not corpus size — 17.5 vs 9.8 s at
    1M docs, BASELINE.md): whenever the store exceeds K+1 generation
    partitions, compact everything older than the newest K into the
    base, keeping the last K generations as-of addressable. Publishes
    are unchanged by construction (compaction is publish-preserving);
    only as-of history below the rolling horizon is traded away."""
    docs = load(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    bounds = [hi * i // n_batches for i in range(n_batches + 1)]
    stats: list[dict] = []
    for b in range(n_batches):
        lo, up = bounds[b], bounds[b + 1]
        delta = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < up))
        s = admit_batch(
            spark, delta, docs, state_root, collect_stats=collect_stats
        )
        if auto_compact_gens is not None:
            feats = _paths(state_root)["features"]
            gens = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(feats)
                if d.startswith("_gen=")
            )
            if len(gens) > auto_compact_gens + 1:
                compact_state(
                    spark, state_root,
                    horizon=gens[-1] - auto_compact_gens,
                )
        if collect_stats:
            stats.append({"batch": b, **s})
    return stats


def admit_batch(
    spark: SparkSession,
    delta: DataFrame,
    raw: DataFrame,
    state_root: str,
    collect_stats: bool = False,
    gen: int | None = None,
) -> dict | None:
    """Admit ONE arriving batch against the standing state — the
    production API (run_delta_batches and the curate-delta job are
    loops over it; a deployment calls it once per crawl drop).
    ``delta``: the batch's raw (doc_id, lang, text, ...) rows; ``raw``:
    the raw/content store covering every doc admitted so far plus the
    delta — only boilerplate-stale doc_ids are re-read from it. Cost is
    O(delta + stale) text work + O(delta) generation appends,
    independent of standing-state size (measured by the --curate-delta
    probe's steady-state leg).

    CRASH RECOVERY / idempotence-per-generation: the FEATURES append
    is written LAST and plays the commit marker — _next_gen reads only
    the features store, so a batch that died mid-admission hands the
    SAME generation id to the retry, and the retry first purges any
    partial _gen=K dirs the crashed attempt left in the other stores
    (a double-append there would double the segment counts and corrupt
    the boilerplate threshold). segdocs appends are not
    generation-tracked but are consumed through DISTINCT doc_ids AND
    the stale set anti-joins the batch's own docs out — so a prior
    attempt's duplicated pairs are harmless even when the batch itself
    causes a threshold crossing. Proved by
    test_admit_batch_retry_after_crash_converges and
    test_admit_batch_replay_with_own_crossing_converges.

    ``gen``: pass an EXTERNAL generation id (st_curation_delta pins it
    to the streaming batchId) for full replay idempotence — a batch
    whose features COMMITTED but whose source checkpoint did not (the
    streaming replay case) is then re-admitted under the SAME id, and
    the purge below also clears the committed features partition so
    the replay converges instead of double-counting. An external gen
    at or below the state's compaction horizon refuses with
    VacuumedGenerationError BEFORE touching any store (the purge would
    otherwise delete the collapsed base when gen == horizon, or
    double-count under sum-at-read when gen < horizon) — never compact
    past the stream's committed offset.

    SINGLE-WRITER: the whole admission runs under the state root's
    writer fence — a second live writer raises ConcurrentWriterError
    instead of allocating the same generation (see _writer_fence)."""
    with _writer_fence(state_root):
        return _admit_batch_locked(
            spark, delta, raw, state_root, collect_stats, gen
        )


def _admit_batch_locked(
    spark: SparkSession,
    delta: DataFrame,
    raw: DataFrame,
    state_root: str,
    collect_stats: bool,
    gen: int | None,
) -> dict | None:
    p = _paths(state_root)
    t_batch = time.perf_counter()
    if gen is None:
        gen = _next_gen(p["features"])
        purge = ("seg_counts", "bench_hashes")
    else:
        # An EXTERNAL generation id (the streaming twin pins gen to
        # the batchId) must refuse at-or-below the compaction horizon,
        # mirroring publish()'s guard: after compact_state(horizon=H)
        # the collapsed history lives in ONE base partition carrying
        # id = H, so the purge below would DELETE the entire base when
        # gen == H, and a gen < H append would double-count its
        # segments under sum-at-read. This is the replay×compaction
        # interaction: a streaming batch that committed features but
        # not its source checkpoint gets re-delivered after an
        # operator compacted past it — surface it as the named
        # retention refusal (st_curation_delta's foreachBatch
        # propagates it and fails the stream) instead of corrupting
        # state. Same commit-after-durable discipline as the
        # reference's offset handler
        # (internal/clients/kafka_client/commit_handler.go:25-75):
        # never vacuum past the stream's committed offset. Pinned by
        # test_admit_external_gen_refuses_below_horizon.
        h = _read_horizon(state_root)
        if h is not None and gen <= h:
            raise VacuumedGenerationError(
                f"external gen={gen} is at or below the compaction "
                f"horizon {h}: generations <= {h} were collapsed into "
                f"the base partition _gen={h}, so replaying this batch "
                "would purge collapsed history (gen == horizon) or "
                "double-count its segments (gen < horizon). Never "
                "compact past the stream's committed offset; restart "
                "the stream from a checkpoint at a batchId above the "
                "horizon"
            )
        purge = ("seg_counts", "bench_hashes", "features")
    for store in purge:
        shutil.rmtree(
            os.path.join(p[store], f"_gen={gen}"), ignore_errors=True
        )
    delta_n = delta.select(
        "doc_id", "lang", nfc_norm_expr(F.col("text")).alias("text")
    ).localCheckpoint(eager=False)
    is_bench = F.col("doc_id") % DECON_SPAN_MOD == 0
    _append_bench_hashes(
        spark, delta_n.filter(is_bench).select("doc_id", "text"),
        p["bench_hashes"], gen,
    )
    nonbench = delta_n.filter(~is_bench)
    pairs = (
        boiler_segments(nonbench)
        .select("seg", "doc_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    crossers = _append_seg_counts(spark, pairs, p["seg_counts"], gen)
    # Anti-join the batch's OWN docs out of the stale set: a
    # same-generation replay (or a retry after a crash that landed
    # AFTER the segdocs append) sees the prior attempt's (seg, doc)
    # pairs in segdocs — segdocs is bucket-partitioned, not
    # generation-purged — so a crossing caused by the batch itself
    # would return the batch's own delta docs as "stale", they'd
    # appear twice in aff_n, and strip_with_boiler would emit
    # DUPLICATE feature rows for them within one generation (which
    # publish's per-(doc, gen) latest-wins cannot resolve).
    # Excluding them is semantically correct always: delta docs are
    # recomputed against the post-merge boiler set regardless. Pinned
    # by test_admit_batch_replay_with_own_crossing_converges.
    stale_ids = (
        _stale_docs(spark, crossers, p["segdocs"])
        .join(delta_n.select("doc_id"), "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )
    (
        pairs.withColumn("_bucket", _seg_bucket())
        .write.mode("append")
        .partitionBy("_bucket")
        .parquet(p["segdocs"])
    )
    # the stale branch is always unioned: when nothing crossed it is
    # an empty semi-join (one cheap plan beats a driver count gate)
    stale_n = raw.join(stale_ids, "doc_id", "left_semi").select(
        "doc_id", "lang", nfc_norm_expr(F.col("text")).alias("text")
    )
    aff_n = (
        nonbench.select("doc_id", "lang", "text")
        .unionByName(stale_n)
        .localCheckpoint(eager=False)
    )
    # The features store is APPEND-ONLY and partitioned by admission
    # GENERATION, resolved latest-wins at publish. A keyed bucket-MERGE
    # here would be O(manifest) per batch: doc_ids hash uniformly, so
    # any real delta touches EVERY bucket and dynamic partition
    # overwrite rewrites the whole table (measured: the steady-state
    # probe leg grew with standing-state size under the v1 merge
    # layout). Appending a new _gen partition costs O(delta + stale)
    # regardless of manifest size — the LSM/merge-on-read shape; stale
    # recomputes are the ONLY superseded rows, so the publish-side
    # resolution set stays tiny. job_compact is the compaction story.
    feat = _recompute_features(spark, aff_n, p["seg_counts"])
    (
        feat.withColumn("_gen", F.lit(gen))
        .write.mode("append")
        .partitionBy("_gen")
        .parquet(p["features"])
    )
    if not collect_stats:
        return None
    wall = round(time.perf_counter() - t_batch, 2)
    return {
        "wall_s": wall,
        "delta_docs": delta_n.count(),
        "stale_recomputed": stale_ids.count(),
        "boiler_crossers": crossers.count(),
    }


def publish(
    spark: SparkSession,
    sf_dir: str,
    state_root: str,
    as_of_gen: int | None = None,
    universe: DataFrame | None = None,
) -> DataFrame:
    """Derive the release: per-doc disposition (same schema as
    txt_curation_dag) from the standing manifests. Touches raw text for
    NO document; touches stored post-boilerplate text only for docs
    with contamination spans to cut.

    ``as_of_gen`` publishes the release AS OF admission generation G:
    every store is generation-partitioned and append-only, so
    filtering _gen <= G reconstructs the exact state after batch G —
    reproducible dataset releases ('release R = publish(state at G)')
    with partition-pruned time travel, no snapshot copies. Proved by
    tests/test_curation_delta.py::test_publish_as_of_generation.
    Generations below the state's compaction horizon are no longer
    reconstructable and refuse with VacuumedGenerationError."""
    p = _paths(state_root)
    if as_of_gen is not None:
        h = _read_horizon(state_root)
        if h is not None and as_of_gen < h:
            raise VacuumedGenerationError(
                f"as_of_gen={as_of_gen} predates the compaction horizon "
                f"{h}: earlier generations were vacuumed and are no "
                "longer addressable"
            )
    feat = _latest_features(
        spark, p["features"], as_of_gen=as_of_gen
    ).localCheckpoint(eager=False)
    bench_h = spark.read.parquet(p["bench_hashes"])
    if as_of_gen is not None:
        bench_h = bench_h.filter(F.col("_gen") <= as_of_gen)
    bench_h = bench_h.select("h")

    quality = feat.filter(F.col("bp_kept") & F.col("passes_all"))
    w_fp = W.partitionBy("fp").orderBy("doc_id")
    exr = quality.select("doc_id", "fp").withColumn(
        "rn", F.row_number().over(w_fp)
    )
    s4 = exr.filter(F.col("rn") == 1).select("doc_id")
    sigs = (
        feat.join(s4, "doc_id", "left_semi")
        .filter(F.col("sig_0").isNotNull())
        .select("doc_id", *_SIG_COLS)
    )
    near_losers = (
        lsh_candidate_pairs(sigs)
        .filter(F.col("est_jaccard") >= NEAR_DUP_JACCARD)
        .select(F.col("doc_b").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    s5 = s4.join(near_losers, "doc_id", "left_anti")

    # decontamination from the manifests: unpack stored winnow keys,
    # flag positions whose hash is in the bench set, islands -> spans
    key_h, key_pos = unpack_winnow_key("_key")
    pos = (
        feat.join(s5, "doc_id", "left_semi")
        .filter(F.col("wfps").isNotNull())
        .select("doc_id", F.explode("wfps").alias("_key"))
        .select("doc_id", key_h.alias("h"), key_pos.alias("pos"))
        .distinct()
    )
    flagged = (
        pos.join(bench_h, "h", "left_semi").select("doc_id", "pos").distinct()
    )
    spans = _position_islands(flagged, SPAN_MIN_FPS).localCheckpoint(eager=False)
    spanned = spans.select("doc_id").distinct()
    cut_in = feat.join(spanned, "doc_id", "left_semi").select(
        "doc_id", F.col("text_bp").alias("text")
    )
    cut_spanned = cut_accounting(cut_in, spans)
    cut_rest = (
        feat.join(s5, "doc_id", "left_semi")
        .join(spanned, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("n_tokens_bp").alias("n_tokens"),
            F.lit(0).cast("long").alias("cut_chars"),
            F.col("len_bp").alias("clean_len"),
            # publish writes no corpus, so the uncut docs' text stays
            # in the manifest
            F.lit(None).cast("string").alias("clean_text"),
        )
    )
    cut_all = cut_spanned.unionByName(cut_rest).localCheckpoint(eager=False)
    capped = cap(cut_all)

    # ``universe``: the doc set the release enumerates — defaults to
    # the full raw table (correct once every batch is admitted). An
    # as-of publish should pass the batches-<=-G doc set (the batch
    # manifest the publisher owns): a raw doc OUTSIDE the admitted set
    # has no feature row and cannot be dispositioned.
    docs = (universe if universe is not None else load(
        spark, sf_dir, "documents"
    )).select("doc_id", "lang")
    return dispose(
        docs,
        feat.select("doc_id", "bp_kept", "passes_all"),
        s4,
        near_losers,
        cut_all,
        capped,
        clusters(capped, sigs),
    ).drop("clean_text")


def _ensure_delta_state(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the DELTA_BATCHES-generation standing state for
    ``sf_dir`` under the managed root. State is a deterministic
    function of (code version, corpus): the root carries
    _STATE_VERSION and the sf key, and a _COMPLETE marker gates reuse,
    so a prior run's state — this session's or a previous one's — is
    byte-equivalent to a rebuild. Shared by txt_curation_delta and
    txt_curation_asof so a sweep pays the admission once. The state is
    HORIZON-COMPACTED at H=1 after admission (v4): generations 0-1
    collapse into the base, generation 2 stays addressable — so both
    registered queries' driver hash-checks run against retention-
    compacted state, and txt_curation_asof's as_of_gen=1 read sits
    exactly ON the horizon boundary."""
    root = _state_root(sf_dir)
    marker = os.path.join(root, "_COMPLETE")
    if os.path.isfile(marker):
        return root
    shutil.rmtree(root, ignore_errors=True)
    run_delta_batches(spark, sf_dir, root, n_batches=DELTA_BATCHES)
    compact_state(spark, root, horizon=1)
    with open(marker, "w") as fh:
        fh.write(f"batches={DELTA_BATCHES} horizon=1\n")
    return root


@register(
    "txt_curation_delta",
    oracle=_duck_dag_oracle(),
    tags=("text", "dedup", "curation", "M5", "e2e", "iterative",
          "arrow-udf", "incremental"),
    doc="The ten-stage curation DAG run INCREMENTALLY: the corpus "
    "arrives as three ascending-doc_id delta batches, each admitted "
    "against standing state that is append-only and "
    "generation-partitioned THROUGHOUT (segment counts sum-aggregate "
    "at read, bench hashes distinct-at-read, per-doc features "
    "latest-wins — the LSM/merge-on-read shape, with per-generation "
    "crash recovery and retention-horizon compaction: the standing "
    "state here is compacted at horizon=1 before publish, proving the "
    "release survives vacuuming), then a publish pass "
    "derives the per-doc disposition from the manifests WITHOUT "
    "re-touching corpus text (only span-cut docs' stored "
    "post-boilerplate text is re-read). Convergence is proved "
    "sim_ivf_upsert-style: the result must hash-match the ONE-SHOT "
    "txt_curation_dag oracle exactly — valid because both cross-doc "
    "state sets are monotone unions, so recompute-on-invalidation "
    "reaches the one-shot fixpoint with no cascade. See module "
    "docstring for the 100 TB cost shape.",
)
def txt_curation_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return publish(spark, sf_dir, _ensure_delta_state(spark, sf_dir))


_ASOF_BOUND = (
    "(SELECT CAST((MAX(doc_id) + 1) * 2 // "
    f"{DELTA_BATCHES} AS BIGINT) FROM documents)"
)
_ASOF_ORACLE = _duck_dag_oracle(source="docs_asof").replace(
    "WITH RECURSIVE",
    "WITH RECURSIVE\n    docs_asof AS MATERIALIZED (\n"
    f"      SELECT * FROM documents WHERE doc_id < {_ASOF_BOUND}\n    ),",
    1,
)


@register(
    "txt_curation_asof",
    oracle=_ASOF_ORACLE,
    tags=("text", "curation", "M5", "iterative", "arrow-udf",
          "incremental"),
    doc="REPRODUCIBLE RELEASE from the incremental curation state: "
    "publish(as_of_gen=1) over the fully-admitted 3-batch state must "
    "equal the one-shot curation DAG run over ONLY the first two "
    "batches' documents — the oracle is the parameterized one-shot "
    "DAG statement with the document universe restricted to doc_id < "
    "ceil-bound of batch 1 (exactly run_delta_batches' range "
    "arithmetic, stated in SQL so it holds at every SF). Every state "
    "store is generation-partitioned and append-only, so the as-of "
    "filter is partition-pruned time travel — no snapshot copies, no "
    "state rebuild; this is how a dataset release is re-cut months "
    "later for an audit. The standing state is HORIZON-COMPACTED at "
    "H=1, so this as_of_gen=1 read sits exactly on the retention "
    "boundary — the release must survive vacuuming of the history "
    "below it. Shares the standing state with txt_curation_delta "
    "(deterministic by _STATE_VERSION + corpus key), so the sweep "
    "pays admission once.",
)
def txt_curation_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _ensure_delta_state(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    bound = hi * 2 // DELTA_BATCHES
    return publish(
        spark, sf_dir, root, as_of_gen=1,
        universe=docs.filter(F.col("doc_id") < bound),
    )


_DIFF_COLS = ("stage", "split", "seq_id", "n_tokens", "cut_chars")
_DIFF_PRED_SQL = " OR ".join(
    f"r1.{c} IS DISTINCT FROM r2.{c}" for c in _DIFF_COLS
)
_DIFF_ORACLE = f"""
SELECT
  COALESCE(r1.doc_id, r2.doc_id) AS doc_id,
  r1.stage AS stage_from,
  r2.stage AS stage_to,
  CASE WHEN r1.doc_id IS NULL THEN 'added'
       WHEN r2.doc_id IS NULL THEN 'removed'
       ELSE 'changed' END AS change
FROM ({_ASOF_ORACLE}) r1
FULL JOIN ({_duck_dag_oracle()}) r2 ON r1.doc_id = r2.doc_id
WHERE r1.doc_id IS NULL OR r2.doc_id IS NULL OR {_DIFF_PRED_SQL}
"""


@register(
    "txt_release_diff",
    oracle=_DIFF_ORACLE,
    tags=("text", "curation", "M5", "iterative", "arrow-udf",
          "incremental"),
    doc="RELEASE AUDIT DIFF between two reproducible releases of the "
    "incremental curation state: publish(as_of_gen=1) vs the full "
    "publish, full-outer-joined on doc_id and reduced to the actual "
    "delta — docs 'added' (no disposition as of G1), 'removed' "
    "(structurally possible, empty here since the universe grows "
    "monotonically), and 'changed' (same doc, different stage: "
    "later-batch boilerplate crossings re-stripping old docs, new "
    "bench docs contaminating old spans, new docs displacing old ones "
    "from the per-domain cap). This is the governance question a "
    "dataset steward asks after a release re-cut — 'which documents "
    "changed disposition between G1 and G2, and to what' — answered "
    "from generation-partitioned manifests without re-curating "
    "either release from raw text. 'Changed' compares the WHOLE "
    "disposition tuple null-safely (stage, split, seq_id, n_tokens, "
    "cut_chars): a doc re-stripped by a later boilerplate crossing "
    "usually keeps its stage but loses tokens, and packing shifts "
    "seq_ids — all release-visible. The oracle runs BOTH parameterized "
    "one-shot DAG chains as derived tables (DuckDB CTEs-in-subquery) "
    "full-joined — each side is the same statement already proved by "
    "txt_curation_asof / txt_curation_delta. Cost shape at 100 TB: "
    "two manifest-bound publishes + a narrow (doc_id, stage) "
    "full-outer join; no corpus text beyond the publishes' span-cut "
    "re-reads.",
)
def txt_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _ensure_delta_state(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    bound = hi * 2 // DELTA_BATCHES
    r1 = publish(
        spark, sf_dir, root, as_of_gen=1,
        universe=docs.filter(F.col("doc_id") < bound),
    ).select(
        "doc_id", F.lit(True).alias("_in1"),
        *[F.col(c).alias(f"{c}_1") for c in _DIFF_COLS],
    )
    r2 = publish(spark, sf_dir, root).select(
        "doc_id", F.lit(True).alias("_in2"),
        *[F.col(c).alias(f"{c}_2") for c in _DIFF_COLS],
    )
    out = r1.join(r2, "doc_id", "full_outer")
    differs = None
    for c in _DIFF_COLS:
        d = ~F.col(f"{c}_1").eqNullSafe(F.col(f"{c}_2"))
        differs = d if differs is None else (differs | d)
    change = (
        F.when(F.col("_in1").isNull(), "added")
        .when(F.col("_in2").isNull(), "removed")
        .otherwise("changed")
    )
    return out.filter(
        F.col("_in1").isNull() | F.col("_in2").isNull() | differs
    ).select(
        "doc_id",
        F.col("stage_1").alias("stage_from"),
        F.col("stage_2").alias("stage_to"),
        change.alias("change"),
    )


@register(
    "st_curation_delta",
    oracle=_duck_dag_oracle(),
    tags=("streaming", "text", "curation", "M5", "incremental",
          "arrow-udf", "sink"),
    doc="The incremental curation DAG under the STREAMING engine — "
    "the reference's fetch loop (cmd/producer/main.go:43-49) at "
    "curation-DAG fidelity, executed as a real checkpointed stream: "
    "the corpus arrives as a file-source drip (one delta batch per "
    "micro-batch), foreachBatch calls admit_batch with the generation "
    "PINNED TO THE STREAMING batchId — so a replayed micro-batch "
    "(committed state, uncommitted source checkpoint: the standard "
    "streaming failure) re-admits under the SAME generation and the "
    "per-generation purge makes the replay convergent instead of "
    "double-counting segment thresholds (exactly-once state "
    "maintenance from at-least-once delivery, the same contract as "
    "the K2 MERGE sink). The publish over the stream-built state must "
    "hash-match the ONE-SHOT DAG oracle — the streaming twin of "
    "txt_curation_delta's convergence proof.",
)
def st_curation_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import tempfile

    docs = load(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    scratch = tempfile.mkdtemp(prefix="sf_stcd_")
    src, root, ckpt = f"{scratch}/src", f"{scratch}/state", f"{scratch}/ckpt"
    os.makedirs(src)
    try:
        # one range file per delta batch so the file stream delivers
        # one admission batch per micro-batch
        for b in range(DELTA_BATCHES):
            lo = hi * b // DELTA_BATCHES
            up = hi * (b + 1) // DELTA_BATCHES
            part_dir = f"{scratch}/part{b}"
            (
                docs.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < up)
                )
                .coalesce(1)
                .write.parquet(part_dir)
            )
            os.rename(
                glob.glob(f"{part_dir}/part-*.parquet")[0],
                f"{src}/batch{b:04d}.parquet",
            )
        schema = spark.read.parquet(src).schema

        def _admit(batch_df: DataFrame, batch_id: int) -> None:
            admit_batch(
                spark, batch_df, docs, root, gen=int(batch_id)
            )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(_admit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # eager: the scratch state is removed below (round-8 leak rule)
        return publish(spark, sf_dir, root).localCheckpoint(eager=True)
    finally:
        import shutil as _sh

        _sh.rmtree(scratch, ignore_errors=True)
