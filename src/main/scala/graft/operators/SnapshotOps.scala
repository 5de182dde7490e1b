package graft.operators

import graft.core.{GenerationCache, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot reconciliation — the incremental-ingest primitive: two corpus
  * snapshots (yesterday's crawl, today's crawl) diffed into
  * added / removed / changed / unchanged per document, so downstream
  * stages (dedup, quality, embedding) re-process ONLY the added+changed
  * slice instead of the whole corpus ([[DedupOps.incrementalDedup]] is
  * the consumer of exactly this slice).
  *
  * Scale shape: both sides project (doc_id, source, md5(text)) BEFORE the
  * full-outer join, so the shuffle carries 16-byte digests, never text —
  * the same digests-only rule every dedup exchange in this engine
  * follows. Status is decided per row from null-ness + digest equality;
  * the stats rollup is a tiny per-(source, status) aggregate.
  */
object SnapshotOps {

  /** Per-document diff of two (doc_id, source, text) snapshots. Documents
    * present in both with equal digests report `unchanged`; callers that
    * want the re-process slice filter `status IN ('added','changed')`.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame): DataFrame = {
    // presence is a non-null literal marker per side, NOT digest
    // nullness: a null-text document has a null md5 but is still
    // PRESENT, and classifying it "added" on every diff would feed a
    // spurious insert into the CDC consumers downstream. Digest
    // comparison is null-safe (<=>) for the same reason: null-vs-text
    // is a change, null-vs-null is unchanged.
    val da = a.select(col("doc_id"), col("source").as("src_a"),
      md5(col("text")).as("dig_a"), lit(true).as("in_a"))
    val db = b.select(col("doc_id"), col("source").as("src_b"),
      md5(col("text")).as("dig_b"), lit(true).as("in_b"))
    da.join(db, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        coalesce(col("src_b"), col("src_a")).as("source"),
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(!(col("dig_a") <=> col("dig_b")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** The deterministic second snapshot the gate diffs against (a stand-in
    * for "today's crawl", derived purely from the fixture so the oracle
    * can restate it): doc_id % 7 == 0 dropped (removals), text upper-cased
    * where doc_id % 11 == 0 (changes), and every doc_id % 13 == 0 re-added
    * under doc_id + 2^40 (additions — the shift sits far above any
    * plausible doc_id, so re-added ids cannot collide with genuine ones
    * at any fixture scale). */
  private[operators] def syntheticSnapshotB(t: Tables): DataFrame = {
    val base = t.documents
      .filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 11 === 0, upper(col("text")))
          .otherwise(col("text")).as("text"))
    val added = t.documents
      .filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + (1L << 40)).as("doc_id"), col("source"), col("text"))
    base.unionByName(added)
  }

  /** Gate query: per-(source, status) counts of the fixture-vs-synthetic-B
    * diff. A doc_id divisible by both 7 and 11 is dropped before the text
    * change can apply — `removed` wins, which the oracle's derivation
    * reproduces structurally.
    */
  def snapshotDiffStats(t: Tables): DataFrame =
    snapshotDiff(t.documents.select("doc_id", "source", "text"), syntheticSnapshotB(t))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n"))
      .orderBy("source", "status")

  /** Batch CDC APPLY — the MERGE INTO shape without a table format: a base
    * table plus a changes feed (rows carrying an `op` of insert / update /
    * delete) reconciled into the next table version. Deletes anti-join
    * out; upserts take the change row over the base row
    * (insert ∪ update wins on key collision — a full-outer join with a
    * change-side-first coalesce, NOT a union+dedup, so the base table
    * streams through one digestless shuffle on the key and the tiny
    * changes side broadcasts when it fits).
    */
  def mergeApply(base: DataFrame, changes: DataFrame): DataFrame = {
    val ch = changes.select(col("doc_id"), col("op"),
      col("source").as("ch_source"), col("text").as("ch_text"))
    base.join(ch, Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(
        col("doc_id"),
        // the change side WINS when an op is present (a coalesce would
        // silently resurrect the base value for an update-to-null)
        when(col("op").isNotNull, col("ch_source"))
          .otherwise(col("source")).as("source"),
        when(col("op").isNotNull, col("ch_text"))
          .otherwise(col("text")).as("text"))
  }

  /** The second-hop synthetic snapshot (the corpus after ANOTHER crawl):
    * derived from [[syntheticSnapshotB]] with fresh residues — doc_id
    * % 5 dropped, ` v2` appended where % 9 (null text stays null —
    * concat-with-null on both engines), % 21 re-added under +2^41.
    * Purely fixture-derived so the oracle restates it as a nested CTE.
    */
  private[operators] def syntheticSnapshotC(t: Tables): DataFrame = {
    val b = syntheticSnapshotB(t)
    val base = b.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val added = b.filter(col("doc_id") % 21 === 0)
      .select((col("doc_id") + (1L << 41)).as("doc_id"), col("source"),
        col("text"))
    base.unionByName(added)
  }

  /** The changes feed that turns snapshot `a` into snapshot `b` —
    * derived from [[snapshotDiff]]'s statuses, so every consumer gate is
    * SELF-PROVING: `mergeApply(a, changesBetween(a, b)) == b`.
    */
  private def changesBetween(a: DataFrame, b: DataFrame): DataFrame = {
    val d = snapshotDiff(a, b).filter(col("status") =!= "unchanged")
    d.select(col("doc_id"),
        when(col("status") === "removed", "delete")
          .when(col("status") === "added", "insert")
          .otherwise("update").as("op"))
      .join(b.withColumnsRenamed(Map("source" -> "b_source", "text" -> "b_text")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("op"),
        col("b_source").as("source"), col("b_text").as("text"))
  }

  private[operators] def syntheticChanges(t: Tables): DataFrame =
    changesBetween(t.documents.select("doc_id", "source", "text"),
      syntheticSnapshotB(t))

  /** The B→C feed — the NEXT CDC batch after [[syntheticChanges]]. */
  private[operators] def syntheticChanges2(t: Tables): DataFrame =
    changesBetween(syntheticSnapshotB(t), syntheticSnapshotC(t))

  /** Gate query: apply the derived changes feed to the base corpus and
    * roll up the RESULT per source (doc count, char sum, xor-free digest
    * sum stand-in: min/max digests). The oracle states the same rollup
    * over its own derivation of snapshot B directly — the hash match
    * proves merge(A, diff(A→B)) reconstructed B exactly, every insert
    * applied, every delete gone, every update taken from the change side.
    */
  def mergeApplyRoundtrip(t: Tables): DataFrame =
    mergeApply(t.documents.select("doc_id", "source", "text"), syntheticChanges(t))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        min(md5(col("text"))).as("min_digest"),
        max(md5(col("text"))).as("max_digest"))
      .orderBy("source")

  // ---------------------------------------------------------------------
  // Incremental aggregate maintenance — the materialized-view shape.
  // ---------------------------------------------------------------------

  /** First 48 bits of md5(text) as an exact DECIMAL(38,0) — the per-row
    * content term of [[rollupStats]]'s `digest_sum`. 48 bits keeps every
    * per-row value exact through `conv`'s base-10 string and the DECIMAL
    * cast, and the DECIMAL(38,0) sum is exact at any corpus size (a LONG
    * sum would overflow past ~2^15 docs), so Spark and the oracle agree
    * bit-for-bit regardless of accumulation order.
    */
  private def digest48(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(text), 1, 12), 16, 10).cast("decimal(38,0)")

  /** 2^48 — the modulus every emitted `digest_sum` is reduced by. The
    * round-11 driver artifact hash-failed this family's one gate on the
    * repo's only unbounded-magnitude DECIMAL column (the raw sum crosses
    * 2^53 ≈ 9.0e15 between sf0.01 and sf0.1, and any float hop in a
    * downstream canonicalizer silently rounds it), so the contract is
    * now: digest sums are BIGINT in [0, 2^48) — modular add/subtract is a
    * group, so the subtractable-aggregate proof (incremental == direct)
    * survives the reduction, and every emitted value stays exactly
    * float-representable (enforced repo-wide by
    * [[graft.GateInvariants.checkMagnitudes]]).
    */
  private val digestModulus = 1L << 48

  private def modDigest(sum: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(coalesce(sum, lit(0).cast("decimal(38,0)")),
      lit(digestModulus).cast("decimal(38,0)")).cast("long")

  /** The maintained aggregate: per-source doc count, char sum, and a
    * content-sensitive digest sum (mod 2^48, see [[modDigest]]). All
    * three are SUBTRACTABLE (count/sum — a delete's contribution can be
    * removed without rescanning; the mod reduction commutes with add and
    * subtract), which is the class of aggregate this maintenance path
    * supports; min/max or distinct counts need sketches or a rescan and
    * deliberately aren't here (`sketch_kmv_merge` covers the sketch route
    * for distincts). Char and digest sums coalesce to 0 for a source
    * whose rows all carry null text — the same non-null contract
    * [[incrementalRollup]]'s maintenance arithmetic emits, so the two
    * paths agree on such corpora too (round-11 advice).
    */
  def rollupStats(df: DataFrame): DataFrame =
    df.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(length(col("text"))).cast("long"), lit(0L)).as("total_chars"),
      modDigest(sum(digest48(col("text")))).as("digest_sum"))

  /** Refresh a maintained [[rollupStats]] table from a CDC changes feed
    * WITHOUT rescanning the corpus — the 100 TB move: the base table is
    * never read here, only yesterday's tiny per-source rollup and the
    * delta batch. The feed carries before-images (`prev_source`,
    * `prev_text`) alongside the after-image, the standard CDC envelope
    * (Debezium-style), so each change row contributes signed deltas:
    * the before-image is subtracted for update/delete, the after-image
    * added for update/insert. The delta rollup is |changes|-bound and the
    * final full-outer join touches only per-source rows (broadcastable);
    * a source whose count reaches zero drops out, matching a direct
    * rollup of the new snapshot exactly.
    */
  def incrementalRollup(oldRollup: DataFrame, changes: DataFrame): DataFrame = {
    val zero = lit(0).cast("decimal(38,0)")
    val before = changes.filter(col("op").isin("update", "delete"))
      .select(col("prev_source").as("source"),
        lit(-1L).as("d_docs"),
        (-length(col("prev_text"))).cast("long").as("d_chars"),
        negative(digest48(col("prev_text"))).as("d_digest"))
    val after = changes.filter(col("op").isin("update", "insert"))
      .select(col("source"),
        lit(1L).as("d_docs"),
        length(col("text")).cast("long").as("d_chars"),
        digest48(col("text")).as("d_digest"))
    val delta = before.unionByName(after)
      .groupBy("source")
      .agg(sum("d_docs").as("d_docs"), sum("d_chars").as("d_chars"),
        sum("d_digest").as("d_digest"))
    oldRollup.join(delta, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("total_chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L)))
          .as("total_chars"),
        // the stored digest is already reduced mod 2^48; the signed delta
        // is an exact DECIMAL — pmod of the sum re-reduces into [0, 2^48)
        // and equals the direct rollup's reduction exactly (mod is a
        // group homomorphism over signed addition)
        modDigest(coalesce(col("digest_sum"), lit(0L)).cast("decimal(38,0)") +
          coalesce(col("d_digest"), zero)).as("digest_sum"))
      .filter(col("n_docs") > 0)
  }

  /** [[syntheticChanges]] extended with before-images — the CDC envelope
    * [[incrementalRollup]] consumes. Derivation-only (fixture → feed); a
    * production feed ships the images from the change-capture layer.
    */
  private[graft] def syntheticChangesWithImages(t: Tables): DataFrame = {
    val a = t.documents.select("doc_id", "source", "text")
    syntheticChanges(t)
      .join(a.withColumnsRenamed(
          Map("source" -> "prev_source", "text" -> "prev_text")),
        Seq("doc_id"), "left")
  }

  /** Gate query: maintain rollup(A) through the A→B changes feed and emit
    * the refreshed per-source rows. SELF-PROVING like the CDC gate: the
    * engine path never scans snapshot B — the oracle states rollup(B)
    * from its own derivation of B directly, so the hash match proves
    * merge(rollup(A), Δ) == rollup(apply(A, Δ)) with every term exact
    * (long counts/char sums, DECIMAL digest sums).
    */
  def incrementalRollupGate(t: Tables): DataFrame =
    incrementalRollup(
      rollupStats(t.documents.select("doc_id", "source", "text")),
      syntheticChangesWithImages(t))
      .orderBy("source")

  private val refreshInputDirs =
    GenerationCache.dirs[Int]("documents.parquet", "graft_refresh_inputs")

  /** Bench probe for `agg_incremental_rollup`: the REFRESH alone. The
    * gate's fixture→feed derivation (rollup(A) recomputed from the corpus,
    * the synthetic CDC envelope joined back to A) is a verification
    * device; in production BOTH inputs arrive from storage — yesterday's
    * per-source rollup table and a bounded CDC batch. This probe
    * materializes them once per fixture generation (rollup(A) as parquet;
    * the first `maxChanges` changes by doc_id as parquet) and times only
    * what a production refresh runs: two small scans, a |changes|-bound
    * delta aggregate, one per-source full-outer join. The decade legs
    * should therefore read FLAT — the cost is delta-bound, independent of
    * corpus size, which is the entire point of maintaining the aggregate.
    * A spec's 50-row batch and the bench's 2000-row batch get separate
    * dirs.
    */
  def incrementalRollupProbe(t: Tables, maxChanges: Int = 2000): DataFrame = {
    val base = refreshInputDirs(t.dir, maxChanges) { dir =>
      rollupStats(t.documents.select("doc_id", "source", "text"))
        .write.mode("overwrite").parquet(s"$dir/rollup_a")
      syntheticChangesWithImages(t)
        .orderBy("doc_id").limit(maxChanges)
        .write.mode("overwrite").parquet(s"$dir/changes")
    }
    incrementalRollup(
      t.spark.read.parquet(s"$base/rollup_a"),
      t.spark.read.parquet(s"$base/changes"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // Multi-batch CDC — sequential apply, changelog compaction, and the
  // maintained aggregate surviving successive refreshes.
  // ---------------------------------------------------------------------

  /** COMPACT two consecutive CDC batches into one net feed — the
    * change-log compaction a 100 TB pipeline runs so a day of hourly
    * batches applies as ONE keyed shuffle instead of 24. Op composition
    * over a full-outer join on the key (f2 wins the payload):
    *
    *  - one side only → that side's row unchanged;
    *  - f2 = delete → delete (update∘delete; insert∘delete composes to
    *    a no-op against the base, which a delete row also is — MERGE
    *    deletes are key-matched, so deleting a never-inserted key
    *    touches nothing);
    *  - f1 = delete, f2 = insert → update (the key exists in the base);
    *  - otherwise f1's op with f2's payload (insert∘update → insert,
    *    update∘update → update).
    *
    * The net feed is |f1 ∪ f2|-bound; the base table is never read.
    */
  def compactChanges(f1: DataFrame, f2: DataFrame): DataFrame = {
    val a = f1.select(col("doc_id"), col("op").as("op1"),
      col("source").as("src1"), col("text").as("text1"))
    val b = f2.select(col("doc_id"), col("op").as("op2"),
      col("source").as("src2"), col("text").as("text2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        when(col("op2").isNull, col("op1"))
          .when(col("op1").isNull, col("op2"))
          .when(col("op2") === "delete", "delete")
          .when(col("op1") === "delete", "update")
          .otherwise(col("op1")).as("op"),
        when(col("op2").isNull, col("src1")).otherwise(col("src2")).as("source"),
        when(col("op2").isNull, col("text1")).otherwise(col("text2")).as("text"))
  }

  /** The shared rollup shape the three multi-batch gates emit: per-source
    * doc count, char total, and digest extremes of the reconstructed
    * snapshot — content-sensitive in every column, bounded per
    * [[graft.GateInvariants.checkMagnitudes]].
    */
  private def contentRollup(df: DataFrame): DataFrame =
    df.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text"))).cast("long"), lit(0L))
          .as("total_chars"),
        min(md5(col("text"))).as("min_digest"),
        max(md5(col("text"))).as("max_digest"))
      .orderBy("source")

  /** Gate query: TWO sequential applies — merge(merge(A, Δ₁), Δ₂) —
    * rolled up; the oracle states rollup(C) from its own nested
    * derivation, so the hash proves apply composes across batches:
    * every second-batch delete lands on first-batch state, re-inserts
    * of previously-deleted keys resurface with the new payload, and
    * nothing from batch 1 leaks past batch 2.
    */
  def multibatchApplyRoundtrip(t: Tables): DataFrame = {
    val a = t.documents.select("doc_id", "source", "text")
    contentRollup(
      mergeApply(mergeApply(a, syntheticChanges(t)), syntheticChanges2(t)))
  }

  /** Gate query: ONE apply of the COMPACTED feed — merge(A, Δ₁∘Δ₂) —
    * against the same rollup(C) oracle as [[multibatchApplyRoundtrip]]:
    * two independent engine paths (sequential vs compacted) must both
    * reconstruct C exactly, which is the changelog-compaction
    * correctness theorem.
    */
  def compactedApplyRoundtrip(t: Tables): DataFrame = {
    val a = t.documents.select("doc_id", "source", "text")
    contentRollup(
      mergeApply(a, compactChanges(syntheticChanges(t), syntheticChanges2(t))))
  }

  /** The B→C feed with before-images — the second CDC envelope, consumed
    * by [[incrementalRollupMultiGate]] and the streaming maintenance
    * twin ([[graft.streaming.CdcStream]]). */
  private[graft] def syntheticChangesWithImages2(t: Tables): DataFrame = {
    val b = syntheticSnapshotB(t)
    changesBetween(b, syntheticSnapshotC(t))
      .join(b.withColumnsRenamed(
          Map("source" -> "prev_source", "text" -> "prev_text")),
        Seq("doc_id"), "left")
  }

  /** Gate query: the maintained rollup refreshed through BOTH batches —
    * refresh(refresh(rollup(A), Δ₁), Δ₂) — against an oracle stating
    * rollup(C) directly. Proves the subtractable-aggregate maintenance
    * survives successive refreshes (the production cadence) without a
    * rescan at either hop: sources whose counts hit zero drop out after
    * batch 1 and may re-enter in batch 2.
    */
  def incrementalRollupMultiGate(t: Tables): DataFrame = {
    val a = t.documents.select("doc_id", "source", "text")
    incrementalRollup(
      incrementalRollup(rollupStats(a), syntheticChangesWithImages(t)),
      syntheticChangesWithImages2(t))
      .orderBy("source")
  }

  private val checkpointDirs =
    GenerationCache.dirs[Unit]("documents.parquet", "graft_checkpoint")

  /** Snapshot B (= apply(A, Δ₁)) MATERIALIZED to parquet once per fixture
    * generation — the checkpoint a version chain writes so history before
    * it can expire: after checkpointing, v0 and Δ₁ are deletable and
    * every later version reconstructs from the checkpoint plus the
    * remaining changelog suffix. At 100 TB this is snapshot expiry /
    * changelog truncation — the operation that keeps
    * [[asOfVersion]]-style reconstruction cost bounded as batches
    * accumulate (reconstruction reads base + suffix, and the checkpoint
    * resets "base" forward).
    */
  def checkpointDir(t: Tables): String =
    checkpointDirs(t.dir, ()) { dir =>
      mergeApply(t.documents.select("doc_id", "source", "text"),
        syntheticChanges(t))
        .write.mode("overwrite").parquet(dir)
    }

  /** Gate query: apply Δ₂ to the STORED checkpoint — the post-expiry
    * read path, which never touches snapshot A or Δ₁ — rolled up against
    * the same rollup(C) oracle as [[multibatchApplyRoundtrip]]. The hash
    * proves the checkpoint round-trip is lossless (write B, read B back,
    * continue the chain) and reconstruction through a checkpoint equals
    * reconstruction through the full changelog — the theorem that makes
    * expiring history SAFE.
    */
  def checkpointedApplyRoundtrip(t: Tables): DataFrame =
    contentRollup(
      mergeApply(t.spark.read.parquet(checkpointDir(t)), syntheticChanges2(t)))

  // ---------------------------------------------------------------------
  // Retention purge — right-to-be-forgotten through the changelog chain.
  // ---------------------------------------------------------------------

  /** Remove a set of doc ids from a snapshot or a CDC feed — the
    * compliance primitive: purging a key from the BASE and from every
    * STORED changelog batch (not just the latest materialization)
    * guarantees no future apply or time-travel read resurrects it.
    * Anti-join against the id list; at 100 TB the purge list is a small
    * table and broadcasts.
    */
  def purgeIds(df: DataFrame, ids: DataFrame): DataFrame =
    df.join(broadcast(ids), Seq("doc_id"), "left_anti")

  /** Gate query: purge-commutes-with-apply — the theorem that makes
    * changelog purging SOUND: merge is per-key, so purging a key from
    * base and feed equals filtering the reconstructed snapshot. The
    * engine reconstructs the second-hop snapshot from PURGED inputs
    * (purged base, purged compacted feed); the oracle states the rollup
    * of its C derivation filtered AFTER the fact — a hash match proves
    * no purged key survives any lineage path (update chains, re-inserts,
    * deletes) and no innocent key is lost.
    */
  def retentionPurgeRoundtrip(t: Tables): DataFrame = {
    val a = t.documents.select("doc_id", "source", "text")
    val feed = compactChanges(syntheticChanges(t), syntheticChanges2(t))
    // the purge list: every id (base or feed-introduced) ≡ 3 mod 17 (coprime with the chain's own mod-5/7/9 filters, so the purge provably bites)
    val ids = a.select("doc_id").unionByName(feed.select("doc_id"))
      .distinct().filter(col("doc_id") % 17 === 3)
    contentRollup(mergeApply(purgeIds(a, ids), purgeIds(feed, ids)))
  }

  // ---------------------------------------------------------------------
  // Time travel — versioned reads over the base-plus-changelog chain.
  // ---------------------------------------------------------------------

  /** Read the corpus AS OF a version: v0 = the base snapshot, each
    * subsequent version applies one more changelog batch — the
    * Iceberg/Delta snapshot model, where a version is base + a bounded
    * changelog prefix, never a physical copy per version. Reconstruction
    * cost is |base| + Σ|batches ≤ v| regardless of how many versions
    * exist; at 100 TB the periodic compaction ([[compactChanges]] /
    * checkpointing) keeps the prefix short.
    */
  def asOfVersion(t: Tables, version: Int): DataFrame = {
    require(version >= 0 && version <= 2, s"unknown version $version")
    val base = t.documents.select("doc_id", "source", "text")
    version match {
      case 0 => base
      case 1 => mergeApply(base, syntheticChanges(t))
      case 2 => mergeApply(base,
        compactChanges(syntheticChanges(t), syntheticChanges2(t)))
    }
  }

  /** Distribution-drift monitor — the check a recurring ingest runs
    * before accepting a new snapshot: per-source document counts of the
    * incoming snapshot vs the current one, flagged when a source moved
    * more than 5% (|Δ|·20 > old — exact integer arithmetic, no float in
    * the verdict). Sources appearing/disappearing count from/to zero via
    * the full-outer join. Aggregation-only: both sides reduce to
    * #sources rows before the one tiny join.
    */
  def sourceDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def counts(df: DataFrame, as: String) =
      df.groupBy("source").agg(count(lit(1)).as(as))
    counts(a, "n_a").join(counts(b, "n_b"), Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("delta", col("n_b") - col("n_a"))
      .withColumn("drifted", abs(col("delta")) * 20 > col("n_a"))
      .orderBy("source")
  }

  /** Gate query: drift of the synthetic next snapshot (B) against the
    * base corpus — fully hash-gated (the oracle re-derives B and
    * restates every count, delta, and verdict).
    */
  def sourceDriftGate(t: Tables): DataFrame =
    sourceDrift(t.documents.select("doc_id", "source", "text"),
      syntheticSnapshotB(t))

  /** Gate query: the table-history surface (DESCRIBE HISTORY shape) —
    * one row per version with its global doc count, char total, and
    * mod-2^48 digest sum. The oracle restates all three versions from
    * its own A/B/C derivations, so the hash proves every version
    * reconstructs exactly — time travel to v1 returns B, not "roughly
    * B". All columns are int64 and content-sensitive.
    */
  def versionHistory(t: Tables): DataFrame =
    (0 to 2).map { v =>
      asOfVersion(t, v).agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text"))).cast("long"), lit(0L))
          .as("total_chars"),
        modDigest(sum(digest48(col("text")))).as("digest_sum"))
        .select(lit(v).as("version"), col("n_docs"), col("total_chars"),
          col("digest_sum"))
    }.reduce(_.unionByName(_)).orderBy("version")

  // ---------------------------------------------------------------------
  // Anti-entropy — Merkle-style replica reconciliation (round 12): two
  // copies of a table compared by PER-BUCKET DIGESTS, so finding what
  // diverged costs one digest-sized exchange per replica (buckets × ~40
  // bytes over the wire), never a row-by-row compare; repair then moves
  // only the diverged buckets' rows. The Cassandra/Dynamo repair shape,
  // Spark-native.
  // ---------------------------------------------------------------------

  /** First 48 bits of md5(source || '|' || text) — the full-row content
    * term of a replica bucket digest. Covers the payload columns (not
    * just text), so a source-only divergence is detected; nulls take a
    * \u0001 sentinel — chr(1) on the oracle side, the same byte
    * on the engine side — so null-vs-empty cannot alias. doc_id membership is
    * covered separately by the bucket's id_sum.
    */
  private def contentDigest48(source: org.apache.spark.sql.Column,
                              text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(
      coalesce(source, lit("\u0001")), lit("|"),
      coalesce(text, lit("\u0001")))), 1, 12), 16, 10).cast("decimal(38,0)")

  /** Per-bucket replica summary: bucket = doc_id mod `buckets`, carrying
    * row count, mod-2^48 id sum, and mod-2^48 content-digest sum — three
    * independent, order-insensitive accumulators, each exactly
    * restatable by the oracle. A divergence in membership, identity, or
    * payload moves at least one of them.
    */
  private def replicaBucketSummary(df: DataFrame, buckets: Int): DataFrame =
    df.select(
        pmod(col("doc_id"), lit(buckets.toLong)).cast("int").as("bucket"),
        col("doc_id"),
        contentDigest48(col("source"), col("text")).as("d"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        modDigest(sum(col("doc_id").cast("decimal(38,0)"))).as("id_sum"),
        modDigest(sum(col("d"))).as("digest"))

  /** Diverged buckets between replicas `a` and `b`: the full-outer join
    * of the two O(buckets)-row summaries, null-safe compared (a bucket
    * present on one side only IS a divergence). This is the whole
    * anti-entropy read cost — at 100 TB each replica is reduced
    * map-side to `buckets` rows before anything crosses the wire.
    */
  def antiEntropyDiff(a: DataFrame, b: DataFrame, buckets: Int = 32): DataFrame = {
    val sa = replicaBucketSummary(a, buckets).withColumnsRenamed(
      Map("n_rows" -> "n_rows_a", "id_sum" -> "id_sum_a", "digest" -> "digest_a"))
    val sb = replicaBucketSummary(b, buckets).withColumnsRenamed(
      Map("n_rows" -> "n_rows_b", "id_sum" -> "id_sum_b", "digest" -> "digest_b"))
    sa.join(sb, Seq("bucket"), "full_outer")
      .filter(!(col("n_rows_a") <=> col("n_rows_b") &&
        col("id_sum_a") <=> col("id_sum_b") &&
        col("digest_a") <=> col("digest_b")))
      .select("bucket", "n_rows_a", "n_rows_b", "digest_a", "digest_b")
      .orderBy("bucket")
  }

  /** Gate query: diverged buckets between the base corpus and the
    * synthetic replica B — fully hash-gated; the oracle re-derives B and
    * replays the same three accumulators per bucket.
    */
  def antiEntropyGate(t: Tables): DataFrame =
    antiEntropyDiff(t.documents.select("doc_id", "source", "text"),
      syntheticSnapshotB(t))

  /** Gate query: REPAIR replica B from replica A — drop B's rows in the
    * diverged buckets, pull A's rows for those buckets, touch nothing
    * else — then roll up the repaired replica per source. The oracle
    * states the same rollup over A directly, so the hash proves the
    * bucket-scoped repair restored exact equality: if any clean bucket
    * actually differed (digest collision) or any diverged bucket were
    * missed, the rollup would not reconstruct A. Both pruning joins are
    * against the O(buckets) diverged list (broadcast).
    */
  def antiEntropyRepairRoundtrip(t: Tables, buckets: Int = 32): DataFrame = {
    val a = t.documents.select("doc_id", "source", "text")
    val b = syntheticSnapshotB(t)
    val div = antiEntropyDiff(a, b, buckets).select("bucket")
    def bucketOf(df: DataFrame) =
      pmod(df("doc_id"), lit(buckets.toLong)).cast("int")
    val kept = b.join(broadcast(div), bucketOf(b) === div("bucket"), "left_anti")
    val pulled = a.join(broadcast(div), bucketOf(a) === div("bucket"), "left_semi")
    contentRollup(kept.unionByName(pulled))
  }
}
