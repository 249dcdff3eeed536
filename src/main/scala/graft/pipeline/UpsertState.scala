package graft.pipeline

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Idempotent key-based MERGE-upsert state table for `foreachBatch` —
  * the exactly-once-ish sink lane the reference lacks (corrie is
  * at-least-once with documented duplicate windows,
  * `/root/reference/writer/writer.go:240-247`; this is the idempotent
  * alternative real engines ship).
  *
  * State is a pointered chain of parquet generations under
  * `stateRoot`: `CURRENT` names the live generation; each micro-batch
  * reduces itself to ONE row per key (max over the deterministic
  * (event_id, value) recency struct), full-outer-merges that into the
  * current generation (update wins per key, base survives otherwise —
  * [[graft.queries.SetOps]] q_merge_upsert's coalesce shape) and
  * atomically repoints. Because the merge REPLACES per key rather
  * than folding deltas, re-running a batch against state that already
  * includes it rewrites an identical generation — replayed
  * micro-batches CONVERGE instead of double-counting (contrast with
  * q_stream_ivm, whose commutative delta fold needs a generation-id
  * guard for the same safety). StreamingSemanticsSpec forces a crash
  * inside the confirm window and asserts the replayed run's final
  * table is byte-identical to an uncrashed run.
  *
  * Crash safety of the swap itself: on replay the destination IS the
  * live generation, so it is TOMBSTONE-RENAMED (`gen_$id.old`) rather
  * than deleted before the staged merge moves in — a crash anywhere
  * inside the swap leaves either the destination or the tombstone
  * complete, and [[current]] recovers through both. The tombstone is
  * removed only after the pointer write.
  *
  * Retention: the generation chain doubles as a time-travel surface
  * ([[readGeneration]]; q_stream_timetravel), but keeping every
  * generation forever is unbounded storage at scale —
  * [[pruneGenerations]] keeps the newest K (plus the live one) and
  * GC-plans the rest with the q_snapshot_gc anti-join shape over the
  * manifest. A merge for a batch id OLDER than the live generation is
  * REFUSED loudly (its input generations may be pruned and merging it
  * into newer state would silently regress keys); Structured
  * Streaming only ever replays the latest uncommitted batch, so the
  * guard never fires on a legitimate restart. UpsertRetentionSpec
  * pins all three behaviors.
  *
  * Scale shape: per batch one hash-agg over the batch (partial+final
  * on the key) and one key-partitioned full-outer join against state
  * sized by |keys|; generations are parquet, so at 100 TB this is the
  * classic compacted-upsert table (what a MERGE INTO lakehouse sink
  * does) with O(|keys|) per-batch cost and O(K·|keys|) retained
  * storage.
  */
object UpsertState {

  private def ptr(stateRoot: String) = new File(stateRoot, "CURRENT")

  /** A complete generation = directory with parquet's _SUCCESS marker
    * (a half-written stage or a mid-swap victim never has one). */
  private def hasSuccess(path: String): Boolean = {
    val d = new File(path)
    d.isDirectory && new File(d, "_SUCCESS").exists()
  }

  /** Batch id of a generation path or name: gen_init → -1,
    * gen_$k / gen_$k.old → k. */
  private def genId(path: String): Long = {
    val n = new File(path).getName.stripSuffix(".old")
    if (n == "gen_init") -1L else n.stripPrefix("gen_").toLong
  }

  /** Path of the live generation (the init generation before any
    * batch), with swap-crash recovery: if the pointer names a
    * directory that is missing or incomplete, the swap died mid-way —
    * fall back to that generation's tombstone (which then holds the
    * complete pre-swap data), and as a last resort to the newest
    * complete generation on disk. */
  def current(stateRoot: String): String = {
    val p = ptr(stateRoot)
    if (!p.exists()) return s"$stateRoot/gen_init"
    val named = Files.readString(p.toPath).trim
    if (hasSuccess(named)) named
    else if (hasSuccess(named + ".old")) named + ".old"
    else {
      val gens = Option(new File(stateRoot).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("gen_") && hasSuccess(f.getPath))
      require(gens.nonEmpty, s"upsert state at $stateRoot has no complete generation")
      // prefer the un-tombstoned dir at equal batch id
      gens.maxBy(f => (genId(f.getPath), !f.getName.endsWith(".old"))).getPath
    }
  }

  /** Write the (empty) init generation. */
  def init(s: SparkSession, stateRoot: String): Unit = {
    new File(stateRoot).mkdirs()
    val empty = s.range(0).select(
        col("id").as("user_id"), col("id").as("last_event_id"),
        col("id").cast("double").as("last_value"))
      .repartition(1)
    LocalFs.write(empty).mode("overwrite").parquet(s"$stateRoot/gen_init")
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
    f.delete()
  }

  private def sizeOf(f: File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).map(sizeOf).sum
    else f.length()

  /** Merge one micro-batch (event_id, user_id, value) into state.
    *
    * The merged generation is written to a staging dir and swapped in,
    * because on REPLAY `current` already IS `gen_$id` — an in-place
    * overwrite would delete the very files the merge job is lazily
    * reading (the self-overwrite trap). The swap tombstone-renames the
    * live destination instead of deleting it, so every crash point
    * leaves a complete generation for [[current]] to find; the
    * tombstone is dropped only once the pointer names the new
    * generation. Stage-then-swap makes the replayed batch read its own
    * output safely and converge. */
  def mergeBatch(s: SparkSession, stateRoot: String, batch: DataFrame, id: Long): Unit = {
    val cur = requireMergeable(stateRoot, id)
    val up = batch.groupBy(col("user_id"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("u_event_id"),
        col("m.value").as("u_value"))
    val merged = s.read.parquet(cur).join(up, Seq("user_id"), "full")
      .select(col("user_id"),
        coalesce(col("u_event_id"), col("last_event_id")).as("last_event_id"),
        coalesce(col("u_value"), col("last_value")).as("last_value"))
    swapIn(stateRoot, id, merged)
  }

  /** Delete-capable MERGE — the full lakehouse `MERGE INTO ... WHEN
    * MATCHED AND op = 'delete' THEN DELETE` semantics the upsert-only
    * [[mergeBatch]] lacks: `batch` carries an `op` column; per key the
    * LATEST action (max event_id) wins within the batch, and a winning
    * delete REMOVES the key from state (a later upsert resurrects it —
    * generations are replace-per-key, so replays still converge).
    * Same stage-then-swap crash discipline. */
  def mergeBatchOps(s: SparkSession, stateRoot: String, batch: DataFrame, id: Long): Unit = {
    val cur = requireMergeable(stateRoot, id)
    val up = batch.groupBy(col("user_id"))
      .agg(max(struct(col("event_id"), col("op"), col("value"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("u_event_id"),
        col("m.op").as("u_op"), col("m.value").as("u_value"))
    val merged = s.read.parquet(cur).join(up, Seq("user_id"), "full")
      // a winning delete drops the key (base row included); base rows
      // with no action survive; upserts replace
      .filter(col("u_op").isNull || col("u_op") =!= "delete")
      .select(col("user_id"),
        coalesce(col("u_event_id"), col("last_event_id")).as("last_event_id"),
        coalesce(col("u_value"), col("last_value")).as("last_value"))
    swapIn(stateRoot, id, merged)
  }

  /** Shared merge preamble: resolve the live generation and refuse
    * stale batch ids (see [[mergeBatch]]'s replay contract). */
  private def requireMergeable(stateRoot: String, id: Long): String = {
    val cur = current(stateRoot)
    // Structured Streaming replays at most the latest uncommitted
    // batch (checkpoint ids are monotonic), so a merge for an OLDER id
    // can only be a mis-wired restart: merging it into newer state
    // would silently regress keys to stale values, and with retention
    // on, the generations it expects may already be GC'd. Refuse.
    require(id >= genId(cur),
      s"replay of batch $id refused: state is already at generation " +
        s"${genId(cur)} (replays are valid only for the latest " +
        "uncommitted batch; pruned generations cannot be rebuilt)")
    cur
  }

  /** Stage-then-swap commit of a merged generation (see the class doc
    * for the crash-safety argument): fully materialize to `stage_$id`,
    * tombstone-rename any live destination, move the stage in, repoint,
    * then drop the tombstone. */
  private def swapIn(stateRoot: String, id: Long, merged: DataFrame): Unit = {
    val next = s"$stateRoot/gen_$id"
    val stage = new File(s"$stateRoot/stage_$id")
    rm(stage) // leftover from a merge that crashed before its swap
    LocalFs.write(merged).mode("overwrite").parquet(stage.getPath)
    // the staged merge is fully materialized; now swap crash-atomically
    val dst = new File(next)
    val tomb = new File(next + ".old")
    if (dst.exists()) {
      rm(tomb) // stale tombstone from an earlier crash of this swap
      Files.move(dst.toPath, tomb.toPath)
    }
    Files.move(stage.toPath, dst.toPath)
    Files.writeString(ptr(stateRoot).toPath, next)
    rm(tomb) // only after the pointer write names the new generation
  }

  /** Time-travel read of generation `k`, REFUSING clearly when the
    * generation was garbage-collected (or never written) instead of
    * surfacing a bare FileNotFoundException mid-scan. */
  def readGeneration(s: SparkSession, stateRoot: String, k: Long): DataFrame = {
    val d = new File(stateRoot, s"gen_$k")
    if (!hasSuccess(d.getPath)) {
      val retained = Option(new File(stateRoot).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("gen_") && hasSuccess(f.getPath))
        .map(_.getName).sorted
      throw new IllegalArgumentException(
        s"generation $k of $stateRoot is not available (garbage-collected " +
          s"by retention, or never written); retained: ${retained.mkString(", ")}")
    }
    s.read.parquet(d.getPath)
  }

  /** Retention GC: keep the newest `keep` complete batch generations
    * plus the live one; everything older — including `gen_init`,
    * stale swap tombstones, and stage dirs stranded by a merge that
    * crashed before its swap (stage id <= live generation) — is
    * deleted. The doomed set is computed as the q_snapshot_gc
    * anti-join over the manifest (all generation dirs minus the
    * retained set — metadata-sized, the same plan shape that lane
    * audits at table scale). Returns bytes deleted. */
  def pruneGenerations(s: SparkSession, stateRoot: String, keep: Int): Long = {
    import s.implicits._
    require(keep >= 1, "retention must keep at least one generation")
    val cur = new File(current(stateRoot)).getName
    val liveId = genId(cur)
    val dirs = Option(new File(stateRoot).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).map(_.getName).toSeq
    // A stage_$k dir with k <= the live generation belongs to a merge whose
    // swap either completed (the staged data moved away, this is an empty
    // husk) or was superseded by a successful replay — a crash between the
    // staged write and the swap strands it forever otherwise. k > live would
    // be an in-flight merge: leave it alone.
    val staleStages = dirs.filter(n => n.startsWith("stage_") &&
      scala.util.Try(n.stripPrefix("stage_").toLong).toOption.exists(_ <= liveId))
    val all = dirs.filter(_.startsWith("gen_")) ++ staleStages
    val retained = (all
      .filter(n => n.startsWith("gen_") && n != "gen_init" && !n.endsWith(".old"))
      .sortBy(genId).takeRight(keep) :+ cur).distinct
    val doomed = all.toDF("gen")
      .join(retained.toDF("gen"), Seq("gen"), "left_anti")
      .as[String].collect()
    doomed.map { n =>
      val d = new File(stateRoot, n)
      val bytes = sizeOf(d)
      rm(d)
      bytes
    }.sum
  }
}
