package graft.streaming

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Exactly-once file sink for Structured Streaming (SURVEY.md §4.3).
  *
  * The reference demo's whole point (reconstructed in SURVEY.md §2 A8-A9;
  * /root/reference is empty) is end-to-end exactly-once delivery: Flink
  * two-phase-commits a transactional Kafka producer with its checkpoint
  * barriers. Spark's equivalent guarantee composes differently:
  *
  *   - the streaming checkpoint's offsets WAL pins the exact input range of
  *     every micro-batch, so a replayed batch N carries IDENTICAL data —
  *     any COMPLETED attempt output for batch N is THE batch;
  *   - therefore an idempotent commit keyed by batchId suffices:
  *       1. txn begin   = write batch output under an attempt-PRIVATE
  *                        out/_staging_batch=N-uuid
  *       2. commit      = exclusive-create of the out/_COMMITTED_batch=N
  *                        marker — the SINGLE commit point; exactly one
  *                        attempt ever wins it
  *       3. publish     = the marker winner renames its staging to
  *                        out/batch=N (no other live attempt ever touches
  *                        that name, so the rename target is free)
  *
  * Why a marker and not the rename itself: Hadoop `FileSystem.rename` is
  * NOT a reliable exclusive primitive under contention — the local
  * implementation falls back to copy-INTO-directory semantics when the
  * destination exists, which can pollute an already-committed batch with a
  * losing attempt's files (observed before this protocol existed). The
  * marker create is the strongest exclusive primitive each filesystem
  * offers: O_EXCL via NIO on the local filesystem (the Hadoop local
  * `create(overwrite=false)` is exists-check-then-truncate, NOT atomic),
  * and the namenode-atomic `create(overwrite=false)` on HDFS.
  *
  * Crash matrix (replay of batch N sees):
  *   - no marker            → normal attempt: write staging, race the
  *                            marker, winner publishes;
  *   - marker + batch=N     → committed: skip, sweep stale stagings;
  *   - marker, no batch=N   → a previous incarnation died between commit
  *                            and publish: the replay RECOVERS by writing
  *                            its (identical, offsets-WAL-pinned) staging
  *                            and publishing it without re-racing the
  *                            marker.
  *
  * Two simultaneously LIVE drivers on one checkpoint (forbidden by the
  * streaming checkpoint lock in a real deployment) can BOTH take the
  * recovery path when a marker winner died inside the commit→publish
  * window; the loser's rename then lands INSIDE the just-published
  * directory (Hadoop rename moves into an existing dst dir). That case
  * self-heals: the publisher verifies after its rename that its staging
  * did not nest under the committed dir, rolls the nested copy back, and
  * reports itself the loser — the committed output is always exactly one
  * complete copy (raced in ExactlyOnceProtocolSpec). True mutual
  * exclusion of live drivers still belongs to fencing tokens / the
  * checkpoint lock, not the filesystem. In-JVM duplicate attempts
  * (speculative tasks, a second query on the same checkpoint) never even
  * reach the race: they serialize on a per-(outDir, batch) lock. For object stores or a real Kafka sink, swap
  * the commit step for a transactional producer with transactional.id =
  * (checkpointDir, batchId) — same protocol, not locally testable (no
  * Kafka connector jar, SURVEY.md §0).
  */
object ExactlyOnceSink {

  // One lock per (outDir, batch): same-JVM duplicate attempts serialize so
  // at most one is in the write→commit→publish window. Entries are one
  // tiny Object per batch ever committed by this JVM — bounded by the
  // stream's lifetime, cleared with the process.
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Atomically create `p` with `content`, failing if it already exists.
    * Local filesystems get true O_EXCL through NIO (Hadoop's local
    * `create(overwrite=false)` is a non-atomic exists-check); everything
    * else gets Hadoop's create, which HDFS makes namenode-atomic.
    * @return true iff this call created the file. */
  private[graft] def tryExclusiveCreate(
      fs: FileSystem, p: Path, content: String): Boolean = fs match {
    case _: LocalFileSystem | _: RawLocalFileSystem =>
      try {
        val nio = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.createFile(nio) // O_EXCL: atomic on POSIX
        java.nio.file.Files.write(nio, content.getBytes("UTF-8"))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    case _ =>
      try {
        val os = fs.create(p, false) // atomic-exclusive on HDFS
        try os.write(content.getBytes("UTF-8")) finally os.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException        => false
      }
  }

  /** One commit attempt for batch `batchId`: runs `writeStaging` against an
    * attempt-private path, then drives the marker protocol above. Exposed
    * (package-private) so the cross-process race test can call it WITHOUT
    * the in-JVM lock — two concurrent calls here ARE the two-driver race.
    * @return true iff THIS attempt won the commit (placed the data or
    *         recovered a dead winner's commit). */
  private[graft] def commitAttempt(
      fs: FileSystem, out: Path, batchId: Long)(
      writeStaging: Path => Unit): Boolean = {
    val committed = new Path(out, s"batch=$batchId")
    val marker = new Path(out, s"_COMMITTED_batch=$batchId")
    def sweepStagings(): Unit = {
      val stale = fs.globStatus(new Path(out, s"_staging_batch=$batchId-*"))
      if (stale != null) stale.foreach(st => fs.delete(st.getPath, true))
      // Crash window of the dual-recovery rollback: a losing recoverer
      // that dies AFTER its rename nested into the committed dir but
      // BEFORE its fs.delete(nested) leaves batch=N/_staging_batch=N-UUID
      // — a full duplicate copy that the top-level glob above never sees.
      // Spark lists a `_` name that contains `=` as data, so only `read`
      // (which takes the batch dir's own files) is safe from it; sweep it
      // so the committed dir converges to exactly one physical copy on
      // the next attempt/replay.
      val nested =
        fs.globStatus(new Path(committed, s"_staging_batch=$batchId-*"))
      if (nested != null) nested.foreach(st => fs.delete(st.getPath, true))
    }

    val markerAtEntry = fs.exists(marker)
    if (markerAtEntry && fs.exists(committed)) {
      // committed by us, a racing winner, or a previous incarnation:
      // just sweep crashed attempts' leftovers
      sweepStagings()
      return false
    }
    // Either no marker yet (normal race) or marker without data (a dead
    // winner to recover). Both need a complete staging first; the offsets
    // WAL pins the batch input, so our staging is bit-equal to any other
    // attempt's.
    fs.mkdirs(out)
    val staging = new Path(out, s"_staging_batch=$batchId-${UUID.randomUUID}")
    writeStaging(staging)

    val won =
      if (markerAtEntry) true // recovery mode: the commit already happened, finish the publish
      else if (fs.exists(marker)) false // lost while writing; the live winner publishes
      else tryExclusiveCreate(fs, marker, staging.getName)
    // Only a marker winner or a dead winner's recoverer renames to the
    // committed name. The normal race admits exactly one winner, but TWO
    // LIVE recoverers can both see marker-present/data-absent at entry and
    // both reach here with won=true: the slower one's exists-check can
    // pass before the faster one's rename lands, and Hadoop rename then
    // moves the loser's staging INTO the just-published directory (the
    // local-FS fallback; HDFS renames into existing dirs the same way).
    // That pollution has an unambiguous signature — the committed dir now
    // contains a child named exactly like OUR attempt-private staging —
    // so verify after the rename: if our staging landed nested, roll it
    // back and report this attempt as the loser. The committed output is
    // exactly the faster recoverer's complete copy either way (the
    // round-12 ADVICE dual-recovery TOCTOU, closed by post-rename
    // verification; raced in ExactlyOnceProtocolSpec).
    val placed = won && !fs.exists(committed) && {
      val renamed = fs.rename(staging, committed)
      val nested = new Path(committed, staging.getName)
      val polluted = renamed && fs.exists(nested)
      if (polluted) fs.delete(nested, true)
      renamed && !polluted
    }
    if (!placed) fs.delete(staging, true)
    if (fs.exists(committed)) sweepStagings()
    placed
  }

  /** The committed output of a [[parquetSink]]: the parquet files of
    * every `outDir/batch=N` dir, with `batch` as a partition column. Only
    * a published batch has that dir, so stagings and a commit whose
    * publish has not landed stay invisible. Reading `outDir` itself fails:
    * Spark keeps `_`-prefixed names that contain `=`, such as the
    * `_COMMITTED_batch=N` markers, as data. For the same reason the glob
    * stops at the batch dir's own files: a losing recoverer's copy nested
    * in it (`batch=N/_staging_batch=N-…`, swept on the next attempt)
    * would otherwise read as a second partition level. Needs at least one
    * published batch (an empty glob has no schema). */
  def read(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("basePath", outDir).parquet(s"$outDir/batch=*/*.parquet")

  /** foreachBatch handler writing each micro-batch to outDir/batch=N. */
  def parquetSink(outDir: String): (DataFrame, Long) => Unit = (df, batchId) => {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    val lock = commitLocks.computeIfAbsent(s"$outDir#$batchId", _ => new Object)
    lock.synchronized {
      val alreadyDone =
        fs.exists(new Path(out, s"_COMMITTED_batch=$batchId")) &&
          fs.exists(new Path(out, s"batch=$batchId"))
      if (!alreadyDone)
        commitAttempt(fs, out, batchId)(staging =>
          df.write.mode("overwrite").parquet(staging.toString))
      else {
        val stale = fs.globStatus(new Path(out, s"_staging_batch=$batchId-*"))
        if (stale != null) stale.foreach(st => fs.delete(st.getPath, true))
        // same nested-leftover sweep as commitAttempt's sweepStagings: a
        // replay that finds the batch already committed is exactly the
        // "next attempt" that must converge a crashed loser's nested copy
        val nested = fs.globStatus(
          new Path(out, s"batch=$batchId/_staging_batch=$batchId-*"))
        if (nested != null) nested.foreach(st => fs.delete(st.getPath, true))
      }
    }
  }
}
