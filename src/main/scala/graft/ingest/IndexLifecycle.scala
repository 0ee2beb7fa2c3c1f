package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The commit protocol of a persisted append-only index — the near-dup
  * index (Dedup) and the IVF-PQ vector index (VectorIndex) each declare
  * one instance and keep only the hooks that differ between them:
  * writing a batch's tables under a state snapshot, loading that
  * snapshot, and writing the index state a save starts from.
  *
  * Layout under an index root `path`:
  *  - index state (geometry, quantizers, ...) written by the family's
  *    save hook; append and probe trust the STORED state only.
  *  - `batches/b<N>/<table>` — one dir per save/append, holding each of
  *    `tables`, sealed by a `_COMMITTED` marker. The marker is the
  *    commit point: readers ignore markerless dirs and a retried append
  *    always writes a FRESH dir, so a crash mid-append can neither leave
  *    the index half-updated (bands without shingles would silently
  *    drop verified pairs) nor a retry duplicate rows. The id is
  *    reserved by an atomic claim-file create before anything is
  *    written ([[FileUtils.claimSeqDir]]), so two concurrent appenders
  *    never interleave part files under one marker, and an abandoned
  *    claim's id is never reused — a retire-then-append can never
  *    resurrect an expired batch under its old id.
  *  - `_RETIRED` in a batch dir — rolling-window retention: out of
  *    every read the moment it lands, bytes dropped at the next vacuum.
  *  - `forgotten/f<N>/ids` — the tombstone log (logical erasure), one
  *    claimed, marker-sealed dir per request; tombstoned `idCol` values
  *    are invisible to every probe, audit and vacuum.
  *  - `gen/`, `epoch/` — the [[Generations]] markers: a vacuum stages
  *    a compacted `batches_g<N>` tree and flips it live with one atomic
  *    marker create; every save bumps the monotonic save epoch last.
  *
  * Save and vacuum are destructive replaces and run under the exclusive
  * `_SAVING` lease ([[FileUtils.withSaveLease]]); so does retire, which
  * must list and mark batches within ONE generation (a vacuum or save
  * landing between the two would retire the compacted or fresh batch
  * that holds the kept rows). Appends and forgets take no lease: they
  * commit, wait out any lease holder ([[Generations.awaitNoLease]]),
  * then verify their entry survived and retry up to 8 times.
  *
  * @param tables        the batch tables each committed dir holds
  * @param idCol         the row id tombstones name
  * @param staleArtifact what a consumed append under a replaced state
  *                      would carry, for [[Generations.verifyAppendCommit]]'s
  *                      loud failure
  */
final class IndexLifecycle(tables: Seq[String], idCol: String,
    staleArtifact: String) {

  /** Bound on an append's or forget's commit-and-verify attempts. */
  private val MaxAttempts = 8

  /** Full replace under the save lease: every batch tree, marker and
    * tombstone goes (stale tombstones would silently hide a NEW row
    * reusing an erased id, and the next vacuum would delete it), then
    * `writeState` writes the index state and returns the snapshot the
    * first batch is written under. The save epoch is bumped LAST, after
    * the replacement state is fully written — the ordering that lets an
    * append treat "epoch unchanged at verify" as proof its loaded
    * snapshot is the stored one (see [[Generations.saveEpoch]]).
    */
  def save[M](path: String, conf: Configuration)(writeState: => M)(
      writeBatch: (M, String) => Unit): Unit =
    FileUtils.withSaveLease(path, conf) {
      Generations.reset(path, conf)
      FileUtils.rmr(s"$path/forgotten", conf)
      val state = writeState
      val bdir = FileUtils.claimSeqDir(
        Generations.currentBatchesDir(path, conf), "b", conf)
      writeBatch(state, bdir)
      FileUtils.touch(s"$bdir/_COMMITTED", conf)
      Generations.bumpSaveEpoch(path, conf)
    }

  /** Commit one batch under the CURRENT snapshot, self-healing against
    * concurrent maintenance. Each attempt reads the save epoch FIRST,
    * then the snapshot (a save bumps the epoch only after its state is
    * written), claims and writes a fresh dir, and seals it; the whole
    * attempt tolerates exceptions (a sweep can delete the tree under a
    * mid-flight write; the marker is touched last, so a failed attempt
    * is invisible). After waiting out any lease holder, the commit is
    * kept iff [[Generations.verifyAppendCommit]] says it survived in an
    * unchanged generation and epoch, or a vacuum consumed it. Otherwise
    * it is RETRACTED — marker first (one atomic op takes it out of every
    * read), then bytes: a dir that survived a save's reset may hold
    * stale-snapshot rows, and the retry would duplicate it. Nothing is
    * lost, nothing duplicates; a persistent failure surfaces through
    * the attempt bound.
    */
  def append[M](path: String, conf: Configuration)(loadState: => M)(
      writeBatch: (M, String) => Unit): Unit =
    retrying("append to", path) { n =>
      val committed = attempt(n) {
        val epoch0 = Generations.saveEpoch(path, conf)
        val state = loadState
        val base = Generations.currentBatchesDir(path, conf)
        sealNext(base, "b", n, conf)(writeBatch(state, _))
          .map(bdir => (epoch0, base, bdir))
      }.flatten
      Generations.awaitNoLease(path, conf)
      val ok = committed.exists { case (epoch0, base, bdir) =>
        Generations.verifyAppendCommit(path, epoch0, base, bdir,
          staleArtifact, conf)
      }
      if (!ok) committed.foreach { case (_, _, bdir) => retract(bdir, conf) }
      ok
    }

  /** Live batch dirs: committed, not retired, within the LIVE
    * generation (a staged vacuum tree without its marker is invisible).
    */
  def committedBatchDirs(path: String, conf: Configuration): Seq[String] = {
    val base = Generations.currentBatchesDir(path, conf)
    val dirs = FileUtils.listSubdirs(base, conf)
      .filter(d => FileUtils.exists(s"$d/_COMMITTED", conf) &&
        !FileUtils.exists(s"$d/_RETIRED", conf))
    require(dirs.nonEmpty, s"no live committed index batches under $base")
    dirs
  }

  /** The numeric id of a `b<N>` batch dir. */
  def batchId(dir: String): Long =
    new Path(dir).getName.stripPrefix("b").toLong

  /** One table's rows across `dirs` (read as one scan). */
  def read(s: SparkSession, dirs: Seq[String], table: String): DataFrame =
    s.read.parquet(dirs.map(d => s"$d/$table"): _*)

  /** Committed tombstone ids (one `idCol` column, distinct), if any. */
  def tombstoneIds(s: SparkSession, path: String): Option[DataFrame] = {
    val conf = s.sparkContext.hadoopConfiguration
    val dirs = FileUtils.listSubdirs(s"$path/forgotten", conf)
      .filter(d => FileUtils.exists(s"$d/_COMMITTED", conf))
    if (dirs.isEmpty) None
    else Some(s.read.parquet(dirs.map(_ + "/ids"): _*)
      .select(col(idCol).cast("bigint").as(idCol)).distinct())
  }

  /** Drops tombstoned rows from any frame carrying `idCol`; the log is
    * read once per call, however many frames the result filters.
    */
  def dropForgotten(s: SparkSession, path: String): DataFrame => DataFrame = {
    val tomb = tombstoneIds(s, path)
    df => tomb.fold(df)(t => df.join(t, Seq(idCol), "left_anti"))
  }

  /** Every live batch's `table` rows tagged with their `batch_id`,
    * tombstoned rows dropped — the per-batch view both index audits
    * group by.
    */
  def rowsByBatch(s: SparkSession, path: String, table: String): DataFrame = {
    val dirs = committedBatchDirs(path, s.sparkContext.hadoopConfiguration)
    dropForgotten(s, path)(dirs.map(d => s.read.parquet(s"$d/$table")
      .withColumn("batch_id", lit(batchId(d)))).reduce(_.unionByName(_)))
  }

  /** Logical erasure: record `ids` (an `idCol` column) as a tombstone
    * batch. Self-healing like [[append]]: a vacuum sweeps the log after
    * folding ITS snapshot of it in, and a save clears it wholesale, so
    * a request committed inside either window could vanish unapplied.
    * Post-commit, wait out any lease holder and re-record if the entry
    * is gone (idempotent: a tombstone for removed rows filters nothing)
    * — a governance request is never silently dropped.
    */
  def forget(path: String, ids: DataFrame): Unit = {
    val conf = ids.sparkSession.sparkContext.hadoopConfiguration
    retrying("forget on", path) { n =>
      val fdir = attempt(n)(sealNext(s"$path/forgotten", "f", n, conf)(d =>
        ids.select(col(idCol).cast("bigint").as(idCol))
          .write.mode("overwrite").parquet(s"$d/ids"))).flatten
      Generations.awaitNoLease(path, conf)
      fdir.exists(d => FileUtils.exists(s"$d/_COMMITTED", conf))
    }
  }

  /** Physical erasure and batch compaction: rewrite every live batch,
    * minus tombstoned rows, as ONE committed batch of the next
    * generation, then clear the tombstone log. Crash-atomic via the
    * [[Generations]] swap: the compacted tree is staged invisibly and
    * flips live with one marker create, so readers see exactly the old
    * index or exactly the new one. The consumed manifest, written
    * before the flip, is what lets an append racing this vacuum tell
    * "my rows live on in b0" from "my batch died with the old tree".
    * Index state is untouched (a vacuum never changes index identity),
    * and probe results are unchanged when nothing is tombstoned.
    */
  def vacuum(s: SparkSession, path: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    FileUtils.withSaveLease(path, conf) {
      val keep = dropForgotten(s, path)
      val dirs = committedBatchDirs(path, conf)
      val (gen, stage) = Generations.stageNextGen(path, conf)
      tables.foreach(t =>
        keep(read(s, dirs, t)).write.parquet(s"$stage/b0/$t"))
      FileUtils.touch(s"$stage/b0/_COMMITTED", conf)
      Generations.recordConsumed(path, gen, dirs, conf)
      require(Generations.commitGeneration(path, gen, conf),
        s"generation $gen of $path was committed concurrently — " +
          "another vacuum ran despite the save lease")
      // best-effort cleanup AFTER the commit point: old generations'
      // bytes and the folded-in tombstone log (applied tombstones
      // re-filter rows the compaction already dropped — a no-op)
      Generations.sweepStale(path, conf)
      FileUtils.rmr(s"$path/forgotten", conf)
    }
  }

  /** Retire every live batch except the newest `keepLast` with one
    * `_RETIRED` marker each (metadata-only); returns the retired ids.
    */
  def retire(path: String, conf: Configuration, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    FileUtils.withSaveLease(path, conf) {
      val expired = committedBatchDirs(path, conf).sortBy(batchId)
        .dropRight(keepLast)
      expired.foreach(d => FileUtils.touch(s"$d/_RETIRED", conf))
      expired.map(batchId)
    }
  }

  private def retrying(op: String, path: String)(tryOnce: Int => Boolean): Unit = {
    var n = 0
    var done = false
    while (!done) {
      n += 1
      require(n <= MaxAttempts,
        s"$op $path kept losing maintenance races after $MaxAttempts attempts")
      done = tryOnce(n)
    }
  }

  /** `body`, or None when it threw and attempt `n` is not the last. */
  private def attempt[T](n: Int)(body: => T): Option[T] =
    try Some(body) catch { case _: Exception if n < MaxAttempts => None }

  /** Claim the next `<prefix><N>` dir under `base`, write it, seal it;
    * a failed write is retracted (the marker op may have half-landed).
    */
  private def sealNext(base: String, prefix: String, n: Int,
      conf: Configuration)(write: String => Unit): Option[String] = {
    val d = FileUtils.claimSeqDir(base, prefix, conf)
    val written = attempt(n) { write(d); FileUtils.touch(s"$d/_COMMITTED", conf) }
    if (written.isEmpty) retract(d, conf)
    written.map(_ => d)
  }

  private def retract(dir: String, conf: Configuration): Unit =
    try {
      FileUtils.delete(s"$dir/_COMMITTED", recursive = false, conf)
      FileUtils.rmr(dir, conf)
    } catch { case _: Exception => () }
}
