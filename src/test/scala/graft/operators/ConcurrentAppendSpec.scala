package graft.operators

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import graft.SparkSpec
import graft.ingest.FileUtils
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Concurrent-append safety for the persisted indexes: both index
  * families reserve a batch id via an ATOMIC claim-file create before
  * writing anything (FileUtils.claimSeqDir), so two appenders racing
  * the same index land two intact batches — never interleaved part
  * files under one `_COMMITTED` marker, the corruption a bare
  * max(existing)+1 listing allows.
  */
class ConcurrentAppendSpec extends SparkSpec {

  private val conf = spark.sparkContext.hadoopConfiguration

  /** Run the thunks truly concurrently (barrier start), propagating
    * the first failure.
    */
  private def inParallel(thunks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    val barrier = new CyclicBarrier(thunks.size)
    try {
      val futures = thunks.map(t => pool.submit(new Runnable {
        def run(): Unit = { barrier.await(30, TimeUnit.SECONDS); t() }
      }))
      futures.foreach(_.get(300, TimeUnit.SECONDS))
    } finally { pool.shutdownNow(); () }
  }

  // The claim protocol must hold through ALL shipped ClaimBackends:
  // the filesystem's atomic create (default), the conditional-PUT
  // token protocol (the object-store shape), and the S3-shaped
  // adapter — driven through its fault seam with an injected
  // first-PUT 503 so every claim must survive an S3 transient retry.
  // Same scenarios, same assertions, backend swapped through the
  // FileUtils seam.
  private val backends = Seq[(String, () => graft.ingest.ClaimBackend)](
    ("fs", () => graft.ingest.FsClaimBackend),
    ("cput", () => new graft.ingest.ConditionalPutClaimBackend(
      graft.ingest.HadoopFsConditionalStore)),
    ("s3", () => new graft.ingest.ConditionalPutClaimBackend(
      new graft.ingest.S3ConditionalStore(
        new graft.ingest.S3Fakes.FirstPutFlakyApi(
          new graft.ingest.S3Fakes.FsBackedS3Api),
        backoffMs = 1L))))

  backends.foreach { case (bname, mkBackend) =>

    test(s"[$bname] claimSeqDir under contention: every claim wins a distinct id") {
      FileUtils.withClaimBackend(mkBackend()) {
        val base = tmpDir(s"claims_$bname").toString
        val claimed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        inParallel(Seq.fill(4)(() =>
          (1 to 8).foreach(_ => assert(claimed.add(
            FileUtils.claimSeqDir(base, "b", conf)),
            "two claimers won the same batch dir"))))
        assert(claimed.size == 32)
        val ids = claimed.toArray(Array.empty[String])
          .map(d => new org.apache.hadoop.fs.Path(d).getName.stripPrefix("b").toLong)
        assert(ids.toSet == (0L until 32L).toSet,
          "claim ids must be dense: every id visible to the next claimer")
      }
    }

    test(s"[$bname] claimSeqDir counts a claimed-but-unwritten id (crashed claimer)") {
      FileUtils.withClaimBackend(mkBackend()) {
        val base = tmpDir(s"claims_crash_$bname").toString
        val d0 = FileUtils.claimSeqDir(base, "b", conf)
        assert(d0.endsWith("/b0"))
        // claimer 0 "crashes" before writing b0 — the next claim must NOT
        // reuse id 0 even though no b0 directory exists
        val d1 = FileUtils.claimSeqDir(base, "b", conf)
        assert(d1.endsWith("/b1"), s"id 0 was reused: $d1")
      }
    }

    test(s"[$bname] two concurrent vector-index appends: both batches land intact; probe == one-shot save") {
      FileUtils.withClaimBackend(mkBackend()) {
        val emb = Tables(spark, sf0001).embeddings
        val concurrent = tmpDir(s"vidx_conc_$bname").toString
        val oneShot = tmpDir(s"vidx_seq_$bname").toString
        try {
          // save on a slice containing the pinned training set (vec_id < 32)
          VectorIndex.saveVectorIndex(emb.filter(col("vec_id") < 100), concurrent)
          inParallel(Seq(
            () => VectorIndex.appendVectorIndex(
              emb.filter(col("vec_id") >= 100 && col("vec_id") % 2 === 0), concurrent),
            () => VectorIndex.appendVectorIndex(
              emb.filter(col("vec_id") >= 100 && col("vec_id") % 2 === 1), concurrent)))
          // three committed batches, each sealed, no shared dir
          val dirs = FileUtils.listSubdirs(s"$concurrent/batches", conf)
          assert(dirs.size == 3, s"expected 3 batch dirs, got $dirs")
          dirs.foreach(d => assert(FileUtils.exists(s"$d/_COMMITTED", conf)))
          VectorIndex.saveVectorIndex(emb, oneShot)
          val q = emb.filter(col("vec_id") < 3)
          val got = VectorIndex.probeVectorIndex(spark, concurrent, q).collect().toSeq
          val want = VectorIndex.probeVectorIndex(spark, oneShot, q).collect().toSeq
          assert(got == want, "concurrently-appended index diverged from one-shot save")
        } finally Seq(concurrent, oneShot).foreach(FileUtils.rmr(_, conf))
      }
    }

    test(s"[$bname] two concurrent near-dup-index appends: both batches land intact; probe == sequential") {
      FileUtils.withClaimBackend(mkBackend()) {
        val docs = Tables(spark, sf0001).documents
        val hist = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
        val concurrent = tmpDir(s"ndidx_conc_$bname").toString
        val sequential = tmpDir(s"ndidx_seq_$bname").toString
        try {
          val h0 = hist.filter(col("doc_id") % 3 === 0)
          val h1 = hist.filter(col("doc_id") % 3 === 1)
          val h2 = hist.filter(col("doc_id") % 3 === 2)
          Dedup.saveNearDupIndex(h0, concurrent)
          inParallel(Seq(
            () => Dedup.appendNearDupIndex(h1, concurrent),
            () => Dedup.appendNearDupIndex(h2, concurrent)))
          val dirs = FileUtils.listSubdirs(s"$concurrent/batches", conf)
          assert(dirs.size == 3, s"expected 3 batch dirs, got $dirs")
          dirs.foreach(d => assert(FileUtils.exists(s"$d/_COMMITTED", conf)))
          Dedup.saveNearDupIndex(h0, sequential)
          Dedup.appendNearDupIndex(h1, sequential)
          Dedup.appendNearDupIndex(h2, sequential)
          val got = Dedup.probeNearDupIndex(spark, concurrent, batch).collect().toSeq
          val want = Dedup.probeNearDupIndex(spark, sequential, batch).collect().toSeq
          assert(got == want, "concurrently-appended index diverged from sequential appends")
        } finally Seq(concurrent, sequential).foreach(FileUtils.rmr(_, conf))
      }
    }
  }

  test("save lease: a held lease fails the second saver loudly; release reopens; crash has a named remedy") {
    import spark.implicits._
    val docs = Seq((0L, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text")
    Seq(
      ("ndx", (p: String) => Dedup.saveNearDupIndex(docs, p)),
      ("wh", (p: String) => SketchWarehouse.saveHllWarehouse(
        Tables(spark, sf0001).orders
          .withColumn("part", pmod(col("o_custkey"), lit(4))),
        p, "o_custkey", "part")),
    ).foreach { case (tag, save) =>
      val path = tmpDir(s"save_lease_$tag").toString
      // a live (or crashed) saver's lease blocks the save with the
      // documented remedy in the message
      FileUtils.mkdirs(path, conf)
      FileUtils.touch(s"$path/_SAVING", conf)
      val e = intercept[IllegalArgumentException](save(path))
      assert(e.getMessage.contains("delete the lease"),
        s"$tag: error must name the remedy: ${e.getMessage}")
      // the remedy works, the save succeeds, and it releases the lease
      FileUtils.delete(s"$path/_SAVING", recursive = false, conf)
      save(path)
      assert(!FileUtils.exists(s"$path/_SAVING", conf),
        s"$tag: save must release its lease")
      // re-save over an existing tree still works (lease re-acquired)
      save(path)
      FileUtils.rmr(path, conf)
    }
  }

  test("vacuum takes the save lease: it cannot race a saver, and never deletes a live lease") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again"),
      (1L, "pack my box with five dozen liquor jugs for the judge"))
      .toDF("doc_id", "text")
    val emb = Tables(spark, sf0001).embeddings.filter(col("vec_id") < 64)
    Seq(
      ("ndx", (p: String) => Dedup.saveNearDupIndex(docs, p),
        (p: String) => Dedup.vacuumIndex(spark, p),
        (p: String) => Dedup.retireIndexBatches(spark, p, keepLast = 1)),
      ("vidx", (p: String) => VectorIndex.saveVectorIndex(emb, p),
        (p: String) => VectorIndex.vacuumVectorIndex(spark, p),
        (p: String) => VectorIndex.retireVectorIndexBatches(spark, p, keepLast = 1)),
    ).foreach { case (tag, save, vacuum, retire) =>
      val path = tmpDir(s"vacuum_lease_$tag").toString
      try {
        save(path)
        // a live saver's lease blocks the vacuum loudly (unleased, its
        // delete-then-rewrite would interleave with the save — and the
        // old root-wide rmr would have deleted the lease itself)
        FileUtils.touch(s"$path/_SAVING", conf)
        val e = intercept[IllegalArgumentException](vacuum(path))
        assert(e.getMessage.contains("delete the lease"),
          s"$tag: vacuum error must name the remedy: ${e.getMessage}")
        assert(FileUtils.exists(s"$path/_SAVING", conf),
          s"$tag: a failed vacuum must not delete the saver's lease")
        // retire lists and marks batches of ONE generation, so it is
        // lease-gated too: a save or vacuum landing between the two
        // would retire the batch holding the kept rows
        val r = intercept[IllegalArgumentException](retire(path))
        assert(r.getMessage.contains("delete the lease"),
          s"$tag: retire error must name the remedy: ${r.getMessage}")
        assert(FileUtils.exists(s"$path/_SAVING", conf),
          s"$tag: a failed retire must not delete the saver's lease")
        // remedy → vacuum succeeds, releases the lease, tree stays live
        FileUtils.delete(s"$path/_SAVING", recursive = false, conf)
        vacuum(path)
        assert(!FileUtils.exists(s"$path/_SAVING", conf),
          s"$tag: vacuum must release its lease")
      } finally FileUtils.rmr(path, conf)
    }
    ()
  }

  // retire(keepLast = 1) racing a vacuum on a save+append index: the
  // legal end states are "retire first" (the saved batch retired, the
  // vacuum compacts the appended one) and "vacuum first" (one
  // compacted batch, nothing left to retire); either op may lose the
  // lease loudly. Retiring inside the vacuum's new generation would
  // retire the compacted batch — every probe then fails.
  Seq[(String, String => Unit, String => Unit, String => Unit,
      String => Unit, String => Seq[org.apache.spark.sql.Row])](
    ("vector index",
      p => VectorIndex.saveVectorIndex(
        Tables(spark, sf0001).embeddings.filter(col("vec_id") < 100), p),
      p => VectorIndex.appendVectorIndex(Tables(spark, sf0001).embeddings
        .filter(col("vec_id") >= 100 && col("vec_id") < 300), p),
      p => { VectorIndex.retireVectorIndexBatches(spark, p, keepLast = 1); () },
      p => VectorIndex.vacuumVectorIndex(spark, p),
      p => VectorIndex.probeVectorIndex(spark, p,
        Tables(spark, sf0001).embeddings.filter(col("vec_id") < 3))
        .collect().toSeq),
    ("near-dup index",
      p => Dedup.saveNearDupIndex(Tables(spark, sf0001).documents
        .filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 3 === 0), p),
      p => Dedup.appendNearDupIndex(Tables(spark, sf0001).documents
        .filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 3 =!= 0), p),
      p => { Dedup.retireIndexBatches(spark, p, keepLast = 1); () },
      p => Dedup.vacuumIndex(spark, p),
      p => Dedup.probeNearDupIndex(spark, p, Tables(spark, sf0001).documents
        .filter(col("doc_id") % 7 === 3)).collect().toSeq),
  ).foreach { case (family, save, append, retire, vacuum, probe) =>
    test(s"retire racing a vacuum keeps the appended batch probe-visible ($family)") {
      def built(tag: String): String = {
        val p = tmpDir(s"retire_race_$tag").toString
        save(p); append(p); p
      }
      val refAll = built("all")
      val refRetired = built("retired")
      retire(refRetired)
      val wantAll = probe(refAll)
      val wantRetired = probe(refRetired)
      assert(wantAll != wantRetired,
        "precondition: retiring the saved batch must change the probe")
      (1 to 2).foreach { i =>
        val path = built(s"r$i")
        try {
          def leaseLoserOk(op: String => Unit): () => Unit = () =>
            try op(path) catch {
              case e: IllegalArgumentException
                  if e.getMessage.contains("another save") => ()
            }
          inParallel(Seq(leaseLoserOk(retire), leaseLoserOk(vacuum)))
          val got = probe(path)
          assert(got == wantRetired || got == wantAll,
            s"round $i: retire racing vacuum left an illegal end state")
        } finally FileUtils.rmr(path, conf)
      }
      Seq(refAll, refRetired).foreach(FileUtils.rmr(_, conf))
    }
  }

  test("racing savers: at most one wins the lease window; the survivor tree is a valid index") {
    val emb = Tables(spark, sf0001).embeddings.filter(col("vec_id") < 64)
    val path = tmpDir("save_lease_race").toString
    try {
      val failures = new java.util.concurrent.atomic.AtomicInteger
      val pool = Executors.newFixedThreadPool(2)
      val barrier = new CyclicBarrier(2)
      try {
        val fs = Seq.fill(2)(pool.submit(new Runnable {
          def run(): Unit = {
            barrier.await(30, TimeUnit.SECONDS)
            try VectorIndex.saveVectorIndex(emb, path)
            catch {
              case e: IllegalArgumentException
                  if e.getMessage.contains("another save") =>
                failures.incrementAndGet(): Unit
            }
          }
        }))
        fs.foreach(_.get(300, TimeUnit.SECONDS))
      } finally { pool.shutdownNow(); () }
      assert(failures.get() <= 1, "both savers cannot lose")
      // whoever won last left a complete, probe-able index
      assert(VectorIndex.probeVectorIndex(spark, path,
        emb.filter(col("vec_id") < 2)).collect().nonEmpty)
      assert(!FileUtils.exists(s"$path/_SAVING", conf))
    } finally FileUtils.rmr(path, conf)
  }

  test("append racing a vacuum self-heals: nothing lost, nothing duplicated") {
    val emb = Tables(spark, sf0001).embeddings
    val h0 = emb.filter(col("vec_id") < 100)
    val h1 = emb.filter(col("vec_id") >= 100 && col("vec_id") < 300)
    val qs = emb.filter(col("vec_id") < 3)
    // the reference: sequential save + append (vacuum never changes
    // probe results — pinned elsewhere)
    val ref = tmpDir("race_ref").toString
    VectorIndex.saveVectorIndex(h0, ref)
    VectorIndex.appendVectorIndex(h1, ref)
    val want = VectorIndex.probeVectorIndex(spark, ref, qs).collect().toSeq
    (1 to 3).foreach { i =>
      val path = tmpDir(s"race_av_$i").toString
      try {
        VectorIndex.saveVectorIndex(h0, path)
        // real race: the vacuum's generation flip lands somewhere
        // inside the append; whatever the interleaving, the append's
        // lease-gated verification must converge on "h1 is in the
        // live index exactly once"
        inParallel(Seq(
          () => VectorIndex.appendVectorIndex(h1, path),
          () => VectorIndex.vacuumVectorIndex(spark, path)))
        val got = VectorIndex.probeVectorIndex(spark, path, qs).collect().toSeq
        assert(got == want,
          s"round $i: append racing vacuum diverged from sequential")
      } finally FileUtils.rmr(path, conf)
    }
    FileUtils.rmr(ref, conf)
  }

  test("near-dup append racing a vacuum self-heals to the sequential result") {
    val docs = Tables(spark, sf0001).documents
    val h0 = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 3 === 0)
    val h1 = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val ref = tmpDir("race_nd_ref").toString
    Dedup.saveNearDupIndex(h0, ref)
    Dedup.appendNearDupIndex(h1, ref)
    val want = Dedup.probeNearDupIndex(spark, ref, batch).collect().toSeq
    (1 to 2).foreach { i =>
      val path = tmpDir(s"race_nd_$i").toString
      try {
        Dedup.saveNearDupIndex(h0, path)
        inParallel(Seq(
          () => Dedup.appendNearDupIndex(h1, path),
          () => Dedup.vacuumIndex(spark, path)))
        val got = Dedup.probeNearDupIndex(spark, path, batch).collect().toSeq
        assert(got == want,
          s"round $i: near-dup append racing vacuum diverged from sequential")
      } finally FileUtils.rmr(path, conf)
    }
    FileUtils.rmr(ref, conf)
  }

  test("forget racing a vacuum is never dropped: the tombstone survives or its rows are gone") {
    val emb = Tables(spark, sf0001).embeddings
    (1 to 3).foreach { i =>
      val path = tmpDir(s"race_fv_$i").toString
      try {
        VectorIndex.saveVectorIndex(emb, path)
        inParallel(Seq(
          () => VectorIndex.forgetFromVectorIndex(spark, path,
            emb.filter(col("vec_id") === 40).select("vec_id")),
          () => VectorIndex.vacuumVectorIndex(spark, path)))
        // the durable-governance invariant, whatever the interleaving:
        // cid 40 is either physically absent from the live code table
        // or still covered by a committed tombstone
        val base = graft.ingest.Generations.currentBatchesDir(path, conf)
        val live = FileUtils.listSubdirs(base, conf)
          .filter(d => FileUtils.exists(s"$d/_COMMITTED", conf))
        val codes = spark.read.parquet(live.map(_ + "/codes"): _*)
          .filter(col("cid") === 40).count()
        val tombDirs = FileUtils.listSubdirs(s"$path/forgotten", conf)
          .filter(d => FileUtils.exists(s"$d/_COMMITTED", conf))
        val tombstoned = tombDirs.nonEmpty &&
          spark.read.parquet(tombDirs.map(_ + "/ids"): _*)
            .filter(col("cid") === 40).count() > 0
        assert(codes == 0L || tombstoned,
          s"round $i: the forget was dropped (cid 40 resident, no tombstone)")
      } finally FileUtils.rmr(path, conf)
    }
  }

  test("append racing a save: the epoch check rejects stale-model codes (the gen-0 ABA)") {
    val emb = Tables(spark, sf0001).embeddings
    val path = tmpDir("aba_vidx").toString
    try {
      VectorIndex.saveVectorIndex(emb.filter(col("vec_id") < 100), path)
      // a stale appender's view, captured BEFORE the concurrent re-save
      val epoch0 = graft.ingest.Generations.saveEpoch(path, conf)
      val staleModel = VectorIndex.loadModel(spark, path)
      // the concurrent save replaces the quantizers; generation stays 0
      // and the batches dir name is unchanged — the exact state in
      // which "marker survived + generation unchanged" alone cannot
      // detect the replacement
      VectorIndex.saveVectorIndex(
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 200), path)
      assert(graft.ingest.Generations
          .currentBatchesDir(path, conf).endsWith("/batches"),
        "precondition: the re-save must keep the gen-0 dir name — " +
          "otherwise this is not the ABA schedule")
      // land the stale appender's commit AFTER the save — the half the
      // removed sameModel check used to catch
      val bdir = FileUtils.claimSeqDir(
        graft.ingest.Generations.currentBatchesDir(path, conf), "b", conf)
      Similarity.encodeIvfPq(
          emb.filter(col("vec_id") >= 200 && col("vec_id") < 250), staleModel)
        .write.mode("overwrite").parquet(s"$bdir/codes")
      FileUtils.touch(s"$bdir/_COMMITTED", conf)
      // marker survived and the generation is unchanged — the
      // pre-epoch verification would have ACCEPTED these stale-model
      // codes; the monotonic save epoch is what rejects them
      assert(FileUtils.exists(s"$bdir/_COMMITTED", conf))
      assert(graft.ingest.Generations.saveEpoch(path, conf) != epoch0,
        "a save must bump the monotonic epoch so a stale append fails " +
          "its post-commit verification and re-encodes")
    } finally FileUtils.rmr(path, conf)
  }

  test("consumed-arm epoch check: a vacuumed stale-model batch fails loudly, a vacuumed clean one verifies") {
    val emb = Tables(spark, sf0001).embeddings
    val path = tmpDir("aba_consumed").toString
    try {
      VectorIndex.saveVectorIndex(emb.filter(col("vec_id") < 100), path)
      // --- the BENIGN half first: an append consumed by a vacuum
      // under an UNCHANGED epoch verifies through the consumed arm ---
      val epochClean = graft.ingest.Generations.saveEpoch(path, conf)
      val baseClean = graft.ingest.Generations.currentBatchesDir(path, conf)
      VectorIndex.appendVectorIndex(
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 200), path)
      val cleanDir = s"$baseClean/b1"
      assert(FileUtils.exists(s"$cleanDir/_COMMITTED", conf))
      VectorIndex.vacuumVectorIndex(spark, path) // folds b0+b1 into gen 1
      assert(graft.ingest.Generations.verifyAppendCommit(path, epochClean,
          baseClean, cleanDir, "stale-model codes", conf),
        "a consumed batch under an unchanged epoch must verify")
      // --- the ADVICE schedule: appender reads epoch + model, a SAVE
      // replaces the quantizers (epoch bump), the stale-model batch
      // commits into the fresh tree, and a vacuum consumes it into its
      // manifest BEFORE the appender's verification runs ---
      val epoch0 = graft.ingest.Generations.saveEpoch(path, conf)
      val staleModel = VectorIndex.loadModel(spark, path)
      VectorIndex.saveVectorIndex(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 300), path)
      val base = graft.ingest.Generations.currentBatchesDir(path, conf)
      val bdir = FileUtils.claimSeqDir(base, "b", conf)
      Similarity.encodeIvfPq(
          emb.filter(col("vec_id") >= 300 && col("vec_id") < 350), staleModel)
        .write.mode("overwrite").parquet(s"$bdir/codes")
      FileUtils.touch(s"$bdir/_COMMITTED", conf)
      VectorIndex.vacuumVectorIndex(spark, path)
      assert(graft.ingest.Generations.isConsumed(path,
          graft.ingest.Generations.qualifiedName(bdir), conf),
        "precondition: the vacuum must have consumed the stale batch — " +
          "otherwise this is not the laundering schedule")
      // consumption alone must NOT prove validity: the epoch moved, the
      // batch cannot be retracted, so the verification fails LOUDLY
      // instead of accepting or silently retrying
      val e = intercept[IllegalArgumentException](
        graft.ingest.Generations.verifyAppendCommit(path, epoch0, base,
          bdir, "stale-model codes", conf))
      assert(e.getMessage.contains("consumed") &&
        e.getMessage.contains("stale-model codes") &&
        e.getMessage.contains("can no longer be retracted"),
        s"the consumed-epoch mismatch must name the laundering hazard: ${e.getMessage}")
    } finally FileUtils.rmr(path, conf)
  }

  test("near-dup re-save bumps the epoch under an unchanged gen-0 dir name") {
    import spark.implicits._
    val docs = Seq((0L, "the quick brown fox jumps over the lazy dog again"),
      (1L, "pack my box with five dozen liquor jugs for the judge"))
      .toDF("doc_id", "text")
    val path = tmpDir("aba_ndx").toString
    try {
      Dedup.saveNearDupIndex(docs, path, numHashes = 32, bands = 16)
      val epoch0 = graft.ingest.Generations.saveEpoch(path, conf)
      // re-save with a DIFFERENT geometry — bands banded under the old
      // (32,16) would collide essentially at random in the new index
      Dedup.saveNearDupIndex(docs, path, numHashes = 16, bands = 8)
      assert(graft.ingest.Generations
        .currentBatchesDir(path, conf).endsWith("/batches"))
      assert(graft.ingest.Generations.saveEpoch(path, conf) != epoch0,
        "a geometry re-save must bump the epoch — appendNearDupIndex's " +
          "only stale-geometry detector")
      // monotonic AND pruned: after many re-saves the epoch keeps
      // climbing while only the max marker survives, so verification
      // lists one file however long the save history
      Dedup.saveNearDupIndex(docs, path, numHashes = 32, bands = 16)
      assert(graft.ingest.Generations.saveEpoch(path, conf) == 3L)
      assert(FileUtils.listChildFiles(s"$path/epoch", conf).size == 1,
        "sub-max epoch markers must be pruned")
    } finally FileUtils.rmr(path, conf)
  }

  test("vector append racing a save converges to one of the two legal end states") {
    val emb = Tables(spark, sf0001).embeddings
    val h0 = emb.filter(col("vec_id") < 100)
    val h1 = emb.filter(col("vec_id") >= 100 && col("vec_id") < 300)
    val h2 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val qs = emb.filter(col("vec_id") < 3)
    // a save is a FULL REPLACE, so the only legal outcomes are "the
    // save superseded the append" and "the append landed on the new
    // index, encoded under the new quantizers" — a third state (the
    // append's batch present but encoded under the PRE-SAVE model) is
    // exactly the gen-0 ABA corruption the epoch check closes
    val refOnly = tmpDir("ras_ref0").toString
    val refApp = tmpDir("ras_ref1").toString
    VectorIndex.saveVectorIndex(h2, refOnly)
    VectorIndex.saveVectorIndex(h2, refApp)
    VectorIndex.appendVectorIndex(h1, refApp)
    val wantOnly = VectorIndex.probeVectorIndex(spark, refOnly, qs).collect().toSeq
    val wantApp = VectorIndex.probeVectorIndex(spark, refApp, qs).collect().toSeq
    (1 to 3).foreach { i =>
      val path = tmpDir(s"ras_$i").toString
      try {
        VectorIndex.saveVectorIndex(h0, path)
        inParallel(Seq(
          () => VectorIndex.appendVectorIndex(h1, path),
          () => VectorIndex.saveVectorIndex(h2, path)))
        val got = VectorIndex.probeVectorIndex(spark, path, qs).collect().toSeq
        assert(got == wantOnly || got == wantApp,
          s"round $i: append racing save left a third (corrupt) state")
      } finally FileUtils.rmr(path, conf)
    }
    Seq(refOnly, refApp).foreach(FileUtils.rmr(_, conf))
  }

  test("near-dup append racing a geometry re-save converges to a legal end state") {
    val docs = Tables(spark, sf0001).documents
    val h0 = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 3 === 0)
    val h1 = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 3 === 1)
    val h2 = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 3 === 2)
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val refOnly = tmpDir("rans_ref0").toString
    val refApp = tmpDir("rans_ref1").toString
    Dedup.saveNearDupIndex(h2, refOnly, numHashes = 16, bands = 8)
    Dedup.saveNearDupIndex(h2, refApp, numHashes = 16, bands = 8)
    Dedup.appendNearDupIndex(h1, refApp)
    val wantOnly = Dedup.probeNearDupIndex(spark, refOnly, batch).collect().toSeq
    val wantApp = Dedup.probeNearDupIndex(spark, refApp, batch).collect().toSeq
    (1 to 2).foreach { i =>
      val path = tmpDir(s"rans_$i").toString
      try {
        Dedup.saveNearDupIndex(h0, path, numHashes = 32, bands = 16)
        inParallel(Seq(
          () => Dedup.appendNearDupIndex(h1, path),
          () => Dedup.saveNearDupIndex(h2, path, numHashes = 16, bands = 8)))
        val got = Dedup.probeNearDupIndex(spark, path, batch).collect().toSeq
        assert(got == wantOnly || got == wantApp,
          s"round $i: append racing re-save left stale-geometry bands live")
      } finally FileUtils.rmr(path, conf)
    }
    Seq(refOnly, refApp).foreach(FileUtils.rmr(_, conf))
  }

  test("three-way maintenance race (append, save, vacuum) ends in a legal state") {
    val emb = Tables(spark, sf0001).embeddings
    val h0 = emb.filter(col("vec_id") < 100)
    val h1 = emb.filter(col("vec_id") >= 100 && col("vec_id") < 300)
    val h2 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val qs = emb.filter(col("vec_id") < 3)
    // probe results are vacuum-invariant (pinned elsewhere), so the
    // legal outcomes are exactly the append-vs-save pair's: the save
    // superseded the append, or the append landed on the new index —
    // whatever the vacuum interleaved with. A third probe result
    // means a torn tree or stale-model codes.
    val refOnly = tmpDir("chaos_ref0").toString
    val refApp = tmpDir("chaos_ref1").toString
    val refOld = tmpDir("chaos_ref2").toString
    VectorIndex.saveVectorIndex(h2, refOnly)
    VectorIndex.saveVectorIndex(h2, refApp)
    VectorIndex.appendVectorIndex(h1, refApp)
    VectorIndex.saveVectorIndex(h0, refOld)
    VectorIndex.appendVectorIndex(h1, refOld)
    val wantOnly = VectorIndex.probeVectorIndex(spark, refOnly, qs).collect().toSeq
    val wantApp = VectorIndex.probeVectorIndex(spark, refApp, qs).collect().toSeq
    val wantOld = VectorIndex.probeVectorIndex(spark, refOld, qs).collect().toSeq
    (1 to 3).foreach { i =>
      val path = tmpDir(s"chaos_$i").toString
      try {
        VectorIndex.saveVectorIndex(h0, path)
        // save and vacuum contend for the same exclusive lease — either
        // may lose LOUDLY (the contract); the append always lands. So
        // the legal end states are exactly: save won → {h2-only,
        // h2+append}; save lost its lease to the vacuum → {h0+append}.
        val saveWon = new java.util.concurrent.atomic.AtomicBoolean(true)
        inParallel(Seq(
          () => VectorIndex.appendVectorIndex(h1, path),
          () => try VectorIndex.saveVectorIndex(h2, path) catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("another save") =>
              saveWon.set(false)
          },
          () => try VectorIndex.vacuumVectorIndex(spark, path) catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("another save") => ()
          }))
        val got = VectorIndex.probeVectorIndex(spark, path, qs).collect().toSeq
        if (saveWon.get)
          assert(got == wantOnly || got == wantApp,
            s"round $i: three-way race left an illegal end state")
        else
          assert(got == wantOld,
            s"round $i: lease-lost save must leave the original index + append")
      } finally FileUtils.rmr(path, conf)
    }
    Seq(refOnly, refApp, refOld).foreach(FileUtils.rmr(_, conf))
  }

  test("warehouse erase racing a retired-partition vacuum matches the sequential result") {
    import spark.implicits._
    // 8 saved partitions; p0/p1 retired; the erase set holds a key
    // living ONLY in a retired partition (9 → p1: nothing stored to
    // rebuild) and one in a live partition (18 → p2: one rebuild).
    // The vacuum deletes p0/p1 bytes while the erase rebuilds p2 —
    // manifest-gated readers keep the two writers on disjoint dirs,
    // whatever the interleaving.
    def build(path: String): org.apache.spark.sql.DataFrame = {
      val fact = spark.range(0, 64).select(col("id").as("k"),
        pmod(col("id"), lit(8)).as("part"))
      SketchWarehouse.saveHllWarehouse(fact, path, "k", "part")
      assert(SketchWarehouse.retireWarehousePartitions(spark, path,
        cutoff = 2L).sorted == Seq(0L, 1L))
      fact
    }
    val ref = tmpDir("wh_race_ref").toString
    val factR = build(ref)
    SketchWarehouse.eraseFromWarehouse(factR, ref, Seq(9L, 18L).toDF("k"))
    SketchWarehouse.vacuumRetired(spark, ref)
    val want = SketchWarehouse.estimateHllWarehouse(spark, ref)
      .collect().toSeq
    (1 to 3).foreach { i =>
      val path = tmpDir(s"wh_race_$i").toString
      try {
        val fact = build(path)
        inParallel(Seq(
          () => SketchWarehouse.eraseFromWarehouse(fact, path,
            Seq(9L, 18L).toDF("k")),
          () => SketchWarehouse.vacuumRetired(spark, path)))
        val got = SketchWarehouse.estimateHllWarehouse(spark, path)
          .collect().toSeq
        assert(got == want,
          s"round $i: erase racing vacuum diverged from sequential")
        // the retired bytes are gone and the erase never resurrected a
        // retired partition's state dir
        assert(!FileUtils.exists(s"$path/parts/p0", conf),
          s"round $i: vacuumed p0 must stay gone")
        assert(!FileUtils.exists(s"$path/parts/p1", conf),
          s"round $i: the erase must not rebuild the retired p1")
      } finally FileUtils.rmr(path, conf)
    }
    FileUtils.rmr(ref, conf)
  }

  test("awaitNoLease: configurable bound, and the timeout message separates live from crashed") {
    val root = tmpDir("lease_timeout").toString
    FileUtils.mkdirs(root, conf)
    FileUtils.touch(s"$root/_SAVING", conf)
    try {
      // a FRESH lease at timeout → the writer is likely still running;
      // the message must steer toward raising the bound, not deleting
      // a live writer's lease
      val live = intercept[IllegalStateException](
        graft.ingest.Generations.awaitNoLease(root, conf, timeoutMs = 300L))
      assert(live.getMessage.contains("STILL RUNNING") &&
        live.getMessage.contains(graft.ingest.Generations.LeaseTimeoutKey),
        s"fresh-lease timeout must name the raise-the-bound remedy: ${live.getMessage}")
      // a lease many MULTIPLES of the caller's (small) bound old but
      // under the ABSOLUTE crashed-age threshold → still the live
      // hint: a long-running production vacuum exceeds any small
      // configured bound many times over, and handing its operator a
      // delete remedy would re-open the save/append race
      val p = new org.apache.hadoop.fs.Path(s"$root/_SAVING")
      p.getFileSystem(conf).setTimes(p,
        System.currentTimeMillis() - 60L * 1000L, -1L)
      val longLive = intercept[IllegalStateException](
        graft.ingest.Generations.awaitNoLease(root, conf, timeoutMs = 200L))
      assert(longLive.getMessage.contains("STILL RUNNING"),
        "a lease older than many timeout multiples but under the " +
          s"absolute threshold must keep the live hint: ${longLive.getMessage}")
      // an OLD lease (mtime pushed past the absolute threshold) → the
      // writer likely crashed; the message must name the verify-first,
      // delete-as-last-resort remedy
      p.getFileSystem(conf).setTimes(p,
        System.currentTimeMillis() - 3600L * 1000L, -1L)
      val crashed = intercept[IllegalStateException](
        graft.ingest.Generations.awaitNoLease(root, conf, timeoutMs = 200L))
      assert(crashed.getMessage.contains("CRASHED") &&
        crashed.getMessage.contains("delete the lease") &&
        crashed.getMessage.contains("last resort") &&
        crashed.getMessage.contains("verify no save/vacuum process is live"),
        s"stale-lease timeout must name the guarded delete remedy: ${crashed.getMessage}")
      // the absolute threshold is itself a conf dial: lower it under
      // the 60s age and the same lease flips to the crashed hint
      val lowThresh = new org.apache.hadoop.conf.Configuration(conf)
      lowThresh.setLong(graft.ingest.Generations.LeaseCrashedAgeKey, 1000L)
      p.getFileSystem(conf).setTimes(p,
        System.currentTimeMillis() - 60L * 1000L, -1L)
      val tunedCrash = intercept[IllegalStateException](
        graft.ingest.Generations.awaitNoLease(root, lowThresh, timeoutMs = 200L))
      assert(tunedCrash.getMessage.contains("CRASHED"),
        s"conf-lowered threshold must flip the hint: ${tunedCrash.getMessage}")
      // the fleet-wide conf dial is honored when no per-call bound is given
      val tuned = new org.apache.hadoop.conf.Configuration(conf)
      tuned.setLong(graft.ingest.Generations.LeaseTimeoutKey, 250L)
      val t0 = System.currentTimeMillis()
      intercept[IllegalStateException](
        graft.ingest.Generations.awaitNoLease(root, tuned))
      val waited = System.currentTimeMillis() - t0
      assert(waited >= 250L && waited < 30000L,
        s"conf-keyed bound must drive the wait, waited ${waited}ms")
      // and a released lease ends the wait without error
      FileUtils.delete(s"$root/_SAVING", recursive = false, conf)
      graft.ingest.Generations.awaitNoLease(root, conf, timeoutMs = 300L)
    } finally FileUtils.rmr(root, conf)
  }

  test("consumed manifests: qualified names round-trip and survive the sweep") {
    val root = tmpDir("consumed").toString
    FileUtils.mkdirs(root, conf)
    graft.ingest.Generations.recordConsumed(root, 1L,
      Seq(s"$root/batches/b0", s"$root/batches/b2"), conf)
    assert(graft.ingest.Generations.isConsumed(root, "batches/b0", conf))
    assert(graft.ingest.Generations.isConsumed(root, "batches/b2", conf))
    assert(!graft.ingest.Generations.isConsumed(root, "batches/b1", conf))
    // a LATER generation reusing the bare id never aliases the earlier
    // one — names are generation-qualified
    assert(!graft.ingest.Generations.isConsumed(root, "batches_g1/b0", conf))
  }

  test("two concurrent forget calls land distinct tombstone batches; both apply") {
    val emb = Tables(spark, sf0001).embeddings
    val path = tmpDir("vidx_forget").toString
    try {
      VectorIndex.saveVectorIndex(emb, path)
      inParallel(Seq(
        () => VectorIndex.forgetFromVectorIndex(spark, path,
          emb.filter(col("vec_id") === 40).select("vec_id")),
        () => VectorIndex.forgetFromVectorIndex(spark, path,
          emb.filter(col("vec_id") === 41).select("vec_id"))))
      val fdirs = FileUtils.listSubdirs(s"$path/forgotten", conf)
      assert(fdirs.size == 2, s"expected 2 tombstone dirs, got $fdirs")
      val probed = VectorIndex.probeVectorIndex(spark, path,
          emb.filter(col("vec_id") < 3), k = Int.MaxValue)
        .select("cid").distinct().collect().map(_.getLong(0)).toSet
      assert(!probed.contains(40L) && !probed.contains(41L),
        "a concurrently-written tombstone was lost")
    } finally FileUtils.rmr(path, conf)
  }
}
