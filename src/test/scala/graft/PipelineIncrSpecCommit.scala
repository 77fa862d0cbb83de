package graft

import java.nio.file.Files
import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The append-mode curation pipeline must CONVERGE: after any sequence of
  * epochs delivering the corpus in chunks — including chunk overlap
  * (at-least-once re-delivery) and a mid-run restart — the corpus,
  * manifest, report, and meta artifacts must equal a one-shot
  * `Pipeline.curate` over the union, and `validateCorpus` must pass.
  *
  * The hard part this pins is RETROACTIVE verdict flips: funnel gates 3–4
  * are corpus-global, so a later chunk can displace a bag-dedup keeper
  * (smaller doc_id arriving later) or push an accepted doc over the
  * span-dup threshold. Chunks are delivered in DESCENDING id ranges so
  * keeper displacement genuinely occurs, and the spec asserts it did
  * (`removed > 0` in some epoch) — convergence is then evidence the
  * changed-shard rewrite handles flips, not just appends.
  */
/** Epoch convergence, crash repair, and cost-scaling pins (split from the original PipelineIncrSpec — see PipelineIncrBase). */
class PipelineIncrSpecCommit extends PipelineIncrBase {
  test("descending-chunk epochs with overlap converge to the one-shot artifacts (retro flips exercised)") {
    val out = Files.createTempDirectory("graft-incr").toString
    // descending ranges: later epochs deliver SMALLER ids, so bag keepers
    // elected in earlier epochs get displaced; overlaps re-deliver docs
    val r1 = Pipeline.curateEpoch(chunk(300, Long.MaxValue), out, Shards, 0L)
    val r2 = Pipeline.curateEpoch(chunk(100, 320), out, Shards, 1L)
    val r3 = Pipeline.curateEpoch(chunk(0, 120), out, Shards, 2L)
    assert(r1.docsKept > 0)
    assert(r3.docsSeen === Fixtures.documents(spark, dir).count())
    assert(r2.removed + r3.removed > 0,
      "fixture + descending delivery must exercise a retroactive flip; " +
        s"got removed=(${r2.removed}, ${r3.removed})")
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
    // superseded commit artifacts are pruned once the newer marker lands,
    // and verdict/fp bucket epochs survive exactly as long as the CURRENT
    // pointer maps reference them — state stays O(docs), not O(docs × epochs)
    assert(epochDirsOf(s"$out/state/commit") === Set(2L),
      "only the newest committed epoch's commit artifact may remain")
    assert(layerDirsOf(s"$out/state/vbkt") === ptrOf(out, 2L, "v").values.flatten.toSet,
      "every retained verdict layer (epoch or fold) must still be referenced")
    assert(layerDirsOf(s"$out/state/fpcnt") === ptrOf(out, 2L, "fp").values.flatten.toSet,
      "every retained fp layer (epoch or fold) must still be referenced")
  }

  test("a crash-stranded fileless manifest (only _temporary inside) is repaired, not fatal") {
    val out = Files.createTempDirectory("graft-incr-crash").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), out, Shards, 0L)
    // simulate a crash mid-overwrite: data files deleted, a stranded task
    // attempt left under _temporary (its part file must NOT count as data)
    val mdir = java.nio.file.Paths.get(s"$out/manifest")
    Files.walk(mdir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p != mdir).sortBy(-_.getNameCount).foreach(Files.delete)
    val stranded = mdir.resolve("_temporary/0")
    Files.createDirectories(stranded)
    Files.write(stranded.resolve("part-00000-attempt.parquet"), Array[Byte](1, 2, 3))
    // the replayed/next epoch must repair via full manifest recompute
    Pipeline.curateEpoch(chunk(0, 210), out, Shards, 1L)
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-crash-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("streaming epochs with a mid-run restart converge and self-validate") {
    val replayDir = Files.createTempDirectory("graft-incr-replay").toString
    val out = Files.createTempDirectory("graft-incr-sout").toString
    val ckpt = Files.createTempDirectory("graft-incr-ckpt").toString
    def writeChunk(lo: Long, hi: Long): Unit =
      chunk(lo, hi).coalesce(1).write.mode("append").parquet(replayDir)
    var inputRows = 0L
    def run(): Unit = {
      val schema = spark.read.parquet(replayDir).schema
      val q = Pipeline.startIncremental(
        Sources.fileStream(spark, replayDir, schema, maxFilesPerTrigger = 1),
        out, ckpt, Shards)
      q.processAllAvailable()
      inputRows += q.recentProgress.map(_.numInputRows).sum
      q.stop()
    }
    writeChunk(250, Long.MaxValue)
    writeChunk(120, 260) // overlaps [250,260)
    run() // two epochs, then "crash"
    writeChunk(0, 130) // overlaps [120,130), smaller ids: retro flips
    run() // restart from the checkpoint
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-sref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
    // an epoch scans its micro-batch once: the stream's input counts
    // equal the documents delivered, not a multiple of them
    assert(inputRows === spark.read.parquet(replayDir).count())
  }

  test("a crash during the corpus overwrite replays from staging without data loss") {
    // the ONE destructive window: dynamic overwrite deletes a changed
    // shard's old bytes at job commit before (or without) landing the new
    // ones. The epoch's staging (committed BEFORE the overwrite starts,
    // keyed by the delta base) must make the replay whole without
    // re-reading the destroyed shard.
    val out = Files.createTempDirectory("graft-incr-stage").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L)
    Pipeline.failAfterStaging = true
    try intercept[IllegalStateException] {
      Pipeline.curateEpoch(chunk(0, 120), out, Shards, 1L)
    } finally Pipeline.failAfterStaging = false
    // simulate the mid-overwrite crash: one staged shard's old corpus
    // bytes are gone and its new bytes never landed
    val stagingPath = s"$out/state/staging/epoch=1/base=0"
    val stagedShards = spark.read.parquet(stagingPath)
      .select(col("shard")).distinct().collect().map(_.getInt(0)).sorted
    assert(stagedShards.nonEmpty, "the fixture epoch must stage changed shards")
    val victim = java.nio.file.Paths.get(s"$out/corpus/shard=${stagedShards.head}")
    if (Files.exists(victim))
      Files.walk(victim).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .sortBy(-_.getNameCount).foreach(Files.delete)
    // replay converges — the staged content, not the corpus, is the source
    Pipeline.curateEpoch(chunk(0, 120), out, Shards, 1L)
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-stage-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("epoch shuffle cost scales with the batch, not the accumulated corpus") {
    // the incremental contract, pinned at the task-metrics level: a SMALL
    // epoch folding into a LARGE accumulated state must shuffle a small
    // fraction of what the large founding epoch shuffled. (The full
    // recompute this replaced shuffled every seen doc's tokens each epoch,
    // so small epochs cost what epoch 0 cost.) Corpus-scale state is only
    // scanned against broadcast deltas and rewritten map-side — those
    // paths write no shuffle records.
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def measured(fn: => Unit): Long = drained(shuffled)(fn)
    val out = Files.createTempDirectory("graft-incr-shuf").toString
    spark.sparkContext.addSparkListener(listener)
    try {
      val big = measured {
        Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L) }
      val small1 = measured {
        Pipeline.curateEpoch(chunk(50, 100), out, Shards, 1L) }
      val small2 = measured {
        Pipeline.curateEpoch(chunk(0, 50), out, Shards, 2L) }
      assert(big > 0L)
      assert(small1 < big / 2,
        s"a small epoch must not re-shuffle the accumulated corpus ($small1 vs founding $big)")
      assert(small2 < big / 2,
        s"shuffle cost must stay batch-bound as state accumulates ($small2 vs founding $big)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the cheap epochs still converge to the one-shot artifacts
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-shuf-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("steady-state job count stays constant as delta layers accumulate") {
    // the round-12 fixed-overhead pin: reading a pointed layer must not
    // cost a driver job (schema inference, listings), so an epoch's job
    // count is a function of its batch SHAPE, not of how many layers the
    // log has accumulated — pre-fix each accumulated layer added ~5 jobs
    // per epoch (schema-inferring footer reads at three probe sites).
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val out = Files.createTempDirectory("graft-incr-jobs").toString
    spark.sparkContext.addSparkListener(listener)
    try {
      // founding measured too: the drain inside keeps its trailing
      // async job events out of tail 1's count
      drained(jobs) {
        Pipeline.curateEpoch(chunk(150, Long.MaxValue), out, Shards, 0L) }
      val tails = (1 to 3).map { i =>
        drained(jobs) { Pipeline.curateEpoch(
          chunk(150 - 50 * i, 200 - 50 * i), out, Shards, i.toLong) }
      }
      // tail 3 reads one more accumulated layer than tail 2 and a rotated
      // rolling-fold slice; equal-shaped batches must cost the same jobs
      // modulo small branch variation (a batch with crossing fps runs one
      // extra probe) — the pre-fix schema-inference reads added ~5 jobs
      // per layer, far above the +3 slack. Tail 1 is excluded from the
      // comparison: rolling folds only engage once a bucket's list
      // reaches 3 layers, so tail 1 legitimately runs fewer (fold) jobs
      // than every later tail — the claim pinned here is that job count
      // does not CREEP with accumulated layers, not that fold-free and
      // folding epochs cost the same.
      assert(tails.last <= tails(1) + 3,
        s"job count must not creep with accumulated layers (${tails.mkString(", ")})")
      // absolute pin on the round-14 trimmed constant (the traced
      // incremental_epochs benchmark's gate-off tail epochs measure
      // epoch.jobs_p50 = 56; fixture epochs run a few more branch
      // jobs — crossing probes, folds): regressions that re-add per-epoch
      // jobs (read-backs, extra materializations, schema inference) trip
      // this before they reach the bench
      assert(tails.max <= 62,
        s"steady-epoch job count crept past the round-14 constant " +
          s"(${tails.mkString(", ")})")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("curateEpoch restores the session's AQE setting, including concurrent epochs") {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    try {
      for (v <- Seq("true", "false")) {
        spark.conf.set(key, v)
        val out = Files.createTempDirectory("graft-incr-aqe").toString
        Pipeline.curateEpoch(chunk(200, 260), out, Shards, 0L)
        assert(spark.conf.get(key) === v,
          s"a single epoch must restore $key=$v")
      }
      // two epochs FORCED to overlap (both await the barrier inside the
      // AQE scope before either exits): the naive save/restore pair
      // would interleave as save(true), save(false), restore(true),
      // restore(false) and leave the session stuck at false — without
      // the barrier the epochs could serialize and hide the regression
      spark.conf.set(key, "true")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      Pipeline.testEpochBarrier =
        Some(new java.util.concurrent.CyclicBarrier(2))
      try {
        val fs = (1 to 2).map { i =>
          Future {
            val out = Files.createTempDirectory(s"graft-incr-aqe-c$i").toString
            Pipeline.curateEpoch(chunk(200, 260), out, Shards, 0L)
          }
        }
        fs.foreach(Await.result(_, 5.minutes))
      } finally Pipeline.testEpochBarrier = None
      assert(spark.conf.get(key) === "true",
        "concurrent epochs must leave the session's AQE value restored")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("fp-count state is bucket-incremental: a small epoch rewrites only its touched buckets") {
    val out = Files.createTempDirectory("graft-incr-bkt").toString
    // the tail doc: the SHORTEST doc that still has windows (>= 20 tokens)
    // — its handful of fps can only touch a handful of buckets; a fixture
    // batch of any size saturates all of them (64 buckets is the
    // test-scale dial; a 100 TB deployment runs thousands)
    val all = Fixtures.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    val tailDoc = all.filter(col("n") >= 20).orderBy(col("n"), col("doc_id"))
      .head().getLong(0)
    def docsExcept(id: Long) =
      Fixtures.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .filter(col("doc_id") =!= id)
    def docOnly(id: Long) =
      Fixtures.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .filter(col("doc_id") === id)
    Pipeline.curateEpoch(docsExcept(tailDoc), out, Shards, 0L)
    // distinct bucket VALUES read from the layer, not bucket= dir counts:
    // a tail delta layer is FLAT (zero dirs — a dir count would make the
    // 'fewer buckets' assertion vacuous), while a founding layer is
    // partitioned; the value count measures both layouts
    val bucketsOf = (e: Long) =>
      spark.read.parquet(s"$out/state/fpcnt/epoch=$e")
        .select(col("bucket")).distinct().count()
    val founding = bucketsOf(0L)
    assert(founding > 1, "the founding epoch must populate multiple buckets")
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$out/state/fpcnt/epoch=0"))
      .toArray.map(_.toString).count(_.contains("bucket=")) > 1,
      "the founding full-copy layer must be bucket=-partitioned for pruned reads")
    Pipeline.curateEpoch(docOnly(tailDoc), out, Shards, 1L)
    val small = bucketsOf(1L)
    assert(small < founding,
      s"a small epoch must rewrite only touched buckets ($small vs founding $founding)")
    // untouched buckets still point at (and retain) the founding epoch
    val pointed = ptrOf(out, 1L, "fp").values.flatten.toSet
    assert(pointed === Set(0L, 1L),
      s"pointer map must split across both epochs, got $pointed")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/state/fpcnt/epoch=0")),
      "a still-referenced epoch must survive the prune")
  }

  test("verdict state is bucket-incremental: a small epoch's write volume is batch-bound") {
    // the round-12 pin: the doc-scale verdict state must not be rewritten
    // corpus-wide every epoch — an epoch writes only the buckets holding
    // its batch's docs plus the docs its deltas flip, so both the bucket
    // count and the ROW count of the written state are small fractions of
    // the founding epoch's
    val out = Files.createTempDirectory("graft-incr-vbkt").toString
    val all = Fixtures.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    val tailDoc = all.filter(col("n") >= 20).orderBy(col("n"), col("doc_id"))
      .head().getLong(0)
    def docsExcept(id: Long) =
      Fixtures.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .filter(col("doc_id") =!= id)
    def docOnly(id: Long) =
      Fixtures.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .filter(col("doc_id") === id)
    Pipeline.curateEpoch(docsExcept(tailDoc), out, Shards, 0L)
    // distinct bucket VALUES, not bucket= dir counts — the tail delta
    // layer is flat, so a dir count would be vacuously zero (see the
    // fpcnt twin test)
    def bucketsOf(e: Long): Long =
      spark.read.parquet(s"$out/state/vbkt/epoch=$e")
        .select(col("bucket")).distinct().count()
    val foundingBuckets = bucketsOf(0L)
    val foundingRows = spark.read.parquet(s"$out/state/vbkt/epoch=0").count()
    assert(foundingBuckets > 1, "the founding epoch must populate multiple buckets")
    Pipeline.curateEpoch(docOnly(tailDoc), out, Shards, 1L)
    assert(bucketsOf(1L) < foundingBuckets,
      s"a small epoch must rewrite only touched buckets (${bucketsOf(1L)} vs $foundingBuckets)")
    val smallRows = spark.read.parquet(s"$out/state/vbkt/epoch=1").count()
    assert(smallRows < foundingRows / 2,
      s"a small epoch's verdict WRITE volume must be batch-bound, not " +
        s"corpus-bound ($smallRows rows vs founding $foundingRows)")
    // untouched buckets still point at (and retain) the founding epoch
    assert(ptrOf(out, 1L, "v").values.flatten.toSet === Set(0L, 1L))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/state/vbkt/epoch=0")),
      "a still-referenced verdict epoch must survive the prune")
    // and the folded state still converges
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-vbkt-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("rolling folds bound per-bucket fan-out with no compaction cliff") {
    val out = Files.createTempDirectory("graft-incr-compact").toString
    // founding epoch, then 10 thin descending slices — enough that any
    // bucket's layer list would exceed FpCompactAt without folding
    val cuts = (0 to 10).map(i => i * 15L)
    Pipeline.curateEpoch(chunk(cuts.last, Long.MaxValue), out, Shards, 0L)
    (0 until 10).foreach { i =>
      Pipeline.curateEpoch(chunk(cuts(9 - i), cuts(10 - i)), out, Shards, (i + 1).toLong)
    }
    for (kind <- Seq("fp", "v", "k")) {
      val ptr = ptrOf(out, 10L, kind)
      val worst = ptr.values.map(_.size).maxOption.getOrElse(0)
      assert(worst <= Pipeline.FpCompactAt,
        s"rolling folds must bound every $kind bucket's layer fan-out, " +
          s"got a list of $worst")
      assert(ptr.values.exists(_.exists(_ < 0L)),
        s"after 10 epochs the $kind state must have rolled folds " +
          "(otherwise the bound above is vacuous)")
    }
    // retention: exactly the referenced layers remain on disk — folds
    // age out once every bucket pointing at them rolls again
    for (fam <- Seq("fpcnt" -> "fp", "vbkt" -> "v", "kbkt" -> "k")) {
      assert(layerDirsOf(s"$out/state/${fam._1}") ===
        ptrOf(out, 10L, fam._2).values.flatten.toSet,
        s"every retained ${fam._1} layer must still be referenced")
    }
    // and the folded state is still CORRECT: convergence to one-shot
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-compact-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("an outDir written by an outdated state layout is refused before any write") {
    val bench = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id")).limit(2).localCheckpoint()
    def copyTree(from: String): String = {
      val to = Files.createTempDirectory("graft-incr-outdated").toString
      val src = java.nio.file.Paths.get(from)
      Files.walk(src).forEach { p =>
        val dst = java.nio.file.Paths.get(to, src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst)
      }
      to
    }
    // pre-delta layout: a meta with only num_shards and committed verdicts
    val preDelta = Files.createTempDirectory("graft-incr-predelta").toString
    spark.range(1).select(lit(Shards).as("num_shards"))
      .write.parquet(s"$preDelta/meta")
    chunk(150, Long.MaxValue).select(col("doc_id"), col("lang"),
        col("source"), lit(1L).as("n_tok"), lit(true).as("kept"))
      .write.parquet(s"$preDelta/state/verdicts/epoch=0")
    // current gated founding epoch, then one copy per stripped row kind
    val founded = Files.createTempDirectory("graft-incr-current").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), founded, Shards, 0L,
      Some(bench))
    def withoutKind(kind: String): String = {
      val out = copyTree(founded)
      val commit = s"$out/state/commit/epoch=0"
      spark.read.parquet(commit).filter(col("kind") =!= kind)
        .localCheckpoint().write.mode("overwrite").parquet(commit)
      out
    }
    val outdated = Seq("pre-delta" -> preDelta,
      "no k rows" -> withoutKind("k"), "no wvc rows" -> withoutKind("wvc"))
    def snapshot(out: String): Map[String, String] = {
      val root = java.nio.file.Paths.get(out)
      Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString -> (
          if (Files.isDirectory(p)) "dir"
          else java.security.MessageDigest.getInstance("MD5")
            .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString))
        .toMap
    }
    outdated.foreach { case (name, out) =>
      val before = snapshot(out)
      val eEpoch = intercept[IllegalArgumentException] {
        Pipeline.curateEpoch(chunk(0, 120), out, Shards, 1L, Some(bench))
      }
      assert(eEpoch.getMessage.contains("re-found"), s"$name: ${eEpoch.getMessage}")
      val eRegate = intercept[IllegalArgumentException] {
        Pipeline.regate(spark, out, bench, 1L)
      }
      assert(eRegate.getMessage.contains("re-found"), s"$name: ${eRegate.getMessage}")
      val eAudit = intercept[IllegalArgumentException] {
        Pipeline.validateCorpus(spark, out)
      }
      assert(eAudit.getMessage.contains("re-found"), s"$name: ${eAudit.getMessage}")
      assert(snapshot(out) === before, s"$name: a refused outDir must be left untouched")
    }
  }
}
