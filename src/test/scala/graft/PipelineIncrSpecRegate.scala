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
/** Regate/replay pins: benchmark revision, crashed regates, stream resume (split from the original PipelineIncrSpec — see PipelineIncrBase). */
class PipelineIncrSpecRegate extends PipelineIncrBase {
  test("regate to a revised benchmark converges to the v2-gated one-shot") {
    // eval sets get revised: regate re-flags every seen doc from the
    // persisted decontam-fp log, resurrects v1-only contamination from
    // the quarantine, removes-and-quarantines v2 contamination, and
    // re-pins the meta — after which the run is indistinguishable from
    // one gated by v2 all along
    val docsAll = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"), size(split(col("text"), " ")).as("n"))
    val bench1 = docsAll.filter(col("n") >= 8 && col("doc_id") >= 300)
      .orderBy(col("doc_id")).limit(3).select(col("doc_id"), col("text"))
      .localCheckpoint()
    val out = Files.createTempDirectory("graft-incr-regate").toString
    Pipeline.curateEpoch(chunk(300, Long.MaxValue), out, Shards, 0L, Some(bench1))
    Pipeline.curateEpoch(chunk(100, 320), out, Shards, 1L, Some(bench1))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/state/quar")),
      "the v1 benchmark must quarantine keepable contaminated docs " +
        "(otherwise this test exercises no resurrection)")
    // v2 drawn from the v1-KEPT corpus: certainly removed by the regate
    val bench2 = spark.read.parquet(s"$out/corpus")
      .filter(size(split(col("text"), " ")) >= 8 && col("doc_id") >= 100)
      .orderBy(col("doc_id")).limit(2).select(col("doc_id"), col("text"))
      .localCheckpoint()
    val rr = Pipeline.regate(spark, out, bench2, 2L)
    assert(rr.removed >= 1L,
      "v2 members were kept under v1, so the regate must remove them")
    assert(rr.added >= 1L,
      "v1-quarantined docs are clean under v2, so the regate must resurrect")
    // regate replay (same id, BEFORE any newer epoch — afterwards the
    // pruned marker makes it an out-of-order call, rejected like any old
    // epoch replay) is idempotent: short-circuits to the meta re-pin and
    // returns the persisted result
    val before = (corpusRows(out), rows(s"$out/manifest", "shard"),
      rows(s"$out/report", "lang", "source"))
    val replay = Pipeline.regate(spark, out, bench2, 2L)
    assert(replay === rr)
    assert((corpusRows(out), rows(s"$out/manifest", "shard"),
      rows(s"$out/report", "lang", "source")) === before)
    // the old benchmark is no longer accepted
    val eOld = intercept[IllegalArgumentException] {
      Pipeline.curateEpoch(chunk(0, 50), out, Shards, 3L, Some(bench1))
    }
    assert(eOld.getMessage.contains("benchmark"))
    // post-regate epochs run under v2 and the whole history converges to
    // the v2 one-shot
    Pipeline.curateEpoch(chunk(0, 120), out, Shards, 3L, Some(bench2))
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-regate-ref").toString, Shards,
      Some(bench2))
    assertEqualsOneShot(out, oneShot)
  }

  test("regate preconditions fail loudly: gate-off, out-of-order") {
    val sq = spark
    import sq.implicits._
    val bench = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id")).limit(2).localCheckpoint()
    // gate-off dir
    val plain = Files.createTempDirectory("graft-incr-rg-off").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), plain, Shards, 0L)
    val eOff = intercept[IllegalArgumentException] {
      Pipeline.regate(spark, plain, bench, 1L)
    }
    assert(eOff.getMessage.contains("gate-off"))
    // an id at or below a committed epoch is rejected
    val g = Files.createTempDirectory("graft-incr-rg-ooo").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), g, Shards, 0L, Some(bench))
    Pipeline.curateEpoch(chunk(100, 210), g, Shards, 1L, Some(bench))
    val otherBench = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id").desc).limit(2).localCheckpoint()
    val eOoo = intercept[IllegalArgumentException] {
      Pipeline.regate(spark, g, otherBench, 0L)
    }
    assert(eOoo.getMessage.contains("exceed"))
    // the id of an ORDINARY committed epoch must not short-circuit as a
    // completed-regate replay — that path re-pins the meta and prunes
    // the quarantine without re-flagging anything
    val eOrd = intercept[IllegalArgumentException] {
      Pipeline.regate(spark, g, otherBench, 1L)
    }
    assert(eOrd.getMessage.contains("ordinary"))
  }

  test("a stream resumed after a regate re-bases its epoch ids and converges") {
    val sq = spark
    import sq.implicits._
    val docsAll = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val bench1 = docsAll.select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8 && col("doc_id") >= 250)
      .orderBy(col("doc_id")).limit(2).localCheckpoint()
    val bench2 = docsAll.select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8 && col("doc_id") < 250)
      .orderBy(col("doc_id").desc).limit(2).localCheckpoint()
    val replayDir = Files.createTempDirectory("graft-incr-rgs-in").toString
    val out = Files.createTempDirectory("graft-incr-rgs-out").toString
    val ckpt = Files.createTempDirectory("graft-incr-rgs-ckpt").toString
    def writeChunk(lo: Long, hi: Long): Unit =
      chunk(lo, hi).coalesce(1).write.mode("append").parquet(replayDir)
    def run(bench: org.apache.spark.sql.DataFrame): Unit = {
      val schema = spark.read.parquet(replayDir).schema
      val q = Pipeline.startIncremental(
        Sources.fileStream(spark, replayDir, schema, maxFilesPerTrigger = 1),
        out, ckpt, Shards, Some(bench))
      q.processAllAvailable()
      q.stop()
    }
    writeChunk(250, Long.MaxValue)
    writeChunk(120, 260)
    run(bench1) // two v1 epochs
    // revision between stream runs: the SAME checkpoint continues — its
    // batch counter knows nothing about the regate's epoch id, so the
    // resumed run must re-base past it instead of colliding or tripping
    // the out-of-order guard
    Pipeline.regate(spark, out,
      bench2, committedEpochsMax(out) + 1L)
    writeChunk(0, 130)
    run(bench2)
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-rgs-ref").toString, Shards,
      Some(bench2))
    assertEqualsOneShot(out, oneShot)
  }

  test("a stream batch crashed after the corpus apply replays under the SAME epoch id") {
    // the self-stabilizing offset pin: the crash window between the
    // corpus overwrite and the commit marker leaves the corpus mutated;
    // a restart must replay the batch under its ORIGINAL epoch id so the
    // committed staging is reused — a re-based id would rebuild staging
    // from the already-mutated corpus and duplicate every added doc (or
    // lose a half-overwritten shard)
    val replayDir = Files.createTempDirectory("graft-incr-apl-in").toString
    val out = Files.createTempDirectory("graft-incr-apl-out").toString
    val ckpt = Files.createTempDirectory("graft-incr-apl-ckpt").toString
    def writeChunk(lo: Long, hi: Long): Unit =
      chunk(lo, hi).coalesce(1).write.mode("append").parquet(replayDir)
    def run(): Unit = {
      val schema = spark.read.parquet(replayDir).schema
      val q = Pipeline.startIncremental(
        Sources.fileStream(spark, replayDir, schema, maxFilesPerTrigger = 1),
        out, ckpt, Shards)
      try q.processAllAvailable()
      finally q.stop()
    }
    writeChunk(150, Long.MaxValue)
    run() // epoch committed
    writeChunk(0, 160) // overlapping + displacing: changed shards for sure
    Pipeline.failAfterApply = true
    try intercept[Exception] { run() }
    finally Pipeline.failAfterApply = false
    // restart: the batch replays, must reuse its staging and converge
    // with zero duplicate corpus rows
    run()
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-apl-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("an orphaned window-log chunk is pruned, never folded into a crossing read") {
    val out = Files.createTempDirectory("graft-incr-orph").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L)
    // fabricate a crashed attempt's chunk (complete _SUCCESS write, but
    // referenced by no commit's live-chunk set)
    val src = java.nio.file.Paths.get(s"$out/state/winvc/chunk=0")
    val orphan = java.nio.file.Paths.get(s"$out/state/winvc/chunk=3")
    java.nio.file.Files.walk(src).forEach { p =>
      val dst = orphan.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }
    Pipeline.curateEpoch(chunk(0, 120), out, Shards, 5L)
    assert(!java.nio.file.Files.exists(orphan),
      "an unreferenced chunk must be pruned by the next commit's cleanup")
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-orph-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("an empty founding batch neither derails the run nor claims the founding chunk") {
    val out = Files.createTempDirectory("graft-incr-empty0").toString
    val empty = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .filter(lit(false))
    val r0 = Pipeline.curateEpoch(empty, out, Shards, 0L)
    assert(r0.docsSeen === 0L && r0.docsKept === 0L)
    // the REAL founding mass still gets its bucketed-at-birth write
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 1L)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$out/state/winvc/chunk=1"))
      .toArray.map(_.toString).count(_.contains("bucket=")) > 1,
      "the first batch WITH docs is the effective founding")
    Pipeline.curateEpoch(chunk(0, 120), out, Shards, 2L)
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-empty0-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("an epoch retry (same id) is idempotent across every artifact") {
    val out = Files.createTempDirectory("graft-incr-idem").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), out, Shards, 0L)
    val first = (corpusRows(out), rows(s"$out/manifest", "shard"),
      rows(s"$out/report", "lang", "source"))
    val retry = Pipeline.curateEpoch(chunk(200, Long.MaxValue), out, Shards, 0L)
    val second = (corpusRows(out), rows(s"$out/manifest", "shard"),
      rows(s"$out/report", "lang", "source"))
    assert(first === second, "a retried epoch must rewrite, not drift")
    assert(retry.removed === 0L,
      "retry deltas vs the committed previous epoch (none) see only adds")
    // and a follow-up epoch after the retry still converges
    Pipeline.curateEpoch(chunk(0, 210), out, Shards, 1L)
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-iref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("a completed regate replayed with a DIFFERENT benchmark fails loudly") {
    // the 'rg' marker alone is not enough for the replay short-circuit:
    // it finishes the post-marker steps (meta re-pin + quarantine prune),
    // so short-circuiting under a benchmark the committed regate never
    // flagged state against would silently pin the corpus to it AND
    // destroy the only stored text of resurrectable docs — the recorded
    // benchmark fingerprint must reject the mismatch instead
    val docsAll = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"), size(split(col("text"), " ")).as("n"))
    val bench1 = docsAll.filter(col("n") >= 8 && col("doc_id") >= 100)
      .orderBy(col("doc_id")).limit(2)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val bench2 = docsAll.filter(col("n") >= 8 && col("doc_id") >= 100)
      .orderBy(col("doc_id").desc).limit(2)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val bench3 = docsAll.filter(col("n") >= 8)
      .orderBy(col("doc_id")).limit(1)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val out = Files.createTempDirectory("graft-incr-rgsig").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L, Some(bench1))
    Pipeline.regate(spark, out, bench2, 1L)
    val e = intercept[IllegalArgumentException] {
      Pipeline.regate(spark, out, bench3, 1L)
    }
    assert(e.getMessage.contains("DIFFERENT benchmark"))
    // the meta still pins bench2 — the stream continues under it (a
    // silently re-pinned meta would make this epoch fail the pin check)
    Pipeline.curateEpoch(chunk(0, 110), out, Shards, 2L, Some(bench2))
  }

  test("a crashed regate re-runs only with its original benchmark; a different one is refused") {
    // the quarantine consolidation and staging of an UNCOMMITTED regate
    // are keyed by (epochId, base) alone on disk — and after a
    // post-apply crash the old quarantine may hold the only text of docs
    // the apply already removed, so neither reusing NOR rebuilding under
    // a different benchmark is loss-free. The in-flight fingerprint
    // (`bsig`, recorded before the first durable write) must refuse the
    // mismatch and admit the original.
    val sq = spark
    import sq.implicits._
    val docsAll = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"), size(split(col("text"), " ")).as("n"))
    val bench1 = docsAll.filter(col("n") >= 8 && col("doc_id") >= 200)
      .orderBy(col("doc_id")).limit(2)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val out = Files.createTempDirectory("graft-incr-rgcrash").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), out, Shards, 0L, Some(bench1))
    Pipeline.curateEpoch(chunk(100, 220), out, Shards, 1L, Some(bench1))
    // bench2 ⊂ the v1 corpus ⇒ the regate certainly removes docs
    // (deltas nonempty, so the post-apply failpoint fires)
    val bench2 = spark.read.parquet(s"$out/corpus")
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id")).limit(2)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val bench3 = spark.read.parquet(s"$out/corpus")
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id").desc).limit(2)
      .select(col("doc_id"), col("text")).localCheckpoint()
    Pipeline.failAfterApply = true // the worst window: corpus already mutated
    try intercept[IllegalStateException] {
      Pipeline.regate(spark, out, bench2, 2L)
    } finally Pipeline.failAfterApply = false
    val e = intercept[IllegalArgumentException] {
      Pipeline.regate(spark, out, bench3, 2L)
    }
    assert(e.getMessage.contains("in-flight"))
    // NO epoch may run over the half-applied revision either — a
    // restarted stream re-bases to the regate's own id and would
    // overwrite its consolidated quarantine (the only stored text of
    // docs the apply already removed); the fingerprint guard refuses
    val eEpoch = intercept[IllegalArgumentException] {
      Pipeline.curateEpoch(chunk(0, 110), out, Shards, 2L, Some(bench1))
    }
    assert(eEpoch.getMessage.contains("crashed before committing"))
    // the original benchmark completes the crashed regate and the whole
    // history (with the rest of the fixture delivered under v2)
    // converges to its one-shot
    Pipeline.regate(spark, out, bench2, 2L)
    Pipeline.curateEpoch(chunk(0, 110), out, Shards, 3L, Some(bench2))
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-rgcrash-ref").toString, Shards,
      Some(bench2))
    assertEqualsOneShot(out, oneShot)
    // and a PRE-FINGERPRINT in-flight regate (quar consolidation on disk,
    // no bsig) refuses outright — its benchmark is unverifiable
    val out2 = Files.createTempDirectory("graft-incr-rgold").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), out2, Shards, 0L, Some(bench1))
    Seq((1L, "en", "web", 30L, "stranded quarantined text"))
      .toDF("doc_id", "lang", "source", "n_tok", "text")
      .write.parquet(s"$out2/state/quar/batch=1")
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.regate(spark, out2, bench1, 1L)
    }
    assert(e2.getMessage.contains("fingerprint"))
  }

  test("a foreign committed staging at the epoch's path is rebuilt, never applied") {
    // a committed staging is only reusable when its shard set sits inside
    // the epoch's freshly computed deltas — anything else (a manual
    // restore, corruption, or a pre-fix regate's staging sharing the
    // namespace) must be rebuilt: blindly applying it would overwrite
    // shards with content the epoch never computed and then DELETE the
    // real delta shards it doesn't cover as "emptied"
    val sq = spark
    import sq.implicits._
    val out = Files.createTempDirectory("graft-incr-stval").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L)
    // fabricate: shard=99 cannot be any epoch's delta (shards < 16)
    Seq((999999L, "xx", "web", 2L, "bogus text", 99))
      .toDF("doc_id", "lang", "source", "n_tok", "text", "shard")
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$out/state/staging/epoch=1/base=0")
    Pipeline.curateEpoch(chunk(0, 150), out, Shards, 1L)
    assert(spark.read.parquet(s"$out/corpus")
      .filter(col("doc_id") === 999999L).isEmpty,
      "the foreign staged content must never reach the corpus")
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-stval-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("gate-revision logs fold into chunks: dir counts bounded, regate reads converge") {
    // winc grows one flat dir per gate-on epoch and quar one per
    // contaminating epoch — for a long-lived stream that is the last
    // unbounded artifact family. Past FpCompactAt flats they must fold
    // into immutable chunks (commit-recorded liveness, orphan pruning),
    // and a later regate must read flats + chunks seamlessly: re-flag
    // docs whose winc rows folded, resurrect docs whose quarantined text
    // folded.
    val docsAll = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"), size(split(col("text"), " ")).as("n"))
    // 12 bench members, one per epoch, each ≥ 22 tokens AND kept by the
    // ungated funnel — keepability is monotone-decreasing over epochs, so
    // final-kept ⇒ keepable at its own epoch ⇒ the epoch quarantines it
    // (contaminated-but-otherwise-kept) and writes a quar flat
    val ungated = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-fold-ug").toString, Shards)
    val marks: Array[Long] = spark.read.parquet(ungated.corpusPath)
      .select(col("doc_id"))
      .join(docsAll.filter(col("n") >= 22), Seq("doc_id"))
      .orderBy(col("doc_id")).collect().map(_.getLong(0))
    assert(marks.length >= 12, s"fixture holds only ${marks.length} keepable 22+-token docs")
    val ids: Seq[Long] = (0 until 12).map(i => marks(i * (marks.length / 12)))
    val bench1 = docsAll.filter(col("doc_id").isInCollection(ids))
      .select(col("doc_id"), col("text")).localCheckpoint()
    val out = Files.createTempDirectory("graft-incr-fold-out").toString
    val cuts: Seq[Long] = Long.MinValue +: ids.tail :+ Long.MaxValue
    (0 until 12).foreach { i =>
      Pipeline.curateEpoch(chunk(cuts(i), cuts(i + 1)), out, Shards,
        i.toLong, Some(bench1))
    }
    def dirsOf(path: String, prefix: String): Seq[Long] =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) Nil
      else java.nio.file.Files.list(java.nio.file.Paths.get(path))
        .toArray.map(_.toString.split("/").last).filter(_.startsWith(prefix))
        .map(_.stripPrefix(prefix).toLong).toSeq
    assert(dirsOf(s"$out/state/winc", "batch=").size <= Pipeline.FpCompactAt,
      "winc flats must fold once FpCompactAt of them accumulate")
    assert(dirsOf(s"$out/state/wincc", "chunk=").nonEmpty,
      "12 gate-on epochs must have produced a winc chunk")
    assert(dirsOf(s"$out/state/quar", "batch=").size <= Pipeline.FpCompactAt,
      "quar flats must fold once FpCompactAt of them accumulate")
    assert(dirsOf(s"$out/state/quarc", "chunk=").nonEmpty,
      "12 contaminating epochs must have produced a quar chunk")
    // revision: bench2 ⊂ the v1-gated corpus (disjoint from bench1's
    // members — those are quarantined, not in the corpus), so the regate
    // must remove bench2's members and resurrect every bench1 member —
    // including the ones whose quarantined text lives only in a chunk
    val bench2 = spark.read.parquet(s"$out/corpus")
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id")).limit(2)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val rr = Pipeline.regate(spark, out, bench2, 12L)
    assert(rr.added >= 12L,
      "every chunk- or flat-quarantined bench1 member must resurrect")
    assert(rr.removed >= 1L, "bench2 members were kept under v1")
    // the consolidation retired every earlier flat AND chunk
    assert(dirsOf(s"$out/state/quar", "batch=") === Seq(12L),
      "the regate's consolidated quarantine must be the only quar dir left")
    assert(dirsOf(s"$out/state/quarc", "chunk=").isEmpty,
      "superseded quar chunks must be pruned")
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-fold-ref").toString, Shards,
      Some(bench2))
    assertEqualsOneShot(out, oneShot)
  }

  test("regate's shuffle volume is one corpus pass, not corpus × state families") {
    // regate is the DECLARED O(corpus) operation — but "O(corpus) once":
    // its shuffled rows must sit within a small constant of the gated
    // founding epoch's (which tokenized and window-fp'd the same corpus),
    // never re-shuffling the corpus per state family or per epoch layer.
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def measured(fn: => Unit): Long = drained(shuffled)(fn)
    val docsAll = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"), size(split(col("text"), " ")).as("n"))
    val bench1 = docsAll.filter(col("n") >= 8 && col("doc_id") >= 200)
      .orderBy(col("doc_id")).limit(2)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val out = Files.createTempDirectory("graft-incr-rgshuf").toString
    spark.sparkContext.addSparkListener(listener)
    try {
      val founding = measured {
        Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L,
          Some(bench1)) }
      measured { // a tail epoch so the regate reads layered state
        Pipeline.curateEpoch(chunk(0, 120), out, Shards, 1L, Some(bench1)) }
      val bench2 = spark.read.parquet(s"$out/corpus")
        .filter(size(split(col("text"), " ")) >= 8)
        .orderBy(col("doc_id").desc).limit(2)
        .select(col("doc_id"), col("text")).localCheckpoint()
      val regate = measured {
        Pipeline.regate(spark, out, bench2, 2L) }
      assert(founding > 0L)
      assert(regate <= founding * 3,
        s"regate must shuffle one corpus pass, not corpus × families " +
          s"($regate vs founding $founding)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fpcnt union folds engage, bound rows-per-fp at 2, and still converge") {
    // the fold-residue smoothing: each fpcnt fold merges only half its
    // slice (the sum exchange) and UNION-writes the other half (head
    // rows pass through + one summed delta row). The commit's fpUnion
    // set forces a union bucket's NEXT fold to merge, so no head layer
    // ever holds more than 2 rows per (bucket, fp) — readers sum rows,
    // so correctness is convergence, pinned against the one-shot.
    val out = Files.createTempDirectory("graft-incr-ufold").toString
    val cuts = (0 to 10).map(i => i * 15L)
    Pipeline.curateEpoch(chunk(cuts.last, Long.MaxValue), out, Shards, 0L)
    var sawUnion = false
    (0 until 10).foreach { i =>
      Pipeline.curateEpoch(chunk(cuts(9 - i), cuts(10 - i)), out, Shards,
        (i + 1).toLong)
      sawUnion = sawUnion || spark.read
        .parquet(s"$out/state/commit/epoch=${i + 1}")
        .filter(col("kind") === "fpu").limit(1).count() > 0L
    }
    assert(sawUnion, "10 epochs must have union-written at least one " +
      "fpcnt bucket (otherwise the bound below is vacuous)")
    val folds = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$out/state/fpcnt"))
      .toArray.map(_.toString).filter(_.contains("fold="))
    assert(folds.nonEmpty, "10 epochs must have produced fpcnt folds")
    folds.foreach { f =>
      val worst = spark.read.parquet(f).groupBy(col("bucket"), col("fp"))
        .count().agg(max(col("count"))).head().getLong(0)
      assert(worst <= 2L, s"fold layer $f holds $worst rows for one fp — " +
        "a union bucket's next fold must have merged")
    }
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-ufold-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("an epoch electing no keeper writes no kbkt layer and still converges") {
    // re-delivering every founding text under LARGER ids: each bag
    // already holds a smaller keeper, so the epoch elects nothing and
    // displaces nothing — the kbkt delta is provably empty
    // (driver-known from the delta agg) and the write must be skipped
    val sq = spark
    import sq.implicits._
    val out = Files.createTempDirectory("graft-incr-kskip").toString
    val orig = chunk(100, Long.MaxValue)
    Pipeline.curateEpoch(orig, out, Shards, 0L)
    // a SLICE only: duplicating the whole corpus would span-flip every
    // doc (each window fp doubles) and legitimately empty the corpus —
    // the converged-but-vacuous case; a slice keeps the rest alive
    val shifted = chunk(100, 180).withColumn("doc_id", col("doc_id") + 1000000L)
    Pipeline.curateEpoch(shifted, out, Shards, 1L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/state/kbkt/epoch=1")),
      "a no-keeper-change epoch must not write a kbkt layer")
    // convergence: the duplicate bags lose their elections and the fp
    // crossings from doubled windows flip span verdicts — both runs agree
    val srcDir = Files.createTempDirectory("graft-incr-kskip-src").toString
    orig.unionByName(shifted)
      .write.parquet(s"$srcDir/documents.parquet")
    assert(spark.read.parquet(s"$out/corpus").count() > 0,
      "the slice duplication must leave a live corpus (vacuousness guard)")
    val oneShot = Pipeline.curate(spark, srcDir,
      Files.createTempDirectory("graft-incr-kskip-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }
}
