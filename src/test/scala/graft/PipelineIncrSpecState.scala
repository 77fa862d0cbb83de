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
/** State-layout pins: bucket-incremental families, folds, migrations, heartbeats (split from the original PipelineIncrSpec — see PipelineIncrBase). */
class PipelineIncrSpecState extends PipelineIncrBase {
  test("an epoch with a different shard count than the founding run fails loudly") {
    val out = Files.createTempDirectory("graft-incr-shards").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), out, Shards, 0L)
    val e = intercept[IllegalArgumentException] {
      Pipeline.curateEpoch(chunk(0, 210), out, Shards * 2, 1L)
    }
    assert(e.getMessage.contains("numShards"))
  }

  test("a wiped-and-recreated outDir re-founds cleanly under a different shard count") {
    // the JVM-lifetime numShards cache must yield to the DISK: after the
    // outDir is deleted, a legitimate re-founding with a new count must
    // succeed instead of failing against the stale cached entry
    val out = Files.createTempDirectory("graft-incr-refound").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), out, Shards, 0L)
    val root = java.nio.file.Paths.get(out)
    Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_ != root).sortBy(-_.getNameCount).foreach(Files.delete)
    val r = Pipeline.curateEpoch(chunk(200, Long.MaxValue), out, Shards * 2, 0L)
    assert(r.docsKept > 0)
    assert(spark.read.parquet(s"$out/meta").head().getAs[Int]("num_shards")
      === Shards * 2, "the re-founded meta must carry the NEW shard count")
  }

  test("an out-of-order winv state dir (batch > epoch) is ignored, not folded in") {
    import graft.operators.Curation
    val out = Files.createTempDirectory("graft-incr-ooo").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L)
    // fabricate a FUTURE batch dir pairing state docs with every fp the
    // next epoch delivers: if the crossed-fp probe folded it in, any fp
    // that crosses the dup threshold in epoch 1 would inflate n_dup
    // across these docs and convergence would fail. (cross join is the
    // test fixture's intent: a worst-case poisoned dir)
    val nextToks = chunk(0, 120).select(col("doc_id"),
      graft.functions.TextFunctions.wsTokens(col("text")).as("toks"))
    val futureFps = Curation.winFpsOver(
      nextToks.select(col("doc_id"), col("toks")), Curation.SubWidth)
      .select(col("fp")).distinct()
    // the founding mass lives fp-bucketed under winvc; the poisoned dir
    // is fabricated in the flat tail namespace where an out-of-order
    // restore would land
    spark.read.parquet(s"$out/state/winvc").select(col("doc_id")).distinct()
      .limit(50).crossJoin(futureFps)
      .write.parquet(s"$out/state/winv/batch=99")
    Pipeline.curateEpoch(chunk(0, 120), out, Shards, 1L)
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-ooo-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("a no-new-docs epoch is a heartbeat: pointers carried, no state rewrite, no report job") {
    // the steady-state contract: a batch of pure re-deliveries cannot move
    // any verdict, so the epoch writes ONLY its commit marker — no verdict
    // or fp bucket for the epoch, pointer maps carried verbatim, and the
    // report/manifest bytes untouched (the round-12 "no full-verdict
    // aggregation in a no-change epoch" pin, checked at the file level)
    val out = Files.createTempDirectory("graft-incr-heartbeat").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L)
    val p0v = ptrOf(out, 0L, "v")
    val p0f = ptrOf(out, 0L, "fp")
    def artifactStamp(sub: String): Seq[(String, Long)] =
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$out/$sub"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => (p.getFileName.toString,
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toSeq.sortBy(_._1)
    val report0 = artifactStamp("report")
    val manifest0 = artifactStamp("manifest")
    val r = Pipeline.curateEpoch(chunk(150, 400), out, Shards, 1L) // all seen
    assert(r.added === 0L && r.removed === 0L && r.changedShards.isEmpty)
    assert(r.docsSeen > 0L && r.docsKept > 0L,
      "the heartbeat result must still report the cumulative totals")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/state/vbkt/epoch=1")),
      "a heartbeat epoch must not rewrite any verdict bucket")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/state/fpcnt/epoch=1")),
      "a heartbeat epoch must not rewrite any fp bucket")
    assert(ptrOf(out, 1L, "v") === p0v, "verdict pointers carried verbatim")
    assert(ptrOf(out, 1L, "fp") === p0f, "fp pointers carried verbatim")
    assert(artifactStamp("report") === report0,
      "a heartbeat epoch must not rewrite the report")
    assert(artifactStamp("manifest") === manifest0,
      "a heartbeat epoch must not rewrite the manifest")
    // and a real epoch after the heartbeat still converges
    Pipeline.curateEpoch(chunk(0, 110), out, Shards, 2L)
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-hb-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("an oversized fp tally falls back to shuffle joins and still converges") {
    // the broadcast gate (FpBroadcastMaxRows): a founding/backfill epoch
    // whose distinct-window-fp tally exceeds the cap must not force GBs
    // through broadcast — forced to 0, every fp-keyed probe takes the
    // shuffle-join path, and the fold must stay byte-identical
    val old = Pipeline.FpBroadcastMaxRows
    Pipeline.FpBroadcastMaxRows = 0L
    try {
      val out = Files.createTempDirectory("graft-incr-nobcast").toString
      Pipeline.curateEpoch(chunk(150, Long.MaxValue), out, Shards, 0L)
      Pipeline.curateEpoch(chunk(0, 160), out, Shards, 1L)
      val oneShot = Pipeline.curate(spark, dir,
        Files.createTempDirectory("graft-incr-nobcast-ref").toString, Shards)
      assertEqualsOneShot(out, oneShot)
    } finally Pipeline.FpBroadcastMaxRows = old
  }

  test("decontamination-gated epochs converge to the gated one-shot; benchmark drift fails loudly") {
    // opt-in q104 gate: docs sharing a window with the benchmark are
    // dropped, the report carries docs_contaminated, and the flag folds
    // through epochs exactly like the other gates (fixed at first sight)
    val bench = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id")).limit(3).localCheckpoint()
    val out = Files.createTempDirectory("graft-incr-decontam").toString
    Pipeline.curateEpoch(chunk(300, Long.MaxValue), out, Shards, 0L, Some(bench))
    Pipeline.curateEpoch(chunk(100, 320), out, Shards, 1L, Some(bench))
    Pipeline.curateEpoch(chunk(0, 120), out, Shards, 2L, Some(bench))
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-decontam-ref").toString, Shards,
      Some(bench))
    assertEqualsOneShot(out, oneShot)
    val report = spark.read.parquet(s"$out/report")
    assert(report.columns.contains("docs_contaminated"),
      "a gated run's report must carry the contamination column")
    assert(report.agg(sum(col("docs_contaminated"))).head().getLong(0) > 0L,
      "the benchmark is drawn from the corpus, so contamination must fire")
    // the benchmark is pinned for the life of the outDir: toggling the
    // gate off, or swapping the benchmark, must fail loudly
    val eOff = intercept[IllegalArgumentException] {
      Pipeline.curateEpoch(chunk(0, 50), out, Shards, 3L, None)
    }
    assert(eOff.getMessage.contains("benchmark"))
    val otherBench = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id").desc).limit(2).localCheckpoint()
    val eSwap = intercept[IllegalArgumentException] {
      Pipeline.curateEpoch(chunk(0, 50), out, Shards, 3L, Some(otherBench))
    }
    assert(eSwap.getMessage.contains("benchmark"))
  }

  test("state written under a different bucket constant re-buckets BEFORE any probe trusts it") {
    // the upgrade path: a deployment changes VBuckets/FpBuckets, restarts,
    // and continues an outDir whose state is bucketed under the OLD
    // constant. The epoch's bucket-pruned probes must not prune
    // old-constant partitions with new-constant bucket sets — a missed
    // re-delivery would duplicate corpus rows and a missed fp prior would
    // double-count in the compaction fold — so pruning is disabled on
    // mismatch and the epoch compacts into the new scheme.
    val out0 = Files.createTempDirectory("graft-incr-nb-old").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out0, Shards, 0L)
    // fabricate the old-constant layout: re-bucket both state families
    // under 32 buckets and rewrite the commit artifact's pointer rows
    val OldNB = 32
    val vRe = spark.read.parquet(s"$out0/state/vbkt/epoch=0").drop("bucket")
      .withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(OldNB.toLong)).cast("int"))
      .localCheckpoint() // off the dir we are about to overwrite
    vRe.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$out0/state/vbkt/epoch=0")
    val fRe = spark.read.parquet(s"$out0/state/fpcnt/epoch=0").drop("bucket")
      .withColumn("bucket", pmod(col("fp"), lit(OldNB.toLong)).cast("int"))
      .localCheckpoint()
    fRe.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$out0/state/fpcnt/epoch=0")
    def bucketsOf(p: String): Seq[Int] =
      java.nio.file.Files.list(java.nio.file.Paths.get(p)).toArray
        .map(_.toString).filter(_.contains("bucket="))
        .map(_.split("bucket=").last.toInt).toSeq
    val sq = spark
    import sq.implicits._
    val commit = spark.read.parquet(s"$out0/state/commit/epoch=0")
      .localCheckpoint()
    val ptrs =
      bucketsOf(s"$out0/state/vbkt/epoch=0").map(b => Pipeline.CommitRow("v",
        bucket = Some(b), epoch = Some(0L), n_buckets = Some(OldNB))) ++
      bucketsOf(s"$out0/state/fpcnt/epoch=0").map(b => Pipeline.CommitRow("fp",
        bucket = Some(b), epoch = Some(0L), n_buckets = Some(OldNB)))
    commit.filter(!col("kind").isin("fp", "v"))
      .unionByName(ptrs.toDS().toDF(), allowMissingColumns = true)
      .localCheckpoint()
      .write.mode("overwrite").parquet(s"$out0/state/commit/epoch=0")
    // continue under a FRESH outDir path (copy) — the restart analogue:
    // the in-JVM state cache is keyed by outDir, and an upgraded process
    // starts cold, reading the commit artifact from disk
    val out = Files.createTempDirectory("graft-incr-nb-new").toString
    java.nio.file.Files.walk(java.nio.file.Paths.get(out0)).forEach { src =>
      val dst = java.nio.file.Paths.get(out,
        java.nio.file.Paths.get(out0).relativize(src).toString)
      if (java.nio.file.Files.isDirectory(src))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(src, dst)
    }
    // overlap re-delivers docs 100-199; descending range displaces keepers
    Pipeline.curateEpoch(chunk(0, 200), out, Shards, 1L)
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-nb-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
    // and the mismatch epoch compacted into the current scheme: every
    // bucket points at epoch 1 alone
    assert(ptrOf(out, 1L, "v").values.flatten.toSet === Set(1L),
      "a bucket-constant mismatch must compact the verdict state")
    assert(ptrOf(out, 1L, "fp").values.flatten.toSet === Set(1L),
      "a bucket-constant mismatch must compact the fp state")
  }

  test("the winv log stays bounded: re-delivered docs never append their windows twice") {
    val out = Files.createTempDirectory("graft-incr-winv").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L)
    // a pure re-delivery heartbeat writes NO winv dir at all
    Pipeline.curateEpoch(chunk(150, 400), out, Shards, 1L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/state/winv/batch=1")),
      "a heartbeat epoch must not append to the window log")
    // a mixed batch appends only its NEW docs' windows
    Pipeline.curateEpoch(chunk(0, 120), out, Shards, 2L)
    val batch2Ids = spark.read.parquet(s"$out/state/winv/batch=2")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batch2Ids.nonEmpty && batch2Ids.forall(_ < 100L),
      s"re-delivered docs (ids 100-119) must not re-enter the window log; got ${batch2Ids.filter(_ >= 100L)}")
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-winv-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("a benchmark with zero window fps still pins the gate: toggling off fails loudly") {
    // an all-short-docs benchmark has NO width-8 windows, so its fp
    // fingerprint is (0, 0) — identical to gate-off. The explicit gate
    // flag in the meta artifact is what keeps the report shape from
    // silently flip-flopping between gated and ungated epochs.
    val sq = spark
    import sq.implicits._
    val fpless = Seq((-1L, "too short")).toDF("doc_id", "text").localCheckpoint()
    val out = Files.createTempDirectory("graft-incr-fpless").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), out, Shards, 0L, Some(fpless))
    val report = spark.read.parquet(s"$out/report")
    assert(report.columns.contains("docs_contaminated"),
      "a gated run's report carries the contamination column even when nothing matches")
    val eOff = intercept[IllegalArgumentException] {
      Pipeline.curateEpoch(chunk(0, 210), out, Shards, 1L, None)
    }
    assert(eOff.getMessage.contains("benchmark"))
    // same gate, same (empty) fingerprint: continues fine and converges
    Pipeline.curateEpoch(chunk(0, 210), out, Shards, 1L, Some(fpless))
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-fpless-ref").toString, Shards,
      Some(fpless))
    assertEqualsOneShot(out, oneShot)
  }

  test("benchmark fps are computed once per run: same frame object hits the cache") {
    val bench = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id")).limit(3).localCheckpoint()
    val out = Files.createTempDirectory("graft-incr-bcache").toString
    Pipeline.curateEpoch(chunk(300, Long.MaxValue), out, Shards, 0L, Some(bench))
    val fps0 = Pipeline.benchCache(out)._2
    Pipeline.curateEpoch(chunk(150, 320), out, Shards, 1L, Some(bench))
    assert(Pipeline.benchCache(out)._2 eq fps0,
      "the second epoch with the same benchmark object must reuse the checkpointed fps")
    // a content-equal TWIN is a different object: recomputed (so drift
    // detection stays live), same fingerprint, run continues
    val twin = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id")).limit(3).localCheckpoint()
    Pipeline.curateEpoch(chunk(0, 160), out, Shards, 2L, Some(twin))
    assert(!(Pipeline.benchCache(out)._2 eq fps0),
      "a different frame object must recompute so in-JVM drift is still detected")
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-bcache-ref").toString, Shards,
      Some(bench))
    assertEqualsOneShot(out, oneShot)
  }

  test("keeper side-state is bucket-incremental and replaces the verdict scan") {
    // round-13: the displacement probe reads the bag-keyed keeper state
    // (state/kbkt) pruned to the batch's bag buckets — a small epoch's
    // keeper WRITE is a flat delta over few buckets, and the probe never
    // scans the verdict layers
    val out = Files.createTempDirectory("graft-incr-kbkt").toString
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
    val foundingBuckets = spark.read.parquet(s"$out/state/kbkt/epoch=0")
      .select(col("bucket")).distinct().count()
    assert(foundingBuckets > 1,
      "the founding epoch must populate multiple keeper buckets")
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$out/state/kbkt/epoch=0"))
      .toArray.map(_.toString).count(_.contains("bucket=")) > 1,
      "the founding keeper copy must be bucket=-partitioned for pruned reads")
    Pipeline.curateEpoch(docOnly(tailDoc), out, Shards, 1L)
    val smallBuckets = spark.read.parquet(s"$out/state/kbkt/epoch=1")
      .select(col("bucket")).distinct().count()
    assert(smallBuckets < foundingBuckets,
      s"a small epoch must write only its bags' keeper buckets " +
        s"($smallBuckets vs founding $foundingBuckets)")
    assert(ptrOf(out, 1L, "k").values.flatten.toSet === Set(0L, 1L),
      "untouched keeper buckets must still point at the founding copy")
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-kbkt-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("a steady epoch's state reads are bucket-pruned: an inflated untouched bucket is never read") {
    // the round-13 read-volume pin: pre-keeper-state, every epoch's
    // displacement probe scanned EVERY verdict layer row (vLayersFor(None)
    // — O(corpus-docs) per epoch). Inflate one verdict bucket the tiny
    // batch does not touch with 400k synthetic rows and pin, via a
    // task-metrics listener, that the epoch never reads them: its total
    // recordsRead stays far below the inflated bucket's row count.
    val N = 400000L
    val out0 = Files.createTempDirectory("graft-incr-readpin0").toString
    val all = Fixtures.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    val tailDoc = all.filter(col("n") >= 20).orderBy(col("n"), col("doc_id"))
      .head().getLong(0)
    Pipeline.curateEpoch(
      Fixtures.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .filter(col("doc_id") =!= tailDoc), out0, Shards, 0L)
    // synthetic rows: unique huge ids and bags, honest bucket hash, inert
    // (kept=false, bags match nothing, ids collide with nothing)
    val dummy = spark.range(N).select(
      (col("id") + 10000000L).as("doc_id"), lit("zz").as("lang"),
      lit("pin").as("source"), lit(5L).as("n_tok"), lit(1.0).as("h"),
      concat(lit("zzpin"), col("id")).as("bag"), lit(true).as("bag_keep"),
      lit(0L).as("n_win"), lit(0L).as("n_dup"), lit(false).as("contam"),
      lit(false).as("kept"))
      .withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(64L)).cast("int"))
    dummy.write.partitionBy("bucket").parquet(s"$out0/state/vbkt/epoch=77")
    val dummyBuckets = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$out0/state/vbkt/epoch=77"))
      .toArray.map(_.toString).filter(_.contains("bucket="))
      .map(_.split("bucket=").last.toInt).toSeq
    // pointer surgery: register the inflated layer in the commit artifact
    val sq = spark
    import sq.implicits._
    val commit = spark.read.parquet(s"$out0/state/commit/epoch=0")
      .localCheckpoint()
    val extra = dummyBuckets.map(b => Pipeline.CommitRow("v",
      bucket = Some(b), epoch = Some(77L), n_buckets = Some(64)))
    commit.unionByName(extra.toDS().toDF(), allowMissingColumns = true)
      .localCheckpoint()
      .write.mode("overwrite").parquet(s"$out0/state/commit/epoch=0")
    // fresh outDir path (copy) so the in-JVM state cache starts cold
    val out = Files.createTempDirectory("graft-incr-readpin").toString
    java.nio.file.Files.walk(java.nio.file.Paths.get(out0)).forEach { src =>
      val dst = java.nio.file.Paths.get(out,
        java.nio.file.Paths.get(out0).relativize(src).toString)
      if (java.nio.file.Files.isDirectory(src))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(src, dst)
    }
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try drained(read) {
        Pipeline.curateEpoch(
          Fixtures.documents(spark, dir)
            .select(col("doc_id"), col("lang"), col("source"), col("text"))
            .filter(col("doc_id") === tailDoc), out, Shards, 1L)
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(got < N / 2,
      s"a tiny epoch must not read the inflated untouched bucket " +
        s"(recordsRead=$got vs $N inflated rows — a full verdict scan " +
        "would read them all)")
  }

  test("the window log chunks: founding bucketed at birth, tails fold, flats stay bounded") {
    val out = Files.createTempDirectory("graft-incr-winvc").toString
    val cuts = (0 to 10).map(i => i * 15L)
    Pipeline.curateEpoch(chunk(cuts.last, Long.MaxValue), out, Shards, 0L)
    // the founding mass lives fp-bucketed under winvc from birth — no
    // corpus-scale flat dir ever exists to re-fold later
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$out/state/winvc/chunk=0"))
      .toArray.map(_.toString).count(_.contains("bucket=")) > 1,
      "the founding window log must be bucket=-partitioned at birth")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/state/winv/batch=0")),
      "the founding batch must not also land in the flat tail namespace")
    (0 until 10).foreach { i =>
      Pipeline.curateEpoch(chunk(cuts(9 - i), cuts(10 - i)), out, Shards,
        (i + 1).toLong)
    }
    // 10 tail batches > FpCompactAt: a fold must have re-bucketed the
    // older flats into a chunk and pruned them
    val flatBatches = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$out/state/winv"))
      .toArray.map(_.toString).filter(_.contains("batch="))
      .map(_.split("batch=").last.toLong).toSeq.sorted
    assert(flatBatches.size <= Pipeline.FpCompactAt,
      s"flat tail batches must stay bounded by the fold, got $flatBatches")
    val chunks = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$out/state/winvc"))
      .toArray.map(_.toString).filter(_.contains("chunk="))
      .map(_.split("chunk=").last.toLong).toSeq.sorted
    assert(chunks.size >= 2, s"a tail fold chunk must exist, got $chunks")
    // no row lost or duplicated: chunked + flat rows = the one-shot log
    // (distinct (doc, fp) per doc delivered once — overlaps re-deliver)
    val live = spark.read.parquet(s"$out/state/winvc")
      .select(col("doc_id"), col("fp"))
      .unionByName(spark.read.parquet(s"$out/state/winv")
        .select(col("doc_id"), col("fp")))
    assert(live.count() === live.distinct().count(),
      "fold + tails must hold each (doc, fp) exactly once")
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-winvc-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("a crossing epoch's window-log read volume scales with the crossed buckets") {
    // round-13 pin: the crossing probe partition-prunes the chunked log
    // to the crossed fps' buckets instead of scanning the full
    // token-scale log. A synthetic duplicate of one SHORT existing doc
    // crosses only that doc's few window fps, so the epoch must read far
    // less than the log.
    val out = Files.createTempDirectory("graft-incr-wvpin").toString
    Pipeline.curateEpoch(chunk(0, Long.MaxValue), out, Shards, 0L)
    val logRows = spark.read.parquet(s"$out/state/winvc").count()
    // the shortest doc that still has windows: few fps => few buckets
    val src = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(split(col("text"), " ")).as("n"))
      .filter(col("n") >= 20).orderBy(col("n"), col("doc_id")).limit(1)
      .localCheckpoint()
    val dup = src.select(lit(9999999L).as("doc_id"), col("lang"),
      col("source"), col("text"))
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try drained(read) { Pipeline.curateEpoch(dup, out, Shards, 1L) }
      finally spark.sparkContext.removeSparkListener(listener)
    // the crossing genuinely fired (otherwise the read bound is vacuous):
    // the source doc's verdict row was re-emitted with a span-dup delta
    val srcId = src.head().getLong(0)
    val flipped = spark.read.parquet(s"$out/state/vbkt/epoch=1")
      .filter(col("doc_id") === srcId)
    assert(flipped.count() === 1 && flipped.head().getAs[Long]("n_dup") > 0L,
      "the duplicate delivery must cross the source doc's window fps")
    assert(got < logRows / 2,
      s"a crossing epoch must read only the crossed buckets of the log " +
        s"(recordsRead=$got vs $logRows log rows)")
  }

  test("an epoch older than the newest committed one fails loudly instead of re-founding") {
    // once epoch 1 commits, epoch 0's commit artifact is pruned — a manual
    // or out-of-order replay of epoch 0 then finds no base, would re-found
    // from empty state, and its cleanup would prune layer dirs epoch 1's
    // pointers still reference (silent corruption). The epoch-entry guard
    // must reject it before any write.
    val out = Files.createTempDirectory("graft-incr-oldreplay").toString
    Pipeline.curateEpoch(chunk(200, Long.MaxValue), out, Shards, 0L)
    Pipeline.curateEpoch(chunk(100, 210), out, Shards, 1L)
    val before = (corpusRows(out), rows(s"$out/manifest", "shard"))
    val e = intercept[IllegalArgumentException] {
      Pipeline.curateEpoch(chunk(100, 210), out, Shards, 0L)
    }
    assert(e.getMessage.contains("out-of-order"))
    assert((corpusRows(out), rows(s"$out/manifest", "shard")) === before,
      "the rejected replay must leave every artifact untouched")
    // the run continues normally after the rejected replay
    Pipeline.curateEpoch(chunk(0, 110), out, Shards, 2L)
    val oneShot = Pipeline.curate(spark, dir,
      Files.createTempDirectory("graft-incr-oldreplay-ref").toString, Shards)
    assertEqualsOneShot(out, oneShot)
  }

  test("a heartbeat epoch repairs an externally corrupted manifest") {
    // the stored-manifest shard-set validation must run on EVERY epoch,
    // heartbeats included: with only re-delivered batches arriving, an
    // externally corrupted manifest (partial restore, manual copy) would
    // otherwise persist behind the fast path indefinitely
    val out = Files.createTempDirectory("graft-incr-hbrepair").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L)
    val good = rows(s"$out/manifest", "shard")
    assert(good.size > 1, "fixture must populate multiple shards")
    // corrupt: drop one shard's manifest row (wrong shard SET, so the
    // cheap validation catches it)
    val truncated = spark.read.parquet(s"$out/manifest")
      .orderBy(col("shard")).limit(good.size - 1).localCheckpoint()
    truncated.write.mode("overwrite").parquet(s"$out/manifest")
    // pure re-delivery: a heartbeat, which must still repair
    val r = Pipeline.curateEpoch(chunk(150, 400), out, Shards, 1L)
    assert(r.added === 0L && r.removed === 0L, "the epoch must be a heartbeat")
    assert(rows(s"$out/manifest", "shard") === good,
      "the heartbeat must recompute the corrupted manifest from the corpus")
    assert(Pipeline.validateCorpus(spark, out).isEmpty)
  }

  test("validateCorpus fails loudly when a gated report's contamination column drifts") {
    val bench = Fixtures.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 8)
      .orderBy(col("doc_id")).limit(3).localCheckpoint()
    val out = Files.createTempDirectory("graft-incr-gateaudit").toString
    Pipeline.curateEpoch(chunk(100, Long.MaxValue), out, Shards, 0L, Some(bench))
    Pipeline.curateEpoch(chunk(0, 110), out, Shards, 1L, Some(bench))
    assert(Pipeline.validateCorpus(spark, out).isEmpty,
      "an untampered gated run must self-validate")
    // fabricate an inconsistent report: same rows, contamination zeroed
    val tampered = spark.read.parquet(s"$out/report")
      .withColumn("docs_contaminated", lit(0L)).localCheckpoint()
    tampered.write.mode("overwrite").parquet(s"$out/report")
    val e = intercept[IllegalStateException] {
      Pipeline.validateCorpus(spark, out)
    }
    assert(e.getMessage.contains("docs_contaminated"))
  }

}
