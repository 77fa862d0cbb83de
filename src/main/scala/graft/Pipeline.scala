package graft

import graft.operators.{Curation, Layout}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** End-to-end curation run — the library's USER-FACING entry: evaluate the
  * q139 funnel gates ONCE, materialize the kept corpus hash-sharded to
  * parquet, and write the two artifacts a production run ships alongside
  * it: the shard manifest (q126's layout contract, computed over exactly
  * the kept corpus) and the per-(lang, source) keep report (q139's
  * rollup from the SAME verdicts — report and corpus cannot disagree).
  *
  * Layout: `outDir/corpus/shard=N/` (Hive-partitioned by the same
  * md5-prefix shard key the manifest describes, so a reader can prune to a
  * shard and the manifest row tells it what it will find),
  * `outDir/manifest/`, `outDir/report/`. Overwrite semantics: a re-run is
  * idempotent (all inputs and the md5 shard key are deterministic).
  *
  * Optional DECONTAMINATION gate: pass `benchmark` (a small `(doc_id,
  * text)` eval-set frame) and any corpus doc sharing at least one
  * width-[[graft.operators.Curation.DecontamWidth]] token window with it
  * is dropped (q104's oracle-verified window formula reduced to the
  * binary `n_hit >= 1` gate), and the report gains a `docs_contaminated`
  * column. The flag is doc-local given a fixed benchmark, so the
  * incremental epochs fold it with the same monotonicity argument as the
  * other gates; the benchmark must stay FIXED for the life of an
  * incremental outDir (pinned by a fingerprint in the meta artifact,
  * like `numShards`).
  *
  * Scale shape: one gate evaluation over the shared tokenized base, one
  * shuffle-free sharded write (the shard key is a narrow projection; files
  * per shard = upstream partitions — at 100 TB you'd `repartition(shard)`
  * first to get one file per shard, traded against the extra exchange),
  * manifest + report each one small aggregate.
  */
object Pipeline {

  /** Counts + artifact paths returned by [[curate]]. */
  final case class CurationRun(docsIn: Long, docsKept: Long, tokensKept: Long,
      corpusPath: String, manifestPath: String, reportPath: String)

  def curate(spark: SparkSession, sfDir: String, outDir: String,
      numShards: Int = 16, benchmark: Option[DataFrame] = None): CurationRun = {
    val gate = benchmark.isDefined
    // the benchmark's window fps, derived ONCE (checkpointed — both the
    // contamination probe and the meta signature consume them, and each
    // is its own action)
    val benchFps = benchmark.map(b => Curation.benchmarkFps(b).localCheckpoint())
    val vBase = benchFps match {
      case None => Curation.funnelVerdicts(spark, sfDir)
        .withColumn("contam", lit(false))
      case Some(fps) =>
        // contamination is corpus-scale on the left (every doc can carry
        // the flag), so the flag joins by a plain left join — only the
        // benchmark side is broadcast (inside contaminatedOf)
        Curation.funnelVerdicts(spark, sfDir)
          .join(Curation.contaminatedOf(
              Curation.winFpsOver(graft.operators.SignalStore.tokens(spark, sfDir),
                Curation.DecontamWidth), fps)
            .withColumn("contam", lit(true)), Seq("doc_id"), "left")
          .withColumn("contam", coalesce(col("contam"), lit(false)))
    }
    val verdicts = vBase
      .withColumn("kept", Curation.contamKept(col("kept"), col("contam")))
      .persist() // consumed thrice: corpus write, report, counts
    val kept = verdicts.filter(col("kept"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"))
      .join(Fixtures.documents(spark, sfDir).select(col("doc_id"), col("text")),
        Seq("doc_id"))
    val totals = verdicts.agg(count(lit(1)),
      coalesce(sum(when(col("kept"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("kept"), col("n_tok")).otherwise(0L)), lit(0L))).head()
    // Layout.shardKey is the ONE copy of the shard formula, so manifest
    // rows describe the written partitions by construction
    val corpusPath = s"$outDir/corpus"
    kept.withColumn("shard", Layout.shardKey(col("doc_id"), numShards))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(corpusPath)
    // manifest from the corpus AS WRITTEN (read back): describes the bytes
    // on disk, and costs a read of the kept corpus instead of a second
    // tokenize of the full-text join. An all-dropped corpus writes no
    // partition files (nothing to infer a schema from), so the empty
    // manifest folds from the empty kept frame instead.
    val manifestPath = s"$outDir/manifest"
    val manifestSrc =
      if (totals.getLong(1) == 0L) kept.select(col("doc_id"), col("text"))
      else spark.read.parquet(corpusPath).select(col("doc_id"), col("text"))
    Layout.shardManifest(manifestSrc, numShards)
      .write.mode(SaveMode.Overwrite).parquet(manifestPath)
    // run parameters ride their own tiny artifact so the audit can never
    // be called with the wrong shard count (or a drifted benchmark)
    val sig = benchFps.map(benchSig).getOrElse((0L, 0L))
    writeMeta(spark, outDir, numShards, sig, gate)
    // keep the in-JVM parameter cache coherent with the meta just
    // written: without this, a same-JVM wipe-and-refound through curate()
    // would leave a later curateEpoch validating against the PREVIOUS
    // deployment's cached parameters instead of the disk's
    metaCache.put(outDir, (numShards, gate, sig._1, sig._2))
    val reportPath = s"$outDir/report"
    Curation.funnelRollupEx(verdicts, withContam = gate)
      .write.mode(SaveMode.Overwrite).parquet(reportPath)
    verdicts.unpersist()
    CurationRun(totals.getLong(0), totals.getLong(1), totals.getLong(2),
      corpusPath, manifestPath, reportPath)
  }

  /** Per-epoch result of [[curateEpoch]] — the observability surface of an
    * incremental run: how the corpus-global verdicts MOVED this epoch
    * (retroactive drops are first-class, not silent).
    */
  final case class EpochResult(epochId: Long, docsSeen: Long, docsKept: Long,
      added: Long, removed: Long, changedShards: Seq[Int])

  /** Test-only fault injection: when set, [[curateEpoch]] throws right
    * after its staging commit, BEFORE the corpus overwrite —
    * PipelineIncrSpec uses it to pin the replay contract for the
    * overwrite's destructive window (old shard bytes deleted at job
    * commit, new bytes not yet moved). Never set outside tests.
    */
  @volatile private[graft] var failAfterStaging: Boolean = false

  /** Test-only fault injection: throw right after the corpus overwrite,
    * BEFORE the commit marker — the window where the corpus is already
    * mutated but the epoch is uncommitted. PipelineIncrSpec uses it to
    * pin that a stream restart replays the batch under the SAME epoch id
    * (the self-stabilizing offset), reusing the committed staging
    * instead of re-deriving it from the mutated corpus.
    */
  @volatile private[graft] var failAfterApply: Boolean = false

  /** Test seam: when set, epochs await this barrier right after entering
    * the AQE scope, so a spec can force two concurrent epochs to overlap
    * deterministically (the interleaving the scope's depth counter
    * exists for would otherwise depend on scheduling luck).
    */
  @volatile private[graft] var testEpochBarrier
      : Option[java.util.concurrent.CyclicBarrier] = None

  /** Per-BUCKET layer fan-out bound of the bucketed delta logs: the
    * rolling fold ([[rollSet]]) keeps every bucket's pointer list at
    * ≤ this many layers by folding a bucket slice each epoch (no
    * all-at-once compaction cliff), which also bounds the dead
    * superseded rows old layers accumulate. Doubles as the batch-log
    * chunk-fold trigger (fold the flat tails once this many accumulate).
    */
  private[graft] val FpCompactAt = 8

  /** Broadcast gate for the fp-scale epoch probes (`contrib` and frames
    * derived from it: `updated`, `fresh`, `crossed`, `dupFpsB`). These
    * are one row per DISTINCT WINDOW FP in the batch — batch-bound but
    * token-scale, so a founding/backfill epoch can push GBs through a
    * forced broadcast (driver OOM / 8 GB cap). Above this row count the
    * epoch falls back to plain shuffle joins for those probes: an
    * oversized batch pays an O(batch + touched-bucket) exchange instead
    * of an OOM. Doc-scale probes (seen ids, displaced keepers, crossing
    * docs) stay broadcast — they are bounded by the micro-batch's doc
    * count, which the epoch contract caps (a stream trigger sizes its
    * batches; a backfill that cannot should call [[curate]] instead).
    * `var` so specs can force the fallback path.
    *
    * Deployment knob: the 4 Mi default assumes executors comfortably hold
    * a few-hundred-MB broadcast (right for this box's 128 GiB / 32
    * threads). Override per process with `SPARK_GRAFT_FP_BCAST_MAX_ROWS`
    * — smaller on memory-tight clusters (forcing the shuffle fallback
    * earlier), larger where driver/executor memory allows.
    */
  @volatile private[graft] var FpBroadcastMaxRows: Long =
    sys.env.get("SPARK_GRAFT_FP_BCAST_MAX_ROWS").map { v =>
      // parsed here in the object initializer: a bare .toLong would
      // surface as ExceptionInInitializerError with no hint of the cause
      require(v.nonEmpty && v.length <= 18 && v.forall(_.isDigit),
        s"SPARK_GRAFT_FP_BCAST_MAX_ROWS must be a plain row count " +
          s"(≤ 18 digits), got '$v'")
      v.toLong
    }.getOrElse(4L << 20)

  /** A bucketed delta log's committed extent: `bucket -> every layer
    * holding live rows for it`, oldest first (layer id: positive e = the
    * `epoch=e` dir — a tail delta, or a founding/re-bucket full copy;
    * negative -e = the `fold=e` dir — a rolling fold of a bucket subset
    * written at epoch e), plus the bucket count the layers were written
    * under.
    */
  private[graft] final case class Layers(ptr: Map[Int, Seq[Long]], nb: Int)

  /** An append-only batch log's committed extent: flat `batch=` dirs
    * ≤ `folded` are folded into chunks (-1 = none), and `chunks` are the
    * LIVE `chunk=` dirs. Liveness is explicit, so a chunk written by a
    * crashed epoch whose batch later re-processed under a different id
    * (replaced checkpoint) is an orphan cleanup deletes, never a silent
    * duplicate in every read.
    */
  private[graft] final case class Batches(folded: Long, chunks: Seq[Long])

  /** BUCKETED DELTA LOG — the one shape of the keyed epoch state
    * (`state/<dir>/epoch=<e>|fold=<e>`, rows hashed by `key` into
    * `nBuckets` buckets). An epoch APPENDS only its own rows as a new
    * layer, the commit artifact's `kind` pointer rows record which layers
    * hold live rows per bucket, and readers MERGE a bucket's pointed
    * layers: `summed` value columns add up, otherwise the newest row per
    * key wins. Layout by layer role: FULL-copy layers (the founding write,
    * a re-bucket, a rolling fold — the state-scale layers reads must
    * prune) are bucket=-PARTITIONED dirs; a tail DELTA is written FLAT
    * (`bucket` a data column), because partitionBy on a batch-scale write
    * fans each task into up to `nBuckets` tiny files — ≈1 s of per-file
    * commit overhead every epoch for a layer whose reads are batch-scale
    * row filters anyway. One read schema resolves `bucket` either way.
    * `nBuckets` is a layout constant: the stored count rides the pointer
    * rows, and a mismatch makes the next write a compacting re-bucket
    * (more buckets = finer pruning; at 100 TB thousands, here 64 so
    * fixture batches exercise real pruning).
    */
  private[graft] final class BucketLog(dir: String, kind: String,
      val nBuckets: Int, key: String, hash: Column => Column,
      summed: Boolean, empty: SparkSession => DataFrame) {

    def none: Layers = Layers(Map.empty, nBuckets)

    def bucket(k: Column): Column =
      pmod(hash(k), lit(nBuckets.toLong)).cast("int")

    private def withBucket(df: DataFrame): DataFrame =
      df.withColumn("bucket", bucket(col(key)))

    private def schema(spark: SparkSession): StructType =
      stateSchemas.getOrElseUpdate(dir, withBucket(empty(spark)).schema)

    private def cols(spark: SparkSession): Seq[String] =
      schema(spark).fieldNames.toSeq.filterNot(_ == "bucket")

    private def layerDir(outDir: String, id: Long): String =
      if (id >= 0L) s"$outDir/state/$dir/epoch=$id"
      else s"$outDir/state/$dir/fold=${-id}"

    /** The pointed layers as one frame, each row tagged with a `_layer`
      * rank (higher = newer), each layer filtered to the buckets whose
      * pointer list CONTAINS it (intersected with `only`). That per-layer
      * filter is the liveness rule that makes rolling folds sound: after
      * bucket b folds at epoch e (pointer reset to [-e]), older layers
      * still hold b's superseded rows for as long as OTHER buckets
      * reference them. `only` prunes only when the layers were written
      * under the CURRENT bucket count — probe bucket sets use the current
      * hash, so pruning old-constant partitions with them would drop live
      * rows one epoch before the re-bucket (which reads everything
      * anyway). Rank order is by (|id|, sign); no bucket's list holds both
      * the fold and the delta of one epoch, so the sign never decides.
      * Callers shrink the rows FIRST (semi-joins, presence probes) and
      * only then [[merge]], so a steady epoch never materializes a merged
      * view.
      */
    def read(spark: SparkSession, outDir: String, l: Layers,
        only: Option[Iterable[Int]]): DataFrame = {
      val sel = cols(spark).map(col)
      val prune = only.filter(_ => l.nb == nBuckets).map(_.toSet)
      val wanted = prune.map(b => l.ptr.view.filterKeys(b).toMap).getOrElse(l.ptr)
      wanted.values.flatten.toSeq.distinct
        .sortBy((id: Long) => (math.abs(id), id)).zipWithIndex
        .map { case (id, rank) =>
          val live = l.ptr.iterator
            .collect { case (b, es) if es.contains(id) => b }.toSet
          spark.read.schema(schema(spark)).parquet(layerDir(outDir, id))
            .filter(col("bucket").isInCollection(
              prune.map(_ & live).getOrElse(live).toSeq.sorted))
            .select(sel: _*).withColumn("_layer", lit(rank))
        }
        .reduceOption(_ unionByName _)
        .getOrElse(empty(spark).select(sel: _*).withColumn("_layer", lit(0)))
    }

    /** One merged row per key of ranked rows — a single aggregation, so
      * it exchanges exactly the rows handed in. A row's bucket is a pure
      * hash of its key, so bucket pruning never splits a key across
      * layers.
      */
    def merge(rows: DataFrame): DataFrame = {
      val vals = cols(rows.sparkSession).filterNot(_ == key)
      if (summed) rows.groupBy(col(key)).agg(sum(col(vals.head)).as(vals.head),
        vals.tail.map(c => sum(col(c)).as(c)): _*)
      else rows.groupBy(col(key))
        .agg(max_by(struct(vals.map(col): _*), col("_layer")).as("_s"))
        .select(col(key) +: vals.map(c => col("_s." + c)): _*)
    }

    /** Write `rows` (with `bucket`) as epoch `epochId`'s partitioned full
      * copy; every written bucket then points at it alone, read off the
      * free directory listing.
      */
    def writeFull(spark: SparkSession, outDir: String, epochId: Long,
        rows: DataFrame): Layers = {
      val d = layerDir(outDir, epochId)
      rows.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(d)
      Layers(childIds(spark, d, "bucket=").map(_.toInt -> Seq(epochId)).toMap,
        nBuckets)
    }

    /** Epoch `epochId`'s layer. `delta` is the epoch's own rows with
      * `bucket`, coalesced to its write parallelism (coalesce, never a
      * state-keyed exchange); `touched` is its exact bucket set, known on
      * the driver, so no write needs a listing or read-back job. State
      * written under another bucket count re-buckets into one full copy
      * (its merge with the delta as the newest layer); the founding delta
      * IS the full copy; a later delta lands flat and is appended to its
      * buckets' lists; an empty one writes nothing.
      */
    def append(spark: SparkSession, outDir: String, epochId: Long,
        base: Layers, delta: DataFrame, touched: Iterable[Int]): Layers =
      if (base.ptr.nonEmpty && base.nb != nBuckets)
        writeFull(spark, outDir, epochId, withBucket(merge(
          read(spark, outDir, base, None).unionByName(
            delta.select(cols(spark).map(col): _*)
              .withColumn("_layer", lit(Int.MaxValue))))).coalesce(8))
      else if (touched.isEmpty) base
      else if (base.ptr.isEmpty) writeFull(spark, outDir, epochId, delta)
      else {
        delta.write.mode(SaveMode.Overwrite).parquet(layerDir(outDir, epochId))
        Layers(base.ptr ++ touched.map(b =>
          b -> (base.ptr.getOrElse(b, Seq.empty) :+ epochId)), nBuckets)
      }

    /** The buckets this log folds at `epochId` ([[rollSet]]). The three
      * logs take turns — ONE fold write per epoch instead of three, since
      * a fold's cost at tail scale is mostly fixed (file fan-out + job
      * round-trips), not bandwidth — and a log also folds OUT of turn
      * when any bucket hits the hard fan-out bound (a starvation backstop
      * for streams whose real epochs land on a fixed residue).
      */
    def rolled(epochId: Long, l: Layers): Set[Int] =
      if (BucketLogs(((epochId % 3) + 3).toInt % 3) == this ||
          l.ptr.values.exists(_.size >= FpCompactAt)) rollSet(l.ptr, nBuckets)
      else Set.empty

    /** The rolling fold: the merged rows of the rolled buckets ([[merge]],
      * or `merged` — which must carry `bucket`) land bucket-partitioned
      * under `fold=<epochId>`, and those buckets' lists reset to the fold
      * alone. Write parallelism comes from the driver-listed bytes of the
      * layers they reference (an overestimate — layers hold other buckets
      * too — of the right order, from free FS metadata). Pure in
      * (`l`, `epochId`), so a crash replay folds the same slice.
      */
    def roll(spark: SparkSession, outDir: String, epochId: Long, l: Layers,
        merged: Option[Set[Int] => DataFrame]): Layers = {
      val slice = rolled(epochId, l)
      if (slice.isEmpty) l
      else {
        val refBytes = l.ptr.view.filterKeys(slice).values.flatten.toSet
          .iterator.map((id: Long) => dirBytes(spark, layerDir(outDir, id))).sum
        val foldDir = s"$outDir/state/$dir/fold=$epochId"
        merged.getOrElse((s: Set[Int]) =>
            withBucket(merge(read(spark, outDir, l, Some(s)))))(slice)
          .coalesce(math.min(8L, 1L + refBytes / (256L << 20)).toInt)
          .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(foldDir)
        // a rolled bucket whose merged rows emptied keeps no pointer
        // rather than dangling at a fold without rows
        val written = childIds(spark, foldDir, "bucket=")
        Layers(l.ptr ++ slice.map(b =>
          b -> (if (written(b.toLong)) Seq(-epochId) else Seq.empty[Long])), l.nb)
      }
    }

    def encode(l: Layers): Seq[CommitRow] =
      l.ptr.toSeq.sortBy(_._1).flatMap { case (b, es) =>
        es.map(e => CommitRow(kind, bucket = Some(b), epoch = Some(e),
          n_buckets = Some(l.nb))) }

    def decode(rows: Seq[CommitRow]): Layers = {
      val rs = rows.filter(_.kind == kind)
      Layers(rs.groupBy(_.bucket.get).view
          .mapValues(_.map(_.epoch.get).sorted).toMap,
        rs.headOption.flatMap(_.n_buckets).getOrElse(nBuckets))
    }

    /** Drop every layer dir below `epochId` that `l` no longer points at. */
    def prune(spark: SparkSession, outDir: String, l: Layers,
        epochId: Long): Unit = {
      val refs = l.ptr.values.flatten.toSet
      val root = s"$outDir/state/$dir"
      childIds(spark, root, "epoch=").filter(e => e < epochId && !refs(e))
        .foreach(e => deleteDir(spark, s"$root/epoch=$e"))
      childIds(spark, root, "fold=").filter(f => f < epochId && !refs(-f))
        .foreach(f => deleteDir(spark, s"$root/fold=$f"))
    }
  }

  /** Per-fp distinct-doc counts `(fp, nd)`, bucketed by `pmod(fp, 64)`;
    * counts sum across layers (a delta row is the count it adds).
    */
  private[graft] val FpLog = new BucketLog("fpcnt", "fp", 64, "fp",
    identity, summed = true,
    spark => spark.range(0).select(col("id").as("fp"), col("id").as("nd")))

  /** Doc-scale verdict rows ([[StateCols]]), bucketed by a HASH of
    * doc_id (not `pmod(doc_id, …)`, so sequential or skewed id schemes
    * still spread evenly); the newest row per doc wins.
    */
  private[graft] val VLog = new BucketLog("vbkt", "v", 64, "doc_id",
    (c: Column) => xxhash64(c), summed = false, emptyVerdictState)

  /** The current bag-dedup keeper per distinct bag `(bag, keeper)`, so
    * the displacement probe reads only the buckets of the batch's bags
    * instead of scanning every verdict layer; the newest row per bag wins.
    */
  private[graft] val KLog = new BucketLog("kbkt", "k", 64, "bag",
    (c: Column) => xxhash64(c), summed = false,
    spark => spark.range(0).select(lit("").cast("string").as("bag"),
      col("id").as("keeper")))

  /** The bucketed logs, in rolling-fold turn order. */
  private val BucketLogs = Seq(FpLog, VLog, KLog)

  /** APPEND-ONLY BATCH LOG — the one shape of the batch-keyed state no
    * later epoch supersedes (a row is written once, at its doc's first
    * sight). An epoch writes at most one flat `<flat>/batch=<e>` dir; once
    * [[FpCompactAt]] flats pile up below an epoch they fold into ONE
    * immutable `<chunk>/chunk=<e>` dir, so reads list O(chunks +
    * FpCompactAt flats) instead of O(epochs), and no row is written more
    * than twice (chunks are never merged). The commit artifact records
    * the folded-through watermark (`foldedKind`) and the live chunks
    * (`chunkKind`); cleanup prunes folded flats and orphan chunks after
    * the marker. With `fpBucketed`, chunks are partitioned by
    * [[FpLog]]'s bucket of `fp` (and drop `batch`), so a probe reads
    * them pruned to its fps' buckets; otherwise `batch` rides as a data
    * column.
    */
  private[graft] final class BatchLog(flat: String, chunk: String,
      foldedKind: String, chunkKind: String,
      rowSchema: SparkSession => StructType, fpBucketed: Boolean) {

    def flatDir(outDir: String, b: Long): String = s"$outDir/state/$flat/batch=$b"

    private def chunkDir(outDir: String, c: Long): String =
      s"$outDir/state/$chunk/chunk=$c"

    private def rows(spark: SparkSession): StructType =
      stateSchemas.getOrElseUpdate(s"$flat/rows", rowSchema(spark))

    private def flatSchema(spark: SparkSession): StructType =
      stateSchemas.getOrElseUpdate(flat, rows(spark).add("batch", LongType))

    private def chunkSchema(spark: SparkSession): StructType =
      if (!fpBucketed) flatSchema(spark)
      else stateSchemas.getOrElseUpdate(chunk, rows(spark).add("bucket", IntegerType))

    private def withFpBucket(df: DataFrame): DataFrame =
      df.withColumn("bucket", FpLog.bucket(col("fp")))

    /** Write epoch `e`'s rows — flat, or as an fp-bucketed chunk — and
      * read them back by explicit schema.
      */
    def append(spark: SparkSession, outDir: String, e: Long, rs: DataFrame,
        asChunk: Boolean): DataFrame =
      if (asChunk) {
        withFpBucket(rs).coalesce(8)
          .write.mode(SaveMode.Overwrite).partitionBy("bucket")
          .parquet(chunkDir(outDir, e))
        spark.read.schema(chunkSchema(spark)).parquet(chunkDir(outDir, e))
          .select(rows(spark).fieldNames.toSeq.map(col): _*)
      } else {
        rs.write.mode(SaveMode.Overwrite).parquet(flatDir(outDir, e))
        spark.read.schema(rows(spark)).parquet(flatDir(outDir, e))
      }

    /** Fold the flats in (`b.folded`, `epochId`) into `chunk=<epochId>`
      * once [[FpCompactAt]] of them pile up. Deterministic per epoch, so
      * a crash replay rewrites the same chunk.
      */
    def fold(spark: SparkSession, outDir: String, epochId: Long,
        b: Batches): Batches = {
      val foldable = childIds(spark, s"$outDir/state/$flat", "batch=")
        .filter(x => x > b.folded && x < epochId).toSeq.sorted
      if (foldable.size < FpCompactAt) b
      else {
        val bytes = foldable.map(x => dirBytes(spark, flatDir(outDir, x))).sum
        val parts = math.min(8L, 1L + bytes / (256L << 20)).toInt
        val flats = spark.read.schema(flatSchema(spark))
          .parquet(s"$outDir/state/$flat")
          .filter(col("batch").isInCollection(foldable))
        (if (fpBucketed)
          withFpBucket(flats.select(rows(spark).fieldNames.toSeq.map(col): _*))
            .coalesce(parts).write.partitionBy("bucket")
        else flats.coalesce(parts).write)
          .mode(SaveMode.Overwrite).parquet(chunkDir(outDir, epochId))
        Batches(foldable.max, (b.chunks :+ epochId).distinct.sorted)
      }
    }

    /** The live rows of `b` as `cols`: flats above the watermark up to
      * batch `upTo` (a crash between a fold's commit and its cleanup
      * leaves folded flats on disk; an out-of-order dir may hold newer
      * ones) plus the live chunks (never an orphan), pruned to `buckets`
      * on an fp-bucketed log.
      */
    def live(spark: SparkSession, outDir: String, b: Batches, upTo: Long,
        cols: Seq[String], buckets: Option[Seq[Int]]): DataFrame = {
      val root = s"$outDir/state/$flat"
      val flats =
        if (hasDataFiles(spark, root))
          spark.read.schema(flatSchema(spark)).parquet(root)
            .filter(col("batch") > b.folded && col("batch") <= upTo)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          flatSchema(spark))
      b.chunks.map { c =>
        val rs = spark.read.schema(chunkSchema(spark)).parquet(chunkDir(outDir, c))
        buckets.fold(rs)(bs => rs.filter(col("bucket").isInCollection(bs)))
          .select(cols.map(col): _*)
      }.foldLeft(flats.select(cols.map(col): _*))(_ unionByName _)
    }

    private def drop(spark: SparkSession, outDir: String, flatsThrough: Long,
        deadChunk: Long => Boolean): Unit = {
      childIds(spark, s"$outDir/state/$flat", "batch=").filter(_ <= flatsThrough)
        .foreach(x => deleteDir(spark, flatDir(outDir, x)))
      childIds(spark, s"$outDir/state/$chunk", "chunk=").filter(deadChunk)
        .foreach(c => deleteDir(spark, chunkDir(outDir, c)))
    }

    /** Drop flats folded into a committed chunk, and orphan chunks below
      * `epochId` (an empty live list prunes no chunk — only less).
      */
    def prune(spark: SparkSession, outDir: String, b: Batches,
        epochId: Long): Unit =
      drop(spark, outDir, b.folded,
        c => b.chunks.nonEmpty && c < epochId && !b.chunks.contains(c))

    /** Drop every flat and chunk below `epochId` — superseded by a
      * consolidated rewrite at `epochId`.
      */
    def pruneBefore(spark: SparkSession, outDir: String, epochId: Long): Unit =
      drop(spark, outDir, epochId - 1L, _ < epochId)

    def encode(b: Batches): Seq[CommitRow] =
      (if (b.folded >= 0L) Seq(CommitRow(foldedKind, epoch = Some(b.folded)))
        else Nil) ++ b.chunks.sorted.map(c => CommitRow(chunkKind, epoch = Some(c)))

    def decode(rs: Seq[CommitRow]): Batches =
      Batches(rs.find(_.kind == foldedKind).flatMap(_.epoch).getOrElse(-1L),
        rs.filter(_.kind == chunkKind).flatMap(_.epoch).sorted)
  }

  private def winSchema(spark: SparkSession): StructType =
    Curation.winFpsOver(spark.range(0).select(col("id").as("doc_id"),
      array(lit("")).as("toks")), 1).schema

  /** The window-fp log `(doc_id, fp)` of every doc's sub-width windows:
    * the crossing probe's source. Its founding batch — the log's
    * token-scale bulk — is written as a chunk at birth.
    */
  private[graft] val WinvLog = new BatchLog("winv", "winvc", "wv", "wvc",
    winSchema, fpBucketed = true)

  /** Decontam-width window fps (gate-on): what makes [[regate]]
    * possible without the dropped docs' text.
    */
  private[graft] val WincLog = new BatchLog("winc", "wincc", "wc", "wcc",
    winSchema, fpBucketed = false)

  /** Quarantined text of contaminated, otherwise-kept docs (gate-on):
    * what [[regate]] resurrects from.
    */
  private[graft] val QuarLog = new BatchLog("quar", "quarc", "qf", "qfc",
    spark => emptyVerdictState(spark)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"))
      .withColumn("text", lit("").cast("string")).schema,
    fpBucketed = false)

  /** ROLLING-compaction bucket selection: the k longest layer lists
    * (k = half the buckets — each log folds every third epoch, see
    * [[BucketLog.rolled]], so covering all buckets within the
    * FpCompactAt - 2 epoch budget takes two turns; only lists of ≥ 3
    * layers are worth folding), plus every bucket at the hard bound.
    * Called on the pointer map AFTER this epoch's delta append; a pure
    * function of it, so a crash replay folds the same set. With uniform
    * touching the selection rotates through all buckets in ~6 epochs,
    * keeping every bucket's fan-out ≤ FpCompactAt while amortized fold
    * bandwidth stays the same ~state/(FpCompactAt - 2) per epoch an
    * all-buckets-at-once compaction would pay in one periodic 2× spike.
    * Skewed streams self-target: lists only grow for touched buckets, so
    * the longest-list rule folds exactly the hot ones.
    */
  private[graft] def rollSet(ptr: Map[Int, Seq[Long]], nBuckets: Int)
      : Set[Int] = {
    val k = math.max(1, (nBuckets + 1) / 2)
    val cands = ptr.toSeq.filter(_._2.size >= 3)
      .sortBy { case (b, es) => (-es.size, b) }
    (cands.take(k) ++ cands.filter(_._2.size >= FpCompactAt))
      .map(_._1).toSet
  }

  // numShards + benchmark (gate flag, fp signature) validated once per
  // (JVM, outDir) against the meta artifact; the DISK stays the
  // authority (see the re-validation note in curateEpoch)
  private val metaCache =
    scala.collection.concurrent.TrieMap[String, (Int, Boolean, Long, Long)]()

  // the benchmark's checkpointed window-fp frame + signature, cached per
  // (JVM, outDir) for the SAME frame object only (identity, not
  // semantics — a different frame must recompute so benchmark drift
  // still reaches the meta check): (frame passed in, its fps, its sig).
  // Bounded: entries pin checkpointed executor blocks (freed by the
  // ContextCleaner once unreferenced), so a long-lived driver cycling
  // many outDirs must not accumulate one forever-live frame per dir.
  private[graft] val benchCache =
    scala.collection.concurrent.TrieMap[String, (DataFrame, DataFrame, (Long, Long))]()
  private val BenchCacheMax = 16
  private def benchCachePut(outDir: String,
      v: (DataFrame, DataFrame, (Long, Long))): Unit = {
    while (benchCache.size >= BenchCacheMax)
      benchCache.keys.find(_ != outDir) match {
        case Some(k) => benchCache.remove(k)
        case None => return
      }
    benchCache.put(outDir, v)
    ()
  }

  /** One row of the per-epoch commit artifact `state/commit/epoch=<e>` —
    * ALL of an epoch's driver-scale state in one parquet write, which is
    * also the epoch's COMMIT MARKER (written last). Kinds: `fp`/`v`/`k`,
    * a [[BucketLog]]'s pointer rows (one per (bucket, layer), with the
    * bucket count); `wv`/`wvc`, `wc`/`wcc`, `qf`/`qfc`, a [[BatchLog]]'s
    * folded-through watermark and live chunks; `fpu`, an fp bucket whose
    * head fold is union-written (see [[EpochState]]); `roll`, the
    * cumulative per-(lang, source) report rollup; `shard`, per-shard
    * kept-doc counts (manifest validation); `res`, the epoch's
    * [[EpochResult]]; `rg`, a regate's marker. Folding the report and
    * shard counts forward here is what removes the last O(corpus)
    * per-epoch aggregation: deltas come from the touched rows only, and
    * the cumulative values ride this artifact.
    */
  private[graft] final case class CommitRow(kind: String,
      bucket: Option[Int] = None, epoch: Option[Long] = None,
      n_buckets: Option[Int] = None,
      lang: Option[String] = None, source: Option[String] = None,
      docs_in: Option[Long] = None, docs_kept: Option[Long] = None,
      tokens_kept: Option[Long] = None, docs_contam: Option[Long] = None,
      shard: Option[Int] = None, n_kept: Option[Long] = None,
      docs_seen: Option[Long] = None, added: Option[Long] = None,
      removed: Option[Long] = None, changed_shards: Option[Seq[Int]] = None,
      // 'rg' rows only: the regate's benchmark fingerprint, so a replay
      // can verify it carries the SAME benchmark the committed regate
      // flagged state against before re-pinning the meta (absent on
      // every other kind)
      bench_n: Option[Long] = None, bench_x: Option[Long] = None)

  private[graft] final case class RollRow(lang: String, source: String,
      docsIn: Long, docsKept: Long, tokensKept: Long, docsContam: Long)

  /** In-memory image of a committed epoch's commit artifact: the extent
    * of each bucketed log ([[FpLog]], [[VLog]], [[KLog]]) and each batch
    * log ([[WinvLog]], [[WincLog]], [[QuarLog]]), the cumulative rollup
    * and shard counts, and `fpUnion` — fpcnt buckets whose head fold
    * holds UNMERGED rows (≤ 2 per fp: the previous head's row + one
    * summed delta row), written by a UNION fold that skips the
    * state-scale sum exchange; such a bucket's next fold MUST merge, so
    * rows-per-fp stays ≤ 2 and roughly half of every fold's slice pays
    * the exchange.
    */
  private[graft] final case class EpochState(fp: Layers, v: Layers, k: Layers,
      wv: Batches, wc: Batches, q: Batches,
      rollup: Map[(String, String), RollRow], shardKept: Map[Int, Long],
      fpUnion: Set[Int]) {
    def docsSeen: Long = rollup.values.map(_.docsIn).sum
    def docsKept: Long = rollup.values.map(_.docsKept).sum
    def bucketed: Seq[(BucketLog, Layers)] = Seq(FpLog -> fp, VLog -> v, KLog -> k)
    def batched: Seq[(BatchLog, Batches)] =
      Seq(WinvLog -> wv, WincLog -> wc, QuarLog -> q)
  }

  /** The state before the founding epoch. */
  private def emptyState: EpochState = EpochState(FpLog.none, VLog.none,
    KLog.none, Batches(-1L, Nil), Batches(-1L, Nil), Batches(-1L, Nil),
    Map.empty, Map.empty, Set.empty)

  // steady-state epochs skip the commit-artifact read: the previous
  // epoch's state is cached per (JVM, outDir), keyed by the epoch id it
  // describes — a cache entry is only trusted when the DISK's newest
  // committed epoch matches it
  private val stateCache =
    scala.collection.concurrent.TrieMap[String, (Long, EpochState)]()

  /** One micro-batch epoch of the APPEND-MODE curation pipeline: fold a new
    * chunk of documents into the same corpus/manifest/report artifacts
    * [[curate]] writes in one shot, such that after any number of epochs
    * the artifacts EQUAL a one-shot run over the union (PipelineIncrSpec
    * pins corpus, manifest, and report equality, including across a
    * mid-run restart).
    *
    * Why this is not a per-doc gate: funnel gates 3–4 are corpus-GLOBAL —
    * a later epoch can deliver a smaller doc_id that displaces a bag-dedup
    * keeper, or new window fps that push an accepted doc over the span
    * threshold — so an already-kept document can retroactively flip to
    * dropped. Under append-only delivery those are the ONLY possible
    * flips, and both are MONOTONE (per-bag min doc_id only decreases;
    * per-fp distinct-doc counts only grow; the doc-local gates — including
    * the optional benchmark-contamination gate — are fixed at first
    * sight), which is what makes the epoch INCREMENTAL: verdicts are
    * maintained as updatable per-doc state
    * (`(doc_id, lang, source, n_tok, h, bag, bag_keep, n_win, n_dup,
    * contam, kept)`) plus one per-fp aggregate `(fp, nd)`, and each epoch
    * delta-joins the batch against them instead of re-aggregating every
    * doc ever seen:
    *
    *  - batch-only heavy lifting: tokenize, signals, window fps — O(batch)
    *    shuffles, nothing corpus-keyed;
    *  - re-delivered docs are detected by a broadcast probe of the batch's
    *    ids against the verdict state (bucket-PRUNED scan, no shuffle) and
    *    contribute nothing; a batch with NO new docs short-circuits to the
    *    commit write (the steady-state heartbeat epoch costs a handful of
    *    batch-local jobs);
    *  - per-fp counts merge by a (size-gated, see [[FpBroadcastMaxRows]])
    *    broadcast join of the batch's fp tallies against the previous
    *    epoch's `fpcnt` buckets (scan + map-side rewrite); fps CROSSING
    *    the duplicate threshold (nd 1→≥2) come out of that merge, and the
    *    docs they touch come from a broadcast probe of the batch-keyed
    *    window-fp log — shuffle O(touched), not O(corpus);
    *  - keeper displacement comes from a broadcast join of the batch's
    *    per-bag minima against the bag-keyed keeper side-state
    *    (`state/kbkt`, `bag -> keeper`, bucketed by a hash of the bag)
    *    — read pruned to the batch's bag buckets, maintained
    *    by a ≤ batch-bag-scale delta per epoch, so no epoch scans the
    *    verdict layers for keepers;
    *  - the new verdict rows are ONLY the touched buckets' rows re-emitted
    *    with the flips applied (map-side scan + broadcast joins) plus the
    *    batch's fresh rows — added/removed fall out of the SAME pass
    *    (added ⊆ the batch by monotonicity; removed = previously-kept docs
    *    whose flip landed this epoch), and the per-(lang, source) report
    *    rollup and per-shard kept counts fold FORWARD from those deltas
    *    (two tiny aggregations over the touched rows; the cumulative
    *    values ride the commit artifact) — no corpus-scale aggregation,
    *    write, or exceptAll ever runs.
    *
    * Crash safety follows the commit-marker design: every write is
    * batch/epoch-keyed and deterministic from (base state, batch); the
    * epoch's COMMIT ARTIFACT (`state/commit/epoch=<e>` — both pointer
    * maps, the cumulative rollup, shard counts, and the result row in one
    * tiny parquet) is written LAST and its `_SUCCESS` is the commit
    * marker; a completed epoch short-circuits its own replay via that
    * marker. The one genuinely destructive window — dynamic partition
    * overwrite of the corpus deletes changed shards' old bytes at job
    * commit — is closed by STAGING: the changed shards' full new content
    * lands under `state/staging/epoch=<e>/base=<b>` (keyed by the delta
    * base so a stale attempt's staging can never be replayed against the
    * wrong base) before the corpus overwrite starts, so a crash
    * mid-overwrite replays from staging without re-reading the
    * half-rewritten shards. Text state is TRANSIENT and bounded by the
    * changed shards: by the monotonicity argument every doc a rewrite can
    * need is either in a live shard (carried over) or in the current
    * batch (newly added).
    *
    * Scale shape: per epoch the shuffled rows are O(batch + touched keys)
    * (PipelineIncrSpec pins this with a task-metrics listener) and the
    * state WRITE volume is O(batch + flipped docs), not O(corpus) —
    * even when the batch's keys saturate every hash bucket. The state
    * has two shapes. The keyed state — per-fp counts (`state/fpcnt`),
    * verdict rows (`state/vbkt`), bag keepers (`state/kbkt`) — is a
    * [[BucketLog]]: an epoch appends only its own rows as a layer, the
    * commit artifact's pointer rows record which layers hold live rows
    * per bucket, and readers merge the pointed layers after a
    * bucket-pruned, semi-joined read (O(touched-bucket bytes) columnar —
    * the parquet-state analogue of the point lookups the streaming twin's
    * RocksDB serves). A ROLLING fold ([[rollSet]]) keeps every bucket's
    * fan-out ≤ [[FpCompactAt]] at the amortized bandwidth an all-at-once
    * compaction would pay, but smoothly: no periodic 2× epoch. This is
    * the LSM shape: without it, a micro-batch whose keys touch every
    * bucket (B distinct fps saturate K << B buckets) would force an
    * O(state) rewrite per epoch however fine the bucketing. The
    * batch-keyed state no epoch supersedes — window fps (`state/winv`),
    * decontam fps (`state/winc`), quarantined text (`state/quar`) — is a
    * [[BatchLog]]: one flat dir per epoch, folded into immutable chunks.
    * The window log is read only under a broadcast of crossing fps, and
    * not at all in the no-crossing steady state. Driver-side collects
    * stay ≤ max(numShards, bucket count, |lang×source| — the report's
    * own reviewable cardinality) rows. Re-delivered docs (same doc_id in
    * several batches, same text — the at-least-once contract) collapse
    * via the seen-id probe.
    *
    * With `benchmark` set, fresh docs additionally carry the q104
    * contamination flag (window-fp intersection with the benchmark,
    * evaluated ONCE at first sight — doc-local and fixed, so the
    * monotonicity argument is unchanged) and the report gains
    * `docs_contaminated`. The benchmark is pinned by a fingerprint in
    * the meta artifact: an epoch called with a different benchmark (or
    * with the gate toggled) fails loudly instead of silently mixing two
    * gate regimes in one corpus.
    */
  def curateEpoch(batch: DataFrame, outDir: String, numShards: Int,
      epochId: Long, benchmark: Option[DataFrame] = None): EpochResult = {
    // AQE off for the epoch's scope: every epoch plan is already
    // explicitly shaped — size-gated broadcast probes, coalesce'd layer
    // writes, batch-scale shuffles — so AQE's only observable effect
    // here is materializing each query stage as its own job, which at
    // tail-batch scale was ~30 extra driver round-trips (~1.5 s) of
    // pure fixed overhead per epoch. Skew/coalescing never kick in on
    // these shapes (measured: plans and shuffle-record counts identical
    // either way), and the founding epoch's heavy lifting is bounded by
    // the same explicit shapes. Scope boundary: startIncremental's
    // foreachBatch hands each batch a CLONED session with isolated conf,
    // so production streams never see this toggle; only ad-hoc queries
    // sharing a session with DIRECT curateEpoch calls plan inside the
    // epoch's AQE-off window.
    // Reentrancy-safe per SESSION (concurrent epochs of different
    // outDirs may share one session): only the first epoch in saves
    // the prior value and sets false, only the last one out restores —
    // a naive save/restore pair could interleave as save(true),
    // save(false), restore(true), restore(false) and leave AQE off for
    // the session permanently.
    val spark = batch.sparkSession
    aqeScope.synchronized {
      val (depth, saved) = aqeScope.getOrElse(spark, (0,
        spark.conf.getOption("spark.sql.adaptive.enabled")))
      aqeScope.put(spark, (depth + 1, saved))
      if (depth == 0) spark.conf.set("spark.sql.adaptive.enabled", "false")
    }
    try {
      testEpochBarrier.foreach(
        _.await(60, java.util.concurrent.TimeUnit.SECONDS))
      curateEpochBody(batch, outDir, numShards, epochId, benchmark)
    } finally aqeScope.synchronized {
      val (depth, saved) = aqeScope(spark)
      if (depth > 1) aqeScope.put(spark, (depth - 1, saved))
      else {
        aqeScope.remove(spark)
        saved match {
          case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
          case None => spark.conf.unset("spark.sql.adaptive.enabled")
        }
      }
    }
  }

  // session -> (active curateEpoch count, AQE value to restore at 0)
  private val aqeScope =
    scala.collection.mutable.Map[SparkSession, (Int, Option[String])]()

  private def curateEpochBody(batch: DataFrame, outDir: String,
      numShards: Int, epochId: Long, benchmark: Option[DataFrame])
      : EpochResult = {
    val spark = batch.sparkSession
    val commitDir = s"$outDir/state/commit"

    // a COMPLETED epoch short-circuits its own replay (the commit marker
    // landed, so every artifact is already applied — only the post-marker
    // cleanup may be outstanding): redo the idempotent cleanup and return
    // the persisted result. Without this, a replay that arrives after the
    // prune (no earlier base left) would treat the whole corpus as one
    // batch-sized delta and lose every non-batch doc from the state.
    if (isCommitted(spark, s"$commitDir/epoch=$epochId")) {
      cleanupAfterCommit(spark, outDir, epochId, None)
      return readEpochResult(spark, outDir, epochId)
    }

    // the benchmark's window-fp set: used for the meta fingerprint AND
    // the fresh-doc contamination probe (gate-on epochs only). The
    // benchmark is pinned immutable for the life of the outDir, so its
    // fps + signature are cached per (JVM, outDir) — but ONLY for the
    // same frame OBJECT (the startIncremental loop passes one reference
    // per run): a different frame recomputes, so in-JVM benchmark drift
    // still reaches the meta check below instead of hiding behind the
    // cache. Steady-state epochs thus pay zero benchmark-scale jobs.
    val gateOn = benchmark.isDefined
    // fps and sig resolve from ONE cache tuple: re-indexing the shared map
    // after the put was a TOCTOU race — with many concurrent gate-on
    // outDirs, a sibling epoch's put can evict THIS outDir's entry (the
    // cache holds 16) between the put and a second lookup
    val (benchFps: Option[DataFrame], sig: (Long, Long)) = benchmark match {
      case None => (None, (0L, 0L))
      case Some(b) =>
        val entry = benchCache.get(outDir) match {
          case Some(e) if e._1 eq b => e
          case _ =>
            val fps = Curation.benchmarkFps(b).localCheckpoint()
            val e = (b, fps, benchSig(fps))
            benchCachePut(outDir, e)
            e
        }
        (Some(entry._2), entry._3)
    }

    // the shard count and benchmark are immutable per outDir — PIN both
    // before any write: an epoch called with a different shard count
    // would silently mix two layouts in one corpus while the audit keeps
    // the founding count, and a drifted benchmark would break the
    // fixed-at-first-sight monotonicity of the contamination flag.
    // The gate FLAG is pinned separately from the fp fingerprint: a
    // benchmark with zero window fps signs (0, 0) — identical to
    // gate-off — so the flag alone is what keeps a fp-less benchmark
    // from silently toggling the report shape between epochs.
    // Validated once per (JVM, outDir), so the check costs a 1-row read
    // only on the first epoch after a restart; the meta artifact itself
    // writes once (a crash mid-write leaves a fileless dir, which
    // rewrites). The JVM-lifetime cache yields to the DISK whenever the
    // meta artifact has no data files: an outDir wiped and re-founded in
    // the same JVM must found cleanly with its new parameters, not fail
    // against the stale cached ones (the per-epoch listing of the 1-file
    // meta dir is the price of that correctness).
    val metaLive = hasDataFiles(spark, s"$outDir/meta")
    def requireMeta(stored: (Int, Boolean, Long, Long)): Unit = {
      require(stored._1 == numShards,
        s"outDir $outDir was founded with numShards=${stored._1}; " +
          s"epoch called with $numShards")
      require(stored._2 == gateOn && (stored._3, stored._4) == sig,
        s"outDir $outDir was founded with benchmark " +
          s"(gate=${stored._2}, fingerprint (${stored._3}, ${stored._4})); " +
          s"epoch called with (gate=$gateOn, $sig) — the decontamination " +
          "benchmark must stay fixed for the life of an incremental " +
          "outDir (gate toggles included)")
    }
    metaCache.get(outDir) match {
      case Some(st) if metaLive => requireMeta(st)
      case _ =>
        if (metaLive) {
          val r = spark.read.parquet(s"$outDir/meta").head()
          requireCurrentLayout(spark, outDir, Some(r), None)
          requireMeta((r.getAs[Int]("num_shards"), r.getAs[Boolean]("bench_on"),
            r.getAs[Long]("bench_n"), r.getAs[Long]("bench_x")))
        } else writeMeta(spark, outDir, numShards, sig, gateOn)
        metaCache.put(outDir, (numShards, gateOn, sig._1, sig._2))
    }

    // the batch is read ONCE: `text` rides the checkpoint next to `toks`,
    // so the id probe and the staging/quarantine text joins below read
    // the checkpointed blocks instead of re-scanning the source (a
    // stream's input-rate figures would otherwise count every re-scan)
    val base = batch.select(col("doc_id"), col("lang"), col("source"), col("text"))
      .dropDuplicates("doc_id")
      .withColumn("toks", graft.functions.TextFunctions.wsTokens(col("text")))
      .localCheckpoint() // feeds the signal + window derivations below
    val batchText = base.select(col("doc_id"), col("text"))

    // delta base: the newest COMMITTED earlier epoch (marker = the commit
    // artifact's _SUCCESS; a crashed attempt of THIS epoch is handled by
    // the short-circuit above). Driver FS listing.
    val committed = committedEpochs(spark, outDir)
    // defense in depth (mirrors the winv `batch <= epochId` filter): an
    // epoch OLDER than the newest committed one whose own commit artifact
    // was already pruned would find no base, re-found from empty state,
    // and its cleanup would then prune layer dirs the newest commit still
    // references — silent state corruption. Unreachable under the
    // sequential foreachBatch contract; a manual / out-of-order replay
    // must fail loudly instead.
    require(committed.forall(_ <= epochId),
      s"epoch $epochId arrived after newer committed epoch(s) " +
        s"${committed.filter(_ > epochId).sorted.mkString(", ")} in $outDir — " +
        "an out-of-order replay would re-found from empty state and prune " +
        "layers the newest commit references; only uncommitted or the " +
        "newest epoch may replay")
    // an UNCOMMITTED regate may be in flight (fingerprint recorded, and
    // possibly its quarantine consolidation, staged shards, or even the
    // corpus apply already landed). NO epoch may proceed over that: a
    // stream restart re-bases to the regate's own natural id and would
    // OVERWRITE the consolidated quarantine — the only stored text of
    // docs the apply already removed — and any epoch would carry the
    // half-revised shards' v2 content forward under v1 verdict state
    // (silent corpus/state divergence). Finishing the regate (same id,
    // its original benchmark) repairs everything in one call; its
    // commit-time cleanup then releases this guard. Cost here: one FS
    // listing of a dir that exists only while a regate is unfinished.
    val inflightRegates = childIds(spark, s"$outDir/state/staging", "regate=")
      .filter(r => isCommitted(spark, s"$outDir/state/staging/regate=$r/bsig"))
      .filterNot(committed.contains)
    require(inflightRegates.isEmpty,
      s"a regate at epoch ${inflightRegates.toSeq.sorted.mkString(", ")} in " +
        s"$outDir crashed before committing — its quarantine/staging/corpus " +
        "writes may be half-applied, so no epoch may run over them; finish " +
        "the regate with its original benchmark first")
    val lastCommitted: Option[Long] =
      committed.filter(_ < epochId).maxOption
    // the delta base's committed state; None only for the founding epoch
    val prevState: Option[EpochState] =
      lastCommitted.map(e => loadEpochState(spark, outDir, e, useCache = true))
    val prev = prevState.getOrElse(emptyState)

    // re-delivery: batch ids already in the state contribute nothing new
    // (same doc_id ⇒ same text under the at-least-once contract). The
    // probe broadcasts the BATCH side against a bucket-PRUNED scan of the
    // state (only the buckets the batch's ids can live in are read);
    // `seenIds` is ≤ batch-sized.
    val batchIds = base.select(col("doc_id"))
    val batchBuckets: Seq[Int] = base.select(VLog.bucket(col("doc_id")).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val seenIds = VLog.read(spark, outDir, prev.v, Some(batchBuckets))
      .select(col("doc_id"))
      .join(broadcast(batchIds), Seq("doc_id")).distinct().localCheckpoint()
    val batchSigs = Curation.docSignals(base)
    val newSigs = batchSigs.join(broadcast(seenIds), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val newIds = newSigs.select(col("doc_id"))
    // NEW docs only — every probe and state write below derives from the
    // seen-filtered batch, so re-delivered docs contribute nothing twice
    val newBase = base.join(broadcast(seenIds), Seq("doc_id"), "left_anti")

    // FAST PATH: a batch with no new docs cannot move any verdict (flips
    // only arise from new docs' bags and window fps), so the epoch is a
    // heartbeat — carry every pointer and cumulative value forward and
    // write only the commit marker (no winv dir either — a re-delivered
    // doc's windows already sit in the batch dir that first landed it).
    if (prevState.isDefined && newSigs.isEmpty) {
      val st = prevState.get
      // the stored-manifest shard-set validation (and the report-existence
      // bootstrap) run on heartbeat epochs too — external corruption must
      // be repaired on the NEXT epoch of any kind, not persist for as long
      // as only re-delivered batches arrive. Costs one ≤ numShards collect
      // when consistent; rewrites nothing (artifact bytes untouched — the
      // heartbeat pin holds).
      syncManifest(spark, outDir, numShards, st.shardKept.keySet, Nil)
      if (!hasDataFiles(spark, s"$outDir/report"))
        writeReport(spark, s"$outDir/report", st.rollup.values.toSeq,
          withContam = gateOn)
      val result = EpochResult(epochId, st.docsSeen, st.docsKept, 0L, 0L, Nil)
      writeCommit(spark, outDir, epochId, st, result)
      cleanupAfterCommit(spark, outDir, epochId, Some(st))
      return result
    }

    // the epoch's window-fp rows, for the NEW docs only (filtered BEFORE
    // the write: a re-delivered doc's windows are already in the batch
    // that first landed it, so appending them again would grow the one
    // unbounded token-scale state by pure duplicates; the seen filter is
    // deterministic, so a same-epoch replay rewrites the same bytes).
    // The FOUNDING batch — the log's token-scale bulk — is written as an
    // fp-bucketed chunk at birth, so a later crossing probe
    // partition-prunes it; tail batches stay flat (batch-scale: reading
    // them whole is cheap, and partitionBy on a batch-scale write is the
    // measured 2 s/epoch file fan-out) until the log's fold re-buckets
    // them in bulk. "Founding" = the first batch to see any doc: an empty
    // batch 0 (a stream that triggered before data arrived) must not rob
    // the real founding mass of its bucketed-at-birth write.
    val winvIsChunk = prev.docsSeen == 0L
    val newWins = WinvLog.append(spark, outDir, epochId,
      Curation.winFpsOver(newBase.select(col("doc_id"), col("toks")),
        Curation.SubWidth), asChunk = winvIsChunk)

    // per-fp distinct-doc counts: merge the batch's tallies into
    // [[FpLog]], reading only the buckets the batch touches (untouched
    // buckets keep their bytes and their pointer) — per-epoch fp I/O is
    // O(touched buckets), not O(all fps). `updated` (batch fps that
    // already existed) and `fresh` (fps first seen this batch) are both
    // ≤ batch-sized.
    val contrib = newWins.groupBy(col("fp")).agg(count(lit(1)).as("add"))
      .withColumn("bucket", FpLog.bucket(col("fp")))
      .localCheckpoint()
    // one local pass over the checkpointed tallies yields both the
    // touched-bucket list and the fp count that gates the broadcasts
    val tallies = contrib.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect()
    val touched: Seq[Int] = tallies.map(_.getInt(0)).toSeq.sorted
    val nContribFps: Long = tallies.map(_.getLong(1)).sum
    // fp-scale broadcast gate (see FpBroadcastMaxRows): oversized batches
    // fall back to shuffle joins for the fp-keyed probes
    val bcastFp: DataFrame => DataFrame =
      if (nContribFps <= FpBroadcastMaxRows) df => broadcast(df)
      else df => df
    // prior merged counts of exactly the BATCH's fps: filter the layered
    // scan to the batch's fp set (broadcast semi) BEFORE the sum-merge,
    // so the aggregation's exchange moves O(batch × layers) rows — a
    // groupBy over the raw layers would re-shuffle every fp in the
    // touched buckets each epoch, breaking the pinned shuffle budget
    val fPrevFold: DataFrame = FpLog.merge(
      FpLog.read(spark, outDir, prev.fp, Some(touched))
        .join(bcastFp(contrib.select(col("fp"))), Seq("fp"), "left_semi"))
    val updated = fPrevFold.join(bcastFp(contrib.select(col("fp"), col("add"))),
      Seq("fp")).localCheckpoint()
    val fresh = contrib.join(bcastFp(updated.select(col("fp"))),
      Seq("fp"), "left_anti").select(col("fp"), col("add").as("nd"))
    // the epoch's fp layer is the batch's tallies as they are. Write
    // parallelism: one task is right for a tail batch, but a founding or
    // backfill delta IS the state, so it is sized from the fp tally,
    // capped at the fold write parallelism so file fan-out stays bounded
    val fpApp = FpLog.append(spark, outDir, epochId, prev.fp,
      contrib.select(col("fp"), col("add").as("nd"), col("bucket"))
        .coalesce(math.min(8L, 1L + nContribFps / 4000000L).toInt), touched)
    // rolling fold. The fp merge is the one fold that pays a state-scale
    // exchange (counts must co-locate per fp to sum), and the fp state is
    // TOKEN-scale — the largest periodic cost an epoch sees. So each
    // fold's slice splits in two: a MERGE half pays the sum exchange and
    // lands 1 row/fp; a UNION half skips it — the bucket's head rows pass
    // through untouched plus ONE summed row over its tail deltas (a
    // delta-scale exchange). Union-written buckets are recorded in the
    // commit (`fpUnion`) and MUST merge on their next fold, so rows-per-fp
    // in any head layer stays ≤ 2 (readers sum rows per fp anyway) while
    // the per-fold exchange roughly halves. Hard-bound (out-of-turn) folds
    // always merge. All of it is a pure function of (committed fpUnion,
    // fpApp, epochId), so a crash replay folds the same split; a
    // re-bucket's full copy starts the union set over.
    val fpUnionBase: Set[Int] =
      if (prev.fp.nb != FpLog.nBuckets) Set.empty else prev.fpUnion
    val fpRolled = FpLog.rolled(epochId, fpApp)
    val unionFp: Set[Int] = fpRolled.filter(b =>
      !fpUnionBase(b) && !fpApp.ptr.get(b).exists(_.size >= FpCompactAt) &&
        (((b + epochId) % 2) + 2) % 2 == 1)
    val mergeFp: Set[Int] = fpRolled -- unionFp
    def fpRows(ptr: Map[Int, Seq[Long]]): DataFrame =
      FpLog.read(spark, outDir, Layers(ptr, FpLog.nBuckets), None)
    val fpNew = FpLog.roll(spark, outDir, epochId, fpApp, Some(_ => {
      val heads = fpApp.ptr.view.filterKeys(unionFp)
      FpLog.merge(FpLog.read(spark, outDir, fpApp, Some(mergeFp)))
        // head rows pass through (≤ 1 row/fp — a union bucket's head is
        // never itself union-written, by the must-merge rule); tail
        // deltas sum into one row per fp
        .unionByName(fpRows(heads.mapValues(_.take(1)).toMap)
          .select(col("fp"), col("nd")))
        .unionByName(FpLog.merge(fpRows(heads.mapValues(_.drop(1)).toMap)))
        .withColumn("bucket", FpLog.bucket(col("fp")))
    }))
    val fpUnionNew = (fpUnionBase ++ unionFp) -- mergeFp

    // fps that CROSSED the duplicate threshold this epoch (an existing
    // doc's window flips non-dup → dup exactly when its fp crosses; a
    // fresh fp's holders are all in the batch and are handled fresh)
    val crossed = updated.filter(col("nd") < 2 && col("nd") + col("add") >= 2)
      .select(col("fp"))
    // Δn_dup for EXISTING docs holding a crossed fp: probe the batch-keyed
    // window log under a broadcast of the crossing set; distinct collapses
    // cross-batch re-deliveries of the same (doc, fp). The log is the one
    // unbounded (token-scale, append-only) state, so the common steady
    // state — an epoch that crosses NOTHING — must not scan it at all:
    // `crossed` is a local filter over the checkpointed batch-sized merge,
    // so the emptiness probe costs no job.
    val dDup =
      if (crossed.isEmpty)
        spark.range(0).select(col("id").as("doc_id"), col("id").as("d_dup"))
      else {
        // the log's chunks (the founding batch + every fold) are read
        // pruned to the crossed fps' buckets — O(crossed-bucket bytes),
        // not O(log); only the flat tails (≤ FpCompactAt recent
        // batch-scale dirs) are read whole. Live chunks are the COMMITTED
        // ones of the delta base: this epoch's own crash-replayed fold,
        // if any, would double-count the flats it covers (those are only
        // deleted after the commit marker)
        val crossedBuckets: Seq[Int] = crossed
          .select(FpLog.bucket(col("fp")).as("b")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        WinvLog.live(spark, outDir, prev.wv, epochId, Seq("doc_id", "fp"),
            Some(crossedBuckets))
          .join(bcastFp(crossed), Seq("fp"))
          .distinct()
          .join(broadcast(newIds), Seq("doc_id"), "left_anti")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("d_dup"))
          .localCheckpoint()
      }

    // keeper displacement: batch minima vs the CURRENT keepers, read from
    // [[KLog]] pruned to the batch's bag buckets — a steady epoch reads
    // O(batch-bag buckets), never a full verdict scan. Newest row wins
    // per bag, resolved AFTER the broadcast bag join shrinks the
    // candidates.
    // NOT checkpointed: a deterministic single aggregation over the
    // checkpointed newSigs — each consumer (the bucket collect below,
    // the bagMatch broadcast build, freshRows, the kbkt delta) re-runs
    // the cheap batch-scale hash agg inside its own existing job instead
    // of paying a dedicated materialization job per epoch
    val batchMin = newSigs.groupBy(col("bag")).agg(min(col("doc_id")).as("b_min"))
    val bagBuckets: Seq[Int] = batchMin.select(KLog.bucket(col("bag")).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val bagMatch = KLog.read(spark, outDir, prev.k, Some(bagBuckets))
      .join(broadcast(batchMin), Seq("bag"))
      .groupBy(col("bag"), col("b_min"))
      .agg(max_by(col("keeper"), col("_layer")).as("k_id"))
      .select(col("bag"), col("k_id"), col("b_min"))
      .localCheckpoint()
    val displaced = bagMatch.filter(col("b_min") < col("k_id"))
      .select(col("k_id").as("doc_id"), lit(true).as("_disp"))

    // contamination flags for fresh docs (gate-on only): q104's window
    // formula vs the benchmark, evaluated once at first sight. The
    // decontam-width fps are PERSISTED to [[WincLog]] before the probe
    // consumes them: they are what makes a later [[regate]] possible
    // (contamination vs a REVISED benchmark is recomputable from this log
    // for every doc ever seen, without the dropped docs' text). One extra
    // batch-scale write per gate-on epoch — the declared price of
    // benchmark revisability.
    val contamIds: Option[DataFrame] = benchFps.map { bf =>
      Curation.contaminatedOf(WincLog.append(spark, outDir, epochId,
          Curation.winFpsOver(newBase.select(col("doc_id"), col("toks")),
            Curation.DecontamWidth), asChunk = false), bf)
        .withColumn("_cont", lit(true))
    }

    // the existing docs this epoch's deltas FLIP (displaced keepers +
    // crossing-fp holders) — the only old rows the epoch re-emits. ONE
    // tiny collect yields their buckets for the pruned state read.
    val flipIds = displaced.select(col("doc_id"))
      .unionByName(dDup.select(col("doc_id"))).distinct().localCheckpoint()
    val flipBuckets: Seq[Int] = flipIds
      .select(VLog.bucket(col("doc_id")).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

    // assemble the epoch's CHANGED verdict rows only: the flipped docs'
    // old rows re-emitted with the flips applied (bucket-pruned merged
    // read + broadcast joins, map-side) plus the batch's fresh rows —
    // batch-scale, never corpus-scale. kept_prev/is_new ride along so
    // added/removed and the report deltas fall out of the same pass.
    val flipOld =
      // candidates = every layer's rows for the flip docs (bucket-pruned
      // read + broadcast semi-join), then newest row wins per doc — the
      // precedence aggregation shuffles only flip-scale rows
      VLog.merge(VLog.read(spark, outDir, prev.v, Some(flipBuckets))
        .join(broadcast(flipIds), Seq("doc_id")))
    val exist = flipOld
      .withColumnRenamed("kept", "kept_prev")
      .join(broadcast(displaced), Seq("doc_id"), "left")
      .join(broadcast(dDup), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
        col("h"), col("bag"),
        (col("bag_keep") && col("_disp").isNull).as("bag_keep"),
        col("n_win"),
        (col("n_dup") + coalesce(col("d_dup"), lit(0L))).as("n_dup"),
        col("contam"),
        col("kept_prev"), lit(false).as("is_new"))
    val nWinNew = newWins.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
    val dupFpsB = updated
      .select(col("fp"), (col("nd") + col("add")).as("nd2"))
      .unionByName(fresh.select(col("fp"), col("nd").as("nd2")))
      .filter(col("nd2") >= 2).select(col("fp"))
    val nDupNew = newWins.join(bcastFp(dupFpsB), Seq("fp"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("ndp"))
    val freshWithContam = contamIds match {
      case Some(ci) => newSigs.join(broadcast(ci), Seq("doc_id"), "left")
        .withColumn("contam", coalesce(col("_cont"), lit(false))).drop("_cont")
      case None => newSigs.withColumn("contam", lit(false))
    }
    val freshRows = freshWithContam
      .join(batchMin, Seq("bag"))
      .join(broadcast(bagMatch.select(col("bag"), col("k_id"))), Seq("bag"), "left")
      .join(nWinNew, Seq("doc_id"), "left")
      .join(nDupNew, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
        col("h"), col("bag"),
        (col("doc_id") === col("b_min") &&
          (col("k_id").isNull || col("b_min") < col("k_id"))).as("bag_keep"),
        coalesce(col("nw"), lit(0L)).as("n_win"),
        coalesce(col("ndp"), lit(0L)).as("n_dup"),
        col("contam"),
        lit(false).as("kept_prev"), lit(true).as("is_new"))
    val assembled = exist.unionByName(freshRows)
      .withColumn("kept", Curation.contamKept(
        Curation.keptExpr(col("n_tok"), col("h"), col("bag_keep"),
          Curation.spanDropExpr(col("n_win"), col("n_dup"))), col("contam")))
      .localCheckpoint() // consumed by deltas, corpus, verdict write

    // added ⊆ the batch (an existing doc can never flip TO kept under
    // append-only monotonicity); removed = previously-kept docs whose
    // displacement or span flip landed this epoch. Both are filters over
    // the assembled pass; the report rollup and per-shard kept counts
    // FOLD FORWARD from two tiny delta aggregations over the same blocks
    // (cardinality ≤ |lang×source| and ≤ numShards — collected, merged
    // with the previous cumulative values on the driver, and persisted in
    // the commit artifact), so no corpus-scale aggregation runs even on a
    // compaction epoch.
    val isNewKept = col("is_new") && col("kept")
    val isRemovedNow = !col("is_new") && col("kept_prev") && !col("kept")
    val added = assembled.filter(isNewKept)
    val removed = assembled.filter(isRemovedNow).select(col("doc_id"))
    val shardOf = Layout.shardKey(col("doc_id"), numShards)
    // ONE aggregation over the (batch-scale) changed rows yields the
    // report deltas, the shard deltas, AND the changed rows' verdict
    // buckets: cardinality ≤ |lang×source×numShards|, folded on the
    // driver
    val dAgg = assembled.groupBy(col("lang"), col("source"),
        shardOf.as("shard")).agg(
      sum(when(col("is_new"), 1L).otherwise(0L)).as("d_in"),
      sum(when(isNewKept, 1L).otherwise(0L)).as("d_add"),
      sum(when(isRemovedNow, 1L).otherwise(0L)).as("d_rem"),
      sum(when(isNewKept, col("n_tok")).otherwise(0L)).as("d_tok_add"),
      sum(when(isRemovedNow, col("n_tok")).otherwise(0L)).as("d_tok_rem"),
      sum(when(col("is_new") && col("contam"), 1L).otherwise(0L)).as("d_cont"),
      collect_set(VLog.bucket(col("doc_id"))).as("bks"),
      count(lit(1)).as("d_rows"),
      // keeper-delta bookkeeping rides the same pass: a fresh row with
      // bag_keep is EXACTLY a bag whose keeper changed this epoch (fresh
      // bag elected its minimum, or a displaced keeper handed off to it),
      // so the count gates the kbkt delta write and the bucket set
      // replaces its read-back job
      sum(when(col("is_new") && col("bag_keep"), 1L).otherwise(0L)).as("d_keep"),
      collect_set(when(col("is_new") && col("bag_keep"),
        KLog.bucket(col("bag")))).as("kbks"))
      .collect()

    // the epoch's verdict layer: the changed rows (newest row wins on
    // read). Write parallelism from the driver-known CHANGED-ROW count
    // (the fp tally is the wrong proxy here: a founding batch of short or
    // heavily-duplicated docs has ~0 distinct fps but corpus-scale
    // verdict rows); the exact changed-row bucket set rides the dAgg
    // collect
    val vApp = VLog.append(spark, outDir, epochId, prev.v,
      assembled.drop("kept_prev", "is_new")
        .withColumn("bucket", VLog.bucket(col("doc_id")))
        .coalesce(math.min(8L,
          1L + dAgg.iterator.map(_.getLong(10)).sum / 1000000L).toInt),
      dAgg.iterator.flatMap(_.getSeq[Int](9)).toSet.toSeq.sorted)
    // the epoch's keeper layer: one row per bag whose keeper CHANGED this
    // epoch (fresh bags elect their batch minimum; displaced keepers hand
    // off to it) — ≤ batch-bag-scale, derived from the checkpointed
    // batchMin/bagMatch probes, no state re-read. Its bucket set is the
    // delta agg's kbks (same rows, by the d_keep argument), so the steady
    // epoch that elects and displaces nothing writes no layer at all;
    // write parallelism is sized from d_keep like the verdict layer's
    val kApp = KLog.append(spark, outDir, epochId, prev.k,
      batchMin
        .join(broadcast(bagMatch.select(col("bag"), col("k_id"))), Seq("bag"), "left")
        .filter(col("k_id").isNull || col("b_min") < col("k_id"))
        .select(col("bag"), col("b_min").as("keeper"))
        .withColumn("bucket", KLog.bucket(col("bag")))
        .coalesce(math.min(8L,
          1L + dAgg.iterator.map(_.getLong(11)).sum / 1000000L).toInt),
      dAgg.iterator.flatMap(_.getSeq[Int](12)).toSet.toSeq.sorted)
    // rolling folds — newest-wins resolved by one max_by aggregation over
    // the rolled slice (a bounded exchange, constant job count)
    val vNew = VLog.roll(spark, outDir, epochId, vApp, None)
    val kNew = KLog.roll(spark, outDir, epochId, kApp, None)

    // QUARANTINE (gate-on only): contaminated fresh docs that would
    // otherwise be kept park their text in [[QuarLog]] — the store
    // [[regate]] resurrects from when a revised benchmark clears them
    // (the corpus holds kept docs only, so without this their text would
    // be unrecoverable; docs failing the doc-local gates can never flip
    // kept under ANY benchmark, so only this would-be-kept slice needs
    // parking). Skipped entirely when the batch contaminated nothing —
    // driver-known from the delta agg.
    if (gateOn && dAgg.iterator.map(_.getLong(8)).sum > 0L) {
      val keptBase = Curation.keptExpr(col("n_tok"), col("h"),
        col("bag_keep"), Curation.spanDropExpr(col("n_win"), col("n_dup")))
      assembled.filter(col("is_new") && col("contam") && keptBase)
        .select(col("doc_id"), col("lang"), col("source"), col("n_tok"))
        .join(batchText, Seq("doc_id"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(QuarLog.flatDir(outDir, epochId))
    }

    // batch-log folds: the flats below this epoch fold into one chunk
    // once FpCompactAt pile up (the founding window batch is a chunk
    // already). Gate-off dirs have no winc/quar root, whose listing is
    // empty and folds nothing.
    val wvNew = WinvLog.fold(spark, outDir, epochId,
      if (winvIsChunk) prev.wv.copy(chunks = (prev.wv.chunks :+ epochId).sorted)
      else prev.wv)
    val wcNew = WincLog.fold(spark, outDir, epochId, prev.wc)
    val qNew = QuarLog.fold(spark, outDir, epochId, prev.q)

    // (lang, source) -> (d_in, d_add, d_rem, d_tok_add, d_tok_rem, d_cont)
    val dRoll = dAgg.groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(rs => (rs.map(_.getLong(3)).sum, rs.map(_.getLong(4)).sum,
        rs.map(_.getLong(5)).sum, rs.map(_.getLong(6)).sum,
        rs.map(_.getLong(7)).sum, rs.map(_.getLong(8)).sum))
      .filter { case (_, d) =>
        d._1 != 0L || d._2 != 0L || d._3 != 0L || d._6 != 0L }
      .toMap
    // shard -> (d_add, d_rem)
    val dShard = dAgg.groupBy(_.getInt(2))
      .view.mapValues(rs => (rs.map(_.getLong(4)).sum, rs.map(_.getLong(5)).sum))
      .filter { case (_, d) => d._1 != 0L || d._2 != 0L }
      .toMap

    // previous cumulative values, from the base's commit artifact
    val prevRoll: Map[(String, String), RollRow] = prev.rollup
    val prevShardKept: Map[Int, Long] = prev.shardKept
    val rollupNew: Map[(String, String), RollRow] =
      dRoll.foldLeft(prevRoll) { case (acc, (key, d)) =>
        val p = acc.getOrElse(key, RollRow(key._1, key._2, 0L, 0L, 0L, 0L))
        acc + (key -> RollRow(key._1, key._2,
          p.docsIn + d._1,
          p.docsKept + d._2 - d._3,
          p.tokensKept + d._4 - d._5,
          p.docsContam + d._6))
      }
    val shardKeptNew: Map[Int, Long] =
      dShard.foldLeft(prevShardKept) { case (acc, (sh, d)) =>
        val n = acc.getOrElse(sh, 0L) + d._1 - d._2
        if (n == 0L) acc - sh else acc + (sh -> n)
      }
    val deltas: Seq[Int] = dShard.keys.toSeq.sorted
    val nAdded = dRoll.values.map(_._2).sum
    val nRemoved = dRoll.values.map(_._3).sum

    // rewrite only the changed shards, via crash-safe STAGING: the full
    // new content of every changed shard lands (atomically, _SUCCESS)
    // under a base-keyed staging dir BEFORE the dynamic overwrite deletes
    // any old bytes — a crash mid-overwrite replays from staging instead
    // of re-reading half-rewritten shards. Carryover text comes from the
    // live shards, added text from the batch: by monotonicity that covers
    // every doc the rewrite can need, so no permanent text mirror exists.
    val corpusPath = s"$outDir/corpus"
    if (deltas.nonEmpty) {
      val stagingRoot = s"$outDir/state/staging/epoch=$epochId"
      val stagingPath = s"$stagingRoot/base=${lastCommitted.getOrElse(-1L)}"
      // a committed staging is reusable only when it could be OURS: its
      // staged shard set must sit inside this epoch's freshly computed
      // deltas (strictly inside only when a delta shard emptied — those
      // stage no dir). Anything else is foreign content at our path —
      // regates stage under their own `regate=` root, so this guards
      // manual restores and corruption — and replaying it would apply
      // shards this epoch never computed, then delete `deltas ∖ staged`
      // as "emptied". Rebuild instead.
      val stagingReusable = isCommitted(spark, stagingPath) &&
        childIds(spark, stagingPath, "shard=").subsetOf(deltas.map(_.toLong).toSet)
      if (!stagingReusable) {
        deleteDir(spark, stagingRoot) // a stale attempt against another base
        val addedContent = added
          .select(col("doc_id"), col("lang"), col("source"), col("n_tok"))
          .join(batchText, Seq("doc_id"))
          .withColumn("shard", Layout.shardKey(col("doc_id"), numShards))
          .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
            col("text"), col("shard"))
        val carry =
          if (hasDataFiles(spark, corpusPath))
            spark.read.parquet(corpusPath)
              .filter(col("shard").isInCollection(deltas))
              .join(broadcast(removed), Seq("doc_id"), "left_anti")
              .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
                col("text"), col("shard"))
          else addedContent.limit(0)
        // staged shard-partitioned: the written shard set falls out of a
        // driver directory listing instead of a distinct-collect job; the
        // shard-keyed repartition keeps the file count at one per changed
        // shard (its exchange moves only the changed shards' content)
        carry.unionByName(addedContent)
          // numPartitions = changed-shard count: the staged content is
          // exactly those shards, so the default 32 would leave empty
          // tasks at tail scale (hash collisions just co-locate two
          // shards in one task; partitionBy still splits the files)
          .repartition(deltas.size, col("shard"))
          .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(stagingPath)
      }
      if (failAfterStaging)
        throw new IllegalStateException(
          "graft test failpoint: crash after staging commit")
      applyStagedShards(spark, corpusPath, stagingPath, deltas)
      if (failAfterApply)
        throw new IllegalStateException(
          "graft test failpoint: crash after corpus apply")
    }

    syncManifest(spark, outDir, numShards, prevShardKept.keySet, deltas)

    // the user-facing report is the cumulative rollup as folded — written
    // from the driver-held rows (tiny), skipped when nothing moved
    if (dRoll.nonEmpty || !hasDataFiles(spark, s"$outDir/report"))
      writeReport(spark, s"$outDir/report", rollupNew.values.toSeq,
        withContam = benchmark.isDefined)

    // commit artifact LAST — the marker: pointer maps, cumulative rollup,
    // shard counts, and the result row land in ONE tiny write; epoch e's
    // _SUCCESS here ⇒ e fully applied
    val stNew = EpochState(fpNew, vNew, kNew, wvNew, wcNew, qNew,
      rollupNew, shardKeptNew, fpUnionNew)
    val result = EpochResult(epochId, stNew.docsSeen, stNew.docsKept,
      nAdded, nRemoved, deltas)
    writeCommit(spark, outDir, epochId, stNew, result)

    // prune superseded epochs AFTER the marker lands — only the newest
    // committed state is ever a delta base, so state stays O(docs) /
    // O(distinct fps), not × epochs — and drop this epoch's staging (its
    // content is live in the corpus now)
    cleanupAfterCommit(spark, outDir, epochId, Some(stNew))
    result
  }

  /** Apply a COMMITTED staging dir to the corpus — shared by the epoch
    * path and [[regate]]: dynamic-overwrite the staged shards, then
    * explicitly drop changed shards whose kept set emptied (dynamic
    * overwrite never touches a partition the output frame doesn't
    * mention). Uses the per-WRITE overwrite option, never a session-conf
    * save/restore — two concurrent callers sharing a session could
    * interleave the latter and strand the session in dynamic mode,
    * silently flipping every later static Overwrite from delete-the-dir
    * to merge-into-it.
    */
  private def applyStagedShards(spark: SparkSession, corpusPath: String,
      stagingPath: String, deltas: Seq[Int]): Unit = {
    val writtenShards = childIds(spark, stagingPath, "shard=").map(_.toInt)
    if (writtenShards.nonEmpty) {
      val newContent = spark.read.parquet(stagingPath)
        .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
          col("text"), col("shard"))
      newContent.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard").parquet(corpusPath)
    }
    deltas.filterNot(writtenShards).foreach { sh =>
      deleteDir(spark, s"$corpusPath/shard=$sh")
    }
  }

  /** Manifest maintenance, shared by the main path and the heartbeat fast
    * path: carry-over for untouched shards, recompute changed shards from
    * the corpus as re-read (partition-pruned); localCheckpoint decouples
    * the self-overwrite (the manifest is both read and rewritten). The
    * carry-over base is validated against the last COMMITTED shard set
    * (`prevShards` — folded state in the commit artifact; the manifest
    * overwrite is the one non-partitioned artifact a crash can leave
    * partial): the stored shard set is checked on EVERY epoch — heartbeat
    * epochs included — with one ≤ numShards collect, and any mismatch
    * (external corruption: partial restore, manual copy) repairs by
    * recomputing the FULL manifest from the corpus on disk rather than
    * persisting behind the no-delta skip.
    */
  private def syncManifest(spark: SparkSession, outDir: String,
      numShards: Int, prevShards: Set[Int], deltas: Seq[Int]): Unit = {
    val corpusPath = s"$outDir/corpus"
    val manifestPath = s"$outDir/manifest"
    // the all-dropped / epoch-0 empty input for the manifest fold (the
    // corpus then has no partition files to infer a schema from)
    def emptyDocs: DataFrame = spark.range(0)
      .select(col("id").as("doc_id"), lit("").cast("string").as("text"))
    val storedManifest: Option[DataFrame] =
      // hasDataFiles, not fs.exists: a crash mid-overwrite leaves the dir
      // existing but fileless, and a parquet read on it would throw forever
      if (hasDataFiles(spark, manifestPath))
        Some(spark.read.parquet(manifestPath))
      else None
    val manifestShardsOk: Boolean = storedManifest.exists { m =>
      m.select(col("shard")).collect().map(_.getInt(0)).toSet == prevShards
    }
    if (deltas.isEmpty && manifestShardsOk) ()
    else {
      val carryOver: Option[DataFrame] =
        storedManifest.filter(_ => manifestShardsOk)
      val fullCorpusView =
        if (!hasDataFiles(spark, corpusPath)) emptyDocs
        else spark.read.parquet(corpusPath).select(col("doc_id"), col("text"))
      val manifest = carryOver match {
        case Some(prev) =>
          val changedManifest =
            if (deltas.isEmpty || !hasDataFiles(spark, corpusPath))
              Layout.shardManifest(emptyDocs, numShards)
            else Layout.shardManifest(
              spark.read.parquet(corpusPath)
                .filter(col("shard").isInCollection(deltas))
                .select(col("doc_id"), col("text")), numShards)
          prev.filter(!col("shard").isInCollection(deltas))
            .unionByName(changedManifest)
        case None => // epoch 0, or a crash-corrupted manifest: full recompute
          Layout.shardManifest(fullCorpusView, numShards)
      }
      // coalesce(1) + sortWithinPartitions: a total shard sort of
      // ≤ numShards rows on one task (the upstream aggregation's map
      // side keeps its scan parallelism — coalesce only collapses the
      // post-exchange reduce side), skipping orderBy's range-sample job
      manifest.coalesce(1).sortWithinPartitions(col("shard"))
        .localCheckpoint()
        .write.mode(SaveMode.Overwrite).parquet(manifestPath)
    }
  }

  /** Column order of a verdict-state row. */
  private val StateCols = Seq("doc_id", "lang", "source", "n_tok", "h",
    "bag", "bag_keep", "n_win", "n_dup", "contam", "kept")

  /** Benchmark fingerprint: (distinct window-fp count, their bit-XOR) —
    * cheap, order-free, and collision-safe enough to catch a swapped or
    * toggled benchmark loudly. `(0, 0)` means "gate off".
    */
  private def benchSig(benchFps: DataFrame): (Long, Long) = {
    val r = benchFps.agg(count(lit(1)), expr("bit_xor(fp)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def writeMeta(spark: SparkSession, outDir: String, numShards: Int,
      sig: (Long, Long), gateOn: Boolean): Unit =
    spark.range(1).select(lit(numShards).as("num_shards"),
        lit(sig._1).as("bench_n"), lit(sig._2).as("bench_x"),
        lit(gateOn).as("bench_on"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/meta")

  private def writeReport(spark: SparkSession, path: String,
      rows: Seq[RollRow], withContam: Boolean): Unit = {
    val sq = spark
    import sq.implicits._
    val full = rows.map(r =>
        (r.lang, r.source, r.docsIn, r.docsKept, r.tokensKept, r.docsContam))
      .toDF("lang", "source", "docs_in", "docs_kept", "tokens_kept",
        "docs_contaminated")
    val shaped = if (withContam) full else full.drop("docs_contaminated")
    // coalesce(1) + sortWithinPartitions ≡ a total sort by Spark's own
    // string ordering (one partition), matching the one-shot
    // funnelRollup artifact's row order — without the range-sampling
    // job + 32-task exchange an orderBy would run for ≤|lang×source|
    // driver-held rows
    shaped.coalesce(1).sortWithinPartitions(col("lang"), col("source"))
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  private def writeCommit(spark: SparkSession, outDir: String, epochId: Long,
      st: EpochState, res: EpochResult,
      regateSig: Option[(Long, Long)] = None): Unit = {
    val rows: Seq[CommitRow] =
      // 'rg' marks a REGATE's commit, so a regate replay can tell itself
      // apart from an ordinary committed epoch (see the regate guard); it
      // carries the benchmark fingerprint so the replay can also verify
      // it was handed the SAME benchmark before re-pinning the meta
      regateSig.map(s => CommitRow("rg", epoch = Some(epochId),
        bench_n = Some(s._1), bench_x = Some(s._2))).toSeq ++
      st.bucketed.flatMap { case (log, l) => log.encode(l) } ++
      st.batched.flatMap { case (log, b) => log.encode(b) } ++
      st.fpUnion.toSeq.sorted.map(b => CommitRow("fpu", bucket = Some(b))) ++
      st.rollup.values.toSeq.sortBy(r => (r.lang, r.source)).map(r =>
        CommitRow("roll", lang = Some(r.lang), source = Some(r.source),
          docs_in = Some(r.docsIn), docs_kept = Some(r.docsKept),
          tokens_kept = Some(r.tokensKept), docs_contam = Some(r.docsContam))) ++
      st.shardKept.toSeq.sortBy(_._1).map { case (s, n) =>
        CommitRow("shard", shard = Some(s), n_kept = Some(n)) } ++
      Seq(CommitRow("res", docs_seen = Some(res.docsSeen),
        docs_kept = Some(res.docsKept), added = Some(res.added),
        removed = Some(res.removed),
        changed_shards = Some(res.changedShards)))
    val sq = spark
    import sq.implicits._
    rows.toDS().toDF().coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/state/commit/epoch=$epochId")
    stateCache.put(outDir, (epochId, st))
  }

  /** The [[EpochState]] of committed epoch `e`. `useCache = false`
    * forces the parquet read — cleanup paths use it so a replay can never
    * prune against a stale in-JVM image. Every read from disk passes
    * [[requireCurrentLayout]].
    */
  private def loadEpochState(spark: SparkSession, outDir: String, e: Long,
      useCache: Boolean): EpochState = {
    val cached = if (useCache) stateCache.get(outDir).filter(_._1 == e) else None
    cached match {
      case Some((_, st)) => st
      case None =>
        val rows = readCommit(spark, outDir, e).toSeq
        val st = EpochState(FpLog.decode(rows), VLog.decode(rows),
          KLog.decode(rows), WinvLog.decode(rows), WincLog.decode(rows),
          QuarLog.decode(rows),
          rows.filter(_.kind == "roll").map(r =>
            (r.lang.get, r.source.get) -> RollRow(r.lang.get, r.source.get,
              r.docs_in.get, r.docs_kept.get, r.tokens_kept.get,
              r.docs_contam.getOrElse(0L))).toMap,
          rows.filter(_.kind == "shard")
            .map(r => r.shard.get -> r.n_kept.get).toMap,
          rows.filter(_.kind == "fpu").flatMap(_.bucket).toSet)
        requireCurrentLayout(spark, outDir, None, Some(st))
        if (useCache) stateCache.put(outDir, (e, st))
        st
    }
  }

  /** Refuse an outDir written by an earlier state layout, before any
    * write: this code reads only the layout it writes, and no migration
    * path exists. Checked on the meta row when it is read from disk (a
    * meta without `bench_on`, or a `state/verdicts` dir — the layouts
    * before the commit artifact) and on every commit artifact loaded
    * from disk (no `wvc` row, or no `k` row once docs were seen — both
    * always present in a current commit; without them the window-log
    * chunks or the keepers would be read as empty, silently wrong).
    */
  private def requireCurrentLayout(spark: SparkSession, outDir: String,
      meta: Option[Row], st: Option[EpochState]): Unit = {
    val verdictsDir = new org.apache.hadoop.fs.Path(s"$outDir/state/verdicts")
    val outdated = Seq(
      "meta without bench_on" ->
        meta.exists(!_.schema.fieldNames.contains("bench_on")),
      "state/verdicts" -> (meta.isDefined && verdictsDir
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(verdictsDir)),
      "commit without wvc rows" -> st.exists(_.wv.chunks.isEmpty),
      "commit without k rows" ->
        st.exists(s => s.docsSeen > 0L && s.k.ptr.isEmpty))
      .collect { case (what, true) => what }
    require(outdated.isEmpty,
      s"$outDir was written by an outdated state layout " +
        s"(${outdated.mkString(", ")}) that this version no longer reads; " +
        "re-found it with `curate` into an empty outDir")
  }

  /** Post-marker cleanup for a committed epoch — idempotent, re-runnable
    * by a replay that arrives after the marker: drop superseded commit
    * artifacts, every log's dead dirs (layers the CURRENT pointer maps no
    * longer reference — a bucket an epoch didn't touch keeps pointing at
    * its older copy; folded flats and orphan chunks), and the epoch's
    * transient staging. `stIn` carries the live sets on the normal
    * commit path; the replay short-circuit re-reads them from the commit
    * artifact (never the JVM cache — a wiped-and-recreated outDir must
    * not prune against a stale image).
    */
  private def cleanupAfterCommit(spark: SparkSession, outDir: String,
      epochId: Long, stIn: Option[EpochState]): Unit = {
    val st: EpochState = stIn.getOrElse(
      loadEpochState(spark, outDir, epochId, useCache = false))
    childIds(spark, s"$outDir/state/commit", "epoch=").filter(_ < epochId)
      .foreach(e => deleteDir(spark, s"$outDir/state/commit/epoch=$e"))
    st.bucketed.foreach { case (log, l) => log.prune(spark, outDir, l, epochId) }
    st.batched.foreach { case (log, b) => log.prune(spark, outDir, b, epochId) }
    // drop this epoch's own staging and every superseded attempt — but
    // SPARE a newer in-flight regate's root: its `bsig` fingerprint is
    // both the guard that keeps epochs from running over the
    // half-revised corpus and the key that lets the regate resume with
    // its original benchmark (belt to the guard's braces — the guard
    // refuses such epochs outright, so this path should never see one)
    val staging = s"$outDir/state/staging"
    childIds(spark, staging, "epoch=")
      .foreach(e => deleteDir(spark, s"$staging/epoch=$e"))
    childIds(spark, staging, "regate=").filter(_ <= epochId)
      .foreach(r => deleteDir(spark, s"$staging/regate=$r"))
  }

  /** The persisted result row of a committed epoch (written inside its
    * commit marker), for the replay short-circuit.
    */
  private def readEpochResult(spark: SparkSession, outDir: String,
      epochId: Long): EpochResult = {
    val r = readCommit(spark, outDir, epochId).find(_.kind == "res").get
    EpochResult(epochId, r.docs_seen.get, r.docs_kept.get, r.added.get,
      r.removed.get, r.changed_shards.get)
  }

  /** The rows of epoch `e`'s commit artifact (explicit schema: no
    * footer-inference job).
    */
  private def readCommit(spark: SparkSession, outDir: String,
      e: Long): Array[CommitRow] = {
    val sq = spark
    import sq.implicits._
    spark.read.schema(org.apache.spark.sql.Encoders.product[CommitRow].schema)
      .parquet(s"$outDir/state/commit/epoch=$e").as[CommitRow].collect()
  }

  /** Epoch ids under `outDir` whose commit artifact fully landed — its
    * `_SUCCESS` (a crash mid-job-commit can leave a partial file set that
    * `hasDataFiles` alone would mistake for a complete state).
    */
  private def committedEpochs(spark: SparkSession, outDir: String): Seq[Long] =
    childIds(spark, s"$outDir/state/commit", "epoch=").toSeq
      .filter(e => isCommitted(spark, s"$outDir/state/commit/epoch=$e"))

  /** Numeric suffixes of the `<prefix>N` child dirs of `dir` — the free
    * (listing-only) way to learn which partitions a write landed.
    */
  private def childIds(spark: SparkSession, dir: String,
      prefix: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong).toSet
  }

  /** Recursive byte size of `dir` (driver FS metadata — free on local
    * disk/HDFS), used to size fold write parallelism.
    */
  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }


  /** True iff `dir` holds a completed Spark write (`_SUCCESS` marker). */
  private def isCommitted(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Empty frame with the verdict-state schema — the epoch-0 delta
    * base. Derived THROUGH the producer over empty inputs (only the
    * narrow sigs/winv input contracts are spelled out here), so a schema
    * change in the one-copy formula can never leave this branch emitting
    * a stale shape.
    */
  private def emptyVerdictState(spark: SparkSession): DataFrame =
    Curation.verdictsFullFrom(
      spark.range(0).select(col("id").as("doc_id"), lit("").as("lang"),
        lit("").as("source"), col("id").as("n_tok"), lit(0.0).as("h"),
        lit("").as("bag")),
      spark.range(0).select(col("id").as("doc_id"), col("id").as("fp")))
      .withColumn("contam", lit(false)).select(StateCols.map(col): _*)

  /** Explicit read schemas of the state dirs, memoized per JVM. A
    * schema-inferring `spark.read.parquet` runs a footer-read job per
    * call, and one steady-state epoch opens these dirs a dozen-plus times
    * — at ~20–50 ms of job+scheduling latency each, inference was a
    * visible slice of the fixed per-epoch overhead. Derived THROUGH the
    * producer formulas (one-copy rule) so a formula change can never
    * strand a stale shape here; a StructType is session-independent, and
    * the derivation analyzes a multi-join plan, so it runs once.
    */
  private val stateSchemas = scala.collection.concurrent.TrieMap[String, StructType]()

  /** Attach the incremental pipeline to a document stream with `doc_id`,
    * `lang`, `source`, `text`. `benchmark` enables the decontamination
    * gate for every epoch (fixed for the life of the outDir until a
    * [[regate]] — see [[curateEpoch]]).
    *
    * Epoch ids are `batchId + offset`, where the offset is captured ONCE
    * per stream run on its FIRST batch B — empty or not (emptiness is
    * irrelevant to the formula: the dense batch→epoch mapping below
    * commits an epoch for every batch, so `newestCommitted` advances in
    * lockstep with the batch counter either way) — as
    * `newestCommitted + 1 - B`. This rule is SELF-STABILIZING across
    * restarts: when the previous run crashed inside batch B (epochs
    * before it committed under offset O, so newestCommitted = O + B - 1),
    * the resumed run recomputes O + B - 1 + 1 - B = O — the replayed
    * batch keeps its EXACT epoch id, which is what the staging crash
    * protocol requires (a replay under a different id would rebuild
    * staging from a possibly half-overwritten corpus instead of reusing
    * the committed one). At the same time a REPLACED checkpoint (batch
    * ids restarting at 0) or a [[regate]] committed between runs (whose
    * epoch id a continuing checkpoint's counter knows nothing about)
    * re-bases past everything committed instead of colliding or
    * tripping the out-of-order guard. The one benign wrinkle: a batch
    * re-delivered AFTER its epoch committed (crash between the commit
    * marker and the checkpoint ack) resumes as newestCommitted + 1 — a
    * pure re-delivery, which the seen-filter reduces to a heartbeat.
    * The formula requires a DENSE batch→epoch mapping, which is why the
    * foreachBatch below commits an epoch for every batch, empty ones
    * included (they take the heartbeat fast path).
    */
  def startIncremental(docs: org.apache.spark.sql.DataFrame, outDir: String,
      checkpoint: String, numShards: Int = 16,
      benchmark: Option[DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // one offset per stream RUN, resolved on the run's FIRST batch of
    // any kind — empty included (the compareAndSet below runs before the
    // emptiness branch inside curateEpoch; it is only deferred to here,
    // rather than computed at start(), because it needs the batch's
    // session for the FS listing)
    val offset = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        // EVERY batch commits an epoch — an empty one degenerates to the
        // heartbeat fast path. Skipping empty batches would leave a gap
        // in the batch→epoch mapping, and the self-stabilizing offset
        // derivation (newestCommitted + 1 - firstBatch) is only correct
        // when every batch id below the first one maps to a committed
        // epoch: with a gap, a post-apply crash would replay its batch
        // under a SHIFTED id and rebuild staging from the mutated corpus.
        offset.compareAndSet(Long.MinValue,
          committedEpochs(b.sparkSession, outDir).maxOption
            .map(_ + 1L).getOrElse(0L) - id)
        curateEpoch(b, outDir, numShards, offset.get + id, benchmark)
        ()
      }
      .start()
  }

  /** BENCHMARK REVISION for a gate-on incremental outDir: re-evaluate
    * the contamination flag of EVERY doc ever seen against
    * `newBenchmark`, rewrite the verdict state via the compaction path,
    * adjust the corpus BOTH ways (docs contaminated only under the old
    * benchmark RESURRECT from the quarantine; newly-contaminated kept
    * docs are removed and quarantined), recompute report + manifest, and
    * re-pin the meta fingerprint — after which epochs must carry
    * `newBenchmark` (a non-regated drifted benchmark still fails loudly).
    *
    * One declared O(corpus) pass: contamination is doc-local given a
    * benchmark, recomputed from the persisted decontam-fp log
    * (`state/winc`) — no dropped doc's text is needed; resurrection text
    * comes from `state/quar`. Preconditions (all fail loudly): the dir
    * holds the current state layout and is gate-on, at least one epoch
    * is committed, and `epochId` exceeds
    * every committed epoch (it joins the epoch sequence; a stream
    * resumed via [[startIncremental]] re-bases past it automatically).
    *
    * Crash protocol (the epoch commit-marker design): every write is
    * deterministic from (base state, winc log, quarantine, benchmark);
    * the consolidated new quarantine and the changed shards' staging
    * land atomically BEFORE the corpus overwrite; the commit artifact is
    * the marker; the META re-pin lands LAST, after the marker — a crash
    * between the two leaves committed v2 state under a v1 meta, which
    * the next epoch rejects loudly and a re-run of regate (same id)
    * repairs by short-circuiting to the meta rewrite.
    */
  def regate(spark: SparkSession, outDir: String, newBenchmark: DataFrame,
      epochId: Long): EpochResult = {
    require(hasDataFiles(spark, s"$outDir/meta"),
      s"$outDir has no meta artifact — nothing to regate")
    val m = spark.read.parquet(s"$outDir/meta").head()
    requireCurrentLayout(spark, outDir, Some(m), None)
    val numShards = m.getAs[Int]("num_shards")
    require(m.getAs[Boolean]("bench_on"),
      s"regate requires a decontamination-gated outDir; $outDir is gate-off")
    val fps2 = Curation.benchmarkFps(newBenchmark).localCheckpoint()
    val sig2 = benchSig(fps2)
    def repinMeta(): Unit = {
      writeMeta(spark, outDir, numShards, sig2, gateOn = true)
      metaCache.put(outDir, (numShards, true, sig2._1, sig2._2))
      benchCachePut(outDir, (newBenchmark, fps2, sig2))
    }
    val committed = committedEpochs(spark, outDir)
    if (committed.contains(epochId)) {
      // only a COMPLETED REGATE may short-circuit (finishing its
      // post-marker steps) — the commit artifact carries an 'rg' marker
      // row for exactly this check. Handing an ORDINARY committed
      // epoch's id to regate must fail loudly instead: silently
      // re-pinning the meta to v2 over v1-flagged state (and pruning the
      // quarantine — the only stored text of resurrectable docs) would
      // be irreversible corruption.
      val rgRow = readCommit(spark, outDir, epochId).find(_.kind == "rg")
      require(rgRow.isDefined,
        s"epoch $epochId in $outDir is an ordinary committed epoch, not " +
          "a regate — refusing to re-pin the benchmark over unflagged state")
      // ...and it must be a regate against THIS benchmark: the replay
      // short-circuit only finishes the post-marker steps (meta re-pin +
      // quarantine prune), so re-pinning to a benchmark the committed
      // verdict state was never flagged under — and then pruning the
      // quarantine, the only stored text of resurrectable docs — would
      // be irreversible silent corruption. The 'rg' row records the
      // fingerprint at commit for exactly this check.
      val storedSig: Option[(Long, Long)] =
        for { r <- rgRow; n <- r.bench_n; x <- r.bench_x } yield (n, x)
      require(storedSig.contains(sig2),
        s"epoch $epochId in $outDir is a committed regate against a " +
          s"DIFFERENT benchmark (recorded fingerprint " +
          s"${storedSig.getOrElse("none")}, caller's $sig2) — re-pinning " +
          "the meta would put the corpus under a benchmark its verdict " +
          "state was never evaluated against; replay a regate only with its original benchmark")
      repinMeta()
      cleanupAfterCommit(spark, outDir, epochId, None)
      QuarLog.pruneBefore(spark, outDir, epochId)
      return readEpochResult(spark, outDir, epochId)
    }
    require(committed.forall(_ < epochId),
      s"regate epoch $epochId must exceed every committed epoch " +
        s"(${committed.sorted.mkString(", ")}) — it joins the epoch sequence")
    val last = committed.maxOption.getOrElse(throw new IllegalArgumentException(
      s"$outDir has no committed epoch to regate"))
    val st = loadEpochState(spark, outDir, last, useCache = false)

    // IN-FLIGHT fingerprint, recorded BEFORE the regate's first durable
    // write: the quarantine consolidation and staging are keyed only by
    // (epochId, base) on disk, so a crashed (uncommitted) regate re-run
    // with a DIFFERENT benchmark would silently reuse the previous
    // benchmark's committed quarantine/staging — and after a post-apply
    // crash the old quarantine may hold the ONLY text of docs that
    // benchmark's apply already removed from the corpus, so deleting and
    // rebuilding under the new gate is just as destructive as reusing.
    // Refusing is the only loss-free move: finish the in-flight regate
    // with its original benchmark first, then revise at the next id.
    val bsigDir = s"$outDir/state/staging/regate=$epochId/bsig"
    if (isCommitted(spark, bsigDir)) {
      val r = spark.read.parquet(bsigDir).head()
      require((r.getLong(0), r.getLong(1)) == sig2,
        s"an in-flight (uncommitted) regate at epoch $epochId in $outDir " +
          s"ran with a DIFFERENT benchmark (recorded fingerprint " +
          s"(${r.getLong(0)}, ${r.getLong(1)}), caller's $sig2) — its " +
          "quarantine and staging are keyed by id alone, and its corpus " +
          "apply may already have landed; finish it with its original " +
          "benchmark, then revise at the next epoch id")
    } else {
      require(!isCommitted(spark, QuarLog.flatDir(outDir, epochId)),
        s"epoch $epochId in $outDir already has a quarantine flat but no " +
          "in-flight regate fingerprint — either an ORDINARY epoch " +
          "crashed at this id (replay that epoch / resume the stream, " +
          "then regate at a fresh id: adopting its partial batch " +
          "quarantine as a consolidation would lose resurrectable text) " +
          "or a regate crashed under a pre-fingerprint binary (finish it " +
          "with its original benchmark on that binary); refusing either way")
      spark.range(1).select(lit(sig2._1).as("bench_n"),
          lit(sig2._2).as("bench_x"))
        .write.mode(SaveMode.Overwrite).parquet(bsigDir)
    }

    // contamination vs the NEW benchmark for every doc ever seen, from
    // the fp log (docs shorter than the decontam width have no rows and
    // are clean by the same rule the epochs apply). The matched set is
    // contamination-sized, joined plain (it can be corpus-scale under an
    // adversarial revision — this is the declared O(corpus) pass).
    // the live flats ≤ the base and the live chunks: the watermark skips
    // folded flats a crash left between a fold's commit and its cleanup
    // (harmless — distinct downstream — but wasted I/O on this pass)
    val winc = WincLog.live(spark, outDir, st.wc, last, Seq("doc_id", "fp"), None)
    val contam2 = Curation.contaminatedOf(winc, fps2)
      .withColumn("_c2", lit(true))
    val keptBase = Curation.keptExpr(col("n_tok"), col("h"),
      col("bag_keep"), Curation.spanDropExpr(col("n_win"), col("n_dup")))
    val v2 = VLog.merge(VLog.read(spark, outDir, st.v, None))
      .withColumnRenamed("contam", "_c1").withColumnRenamed("kept", "_k1")
      .join(contam2, Seq("doc_id"), "left")
      .withColumn("contam", coalesce(col("_c2"), lit(false)))
      .withColumn("kept", Curation.contamKept(keptBase, col("contam")))
      .drop("_c2")
      .localCheckpoint() // consumed by state write, counts, quar, staging

    // ONE aggregation yields the new rollup; a second (changed rows only)
    // the shard deltas; kept-shard counts from a third over the kept set
    val shardOf = Layout.shardKey(col("doc_id"), numShards)
    val rollup2: Map[(String, String), RollRow] =
      v2.groupBy(col("lang"), col("source")).agg(
        count(lit(1)).as("di"),
        coalesce(sum(when(col("kept"), 1L).otherwise(0L)), lit(0L)).as("dk"),
        coalesce(sum(when(col("kept"), col("n_tok")).otherwise(0L)), lit(0L)).as("tk"),
        coalesce(sum(when(col("contam"), 1L).otherwise(0L)), lit(0L)).as("dc"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> RollRow(
          r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
    val chAgg = v2.filter(col("_k1") =!= col("kept"))
      .groupBy(shardOf.as("shard")).agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("adds"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("rems"))
      .collect()
    val deltas: Seq[Int] = chAgg.map(_.getInt(0)).toSeq.sorted
    val nAdded = chAgg.map(_.getLong(1)).sum
    val nRemoved = chAgg.map(_.getLong(2)).sum
    val shardKept2: Map[Int, Long] = v2.filter(col("kept"))
      .groupBy(shardOf.as("shard")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

    // text sources: the corpus (docs kept under v1) and the old
    // quarantine (contaminated-but-otherwise-kept under v1) — between
    // them every doc that can be kept or quarantined under v2
    val corpusPath = s"$outDir/corpus"
    val emptyText = spark.range(0)
      .select(col("id").as("doc_id"), lit("").cast("string").as("text"))
    val corpusText =
      if (hasDataFiles(spark, corpusPath))
        spark.read.parquet(corpusPath).select(col("doc_id"), col("text"))
      else emptyText
    val oldQuar = QuarLog.live(spark, outDir, st.q, Long.MaxValue,
      Seq("doc_id", "text"), None)
    val textAll = corpusText.unionByName(oldQuar).dropDuplicates("doc_id")

    // new quarantine, consolidated and committed BEFORE the corpus
    // overwrite (a crash replay re-derives it from the still-intact
    // corpus; once its _SUCCESS exists the content is final)
    val quarDir = QuarLog.flatDir(outDir, epochId)
    if (!isCommitted(spark, quarDir)) {
      val quarJoined = v2.filter(col("contam") && keptBase)
        .select(col("doc_id"), col("lang"), col("source"), col("n_tok"))
        .join(textAll, Seq("doc_id"), "left")
        .localCheckpoint()
      val missing = quarJoined.filter(col("text").isNull).count()
      require(missing == 0L,
        s"quarantine coverage hole: $missing contaminated-but-keepable " +
          "docs have no stored text — state corruption, refusing to regate")
      quarJoined.coalesce(1).write.mode(SaveMode.Overwrite).parquet(quarDir)
    }

    // changed shards rewrite via the epoch staging protocol — under a
    // DISTINCT `regate=` root, never the stream's `epoch=` namespace: a
    // regate at the natural id last+1 that crashes between its staging
    // commit and its marker is abandoned when the stream restarts (the
    // resumed run re-bases to the same id), and a shared path would let
    // curateEpoch reuse the regate's staged v2 shards as its own —
    // applying content the epoch never computed and deleting shards it
    // never staged. A crash replay of regate itself (same id) still
    // finds its staging here deterministically.
    if (deltas.nonEmpty) {
      val stagingRoot = s"$outDir/state/staging/regate=$epochId"
      val stagingPath = s"$stagingRoot/base=$last"
      if (!isCommitted(spark, stagingPath)) {
        // only the half-written attempt at THIS base — never the root,
        // which also holds the in-flight fingerprint (`bsig`). A
        // different-base stale attempt cannot exist: once bsig lands, the
        // in-flight guard keeps every epoch from committing until this
        // regate finishes, so `last` is stable across its attempts
        deleteDir(spark, stagingPath)
        v2.filter(col("kept")).withColumn("shard", shardOf)
          .filter(col("shard").isInCollection(deltas))
          .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
            col("shard"))
          .join(textAll, Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
            col("text"), col("shard"))
          .repartition(deltas.size, col("shard"))
          .write.mode(SaveMode.Overwrite).partitionBy("shard")
          .parquet(stagingPath)
      }
      if (failAfterStaging)
        throw new IllegalStateException(
          "graft test failpoint: crash after regate staging commit")
      applyStagedShards(spark, corpusPath, stagingPath, deltas)
      if (failAfterApply)
        throw new IllegalStateException(
          "graft test failpoint: crash after regate corpus apply")
    }

    syncManifest(spark, outDir, numShards, st.shardKept.keySet, deltas)
    writeReport(spark, s"$outDir/report", rollup2.values.toSeq,
      withContam = true)

    // the v2 verdict state is a fresh full copy — every bucket points at
    // this epoch; fp counts, keepers, and the window logs are untouched
    // (contamination affects neither window counts nor keeper
    // elections). The regate's consolidated quarantine flat subsumes
    // every earlier quar flat AND chunk (dropped after the marker), so
    // the quarantine log starts over; the winc log carries forward
    val stNew = st.copy(
      v = VLog.writeFull(spark, outDir, epochId,
        v2.select(StateCols.map(col): _*)
          .withColumn("bucket", VLog.bucket(col("doc_id"))).coalesce(8)),
      rollup = rollup2, shardKept = shardKept2, q = Batches(-1L, Nil))
    val result = EpochResult(epochId, stNew.docsSeen, stNew.docsKept,
      nAdded, nRemoved, deltas)
    writeCommit(spark, outDir, epochId, stNew, result,
      regateSig = Some(sig2))
    cleanupAfterCommit(spark, outDir, epochId, Some(stNew))
    QuarLog.pruneBefore(spark, outDir, epochId)
    repinMeta() // LAST: meta never points at an uncommitted gate regime
    result
  }

  /** Post-copy/post-migration audit: recompute the shard manifest from the
    * corpus AS ON DISK and diff it against the stored manifest. Returns the
    * mismatching rows `(shard, manifest, actual)` — empty means every
    * shard's doc count, token mass, key range, and order fingerprint still
    * match what the run wrote (the q142 reconciliation idea applied to the
    * corpus layout; lost or corrupted shard files surface as a non-null
    * `manifest` with a null or differing `actual`). The shard count comes
    * from the run's own `meta` artifact, so the audit can never silently
    * re-bucket with the wrong parameter.
    */
  def validateCorpus(spark: SparkSession, outDir: String): org.apache.spark.sql.DataFrame = {
    val metaRow = spark.read.parquet(s"$outDir/meta").head()
    requireCurrentLayout(spark, outDir, Some(metaRow), None)
    val numShards = metaRow.getAs[Int]("num_shards")
    // gated deployments: the report's docs_contaminated column must agree
    // with the committed rollup (driver-side, ≤ |lang×source| rows) — a
    // report tampered with or restored from the wrong run fails LOUDLY
    // here, so the audit covers the gate column, not just the shard layout
    val gateOn = metaRow.getAs[Boolean]("bench_on")
    if (gateOn) {
      val report = spark.read.parquet(s"$outDir/report")
      if (!report.columns.contains("docs_contaminated"))
        throw new IllegalStateException(
          s"$outDir was founded gate-on but its report lacks docs_contaminated")
      val fromReport = report
        .select(col("lang"), col("source"), col("docs_contaminated"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      committedEpochs(spark, outDir).maxOption.foreach { e =>
        val st = loadEpochState(spark, outDir, e, useCache = false)
        val fromRollup = st.rollup.map { case (k, v) => k -> v.docsContam }
        if (fromReport != fromRollup)
          throw new IllegalStateException(
            s"report docs_contaminated disagrees with the committed rollup " +
              s"in $outDir: report=$fromReport rollup=$fromRollup")
      }
    }
    val fields = Seq("n_docs", "n_tokens", "first_key", "last_key", "order_fp")
    val stored = spark.read.parquet(s"$outDir/manifest").as("m")
    // an all-dropped run writes NO partition files (curate's own manifest
    // special case) — schema inference on the bare dir would throw, so the
    // 'actual' side folds from an empty frame instead. Decided by what's ON
    // DISK, not by the stored manifest: a nonempty manifest over a fileless
    // corpus must still surface as mismatches (stored vs null), never
    // rubber-stamp as empty≡empty.
    val corpusOnDisk = hasDataFiles(spark, s"$outDir/corpus")
    val corpusView =
      if (corpusOnDisk)
        spark.read.parquet(s"$outDir/corpus").select(col("doc_id"), col("text"))
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          new StructType().add("doc_id", LongType).add("text", "string"))
    val actual = Layout.shardManifest(corpusView, numShards).as("a")
    val mSide = struct(fields.map(f => col(s"m.$f").as(f)): _*)
    val aSide = struct(fields.map(f => col(s"a.$f").as(f)): _*)
    stored.join(actual, Seq("shard"), "full_outer")
      .select(col("shard"), mSide.as("manifest"), aSide.as("actual"))
      .filter(!(col("manifest") <=> col("actual")))
      .orderBy(col("shard"))
  }

  /** True iff `dir` holds at least one data file Spark's reader would see
    * — the "did this write land any parquet" probe behind
    * [[validateCorpus]] and [[curateEpoch]]'s crash-recovery reads. Every
    * path SEGMENT below `dir` must be non-hidden: a part file under a
    * crash-stranded `_temporary/` subtree is invisible to the file index
    * (so counting it would send a read straight into the schema-inference
    * throw this probe exists to prevent).
    */
  private[graft] def hasDataFiles(spark: SparkSession, dir: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    if (!fs.exists(root)) return false
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      var cur = it.next().getPath
      var hidden = false
      while (cur != null && cur.depth() > root.depth()) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) hidden = true
        cur = cur.getParent
      }
      if (!hidden) return true
    }
    false
  }
}
