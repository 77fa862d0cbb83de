package graft.sinks

import graft.TestSpark
import graft.operators.LatestByKey
import graft.operators.LatestByKey.ReadOnlyTableView
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.PartitionDirectory
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucket-routed reads over a view maintained by `Sinks.upsertView`: the
  * view records its layout, a `get` reads only its key's bucket directory
  * (one file), a `getAll` only its keys' buckets, each upsert leaves one
  * file per touched bucket, and every answer equals the plain key filter.
  * Frames without a layout keep the plain filter.
  */
class ViewRoutingSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val Buckets = 8
  private val Keys = 400L

  /** Updates as `foreachBatch` hands them over: Spark runs micro-batches
    * without AQE, so the merge's shuffle keeps all its partitions and
    * every partition writes, as it does under a stream.
    */
  private lazy val microBatch = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def rows(xs: Seq[(Long, String, Long)]): DataFrame = {
    val s = microBatch
    import s.implicits._
    xs.toDF("user_id", "last_event_type", "last_event_id")
  }

  private def bucketDirs(view: String): Seq[File] =
    new File(view).listFiles().filter(_.getName.startsWith("__bucket=")).toSeq

  private def parquetFiles(dir: File): Seq[File] =
    dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq

  /** Partition directories the query's parquet scans read, after pruning. */
  private def scanned(df: DataFrame): Seq[PartitionDirectory] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap(s => s.relation.location.listFiles(s.partitionFilters, s.dataFilters))

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics("numFiles").value).sum
  }

  private def bucketPredicate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
      .exists(_.references.exists(_.name == "__bucket"))

  /** The bucket `pmod(xxhash64(k), n)` of a bigint key, computed by SQL. */
  private def bucketOfKey(k: Long): Int =
    spark.sql(s"SELECT CAST(pmod(xxhash64(CAST($k AS BIGINT)), $Buckets) AS INT)")
      .head().getInt(0)

  private def answer(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def files(view: String): Map[Int, Set[String]] =
    bucketDirs(view).map(d => d.getName.stripPrefix("__bucket=").toInt ->
      parquetFiles(d).map(_.getName).toSet).toMap

  /** A 400-key view written by two upserts, the second over every 7th key,
    * with its files after each.
    */
  private lazy val (view, firstFiles, secondFiles, delta) = {
    val path = Files.createTempDirectory("graft-route").toString + "/view"
    Sinks.upsertView(rows((0L until Keys).map(k => (k, s"a$k", 1L))),
      path, "user_id", "last_event_id", Buckets)
    val first = files(path)
    val delta = (0L until Keys by 7).map(k => (k, s"b$k", 2L))
    Sinks.upsertView(rows(delta), path, "user_id", "last_event_id", Buckets)
    (path, first, files(path), delta.map(_._1))
  }
  private lazy val plain = spark.read.parquet(view)
  private lazy val table = new ReadOnlyTableView(Sinks.readView(spark, view), "user_id")

  test("each upsert leaves one key-sorted file in every bucket it touches") {
    assert(firstFiles.keySet === (0 until Buckets).toSet)
    assert(firstFiles.values.forall(_.size == 1), s"first upsert: $firstFiles")
    assert(secondFiles.values.forall(_.size == 1), s"second upsert: $secondFiles")
    assert(firstFiles.keySet.filter(b => firstFiles(b) != secondFiles(b)) ===
      delta.map(bucketOfKey).toSet, "exactly the delta's buckets are rewritten")
    bucketDirs(view).flatMap(parquetFiles).foreach { f =>
      val ks = spark.read.parquet(f.getPath).collect().map(_.getLong(0)).toSeq
      assert(ks === ks.sorted, s"$f is not sorted by key")
    }
  }

  test("the first upsert records the view's layout at its root") {
    val root = new File(view)
    assert(root.list().contains(ViewLayout.LayoutFile))
    val fs = new org.apache.hadoop.fs.Path(view)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ViewLayout.read(fs, new org.apache.hadoop.fs.Path(view)) ===
      Some(ViewLayout(Buckets, "user_id", org.apache.spark.sql.types.LongType)))
    // the file index skips it: the view reads back every key once
    assert(plain.count() === Keys)
  }

  test("get reads exactly its key's bucket directory and one file") {
    val rnd = new scala.util.Random(7)
    Seq.fill(12)(rnd.nextLong(Keys + 200)).foreach { k =>
      val df = table.get(k)
      val dirs = scanned(df)
      assert(dirs.size === 1, s"get($k) read ${dirs.size} bucket directories")
      assert(dirs.head.values.getInt(0) === bucketOfKey(k))
      assert(dirs.head.files.size === 1)
      assert(filesRead(df) === 1L)
    }
  }

  test("getAll reads only its keys' buckets") {
    val ks = Seq(3L, 10L, 11L, Keys + 5)
    val df = table.getAll(ks)
    assert(scanned(df).map(_.values.getInt(0)).toSet === ks.map(bucketOfKey).toSet)
    assert(filesRead(df) === ks.map(bucketOfKey).distinct.size.toLong)
  }

  test("get, getAll and scan answer as the plain filter and never show __bucket") {
    val rnd = new scala.util.Random(11)
    def draw() = rnd.nextLong(Keys + 100) // a fifth of the draws absent
    val base = plain.drop("__bucket")
    (1 to 10).foreach { _ =>
      val k = draw()
      assert(answer(table.get(k)) === answer(base.filter(col("user_id") === k)))
      val ks = Seq.fill(20)(draw()).distinct
      assert(answer(table.getAll(ks)) === answer(base.filter(col("user_id").isin(ks: _*))))
    }
    assert(answer(table.scan) === answer(base))
    Seq(table.get(1L), table.getAll(Seq(1L, 2L)), table.scan).foreach { df =>
      assert(!df.columns.contains("__bucket"), df.columns.mkString(","))
    }
    assert(answer(table.get(7L)) === Seq("[7,b7,2]"), "the second upsert won")
  }

  test("get hashes an Int key as the bigint key column; misses and null return nothing") {
    val got = table.get(1).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L))
    assert(filesRead(table.get(1)) === 1L)
    assert(answer(table.getAll(Seq(1, 2L))) === answer(table.getAll(Seq(1L, 2L))))
    assert(table.get(Keys + 1).isEmpty)
    assert(table.get(Int.MaxValue).isEmpty)
    assert(table.get(null).isEmpty)
    assert(table.getAll(Seq(null, Keys + 1)).isEmpty)
  }

  test("float and double keys keep the plain filter") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("graft-route-dbl").toString + "/view"
    Sinks.upsertView(Seq((0.5, "a", 1L), (1.5, "b", 1L), (2.5, "c", 1L))
      .toDF("k", "v", "id"), path, "k", "id", 4)
    val t = new ReadOnlyTableView(Sinks.readView(spark, path), "k")
    assert(t.get(1.5).collect().map(_.getString(1)).toSeq === Seq("b"))
    assert(!bucketPredicate(t.get(1.5)) && !bucketPredicate(t.getAll(Seq(0.5, 2.5))))
    assert(!t.scan.columns.contains("__bucket"))
  }

  test("frames without a layout keep the plain filter") {
    val latest = LatestByKey.table(spark, TestSpark.sf0001)
    val parquetDir = Files.createTempDirectory("graft-route-plain").toString + "/t"
    rows(Seq((1L, "a", 1L), (2L, "b", 1L))).write.parquet(parquetDir)
    val overParquet = new ReadOnlyTableView(spark.read.parquet(parquetDir), "user_id")
    // the view's files read without Sinks.readView carry no layout either
    val overRaw = new ReadOnlyTableView(plain, "user_id")
    Seq(latest, overParquet, overRaw).foreach { t =>
      assert(!bucketPredicate(t.get(1L)))
      assert(!bucketPredicate(t.getAll(Seq(1L, 2L))))
    }
    assert(overParquet.get(2L).collect().map(_.getString(1)).toSeq === Seq("b"))
    assert(overRaw.scan.columns.contains("__bucket"), "a frame without a layout is left as it is")
  }

  test("upsertView refuses a layout that differs from the recorded one") {
    val path = Files.createTempDirectory("graft-route-guard").toString + "/view"
    Sinks.upsertView(rows(Seq((1L, "a", 1L), (2L, "b", 1L))), path, "user_id",
      "last_event_id", 8)
    def files = bucketDirs(path).flatMap(parquetFiles).map(f => f.getPath -> f.lastModified).toSet
    val before = files
    val more = intercept[IllegalArgumentException] {
      Sinks.upsertView(rows(Seq((1L, "z", 2L))), path, "user_id", "last_event_id", 16)
    }
    assert(more.getMessage.contains("layout"), more.getMessage)
    val s = spark
    import s.implicits._
    intercept[IllegalArgumentException] { // another key column
      Sinks.upsertView(Seq((1L, 1L, "z", 2L)).toDF("id2", "user_id", "last_event_type",
        "last_event_id"), path, "id2", "last_event_id", 8)
    }
    intercept[IllegalArgumentException] { // the key as int, not bigint
      Sinks.upsertView(Seq((1, "z", 2L)).toDF("user_id", "last_event_type", "last_event_id"),
        path, "user_id", "last_event_id", 8)
    }
    assert(files === before, "a refused upsert writes nothing")
    val t = new ReadOnlyTableView(Sinks.readView(spark, path), "user_id")
    assert(answer(t.scan) === Seq("[1,a,1]", "[2,b,1]"))
  }

  test("upsertView refuses a bucketed view that records no layout") {
    val path = Files.createTempDirectory("graft-route-old").toString + "/view"
    Sinks.upsertView(rows(Seq((1L, "a", 1L))), path, "user_id", "last_event_id", 8)
    // a view from a writer that did not record its layout
    new File(path).listFiles().filter(_.getName.contains(ViewLayout.LayoutFile))
      .foreach(f => assert(f.delete()))
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertView(rows(Seq((1L, "z", 2L))), path, "user_id", "last_event_id", 8)
    }
    assert(e.getMessage.contains("rebuild the view"), e.getMessage)
    // it still reads, with the plain filter
    val t = new ReadOnlyTableView(Sinks.readView(spark, path), "user_id")
    assert(answer(t.get(1L)) === Seq("[1,a,1]") && !bucketPredicate(t.get(1L)))
  }
}
