package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Engine-configured: UTC, AQE,
  * RocksDB state store, nanosAsLong). Each forked test group gets its
  * share of the machine's cores (`graft.test.groups`, set by build.sbt);
  * the partition counts stay at 8 whatever the cores, because specs pin
  * plan shapes that depend on them (AQE's skew split needs more than two
  * shuffle partitions to find a skewed one).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val cores = math.max(1, Runtime.getRuntime.availableProcessors /
      sys.props.get("graft.test.groups").map(_.toInt).getOrElse(1))
    val s = Engine.configure(SparkSession.builder()
        .master(s"local[$cores]").appName("graft-test")
        .config("spark.default.parallelism", "8"), shufflePartitions = 8)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
