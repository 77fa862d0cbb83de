package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: restrict to named queries (local iteration only;
    // the driver always invokes with exactly <sfDir> <outDir>).
    val only = args.drop(2).toSet
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val spark = Engine.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes backslash, quote and ALL control chars — a tab or CR
    // in builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), new ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.filter(kv => selected(kv._1)).asJava))
    spark.stop()
  }
}
