package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The bucket layout of a view maintained by [[Sinks.upsertView]]: every
  * row sits in the `__bucket=b` directory with
  * `b = pmod(xxhash64(keyCol), numBuckets)`, the key hashed as `keyType`.
  *
  * The first upsert records it in [[ViewLayout.LayoutFile]] at the view root
  * (`_`-prefixed, so Spark's file index and other parquet readers skip it);
  * later upserts must match it. [[Sinks.readView]] carries it in the
  * `__bucket` field's metadata, which is how
  * `LatestByKey.ReadOnlyTableView` routes a key to its bucket.
  */
final case class ViewLayout(numBuckets: Int, keyCol: String, keyType: DataType) {

  /** The bucket of a key expression of type `keyType`. */
  def bucket(key: Column): Column = pmod(xxhash64(key), lit(numBuckets.toLong))

  /** The bucket of a key literal, folded at planning; None where a key
    * equal to `k` need not have the same bytes to hash: float/double keys
    * (`-0.0 = 0.0`), collated strings, and a literal that is neither of
    * `keyType` nor integral over an integral key. An integral literal out
    * of the key type's range maps to a null bucket, which holds no row, as
    * no key equals it.
    */
  def bucketOf(k: Any): Option[Column] = {
    val l = lit(k)
    val lt = Literal(k).dataType
    if (!ViewLayout.routable(keyType)) None
    else if (lt == keyType) Some(bucket(l))
    else if (ViewLayout.integral(lt) && ViewLayout.integral(keyType))
      Some(bucket(l.try_cast(keyType)))
    else None
  }

  def metadata: Metadata = new MetadataBuilder()
    .putLong("numBuckets", numBuckets)
    .putString("keyCol", keyCol)
    .putString("keyType", keyType.catalogString)
    .putString("hash", ViewLayout.Hash)
    .build()
}

object ViewLayout {
  /** The view's hash-partition column. */
  val BucketCol = "__bucket"
  /** The layout file at the view root. */
  val LayoutFile = "_graft_view_layout.json"
  private val Hash = "pmod(xxhash64(key), numBuckets)"
  private val MetadataKey = "graft.viewLayout"

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def routable(t: DataType): Boolean = t match {
    // StringType is the binary collation; a collated string is another type
    case StringType | _: DecimalType | BinaryType | BooleanType | DateType | TimestampType |
        TimestampNTZType => true
    case _ => integral(t)
  }

  private def fromMetadata(m: Metadata): ViewLayout = {
    require(m.getString("hash") == Hash,
      s"view layout hashes with ${m.getString("hash")}, this engine with $Hash")
    ViewLayout(m.getLong("numBuckets").toInt, m.getString("keyCol"),
      DataType.fromDDL(m.getString("keyType")))
  }

  /** The layout a DataFrame's `__bucket` column carries, if any. */
  def of(df: DataFrame): Option[ViewLayout] =
    df.schema.find(_.name == BucketCol).map(_.metadata)
      .filter(_.contains(MetadataKey)).map(m => fromMetadata(m.getMetadata(MetadataKey)))

  /** `__bucket`, carrying `layout` in its metadata. */
  def tag(df: DataFrame, layout: ViewLayout): DataFrame =
    df.withMetadata(BucketCol,
      new MetadataBuilder().putMetadata(MetadataKey, layout.metadata).build())

  def read(fs: FileSystem, view: Path): Option[ViewLayout] = {
    val f = new Path(view, LayoutFile)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(fromMetadata(Metadata.fromJson(
        new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))))
      finally in.close()
    }
  }

  def write(fs: FileSystem, view: Path, layout: ViewLayout): Unit = {
    val out = fs.create(new Path(view, LayoutFile), false)
    try out.write(layout.metadata.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
