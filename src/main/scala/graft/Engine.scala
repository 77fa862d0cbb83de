package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Design notes (scale): the engine targets a multi-executor cluster over
  * ~100 TB; everything here is also valid on `local[N]` for tests. We rely on
  * Catalyst + AQE for join-strategy selection, skew-join splitting and
  * partition coalescing rather than hand-scheduling. Shuffle partitions are
  * sized by the caller (the core count for a local session; a real cluster
  * submit would override via `--conf`).
  *
  * Reference: the fs2-kafka-streams runtime knobs (poll cadence, buffer
  * bounds — /root/reference/src/main/scala/com/iravid/fs2/kafka/client/
  * settings.scala:8-15) collapse into Spark's trigger interval +
  * maxOffsetsPerTrigger; see graft.sources.Sources.
  */
object Engine {

  /** Engine knob lookup: JVM system property first (so tests can flip a knob
    * per-suite without forking), then the environment (how a deployment sets
    * it). One name, two sources, string value.
    */
  private[graft] def conf(name: String): Option[String] =
    sys.props.get(name).orElse(sys.env.get(name))

  /** Boolean knob. Accepts `1`/`true` (any case) as true and `0`/`false` as
    * false — both conventions appear in this repo's docs, and a raw
    * `getOrElse` into a Spark conf turns `FLAG=1` into an
    * IllegalArgumentException at session build (ADVICE r14).
    */
  private[graft] def confFlag(name: String, default: Boolean = false): Boolean =
    conf(name).map(v => v == "1" || v.equalsIgnoreCase("true")).getOrElse(default)

  private[graft] def confLong(name: String, default: Long): Long =
    conf(name).map(_.toLong).getOrElse(default)

  /** Reliable-vs-local checkpoint posture for EVERY iterative operator's
    * per-round lineage cut (connected components, PQ/IVF-PQ stage
    * boundaries, BPE merge rounds — one switch, not per-operator
    * divergence). Local checkpoints are cheaper (no second materialization,
    * no durable write) but die with an executor; a multi-round job on a real
    * cluster then restarts from scratch. Default: local on `local[*]`
    * masters (a lost "executor" is a lost JVM anyway), reliable otherwise —
    * override either way with `SPARK_GRAFT_RELIABLE_CKPT=1|0`.
    */
  private[graft] def reliableCheckpoints(s: SparkSession): Boolean =
    confFlag("SPARK_GRAFT_RELIABLE_CKPT",
      default = !s.sparkContext.master.startsWith("local"))

  /** Cut lineage at an iterative operator's stage/round boundary, honoring
    * the deployment's fault-tolerance posture ([[reliableCheckpoints]]).
    * `eager = false` defers materialization to the first consuming action
    * (one job instead of two — the BPE r14 lesson) and is only meaningful
    * for the local flavor; reliable checkpoints are always eager.
    */
  def cutLineage(df: org.apache.spark.sql.DataFrame,
      eager: Boolean = true): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    if (reliableCheckpoints(s)) {
      if (s.sparkContext.getCheckpointDir.isEmpty)
        s.sparkContext.setCheckpointDir(
          s"${System.getProperty("java.io.tmpdir")}/graft-ckpt")
      df.checkpoint()
    } else df.localCheckpoint(eager)
  }

  /** Widen a DataFrame to the session's full shuffle parallelism ahead of a
    * CPU-dense narrow stage (tokenize/shingle/hash/decimal-fold projections).
    *
    * Why an EXPLICIT partition count: `repartition(col)` without a count is
    * a coalescible shuffle origin (`REPARTITION_BY_COL`) — AQE's partition
    * coalescing sizes post-shuffle partitions by BYTES
    * (`minPartitionSize`, default 1 MiB), so a compute-dense stage over a
    * few MB of rows collapses to 1–3 tasks and serializes on one core (the
    * round-14 QueryProbe measured exactly this on every shingle/tokenize/
    * rescore stage: e.g. a 3.1 s single-task posting join in q83 and a
    * 1.77 s single-task decimal rescore in q46). An explicit count
    * (`REPARTITION_BY_NUM`) is a user-stated parallelism decision AQE
    * honors. The count is the session's `spark.sql.shuffle.partitions` —
    * set per deployment (the core count locally, cluster-sized on a real
    * submit) — so the widening scales with the configured parallelism
    * instead of a literal. Keyed by `cols` when given (deterministic hash
    * placement); round-robin otherwise.
    */
  def widen(df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (cols.isEmpty) df.repartition(n) else df.repartition(n, cols: _*)
  }

  /** [[widen]] iff the input is worth widening — the r14 lesson made a
    * size condition instead of a blanket: the explicit 32-way exchange costs
    * a fixed ~0.1–0.3 s of dispatch + shuffle, so on a sub-second query over
    * a few hundred KB it LOSES more than the serialized stage it
    * parallelizes (driver r14: q115 0.4→0.54, q122 0.62→0.91). Sites whose
    * per-row work is light (plain tokenize/count aggregates) call this; the
    * widen re-engages when the optimizer's size estimate for the input
    * passes `SPARK_GRAFT_WIDEN_MIN_BYTES` (default 8 MiB — at ~100 MB/s
    * single-core tokenize throughput that is the ≥ ~0.3 s serialized-stage
    * rule from the r14 A/Bs). Sites whose per-row work is heavy (shingling,
    * 64-hash minhash, decimal rescoring — serialized cost ≥0.3 s even on
    * sf0.1 inputs) keep calling [[widen]] unconditionally: the threshold is
    * per-site because the break-even point scales with per-row cost, not
    * bytes alone.
    */
  def widenIf(df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val minBytes = confLong("SPARK_GRAFT_WIDEN_MIN_BYTES", 8L * 1024 * 1024)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < minBytes) df else widen(df, cols: _*)
  }

  /** Apply the engine's standard configuration to a builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 64 MiB broadcast threshold: dims (region/nation/customer/supplier at
      // our SFs, and the ANN query-vector side) broadcast; fact tables never.
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // guide §3.1/§9: let the planner pick shuffled-hash over sort-merge
      // when its size conditions hold (skips both sort passes). Measured
      // r14 A/B on the 10 join-heaviest queries, back-to-back idle 3-rep
      // medians: 32.4 s (SMJ) vs 29.8/28.4 s (two SHJ runs) — consistent
      // −10%, only q133 ~0.3 s worse. The planner still falls back to SMJ
      // when a build side can't be sized into memory, and AQE skew-split
      // handles SHJ too; SPARK_GRAFT_PREFER_SMJ=true restores the old
      // default for deployments that want sort-merge's unconditional spill
      // safety.
      //
      // OOM posture at cluster scale (ADVICE r14): the SHJ build map does
      // NOT spill, and the planner's size condition works off STATS
      // ESTIMATES — with this 64 MiB broadcast threshold the build side it
      // accepts can reach threshold × numShufflePartitions bytes in the
      // worst mis-estimate. Deployments whose input statistics are
      // unreliable (post-UDF filters, fresh unanalyzed tables) should
      // submit with SPARK_GRAFT_PREFER_SMJ=true (one env var, no code
      // change) — the A/B above says the cost is ~10% on this workload —
      // or keep statistics current so the estimate holds.
      .config("spark.sql.join.preferSortMergeJoin",
        confFlag("SPARK_GRAFT_PREFER_SMJ").toString)
      // events.ts is parquet TIMESTAMP(NANOS) which Spark's reader rejects;
      // read it as a raw long and convert (ns → µs) in Fixtures.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // the incremental pipeline's layered state dirs (≤ FpCompactAt
      // epoch layers × 64 bucket subdirs) sit just above the default
      // 32-path threshold, so every layer read would otherwise spawn a
      // parallel-listing JOB — per-epoch job count then grows with layer
      // depth for listing work a driver thread does in microseconds.
      // 1024 keeps listing driver-local up to the compaction bound.
      // Deployment tradeoff: driver-sequential listing of ~1k paths is
      // free on local disk / HDFS but slow on object stores (S3 LIST
      // round-trips) — override per process with
      // SPARK_GRAFT_PARTITION_DISCOVERY_THRESHOLD (see README scale notes).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_PARTITION_DISCOVERY_THRESHOLD", "1024"))
      // RocksDB-backed state: the analogue of the reference's RocksDB tables
      // (streams/KVStores.scala) — state lives off-heap, per shuffle partition.
      .config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.ui.retainedExecutions", "4")
      // keep managed-table data (bucketed tables) out of the repo cwd
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")

  /** A positive-integer setting from the environment, `default` when unset.
    * A value that is not an integer ≥ 1 fails with the variable's name.
    */
  private[graft] def envCount(name: String, default: => Int): Int =
    sys.env.get(name).map { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$name must be an integer >= 1, got '$v'"))
    }.getOrElse(default)

  /** Local session with `cores` threads and shuffle partitions; by default
    * `SPARK_GRAFT_CPUS`, else the machine's processors.
    */
  def session(cores: Int = envCount("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors),
      appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
