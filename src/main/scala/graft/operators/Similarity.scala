package graft.operators

import graft.{Fixtures, GraftQuery}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * [EXT] per BASELINE.json; the reference has no vector operations.
  *
  * Scale design (100 TB / billions of vectors):
  *  - q15/q21 are the exact baselines. The query side is tiny and explicitly
  *    `broadcast()`ed, so the corpus is scanned once with NO shuffle of the
  *    vector column at all; per-query top-k is a TakeOrderedAndProject /
  *    windowed rank over (query × corpus) rows, never a global sort.
  *  - q22 is the scale path: an IVF (inverted-file) index. Vectors are
  *    assigned to their nearest centroid (one broadcast join), queries probe
  *    the `nprobe` nearest cells, and only probed cells are scored —
  *    corpus-scan cost drops by ~nlist/nprobe. The coarse quantizer here
  *    uses deterministic seed centroids (first `nlist` vectors) instead of
  *    k-means iterations: centroid *quality* affects recall only, not the
  *    operator's plan shape, and determinism is what the harness needs.
  *    Approximate ⇒ no value oracle; AnnSpec asserts recall@5 against q21.
  */
object Similarity {

  // ---------------------------------------------------------------- q15
  // Cosine top-20 against the vec_id=0 query vector (SURVEY §2.C Q15).
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.embeddings(s, dir)
    val q0 = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    e.crossJoin(broadcast(q0))
      .select(col("vec_id"),
        graft.functions.Rounding.stable(cosineDec(col("embedding"), col("qe")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(20)
  }

  private val q15Sql =
    """WITH el AS (
      |  SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding, 1) i FROM embeddings),
      |q AS (SELECT i, x qx FROM el WHERE vec_id = 0),
      |parts AS (
      |  SELECT el.vec_id,
      |    SUM(CAST(round(CAST(el.x AS DOUBLE) * CAST(q.qx AS DOUBLE), 9) AS DECIMAL(28,12))) dot,
      |    SUM(CAST(round(CAST(el.x AS DOUBLE) * CAST(el.x AS DOUBLE), 9) AS DECIMAL(28,12))) n2,
      |    SUM(CAST(round(CAST(q.qx AS DOUBLE) * CAST(q.qx AS DOUBLE), 9) AS DECIMAL(28,12))) qn2
      |  FROM el JOIN q ON el.i = q.i GROUP BY 1)
      |SELECT vec_id,
      |  floor((CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM parts ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q21
  // Brute-force ANN baseline: exact top-5 neighbors for each query vector
  // (vec_id < 10), self excluded. Rank by exact-decimal cosine.
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.embeddings(s, dir)
    // widen single-file scan for the scoring loop — sized from the session's
    // shuffle parallelism, never a literal (a 2000-partition cluster submit
    // must not bottleneck at a hard-coded 32 tasks)
    val withNorm = e.repartition(e.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("vec_id"), col("embedding"), norm2Dec(col("embedding")).as("n2"))
    val qs = withNorm.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val scored = withNorm.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineWithNorms(dotDec(col("embedding"), col("qe")), col("n2"), col("qn2")).as("c"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        graft.functions.Rounding.stable(col("c"), 4).as("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private val q21Sql =
    """WITH el AS (
      |  SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding, 1) i FROM embeddings),
      |norms AS (
      |  SELECT vec_id, SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9) AS DECIMAL(28,12))) n2
      |  FROM el GROUP BY 1),
      |dots AS (
      |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
      |    SUM(CAST(round(CAST(c.x AS DOUBLE) * CAST(q.x AS DOUBLE), 9) AS DECIMAL(28,12))) dot
      |  FROM el c JOIN el q ON c.i = q.i AND q.vec_id < 10 AND c.vec_id <> q.vec_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) c
      |  FROM dots JOIN norms nc ON nc.vec_id = neighbor_id JOIN norms nq ON nq.vec_id = query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, c,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) rnk
      |  FROM scored)
      |SELECT query_id, rnk, neighbor_id, floor(c * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Assign every vector to its nearest centroid. `cents` has
    * (cent_id, ce, cn2). Nearest centroid (tie-break: smallest cent_id) via
    * max_by over struct(cc, -cent_id) — a hash aggregate whose map-side
    * partial combines the nlist candidate rows BEFORE the shuffle, so the
    * exchange carries one row per vector, not nlist. (A window row_number
    * would shuffle corpus × nlist rows and sort them.)
    */
  private def assignCells(withNorm: DataFrame, cents: DataFrame): DataFrame =
    withNorm.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("n2"), col("cent_id"),
        cosineFast(graft.functions.VectorDot.dot(col("embedding"), col("ce")),
          col("n2"), col("cn2")).as("cc"))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cent_id"), struct(col("cc"), (-col("cent_id")).as("tie"))).as("cell"),
        any_value(col("embedding")).as("embedding"), // constant per vec_id
        any_value(col("n2")).as("n2"))
      .select(col("cell"), col("vec_id"), col("embedding"), col("n2"))

  /** One Lloyd iteration: each cell's new centroid is the element-wise mean
    * of its members, computed by the [[graft.functions.VectorMean]] partial
    * aggregate — one dims-long buffer per (cell × task), merged across the
    * wire, NOT a corpus × dims posexplode shuffle (the explode formulation
    * ships every vector component as its own row; at corpus scale that
    * shuffle is the whole job). Scaled-long accumulation keeps the refined
    * centroids — and hence cell assignments — deterministic regardless of
    * partitioning and merge order.
    */
  private def refineCentroids(index: DataFrame): DataFrame = {
    val vmean = udaf(new graft.functions.VectorMean(9),
      org.apache.spark.sql.Encoders.product[graft.functions.VecIn])
    index.groupBy(col("cell"))
      .agg(vmean(col("embedding")).as("ce"))
      .select(col("cell").as("cent_id"), col("ce"),
        graft.functions.VectorDot.dot(col("ce"), col("ce")).as("cn2"))
  }

  /** Build an IVF index. Initial centroids are deterministic seeds
    * (vec_id < nlist); `refineIters` Lloyd iterations improve centroid
    * quality (and hence recall at a fixed nprobe) while keeping the build
    * fully deterministic — k-means++ random restarts would buy better
    * centroids at the cost of reproducibility. Returns (index, centroids):
    * index = (cell, vec_id, embedding, n2), centroids = (cent_id, ce, cn2).
    */
  def ivfBuild(e: DataFrame, nlist: Int, refineIters: Int = 0)
      : (DataFrame, DataFrame) = {
    // ANN is approximate by contract (no value oracle), so all scoring uses
    // the codegen'd double path (VectorDot) — deterministic, ~100× faster
    // than the decimal-exact fold.
    val withNorm = e.select(col("vec_id"), col("embedding"),
      graft.functions.VectorDot.dot(col("embedding"), col("embedding")).as("n2"))
    var cents = withNorm.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("n2").as("cn2"))
    var index = assignCells(withNorm, cents)
    for (_ <- 1 to refineIters) {
      // cache each iteration's output: without this, every downstream
      // consumer (probe side AND scoring side of ivfTopK both read `index`)
      // re-derives the whole assignCells chain per iteration — O(iters²)
      // recompute that doubles query time at refineIters=1 and would be
      // ruinous at corpus scale. Lazy persist (not an eager checkpoint):
      // the first consumer materializes while computing, later consumers
      // read the cache, and no dedicated materialization job runs.
      cents = refineCentroids(index).persist()
      index = assignCells(withNorm, cents).persist()
    }
    (index, cents)
  }

  /** IVF-probed approximate top-k: score only vectors in the query's
    * `nprobe` nearest cells.
    *
    * `exactRescore = true` scores survivors with the exact-decimal cosine
    * (order-free, oracle-hashable) instead of the fast double path — used by
    * q46, where `nprobe = nlist` makes IVF provably ≡ brute force, giving
    * the whole index/probe/rank machinery a value oracle (q21's SQL).
    */
  def ivfTopK(e: DataFrame, queryPred: org.apache.spark.sql.Column,
      nlist: Int, nprobe: Int, k: Int, exactRescore: Boolean = false,
      refineIters: Int = 0): DataFrame = {
    val (index, cents) = ivfBuild(e, nlist, refineIters)
    val qsBase = index.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    // exact path: the query-side decimal norm is computed HERE — one row per
    // query, BEFORE the × nlist probe explosion (a withColumn after `probes`
    // would re-run the interpreted decimal fold once per probed cell)
    val qs = if (exactRescore) qsBase.withColumn("qn2d", norm2Dec(col("qe"))) else qsBase
    val carry = Seq(col("query_id"), col("qe"), col("qn2")) ++
      (if (exactRescore) Seq(col("qn2d")) else Nil)
    val wp = Window.partitionBy(col("query_id")).orderBy(col("qc").desc, col("cent_id"))
    val probes = qs.crossJoin(broadcast(cents))
      .select(carry :+ col("cent_id") :+
        cosineFast(graft.functions.VectorDot.dot(col("qe"), col("ce")),
          col("qn2"), col("cn2")).as("qc"): _*)
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(carry :+ col("cent_id").as("cell"): _*)
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    // decimal norms are per-row columns on each side, never per pair — the
    // pairwise work stays one decimal dot, same as q21's shape
    val (indexSide, probeSide, score) =
      if (exactRescore)
        // widen: the per-pair interpreted decimal dot is the CPU-dense
        // stage (QueryProbe r14: a 1.77 s single-task job was 70% of q46),
        // and the index arrives AQE-coalesced to one partition at fixture
        // byte sizes — see Engine.widen. ROUND-ROBIN, not keyed (r15): the
        // index is the output of assignCells' vec_id aggregation, so a
        // widen KEYED on vec_id is a redundant repartition the optimizer
        // deletes — leaving only the aggregate's coalescible
        // ENSURE_REQUIREMENTS exchange, which AQE collapsed right back to
        // one task (r15 QueryProbe: a 1.81 s single-task job was 68% of
        // q46 WITH the keyed widen in the source). Round-robin distribution
        // differs from any existing partitioning, so it survives planning.
        // Fast path stays unwidened: its codegen'd double scoring is cheap
        // enough that an extra exchange per query would cost more than it
        // buys.
        (graft.Engine.widen(index)
          .withColumn("n2d", norm2Dec(col("embedding"))),
          probes,
          cosineWithNorms(dotDec(col("embedding"), col("qe")), col("n2d"), col("qn2d")))
      else
        (index, probes,
          cosineFast(graft.functions.VectorDot.dot(col("embedding"), col("qe")),
            col("n2"), col("qn2")))
    val out = indexSide.join(broadcast(probeSide), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), score.as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    if (exactRescore)
      out.select(col("query_id"), col("rnk"), col("neighbor_id"),
        graft.functions.Rounding.stable(col("c"), 4).as("cos_sim"))
    else
      out.select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("c"), 4).as("cos_sim"))
  }

  /** Random-hyperplane LSH bucketing — the other bucketed scale path next
    * to IVF. Hyperplanes are deterministic (±1 signs from md5 of
    * "plane:p:d", computed once driver-side and shipped as literals — the
    * broadcast-model shape). `bucket` packs `nPlanes` sign bits of the
    * signed projections; near vectors collide with probability
    * (1 − θ/π)^nPlanes. Candidates = bucket-equality self-join (an equi
    * join → shuffle-hash, never pairwise); verification is the caller's
    * exact cosine.
    */
  /** Deterministic ±1 hyperplane signs (md5 of "plane:p:d") — computed once
    * driver-side and shipped as literals, the broadcast-model shape. Shared
    * by the fast and exact bucketing paths and by the q47 oracle SQL.
    */
  private def planeSign(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"plane:$p:$d".getBytes("UTF-8"))
    if ((h(0) & 1) == 1) 1.0 else -1.0
  }

  def lshBuckets(e: DataFrame, nPlanes: Int, dims: Int = 64): DataFrame = {
    require(nPlanes <= 16)
    val planes: Seq[org.apache.spark.sql.Column] = (0 until nPlanes).map { p =>
      val signs = array((0 until dims).map(d => lit(planeSign(p, d))): _*)
      val proj = aggregate(
        zip_with(col("embedding"), signs, (x, sgn) => x.cast("double") * sgn),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1 << p)).otherwise(lit(0))
    }
    e.select(col("vec_id"), col("embedding"), planes.reduce(_ + _).as("bucket"))
  }

  /** Exact-decimal variant of [[lshBuckets]]: each signed projection is a
    * [[dotDec]] against the ±1 plane vector, so the sign decision (and hence
    * the bucket id) is order-free and reproducible in the DuckDB oracle —
    * this is what lets the LSH machinery be hash-checked (q47) rather than
    * property-checked only.
    */
  /** Two-phase sign bit for plane `p`: the codegen'd double projection
    * decides whenever it sits outside the decimal-vs-double error margin
    * (per-term 9-dp rounding ≤ 0.5e-9 × dims plus double accumulation
    * < 1e-7 total, so 1e-5 is a safe fence); the interpreted exact-decimal
    * fold runs ONLY for the rare |proj| ≤ 1e-5 rows. Bit-identical to the
    * decimal-only formulation (which the oracle mirrors) at ~100× less
    * interpreted work — the q20/q106 prefilter discipline applied to the
    * sign decision itself.
    */
  private def planeBit(p: Int, bitValue: Long, dims: Int): org.apache.spark.sql.Column = {
    val signsF = array((0 until dims).map(d => lit(planeSign(p, d).toFloat)): _*)
    val signsD = array((0 until dims).map(d => lit(planeSign(p, d))): _*)
    val fast = graft.functions.VectorDot.dot(col("embedding"), signsF)
    when(fast > 1e-5, lit(bitValue))
      .when(fast < -1e-5, lit(0L))
      .otherwise(
        when(dotDec(col("embedding"), signsD) >= 0, lit(bitValue)).otherwise(lit(0L)))
  }

  def lshBucketsExact(e: DataFrame, nPlanes: Int, dims: Int = 64): DataFrame = {
    require(nPlanes <= 16)
    val planes: Seq[org.apache.spark.sql.Column] =
      (0 until nPlanes).map(p => planeBit(p, 1 << p, dims))
    e.select(col("vec_id"), planes.reduce(_ + _).cast("long").as("bucket"))
  }

  // ------------------------------------------------------------------ PQ
  // Product quantization (Jégou et al., "Product Quantization for Nearest
  // Neighbor Search", IEEE TPAMI 2011 — the compression layer of FAISS-style
  // IVF-PQ): split each vector into `m` subvectors, learn a k-entry
  // codebook per subspace (k-means), store each vector as m small codes.
  // 64 float dims (256 B) compress to m=8 bytes — at corpus scale the
  // compressed index fits in memory where raw vectors never would, and
  // scoring never touches the raw vector column.
  //
  // Every stage is a broadcast join or a map-side-combinable aggregate:
  //  - training: corpus × m narrow subvector rows, argmin against a
  //    BROADCAST codebook (k × m rows), centroid update via the VectorMean
  //    partial aggregate (no explode; wire = k × m × tasks buffers);
  //  - encoding: one more broadcast-argmin pass → (vec_id, sub, code);
  //  - ADC query: the query builds a (query × sub × code) lookup table of
  //    partial dots — tiny, broadcast — and scoring is ONE equi join from
  //    the compressed codes to the LUT plus a (query, vec) sum. The raw
  //    corpus vectors are never read at query time.
  //
  // Determinism: subvector distances are per-row double folds (VectorDot —
  // no cross-row reduction), argmin is min_by over the total order
  // (dist, code), and centroid updates are VectorMean's exact scaled-long
  // sums — codes and centroids are bit-identical for every partitioning.

  /** Long-format (sub, sv) subvector rows: dims must divide evenly. */
  private def subvectors(e: DataFrame, m: Int, dims: Int): DataFrame = {
    val d = dims / m
    require(m * d == dims, s"m=$m must divide dims=$dims")
    val subs = array((0 until m).map(i =>
      struct(lit(i).as("sub"), slice(col("embedding"), i * d + 1, d).as("sv"))): _*)
    e.select(col("vec_id"), inline(subs))
  }

  /** Nearest codebook entry per (vec_id, sub): one broadcast join + one
    * min_by aggregate. Squared L2 = |sv|² − 2·dot + |c|²; |sv|² is constant
    * within the argmin group, so ranking uses (|c|² − 2·dot) only.
    */
  private def assignCodes(sv: DataFrame, codebook: DataFrame): DataFrame =
    sv.join(broadcast(codebook), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"),
        (col("cn2") - lit(2.0) * graft.functions.VectorDot.dot(col("sv"), col("cent")))
          .as("dist"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"))

  /** Train per-subspace codebooks: deterministic seeds (vec_id < k) +
    * `iters` Lloyd refinements. Returns (sub, code, cent, cn2).
    *
    * Refinements train on a deterministic 1-in-`TrainSampleMod` sample of
    * the corpus (plus the seed rows) — the FAISS production discipline: at
    * corpus scale the codebook converges on a sample; only ENCODING must
    * touch every vector. Sampling by `vec_id % mod` keeps the trained
    * codebook bit-identical at any parallelism, and `iters = 0` (the
    * exact-reconstruction configuration PqSpec pins) is unaffected.
    */
  private val TrainSampleMod = 4
  def pqTrain(e: DataFrame, m: Int, k: Int, iters: Int, dims: Int = 64): DataFrame = {
    // r15 persist-graph trim (the r14 "not yet" item: pqTrain's cache chain
    // was the remaining q99/q100 plan-size driver). The full subvector view
    // is NOT persisted: its two consumers are FILTERS — the train sample
    // and the k seed rows — and un-cached they push straight into the
    // parquet scan (the seed read touches k rows instead of a cached full
    // corpus materialization). Only the train sample, read twice per Lloyd
    // iteration, is persisted; per-iteration codebooks are LAZY lineage
    // cuts (m×k rows — keeps iteration plans flat without a cache entry or
    // a dedicated materialization job per round).
    val sv = subvectors(e, m, dims)
    val svTrain =
      if (iters == 0) sv
      else sv.filter(pmod(col("vec_id"), lit(TrainSampleMod)) === 0 ||
        col("vec_id") < k).persist()
    var cb = sv.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").cast("int").as("code"), col("sv").as("cent"),
        graft.functions.VectorDot.dot(col("sv"), col("sv")).as("cn2"))
    val vmean = udaf(new graft.functions.VectorMean(9),
      org.apache.spark.sql.Encoders.product[graft.functions.VecIn])
    for (_ <- 1 to iters) {
      cb = graft.Engine.cutLineage(assignCodes(svTrain, cb)
        .join(svTrain, Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("code"))
        .agg(vmean(col("sv")).as("cent"))
        .select(col("sub"), col("code"), col("cent"),
          graft.functions.VectorDot.dot(col("cent"), col("cent")).as("cn2")),
        eager = false)
    }
    cb
  }

  /** Compress the corpus: (vec_id, sub, code) — m codes per vector. */
  def pqEncode(e: DataFrame, codebook: DataFrame, m: Int, dims: Int = 64): DataFrame =
    assignCodes(subvectors(e, m, dims), codebook)

  /** ADC (asymmetric distance computation) top-k by approximate cosine:
    * queries stay exact float vectors; the corpus is scored from its codes
    * alone via the broadcast lookup table. Approximate |x|² is the
    * reconstruction norm Σₘ|cₘ|² (exact when codes reconstruct exactly).
    *
    * `rerank > 0` enables the production two-stage shape: ADC selects a
    * `rerank`-deep shortlist from codes alone, then ONLY the shortlisted
    * (query, neighbor) pairs read their raw vectors for an exact-cosine
    * re-rank to `topK`. The raw-vector read is shortlist-bounded
    * (queries × rerank rows), not corpus-bounded — on a 100 TB corpus the
    * full scan stays on the 32×-smaller code table.
    */
  def pqTopK(e: DataFrame, queryPred: org.apache.spark.sql.Column,
      m: Int, k: Int, iters: Int, topK: Int, dims: Int = 64,
      rerank: Int = 0): DataFrame = {
    // Lineage cuts at the train/encode stage boundaries (Engine.cutLineage):
    // the trained codebook and the compressed codes are the tiny, reused
    // artifacts every downstream subtree hangs off; cutting lineage here
    // keeps the ADC/rerank plans LogicalRDD-rooted instead of dragging the
    // whole train pipeline through every Catalyst/AQE re-plan (the r14
    // QueryProbe showed q99/q100 spending ~1-1.5 s in driver gaps between
    // sub-0.2 s jobs — plan size, not compute). r15: LAZY (the first
    // consuming action materializes — no dedicated materialization job, the
    // BPE r14 lesson) and the codebook coalesces to ONE partition first:
    // m×k rows is scale-INDEPENDENT model state, so 32-way partitioning of
    // it is 31 empty tasks in every job that touches it.
    val cb = graft.Engine.cutLineage(
      pqTrain(e, m, k, iters, dims).coalesce(1), eager = false)
    val codes = graft.Engine.cutLineage(pqEncode(e, cb, m, dims), eager = false)
    val qs = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding"),
        graft.functions.VectorDot.dot(col("embedding"), col("embedding")).as("qn2"))
    // LUT: queries × m × k partial dots — |queries|·m·k rows, broadcast
    val lut = subvectors(qs.withColumnRenamed("query_id", "vec_id"), m, dims)
      .join(qs.select(col("query_id").as("vec_id"), col("qn2")), Seq("vec_id"))
      .withColumnRenamed("vec_id", "query_id")
      .join(cb, Seq("sub"))
      .select(col("query_id"), col("qn2"), col("sub"), col("code"), col("cn2"),
        graft.functions.VectorDot.dot(col("sv"), col("cent")).as("dlut"))
    val shortlistK = if (rerank > 0) rerank else topK
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    val adc = codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dlut")).as("adot"), sum(col("cn2")).as("an2"),
        first(col("qn2")).as("qn2"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        // greatest-guard (as in ivfpqTopK): a vector whose m codes all map
        // to ~zero-norm centroids would give an2 = 0 → NaN, and Spark ranks
        // NaN above every double — garbage would displace true neighbors.
        (col("adot") / (sqrt(greatest(col("an2"), lit(1e-12))) * sqrt(col("qn2")))).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= shortlistK)
    val ranked = if (rerank == 0) adc else exactRerank(adc, e, qs, topK)
    ranked.select(col("query_id"), col("rnk"), col("neighbor_id"),
      round(col("c"), 4).as("cos_sim"))
  }

  /** Exact-cosine re-rank of an ADC shortlist: raw vectors are read ONLY
    * for the shortlisted (query, neighbor) pairs — queries × shortlist
    * rows, not corpus rows. `qs` must carry (query_id, embedding, qn2).
    */
  private def exactRerank(shortlist: DataFrame, e: DataFrame,
      qs: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    val corpus = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"),
      graft.functions.VectorDot.dot(col("embedding"), col("embedding")).as("nn2"))
    shortlist.select(col("query_id"), col("neighbor_id"))
      .join(corpus, Seq("neighbor_id"))
      .join(broadcast(qs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFast(graft.functions.VectorDot.dot(col("ne"), col("embedding")),
          col("nn2"), col("qn2")).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
  }

  /** IVF-PQ: the two scale layers composed — the canonical billion-vector
    * architecture (FAISS IVFADC; Jégou et al. 2011 §IV). The coarse IVF
    * quantizer restricts scoring to `nprobe` of `nlist` cells; within
    * probed cells, vectors are scored from m-byte PQ codes of their
    * RESIDUAL (x − cell centroid) — residuals are far smaller than raw
    * vectors, so the same codebook budget quantizes them much more
    * accurately.
    *
    * dot(q, x̂) decomposes as dot(q, c_cell) + Σₘ dot(qₘ, r̂ₘ): the first
    * term falls out of cell probing, the second is the same broadcast
    * query-LUT as [[pqTopK]] — residual codebooks are GLOBAL, so the LUT is
    * cell-independent. The reconstruction norm |x̂|² = |c|² + 2·Σₘ
    * dot(cₘ, r̂ₘ) + Σₘ|r̂ₘ|² needs one more broadcast table keyed
    * (cell, sub, code) — nlist × m × k rows, corpus-independent. Scoring
    * is therefore: compressed codes ⋈ three broadcast tables → one
    * map-side-combinable (query, vec) sum. Raw vectors are touched only by
    * the optional shortlist re-rank.
    */
  def ivfpqTopK(e: DataFrame, queryPred: org.apache.spark.sql.Column,
      nlist: Int, nprobe: Int, m: Int, k: Int, iters: Int, topK: Int,
      dims: Int = 64, rerank: Int = 0): DataFrame = {
    val (index, cents) = ivfBuild(e, nlist)
    // Lineage cuts at the stage boundaries (same rationale as pqTopK):
    // residuals, codebook and codes are the reused artifacts; truncating
    // lineage here keeps every downstream ADC subtree small instead of
    // re-planning the full build pipeline per AQE stage. r15: lazy cuts
    // (first consumer materializes — no dedicated jobs) and the
    // scale-independent codebook (m×k rows) coalesces to one partition.
    val resid = graft.Engine.cutLineage(
      index.join(broadcast(cents), col("cell") === col("cent_id"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("embedding"), col("ce"), (x, y) => x - y).as("embedding")),
      eager = false)
    val cb = graft.Engine.cutLineage(
      pqTrain(resid.select(col("vec_id"), col("embedding")),
        m, k, iters, dims).coalesce(1), eager = false)
    val codes = graft.Engine.cutLineage(
      pqEncode(resid.select(col("vec_id"), col("embedding")), cb, m, dims)
        .join(resid.select(col("vec_id"), col("cell")), Seq("vec_id")),
      eager = false)
    // (cell, sub, code) → dot(cell-centroid subvector, residual centroid)
    // and |r̂|² — the norm-correction table, nlist × m × k rows
    val cellLut = subvectors(
        cents.select(col("cent_id").as("vec_id"), col("ce").as("embedding")), m, dims)
      .select(col("vec_id").as("cell"), col("sub"), col("sv").as("csv"))
      .join(cb, Seq("sub"))
      .select(col("cell"), col("sub"), col("code"),
        graft.functions.VectorDot.dot(col("csv"), col("cent")).as("cdot"),
        col("cn2").as("rn2"))
    val qs = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding"),
        graft.functions.VectorDot.dot(col("embedding"), col("embedding")).as("qn2"))
    // top-nprobe cells per query, carrying dot(q, c_cell) for the scorer
    val wp = Window.partitionBy(col("query_id")).orderBy(col("qc").desc, col("cell"))
    val probes = qs.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qn2"), col("cent_id").as("cell"), col("cn2"),
        graft.functions.VectorDot.dot(col("embedding"), col("ce")).as("qdotc"))
      .withColumn("qc", cosineFast(col("qdotc"), col("qn2"), col("cn2")))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qn2"), col("cell"), col("cn2"), col("qdotc"))
    // (query, sub, code) → dot(q subvector, residual centroid)
    val qlut = subvectors(
        qs.select(col("query_id").as("vec_id"), col("embedding")), m, dims)
      .select(col("vec_id").as("query_id"), col("sub"), col("sv").as("qsv"))
      .join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        graft.functions.VectorDot.dot(col("qsv"), col("cent")).as("dlut"))
    val shortlistK = if (rerank > 0) rerank else topK
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    val adc = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qlut), Seq("query_id", "sub", "code"))
      .join(broadcast(cellLut), Seq("cell", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(first(col("qdotc")).as("qdotc"), first(col("cn2")).as("cn2"),
        first(col("qn2")).as("qn2"), sum(col("dlut")).as("rdot"),
        sum(col("cdot")).as("crdot"), sum(col("rn2")).as("rn2s"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        ((col("qdotc") + col("rdot")) /
          (sqrt(greatest(col("cn2") + lit(2.0) * col("crdot") + col("rn2s"),
            lit(1e-12))) * sqrt(col("qn2")))).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= shortlistK)
    val ranked = if (rerank == 0) adc else exactRerank(adc, e, qs, topK)
    ranked.select(col("query_id"), col("rnk"), col("neighbor_id"),
      round(col("c"), 4).as("cos_sim"))
  }

  // IVF-PQ ANN: 8 coarse cells × (8 subspaces × 16 residual codes), probe
  // half the cells, 30-deep exact re-rank. Approximate ⇒ no value oracle;
  // IvfPqSpec pins all-cells + exact-residual-reconstruction ≡ brute, and
  // recall vs q21 on fixtures.
  private def q100(s: SparkSession, dir: String): DataFrame =
    ivfpqTopK(Fixtures.embeddings(s, dir), col("vec_id") < 10,
      nlist = 8, nprobe = 4, m = 8, k = 16, iters = 1, topK = 5, rerank = 30)
      .orderBy(col("query_id"), col("rnk"))

  // PQ ANN: 8 subspaces × 16 codes, one Lloyd iteration — 32× compression
  // (256 B vector → 8 B codes) — with a 50-deep exact re-rank (the
  // production IVF-PQ query shape: compressed scan, shortlist-bounded raw
  // reads). Approximate ⇒ no value oracle; PqSpec pins exact-reconstruction
  // equivalence, recall@5 vs q21, determinism, and code-range compression.
  private def q99(s: SparkSession, dir: String): DataFrame =
    pqTopK(Fixtures.embeddings(s, dir), col("vec_id") < 10,
      m = 8, k = 16, iters = 1, topK = 5, rerank = 50)
      .orderBy(col("query_id"), col("rnk"))

  // One deterministic Lloyd iteration over the seed centroids: better cell
  // balance → better recall at the same nprobe, still fully reproducible.
  private def q22(s: SparkSession, dir: String): DataFrame =
    ivfTopK(Fixtures.embeddings(s, dir), col("vec_id") < 10,
      nlist = 16, nprobe = 4, k = 5, refineIters = 1)
      .orderBy(col("query_id"), col("rnk"))

  // ---------------------------------------------------------------- q46
  // IVF with nprobe = nlist probes EVERY cell, so the approximate machinery
  // (index build, centroid probe, per-cell scoring, windowed rank) is
  // provably equivalent to brute force — giving it q21's value oracle
  // (VERDICT r1 item 8). The approximate configuration (q22) keeps its
  // recall property in AnnSpec.
  private def q46(s: SparkSession, dir: String): DataFrame =
    ivfTopK(Fixtures.embeddings(s, dir), col("vec_id") < 10,
      nlist = 16, nprobe = 16, k = 5, exactRescore = true)
      .orderBy(col("query_id"), col("rnk"))

  // ---------------------------------------------------------------- q47
  // Hyperplane-LSH bucket histogram: 12 planes → 4096 buckets. Projections
  // are exact decimal, so bucket ids hash-match the oracle, which re-derives
  // the same ±1 plane vectors as array literals.
  private def q47(s: SparkSession, dir: String): DataFrame =
    lshBucketsExact(Fixtures.embeddings(s, dir), nPlanes = 12)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  private val q47Sql = {
    val planeRows = (0 until 12).map { p =>
      (0 until 64).map(d => if (planeSign(p, d) > 0) "1.0" else "-1.0")
        .mkString(s"($p, [", ", ", "])")
    }.mkString(",\n    ")
    s"""WITH planes AS (
       |  SELECT p, unnest(s) sgn, generate_subscripts(s, 1) i FROM (VALUES
       |    $planeRows) t(p, s)),
       |el AS (
       |  SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding, 1) i FROM embeddings),
       |proj AS (
       |  SELECT vec_id, p,
       |    SUM(CAST(round(CAST(x AS DOUBLE) * sgn, 9) AS DECIMAL(28,12))) pr
       |  FROM el JOIN planes USING (i) GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) bucket
       |  FROM proj GROUP BY 1)
       |SELECT bucket, COUNT(*) AS n FROM buckets GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------- q62
  // Embedding int8 quantization — the storage-compression pass a 100 TB
  // vector corpus runs before indexing (4× smaller, cache-friendlier
  // scans). Per-vector symmetric scheme: scale = max|x| / 127,
  // qᵢ = floor(xᵢ/scale + 0.5). All narrow per-row array folds; the
  // floor(+0.5) rounding and single-division scale are spelled identically
  // in the oracle, so the emitted checksums are exact. Zero vectors are
  // excluded (scale 0 ⇒ q undefined) — none exist in the fixtures, but the
  // guard keeps the operator total.
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val absmax = aggregate(col("embedding"),
      lit(0.0), (a, x) => greatest(a, abs(x.cast("double"))))
    val e = Fixtures.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), absmax.as("m"))
      .filter(col("m") > 0)
      .withColumn("scale", col("m") / 127.0)
    val quant = transform(col("embedding"),
      x => floor(x.cast("double") / col("scale") + 0.5).cast("long"))
    e.select(col("vec_id"),
      graft.functions.Rounding.stable(col("scale"), 9).as("scale_r"),
      aggregate(quant, lit(0L), (a, q) => a + q).as("qsum"),
      aggregate(quant, lit(0L), (a, q) => greatest(a, abs(q))).as("qabsmax"))
      .orderBy(col("vec_id"))
  }

  private val q62Sql =
    """WITH el AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |mx AS (SELECT vec_id, MAX(abs(x)) AS m FROM el GROUP BY vec_id),
      |q AS (
      |  SELECT el.vec_id, mx.m, CAST(floor(x / (m / 127.0) + 0.5) AS BIGINT) AS q
      |  FROM el JOIN mx USING (vec_id) WHERE mx.m > 0)
      |SELECT vec_id,
      |  floor((m / 127.0) * 1000000000.0 + 0.5) / 1000000000.0 AS scale_r,
      |  CAST(SUM(q) AS BIGINT) AS qsum,
      |  CAST(MAX(abs(q)) AS BIGINT) AS qabsmax
      |FROM q GROUP BY vec_id, m ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q72
  // Per-label embedding centroid components (first 8 dims): the class-mean
  // step behind centroid classifiers, cluster drift monitoring, and IVF
  // seeding. The sum accumulates in exact decimal (order-free) and is then
  // CAST to DOUBLE for output — both engines cast the identical decimal, so
  // the doubles (and their stringification) match; raw DECIMAL columns are
  // never emitted (driver-hash stringification divergence, same class as
  // the HUGEINT lesson in Multimodal.scala). One narrow posexplode + one
  // map-side-combinable aggregate.
  private def q72(s: SparkSession, dir: String): DataFrame = {
    // slice BEFORE the explode: generating all 64 (pos, x) rows and
    // filtering to 8 would blow the scan output up 8× for nothing
    val el = Fixtures.embeddings(s, dir)
      .select(col("label"),
        posexplode(slice(col("embedding"), 1, 8)).as(Seq("pos", "x")))
    el.groupBy(col("label"), col("pos"))
      .agg(sum(round(col("x").cast("double"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double").as("s"),
        count(lit(1)).as("n"))
      .orderBy(col("label"), col("pos"))
  }

  // posexplode is 0-based, generate_subscripts 1-based → i-1.
  private val q72Sql =
    """WITH el AS (
      |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings)
      |SELECT label, pos,
      |  CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s,
      |  COUNT(*) AS n
      |FROM el WHERE pos < 8 GROUP BY label, pos ORDER BY label, pos""".stripMargin

  // ---------------------------------------------------------------- q106
  // LSH-bucketed embedding near-dup — the SCALE path for q20's brute
  // pairwise baseline (same τ=0.45, same exact-decimal rescore). OR-amplified
  // hyperplane LSH: 16 tables × 6 planes; a pair is a candidate iff it
  // shares a bucket in ANY table (per-table collision (1−θ/π)^6, miss
  // probability across 16 independent tables ≈ 0.29^… — ~0.75 recall at
  // τ=0.45's wide angle; raise tables for more). Fully value-oracled: the
  // DuckDB side re-derives the md5 plane signs arithmetically, so candidate
  // sets — and therefore outputs — are bit-identical.
  //
  // Scale shape: candidate generation joins SLIM (vec_id, tbl, bucket) rows
  // (16 × 12-byte rows per vector — embeddings never ride the explode);
  // raw vectors are fetched by id ONLY for distinct candidate pairs, and
  // the interpreted exact-decimal cosine runs solely on that bounded set.
  // Bucket occupancy stays constant as corpus and table count grow, so
  // candidates stay linear — never all-pairs. q20 is the correctness
  // oracle; SimilaritySpec pins q106 ⊆ q20 with identical scores.
  private val LshTables = 16
  private val LshPlanesPerTable = 6

  /** The q106 OR-amplified bucket table — (vec_id, tbl, bucket), 16 tables
    * × 6 planes — shared with the streaming cross-batch embedding gate
    * ([[graft.streaming.EmbedDedupStream]]), whose persisted index must use
    * the IDENTICAL bucket derivation to probe candidates.
    */
  def orLshBuckets(e: DataFrame): DataFrame = {
    val tableStructs = array((0 until LshTables).map { t =>
      val bits = (0 until LshPlanesPerTable).map { j =>
        planeBit(t * LshPlanesPerTable + j, 1 << j, 64)
      }
      struct(lit(t).as("tbl"), bits.reduce(_ + _).cast("long").as("bucket"))
    }: _*)
    e.select(col("vec_id"), inline(tableStructs))
  }

  private def q106(s: SparkSession, dir: String): DataFrame = {
    // widen the single-split scan before the 96 interpreted decimal plane
    // projections per vector (Engine.widen: AQE's byte-sized coalescer
    // otherwise leaves this CPU-dense narrow stage single-task)
    val e = graft.Engine.widen(Fixtures.embeddings(s, dir), col("vec_id"))
    // persist: the candidate self-join reads tb twice, and the 96 exact-
    // decimal projections per vector are interpreted — recomputing them on
    // both join sides doubles the most expensive narrow stage.
    val tb = orLshBuckets(e).persist()
    val cand = tb.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
      .join(tb.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b")),
        Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    val withNorm = e.select(col("vec_id"), col("embedding"),
      norm2Dec(col("embedding")).as("n2"),
      graft.functions.VectorDot.dot(col("embedding"), col("embedding")).as("n2d"))
    // q20's two-phase discipline: the interpreted exact-decimal cosine must
    // only ever see fast-double survivors (candidates are linear but still
    // thousands-per-bucket × tables; decimal-folding all of them measured
    // ~35 s at sf0.1 vs ~1 s with the prefilter). τ−1e-6 guarantees the
    // double phase cannot drop a qualifying pair.
    val fastc = cosineFast(graft.functions.VectorDot.dot(col("ea"), col("eb")),
      col("n2da"), col("n2db"))
    val exact = cosineWithNorms(dotDec(col("ea"), col("eb")), col("n2a"), col("n2b"))
    cand
      .join(withNorm.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("n2").as("n2a"), col("n2d").as("n2da")), Seq("vec_a"))
      .join(withNorm.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("n2").as("n2b"), col("n2d").as("n2db")), Seq("vec_b"))
      .filter(fastc >= 0.45 - 1e-6)
      .select(col("vec_a"), col("vec_b"),
        when(fastc >= 0.45 - 1e-6, exact).as("c"))
      .filter(col("c") >= 0.45)
      .select(col("vec_a"), col("vec_b"),
        graft.functions.Rounding.stable(col("c"), 4).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // plane sign p,d = (md5("plane:p:d") byte 0 & 1) ? +1 : −1, re-derived
  // arithmetically (first hex byte parity) instead of shipping 96×64 literals.
  private val q106Sql =
    s"""WITH el AS (
       |  SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding, 1) i FROM embeddings),
       |planes AS (
       |  SELECT pp.p, dd.i,
       |    CASE WHEN ('0x' || substr(md5('plane:' || pp.p || ':' || (dd.i - 1)), 1, 2))::INT % 2 = 1
       |      THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM (SELECT unnest(generate_series(0, ${LshTables * LshPlanesPerTable - 1})) AS p) pp,
       |       (SELECT unnest(generate_series(1, 64)) AS i) dd),
       |proj AS (
       |  SELECT e.vec_id, pl.p,
       |    SUM(CAST(round(CAST(e.x AS DOUBLE) * pl.sgn, 9) AS DECIMAL(28,12))) pr
       |  FROM el e JOIN planes pl USING (i) GROUP BY 1, 2),
       |tb AS (
       |  SELECT vec_id, p // $LshPlanesPerTable AS tbl,
       |    CAST(SUM(CASE WHEN pr >= 0 THEN 1 << (p % $LshPlanesPerTable) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id va, b.vec_id vb
       |  FROM tb a JOIN tb b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |norms AS (
       |  SELECT vec_id, SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9) AS DECIMAL(28,12))) n2
       |  FROM el GROUP BY 1),
       |dots AS (
       |  SELECT c.va, c.vb,
       |    SUM(CAST(round(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE), 9) AS DECIMAL(28,12))) dot
       |  FROM cand c JOIN el a ON a.vec_id = c.va JOIN el b ON b.vec_id = c.vb AND b.i = a.i
       |  GROUP BY 1, 2),
       |cos AS (
       |  SELECT va, vb,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) c
       |  FROM dots JOIN norms na ON na.vec_id = va JOIN norms nb ON nb.vec_id = vb)
       |SELECT va AS vec_a, vb AS vec_b, floor(c * 10000.0 + 0.5) / 10000.0 AS cos_sim
       |FROM cos WHERE c >= 0.45 ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- q110
  // SemDeDup-style semantic dedup (Abbas et al. 2023: cluster the embedding
  // space, then within each cluster remove near-duplicate pairs keeping the
  // member closest to the cluster centroid). Clustering here is AND-LSH:
  // 4 md5-derived hyperplanes → 16 deterministic cells (a trained k-means
  // assignment would slot in with the identical plan shape — cells are just
  // a column); "closest to centroid" is the centrality score
  // dot(x, Σ_cell x) / ‖x‖ — the cell-sum vector is shared by every member,
  // so ranking by it IS ranking by cosine-to-centroid. A pair with exact
  // cosine ≥ τ=0.35 drops its less-central member (tie → larger vec_id drops).
  //
  // Scale shape: cell sums are a tiny aggregate (≤ cells × dims groups,
  // map-side combinable); the pairwise step is confined WITHIN cells —
  // SemDeDup's own posture: cell population is bounded by construction
  // (more planes → smaller cells), so candidates stay linear, never
  // all-pairs. The plane count is a PARAMETER sized to the corpus
  // ([[semPlanesFor]]: ≈ log₂(n / target_cell_pop), so expected cell
  // population stays constant as n grows — at 100× you add ~7 planes, the
  // pair join's bucket key gains 2⁷× more distinct values, and both the
  // quadratic-within-cell work and the shuffle parallelism hold); the
  // 4-plane form is the oracle-pinned fixture shape. Adding planes only
  // REFINES cells (bucket bits extend), so SemDedupSpec's reference
  // equivalence + refinement property hold at any count. Determinism:
  // centrality is exact integer arithmetic — components scaled to
  // round(x·1e6) longs, products summed as DECIMAL(38,0) — divided once by
  // a sqrt of an exact long, so both engines compare bit-identical
  // doubles; the near-dup confirm reuses q20/q106's fast-double prefilter
  // + exact-decimal rescore.
  private[graft] val SemPlanes = 4
  private val SemPlaneBase = 128 // independent of q47 (0..15) / q106 (0..95)

  /** Plane count sized so expected cell population ≈ `targetCellPop`:
    * ⌈log₂(n / target)⌉, floored at [[SemPlanes]] (the fixture shape) and
    * capped at 62 (the bucket key is one long).
    */
  private[graft] def semPlanesFor(n: Long, targetCellPop: Long = 256L): Int =
    math.min(62, math.max(SemPlanes,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetCellPop))
        / math.log(2.0)).toInt))

  /** The scale entry: sizes the plane count from the corpus cardinality —
    * one documented count job at construction (a production run would pass
    * its catalog estimate to [[semDedup]] directly).
    */
  private[graft] def semDedupSized(s: SparkSession, dir: String,
      targetCellPop: Long = 256L): DataFrame =
    semDedup(s, dir, semPlanesFor(Fixtures.embeddings(s, dir).count(), targetCellPop))

  private def q110(s: SparkSession, dir: String): DataFrame =
    semDedup(s, dir, SemPlanes)

  /** q110 body at any plane count (cells = `2^planes` AND-LSH buckets). */
  private[graft] def semDedup(s: SparkSession, dir: String, planes: Int): DataFrame = {
    require(planes >= 1 && planes <= 62, "bucket key must fit one long")
    val DEC38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // NOT widened (measured, rejected r14): q110 is ~20 small stages over
    // 2000 vectors; widening them all cost more in 32-task dispatch than
    // the 0.3 s serial bucketing stage it parallelized (1.1 -> 1.7 s)
    val e = Fixtures.embeddings(s, dir)
    val bits = (0 until planes).map(j => planeBit(SemPlaneBase + j, 1L << j, 64))
    val r6 = transform(col("embedding"),
      x => round(x.cast("double") * lit(1000000.0)).cast("long"))
    val b = e.select(col("vec_id"), col("embedding"), r6.as("r6"),
      bits.reduce(_ + _).cast("long").as("bucket")).persist()
    // per-cell component sums: exact scaled-long integers; the explode feeds
    // a partial agg, so the shuffle carries ≤ cells × dims rows per task
    val bsum = b.select(col("bucket"), posexplode(col("r6")).as(Seq("pos", "r")))
      .groupBy(col("bucket"), col("pos")).agg(sum(col("r")).as("s6"))
      .groupBy(col("bucket"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s6")))),
        p => p.getField("s6")).as("s6arr"))
    // persist: cents feeds the pair join twice (cent_a/cent_b) plus the
    // final output join — without the cache the centrality fold AND bsum's
    // aggregation lineage re-run three times (the q22-r4 recompute lesson)
    val cents = b.join(bsum, "bucket")
      .select(col("vec_id"), col("bucket"),
        (aggregate(zip_with(col("r6"), col("s6arr"), (a, sc) => (a * sc).cast(DEC38)),
          lit(0).cast(DEC38), (acc, v) => (acc + v).cast(DEC38)).cast("double") /
          sqrt(aggregate(transform(col("r6"), a => a * a), lit(0L), (acc, v) => acc + v)
            .cast("double"))).as("cent"))
      .persist()
    val cand = b.select(col("bucket"), col("vec_id").as("vec_a"))
      .join(b.select(col("bucket"), col("vec_id").as("vec_b")), Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
    val withNorm = e.select(col("vec_id"), col("embedding"),
      norm2Dec(col("embedding")).as("n2"),
      graft.functions.VectorDot.dot(col("embedding"), col("embedding")).as("n2d"))
    val fastc = cosineFast(graft.functions.VectorDot.dot(col("ea"), col("eb")),
      col("n2da"), col("n2db"))
    val exact = cosineWithNorms(dotDec(col("ea"), col("eb")), col("n2a"), col("n2b"))
    val confirmed = cand
      .join(withNorm.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("n2").as("n2a"), col("n2d").as("n2da")), Seq("vec_a"))
      .join(withNorm.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("n2").as("n2b"), col("n2d").as("n2db")), Seq("vec_b"))
      .filter(fastc >= 0.35 - 1e-6)
      .select(col("vec_a"), col("vec_b"), exact.as("c"))
      .filter(col("c") >= 0.35)
    confirmed
      .join(cents.select(col("vec_id").as("vec_a"), col("cent").as("cent_a")), "vec_a")
      .join(cents.select(col("vec_id").as("vec_b"), col("cent").as("cent_b")), "vec_b")
      .select(when(col("cent_a") > col("cent_b") ||
          (col("cent_a") === col("cent_b") && col("vec_a") < col("vec_b")),
        col("vec_b")).otherwise(col("vec_a")).as("vec_id"))
      .distinct()
      .join(cents, "vec_id")
      .select(col("vec_id"), col("bucket"),
        graft.functions.Rounding.stable(col("cent"), 6).as("centrality"))
      .orderBy(col("vec_id"))
  }

  private val q110Sql =
    s"""WITH el AS (
       |  SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding, 1) i FROM embeddings),
       |r AS (SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS r6 FROM el),
       |planes AS (
       |  SELECT pp.p, dd.i,
       |    CASE WHEN ('0x' || substr(md5('plane:' || pp.p || ':' || (dd.i - 1)), 1, 2))::INT % 2 = 1
       |      THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM (SELECT unnest(generate_series($SemPlaneBase, ${SemPlaneBase + SemPlanes - 1})) AS p) pp,
       |       (SELECT unnest(generate_series(1, 64)) AS i) dd),
       |proj AS (
       |  SELECT e.vec_id, pl.p,
       |    SUM(CAST(round(CAST(e.x AS DOUBLE) * pl.sgn, 9) AS DECIMAL(28,12))) pr
       |  FROM el e JOIN planes pl USING (i) GROUP BY 1, 2),
       |bk AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN pr >= 0 THEN 1 << (p - $SemPlaneBase) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1),
       |bs AS (SELECT bucket, i, SUM(r6) AS s6 FROM r JOIN bk USING (vec_id) GROUP BY 1, 2),
       |cents AS (
       |  SELECT r.vec_id, bk.bucket,
       |    CAST(SUM(CAST(r.r6 * bs.s6 AS DECIMAL(38,0))) AS DOUBLE)
       |      / sqrt(CAST(SUM(r.r6 * r.r6) AS DOUBLE)) AS cent
       |  FROM r JOIN bk USING (vec_id) JOIN bs ON bs.bucket = bk.bucket AND bs.i = r.i
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |norms AS (
       |  SELECT vec_id, SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9) AS DECIMAL(28,12))) n2
       |  FROM el GROUP BY 1),
       |dots AS (
       |  SELECT c.va, c.vb,
       |    SUM(CAST(round(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE), 9) AS DECIMAL(28,12))) dot
       |  FROM cand c JOIN el a ON a.vec_id = c.va JOIN el b ON b.vec_id = c.vb AND b.i = a.i
       |  GROUP BY 1, 2),
       |conf AS (
       |  SELECT va, vb,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) c
       |  FROM dots JOIN norms na ON na.vec_id = va JOIN norms nb ON nb.vec_id = vb),
       |losers AS (
       |  SELECT DISTINCT CASE WHEN ca.cent > cb.cent OR (ca.cent = cb.cent AND va < vb)
       |    THEN vb ELSE va END AS vec_id
       |  FROM conf JOIN cents ca ON ca.vec_id = va JOIN cents cb ON cb.vec_id = vb
       |  WHERE c >= 0.35)
       |SELECT l.vec_id, ct.bucket, floor(ct.cent * 1000000.0 + 0.5) / 1000000.0 AS centrality
       |FROM losers l JOIN cents ct ON ct.vec_id = l.vec_id
       |ORDER BY l.vec_id""".stripMargin

  // ---------------------------------------------------------------- q112
  // Embedding-space decontamination — the SEMANTIC complement of q104's
  // n-gram decontamination: hash-split the corpus 80/20 into train/eval,
  // then for every eval vector find its most-similar train vector and flag
  // it when exact cosine ≥ τ=0.35 (an eval item paraphrased in the training
  // set slips every n-gram check; embedding similarity catches it). Emits
  // (eval id, nearest train id, cosine) for flagged rows only — the
  // evidence table a leakage audit wants.
  //
  // Scale shape: the pairwise work rides an equi-join on a deterministic
  // cell column (the IVF vehicle) with the cell list broadcast — never a
  // cartesian; with exhaustive probing the result is provably independent
  // of the cell assignment, which is what makes the full value oracle
  // possible (q46's trick). At corpus scale the knob is probing fewer
  // cells (q22) or LSH candidates (q106) — same plan, bounded candidates.
  // Determinism: fast-double prefilter at τ−1e-6 can't drop a qualifying
  // pair; argmax compares exact-decimal-derived doubles with train_id
  // tiebreak.
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val nlist = 16
    val e = Fixtures.embeddings(s, dir)
    val bkt = conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val cell = conv(substring(md5(concat(lit("cell:"), col("vec_id").cast("string"))),
      1, 4), 16, 10).cast("int") % nlist
    val n2fast = graft.functions.VectorDot.dot(col("embedding"), col("embedding"))
    // widen before the interpreted decimal norms/pair dots (Engine.widen);
    // the probe side stays a broadcast, so the widened index partitioning
    // carries through the scoring join
    val tagged = graft.Engine.widen(e, col("vec_id"))
      .select(col("vec_id"), col("embedding"), bkt.as("bkt"))
    val index = tagged.filter(col("bkt") < 80)
      .select(col("vec_id").as("train_id"), col("embedding"), cell.as("cell"),
        n2fast.as("n2"), norm2Dec(col("embedding")).as("n2d"))
    val evals = tagged.filter(col("bkt") >= 80)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        n2fast.as("qn2"), norm2Dec(col("embedding")).as("qn2d"))
    val cells = index.select(col("cell")).distinct()
    val probes = evals.crossJoin(broadcast(cells)) // ≤ nlist-row broadcast
    val fastc = cosineFast(graft.functions.VectorDot.dot(col("embedding"), col("qe")),
      col("n2"), col("qn2"))
    val exact = cosineWithNorms(dotDec(col("embedding"), col("qe")),
      col("n2d"), col("qn2d"))
    index.join(probes, Seq("cell"))
      .filter(fastc >= 0.35 - 1e-6)
      .select(col("query_id"), col("train_id"), exact.as("c"))
      .filter(col("c") >= 0.35)
      .groupBy(col("query_id"))
      .agg(max_by(struct(col("train_id"), col("c")),
        struct(col("c"), (-col("train_id")).as("tie"))).as("w"))
      .select(col("query_id"), col("w.train_id").as("train_id"),
        graft.functions.Rounding.stable(col("w.c"), 4).as("cos_sim"))
      .orderBy(col("query_id"))
  }

  private val q112Sql =
    """WITH el AS (
      |  SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding, 1) i FROM embeddings),
      |sp AS (SELECT vec_id,
      |  ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bkt
      |  FROM embeddings),
      |norms AS (
      |  SELECT vec_id, SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9) AS DECIMAL(28,12))) n2
      |  FROM el GROUP BY 1),
      |dots AS (
      |  SELECT q.vec_id AS query_id, t.vec_id AS train_id,
      |    SUM(CAST(round(CAST(eq.x AS DOUBLE) * CAST(et.x AS DOUBLE), 9) AS DECIMAL(28,12))) dot
      |  FROM sp q JOIN sp t ON q.bkt >= 80 AND t.bkt < 80
      |  JOIN el eq ON eq.vec_id = q.vec_id
      |  JOIN el et ON et.vec_id = t.vec_id AND et.i = eq.i
      |  GROUP BY 1, 2),
      |conf AS (
      |  SELECT query_id, train_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nt.n2 AS DOUBLE))) c
      |  FROM dots JOIN norms nq ON nq.vec_id = query_id JOIN norms nt ON nt.vec_id = train_id),
      |ranked AS (
      |  SELECT query_id, train_id, c,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, train_id) rnk
      |  FROM conf WHERE c >= 0.35)
      |SELECT query_id, train_id, floor(c * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM ranked WHERE rnk = 1 ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------- q114
  // Hard-negative mining for contrastive training: for each query vector,
  // the top-5 most-similar vectors with a DIFFERENT label — the negatives
  // that sit closest to the decision boundary, which is what contrastive /
  // metric-learning batches want (random negatives are too easy to carry
  // gradient). Same exact-decimal scoring and plan shape as q21 (tiny query
  // set broadcast, corpus scanned once, per-query top-k as a bounded window
  // rank), with the label inequality applied before scoring so same-label
  // rows never reach the decimal fold. At corpus scale the brute scan
  // swaps for IVF/LSH candidates (q22/q106) exactly as q21 does.
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.embeddings(s, dir)
    val withNorm = e.repartition(e.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("vec_id"), col("label"), col("embedding"),
        norm2Dec(col("embedding")).as("n2"))
    val qs = withNorm.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qe"), col("n2").as("qn2"))
    val scored = withNorm.crossJoin(broadcast(qs))
      .filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineWithNorms(dotDec(col("embedding"), col("qe")), col("n2"), col("qn2")).as("c"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        graft.functions.Rounding.stable(col("c"), 4).as("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private val q114Sql =
    """WITH el AS (
      |  SELECT vec_id, unnest(embedding) x, generate_subscripts(embedding, 1) i FROM embeddings),
      |norms AS (
      |  SELECT vec_id, SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9) AS DECIMAL(28,12))) n2
      |  FROM el GROUP BY 1),
      |dots AS (
      |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
      |    SUM(CAST(round(CAST(c.x AS DOUBLE) * CAST(q.x AS DOUBLE), 9) AS DECIMAL(28,12))) dot
      |  FROM el c JOIN el q ON c.i = q.i AND q.vec_id < 10
      |  JOIN embeddings ec ON ec.vec_id = c.vec_id
      |  JOIN embeddings eq ON eq.vec_id = q.vec_id AND ec.label <> eq.label
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) c
      |  FROM dots JOIN norms nc ON nc.vec_id = neighbor_id JOIN norms nq ON nq.vec_id = query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, c,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) rnk
      |  FROM scored)
      |SELECT query_id, rnk, neighbor_id, floor(c * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q114_hard_negatives", q114, Some(q114Sql)),
    GraftQuery("q112_embedding_decontam", q112, Some(q112Sql)),
    GraftQuery("q110_semantic_dedup", q110, Some(q110Sql)),
    GraftQuery("q72_label_centroids", q72, Some(q72Sql)),
    GraftQuery("q62_embed_quantize", q62, Some(q62Sql)),
    GraftQuery("q15_cosine_topk", q15, Some(q15Sql)),
    GraftQuery("q21_ann_brute", q21, Some(q21Sql)),
    GraftQuery("q22_ann_ivf", q22, None),
    GraftQuery("q99_pq_topk", q99, None),
    GraftQuery("q100_ann_ivfpq", q100, None),
    GraftQuery("q46_ann_ivf_exhaustive", q46, Some(q21Sql)),
    GraftQuery("q47_lsh_buckets", q47, Some(q47Sql)),
    GraftQuery("q106_embed_dedup_lsh", q106, Some(q106Sql)))
}
