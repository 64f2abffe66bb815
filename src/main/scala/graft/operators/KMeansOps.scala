package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.functions.vec_cosine

/** Spherical k-means over a float-vector column, built entirely from
  * DataFrame ops + the native cosine expression — the "trained centroids"
  * upgrade over modulo-pivot IVF.
  *
  * Scale design:
  *   - assignment is a broadcast crossJoin against k centroids (k rows!) —
  *     one map-side pass over the corpus per iteration, no shuffle of
  *     vectors; the only shuffle is the (cluster, pos, component) partial-sum
  *     aggregation for the update step;
  *   - centroids are collected to the driver between iterations (k×dim
  *     floats — tiny) and re-broadcast, so the logical plan stays flat
  *     instead of growing per iteration;
  *   - determinism: seeded init (vec_id % k), fixed iteration count,
  *     decimal-sum centroid accumulation (partition-order independent),
  *     cosine ties broken by cluster id.
  */
object KMeansOps {

  /** Returns (assignments: id, cluster, sim; centroids: cluster, c_vec). */
  def sphericalKMeans(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession

    // the working set is scanned once per iteration for assignment and once
    // for the update — materialize it
    val data = df.select(col(idCol), col(vecCol)).persist()

    // Assignment against DRIVER-SIDE centroids: one narrow map-side
    // projection per iteration — no crossJoin, no window shuffle. Ties:
    // max sim, then lowest cluster id (= max of (sim, -cluster)). Up to
    // a few hundred centroids they ride as literal structs; past
    // LiteralPivotMax (√-scaled nlist at big corpora — 5e8 vectors want
    // ~16k clusters) the same blowup the query path dodges would hit
    // TRAINING, so dense cluster ids switch to the reference-object
    // nearest_pivots kernel (bit-identical sims — same cosine
    // accumulation order).
    def assignTo(cents: Seq[(Int, Seq[Float])]): DataFrame = {
      val sorted = cents.sortBy(_._1)
      val dense = sorted.zipWithIndex.forall { case ((c, _), i) => c == i }
      if (dense && sorted.length > graft.queries.SimilarityQueries.LiteralPivotMax) {
        import org.apache.spark.sql.graft.functions.nearest_pivots
        val flat = sorted.flatMap(_._2).toArray
        val dim = sorted.head._2.length
        data
          .withColumn("best", element_at(nearest_pivots(col(vecCol), flat, dim, 1), 1))
          .select(col(idCol), col(vecCol),
            col("best.pivot").as("cluster"), col("best.sim").as("sim"))
      } else {
        val scored = array(sorted.map { case (c, v) =>
          struct(
            vec_cosine(col(vecCol), typedLit(v)).as("sim"),
            lit(-c).as("negc"))
        }: _*)
        data
          .withColumn("best", array_max(scored))
          .select(col(idCol), col(vecCol),
            (-col("best.negc")).as("cluster"), col("best.sim").as("sim"))
      }
    }

    // deterministic init: centroid c = the lowest-id vector with id % k == c
    // — min_by is a partial-aggregated reduction (k rows per map task reach
    // the exchange), unlike a row_number window which would shuffle every
    // vector into k partitions and sort them
    var centroids: Seq[(Int, Seq[Float])] = graft.queries.QueryDsl.boundedCollect(
      data
        .select((col(idCol) % k).cast("int").as("cluster"), col(idCol), col(vecCol).as("c_vec"))
        .groupBy("cluster")
        .agg(min_by(col("c_vec"), col(idCol)).as("c_vec")),
      k, "kmeans init centroids (grouped by id % k)")
      .toSeq.map(r => r.getInt(0) -> r.getSeq[Float](1))
    // degenerate input (empty or fully-filtered working set) must fail
    // loudly HERE — the update loop below reads centroids.head for the
    // dimension bound and would otherwise throw an opaque
    // NoSuchElementException (r12 advice)
    require(centroids.nonEmpty, "kmeans: no input rows to seed centroids")

    for (_ <- 0 until iters) {
      // update: ONE partial-aggregated shuffle per iteration on
      // (cluster, pos); the k×dim per-dimension mean rows are tiny, so the
      // centroid arrays are assembled driver-side instead of paying a
      // second exchange for collect_list
      // EXACT fixed-point accumulation: comp·2^24 is a power-of-two
      // scaling (no rounding in IEEE), floor is exact, the long sums are
      // exact and order-free, and the final sum/(n·2^24) is ONE correctly
      // rounded double division + ONE double→float rounding — every step
      // replays bit-for-bit in any engine. (The previous decimal(27,10)
      // cast was engine-dependent: Spark rounds the exact expansion
      // HALF_UP, DuckDB converts in FLOAT arithmetic — losing 3 digits.)
      // Flooring each element at 2^-24 biases a mean down by at most
      // 2^-24 ≈ 6e-8 absolute — finer than float ULP for components in
      // [0.5, 2) and noise relative to the data scale everywhere, so the
      // clustering itself is unaffected.
      centroids = graft.queries.QueryDsl.boundedCollect(
        assignTo(centroids)
          .select(col("cluster"), posexplode(col(vecCol)))
          .groupBy("cluster", "pos")
          .agg(sum(floor(col("col").cast("double") * (1L << 24)).cast("long")).as("s"),
            count(lit(1)).as("n")),
        k.toLong * centroids.head._2.length, "kmeans update (k x dim partial sums)")
        .toSeq
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1))
            .map(r => (r.getLong(2).toDouble / (r.getLong(3).toDouble * (1L << 24))).toFloat)
            .toSeq
        }.toSeq
    }
    // training is done (centroids are plain driver-side literals from here
    // on); release the cached working set so repeated trainings in one
    // session don't pin corpus copies in the block manager
    data.unpersist()
    val centDf = spark.createDataFrame(
      spark.sparkContext.parallelize(centroids.map { case (c, v) => Row(c, v) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cluster", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("c_vec",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType), nullable = false))))
    (assignTo(centroids).drop(vecCol), centDf)
  }
}
