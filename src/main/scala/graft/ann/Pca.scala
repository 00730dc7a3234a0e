package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Exact

/** PCA / whitening for embedding columns — the dimensionality-reduction
  * front end of the ANN and semantic-dedup stacks (SemDeDup and friends
  * reduce before clustering; a 64→8 projection cuts every downstream
  * distance computation 8× and decorrelates the axes the int8 quantizer
  * clips independently).
  *
  * Shape, and why it survives 100 TB:
  *   - the ONLY distributed pass is [[covariance]]: per-row
  *     upper-triangle outer products emitted by a Generate feeding a
  *     partial aggregate IN THE SAME STAGE, so the d²-per-row
  *     amplification never reaches the shuffle — what shuffles is
  *     d·(d+1)/2 partial sums per map partition (a few KB);
  *   - sums accumulate as decimal ([[Exact.decSum]]), so the model is
  *     bit-identical under any partitioning and the covariance query is
  *     hash-comparable cross-engine;
  *   - the eigensolve runs on the DRIVER over the collected d×d matrix
  *     (2 080 doubles at d = 64 — the same singleton-aggregate-collect
  *     posture as the k-means centroid fold in [[Ann.kmeansCells]]);
  *   - [[project]] is pure map-side expression work over broadcast
  *     literal arrays — no shuffle, whole-stage codegen.
  */
object Pca {

  /** Eigen-decomposition result: `mean(i)`, `components(k)(i)` (rows =
    * unit eigenvectors, descending eigenvalue), `eigenvalues(k)`.
    */
  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double]) {
    require(components.length == eigenvalues.length)
  }

  /** Exact population covariance of the embedding column, upper
    * triangle only: (i, j, cov) with 0 ≤ i ≤ j < dim. One combinable
    * shuffle of per-partition partial sums; decimal accumulation makes
    * the result order-independent.
    */
  def covariance(embeddings: DataFrame, dim: Int,
      embCol: String = "embedding"): DataFrame =
    covarianceWithMeans(embeddings, dim, embCol)
      .select(col("i"), col("j"), round(col("cov"), 9).as("cov"))

  /** Fit a PCA model: one covariance pass, then a driver-side cyclic
    * Jacobi eigensolve of the tiny d×d matrix. `k` top components are
    * kept (all of them by default).
    */
  def fit(embeddings: DataFrame, dim: Int, k: Int = -1,
      embCol: String = "embedding"): PcaModel = {
    val keep = if (k <= 0) dim else math.min(k, dim)
    // d(d+1)/2 + d rows of aggregates — a singleton-scale collect
    val rows = covarianceWithMeans(embeddings, dim, embCol).collect()
    val cov = Array.ofDim[Double](dim, dim)
    val mean = new Array[Double](dim)
    rows.foreach { r =>
      val i = r.getLong(0).toInt
      val j = r.getLong(1).toInt
      val c = r.getDouble(2)
      cov(i)(j) = c
      cov(j)(i) = c
      if (i == j) mean(i) = r.getDouble(3)
    }
    val (values, vectors) = jacobiEigen(cov)
    val order = values.indices.sortBy(i => -values(i)).take(keep)
    PcaModel(
      mean,
      order.map(o => vectors.map(_(o))).toArray,
      order.map(values).toArray)
  }

  /** [[covariance]] plus the per-dim mean on the diagonal rows
    * (i, j, cov, mean_i where i == j, else null).
    */
  private def covarianceWithMeans(embeddings: DataFrame, dim: Int,
      embCol: String): DataFrame = {
    // Physical shape, tuned by measurement at sf0.1 (5 000 × 64):
    //   - x must be a PROJECTED attribute before the pair lambdas touch
    //     it: a lambda capturing the transform(...) expression
    //     re-evaluates the whole 64-cast per pair element (the
    //     wordKgrams quadratic trap) — 25 s with the captured form;
    //   - the product stream is a FLAT DOUBLE array posexploded per
    //     row, never an array of (i, j, xi, xj) structs: the struct
    //     form allocates 2 080 objects per row and pays three
    //     double→decimal casts per pair instead of one — 13.3 s with
    //     structs vs 4.4 s flat;
    //   - (i, j) is recovered from the triangle offset arithmetically
    //     AFTER the aggregation (2 080 rows), so the hot path carries
    //     only (pos, xy); per-dim sums ride a separate d-per-row
    //     posexplode.
    // Both explodes feed partial aggregates in their own stage, so the
    // shuffle carries only per-partition partials at any corpus size.
    val withX = embeddings
      .select(transform(col(embCol), _.cast("double")).as("x"))
    // r10: the product stream is a native codegen kernel
    // (TriangleProductsExpression) — the previous
    // flatten(transform(sequence…)) nested-lambda form ran interpreted
    // (higher-order functions are CodegenFallback), costing ~2 080
    // lambda evaluations per row; the kernel emits the identical
    // products in the identical order (A/B + plan diff in
    // OPTIMIZATION_r10.md)
    val prods = graft.functions.VectorExpressions.triangleProducts(col("x"), dim)
    val sums = withX
      .select(posexplode(prods).as(Seq("pos", "xy")))
      .groupBy(col("pos"))
      .agg(Exact.decSum(col("xy")).as("sxy"), count(lit(1)).as("n"))
    val dims = withX
      .select(posexplode(col("x")).as(Seq("d", "xd")))
      .groupBy(col("d"))
      .agg(Exact.decSum(col("xd")).as("sx"))
    // pos = i·dim − i(i−1)/2 + (j − i): invert the outer index via the
    // triangle-number root, exact for any realistic dim (the +1e-9
    // guards the double sqrt at exact-square boundaries)
    val iCol = floor(
      (lit(2 * dim + 1) - sqrt(lit((2 * dim + 1).toDouble * (2 * dim + 1)) -
        lit(8.0) * col("pos"))) / 2 + lit(1e-9)).cast("long")
    val jCol = (col("pos") - (iCol * dim - iCol * (iCol - 1) / 2) + iCol).cast("long")
    sums
      .select(iCol.as("i"), jCol.as("j"), col("sxy"), col("n"))
      .join(broadcast(dims.select(col("d").cast("long").as("i"), col("sx").as("sxi"))), Seq("i"))
      .join(broadcast(dims.select(col("d").cast("long").as("j"), col("sx").as("sxj"))), Seq("j"))
      .select(col("i"), col("j"),
        (col("sxy") / col("n") -
          (col("sxi") / col("n")) * (col("sxj") / col("n"))).as("cov"),
        when(col("i") === col("j"), col("sxi") / col("n")).as("mean_i"))
  }

  /** Project (and optionally whiten) the embedding column onto the
    * model's components: `y_k = Σ_i (x_i − μ_i)·V_k_i [ / √λ_k ]`.
    * Pure map-side expression work over literal arrays — no shuffle.
    * Whitening divides by `max(√λ_k, eps)` so a zero-variance component
    * cannot produce infinities.
    */
  def project(df: DataFrame, model: PcaModel, whiten: Boolean = false,
      embCol: String = "embedding", outCol: String = "projected",
      eps: Double = 1e-9): DataFrame = {
    val mu = typedLit(model.mean.toSeq)
    val scale = model.eigenvalues.map(v => math.max(math.sqrt(math.max(v, 0.0)), eps))
    val comps = typedLit(
      model.components.zipWithIndex.map { case (c, ki) =>
        if (whiten) c.map(_ / scale(ki)).toSeq else c.toSeq
      }.toSeq)
    val x = transform(col(embCol), _.cast("double"))
    val centered = zip_with(x, mu, (a, b) => a - b)
    df.withColumn(outCol,
      transform(comps, ck =>
        aggregate(zip_with(centered, ck, (a, b) => a * b), lit(0.0), _ + _)))
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-columns). O(d³) per sweep; converges
    * in a handful of sweeps at d ≤ a few hundred — driver-side only,
    * never on data.
    */
  private[ann] def jacobiEigen(m: Array[Array[Double]],
      maxSweeps: Int = 100, tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offNorm(a)
    while (off > tol && sweep < maxSweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > tol / (d * d)) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // sign(0) must be +1: equal diagonal entries need the full
            // 45° rotation, not the identity
            val sgn = if (theta >= 0) 1.0 else -1.0
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offNorm(a)
      sweep += 1
    }
    require(off <= tol * 1e6,
      s"jacobiEigen did not converge: off-diagonal norm $off after $sweep sweeps")
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offNorm(a: Array[Array[Double]]): Double = {
    val d = a.length
    var s = 0.0
    var i = 0
    while (i < d) {
      var j = i + 1
      while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }
}
