package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Deterministic Lloyd k-means over embedding columns — the trainer for the
  * IVF coarse quantizer ([[Similarity.ivfTopK]] takes any cluster column;
  * this produces one from raw vectors, making the ANN index end-to-end).
  *
  * Deterministic by construction (same result on any cluster/partitioning):
  * init = the k lowest-id vectors; assignment = squared-euclidean argmin
  * with ties to the lowest centroid index; update = exact element-wise
  * mean. No RNG anywhere.
  *
  * Scale shape: training runs one job per Lloyd round ([[lloyd]]): each
  * partition assigns its rows against the centroids (k·dim doubles,
  * metadata-sized, the same reason every distributed k-means collects
  * centroids to the driver) and returns per-cluster partial sums, which
  * the driver merges. [[assignExpr]] is the same assignment as pure
  * codegen'd expressions: dist_j = c_j·c_j − 2·x·c_j (the x·x term is
  * constant per row and drops out of the argmin), evaluated via the
  * native DotProduct, argmin via `least` over (dist, idx) structs.
  */
object KMeans {

  /** Column computing the assigned cluster index for `vecCol` given fixed
    * centroids.
    */
  def assignExpr(vecCol: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val scored = centroids.zipWithIndex.map { case (c, j) =>
      val cLit = array(c.map(lit).toSeq: _*)
      val cc = c.map(v => v * v).sum
      struct(
        (lit(cc) - lit(2.0) * graft.functions.VectorFunctions.dot(vecCol, cLit)).as("d"),
        lit(j).as("j"))
    }
    least(scored.toSeq: _*).getField("j")
  }

  /** `df` plus a `_cluster` column (int index into `centroids`). */
  def assign(df: DataFrame, vecCol: String, centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("_cluster", assignExpr(col(vecCol), centroids))

  /** Simplified silhouette per point — the linear-time cluster-quality
    * readout (Hruschka et al.'s "simplified silhouette"): with `a` the
    * distance to the point's OWN (nearest) centroid and `b` the distance
    * to the second-nearest, `sil = (b − a) / max(a, b)` ∈ [0, 1] here
    * (own centroid is the argmin, so b ≥ a); ≈0 means the point sits on a
    * cluster boundary. The full silhouette's pairwise within-cluster
    * means are O(n²/k) — this centroid form is the one that survives a
    * 100 TB corpus: one scan, centroids as literal arrays, everything
    * codegen'd.
    *
    * Determinism: distances are the full `x·x − 2·x·c + c·c` (all three
    * index-order double folds — engine-replayable, the q86 oracle
    * convention), fp-cancellation guarded by a max(·, 0) both engines
    * apply identically, argmin/2nd-min via one array_sort on (d², j)
    * structs (ties to the lower centroid index), and `sil` is rounded to
    * 6 dp (the q34 cosine convention). Both-zero distances (a point ON
    * two coincident centroids) emit 0, not NaN.
    *
    * @return input columns + (`cluster` int, `sil` double)
    */
  def simplifiedSilhouette(
      df: DataFrame,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length >= 2,
      s"silhouette needs >= 2 centroids, got ${centroids.length}")
    val x = col(vecCol)
    val xx = graft.functions.VectorFunctions.dot(x, x)
    val scored = centroids.zipWithIndex.map { case (c, j) =>
      val cLit = array(c.map(lit).toSeq: _*)
      val cc = c.map(v => v * v).sum
      struct(
        greatest(
          xx - lit(2.0) * graft.functions.VectorFunctions.dot(x, cLit) + lit(cc),
          lit(0.0)).as("d"),
        lit(j).as("j"))
    }
    val sorted = array_sort(array(scored.toSeq: _*))
    val a2 = sorted.getItem(0).getField("d")
    val b2 = sorted.getItem(1).getField("d")
    df.withColumn("cluster", sorted.getItem(0).getField("j"))
      .withColumn(
        "sil",
        when(greatest(sqrt(a2), sqrt(b2)) === 0.0, lit(0.0))
          .otherwise(
            round((sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)), 6)))
  }

  /** Lloyd iterations; returns the final centroid matrix. Clusters that end
    * an iteration empty keep their previous centroid. The init vectors set
    * the dimension: a shorter vector is assigned to centroid 0 (its dot
    * products are null, as in [[assignExpr]]) and adds the elements it has;
    * a longer one fails the fit.
    */
  def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): Array[Array[Double]] = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val init = lowestIdInit(df, idCol, vecCol, Seq(col(vecCol)), k)(0)
    val dims = init(0).length
    require(init.forall(_.length == dims),
      s"the $k lowest-id $vecCol vectors differ in length: ${init.map(_.length).distinct.mkString(", ")}")
    val v = col(vecCol)
    val checked = when(size(v) > dims,
      raise_error(lit(s"KMeans.fit: a $vecCol vector is longer than the $dims-element init vectors")))
      .otherwise(v)
    lloyd(df, checked, Array(init), dims, iters)(0)
  }

  /** The k lowest-id rows' `parts` (one array column each) in one job,
    * widened to doubles: `init(s)(j)` is part s of the j-th row.
    */
  private[sim] def lowestIdInit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      parts: Seq[Column],
      k: Int): Array[Array[Array[Double]]] = {
    val rows = df.orderBy(col(idCol)).limit(k).select(parts: _*).collect()
    require(rows.nonEmpty, "corpus is empty")
    def widen(v: Any): Double = v match {
      case f: Float => f.toDouble
      case d: Double => d
      case other => throw new IllegalArgumentException(
        s"$vecCol must be array<float|double>, found element $other")
    }
    Array.tabulate(parts.length)(s => rows.map(_.getSeq[Any](s).map(widen).toArray))
  }

  /** The one Lloyd round loop: `init(s)` holds subspace s's centroids,
    * and subspace s of a vector is its elements [s·subDims, (s+1)·subDims).
    * [[fit]] runs it with one subspace (the whole vector) and
    * [[ProductQuantizer.fit]] with m.
    *
    * Each round is ONE job over the vector projection's internal rows:
    * per partition, every row's m assignments and its per-(subspace,
    * cluster, sub-dim) (sum, count) contributions accumulate in row
    * order, and the driver merges the bounded per-partition partials
    * (m·k·subDims doubles each) in partition order. The projection is
    * planned once, so a round is a single scheduler round-trip. The
    * arithmetic is the expression pipeline's ([[assignExpr]], `avg`):
    *  - assignment d_j = c_j·c_j − 2·Σᵢ xᵢ·c_jᵢ (index-order folds,
    *    floats widened), strict < keeps the LOWEST centroid index on
    *    ties, exactly as `least` over (d, j) structs does;
    *  - a slice shorter than subDims has a NULL dot product, and the
    *    all-null struct compare assigns cluster 0;
    *  - means are Σv / count(v) per (subspace, cluster, sub-dim) with
    *    values added in row order; a group with no rows keeps its
    *    previous centroid.
    */
  private[sim] def lloyd(
      df: DataFrame,
      vec: Column,
      init: Array[Array[Array[Double]]],
      subDims: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    var cents = init
    if (iters == 0) return cents
    val proj = df.select(vec)
    val isFloat = proj.schema.head.dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"the vector column must be array<float|double>, got $other")
    }
    val (m, k) = (init.length, init(0).length)
    val rdd = graft.operators.Lineage.internalRdd(proj)
    for (_ <- 1 to iters) {
      val bc = cents
      val (mm, sd, kk, fl) = (m, subDims, k, isFloat)
      val partials = rdd.mapPartitions({ it =>
        val ccs = Array.tabulate(mm)(s => bc(s).map(c => c.map(v => v * v).sum))
        val sums = Array.ofDim[Double](mm, kk, sd)
        val cnts = Array.ofDim[Long](mm, kk, sd)
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            val a = r.getArray(0)
            val n = a.numElements()
            var s = 0
            while (s < mm) {
              val base = s * sd
              val lim = math.min(sd, n - base)
              if (lim > 0) {
                var bestJ = 0
                if (lim == sd) { // a short slice nulls the dot → cluster 0
                  var bestD = Double.MaxValue
                  var j = 0
                  while (j < kk) {
                    val c = bc(s)(j)
                    var dot = 0.0
                    var i = 0
                    while (i < sd) {
                      val x =
                        if (a.isNullAt(base + i)) 0.0
                        else if (fl) a.getFloat(base + i).toDouble
                        else a.getDouble(base + i)
                      dot += x * c(i)
                      i += 1
                    }
                    val d = ccs(s)(j) - 2.0 * dot
                    if (d < bestD) { bestD = d; bestJ = j }
                    j += 1
                  }
                }
                var i = 0
                while (i < lim) {
                  if (!a.isNullAt(base + i)) {
                    val x = if (fl) a.getFloat(base + i).toDouble
                            else a.getDouble(base + i)
                    sums(s)(bestJ)(i) += x
                    cnts(s)(bestJ)(i) += 1
                  }
                  i += 1
                }
              }
              s += 1
            }
          }
        }
        Iterator.single((sums, cnts))
      }, preservesPartitioning = true).collect()
      val sums = Array.ofDim[Double](m, k, subDims)
      val cnts = Array.ofDim[Long](m, k, subDims)
      for ((ps, pc) <- partials; s <- 0 until m; j <- 0 until k; i <- 0 until subDims) {
        sums(s)(j)(i) += ps(s)(j)(i)
        cnts(s)(j)(i) += pc(s)(j)(i)
      }
      cents = Array.tabulate(m) { s =>
        Array.tabulate(k) { j =>
          if (cnts(s)(j).forall(_ == 0L)) cents(s)(j)
          else Array.tabulate(subDims) { i =>
            if (cnts(s)(j)(i) == 0L) cents(s)(j)(i)
            else sums(s)(j)(i) / cnts(s)(j)(i)
          }
        }
      }
    }
    cents
  }
}
