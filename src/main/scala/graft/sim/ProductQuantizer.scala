package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid, PAMI 2011) — the ANN
  * compression step past [[Similarity]]'s int8 path: the D-dim space
  * splits into `m` subspaces of D/m dims, each gets its own k-entry
  * codebook (deterministic Lloyd — [[KMeans]] on the slice), and a vector
  * stores as m SMALL INTS (m bytes at k ≤ 256) instead of D floats — 32×
  * compression at D=64/m=4/float32, and queries never touch raw vectors:
  * asymmetric distance (ADC) looks the query's precomputed per-subspace
  * distance table up by code and sums m terms.
  *
  * Scale shape: training state is m·k·(D/m) = k·D doubles — metadata, same
  * as any k-means; codes are the only corpus-sized artifact (m ints/row);
  * ADC ships the m×k LUT as literal arrays (broadcast-by-codegen, the
  * [[KMeans.assignExpr]] discipline) so a query is ONE scan of the code
  * table + TakeOrdered — no join, no shuffle, no raw-vector reads. This is
  * the memory-bound regime change that makes billion-vector ANN fit RAM.
  *
  * Determinism: init/assignment/means inherit [[KMeans]]'s no-RNG recipe
  * per subspace; every distance is the same index-order double fold the
  * q86 oracle replays, so codes and ADC scores are engine-reproducible.
  */
object ProductQuantizer {

  /** Per-subspace codebooks: `centroids(s)(j)` is subspace s's j-th
    * centroid (D/m doubles).
    */
  final case class Codebook(subDims: Int, centroids: Array[Array[Array[Double]]]) {
    def m: Int = centroids.length
    def k: Int = centroids(0).length
  }

  private def sliceCol(vecCol: String, s: Int, subDims: Int): Column =
    slice(col(vecCol), s * subDims + 1, subDims)

  /** Train m codebooks of k centroids each (`iters` Lloyd rounds per
    * subspace — deterministic: init = the k lowest-id vectors' slices).
    * `dims` must divide evenly into m subspaces.
    *
    * All m subspace trainings are FUSED into shared jobs: the per-subspace
    * Lloyd recipe ([[KMeans.fit]]'s init / assign / exact-mean update) is
    * unchanged value-for-value, but one collect fetches every subspace's
    * init slices and each round runs ONE internal-row scan that assigns
    * all m subspaces and partial-aggregates all m·k·(D/m) means (driver-
    * merged in partition order) — m·(iters+1) driver-side actions collapse
    * to iters+1 single-job rounds over a projection planned once, which on
    * a cached residual frame is the difference between the scheduler and
    * the math being the cost.
    */
  def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int,
      k: Int,
      iters: Int): Codebook = {
    require(m > 0 && dims % m == 0, s"dims=$dims not divisible into m=$m subspaces")
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val subDims = dims / m
    // init = the k lowest-id vectors' slices, all m subspaces in one job
    // (same slice expressions KMeans.fit would collect one subspace at a
    // time; float inputs arrive as Float and widen exactly like there)
    val initRows = df
      .orderBy(col(idCol))
      .limit(k)
      .select((0 until m).map(s => sliceCol(vecCol, s, subDims)): _*)
      .collect()
    require(initRows.nonEmpty, "corpus is empty")
    def widen(v: Any): Double = v match {
      case f: Float => f.toDouble
      case d: Double => d
      case other => throw new IllegalArgumentException(
        s"$vecCol must be array<float|double>, found element $other")
    }
    var cents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      initRows.map(_.getSeq[Any](s).map(widen).toArray)
    }
    if (iters > 0) {
      // Each Lloyd round is ONE job over the vector projection's internal
      // rows: per partition, every row's m assignments and its per-
      // (subspace, cluster, sub-dim) (sum, count) contributions accumulate
      // in row order, and the driver merges the bounded per-partition
      // partials (m·k·subDims doubles each) in partition order. This is
      // the partial aggregation the posexplode + groupBy pipeline ran,
      // minus its exchange and the per-round planning: the projection is
      // planned ONCE and each round is a single scheduler round-trip
      // (the Catalyst round paid 3-4 AQE stage jobs over kilobytes).
      // The arithmetic replicates the expression pipeline exactly:
      //  - assignment d_j = c_j·c_j − 2·Σᵢ xᵢ·c_jᵢ (index-order folds,
      //    floats widened — KMeans.assignExpr / DotProduct), strict <
      //    keeps the LOWEST centroid index on ties, exactly as `least`
      //    over (d, j) structs does;
      //  - a slice shorter than subDims has a NULL dot product, and the
      //    all-null struct compare assigned cluster 0 — replicated;
      //  - means are Σv / count(v) per (subspace, cluster, sub-dim) with
      //    values added in row order (Average's partial shape); a group
      //    with no rows keeps its previous centroid.
      val proj = df.select(col(vecCol))
      val isFloat = proj.schema.head.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => true
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => false
        case other => throw new IllegalArgumentException(
          s"$vecCol must be array<float|double>, got $other")
      }
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
    }
    Codebook(subDims, cents)
  }

  /** The code table: (id, code) with `code` an array of m centroid
    * indices — the stored ANN index, m small ints per vector.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, cb: Codebook): DataFrame = {
    val codes = (0 until cb.m).map(s =>
      KMeans.assignExpr(sliceCol(vecCol, s, cb.subDims), cb.centroids(s)))
    df.select(col(idCol), array(codes: _*).as("code"))
  }

  /** ADC top-k: the query's per-subspace distance tables (m×k doubles,
    * computed once driver-side with the same `c·c − 2·q·c` index-order
    * fold as assignment — the x·x term is constant per query and drops
    * out of the ranking) ship as literal arrays; each code row costs m
    * array lookups + a sum, and the result is a TakeOrdered over the
    * code scan. Returns (id, adc_score) for the `topK` nearest codes,
    * ties broken by id; `adc_score` is rounded to 6 dp.
    */
  def adcTopK(
      codes: DataFrame,
      idCol: String,
      cb: Codebook,
      query: Array[Double],
      topK: Int): DataFrame = {
    require(query.length == cb.m * cb.subDims,
      s"query has ${query.length} dims, codebook expects ${cb.m * cb.subDims}")
    require(topK > 0, s"topK=$topK must be positive")
    val luts = Array.tabulate(cb.m) { s =>
      val q = java.util.Arrays.copyOfRange(query, s * cb.subDims, (s + 1) * cb.subDims)
      cb.centroids(s).map { c =>
        var cc = 0.0
        var i = 0
        while (i < c.length) { cc += c(i) * c(i); i += 1 }
        var qc = 0.0
        i = 0
        while (i < c.length) { qc += q(i) * c(i); i += 1 }
        cc - 2.0 * qc
      }
    }
    val score = (0 until cb.m).map { s =>
      val lutLit = array(luts(s).map(lit).toSeq: _*)
      element_at(lutLit, col("code").getItem(s) + 1)
    }.reduce(_ + _)
    codes
      .select(col(idCol), round(score, 6).as("adc_score"))
      .orderBy(col("adc_score"), col(idCol))
      .limit(topK)
  }

  /** The DEPLOYED two-stage PQ query: [[adcTopK]] proposes `candidates`
    * ids from the code table alone, then an exact distance rerank over
    * JUST those raw vectors returns the true top-k of the candidate set
    * — the output-sized second stage that recovers the ranking ADC's
    * granularity can't express (a near-dup cluster shares one code; the
    * removed `graft.Stress` main, historical: 95% recall@10 at 400
    * candidates on a clustered 200k-vector corpus). The candidate set
    * broadcasts into the raw-vector scan, so
    * stage two is one semi-join + TakeOrdered; raw vectors load for the
    * candidates only. Scores are `x·x − 2·q·x` (the q·q constant drops
    * out of the ranking), rounded to 6 dp.
    */
  def adcRerankTopK(
      codes: DataFrame,
      raw: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Codebook,
      query: Array[Double],
      candidates: Int,
      topK: Int): DataFrame = {
    require(candidates >= topK, s"candidates=$candidates must be >= topK=$topK")
    val cand = adcTopK(codes, idCol, cb, query, candidates).select(idCol)
    val qLit = array(query.map(lit).toSeq: _*)
    val x = col(vecCol)
    val dot = graft.functions.VectorFunctions.dot _
    raw.join(broadcast(cand), Seq(idCol))
      .select(col(idCol),
        round(dot(x, x) - lit(2.0) * dot(x, qLit), 6).as("dist_score"))
      .orderBy(col("dist_score"), col(idCol))
      .limit(topK)
  }
}
