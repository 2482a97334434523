package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** M2: geographically-weighted regression — per-point locally weighted least
  * squares, the declared capability of the reference's mgwr usage
  * (`src/codes/gwr_model.py:68-99`): for every prediction point, calibration
  * rows are weighted by a gaussian kernel over coordinate distance and a
  * small weighted least-squares system (intercept + k features) is solved.
  *
  * Distribution model: the calibration set is small (19k × 4 doubles in the
  * reference — broadcastable), prediction is row-parallel via
  * `mapPartitions` with the calibration broadcast. The per-point system is
  * (k+1)×(k+1) — solved directly with Gaussian elimination, no deps.
  *
  * M1 — the reference's bandwidth search (`Sel_BW(fixed=False,
  * kernel='gaussian').search()`, gwr_model.py:88-89) — is implemented as
  * declared: golden-section search over the ADAPTIVE bandwidth (the
  * nearest-neighbor count k that sets each point's local kernel radius),
  * minimizing the corrected Akaike criterion AICc
  * (`bandwidthAdaptiveAicc`); the AICc form is the standard GWR one
  * (Fotheringham, Brunsdon & Charlton 2002, eq. 2.33). The fixed-kernel
  * grid search (`bandwidthByAicGrid`) is kept for the fixed-bandwidth
  * variant. Both searches are driver-side over the CAPPED calibration
  * sample — the same boundary as the fit itself, exactly where the
  * reference runs Sel_BW (on its collected calibration frame).
  */
object GWR {

  /** One calibration observation: coords, feature vector, target. */
  final case class Obs(px: Double, py: Double, f: Array[Double], y: Double)

  /** Solve A x = b for small dense symmetric A (Gaussian elim, partial pivot). */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val m = Array.tabulate(n)(i => a(i) :+ b(i))
    var col = 0
    while (col < n) {
      var piv = col
      var i = col + 1
      while (i < n) { if (math.abs(m(i)(col)) > math.abs(m(piv)(col))) piv = i; i += 1 }
      val tmp = m(col); m(col) = m(piv); m(piv) = tmp
      val d = m(col)(col)
      if (math.abs(d) < 1e-12) m(col)(col) = 1e-12
      i = 0
      while (i < n) {
        if (i != col && m(i)(col) != 0.0) {
          val factor = m(i)(col) / m(col)(col)
          var j = col
          while (j <= n) { m(i)(j) -= factor * m(col)(j); j += 1 }
        }
        i += 1
      }
      col += 1
    }
    Array.tabulate(n)(i => m(i)(n) / m(i)(i))
  }

  /** Weighted least squares at one point: gaussian kernel weights over
    * coordinate distance, design matrix [1, f…]. Returns coefficient vector
    * b (length k+1); prediction = b · [1, f*]. */
  def fitAt(px: Double, py: Double, calib: Array[Obs], bandwidth: Double): Array[Double] = {
    val k = calib(0).f.length + 1
    val xtx = Array.ofDim[Double](k, k)
    val xty = new Array[Double](k)
    val invBw2 = 1.0 / (bandwidth * bandwidth)
    var c = 0
    while (c < calib.length) {
      val o = calib(c)
      val dx = o.px - px
      val dy = o.py - py
      val w = math.exp(-0.5 * (dx * dx + dy * dy) * invBw2)
      if (w > 1e-12) {
        val row = new Array[Double](k)
        row(0) = 1.0
        var j = 1
        while (j < k) { row(j) = o.f(j - 1); j += 1 }
        var i = 0
        while (i < k) {
          val wi = w * row(i)
          var j2 = 0
          while (j2 < k) { xtx(i)(j2) += wi * row(j2); j2 += 1 }
          xty(i) += wi * o.y
          i += 1
        }
      }
      c += 1
    }
    solve(xtx, xty)
  }

  /** The per-coordinate fit as a Spark step: one `fitAt` per distinct row of
    * `coords` (two double columns, x then y) against the broadcast
    * calibration set. Returns the coordinate columns under their own names
    * plus coefficients `b0`…`bk`.
    *
    * The distinct set is repartitioned round-robin to the cluster's default
    * parallelism before the fit. The coordinate frame is small in bytes, so
    * AQE would coalesce its shuffle into one partition and the fit would
    * run on one core; but every fit costs the same O(|calib|), so equal row
    * counts per partition are equal work, and AQE leaves an explicit
    * repartition alone. Each fit depends only on its coordinate, so the
    * result does not depend on the partitioning. */
  def coefficients(coords: DataFrame, calib: Array[Obs], bandwidth: Double): DataFrame = {
    val spark = coords.sparkSession
    import spark.implicits._
    val Array(xc, yc) = coords.columns
    val bcast = spark.sparkContext.broadcast(calib)
    val fitted = coords.distinct()
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Double, Double)]
      .mapPartitions { it =>
        val c = bcast.value
        it.map { case (x, y) => (x, y, fitAt(x, y, c, bandwidth)) }
      }.toDF(xc, yc, "b")
    val k = calib(0).f.length
    fitted.select(col(xc) +: col(yc) +: (0 to k).map(j => col("b")(j).as(s"b$j")): _*)
  }

  /** Predict the target at (px, py) with features f*. */
  def predictAt(px: Double, py: Double, f: Array[Double],
                calib: Array[Obs], bandwidth: Double): Double = {
    val b = fitAt(px, py, calib, bandwidth)
    var s = b(0)
    var j = 0
    while (j < f.length) { s += b(j + 1) * f(j); j += 1 }
    s
  }

  /** M1 (simplified): pick the bandwidth minimizing leave-one-out weighted
    * residual error over a candidate grid — driver-side, calls fitAt like
    * the reference's Sel_BW search calls GWR repeatedly. */
  def bandwidthByAicGrid(calib: Array[Obs], candidates: Seq[Double]): Double =
    candidates.minBy { bw =>
      var sse = 0.0
      var i = 0
      while (i < calib.length) {
        val o = calib(i)
        val others = calib.patch(i, Nil, 1)
        val pred = predictAt(o.px, o.py, o.f, others, bw)
        val e = pred - o.y
        sse += e * e
        i += 1
      }
      sse
    }

  /** Adaptive gaussian bandwidth at (px, py): the distance to the k-th
    * nearest calibration point (self included, 1-indexed), with mgwr's
    * tiny multiplicative guard so the k-th neighbor itself keeps a
    * nonzero weight. */
  def adaptiveBandwidth(px: Double, py: Double, calib: Array[Obs], k: Int): Double = {
    val d2 = new Array[Double](calib.length)
    var i = 0
    while (i < calib.length) {
      val dx = calib(i).px - px
      val dy = calib(i).py - py
      d2(i) = dx * dx + dy * dy
      i += 1
    }
    java.util.Arrays.sort(d2)
    math.sqrt(d2(math.min(k, d2.length) - 1)) * 1.0000001
  }

  /** One local WLS fit at calibration point `i` with the adaptive kernel,
    * returning (fitted value ŷᵢ, hat-matrix diagonal sᵢᵢ). sᵢᵢ is the
    * leverage wᵢᵢ·xᵢᵀ(XᵀWX)⁻¹xᵢ with wᵢᵢ = 1 (own-point distance 0), the
    * quantity AICc's tr(S) sums. */
  private def fitWithLeverage(i: Int, calib: Array[Obs], nn: Int): (Double, Double) = {
    val o = calib(i)
    val bw = adaptiveBandwidth(o.px, o.py, calib, nn)
    val k = o.f.length + 1
    val xtx = Array.ofDim[Double](k, k)
    val xty = new Array[Double](k)
    val invBw2 = 1.0 / (bw * bw)
    var c = 0
    while (c < calib.length) {
      val p = calib(c)
      val dx = p.px - o.px
      val dy = p.py - o.py
      val w = math.exp(-0.5 * (dx * dx + dy * dy) * invBw2)
      if (w > 1e-12) {
        val row = new Array[Double](k)
        row(0) = 1.0
        var j = 1
        while (j < k) { row(j) = p.f(j - 1); j += 1 }
        var a = 0
        while (a < k) {
          val wa = w * row(a)
          var b = 0
          while (b < k) { xtx(a)(b) += wa * row(b); b += 1 }
          xty(a) += wa * p.y
          a += 1
        }
      }
      c += 1
    }
    val xi = new Array[Double](k)
    xi(0) = 1.0
    var j = 1
    while (j < k) { xi(j) = o.f(j - 1); j += 1 }
    val beta = solve(xtx, xty)
    val z = solve(xtx, xi) // (XᵀWX)⁻¹ xᵢ for the leverage
    var yhat = 0.0
    var sii = 0.0
    j = 0
    while (j < k) { yhat += beta(j) * xi(j); sii += xi(j) * z(j); j += 1 }
    (yhat, sii)
  }

  /** Corrected AIC of the adaptive-kernel GWR with `nn` nearest neighbors:
    * AICc = n·ln(RSS/n) + n·ln(2π) + n·(n + tr(S)) / (n − 2 − tr(S)). */
  def aiccAdaptive(calib: Array[Obs], nn: Int): Double = {
    val n = calib.length
    var rss = 0.0
    var trS = 0.0
    var i = 0
    while (i < n) {
      val (yhat, sii) = fitWithLeverage(i, calib, nn)
      val e = calib(i).y - yhat
      rss += e * e
      trS += sii
      i += 1
    }
    val denom = n - 2.0 - trS
    if (denom <= 0.0) Double.PositiveInfinity // saturated fit — reject
    else n * math.log(rss / n) + n * math.log(2.0 * math.Pi) + n * (n + trS) / denom
  }

  /** M1 as declared: golden-section search over the integer NN count,
    * minimizing AICc — mgwr's Sel_BW(fixed=False, kernel='gaussian')
    * shape, including its default lower bound of 40 + 2·(#params) and
    * integer rounding of the probe points. Unimodality of AICc in k is
    * assumed, as in mgwr; evaluations are memoized. */
  def bandwidthAdaptiveAicc(calib: Array[Obs], kMin: Int = 0, kMax: Int = 0): Int = {
    val nParams = calib(0).f.length + 1
    val n = calib.length
    val lo0 = if (kMin > 0) kMin else math.min(40 + 2 * nParams, n)
    val hi0 = if (kMax > 0) kMax else n
    require(lo0 <= hi0, s"bandwidth search range empty: [$lo0, $hi0]")
    val memo = collection.mutable.Map[Int, Double]()
    def f(k: Int): Double = memo.getOrElseUpdate(k, aiccAdaptive(calib, k))
    val delta = 0.38197 // 1 - 1/φ
    var a = lo0.toDouble
    var c = hi0.toDouble
    var b = a + delta * (c - a)
    var d = c - delta * (c - a)
    var best = math.round(b).toInt
    var it = 0
    while (math.round(b) != math.round(d) && it < 200) {
      val (fb, fd) = (f(math.round(b).toInt), f(math.round(d).toInt))
      if (fb <= fd) { c = d; d = b; b = a + delta * (c - a); best = math.round(d).toInt }
      else { a = b; b = d; d = c - delta * (c - a); best = math.round(b).toInt }
      it += 1
    }
    val probe = math.round(b).toInt
    // endpoints can win when the minimum sits on the range boundary
    Seq(lo0, probe, best, hi0).distinct.minBy(f)
  }

  /** P6: the biomass formula (`gwr_model.py:105`). */
  def biomass(pred: Double): Double = (6480.2 * pred - 958.6) / 1000.0
}
